"""Custom data sources (paginated REST CDC source, Kafka wrappers)."""


def _register_python_source(spark, source, modules) -> bool:
    """Register the Python DataSource ``source`` on ``spark`` once per
    session; True on the call that registered it.

    Python workers of a session this package did not build (the round
    driver, a notebook, spark-submit without --py-files) cannot import
    the package, and the streaming source runner never can. So
    ``modules``, every package module the source's worker-side code
    reaches, are pickled by value, through PySpark's own cloudpickle
    (the standalone package keeps a separate registry). That precedes
    ``spark.dataSource.register``, which pickles the class. The JVM
    checks the name against the ACTIVE session's sources, so ``spark``
    is made active for the call: a ``spark.newSession()`` registers too.
    Repeat calls skip the JVM call, whose re-registration logs a
    'replaced a previously registered data source' warning."""
    registered = spark.__dict__.setdefault("_mkkc_data_sources", set())
    if source.name() in registered:
        return False
    from pyspark import cloudpickle

    for module in modules:
        cloudpickle.register_pickle_by_value(module)
    jvm = spark._jvm.SparkSession
    active = jvm.getActiveSession()
    jvm.setActiveSession(spark._jsparkSession)
    try:
        spark.dataSource.register(source)
    finally:
        if active.isDefined():
            jvm.setActiveSession(active.get())
        else:
            jvm.clearActiveSession()
    registered.add(source.name())
    return True
