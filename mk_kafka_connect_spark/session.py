"""SparkSession factory for the engine.

Mirrors the reference's config surface where it exists (timezone pinning:
``ChargeOverSourceConnectorConfig.java:64-68`` defaults the connector to a
fixed timezone so datetime-string comparison is stable) and otherwise
applies the settings a 100 TB deployment wants from day one: AQE (runtime
re-planning, skew-join splitting, partition coalescing), Arrow for the
Python boundary, and shuffle parallelism sized to the cluster rather than
the 200-partition default.

On a real cluster the same builder is used — only ``master`` and the
memory/instance settings change; all query-level code in this package is
master-agnostic.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "DEFAULT_CONFIG"]

# Settings that matter at 100 TB, applied unconditionally:
#  - AQE re-plans at runtime from real shuffle statistics (join strategy
#    switching, skew-join splitting, post-shuffle partition coalescing).
#  - UTC session timezone pins timestamp semantics so results are
#    byte-identical across engines/clusters (reference pins a tz the same
#    way for its datetime-string comparisons).
#  - Arrow makes every Pandas-UDF / toPandas boundary a columnar batch
#    transfer instead of per-row pickling.
DEFAULT_CONFIG: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Broadcast anything under 64 MB: every dimension table in scope
    # (region/nation/customer/supplier/part at dimension scale) should hash
    # join without a shuffle of the fact side.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Parquet scans: vectorized reader + aggressive pushdown are defaults,
    # but maxPartitionBytes governs scan-task granularity at scale.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.shuffle.partitions": os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"
    ),
    # localCheckpoint blocks (the engine's single-derivation shape for
    # shared subtrees) are reclaimed by the ContextCleaner only after a
    # JVM GC enqueues their weak references — and a large mostly-idle
    # heap can go tens of minutes without one, so a long-lived session
    # running many queries accumulates dead checkpoint blocks until
    # storage pressure throttles everything (observed r18: a 231-query
    # bench session degraded 4x mid-run). Default 30min; 1min bounds the
    # garbage to about a query's worth. Same reasoning for any
    # long-running production driver with checkpoint-heavy queries.
    "spark.cleaner.periodicGC.interval": "1min",
    "spark.ui.enabled": "false",
}


def get_spark(
    app_name: str = "mk_kafka_connect_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a
    cluster, leave it unset and let spark-submit provide it.

    Python DataSource / UDF workers are separate processes that must
    import this package. Locally its parent directory goes on
    ``spark.executorEnv.PYTHONPATH`` (merged with any caller value), so it
    reaches the workers even when an earlier session in this process
    started the JVM, and into ``os.environ`` for a JVM started here; the
    executor workers start from ``worker_daemon``. On a cluster, ship the
    package with --py-files.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    os.environ["PYTHONPATH"] = _with_path(pkg_parent, os.environ.get("PYTHONPATH", ""))
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    conf = dict(DEFAULT_CONFIG)
    local = master.startswith("local")
    if local:
        # Single-JVM mode: the driver is the only executor; give it room.
        conf.setdefault("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        conf["spark.python.daemon.module"] = "mk_kafka_connect_spark.worker_daemon"
    if extra_conf:
        conf.update(extra_conf)
    if local:
        key = "spark.executorEnv.PYTHONPATH"
        conf[key] = _with_path(pkg_parent, conf.get(key, ""))
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _with_path(entry: str, path: str) -> str:
    """``path`` (an ``os.pathsep`` list) with ``entry`` first unless present."""
    if entry in path.split(os.pathsep):
        return path
    return f"{entry}{os.pathsep}{path}" if path else entry


def ship_package(spark: SparkSession) -> None:
    """Make this package importable inside Spark's Python WORKER
    processes regardless of how the session was built.

    The Python DataSource readers/writers are module-level classes, so
    workers unpickle them BY REFERENCE and must import
    ``mk_kafka_connect_spark`` themselves. ``get_spark`` covers that by
    putting the package on the workers' PYTHONPATH — but an externally
    created session (the round driver, a notebook, spark-submit without
    --py-files) has no such guarantee, and the failure is a deep
    worker-side ModuleNotFoundError. This zips the package once per
    SparkContext and ships it with ``addPyFile`` (workers prepend
    shipped archives to sys.path) — the same mechanism --py-files uses,
    done lazily and idempotently. Call it before registering any Python
    DataSource; a few-hundred-KB zip, built once per context and
    deleted when the interpreter exits.
    """
    sc = spark.sparkContext
    if getattr(sc, "_mkkc_pkg_shipped", False):
        return
    import atexit
    import shutil
    import tempfile

    pkg_root = os.path.dirname(os.path.abspath(__file__))
    parent = os.path.dirname(pkg_root)
    zip_dir = tempfile.mkdtemp(prefix="mkkc_pyfiles_")
    # Removed at interpreter exit, not after addPyFile: on a cluster the
    # driver's file server keeps serving this path to new executors.
    atexit.register(shutil.rmtree, zip_dir, ignore_errors=True)
    base = os.path.join(zip_dir, "mk_kafka_connect_spark_pkg")
    zip_path = shutil.make_archive(
        base, "zip", root_dir=parent, base_dir="mk_kafka_connect_spark"
    )
    sc.addPyFile(zip_path)
    sc._mkkc_pkg_shipped = True
