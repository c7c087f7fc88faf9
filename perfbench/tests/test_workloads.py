"""Determinism of the benchmark's generated inputs (no Spark needed)."""

from perfbench import cdc, datagen


def test_change_log_is_seeded():
    a, b, c = cdc.change_log(7), cdc.change_log(7), cdc.change_log(8)
    assert a == b
    assert a != c
    assert set(a) == set(cdc.ENTITIES)


def test_change_log_fits_its_windows():
    log = cdc.change_log(3)
    ids = [r["id"] for rows in log.values() for r in rows]
    assert len(ids) == len(set(ids))
    lo = cdc.T0.strftime(cdc.FMT)
    hi = (cdc.T0 + cdc.PERIODS * cdc.PERIOD).strftime(cdc.FMT)
    for rows in log.values():
        assert rows == sorted(rows, key=lambda r: (r["mod_datetime"], r["id"]))
        assert all(lo <= r["mod_datetime"] < hi for r in rows)


def test_tables_are_seeded():
    from mk_kafka_connect_spark.catalog import TABLES

    a = datagen.build_tables(0.001, 42)
    b = datagen.build_tables(0.001, 42)
    assert set(a) == set(TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(datagen.build_tables(0.001, 43)["lineitem"])


def test_listed_queries_have_oracles():
    from mk_kafka_connect_spark.plans import QUERIES
    from perfbench.queries import HEAVY, SHORT

    assert not set(SHORT) & set(HEAVY)
    for name in (*SHORT, *HEAVY):
        assert QUERIES[name].oracle, name
