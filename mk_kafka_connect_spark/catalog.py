"""Table catalog: load the test star schema and register temp views.

The reference's "catalog" is its entity list (customer / invoice / payment /
subscription, ``ChargeOverSourceConnectorConfig.java:79-83``); here the
catalog is the driver-provided TPC-H-ish star schema plus the LLM-pipeline
tables (``/root/repo/TESTDATA.md``).

At 100 TB these would be partitioned/bucketed external tables; the loader
keeps the access path identical (named DataFrames + SQL views) so query
code never touches paths directly.
"""

from __future__ import annotations

import os
import stat

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

__all__ = [
    "TABLES",
    "load_table",
    "load_tables",
    "register_views",
    "default_sf_dir",
    "probe_events_ts",
]

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def default_sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Nanosecond epochs for plausible event years (~1973..~2286). A µs epoch for
# 2024 is ~1.7e15 and a ms epoch ~1.7e12 — three/six orders of magnitude below
# this band — so a raw-int64 ts whose values fall outside it must NOT be
# divided as nanos (the silent-wrong-answer class the r5 fixture change hit:
# µs epochs divided as nanos collapse into 1970).
_NS_EPOCH_RANGE = (10**17, 10**19)


def _assert_nanos_magnitude(pf: pq.ParquetFile, path: str) -> None:
    """Validate that a raw-int64 ts column really holds nanosecond epochs.

    Uses parquet footer row-group statistics (driver-side, no Spark job);
    falls back to decoding one record batch if the writer omitted stats.
    """
    idx = pf.schema_arrow.get_field_index("ts")
    samples: list[int] = []
    for rg in range(pf.metadata.num_row_groups):
        st = pf.metadata.row_group(rg).column(idx).statistics
        if st is not None and st.has_min_max:
            samples += [int(st.min), int(st.max)]
    if not samples:
        batch = next(pf.iter_batches(batch_size=1024, columns=["ts"]), None)
        if batch is not None:
            samples = [int(v) for v in batch.column(0).to_pylist() if v is not None]
    lo, hi = _NS_EPOCH_RANGE
    bad = [s for s in samples if not lo <= s < hi]
    if bad or not samples:
        raise TypeError(
            f"events.ts at {path} is raw int64 but its values "
            f"(e.g. {bad[:2] if bad else 'none readable'}) are not nanosecond "
            "epochs (~1.7e18 for 2024; micros would be ~1.7e15, millis "
            "~1.7e12) — refusing to guess the unit. Extend "
            "catalog.probe_events_ts for the new fixture format."
        )


def probe_events_ts(path: str) -> str:
    """Classify the events fixture's on-disk ts type from the parquet
    footer alone (pyarrow, no Spark job): ``"nanos"`` (TIMESTAMP(NANOS)
    or magnitude-validated raw int64 nanos), ``"us_utc"`` or
    ``"us_naive"`` (µs timestamps with/without isAdjustedToUTC).

    The fixture's physical type has changed across driver revisions
    (TIMESTAMP(NANOS) through r4, naive timestamp[us] since r5 —
    FIXTURES.md §1a), so both batch (`load_table`) and streaming
    (`streaming.windows.read_events_stream`) loaders branch on this probe
    instead of assuming a format.
    """
    probe_path = path
    if os.path.isdir(path):
        # Spark writes datasets as part-file directories; every part shares
        # one schema, so footer-probing the first part is sufficient.
        parts = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
        if not parts:
            raise FileNotFoundError(f"no parquet part files under {path}")
        probe_path = parts[0]
    pf = pq.ParquetFile(probe_path)
    arrow_ts = pf.schema_arrow.field("ts").type
    if pa.types.is_int64(arrow_ts):
        _assert_nanos_magnitude(pf, path)
        return "nanos"
    if pa.types.is_timestamp(arrow_ts) and arrow_ts.unit == "ns":
        return "nanos"
    if pa.types.is_timestamp(arrow_ts) and arrow_ts.unit == "us":
        return "us_utc" if arrow_ts.tz else "us_naive"
    raise TypeError(
        f"events.ts has unexpected parquet type {arrow_ts}; fixture format "
        "changed again — extend catalog.probe_events_ts."
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar parquet scan — Catalyst prunes columns and pushes filters
    into the scan (check ``PushedFilters``/``ReadSchema`` in .explain).

    ``events.ts`` has changed physical type across fixture revisions
    (TIMESTAMP(NANOS), then plain ``timestamp[us]``), so the loader adapts
    to the dtype Spark actually reads instead of assuming one; every
    variant normalizes to a session-UTC TimestampType so downstream plans
    and the DuckDB oracle (naive µs timestamps) see identical instants.
    """
    # Defensive: the caller's session may not have been built by
    # session.get_spark (e.g. the round driver's own session). Timestamp
    # semantics MUST be UTC for oracle parity (SURVEY.md §7 risk register),
    # and both confs are runtime-settable.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        if probe_events_ts(path) == "nanos":
            # Without this the vectorized reader rejects TIMESTAMP(NANOS)
            # outright. Probe-gated (footer says nanos, magnitude-checked
            # for raw int64) so the conf never leaks onto a session whose
            # fixtures aren't nanos — a later unrelated parquet read of a
            # nanos column should fail loudly, not silently yield longs.
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_parquet(spark, path)
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            # TIMESTAMP(NANOS) read as a nanos-epoch long. Integer division
            # keeps full precision (ns epoch ~1.7e18 exceeds double's 2^53
            # mantissa — a float division here would corrupt ts).
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        if isinstance(ts_type, TimestampNTZType):
            # Naive µs timestamps (isAdjustedToUTC=false). Session tz is
            # UTC, so this cast relabels the same instant.
            return df.withColumn("ts", F.col("ts").cast("timestamp"))
        if isinstance(ts_type, TimestampType):
            return df
        raise TypeError(
            f"events.ts has unexpected type {ts_type}; fixture format changed "
            "again — extend catalog.load_table's type adaptation."
        )
    return _read_parquet(spark, path)


# Session confs that change the schema Spark infers from parquet footers.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)


def _file_identity(path: str) -> tuple:
    """``(st_ino, st_mtime_ns, st_size)`` of ``path``, plus that of every
    file under it when it is a dataset directory. Raises OSError for a
    path the local file system cannot stat."""
    st = os.stat(path)
    ident = [(st.st_ino, st.st_mtime_ns, st.st_size)]
    if stat.S_ISDIR(st.st_mode):
        for root, dirs, files in os.walk(path):
            dirs.sort()
            for f in sorted(files):
                fst = os.stat(os.path.join(root, f))
                ident.append((f, fst.st_ino, fst.st_mtime_ns, fst.st_size))
    return tuple(ident)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that runs Spark's schema-inference job
    (``mergeSchemasInParallel``, ~0.1 s even for one file) only on the
    first read of a file in a session. The inferred schema is kept per
    session and path, stamped with the file identity and the inference
    confs; a later read with the same stamp passes it to
    ``spark.read.schema``. Only the schema is cached: every call returns a
    fresh relation with fresh attribute ids, so two loads of one table
    can still be joined with each other."""
    try:
        ident = _file_identity(path)
    except OSError:  # not a local path: let Spark list and infer
        return spark.read.parquet(path)
    stamp = (ident, tuple(spark.conf.get(k) for k in _INFERENCE_CONFS))
    schemas = spark.__dict__.setdefault("_mkkc_parquet_schemas", {})
    cached = schemas.get(path)
    if cached is not None and cached[0] == stamp:
        return spark.read.schema(cached[1]).parquet(path)
    df = spark.read.parquet(path)
    schemas[path] = (stamp, df.schema)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view so the SQL surface and the
    DataFrame surface see the same catalog."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
