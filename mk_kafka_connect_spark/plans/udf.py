"""UDF surface (SURVEY.md §2.B B14): the Python extension mechanisms —
row UDF, vectorized pandas_udf, iterator-of-series pandas_udf
(SCALAR_ITER), grouped applyInPandas, a pandas grouped-aggregate UDF,
Python UDTFs (fixed, TABLE-argument PTF, and analyze-time dynamic
schema), a raw-Arrow mapInArrow batch iterator, an arrow_udf scalar,
and a grouped applyInArrow — each oracle-checked. The
reference's entire UDF story is one SMT (``StringCast.java``); the engine
exposes the general machinery with the performance ranking made explicit:
built-ins ≫ pandas_udf ≫ row UDF.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf, udtf

from ..catalog import load_table
from .materialize import local_relation
from .registry import query


@query(
    "udf_row_python",
    oracle="""
    SELECT o_orderkey,
      CASE WHEN o_totalprice >= 300000 THEN 'high'
           WHEN o_totalprice >= 100000 THEN 'mid'
           ELSE 'low' END AS bucket
    FROM orders WHERE o_orderkey < 3000
    """,
    tags=("udf", "B14"),
)
def udf_row_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF — the slow path (per-row serde), kept in
    the surface for parity; anything hot belongs in built-ins/pandas_udf."""

    @F.udf(T.StringType())
    def bucket(price: float) -> str:
        if price >= 300000:
            return "high"
        if price >= 100000:
            return "mid"
        return "low"

    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 3000)
    return o.select("o_orderkey", bucket("o_totalprice").alias("bucket"))


@query(
    "udf_pandas_vectorized",
    oracle="""
    SELECT o_orderkey,
      round(o_totalprice * 0.075 + least(o_totalprice, 100000) * 0.01, 2) AS fee
    FROM orders WHERE o_orderkey < 3000
    """,
    tags=("udf", "B14", "pandas"),
)
def udf_pandas_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized scalar pandas_udf (~10-100× the row UDF): the
    whole batch computes as numpy ops. Arithmetic mirrors the oracle
    expression order so doubles are bit-identical."""

    @pandas_udf(T.DoubleType())
    def fee(price: pd.Series) -> pd.Series:
        import numpy as np

        raw = price * 0.075 + price.clip(upper=100000.0) * 0.01
        # Half-away-from-zero to match SQL round(): pandas .round() is
        # banker's (half-to-even) and differs by a cent on .5 boundaries.
        return np.floor(raw * 100 + 0.5) / 100

    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 3000)
    return o.select("o_orderkey", fee("o_totalprice").alias("fee"))


@query(
    "udf_grouped_apply",
    oracle="""
    SELECT user_id, event_id, value,
      CAST(rank() OVER (PARTITION BY user_id ORDER BY value DESC, event_id)
           AS BIGINT) AS value_rank
    FROM events WHERE user_id < 30
    """,
    tags=("udf", "B14", "applyInPandas"),
)
def udf_grouped_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas: whole group in, whole group out — the
    UDTF-ish shape for per-entity model scoring / imputation. Ranking
    computed with pandas mirrors the SQL window exactly (deterministic
    tie-break on event_id)."""

    def rank_group(pdf: pd.DataFrame) -> pd.DataFrame:
        # The SQL ordering (value DESC, event_id) is unique, so rank() ==
        # position; no tie handling needed.
        pdf = pdf.sort_values(["value", "event_id"], ascending=[False, True])
        pdf["value_rank"] = range(1, len(pdf) + 1)
        return pdf

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 30)
        .select("user_id", "event_id", "value")
    )
    return ev.groupBy("user_id").applyInPandas(
        rank_group, schema="user_id long, event_id long, value double, value_rank long"
    )


@query(
    "udf_pandas_grouped_agg",
    oracle="""
    SELECT c_mktsegment,
      CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
      count(*) AS n_orders,
      CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
        / count(*) / 100 AS avg_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
    tags=("udf", "B14", "pandas", "agg"),
)
def udf_pandas_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas GROUPED-AGGREGATE UDF (Series → scalar inside .agg()) — the
    fifth Python extension mechanism: custom aggregation logic with Arrow
    batch transfer, usable alongside built-in aggregates in one groupBy.
    Unlike applyInPandas it produces one row per group directly, so it
    slots into the same partial-agg-shaped plan as built-ins (the group's
    rows do ship to Python — no map-side combine — which is why built-ins
    still win when they can express the logic; this surface is for when
    they can't). Determinism: the UDF sums exact integer cents (int64 —
    associative, order-independent), so the result is bit-stable under
    any partitioning; the mean is derived outside as one IEEE division
    mirroring the oracle's expression order."""

    @pandas_udf(T.LongType())
    def sum_cents_udf(cents: pd.Series) -> int:
        return int(cents.sum())

    # Spark refuses to mix grouped-agg pandas UDFs with JVM aggregates in
    # one .agg() (INVALID_PANDAS_UDF_PLACEMENT), so the count is a second
    # pandas aggregate over the same Arrow batch.
    @pandas_udf(T.LongType())
    def count_udf(cents: pd.Series) -> int:
        return len(cents)

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    base = o.join(c, o.o_custkey == c.c_custkey).select(
        "c_mktsegment",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("_cents"),
    )
    return (
        base.groupBy("c_mktsegment")
        .agg(
            sum_cents_udf("_cents").alias("sum_cents"),
            count_udf("_cents").alias("n_orders"),
        )
        .select(
            "c_mktsegment",
            "sum_cents",
            "n_orders",
            (F.col("sum_cents").cast("double") / F.col("n_orders") / 100).alias(
                "avg_price"
            ),
        )
    )


@query(
    "udf_python_udtf",
    oracle="""
    SELECT doc_id, unnest(string_split(text, ' ')) AS token
    FROM documents WHERE doc_id < 50
    """,
    tags=("udf", "B14", "udtf"),
)
def udf_python_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-4 Python UDTF: one input row → many output rows (tokenizer
    shape). Lateral-joined against the documents relation."""

    @udtf(returnType="token: string")
    class Tokenize:
        def eval(self, text: str):
            for tok in text.split(" "):
                yield (tok,)

    spark.udtf.register("tokenize_udtf", Tokenize)
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    d.createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        "SELECT doc_id, t.token FROM _udtf_docs, "
        "LATERAL tokenize_udtf(text) AS t"
    )


@query(
    "udf_arrow_batches",
    oracle="""
    SELECT vec_id, label,
      CAST(len(embedding) AS INT) AS dim,
      CAST(round(sqrt(list_sum(list_transform(embedding,
            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS DOUBLE)
        AS l2_norm
    FROM embeddings WHERE vec_id < 500
    """,
    tags=("udf", "B14", "arrow", "mapInArrow"),
)
def udf_arrow_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` — the raw-Arrow batch-iterator surface of the B14
    matrix (row UDF / pandas_udf / applyInPandas / grouped agg / UDTF /
    mapInArrow / grouped applyInArrow): the kernel receives raw
    ``pyarrow.RecordBatch``es with NO pandas conversion on either side —
    the lowest-overhead Python hook Spark has, the right one for
    columnar-native work (multimodal payload decode, tensor reshaping)
    where even the pandas materialization would double memory. The
    kernel computes each embedding's dimensionality and L2 norm with
    numpy over zero-copy Arrow buffers, batch in → batch out.

    Determinism: the norm is rounded to 1e-6 AFTER a float64
    accumulation ordered by the list's own positions — position order is
    identical in both engines, so the sum is bit-identical; DuckDB
    replays it as list_transform/list_sum.

    Scale: embarrassingly parallel over Arrow batches, zero shuffle; the
    filter prunes at the parquet scan beneath the Python stage."""
    import numpy as np
    import pyarrow as pa

    def kernel(batches):
        for batch in batches:
            vec_id = batch.column("vec_id")
            label = batch.column("label")
            emb = batch.column("embedding")
            flat = np.asarray(emb.values, dtype=np.float64)
            offsets = np.asarray(emb.offsets, dtype=np.int64)
            dims = (offsets[1:] - offsets[:-1]).astype(np.int32)
            # reduceat hazards: an empty segment (equal consecutive
            # offsets) returns a[start] instead of 0, and a sliced
            # ListArray's .values can extend past offsets[-1] (inflating
            # the LAST segment, which reduceat sums to end-of-array).
            # Truncate the tail, clamp starts in-bounds, zero the empties.
            sqflat = (flat * flat)[: offsets[-1]]
            if sqflat.size:
                starts = np.minimum(offsets[:-1], sqflat.size - 1)
                sq = np.add.reduceat(sqflat, starts)
                sq[dims == 0] = 0.0
            else:
                sq = np.zeros(dims.shape, dtype=np.float64)
            norms = np.round(np.sqrt(sq), 6)
            yield pa.RecordBatch.from_arrays(
                [
                    vec_id,
                    label,
                    pa.array(dims, type=pa.int32()),
                    pa.array(norms, type=pa.float64()),
                ],
                names=["vec_id", "label", "dim", "l2_norm"],
            )

    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    return e.mapInArrow(
        kernel, "vec_id long, label int, dim int, l2_norm double"
    )


@query(
    "pipeline_observe_metrics",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_input,
      CAST(sum(CASE WHEN o_totalprice > 100000.0 THEN 1 ELSE 0 END)
           AS BIGINT) AS n_kept,
      CAST(round(sum(CASE WHEN o_totalprice > 100000.0
                 THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 2)
           AS DOUBLE) AS kept_revenue
    FROM orders
    """,
    tags=("pipeline", "B14", "observability", "metrics"),
)
def pipeline_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``observe()`` — Spark's zero-cost pipeline instrumentation: named
    aggregate metrics accumulate ON the running job itself (map-side,
    piggybacked on the pass the query already makes) instead of a
    second counting pass — how a production ingest reports rows-in /
    rows-kept / value-shipped without doubling its I/O, batch or
    streaming (the streaming form surfaces per-epoch via
    QueryProgressEvent). The pipeline observes its input relation,
    filters, and the observation's metrics come back through the
    Observation handle after the action; the query returns them as the
    1-row audit record a pipeline would emit.

    Exactness: counts integer; revenue via exact decimal sum.

    Scale: the metric aggregation is a map-side accumulator merge —
    zero extra scan, zero shuffle beyond the job's own."""
    from pyspark.sql import Observation

    from ..functions.exact import dec2

    o = load_table(spark, sf_dir, "orders")
    obs = Observation("ingest_audit")
    observed = o.observe(
        obs,
        F.count(F.lit(1)).alias("n_input"),
        F.sum(
            F.when(F.col("o_totalprice") > 100000.0, 1).otherwise(0)
        ).alias("n_kept"),
        F.round(
            F.sum(
                F.when(
                    F.col("o_totalprice") > 100000.0,
                    dec2("o_totalprice"),
                )
            ),
            2,
        )
        .cast("double")
        .alias("kept_revenue"),
    )
    # The action that drives the pipeline (a production job's write);
    # metrics materialize as its side product.
    observed.filter(F.col("o_totalprice") > 100000.0).write.format(
        "noop"
    ).mode("overwrite").save()
    m = obs.get
    return local_relation(
        spark,
        [(m["n_input"], m["n_kept"], m["kept_revenue"])],
        "n_input long, n_kept long, kept_revenue double",
    )


@query(
    "udf_grouped_apply_arrow",
    oracle="""
    WITH q AS (
      SELECT label, vec_id,
        list_sum(list_transform(embedding,
          x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)))
          AS row_q,
        len(embedding) AS dim
      FROM embeddings)
    SELECT label,
      CAST(count(*) AS BIGINT) AS n_vecs,
      CAST(min(dim) AS INT) AS dim,
      CAST(sum(row_q) AS BIGINT) AS sum_q,
      CAST(sum(row_q) AS DOUBLE) / (count(*) * min(dim) * 1000000)
        AS mean_component
    FROM q GROUP BY label
    """,
    tags=("udf", "B14", "arrow", "applyInArrow"),
)
def udf_grouped_apply_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``groupBy().applyInArrow`` — the grouped Arrow surface (the
    seventh and last Python extension mechanism, pairing with
    ``mapInArrow`` exactly as ``applyInPandas`` pairs with
    ``mapInPandas``): each label's vectors arrive as one
    ``pyarrow.Table``, zero pandas conversion, the natural hook for
    per-group tensor work (per-class statistics, per-group model fits)
    over embedding columns.

    The kernel folds every component of every vector in the group into
    an exact integer total (1e-6 quantization BEFORE summing, so the
    accumulation order Spark chooses cannot move a bit) plus the group's
    cardinality and width; the one division back to a mean is a shared
    single expression. DuckDB replays the same quantized fold with
    list_transform/list_sum.

    Scale: one hash shuffle on the group key, then embarrassingly
    parallel Arrow kernels; group state is O(1)."""
    import numpy as np
    import pyarrow as pa

    def kernel(table: "pa.Table") -> "pa.Table":
        emb = table.column("embedding").combine_chunks()
        flat = np.asarray(emb.values, dtype=np.float64)
        # Half-AWAY-from-zero (what DuckDB round() does on doubles) —
        # plain floor(x+0.5) would round negative halves the other way.
        q = (np.sign(flat) * np.floor(np.abs(flat) * 1_000_000 + 0.5)).astype(
            np.int64
        )
        offsets = np.asarray(emb.offsets)
        dims = offsets[1:] - offsets[:-1]
        n = len(dims)
        dim = int(dims.min()) if n else 0
        sum_q = int(q.sum())
        mean_component = sum_q / (n * dim * 1_000_000)
        return pa.table(
            {
                "label": [table.column("label")[0].as_py()],
                "n_vecs": [n],
                "dim": [dim],
                "sum_q": [sum_q],
                "mean_component": [mean_component],
            },
            schema=pa.schema(
                [
                    ("label", pa.int32()),
                    ("n_vecs", pa.int64()),
                    ("dim", pa.int32()),
                    ("sum_q", pa.int64()),
                    ("mean_component", pa.float64()),
                ]
            ),
        )

    e = load_table(spark, sf_dir, "embeddings")
    return e.groupBy("label").applyInArrow(
        kernel,
        "label int, n_vecs long, dim int, sum_q long, mean_component double",
    )


@query(
    "udf_arrow_scalar",
    oracle="""
    SELECT l_orderkey, l_linenumber,
      CAST(qty AS DOUBLE) * 2.5 AS scaled_qty,
      (qty * qty + 7) % 97 AS hashed_qty
    FROM (
      SELECT l_orderkey, l_linenumber,
        CAST(round(CAST(l_quantity AS DECIMAL(18,2)), 0) AS BIGINT) AS qty
      FROM lineitem WHERE l_orderkey < 2000)
    """,
    tags=("udf", "B14", "arrow-udf"),
)
def udf_arrow_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``arrow_udf`` — Spark 4.1's Arrow-NATIVE scalar UDF, the eighth
    and newest Python extension mechanism (after row UDF, pandas_udf,
    grouped agg, applyInPandas, UDTF, mapInArrow, applyInArrow): the
    kernel receives ``pyarrow.Array`` batches directly — no
    pandas materialization at all, so the Python boundary cost drops to
    Arrow buffer handoff plus the compute kernel (pyarrow.compute runs
    vectorized C++). Arithmetic here is exact by construction: integer
    quantities (JVM-side decimal round BEFORE the UDF — quantization
    stays engine-side where it is codegen'd), an integer polynomial mod
    in Arrow int64, and one exact double scale (qty·2.5 ≤ 125 — exactly
    representable). The oracle replays both in SQL, pinning that the
    Arrow path neither reorders nor rounds.

    Scale shape: pushed key filter, then a map-only Arrow stage —
    embarrassingly parallel, batch-sized Python overhead."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.functions import arrow_udf

    # NOTE: this module has `from __future__ import annotations`, which
    # stringifies type hints — but arrow_udf's kind detection needs REAL
    # pa.Array objects in __annotations__, so they are set explicitly.
    def _scale(v):
        return pc.multiply(pc.cast(v, pa.float64()), 2.5)

    def _polymod(v):
        sq = pc.add(pc.multiply(v, v), 7)
        # pyarrow has no modulo kernel; exact int identity a % m = a - a//m*m
        return pc.subtract(sq, pc.multiply(pc.divide(sq, 97), 97))

    _scale.__annotations__ = {"v": pa.Array, "return": pa.Array}
    _polymod.__annotations__ = {"v": pa.Array, "return": pa.Array}
    a_scale = arrow_udf(_scale, "double")
    a_polymod = arrow_udf(_polymod, "long")

    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < 2000)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round(F.col("l_quantity").cast("decimal(18,2)"), 0)
            .cast("long")
            .alias("qty"),
        )
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        a_scale("qty").alias("scaled_qty"),
        a_polymod("qty").alias("hashed_qty"),
    )


@query(
    "udf_udtf_table_arg",
    oracle="""
    WITH seq AS (
      SELECT event_type, event_id, ts,
        lag(ts) OVER (PARTITION BY event_type ORDER BY ts, event_id)
          AS prev_ts,
        row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id)
          AS rn,
        count(*) OVER (PARTITION BY event_type) AS n
      FROM events WHERE event_id < 3000)
    SELECT event_type,
      CAST(max(n) AS BIGINT) AS n_events,
      CAST(max(CASE WHEN rn = 1 THEN event_id END) AS BIGINT) AS first_id,
      CAST(max(CASE WHEN rn = n THEN event_id END) AS BIGINT) AS last_id,
      CAST(max(CAST(floor(extract(epoch FROM ts))
                    - floor(extract(epoch FROM prev_ts)) AS BIGINT))
           AS BIGINT) AS max_gap_s
    FROM seq GROUP BY event_type
    """,
    tags=("udf", "B14", "udtf", "table-argument"),
)
def udf_udtf_table_arg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polymorphic table function — a Python UDTF invoked with a TABLE
    argument plus ``PARTITION BY ... ORDER BY ...`` (Spark 4's
    SQL:2016 PTF surface, the SQL-native sibling of
    ``applyInPandasWithState``): the engine feeds each event-type
    partition to its own UDTF instance IN timestamp order, and the
    Python class runs a genuinely sequential scan (first/last ids, max
    inter-event gap — state a scalar SQL expression cannot carry) and
    emits one summary row per partition from ``terminate()``. The
    oracle replays the sequential logic with lag/row_number windows —
    equality proves the engine delivered every partition complete and
    ordered, the PTF contract.

    Scale shape: one shuffle on the PARTITION BY key (exactly a
    groupBy), per-partition Python iteration. Partition count bounds
    parallelism — a PTF partitioned on a 5-value key is a 5-task
    stage; production keys should be high-cardinality."""
    from pyspark.sql.functions import udtf

    @udtf(returnType=(
        "event_type string, n_events bigint, first_id bigint,"
        " last_id bigint, max_gap_s bigint"
    ))
    class PartitionProfile:
        def __init__(self):
            self.k = None
            self.n = 0
            self.first = None
            self.last = None
            self.prev_epoch = None
            self.max_gap = None

        def eval(self, row):
            self.k = row["event_type"]
            self.n += 1
            if self.first is None:
                self.first = row["event_id"]
            self.last = row["event_id"]
            epoch = int(row["ts"].timestamp())
            if self.prev_epoch is not None:
                gap = epoch - self.prev_epoch
                if self.max_gap is None or gap > self.max_gap:
                    self.max_gap = gap
            self.prev_epoch = epoch

        def terminate(self):
            if self.n:
                yield self.k, self.n, self.first, self.last, self.max_gap

    spark.udtf.register("partition_profile", PartitionProfile)
    load_table(spark, sf_dir, "events").filter(
        F.col("event_id") < 3000
    ).createOrReplaceTempView("_ptf_events")
    return spark.sql("""
      SELECT * FROM partition_profile(
        TABLE(_ptf_events) PARTITION BY event_type ORDER BY (ts, event_id)
      )
    """)


@query(
    "udf_udtf_dynamic_schema",
    # The oracle replays the chunk-boundary arithmetic ((i*L)//n via
    # integer division) per chunk index; codepoint-based substring and
    # ascii() agree across engines.
    oracle="""
    WITH d AS (
      SELECT doc_id, text, length(text) AS L
      FROM documents WHERE doc_id < 2000 AND length(text) >= 3),
    c AS (
      SELECT doc_id, i AS chunk_idx,
        substring(text, (i * L) // 3 + 1,
                  ((i + 1) * L) // 3 - (i * L) // 3) AS chunk
      FROM d, (SELECT unnest([0, 1, 2]) AS i))
    SELECT chunk_idx,
      CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(length(chunk)) AS BIGINT) AS total_chars,
      CAST(sum(ascii(chunk)) AS BIGINT) AS first_cp_sum
    FROM c GROUP BY 1
    """,
    tags=("udf", "B14", "udtf", "dynamic-schema"),
)
def udf_udtf_dynamic_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF with an ``analyze()``-derived OUTPUT SCHEMA (Spark 4's
    polymorphic-output surface — the schema is computed at plan time
    from the call's constant argument, not declared in a returnType):
    ``split_fixed(text, n)`` yields one row of n chunk columns, so
    ``split_fixed(text, 3)`` plans as (chunk_0, chunk_1, chunk_2) while
    the SAME class called with another n would plan a different relation
    — the mechanism behind schema-bearing generators like dynamic pivot
    or per-config feature expansion. Applied as a LATERAL correlated
    call over the documents table, then unpivoted and aggregated per
    chunk position. The oracle replays the integer chunk arithmetic —
    equality proves analyze-time schema, eval-time values, and the
    lateral correlation all line up.

    Scale shape: one Python-worker pass over the rows (Arrow-batched),
    no shuffle until the final 3-group rollup; n is plan-constant so the
    schema never varies at runtime."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import StringType, StructType

    @udtf
    class SplitFixed:
        @staticmethod
        def analyze(text, n):
            from pyspark.sql.udtf import AnalyzeResult

            schema = StructType()
            for i in range(n.value):
                schema = schema.add(f"chunk_{i}", StringType())
            return AnalyzeResult(schema=schema)

        def eval(self, text, n):
            L = len(text)
            bounds = [i * L // n for i in range(n + 1)]
            yield tuple(text[bounds[i]: bounds[i + 1]] for i in range(n))

    spark.udtf.register("split_fixed", SplitFixed)
    load_table(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 2000) & (F.length("text") >= 3)
    ).select("doc_id", "text").createOrReplaceTempView("_chunk_docs")
    return spark.sql(
        """
        WITH chunks AS (
          SELECT s.chunk_0, s.chunk_1, s.chunk_2
          FROM _chunk_docs d, LATERAL split_fixed(d.text, 3) s),
        unpiv AS (
          SELECT stack(3, 0, chunk_0, 1, chunk_1, 2, chunk_2)
                 AS (chunk_idx, chunk)
          FROM chunks)
        SELECT chunk_idx, count(*) AS n_docs,
               sum(length(chunk)) AS total_chars,
               sum(ascii(chunk)) AS first_cp_sum
        FROM unpiv GROUP BY 1
        """
    )


@query(
    "udf_pandas_iter_scalar",
    # The oracle replays the lookup as a CASE expression; cent
    # quantization before the decimal sum keeps totals order-independent.
    oracle="""
    SELECT event_type,
      CAST(count(*) AS BIGINT) AS n,
      CAST(round(sum(CAST(round(value *
        CASE event_type
          WHEN 'view' THEN 0.25 WHEN 'click' THEN 0.5
          WHEN 'signup' THEN 2.0 WHEN 'purchase' THEN 4.0
          ELSE 1.0 END, 2) AS DECIMAL(18,2))), 2) AS DOUBLE)
        AS weighted_total
    FROM events WHERE event_id < 5000
    GROUP BY 1
    """,
    tags=("udf", "B14", "pandas", "scalar-iter"),
)
def udf_pandas_iter_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterator-of-series pandas UDF (SCALAR_ITER) — the
    load-state-once-per-worker surface: the function body runs ONCE per
    Python worker, builds its expensive state (here a weight table;
    in production a tokenizer or an ONNX session) BEFORE the loop, then
    streams Arrow batches through it — the only scalar-UDF shape whose
    amortized initialization survives a million-batch 100 TB scan
    (`@pandas_udf` per-batch closures re-enter the function for every
    batch; this one pays setup once per task). The kernel mirrors the
    oracle's CASE lookup exactly; a cent quantization before the
    decimal sum keeps the rollup order-independent.

    Scale shape: one codegen'd scan feeding Arrow batches to Python,
    group-sized aggregate after; parallelism = input partitions."""
    @pandas_udf(T.DoubleType())
    def weighted(
        batches: Iterator[Tuple[pd.Series, pd.Series]],
    ) -> Iterator[pd.Series]:
        import numpy as np

        # once-per-worker "model load"
        weights = {"view": 0.25, "click": 0.5, "signup": 2.0, "purchase": 4.0}
        for etype, value in batches:
            w = etype.map(weights).fillna(1.0)
            raw = value * w
            # half-away-from-zero, matching SQL round(): sign-split so
            # negative inputs round -0.125 -> -0.13, not the -0.12 that
            # plain floor(x*100+0.5) (half-UP) would give (ADVICE r16;
            # latent while event values are nonnegative, but the kernel
            # should not depend on that)
            yield np.sign(raw) * np.floor(np.abs(raw) * 100 + 0.5) / 100

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 5000)
    from ..functions.exact import dec2, dsum

    return (
        ev.select("event_type", weighted("event_type", "value").alias("wv"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            dsum(dec2("wv")).alias("weighted_total"),
        )
    )
