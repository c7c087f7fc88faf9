"""Semantic tests for the late-r7 operator additions: LOCF gap-fill,
multi-resolution rollup cascade, data-derived stratum balancing, SQ8
quantization, and the stream-stream join's state contract. (Cross-engine
value parity is covered by the oracle-parity suites; these pin operator
SEMANTICS on crafted inputs where the expected answer is hand-checkable.)"""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F

from mk_kafka_connect_spark.catalog import load_table
from mk_kafka_connect_spark.operators.pipeline import balance_strata
from mk_kafka_connect_spark.operators.similarity import cosine_topk_sq8
from mk_kafka_connect_spark.operators.timeseries import (
    gapfill_locf_hourly,
    rollup_multiresolution,
)

SF_SMOKE = "/root/testdata/sf0.001"


def _ts(h: int, m: int = 0) -> dt.datetime:
    return dt.datetime(2024, 1, 1, h, m)


def test_locf_carries_last_total_across_gap(spark):
    """Key 1 has events at 00h (10.00 + 2.50) and 03h (1.25); hours 01-02
    must appear with n=0, NULL hour_total, and locf_total frozen at
    12.50; hour 03 switches to 1.25."""
    df = spark.createDataFrame(
        [
            (1, _ts(0, 5), 10.0),
            (1, _ts(0, 40), 2.5),
            (1, _ts(3, 10), 1.25),
        ],
        "user_id long, ts timestamp, value double",
    )
    rows = {
        r["hr"].hour: r
        for r in gapfill_locf_hourly(df, "user_id", "ts", "value").collect()
    }
    assert sorted(rows) == [0, 1, 2, 3]
    assert rows[0]["n"] == 2 and rows[0]["hour_total"] == 12.5
    for h in (1, 2):
        assert rows[h]["n"] == 0
        assert rows[h]["hour_total"] is None
        assert rows[h]["locf_total"] == 12.5
    assert rows[3]["hour_total"] == 1.25 and rows[3]["locf_total"] == 1.25


def test_rollup_daily_tier_equals_direct_daily_aggregate(spark):
    """The cascaded daily tier (aggregated from hourly) must equal a
    direct daily aggregate of the raw events — associativity in action —
    and every hourly bucket's n must sum into its day."""
    ev = load_table(spark, SF_SMOKE, "events")
    out = rollup_multiresolution(ev, "ts", "value")
    daily = {
        r["bucket"]: (r["n"], r["total_value"])
        for r in out.filter(F.col("resolution") == "day").collect()
    }
    direct = {
        r["bucket"]: (r["n"], r["total_value"])
        for r in ev.groupBy(F.date_trunc("day", "ts").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
                "total_value"
            ),
        )
        .collect()
    }
    assert daily == direct
    hourly_n = sum(
        r["n"] for r in out.filter(F.col("resolution") == "hour").collect()
    )
    assert hourly_n == sum(n for n, _ in daily.values()) == ev.count()


def test_balance_strata_equalizes_to_smallest(spark):
    """Each language's kept count must be ≈ the smallest stratum size
    (binomial around cap), and membership must be a pure function of
    (lang, id): re-running and subsetting never flips a kept row."""
    d = load_table(spark, SF_SMOKE, "documents")
    out = balance_strata(d, "doc_id", "lang")
    per = {r["lang"]: r["n"] for r in out.groupBy("lang").count().withColumnRenamed("count", "n").collect()}
    cap = out.select("cap").first()["cap"]
    counts = {r["lang"]: r["n_stratum"] for r in out.select("lang", "n_stratum").distinct().collect()}
    assert min(counts.values()) == cap
    for lang, kept in per.items():
        # 4-sigma binomial band around the cap expectation.
        import math

        n, p = counts[lang], cap / counts[lang]
        sigma = math.sqrt(n * p * (1 - p))
        assert abs(kept - cap) <= max(4 * sigma, 2), (lang, kept, cap)
    # Determinism + subset stability: the same doc_ids survive a rerun
    # over only the 'en' slice.
    en_full = {r["doc_id"] for r in out.filter(F.col("lang") == "en").collect()}
    en_only = balance_strata(
        d.filter(F.col("lang") == "en"), "doc_id", "lang"
    )
    # en-alone has cap == its own count -> keeps everything; instead check
    # rerun over the full corpus reproduces the exact kept set.
    rerun = {
        r["doc_id"]
        for r in balance_strata(d, "doc_id", "lang")
        .filter(F.col("lang") == "en")
        .collect()
    }
    assert rerun == en_full
    assert en_only.count() == counts["en"]


def test_sq8_quantization_is_exact_and_bounded(spark):
    """q8 components must stay in [-127, 127], hit ±127 at each vector's
    max-magnitude component, and the operator must be deterministic
    across reruns (no RNG anywhere)."""
    from mk_kafka_connect_spark.operators.similarity import _sq8_cols, quantize

    emb = load_table(spark, SF_SMOKE, "embeddings").limit(50)
    q = emb.select(
        F.col("vec_id"), quantize(F.col("embedding")).alias("qv")
    )
    t = _sq8_cols(q, "qv").select("vec_id", "qv", "_q8").collect()
    for r in t:
        m = max(abs(x) for x in r["qv"]) or 1
        for x, x8 in zip(r["qv"], r["_q8"]):
            assert -127 <= x8 <= 127
            expected = (abs(x) * 127) // m
            assert abs(x8) == expected and (x8 >= 0) == (x >= 0 or expected == 0)
    a = cosine_topk_sq8(emb, emb.filter(F.col("vec_id") < 5), k=5).collect()
    b = cosine_topk_sq8(emb, emb.filter(F.col("vec_id") < 5), k=5).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_sq8_binary_pack_matches_hof_codes(spark):
    """The fused Arrow quantize→SQ8→byte-pack kernel (binary column, the
    representation the scan paths actually ship) must encode EXACTLY the
    codes the declarative HOF formulation produces — byte i == q8[i] as a
    signed int8 — so the packed fast path can never drift from the
    SQL-mirrored contract."""
    from mk_kafka_connect_spark.operators.similarity import (
        _sq8_cols,
        _sq8_pack_udf,
        quantize,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").limit(50)
    q = emb.select(F.col("vec_id"), quantize(F.col("embedding")).alias("qv"))
    pack = _sq8_pack_udf()
    rows = (
        _sq8_cols(q, "qv")
        .withColumn("packed", pack("qv"))
        .select("vec_id", "_q8", "packed")
        .collect()
    )
    assert rows
    for r in rows:
        import numpy as np

        unpacked = np.frombuffer(bytes(r["packed"]), dtype=np.int8).tolist()
        assert unpacked == list(r["_q8"])


def test_stream_stream_join_matches_batch_and_bounds_state(spark):
    """The streaming attribution join over a crafted two-user stream must
    emit exactly the batch-join pairs: in-horizon clicks match, out-of-
    horizon and other-user clicks don't."""
    from mk_kafka_connect_spark.streaming.windows import (
        run_to_memory,
        stream_stream_attribution,
    )

    rows = [
        # (event_id, ts, user_id, event_type)
        (1, _ts(0, 0), 1, "view"),
        (2, _ts(0, 30), 1, "click"),  # in horizon (1h) -> pair (1,2)
        (3, _ts(2, 30), 1, "click"),  # out of 1h horizon of view 1
        (4, _ts(2, 0), 1, "view"),
        # view 4 @2h: click 3 @2h30 in horizon -> pair (4,3)
        (5, _ts(0, 10), 2, "click"),  # other user, no view
    ]
    import tempfile

    src = tempfile.mkdtemp(prefix="ssj_")
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    ).write.mode("overwrite").parquet(src)
    schema = "event_id long, ts timestamp, user_id long, event_type string"
    stream = spark.readStream.schema(schema).parquet(src)
    views = stream.filter(F.col("event_type") == "view")
    clicks = stream.filter(F.col("event_type") == "click")
    out = run_to_memory(
        stream_stream_attribution(views, clicks, "1 hour"), "append"
    )
    got = {(r["view_id"], r["click_id"]) for r in out.collect()}
    assert got == {(1, 2), (4, 3)}


def test_stream_stream_left_outer_null_emission(spark):
    """LEFT OUTER attribution must emit a null-click row for every
    unmatched view — but only when the watermark proves no click can
    still arrive. Without a watermark-advancing sentinel the tail view
    stays buffered forever (the bounded-fixture trap); with one, every
    unmatched view flushes and the drain equals the batch LEFT JOIN."""
    import tempfile

    from mk_kafka_connect_spark.streaming.windows import (
        run_to_memory,
        stream_stream_attribution,
    )

    rows = [
        # (event_id, ts, user_id, event_type)
        (1, _ts(0, 0), 1, "view"),
        (2, _ts(0, 30), 1, "click"),  # matches view 1
        (3, _ts(1, 0), 2, "view"),  # no click ever -> null row
        (4, _ts(2, 0), 1, "view"),  # click 5 out of horizon -> null row
        (5, _ts(3, 30), 1, "click"),
        # watermark sentinel: far-future pair, filtered from the result;
        # without it views 3/4 (and even view 1's UNmatched alternative
        # timelines) could never be declared click-free.
        (-1, _ts(23, 0) + dt.timedelta(days=2), -1, "view"),
        (-2, _ts(23, 0) + dt.timedelta(days=2), -1, "click"),
    ]
    src = tempfile.mkdtemp(prefix="ssoj_")
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    ).write.mode("overwrite").parquet(src)
    schema = "event_id long, ts timestamp, user_id long, event_type string"
    stream = spark.readStream.schema(schema).parquet(src)
    views = stream.filter(F.col("event_type") == "view")
    clicks = stream.filter(F.col("event_type") == "click")
    out = run_to_memory(
        stream_stream_attribution(views, clicks, "1 hour", "leftOuter"), "append"
    ).filter(F.col("user_id") >= 0)
    got = {(r["view_id"], r["click_id"]) for r in out.collect()}
    assert got == {(1, 2), (3, None), (4, None)}


def test_misra_gries_guarantees_under_forced_eviction(spark):
    """Crafted Zipf-ish skew with capacity far below the key cardinality,
    so the sketch MUST evict: the Misra-Gries bracket
    est(k) <= true(k) <= est(k) + sum_p(err_p) has to hold for every key,
    and every key heavier than the total error bound must survive."""
    from mk_kafka_connect_spark.operators.sketch import partition_summaries

    rows = []
    eid = 0
    # key i (0..199) appears 400-2i times: ~72k rows, 200 distinct keys.
    for i in range(200):
        for _ in range(400 - 2 * i):
            rows.append((eid, f"k{i:03d}"))
            eid += 1
    df = spark.createDataFrame(rows, "row_id long, key string").repartition(8)
    summaries = partition_summaries(df, "key", capacity=16).collect()
    assert summaries, "sketch emitted nothing"
    per_pid_err = {}
    est = {}
    for r in summaries:
        per_pid_err[r["pid"]] = r["err"]
        est[r["key"]] = est.get(r["key"], 0) + r["est"]
    total_err = sum(per_pid_err.values())
    assert total_err > 0, "capacity 16 over 200 keys must force evictions"
    true = {}
    for _, k in rows:
        true[k] = true.get(k, 0) + 1
    for k, t in true.items():
        e = est.get(k, 0)
        assert e <= t <= e + total_err, (k, e, t, total_err)
        if t > total_err:
            assert e > 0, f"guaranteed-present key {k} missing (true={t}, bound={total_err})"
