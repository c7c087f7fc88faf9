"""Training-data pipeline composition operators (SURVEY.md §2.B B15):
deterministic train/val/test splitting and benchmark decontamination.

These are the glue stages between the quality/dedup/similarity operators:
every assignment is a pure function of content hashes (md5-based, mirrored
exactly in DuckDB SQL), so splits and contamination flags are reproducible
across engines, cluster sizes, and reruns — the property a 100 TB corpus
rebuild cannot live without. No RNG, no state files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_mod
from .dedup import shingle_hashes

__all__ = [
    "hash_split",
    "decontaminate",
    "stratified_hash_sample",
    "balance_strata",
    "chunk_documents",
    "pack_sequences",
    "top_fraction_by_group",
]


def hash_split(
    df: DataFrame,
    id_col: str,
    splits: tuple[tuple[str, int], ...] = (("train", 8), ("val", 1), ("test", 1)),
) -> DataFrame:
    """Deterministic split assignment: bucket = md5_mod(id) % Σweights,
    mapped to named ranges (train gets [0,8), val [8,9), test [9,10) at
    the 8/1/1 default).

    Pure map-side projection — no shuffle, no sampling state; a document
    lands in the same split on every engine and every rerun, and adding
    data never reassigns existing rows."""
    total = sum(w for _, w in splits)
    bucket = md5_mod(F.col(id_col).cast("string")) % total
    expr = None
    lo = 0
    for name, w in splits:
        cond = (bucket >= lo) & (bucket < lo + w)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
        lo += w
    return df.withColumn("split", expr)


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    min_overlap: int = 2,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing at least
    ``min_overlap`` distinct word-``n``-gram shingles with ANY benchmark
    document.

    Scale shape: the benchmark's distinct shingle hashes are a small
    relation (benchmarks are thousands of docs, not billions) — the join
    against the exploded training shingles broadcasts it, so the
    training corpus streams through one map-side hash lookup plus one
    aggregation keyed on ``id_col``. Returns (id, n_overlap,
    contaminated) for every training row."""
    t = shingle_hashes(train.select(id_col, text_col), text_col, n).select(
        id_col, F.explode("sh").alias("h")
    )
    b = (
        shingle_hashes(benchmark.select(text_col), text_col, n)
        .select(F.explode("sh").alias("h"))
        .distinct()
    )
    overlap = (
        t.join(F.broadcast(b), "h")
        .groupBy(id_col)
        .agg(F.countDistinct("h").alias("n_overlap"))
    )
    return (
        train.select(id_col)
        .join(overlap, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_overlap"), F.lit(0).cast("long")).alias("n_overlap"),
        )
        .withColumn("contaminated", F.col("n_overlap") >= min_overlap)
    )


def decontaminate_lsh(
    train: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Benchmark decontamination via banded MinHash-LSH — the scale path
    when the benchmark suite is itself corpus-sized (dozens of eval sets
    × contamination variants) and broadcasting its full distinct-shingle
    set (:func:`decontaminate`) no longer fits: both sides reduce to
    32-component MinHash signatures, candidates come from the band-key
    hash equi-join of ``operators/dedup.py`` — never a train×bench
    product — and a candidate is flagged when the signature-estimated
    Jaccard clears ``threshold``.

    Complementary contract to the shingle-overlap variant: that one
    catches ABSOLUTE overlap (≥k shared shingles — verbatim leaked
    spans), this one catches PROPORTIONAL similarity (near-duplicate
    documents); production pipelines run both. Signatures ride through
    the band explode so the signature subtree evaluates once (same
    plan discipline as ``minhash_near_dups``). Returns every train row:
    (id, n_bench_matches, max_est_jaccard, contaminated)."""
    from .dedup import _bucket_join, _est_jaccard, _minhash_bands

    flagged = (
        _bucket_join(
            _minhash_bands(train, text_col, id_col, n, num_hashes, bands),
            _minhash_bands(benchmark, text_col, id_col, n, num_hashes, bands),
        )
        .select(
            F.col(f"a.{id_col}").alias(id_col),
            F.col(f"b.{id_col}").alias("_bid"),
            _est_jaccard(num_hashes),
        )
        .filter(F.col("est_jaccard") >= threshold)
        .distinct()
        .groupBy(id_col)
        .agg(
            F.countDistinct("_bid").alias("n_bench_matches"),
            F.max("est_jaccard").alias("max_est_jaccard"),
        )
    )
    return (
        train.select(id_col)
        .join(flagged, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_bench_matches"), F.lit(0).cast("long")).alias(
                "n_bench_matches"
            ),
            F.coalesce(F.col("max_est_jaccard"), F.lit(0.0)).alias(
                "max_est_jaccard"
            ),
        )
        .withColumn("contaminated", F.col("n_bench_matches") > 0)
    )


def balance_strata(df: DataFrame, id_col: str, stratum_col: str) -> DataFrame:
    """DATA-DERIVED stratum rebalancing: deterministically downsample
    every stratum to (in expectation) the size of the SMALLEST one —
    the automatic counterpart of :func:`stratified_hash_sample`, whose
    rates are hand-configured. Keep probability for stratum s is
    cap/n_s (cap = min stratum count), decided by the pure-integer
    predicate ``(md5(salt:s:id) % 1e6) · n_s < cap · 1e6`` — exact
    int64 arithmetic (h < 1e6, so the product stays far inside int64),
    no float rates, bit-identical across engines and reruns.

    Scale shape: the stratum histogram is one partial-aggregable
    group-by whose result is |strata| rows; it joins back as a
    broadcast, and the cap is a broadcast single-row cross join — the
    corpus itself streams through one map-side filter, never
    shuffling."""
    counts = df.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("n_stratum"))
    cap = counts.agg(F.min("n_stratum").alias("cap"))
    h = (
        md5_mod(
            F.concat_ws(
                ":",
                F.lit("bal"),
                F.col(stratum_col).cast("string"),
                F.col(id_col).cast("string"),
            )
        )
        % 1000000
    )
    return (
        df.join(F.broadcast(counts), stratum_col)
        .crossJoin(F.broadcast(cap))
        .filter(h * F.col("n_stratum") < F.col("cap") * 1000000)
    )


def weighted_hash_sample(
    df: DataFrame, id_col: str, weight_col: str, salt: str = "wsample"
) -> DataFrame:
    """Importance sampling with DATA-DERIVED per-row keep probability
    w/max(w) — the soft-quality selection stage of corpus construction
    (keep high-weight documents almost surely, low-weight ones rarely,
    instead of a hard threshold cut). Membership is the pure-integer
    predicate ``(md5(salt:id) % 1e6) · max_w < w · 1e6`` — exact int64
    arithmetic, no float rates, bit-identical across engines, reruns,
    and repartitionings; a row's fate depends only on (salt, id, w,
    max_w), so adding documents never flips existing decisions unless
    the corpus maximum itself moves.

    Scale shape: max(w) is a partial-aggregable single-row broadcast
    cross join; the corpus streams through one map-side filter — no
    shuffle of the data itself."""
    mx = df.agg(F.max(F.col(weight_col).cast("long")).alias("w_max"))
    h = (
        md5_mod(F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string")))
        % 1000000
    )
    return df.crossJoin(F.broadcast(mx)).filter(
        h * F.col("w_max") < F.col(weight_col).cast("long") * 1000000
    )


def stratified_hash_sample(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    rates_pct: dict[str, int],
    default_pct: int = 0,
) -> DataFrame:
    """Per-stratum deterministic sampling: keep a row iff
    ``md5(stratum ':' id) % 100 < rate_pct(stratum)`` — the
    lang-/source-balancing stage of corpus construction (e.g. upsample
    low-resource languages, downsample boilerplate-heavy sources).

    Same contract as :func:`hash_split`: pure map-side, no RNG state,
    membership is a function of (stratum, id) alone — stable across
    engines, reruns, and corpus growth. Salting the hash with the stratum
    decorrelates it from any other hash-derived assignment (a row's
    sample fate is independent of its train/val/test split)."""
    bucket = (
        md5_mod(
            F.concat_ws(":", F.col(stratum_col).cast("string"), F.col(id_col).cast("string"))
        )
        % 100
    )
    rate = F.lit(default_pct)
    for k, v in sorted(rates_pct.items()):
        rate = F.when(F.col(stratum_col) == k, F.lit(v)).otherwise(rate)
    return df.filter(bucket < rate)


def chunk_documents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_size: int = 500,
    stride: int = 400,
) -> DataFrame:
    """RAG-style overlapping character chunking: one row per
    ``chunk_size``-char window starting every ``stride`` chars (so
    consecutive chunks overlap by ``chunk_size - stride``).

    Pure map-side explode of built-ins (sequence → explode → substring):
    no shuffle, no Python, output partitioning inherits the scan — the
    100 TB shape is "width amplification only", exactly what a chunking
    stage should be. Empty documents yield one empty chunk (start=1), so
    every input row is represented downstream."""
    starts = F.sequence(
        F.lit(1), F.greatest(F.length(text_col), F.lit(1)), F.lit(stride)
    )
    return (
        df.select(id_col, text_col, F.explode(starts).alias("chunk_start"))
        .select(
            id_col,
            ((F.col("chunk_start") - 1) / stride).cast("long").alias("chunk_idx"),
            F.col("chunk_start").cast("long").alias("chunk_start"),
            F.expr(
                f"substring({text_col}, chunk_start, {chunk_size})"
            ).alias("chunk_text"),
        )
        .withColumn("chunk_len", F.length("chunk_text").cast("long"))
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    text_col: str,
    budget: int = 1000,
    n_streams: int = 8,
) -> DataFrame:
    """Sequence packing for training: assign documents to fixed-token-
    budget packs by cumulative token count, in a deterministic
    hash-shuffled order (md5 of the id), within ``n_streams`` independent
    pack streams.

    Scale shape: the window is partitioned by stream — each stream is a
    partition-local ordered cumsum, so there is NO global sort; raise
    ``n_streams`` with the cluster (packs are only ever read within a
    stream, so streams never need to see each other). A doc that crosses
    a pack boundary opens the next pack (standard concat-then-chunk
    packing semantics: pack = floor(tokens_before / budget))."""
    from pyspark.sql import Window

    t = df.select(
        id_col,
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("n_tokens"),
        md5_mod(F.col(id_col).cast("string")).alias("_h"),
    ).withColumn("stream", (F.col("_h") % n_streams).cast("long"))
    w = (
        Window.partitionBy("stream")
        .orderBy("_h", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        t.withColumn(
            "_cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        )
        .select(
            id_col,
            "n_tokens",
            "stream",
            F.expr(f"_cum_before DIV {budget}").alias("pack_id"),
        )
    )


def top_fraction_by_group(
    df: DataFrame,
    score_col: str,
    group_col: str,
    id_col: str,
    keep_frac: float = 0.75,
) -> DataFrame:
    """Keep the top ``keep_frac`` of rows per group by score (drop the
    bottom quantile) — the per-language quality gate of corpus curation:
    a global threshold would silently delete low-resource languages,
    a per-group rank keeps each language's best share.

    ``cume_dist`` over a (score, id) ordering is rank arithmetic — exact
    and engine-independent, unlike an interpolated percentile threshold.
    Scale shape: one partitioned window per group; group skew is bounded
    by the largest language, and heavier skew would move this to a
    two-pass approx-quantile threshold per group (sketch + broadcast)."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(score_col, id_col)
    return (
        df.withColumn("q_rank", F.cume_dist().over(w))
        .filter(F.col("q_rank") >= 1.0 - keep_frac)
    )


def greedy_pack(
    df: DataFrame,
    id_col: str,
    token_col: str,
    budget: int = 256,
    n_streams: int = 16,
) -> DataFrame:
    """NO-SPLIT greedy sequence packing: documents are never chunked
    across packs — a pack closes when the next document would overflow
    the token budget (T5/LLM finetune-style "example packing", the
    boundary-respecting complement of ``pack_sequences``' concat-then-
    chunk). Docs are visited in deterministic md5-shuffled order within
    ``n_streams`` independent streams; oversize docs are assumed
    pre-truncated to ``budget`` by the caller (fill never exceeds it).

    The close-on-overflow recurrence (fill' = tok if fill+tok > budget
    else fill+tok) is a sequential scan — not expressible as a window
    cumsum, the textbook case for a custom stateful operator. It runs as
    ONE Arrow ``applyInPandas`` kernel per stream: linear, vectorized
    transfer, no Python-per-row boxing. Scale shape: shuffle by stream
    (uniform md5 buckets), then embarrassingly parallel linear scans —
    raise ``n_streams`` with the cluster exactly as real packers shard;
    within-stream sequentiality is inherent to packing itself.

    Returns one row per input doc: (stream, ``id_col``, ``token_col``,
    _h, pack_id) with pack_id dense from 0 per stream."""
    import pandas as pd

    t = df.select(
        F.col(id_col).cast("long").alias(id_col),
        F.col(token_col).cast("long").alias(token_col),
        md5_mod(F.col(id_col).cast("string")).alias("_h"),
    ).withColumn("stream", (F.col("_h") % n_streams).cast("long"))

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["_h", id_col], kind="mergesort").reset_index(
            drop=True
        )
        toks = pdf[token_col].to_numpy()
        packs = []
        fill, pack = 0, 0
        for tok in toks:
            if fill + tok > budget:
                pack += 1
                fill = int(tok)
            else:
                fill += int(tok)
            packs.append(pack)
        pdf["pack_id"] = pd.Series(packs, dtype="int64")
        return pdf

    return t.groupBy("stream").applyInPandas(
        _pack,
        schema=(
            f"stream long, {id_col} long, {token_col} long, "
            f"_h long, pack_id long"
        ),
    )
