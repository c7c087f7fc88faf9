"""Deduplication operators for large-scale text corpora (SURVEY.md §2.B B15;
north-star LLM-pipeline surface).

Five families, all expressed on DataFrame built-ins (no Python in the hot
path), all deterministic cross-engine (see ``functions/hashing.py``):

* exact           — hash group-by on content, keep canonical (min-id) doc
* minhash_lsh     — shingle → MinHash signature (per-row array math, no
                    shuffle) → banded LSH bucketing (one shuffle on band
                    key) → candidate pairs → signature-estimated Jaccard
* simhash         — 32-bit per-doc fingerprint from token-hash bit votes;
                    near-dup candidates via band-equality + hamming ≤ k
* ngram_jaccard   — EXACT Jaccard on distinct shingles via shingle-key
                    self-join (the ground-truth oracle for the approximate
                    families; O(pairs-sharing-a-shingle), not O(n²))
* embedding near-dup — see ``operators/similarity.py`` (cosine threshold)

The approximate families share ONE band join, and this module is the
only one that knows the band format. ``_bucket_join`` equi-joins two
banded relations on (band_idx, band_key); ``_bucket_self_join`` is its
id_a < id_b self-join form and holds the single materialization of the
banded side. MinHash cuts its signature into bands with
``_minhash_bands`` and scores candidates with ``_est_jaccard``
(``minhash_near_dups``, ``minhash_near_dups_incremental`` and
``operators.pipeline.decontaminate_lsh``); bit fingerprints
(SimHash, and aHash/pHash in ``operators/multimodal.py``) go through
``hamming_near_dups``. A new near-dup operator goes through them too.

Scale notes (100 TB): signature computation is embarrassingly parallel;
the only shuffles are on (band_idx, band_key) — uniformly distributed by
construction — and the shingle join, whose hot keys (stop-shingles) should
be frequency-capped (``max_shingle_freq``) exactly like skewed join salting.
"""

from __future__ import annotations

import operator
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import (
    MERSENNE_P,
    md5_mod,
    minhash_params,
    poly_hash,
    shingles,
    words,
)

__all__ = [
    "exact_dedup",
    "shingle_hashes",
    "minhash_signature",
    "minhash_signatures_agg",
    "minhash_near_dups",
    "minhash_near_dups_incremental",
    "simhash_fingerprint",
    "simhash_near_dups",
    "hamming_near_dups",
    "ngram_jaccard_pairs",
    "ngram_containment_pairs",
    "connected_components",
]


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Exact dedup: one canonical row (min id) per distinct content value.
    Map-side partial agg collapses duplicates before the shuffle."""
    return df.groupBy(content_col).agg(
        F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies")
    )


def shingle_hashes(df: DataFrame, text_col: str, n: int = 3) -> DataFrame:
    """Distinct word-n-gram shingles hashed to int64 — the MinHash input.
    Adds column ``sh`` (array<long>, distinct md5_mod-hashed shingles)."""
    sh = F.array_distinct(shingles(text_col, n))
    hashed = F.transform(sh, lambda s: md5_mod(s))
    return df.withColumn("sh", hashed)


def _poly_hash_lambda(s):
    chars = F.transform(F.split(s, ""), lambda c: F.ascii(c).cast("long"))
    return F.aggregate(
        chars, F.lit(0).cast("long"), lambda acc, x: (acc * 31 + x) % MERSENNE_P
    )


def minhash_signature(df: DataFrame, num_hashes: int = 32) -> DataFrame:
    """MinHash signature per row from the ``sh`` column: for each affine
    permutation j, sig[j] = min over shingles of (a_j*h + b_j) mod P.

    Per-row array form — O(|sh| × num_hashes) higher-order-function
    arithmetic. Prefer ``minhash_signatures_agg`` in pipelines: HOFs are
    interpreted (not codegen'd) AND Catalyst's projection collapse inlines
    the ``sh`` expression into every signature component, re-folding every
    shingle hash ``num_hashes`` times."""
    params = minhash_params(num_hashes)

    def _perm(a: int, b: int):
        return lambda h: (h * a + b) % MERSENNE_P

    sig = F.array(
        *[
            F.coalesce(
                F.array_min(F.transform(F.col("sh"), _perm(a, b))),
                F.lit(MERSENNE_P),
            )
            for a, b in params
        ]
    )
    return df.withColumn("sig", sig)


def minhash_signatures_agg(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, num_hashes: int = 32
) -> DataFrame:
    """Scalable MinHash: explode distinct shingles, hash each ONCE, then
    compute all permutation minima as grouped aggregates.

    Why this shape wins at scale: the per-shingle char fold runs exactly
    once (the array form re-evaluates it per permutation after projection
    collapse), the 32 ``min`` aggregates are plain codegen'd arithmetic
    with map-side partial aggregation, and the one shuffle is on the doc
    id. Returns (id_col, sig array<long>).

    (Measured: an Arrow pandas_udf for the char fold is 2× SLOWER than
    this interpreted HOF at 260k shingles — Arrow transfer dominates;
    don't "optimize" it that way.)"""
    params = minhash_params(num_hashes)
    ex = df.select(
        F.col(id_col),
        F.explode_outer(F.array_distinct(shingles(text_col, n))).alias("_s"),
    )
    # md5_mod: native codegen'd shingle hash (the per-char poly fold was
    # ~50% of minhash wall time; md5 is one JVM call per shingle and is
    # mirrored exactly by the DuckDB oracle).
    exh = ex.select(id_col, md5_mod(F.col("_s")).alias("_h"))
    aggs = [
        F.coalesce(
            F.min((F.col("_h") * a + b) % MERSENNE_P), F.lit(MERSENNE_P)
        ).alias(f"_sig{j}")
        for j, (a, b) in enumerate(params)
    ]
    wide = exh.groupBy(id_col).agg(*aggs)
    return wide.select(
        id_col, F.array(*[F.col(f"_sig{j}") for j in range(num_hashes)]).alias("sig")
    )


def _minhash_bands(
    df: DataFrame, text_col: str, id_col: str, n: int, num_hashes: int, bands: int
) -> DataFrame:
    """(id_col, sig, band_idx, band_key): each doc's MinHash signature cut
    into ``bands`` bands of ``num_hashes/bands`` components, one row per
    band. The signature rides through the explode so the bucket join can
    score a candidate without joining back to the signature table."""
    rows = num_hashes // bands
    band = F.expr(
        f"transform(sequence(0, {bands - 1}), "
        f"b -> struct(b AS band_idx, "
        f"concat_ws(',', slice(sig, b * {rows} + 1, {rows})) AS band_key))"
    )
    sig = minhash_signatures_agg(df, text_col, id_col, n, num_hashes)
    return sig.select(id_col, "sig", F.explode(band).alias("band")).select(
        id_col, "sig", "band.*"
    )


def _est_jaccard(num_hashes: int) -> Column:
    """Signature-estimated Jaccard of a bucket pair: the fraction of equal
    components of ``a.sig`` and ``b.sig``."""
    same = F.zip_with(F.col("a.sig"), F.col("b.sig"), lambda x, y: x == y)
    return (F.size(F.filter(same, lambda v: v)) / F.lit(num_hashes)).alias(
        "est_jaccard"
    )


def _bucket_join(a: DataFrame, b: DataFrame, on: Column | None = None) -> DataFrame:
    """Equi-join two banded relations, aliased ``a`` and ``b``, on
    (band_idx, band_key), plus the optional extra condition ``on``.

    The one shuffle is on the band key. Band keys are near-uniform, so
    buckets stay small and the join never explodes: the scale-safe form
    of near-dup detection, against an O(n²) all-pairs scan."""
    same_bucket = (F.col("a.band_idx") == F.col("b.band_idx")) & (
        F.col("a.band_key") == F.col("b.band_key")
    )
    return a.alias("a").join(b.alias("b"), same_bucket if on is None else same_bucket & on)


def _bucket_self_join(banded: DataFrame, id_col: str, score: Column) -> DataFrame:
    """(id_a, id_b, score) for every bucket-mate pair id_a < id_b of one
    banded relation; a pair sharing several bands appears once per band.

    ``banded`` is materialized once: the self-join's probe and build
    sides are separate subtrees to Catalyst (the build side becomes its
    own BroadcastExchange, so there is no ReusedExchange), and without
    this the whole fingerprint pipeline (MinHash's shingle explode and
    32 min-aggregates, or the aHash/pHash payload pass) runs twice per
    query."""
    banded = banded.localCheckpoint(eager=False)
    return _bucket_join(
        banded, banded, F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    ).select(
        F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"), score
    )


def minhash_near_dups(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures → banded candidates →
    filter by signature-estimated Jaccard (fraction of equal components).
    Returns (id_a, id_b, est_jaccard).

    The signature array rides THROUGH the band explode into the bucket
    join, so the signature pipeline (shingle explode + 32 min-aggregates)
    is computed exactly once and no signature join-backs exist — the
    naive cands⋈sig_a⋈sig_b formulation re-evaluates the whole signature
    subtree three times (Spark does not share subtrees across joins).
    Cost: the band shuffle carries bands× the signature per doc
    (bands·num_hashes longs ≈ 2 KB/doc), cheaper than two extra shuffles
    of the signature table at any scale."""
    banded = _minhash_bands(df, text_col, id_col, n, num_hashes, bands)
    pairs = _bucket_self_join(banded, id_col, _est_jaccard(num_hashes))
    return pairs.filter(F.col("est_jaccard") >= threshold).distinct()


def simhash_fingerprint(df: DataFrame, text_col: str, id_col: str = "doc_id") -> DataFrame:
    """32-bit SimHash: per token-hash bit, vote ±1 per occurrence;
    fingerprint bit i = (vote_i > 0). Adds ``simhash`` (long).

    Explode-and-aggregate formulation: each token is hashed ONCE, the 32
    bit-vote sums are codegen'd grouped aggregates (vote_i = 2·ones_i − n),
    one shuffle on the doc id with map-side partials — linear at 100 TB."""
    ex = df.select(
        F.col(id_col), F.explode_outer(words(F.col(text_col))).alias("_t")
    )
    exh = ex.select(id_col, _poly_hash_lambda(F.col("_t")).alias("_h"))
    aggs = [
        F.sum(F.shiftright(F.col("_h"), i).bitwiseAND(1)).alias(f"_ones{i}")
        for i in range(32)
    ] + [F.count(F.col("_h")).alias("_n")]
    wide = exh.groupBy(id_col).agg(*aggs)
    sim = None
    for i in range(32):
        bit = F.when(
            F.coalesce(F.col(f"_ones{i}"), F.lit(0)) * 2 - F.col("_n") > 0,
            F.lit(1).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        sim = term if sim is None else sim + term
    fp = wide.select(id_col, sim.alias("simhash"))
    return df.join(fp, id_col)


def hamming_near_dups(
    fp: DataFrame, id_col: str, words: list[str], max_hamming: int
) -> DataFrame:
    """Near-dup pairs of a bit fingerprint held in the int64 columns
    ``words``: (id_a, id_b, hamming) for every pair whose fingerprints
    differ in ≤ ``max_hamming`` bits. SimHash passes one 32-bit word,
    aHash and pHash pass their ``[lo, hi]`` 32-bit words.

    Each word gives four 8-bit bands; band b is
    ``shiftright(words[b // 4], (b % 4) * 8) & 255``. Candidates share at
    least one band and come from the bucket self-join; the exact
    distance, the sum of ``bit_count(xor)`` over the words, runs only on
    bucket-mates. A pair at distance d differs in at most d bands, so
    with d below the band count it agrees on one (pigeonhole):
    ``max_hamming`` must stay below 4·len(words), or the join would lose
    true pairs without notice."""
    n_bands = 4 * len(words)
    if max_hamming >= n_bands:
        raise ValueError(
            f"max_hamming must be < {n_bands} for {n_bands}-band completeness"
        )
    keys = F.array(
        *[F.shiftright(F.col(w), s).bitwiseAND(255) for w in words for s in (0, 8, 16, 24)]
    )
    banded = fp.select(id_col, *words, F.posexplode(keys).alias("band_idx", "band_key"))
    hamming = reduce(
        operator.add,
        [F.bit_count(F.col(f"a.{w}").bitwiseXOR(F.col(f"b.{w}"))) for w in words],
    ).alias("hamming")
    pairs = _bucket_self_join(banded, id_col, hamming)
    return pairs.filter(F.col("hamming") <= max_hamming).distinct()


def simhash_near_dups(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 3
) -> DataFrame:
    """SimHash near-dup pairs: :func:`hamming_near_dups` over the 32-bit
    ``simhash`` (four 8-bit bands, so ``max_hamming`` ≤ 3). Returns
    (id_a, id_b, hamming)."""
    fp = simhash_fingerprint(df, text_col, id_col)
    return hamming_near_dups(fp, id_col, ["simhash"], max_hamming)


def _filtered_shingle_relation(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    max_shingle_freq: int | None,
) -> DataFrame:
    """(doc, s) distinct-shingle relation with the stop-shingle cap
    applied, materialized ONCE (localCheckpoint inside the query body).

    The exact-tier pair queries consume this relation four ways (the
    frequency model, the per-doc sizes, and both sides of the shingle
    self-join); without the checkpoint Spark re-derives the scan +
    shingle Generate per consumer — measured 6 documents scans / 4
    frequency aggregates in the r18 before-plan of dedup_ngram_jaccard.
    One explode + one materialization is the guide §2.4/§5
    persist-between-superstages shape; the downstream self-join then
    reuses one shuffle exchange for both sides (identical subtrees)."""
    ex = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.array_distinct(shingles(text_col, n))).alias("s"),
    )
    if max_shingle_freq is None:
        return ex.localCheckpoint(eager=False)
    ex = ex.localCheckpoint(eager=False)
    freq_ok = (
        ex.groupBy("s").agg(F.count(F.lit(1)).alias("df_"))
        .filter(F.col("df_") <= max_shingle_freq)
        .select("s")
    )
    return ex.join(freq_ok, "s").localCheckpoint(eager=False)


def _shingle_overlap(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    max_shingle_freq: int | None,
) -> DataFrame:
    """(id_a, id_b, n_common, n_a, n_b) for every doc pair id_a < id_b
    sharing a distinct shingle: the overlap count from the shingle-key
    self-join, and each side's distinct-shingle count."""
    ex = _filtered_shingle_relation(df, text_col, id_col, n, max_shingle_freq)
    sizes = ex.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = ex.alias("a"), ex.alias("b")
    common = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc").alias("id_b"), F.col("n_sh").alias("n_b"))
    return common.join(sa, "id_a").join(sb, "id_b")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int | None = 100,
) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs via shingle-key self-join:

        |A ∩ B| from a join on distinct shingles, |A ∪ B| = |A|+|B|−|A∩B|.

    ``max_shingle_freq`` drops stop-shingles appearing in more than that
    many docs — the skew guard that keeps the join linear-ish at scale
    (a shingle shared by k docs contributes k² join rows).

    (Measured: hashing shingles to int64 join keys does NOT pay here —
    the dominant cost is the pair group-by after the join, and the
    interpreted char-fold adds ~20%; string keys kept.)
    Returns (id_a, id_b, jaccard)."""
    jac = (
        F.col("n_common").cast("double")
        / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double")
    ).alias("jaccard")
    return (
        _shingle_overlap(df, text_col, id_col, n, max_shingle_freq)
        .select("id_a", "id_b", jac)
        .filter(F.col("jaccard") >= threshold)
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over an undirected pair list by min-label
    propagation — the cluster-resolution step between near-dup PAIRS and
    "keep one doc per cluster".

    Pregel-style loop: every node starts labeled with its own id; each
    round takes the min of its label and its neighbors' labels; converged
    when a round changes nothing (≤ graph diameter rounds — near-dup
    clusters are small, so typically 2-4). Each round is one shuffle of
    the NODE-sized label table (never the corpus), plus one driver-side
    convergence count — the standard iterative-graph pattern, not a
    per-row driver loop. ``localCheckpoint`` truncates the growing
    lineage each round. Deterministic: min() is order-independent.

    Returns (id, cluster_id) for every node that appears in ``pairs``;
    canonical representative = the row with id == cluster_id.
    """
    # Materialize the edge list ONCE: every propagation round joins
    # against it, and without the checkpoint each round would re-run the
    # entire upstream pipeline that produced the pairs (e.g. the full
    # MinHash signature computation — measured 4× the whole operator).
    # Symmetrize in ONE pass over the pair relation (explode of the two
    # orientations) — the union-of-two-selects form derived the whole
    # upstream pair pipeline twice before the checkpoint could help.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(id_a).alias("src"), F.col(id_b).alias("dst")),
                    F.struct(
                        F.col(id_b).alias("src"), F.col(id_a).alias("dst")
                    ),
                )
            ).alias("_e")
        )
        .select("_e.src", "_e.dst")
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        nbr_min = (
            labels.join(edges, labels.id == edges.src)
            .groupBy("dst")
            .agg(F.min("label").alias("nbr_label"))
        )
        # Carry the previous label through the update so convergence is a
        # filter-count on the already-checkpointed frame — not a separate
        # labels⨝new_labels join (one fewer shuffle per round).
        upd = (
            labels.join(nbr_min, labels.id == nbr_min.dst, "left")
            .select(
                "id",
                F.col("label").alias("_prev"),
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        changed = upd.filter(F.col("label") != F.col("_prev")).count()
        labels = upd.drop("_prev")
        if changed == 0:
            break
    return labels.select("id", F.col("label").alias("cluster_id"))


def verbatim_span_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 20,
    sample_mod: int = 16,
    min_shared: int = 2,
) -> DataFrame:
    """CHARACTER-level verbatim-overlap detection: document pairs sharing
    ≥ ``min_shared`` content-sampled ``k``-char substrings — the
    substring-tier dedup signal (copied paragraphs, boilerplate, license
    blocks) that word-shingle Jaccard dilutes away on long documents.

    Selection is CONTENT-DEFINED (rsync/LBFS chunking): a k-gram at any
    offset is kept iff ``hash % sample_mod == 0``, so identical spans
    select identical fingerprints regardless of their position in either
    document — no alignment needed, unlike strided sampling. Expected
    fingerprint density 1/sample_mod per offset; a shared verbatim run of
    length L carries ~(L−k+1)/sample_mod shared fingerprints, so
    ``min_shared`` = 2 needs runs of ~k+2·sample_mod chars in expectation
    (probabilistic, not a hard floor — the standard CDC trade-off;
    winnowing would give a hard guarantee at higher cost).

    Scale shape: ALL per-offset hashes of a document come from ONE
    vectorized integer convolution in an Arrow kernel (the polynomial
    hash of every k-window = convolve(char codes, [31^(k-1)..31^0] mod P)
    — per-term ≤ 255·10⁹ and ≤ k terms, so the int64 sum is exact and
    the final ``% P`` lands in SQL_POLY's residue class), and the
    1/sample_mod selection happens INSIDE the kernel — only sampled
    fingerprints are ever materialized as rows. Replaces the naive
    per-offset substring explode + per-gram hash (5M JVM hash calls at
    sf0.1, measured 4.1 s → 0.9 s). The pair join is a hash equi-join on
    fingerprint value whose bucket sizes the ``sample_mod`` knob
    controls. Exact integer arithmetic — the DuckDB oracle replays the
    same polynomial per offset."""
    from pyspark.sql.functions import pandas_udf

    from ..functions.hashing import MERSENNE_P

    weights = np.array(
        [pow(31, k - 1 - j, MERSENNE_P) for j in range(k)], dtype=np.int64
    )

    @pandas_udf("array<long>")
    def sampled_hashes(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None or len(t) < k:
                out.append([])
                continue
            codes = np.frombuffer(t.encode("utf-8"), dtype=np.uint8).astype(np.int64)
            if len(codes) < k:  # multi-byte chars can't shrink it, only grow
                out.append([])
                continue
            h = np.convolve(codes, weights[::-1], mode="valid") % MERSENNE_P
            out.append(np.unique(h[h % sample_mod == 0]).tolist())
        return pd.Series(out)

    fp = (
        df.select(F.col(id_col).alias("doc"), sampled_hashes(F.col(text_col)).alias("_hs"))
        .select("doc", F.explode("_hs").alias("h"))
        .distinct()
        # Materialize once: both self-join sides would otherwise re-run
        # the Arrow convolution kernel over the full corpus.
        .localCheckpoint(eager=False)
    )
    a, b = fp.alias("a"), fp.alias("b")
    return (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared_spans"))
        .filter(F.col("n_shared_spans") >= min_shared)
    )


def minhash_near_dups_incremental(
    old_df: DataFrame,
    new_df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
) -> DataFrame:
    """Incremental near-dup detection: pairs touching the NEW batch only
    (new↔old and new↔new), never re-checking old↔old — the shape every
    continuously-ingesting corpus needs. Returns (id_a, id_b,
    est_jaccard) with id_a < id_b.

    The bucket join probes the small NEW band table against the full band
    table, so per-ingest cost is O(|new|·bucket_size), independent of how
    large the accumulated corpus grows. Here the old side's signatures
    are recomputed from text (no persistent store in the fixture
    harness); in production they ARE the stored LSH index — computed once
    at ingest, appended per batch — and only ``new_df`` pays signature
    cost."""
    new_b = _minhash_bands(new_df, text_col, id_col, n, num_hashes, bands)
    all_b = _minhash_bands(old_df, text_col, id_col, n, num_hashes, bands).unionByName(
        new_b
    )
    a_id, b_id = F.col(f"a.{id_col}"), F.col(f"b.{id_col}")
    return (
        _bucket_join(new_b, all_b, a_id != b_id)
        .select(
            F.least(a_id, b_id).alias("id_a"),
            F.greatest(a_id, b_id).alias("id_b"),
            _est_jaccard(num_hashes),
        )
        .filter(F.col("est_jaccard") >= threshold)
        .distinct()
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.9,
    max_shingle_freq: int | None = 100,
) -> DataFrame:
    """EXACT n-gram CONTAINMENT pairs: C(A→B) = |A∩B| / |A| — the
    asymmetric cousin of Jaccard that catches a SMALL document quoted
    inside a much larger one (their Jaccard is diluted by the size
    mismatch, so symmetric dedup never fires; containment of the small
    side stays ~1). Emits both directions for pairs where EITHER
    direction reaches ``threshold``.

    Same shingle-key self-join shape and ``max_shingle_freq`` skew
    guard as :func:`ngram_jaccard_pairs` (including its single-derivation
    checkpoint); only the normalization differs, so scale posture is
    identical."""
    c_ab = (F.col("n_common").cast("double") / F.col("n_a").cast("double")).alias(
        "containment_ab"
    )
    c_ba = (F.col("n_common").cast("double") / F.col("n_b").cast("double")).alias(
        "containment_ba"
    )
    return (
        _shingle_overlap(df, text_col, id_col, n, max_shingle_freq)
        .select("id_a", "id_b", c_ab, c_ba)
        .filter(
            (F.col("containment_ab") >= threshold)
            | (F.col("containment_ba") >= threshold)
        )
    )
