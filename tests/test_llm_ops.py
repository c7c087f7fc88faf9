"""Semantic tests for the LLM-pipeline operators beyond oracle parity:
approximate methods are measured against exact ground truth."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mk_kafka_connect_spark.catalog import load_table
from mk_kafka_connect_spark.operators import dedup as D
from mk_kafka_connect_spark.operators import similarity as S

SF = "/root/testdata/sf0.01"


def test_minhash_finds_true_near_dups(spark):
    """Every exact-Jaccard ≥0.9 pair must be caught by MinHash-LSH at
    threshold 0.7 (recall on strong dups), and est-Jaccard should be
    close to the exact value on those pairs."""
    docs = load_table(spark, SF, "documents")
    truth = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.9).collect()
    }
    assert truth, "fixture should contain planted near-dups"
    found = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in D.minhash_near_dups(docs, "text", "doc_id", threshold=0.7).collect()
    }
    missed = set(truth) - set(found)
    assert not missed, f"MinHash-LSH missed strong dups: {missed}"
    for pair, jac in truth.items():
        assert abs(found[pair] - jac) < 0.35


def test_simhash_flags_near_dups(spark):
    """SimHash hamming≤3 should also catch the strongest dups (same token
    multiset ⇒ identical fingerprint)."""
    docs = load_table(spark, SF, "documents")
    truth = set(
        (r.id_a, r.id_b)
        for r in D.ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.95).collect()
    )
    sim = set(
        (r.id_a, r.id_b)
        for r in D.simhash_near_dups(docs, "text", "doc_id", max_hamming=3).collect()
    )
    # SimHash is a different signal (token bags vs shingle sets): require
    # substantial overlap, not equality.
    if truth:
        caught = len(truth & sim) / len(truth)
        assert caught >= 0.5, f"simhash recall on strongest dups too low: {caught}"


@pytest.mark.parametrize("family", ["simhash", "ahash", "phash"])
def test_hamming_near_dups_reject_incomplete_bands(spark, family):
    """With four 8-bit bands per 32-bit word, a pair at hamming 4·words
    that differs by one bit in every band shares no band, so the band
    join would drop it without notice: each bit-fingerprint family
    refuses that distance instead."""
    from mk_kafka_connect_spark.operators.multimodal import (
        ahash_near_dups,
        attach_fake_binary,
        phash_near_dups,
    )

    docs = load_table(spark, SF, "documents")
    calls = {
        "simhash": lambda: D.simhash_near_dups(docs, "text", "doc_id", max_hamming=4),
        "ahash": lambda: ahash_near_dups(attach_fake_binary(docs), max_hamming=8),
        "phash": lambda: phash_near_dups(attach_fake_binary(docs), max_hamming=8),
    }
    with pytest.raises(ValueError, match="band completeness"):
        calls[family]()


@pytest.mark.parametrize("n_words", [1, 2])
def test_hamming_near_dups_matches_all_pairs_scan(spark, n_words):
    """At the largest allowed distance (3 for one word, 7 for two) the
    band join returns exactly the pairs an all-pairs popcount scan
    finds, including a pair that agrees on one band only."""
    import random
    from itertools import combinations

    rng = random.Random(n_words)
    words = [f"w{i}" for i in range(n_words)]
    max_hamming = 4 * n_words - 1
    fps = []
    for _ in range(6):
        seed = [rng.getrandbits(32) for _ in words]
        for _ in range(6):
            fp = list(seed)
            for _ in range(rng.randrange(max_hamming + 3)):
                bit = rng.randrange(32 * n_words)
                fp[bit // 32] ^= 1 << (bit % 32)
            fps.append(fp)
    # Low bit of every band but band 0 flipped: distance max_hamming,
    # and band 0 is the only band the pair (0, last) shares.
    one_band = list(fps[0])
    for band in range(1, 4 * n_words):
        one_band[band // 4] ^= 1 << (band % 4 * 8)
    fps.append(one_band)

    want = set()
    for i, j in combinations(range(len(fps)), 2):
        d = sum(bin(x ^ y).count("1") for x, y in zip(fps[i], fps[j]))
        if d <= max_hamming:
            want.add((i, j, d))
    assert (0, len(fps) - 1, max_hamming) in want
    fp_df = spark.createDataFrame(
        [(i, *fp) for i, fp in enumerate(fps)],
        ", ".join(["id long"] + [f"{w} long" for w in words]),
    )
    got = D.hamming_near_dups(fp_df, "id", words, max_hamming).collect()
    assert len(got) == len(want)
    assert {(r.id_a, r.id_b, r.hamming) for r in got} == want


def test_lsh_topk_recall_vs_bruteforce(spark):
    """Hyperplane-LSH top-10 must reach ≥60% average recall of the exact
    top-10 at 8 planes / radius 4 (wide probe because the fixture
    embeddings are near-random — see sim_topk_lsh docstring)."""
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 100)
    exact = S.cosine_topk_bruteforce(emb, queries, k=10).collect()
    approx = S.cosine_topk_lsh(
        emb, queries, k=10, num_planes=8, hamming_radius=4
    ).collect()
    from collections import defaultdict

    e, a = defaultdict(set), defaultdict(set)
    for r in exact:
        e[r.query_id].add(r.neighbor_id)
    for r in approx:
        a[r.query_id].add(r.neighbor_id)
    recalls = [len(e[q] & a[q]) / len(e[q]) for q in e]
    avg = sum(recalls) / len(recalls)
    assert avg >= 0.6, f"LSH recall too low: {avg:.2f} ({recalls})"


def test_sq8_topk_recall_vs_bruteforce(spark):
    """SQ8 compressed-scan top-10 must reach ≥90% average recall of the
    exact top-10 — unlike LSH/IVF it scores EVERY corpus vector (just in
    int8), so the only loss is quantization reordering at the top-30
    candidate cut. Every returned cosine must equal the exact score
    bit-for-bit (the rescore uses the same full-precision math)."""
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 100)
    exact = S.cosine_topk_bruteforce(emb, queries, k=10).collect()
    approx = S.cosine_topk_sq8(emb, queries, k=10, rerank=30).collect()
    from collections import defaultdict

    e, a = defaultdict(set), defaultdict(set)
    escore = {}
    for r in exact:
        e[r.query_id].add(r.neighbor_id)
        escore[(r.query_id, r.neighbor_id)] = r.cosine
    for r in approx:
        a[r.query_id].add(r.neighbor_id)
        if (r.query_id, r.neighbor_id) in escore:
            assert escore[(r.query_id, r.neighbor_id)] == r.cosine
    recalls = [len(e[q] & a[q]) / len(e[q]) for q in e]
    avg = sum(recalls) / len(recalls)
    assert avg >= 0.9, f"SQ8 recall too low: {avg:.2f} ({recalls})"


def test_ivf_topk_recall_vs_bruteforce(spark):
    """IVF top-10 at num_cells=8 / nprobe=4 must reach ≥45% average
    recall of the exact top-10 (the fixture embeddings are near-random,
    so recall ≈ probed fraction = 1/2; clustered embeddings would do far
    better). Also: every returned neighbor's cosine must match the exact
    score — IVF candidates are rescored with the same quantized math."""
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 100)
    cents = S.train_ivf_centroids(emb, num_cells=8, iters=1)
    exact = S.cosine_topk_bruteforce(emb, queries, k=10).collect()
    approx = S.cosine_topk_ivf(emb, queries, cents, k=10, nprobe=4).collect()
    from collections import defaultdict

    e, a = defaultdict(set), defaultdict(set)
    escore = {}
    for r in exact:
        e[r.query_id].add(r.neighbor_id)
        escore[(r.query_id, r.neighbor_id)] = r.cosine
    for r in approx:
        a[r.query_id].add(r.neighbor_id)
        if (r.query_id, r.neighbor_id) in escore:
            assert abs(escore[(r.query_id, r.neighbor_id)] - r.cosine) < 1e-12
    recalls = [len(e[q] & a[q]) / len(e[q]) for q in e]
    avg = sum(recalls) / len(recalls)
    assert avg >= 0.45, f"IVF recall too low: {avg:.2f}"


def test_ivf_sq8_topk_vs_plain_ivf(spark):
    """The stacked IVF+SQ8 funnel prunes the SAME candidate cells as
    plain IVF and only reorders inside them via the int8 cut, so (a) its
    results are a subset of the IVF candidate universe — every returned
    neighbor must also be reachable by plain IVF at an unbounded rerank —
    and (b) with rerank=30 ≥ k=10 the top-10 should almost always match
    plain IVF's top-10 exactly (≥90% agreement; int8 reordering can only
    drop a true candidate if 30 compressed scores beat it). Returned
    cosines must equal plain IVF's bit-for-bit (same exact rescore)."""
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 100)
    cents = S.train_ivf_centroids(emb, num_cells=8, iters=1)
    plain = S.cosine_topk_ivf(emb, queries, cents, k=10, nprobe=4).collect()
    stacked = S.cosine_topk_ivf_sq8(
        emb, queries, cents, k=10, nprobe=4, rerank=30
    ).collect()
    from collections import defaultdict

    p, s = defaultdict(set), defaultdict(set)
    pscore = {}
    for r in plain:
        p[r.query_id].add(r.neighbor_id)
        pscore[(r.query_id, r.neighbor_id)] = r.cosine
    for r in stacked:
        s[r.query_id].add(r.neighbor_id)
        if (r.query_id, r.neighbor_id) in pscore:
            assert pscore[(r.query_id, r.neighbor_id)] == r.cosine
    agree = [len(p[q] & s[q]) / len(p[q]) for q in p]
    avg = sum(agree) / len(agree)
    assert avg >= 0.9, f"IVF+SQ8 diverges from IVF candidates: {avg:.2f}"


def test_ivf_training_is_deterministic(spark):
    """Two independent trainings must produce bit-identical centroids
    (hash-seeded sample + integer-exact Lloyd update — no RNG state)."""
    import numpy as np

    emb = load_table(spark, SF, "embeddings")
    c1 = S.train_ivf_centroids(emb, num_cells=8, iters=2)
    c2 = S.train_ivf_centroids(emb, num_cells=8, iters=2)
    assert c1.dtype == np.int64 and c1.shape == (8, 64)
    assert (c1 == c2).all()


def test_connected_components_resolves_chains(spark):
    """A-B and B-C pairs (without A-C) must land in ONE cluster labeled by
    the min id; disjoint pairs stay separate."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        ["id_a", "id_b"],
    )
    got = {r.id: r.cluster_id for r in D.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20, 23: 20}


def test_hash_split_is_stable_under_corpus_growth(spark):
    """A document's split must depend only on its id — computing the
    split over a subset must agree with the full corpus (no sampling
    state, no reassignment when data is added)."""
    from mk_kafka_connect_spark.operators.pipeline import hash_split

    d = load_table(spark, SF, "documents")
    full = {r.doc_id: r.split for r in hash_split(d, "doc_id").select("doc_id", "split").collect()}
    half = {
        r.doc_id: r.split
        for r in hash_split(d.filter(F.col("doc_id") % 2 == 0), "doc_id")
        .select("doc_id", "split")
        .collect()
    }
    assert half and all(full[k] == v for k, v in half.items())
    from collections import Counter

    shares = Counter(full.values())
    assert set(shares) == {"train", "val", "test"}
    assert shares["train"] > shares["val"] and shares["train"] > shares["test"]


def test_decontaminate_flags_only_overlapping_docs(spark):
    """Docs sharing ≥2 distinct 3-gram shingles with the benchmark set are
    contaminated; the output covers every training doc exactly once."""
    from mk_kafka_connect_spark.operators.pipeline import decontaminate

    d = load_table(spark, SF, "documents")
    bench = d.filter(F.col("source") == "src0")
    train = d.filter(F.col("source") != "src0")
    out = decontaminate(train, bench, "text", "doc_id", min_overlap=2).collect()
    assert len(out) == train.count()
    flagged = [r for r in out if r.contaminated]
    for r in out:
        assert r.contaminated == (r.n_overlap >= 2)
    # the fixture's near-dup planting makes some cross-source overlap certain
    assert flagged, "expected at least one contaminated doc in the fixture"


def test_exact_dedup_counts(spark):
    ev = load_table(spark, SF, "events")
    out = D.exact_dedup(ev, "props", "event_id")
    total = out.agg(F.sum("n_copies")).first()[0]
    assert total == ev.count()  # partition of the input


def test_approx_count_distinct_error_bound(spark):
    """HLL sketch must be within 5% of the exact distinct count (rsd=2%)."""
    li = load_table(spark, SF, "lineitem")
    row = li.agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx"),
        F.countDistinct("l_partkey").alias("exact"),
    ).first()
    assert abs(row.approx - row.exact) / row.exact < 0.05


def test_decontaminate_lsh_catches_true_cross_source_dups(spark):
    """The LSH decontamination flags must (a) include every train doc
    whose TRUE 3-gram Jaccard against some benchmark doc is high (the
    planted cross-source dups, true J ~0.99 -- at that similarity the
    expected signature agreement is ~J and cannot plausibly fall below
    the 0.5 gate), and (b) never flag a doc with no banded candidate.
    Cross-checks the approximate flags against the exact ngram oracle."""
    from mk_kafka_connect_spark.operators.pipeline import decontaminate_lsh

    d = load_table(spark, SF, "documents")
    bench = d.filter(F.col("source") == "src0")
    train = d.filter(F.col("source") != "src0")
    out = decontaminate_lsh(train, bench, "text", "doc_id", threshold=0.5)
    flagged = {r["doc_id"]: r for r in out.filter(F.col("contaminated")).collect()}
    assert flagged, "planted cross-source near-dups must be flagged"
    for r in flagged.values():
        assert r["n_bench_matches"] >= 1
        assert r["max_est_jaccard"] >= 0.5
    # exact ground truth: cross-source pairs with true jaccard >= 0.9
    from mk_kafka_connect_spark.operators.dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(d, "text", "doc_id", n=3, threshold=0.9).collect()
    bench_ids = {r["doc_id"] for r in bench.select("doc_id").collect()}
    strong = set()
    for p in pairs:
        a, b = p["id_a"], p["id_b"]
        if (a in bench_ids) != (b in bench_ids):
            strong.add(b if a in bench_ids else a)
    assert strong, "fixture should contain strong cross-source dups"
    missed = strong - set(flagged)
    assert not missed, f"true near-dups missed by LSH decontamination: {missed}"


def test_verbatim_spans_position_independent_and_planted(spark):
    """Content-defined sampling must be position-independent: the same
    200-char block pasted at DIFFERENT offsets of two otherwise-random
    documents must be detected, and unrelated docs must not pair."""
    import random as _random

    from mk_kafka_connect_spark.operators.dedup import verbatim_span_pairs

    rng = _random.Random(7)
    alpha = "abcdefghijklmnopqrstuvwxyz "
    rand = lambda n: "".join(rng.choice(alpha) for _ in range(n))
    block = rand(200)
    rows = [
        (1, rand(300) + block + rand(100)),   # block at offset 300
        (2, rand(50) + block + rand(400)),    # same block at offset 50
        (3, rand(600)),                        # unrelated
        (4, rand(600)),                        # unrelated
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r["id_a"], r["id_b"]): r["n_shared_spans"]
        for r in verbatim_span_pairs(df, "text", "doc_id").collect()
    }
    assert (1, 2) in pairs, f"planted 200-char shared block missed: {pairs}"
    # ~ (200-19)/16 ≈ 11 expected shared fingerprints
    assert pairs[(1, 2)] >= 2
    for p in pairs:
        assert p == (1, 2), f"false pair {p} between unrelated docs"


def test_pq_topk_recall_vs_bruteforce(spark):
    """PQ flat-index top-10 (16 subspaces x 16 codes, rerank=60) must
    reach >=80% average recall of the exact top-10 on the near-random
    fixture (PQ's worst case — reconstruction error is maximal without
    cluster structure; measured ~0.89). Rescored cosines must equal the
    exact scores bit-for-bit."""
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 100)
    exact = S.cosine_topk_bruteforce(emb, queries, k=10).collect()
    books = S.train_pq_codebooks(emb, num_sub=16, codes_per_sub=16, iters=1)
    approx = S.cosine_topk_pq(emb, queries, books, k=10, rerank=60).collect()
    from collections import defaultdict

    e, a = defaultdict(set), defaultdict(set)
    escore = {}
    for r in exact:
        e[r.query_id].add(r.neighbor_id)
        escore[(r.query_id, r.neighbor_id)] = r.cosine
    for r in approx:
        a[r.query_id].add(r.neighbor_id)
        if (r.query_id, r.neighbor_id) in escore:
            assert escore[(r.query_id, r.neighbor_id)] == r.cosine
    recalls = [len(e[q] & a[q]) / len(e[q]) for q in e]
    avg = sum(recalls) / len(recalls)
    assert avg >= 0.8, f"PQ recall too low: {avg:.2f}"


def test_pq_codebooks_deterministic_and_compact(spark):
    """Training must be bit-identical across partitionings (integer
    Lloyd, hash-ordered seeds), and the packed index must physically be
    num_sub bytes per vector."""
    import numpy as np

    emb = load_table(spark, SF, "embeddings")
    b1 = S.train_pq_codebooks(emb, num_sub=16, codes_per_sub=16, iters=1)
    b2 = S.train_pq_codebooks(emb.repartition(7), num_sub=16, codes_per_sub=16, iters=1)
    assert (b1 == b2).all()
    assert b1.shape == (16, 16, 4)
    coded = S._pq_assign(
        emb.select(F.col("vec_id").alias("id"), S.quantize(F.col("embedding")).alias("cv")),
        b1,
        vec_col="cv",
    ).select(S._pq_pack_udf()(F.col("_codes")).alias("pqc"))
    lens = {len(r.pqc) for r in coded.collect()}
    assert lens == {16}


def test_ivf_pq_topk_vs_plain_ivf(spark):
    """The stacked IVF+PQ index must track plain IVF (same cell
    pruning): recall loss from scoring the shortlist in 16-byte codes
    instead of full ints must stay within 0.1 of plain IVF's recall
    (measured 0.71 vs 0.74 on the near-random fixture), and the exact
    rescore keeps every returned cosine bit-equal to brute force."""
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 100)
    from collections import defaultdict

    exact = S.cosine_topk_bruteforce(emb, queries, k=10).collect()
    ivf = S.train_ivf_centroids(emb, num_cells=8, iters=1)
    books = S.train_pq_codebooks(emb, num_sub=16, codes_per_sub=16, iters=1)
    stacked = S.cosine_topk_ivf_pq(
        emb, queries, ivf, books, k=10, nprobe=4, rerank=60
    ).collect()
    plain = S.cosine_topk_ivf(emb, queries, ivf, k=10, nprobe=4).collect()
    e, a, p = defaultdict(set), defaultdict(set), defaultdict(set)
    escore = {}
    for r in exact:
        e[r.query_id].add(r.neighbor_id)
        escore[(r.query_id, r.neighbor_id)] = r.cosine
    for r in stacked:
        a[r.query_id].add(r.neighbor_id)
        if (r.query_id, r.neighbor_id) in escore:
            assert escore[(r.query_id, r.neighbor_id)] == r.cosine
    for r in plain:
        p[r.query_id].add(r.neighbor_id)
    rec = sum(len(e[q] & a[q]) / len(e[q]) for q in e) / len(e)
    rec_plain = sum(len(e[q] & p[q]) / len(e[q]) for q in e) / len(e)
    assert rec >= 0.6, f"IVF+PQ recall too low: {rec:.2f}"
    assert rec >= rec_plain - 0.1, f"PQ shortlist lost too much: {rec:.2f} vs {rec_plain:.2f}"


def test_pair_cosine_kernel_guards_degenerate_vectors(spark):
    """ADVICE r17: a NULL or zero-norm vector through the Arrow pair-
    cosine kernel must score SQL NULL — matching the DuckDB oracle's
    NULL propagation / NULL-on-division-by-zero — not IEEE NaN (which
    Spark's descending sort ranks FIRST, silently inverting top-k) and
    not a ragged-ndarray crash. Degenerate neighbors therefore rank
    LAST in every top-k built on the kernel, in both engines."""
    rows = [
        (0, [1.0, 2.0, 3.0, 4.0]),
        (1, [1.0, 2.0, 3.0, 5.0]),
        (2, [-1.0, 2.0, -3.0, 4.0]),
        (3, [0.0, 0.0, 0.0, 0.0]),  # zero norm
        (4, None),  # NULL vector
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = S.cosine_topk_bruteforce(
        emb, emb.filter(F.col("vec_id") == 0), k=10
    ).collect()
    by_rank = {r.rank: r for r in sorted(out, key=lambda r: r.rank)}
    # Real neighbors first, best match (vec 1) on top.
    assert by_rank[1].neighbor_id == 1
    assert all(
        by_rank[r].cosine is not None for r in (1, 2)
    ), "real pairs must keep real scores"
    # Degenerate neighbors present but ranked last with NULL cosine —
    # the DuckDB ordering (NULLS LAST) and value (NULL) exactly.
    tail = [by_rank[r] for r in (3, 4)]
    assert sorted(t.neighbor_id for t in tail) == [3, 4]
    assert all(t.cosine is None for t in tail), "degenerate pairs must be NULL, not NaN"
