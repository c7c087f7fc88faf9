"""Blanket scale-smell sweep over EVERY registered query plan.

The per-query posture tests pin specific shapes; this sweep guards the
whole registry against the silent scale-killers — a cross product or
nested-loop join sneaking into a new query, or a row-at-a-time Python
UDF landing in a hot path. Anything flagged must be on the explicit
allowlist with a reason, or the test fails."""

from __future__ import annotations

import re
from collections import Counter

import pytest

from mk_kafka_connect_spark.plans import QUERIES

SF = "/root/testdata/sf0.001"

# name -> reason a smell is deliberate there.
ALLOWED = {
    # Oracle-tier exact ground truths (labeled NOT-scale ops in COVERAGE.md).
    "dedup_embedding_cosine": "bounded all-pairs ground truth",
    "sim_topk_bruteforce": "exact |Q|x|C| baseline the ANN paths verify against",
    "sim_topk_sq8": "SQ8 flat index: |Q|x|C| by design at 1/8 scan bandwidth; "
    "IVF/LSH are the comparison-pruning tiers",
    "sim_topk_pq": "PQ flat index: |Q|x|C| by design at 16 B/vector "
    "(codebook-gather ADC); IVF/LSH are the comparison-pruning tiers",
    "sim_mmr_rerank": "shortlist generation is the bruteforce relevance scan "
    "(swap in IVF/LSH at scale); the greedy runs over pool-sized Arrow batches",
    "sim_recall_ivf_vs_exact": "embeds sim_topk_bruteforce (the exact |Q|x|C| "
    "baseline) by definition — recall is measured AGAINST it",
    # Declared operator surface.
    "join_cross": "the B6 cross-join coverage query itself",
    "udf_row_python": "deliberate B14 row-UDF surface (paired with vectorized variants)",
    "udf_python_udtf": "deliberate B14 UDTF surface",
    "udf_udtf_table_arg": "deliberate B14 PTF surface (UDTF with TABLE "
    "argument is per-row Python by definition; partitions shuffle once)",
    "udf_udtf_dynamic_schema": "deliberate B14 UDTF surface (lateral "
    "analyze-time-schema UDTF is per-row Python by definition; bounded "
    "2000-doc slice, no shuffle before the 3-group rollup)",
    # 1-row scalar broadcast: a BNLJ whose build side is a single
    # aggregate row IS the scalar-subquery plan — not a scale risk.
    "q22_global_sales_opportunity": "1-row average-threshold broadcast",
    "subquery_in_scalar": "1-row scalar-subquery broadcast",
    "subquery_correlated_scalar": "decorrelated scalar may plan as 1-row broadcast",
    "docs_vocab_coverage": "1-row corpus-token-total broadcast",
    "docs_balance_strata": "1-row min-stratum-cap broadcast",
    "docs_nb_threshold_sweep": "7-row threshold-ladder broadcast (the "
    "operating-point sweep is a constant-sized expansion by design)",
    "docs_tfidf_topterms": "1-row corpus-doc-count broadcast",
    "docs_weighted_sample": "1-row max-weight broadcast",
    "docs_good_turing": "1-row corpus-totals broadcast (n_tokens, vocab, "
    "N1) over the O(max word count)-row count-of-counts table",
    "docs_heaps_law": "1-row moment-vector x 1-row totals broadcast (the "
    "regression runs on two single-row aggregates)",
    "graph_assortativity": "1-row moment-vector x 1-row node-count broadcast",
    "events_permutation_test": "1-row observed-statistic + 1-row exceedance-"
    "count broadcasts (the 99 permutation rows join two scalars)",
    "events_kruskal_wallis": "k-row group table x 1-row H-statistic broadcast "
    "(k = |event types|)",
    "orders_theil_sen": "calendar-bounded day-table self-join (~2.4k rows at "
    "ANY data scale — the pair enumeration is bounded by the date span, not "
    "row count) + 1-row median/moment broadcasts",
    "orders_rfm_segments": "1-row snapshot-date broadcast",
    "dq_t_closeness": "1-row band-bounds broadcast (the classes x bands "
    "frame is domain-sized, built by explode(sequence) off one bounds row)",
    "events_decayed_leaderboard": "1-row reference-date broadcast (decay origin)",
    "events_seasonal_backtest": "1-row reference-date broadcast (train/test split)",
    "basket_brand_affinity": "1-row order-count broadcast (lift denominator)",
    "text_langid_confusion": "1-row corpus-total broadcast (fraction denominator)",
    "agg_heavy_hitters": "1-row corpus-total + 1-row summed-error broadcasts",
    "agg_bitmap_audience_overlap": "types-sized pair-enumeration self-join "
    "(|types|^2 rows over the per-type summary) — replaces the former "
    "driver-side type-list collect; state rows reach pairs via hash joins",
    # The build side is the K-row centroid relation (K = |labels|, tens of
    # rows): a broadcast K-row dimension against which every row scores is
    # exactly what nearest-centroid classification IS — bounded by K, not
    # by data volume. Forcing a constant-key hash join would do the same
    # work through one degenerate hash bucket.
    "sim_nearest_centroid": "K-row centroid broadcast (K = |labels|)",
    "sim_hybrid_rrf": "1-row query-vector broadcast (vec_id-0 probe); "
    "the vector branch is the declared brute-force baseline tier",
    "events_block_bootstrap_ci": "1-row point-estimate x 1-row ci_lo x "
    "1-row ci_hi broadcasts (three single-row order-statistic/total "
    "attaches onto the final audit row)",
    "docs_dsir_importance": "1-row corpus-totals broadcast (T, R "
    "smoothing denominators for the 512-bucket model)",
    "emb_matryoshka_recall": "25-row query-batch broadcast; the exact "
    "|Q|x|C| evaluation tier (same posture as sim_topk_bruteforce)",
    "agg_kmv_set_sketch": "1-row sketch-scalar broadcasts (per-type "
    "kth-min / union stats / exact ground truth composed into one row)",
    "docs_ks_drift_by_source": "1-row sample-size totals broadcast "
    "(n_a, n_b cross-multiplication denominators)",
    "events_acf_hourly": "1-row series-stats broadcasts (n, S mean "
    "deviation scalers and the ACF denominator)",
    "graph_pagerank": "1-row node-count broadcast (init/base damping constants)",
    "orders_pareto_customers": "1-row revenue-total broadcast (share denominator)",
    "docs_bm25_topk": "1-row corpus-stats broadcast (N, sum-dl denominators)",
    "docs_collocations_lift": "two 1-row corpus-total broadcasts "
    "(N_uni, N_bi lift denominators)",
    "docs_char_bigram_rarity": "1-row corpus-total broadcast "
    "(rarity denominator)",
    "docs_zipf_fit": "1-row corpus-total broadcast (rel_freq/zipf_c "
    "denominator) onto the 100-row TakeOrdered result",
    "docs_dataset_card": "1-row corpus-totals broadcast (share denominators)",
    "docs_nb_quality_classifier": "1-row broadcasts (train-token totals, "
    "class prior, unseen-bucket Laplace floor, confusion-matrix total)",
    "docs_nb_quality_auc": "same 1-row broadcasts via the shared "
    "_nb_scored path (train-token totals, class prior, Laplace floor)",
    "docs_doremi_mixture": "1-row broadcasts (shared LM vocabulary size, "
    "reference-domain xent, weight-normalization total) onto the "
    "|sources|-row mixture relation",
    "docs_wordlm_xent": "1-row vocabulary-size broadcast (Laplace "
    "smoothing denominator V)",
    "docs_ccnet_buckets": "1-row vocabulary-size broadcast (shared "
    "_wordlm_scored LM table, same Laplace denominator V)",
    "dedup_semantic_kmeans": "8-row centroid broadcast per Lloyd "
    "round (SemDeDup assignment; k rows, never data-sized)",
    "er_fellegi_sunter": "1-row m/u-weight broadcast (four quantized "
    "log-odds scalars applied to every candidate pair)",
    "events_binseg_changepoints": "1-row broadcasts onto the "
    "calendar-bounded hourly series (series totals and the level-0 "
    "split index)",
    "orders_survival_km": "1-row dataset-end-date broadcast (censoring "
    "horizon applied per customer)",
    "docs_textrank_keywords": "1-row node-count broadcast inside the "
    "PageRank kernel (init/base damping constants, same as "
    "graph_pagerank)",
    "sim_knn_loo_eval": "200-row eval-slice broadcast; the exact "
    "|Q|x|C| evaluation tier (same posture as sim_topk_bruteforce)",
    "sim_eval_ndcg_mrr": "embeds sim_topk_bruteforce (the exact |Q|x|C| "
    "evaluation tier the metric is defined over) + a 10-row rank-gain "
    "broadcast (the IDCG theta join on rank <= min(R,10))",
}

# Unpartitioned WindowExec (Spark logs "No Partition Defined ... moving
# all data to a single partition") is a scale-killer over anything
# data-sized, and over a PROVABLY BOUNDED input (a ≤K-row TakeOrdered
# result, a coarse-block prefix table, a calendar-bounded day table)
# it must go through functions/bounded.py::bounded_window, whose
# non-foldable constant partition key makes the reviewed boundedness
# visible in the plan. Consequently the allowlist is EMPTY: every
# window with an empty partition spec is a failure — either partition
# it, restructure (ORDER BY + LIMIT / block-prefix), or wrap the
# bounded input in bounded_window with the argument in the docstring.
WINDOW_ALLOWED: dict[str, str] = {}

# Duplicate-subtree guard (the dq_fd_discovery class, VERDICT r13 item 4):
# a query whose physical plan scans ONE source table more than this many
# times is re-executing a shared subtree — Spark shares no subtrees across
# union branches, so a "derive N outputs from one aggregate via N selects"
# shape re-runs the aggregate N times (dq_fd_discovery did 30 scans for a
# 30-row result before its single-pass rewrite). Legitimate exceptions are
# bounded multi-pass designs (model fit → score → evaluate) and derived-
# relation re-references that runtime exchange reuse deduplicates — those
# go on the allowlist with the argument.
SCAN_ALLOWANCE = 6

SCAN_ALLOWED = {
    # Bounded multi-pass model pipelines: each extra pass is a fit /
    # score / evaluate stage over the SAME relation — passes ∝ pipeline
    # stages (a constant), never ∝ data or output size.
    "agg_kmv_set_sketch": "7 passes: per-type sketch fit + union stats + "
    "exact ground-truth legs composed into one report",
    "dedup_ngram_containment": "8 passes: shingle legs for both sides of "
    "the containment join + totals (constant pipeline stages)",
    "dedup_ngram_jaccard": "8 passes: declared exact oracle tier — shingle "
    "legs both sides + union/intersection totals",
    "docs_nb_quality_classifier": "10 passes: train/test split legs × "
    "(token fit, class priors, score, confusion) — constant stages",
    "docs_nb_quality_auc": "10 passes: the same shared _nb_scored "
    "fit/score legs as the classifier, plus the rank-block prefix "
    "re-reference — constant pipeline stages, never ∝ data",
    "docs_wordlm_xent": "8 passes: LM fit legs (unigram/bigram + totals) "
    "then the scoring pass — constant stages",
    "events_binseg_changepoints": "8 passes: level-0/1 segment-moment legs "
    "over the calendar-bounded hourly series (bounded rows at any scale)",
    "events_kruskal_wallis": "7 passes: rank legs + per-group moments + "
    "tie-correction totals — constant stages",
    "orders_theil_sen": "9 passes: calendar-bounded day-table legs "
    "(~2.4k rows at any scale) + median/moment scalars",
    "pipeline_stage_funnel": "10 passes: one leg per declared pipeline "
    "stage (gate→dedup→decontaminate→split→pack→stats) — the funnel "
    "measures each stage's survivors, stages are a constant",
    "emb_matryoshka_recall": "10 passes: one exact-ranking leg per "
    "truncation width — the declared exact evaluation tier",
    "dedup_lsh_recall_report": "10 passes: LSH candidate leg + exact "
    "ground-truth leg + per-band diagnostics — the declared eval tier",
    # Derived-relation re-references: the repeated scans sit beneath
    # IDENTICAL deterministic exchange subtrees, which Spark's runtime
    # exchange reuse (spark.sql.exchange.reuse, default on; verified as
    # ReusedExchange nodes in the final adaptive plans) executes once —
    # the static count overstates executed scans.
    "graph_triangles": "edges/oriented/deg re-referenced through 3 "
    "equi-joins; ReusedExchange=21 verified in the final plan",
    "orders_conformal_interval": "calibration/score legs re-reference the "
    "same residual relation; exchange-reused",
}

_SCAN_LOC = re.compile(r"Location: [A-Za-z]+\(\d+ paths?\)\[([^\],]+)")

_BATCH = [
    (n, s)
    for n, s in QUERIES.items()
    if "streaming" not in s.tags and not n.startswith("streaming")
]


def _unpartitioned_windows(plan: str) -> list[str]:
    """Sort keys of every windowspecdefinition with NO partition columns.

    In the executed-plan string a window spec reads
    ``windowspecdefinition(part..., key ASC/DESC ..., specifiedwindowframe(...))``;
    partition columns carry no sort direction, so an ASC/DESC marker in the
    FIRST top-level argument means the partition list is empty — exactly the
    case where WindowExec moves everything to a single partition."""
    out: list[str] = []
    i = 0
    token = "windowspecdefinition("
    while True:
        j = plan.find(token, i)
        if j < 0:
            return out
        k = j + len(token)
        depth, end = 1, k
        while depth and end < len(plan):
            ch = plan[end]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            end += 1
        args = plan[k : end - 1]
        d, first_end = 0, len(args)
        for idx, ch in enumerate(args):
            if ch == "(":
                d += 1
            elif ch == ")":
                d -= 1
            elif ch == "," and d == 0:
                first_end = idx
                break
        first = args[:first_end]
        if " ASC" in first or " DESC" in first:
            out.append(first.strip())
        i = end


@pytest.mark.parametrize("name", [n for n, _ in _BATCH])
def test_no_unexpected_scale_smells(spark, name):
    plan = QUERIES[name].fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
    smells = []
    if "CartesianProduct" in plan:
        smells.append("CartesianProduct")
    if "BroadcastNestedLoopJoin" in plan:
        smells.append("BroadcastNestedLoopJoin")
    if "BatchEvalPython" in plan:
        smells.append("row-at-a-time Python UDF")
    if smells and name not in ALLOWED:
        raise AssertionError(
            f"{name}: unexpected scale smell(s) {smells} — either fix the plan "
            f"or allowlist with a reason in test_plan_smells.py"
        )
    globals_ = _unpartitioned_windows(plan)
    if globals_ and name not in WINDOW_ALLOWED:
        raise AssertionError(
            f"{name}: unpartitioned WindowExec over sort keys {globals_} — "
            f"a single-partition global sort at scale. Use ORDER BY + LIMIT "
            f"(TakeOrderedAndProject) for top-k, the block-prefix device "
            f"(plans/layout.py grouped rank) for global rank/cumsum, or "
            f"allowlist with a boundedness argument in WINDOW_ALLOWED."
        )
    over = {
        path.rsplit("/", 1)[-1]: c
        for path, c in Counter(_SCAN_LOC.findall(plan)).items()
        if c > SCAN_ALLOWANCE
    }
    if over and name not in SCAN_ALLOWED:
        raise AssertionError(
            f"{name}: scans one table more than {SCAN_ALLOWANCE} times "
            f"({over}) — a shared subtree is being re-executed (Spark "
            f"shares no subtrees across union branches). Compute the "
            f"shared aggregate once and unpivot with stack(), or allowlist "
            f"with a bounded-passes / exchange-reuse argument in "
            f"SCAN_ALLOWED."
        )


# The "exchange-reused" SCAN_ALLOWED entries rest on a runtime claim:
# the duplicated scans sit beneath identical deterministic exchanges
# that Spark executes once. Pin it — if a future edit makes the
# subtrees non-identical (e.g. a nondeterministic expression sneaks
# in), reuse silently stops and the static scan count becomes real
# executed work; this test would catch that as a missing ReusedExchange.
# r18: sim_mutual_knn and layout_zorder_pruning_stats left this list —
# their shared relations are now localCheckpoint-materialized inside the
# query body (single derivation by construction), so there is no
# duplicated exchange left to reuse and no over-scan to excuse.
# dedup_semantic_kmeans left both lists once its Lloyd assignment became
# a map over a broadcast centroid row: its executed plan at sf0.001 has
# no parquet scan at all, only three checkpointed ExistingRDD relations.
_REUSE_BACKED = [
    "graph_triangles",
    "orders_conformal_interval",
]


@pytest.mark.parametrize("name", _REUSE_BACKED)
def test_exchange_reuse_backs_scan_allowlist(spark, name):
    df = QUERIES[name].fn(spark, SF)
    df.collect()  # AQE finalizes reuse only at execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan, (
        f"{name}: no ReusedExchange in the executed plan — the SCAN_ALLOWED "
        f"'exchange-reused' justification no longer holds; re-audit the plan."
    )


def test_no_direct_collect_into_createdataframe():
    """plans/materialize.py is the ONE module in plans/ and operators/
    that builds a DataFrame from driver-side data. Its local_relation
    builds one over an Arrow table, which Spark answers in the JVM; a
    direct createDataFrame(rows, schema) plans a Scan ExistingRDD whose
    action starts Python worker tasks. Its materialize_result adds the
    row ceiling that keeps the createDataFrame(df.collect(), ...) idiom
    out of data-sized paths. Any createDataFrame( elsewhere in plans/ or
    operators/ fails, and so does the collect idiom anywhere in the
    package."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "mk_kafka_connect_spark"
    collect_idiom = re.compile(r"createDataFrame\(\s*[\w.]+\.collect\(\)", re.S)
    direct_banned = (pkg / "plans", pkg / "operators")
    offenders = [
        str(p.relative_to(pkg.parent))
        for p in sorted(pkg.rglob("*.py"))
        if p.name != "materialize.py"
        and (
            collect_idiom.search(p.read_text())
            or (
                any(d in p.parents for d in direct_banned)
                and "createDataFrame(" in p.read_text()
            )
        )
    ]
    assert not offenders, (
        f"direct createDataFrame in {offenders}; use "
        "plans.materialize.local_relation or materialize_result"
    )


def test_engine_code_reaches_workers_by_value_only():
    """Engine code reaches Python workers one way: its modules are pickled
    by value through PySpark's own ``pyspark.cloudpickle``. The standalone
    cloudpickle package keeps a registry PySpark never reads, and an
    ``addPyFile`` zip reaches task workers but not the streaming source
    runner, so neither may come back into the package."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "mk_kafka_connect_spark"
    banned = re.compile(r"ship_package|addPyFile\(|^\s*(?:import|from) cloudpickle\b", re.M)
    offenders = [
        f"{p.relative_to(pkg.parent)}: {m.group(0).strip()}"
        for p in sorted(pkg.rglob("*.py"))
        for m in banned.finditer(p.read_text())
    ]
    assert not offenders, offenders
