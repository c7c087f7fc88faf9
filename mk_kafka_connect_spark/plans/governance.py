"""Round-13 data-governance / model-quality query surface: privacy
re-identification audits (k-anonymity, l-diversity, entropy
l-diversity), a supervised hashed Naive-Bayes quality classifier with a
held-out confusion matrix, and a word-bigram language-model
cross-entropy filter (the CCNet-style "perplexity" quality gate,
reported as exact cross-entropy so no transcendental ``exp`` has to
agree across engines).

Same oracle discipline as the rest of the registry
(``plans/curation.py``): deterministic md5-based integer hashing
(functions/hashing.py), 8-decimal-rounded logs of exact integers
quantized to int64 before any cross-partition sum, and a single shared
final division — so DuckDB reproduces every value bit-for-bit and every
aggregation is order-independent across partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.bounded import bounded_window
from ..functions.hashing import SQL_MD5_MOD, SQL_SHINGLES, SQL_WORDS, md5_mod, shingles, words
from .curation import _lnq
from .llm import _set_oracle as _patch_oracle
from .registry import query

# ---------------------------------------------------------------------------
# dq_k_anonymity — privacy re-identification audit over quasi-identifiers
# ---------------------------------------------------------------------------

_KANON_K = 5  # classes smaller than this are re-identification risks
_LNQ_SCALE = 100_000_000  # int64 quantization of the 8-decimal lnq


def _lnq_q(col):
    """round(ln(n), 8) quantized to an exact int64 at 1e-8.

    ``n >= 1`` everywhere below, so the value is non-negative and the
    half-up rounding of both engines agrees; the int64 form makes every
    downstream sum order-independent."""
    return F.round(_lnq(col) * _LNQ_SCALE, 0).cast("long")


def _sql_lnq_q(expr: str) -> str:
    return (
        f"CAST(round(round(ln(CAST({expr} AS DOUBLE)), 8) * {_LNQ_SCALE}, 0)"
        f" AS BIGINT)"
    )


@query(
    "dq_k_anonymity",
    oracle=f"""
    WITH cells AS (
      SELECT c_mktsegment, c_nationkey,
        CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS acct_band,
        count(*) AS cnt
      FROM customer
      GROUP BY 1, 2, 3),
    classes AS (
      SELECT c_mktsegment, c_nationkey,
        CAST(sum(cnt) AS BIGINT) AS k_size,
        CAST(count(*) AS BIGINT) AS l_div,
        sum(cnt * {_sql_lnq_q('cnt')}) AS num
      FROM cells
      GROUP BY c_mktsegment, c_nationkey)
    SELECT c_mktsegment, c_nationkey, k_size, l_div,
      CAST((k_size * {_sql_lnq_q('k_size')} - num) AS DOUBLE)
        / (k_size * {_LNQ_SCALE}) AS entropy_l,
      k_size >= {_KANON_K} AS k_anonymous
    FROM classes
    """,
    tags=("dq", "B7", "privacy", "k-anonymity"),
)
def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit (Sweeney 2002; Machanavajjhala
    2007) of the customer table under the quasi-identifier
    (market segment, nation): each equivalence class reports its size k
    (rows sharing the QI — a class below k=5 is a re-identification
    risk), the l-diversity of the sensitive attribute (distinct
    account-balance 2000-wide bands inside the class), and the entropy
    l-diversity H = ln k − (1/k)·Σ c·ln c — low entropy means one
    sensitive value dominates the class even when l looks healthy.

    Determinism: band = floor(acctbal/2000) is one IEEE divide + floor
    (identical bits cross-engine); the entropy numerator is an exact
    int64 sum of count-weighted 1e-8-quantized logs, divided once at
    the end — order-independent across partitions.

    Scale shape: two map-side-combinable groupBys (QI+band, then QI) —
    output is bounded by |QI domain|, never by row count. No window,
    no join. At 100 TB this is the cheapest possible full-table audit:
    one pass, two partial aggregations.
    """
    c = load_table(spark, sf_dir, "customer")
    cells = c.groupBy(
        "c_mktsegment",
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 2000.0).cast("long").alias("acct_band"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    classes = cells.groupBy("c_mktsegment", "c_nationkey").agg(
        F.sum("cnt").cast("long").alias("k_size"),
        F.count(F.lit(1)).cast("long").alias("l_div"),
        F.sum(F.col("cnt") * _lnq_q(F.col("cnt"))).alias("_num"),
    )
    return classes.select(
        "c_mktsegment",
        "c_nationkey",
        "k_size",
        "l_div",
        (
            (F.col("k_size") * _lnq_q(F.col("k_size")) - F.col("_num")).cast(
                "double"
            )
            / (F.col("k_size") * F.lit(_LNQ_SCALE))
        ).alias("entropy_l"),
        (F.col("k_size") >= _KANON_K).alias("k_anonymous"),
    )


# ---------------------------------------------------------------------------
# docs_nb_quality_classifier — hashed Naive Bayes with held-out confusion
# ---------------------------------------------------------------------------

_NB_B = 256  # hashed feature buckets
_NB_SCALE = 1_000_000  # int64 quantization of per-bucket log-ratios
_NB_POS = "en"  # positive class: English documents


def _nb_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out per-document NB score table shared by the confusion
    matrix (docs_nb_quality_classifier) and the threshold-free AUC
    report (docs_nb_quality_auc): (doc_id, y, score_q), where score_q =
    prior_q + sum of per-bucket quantized log-likelihood ratios — an
    exact int64 (order-independent sum of int64 terms), so every
    downstream comparison and ranking is bit-equal in DuckDB.

    Extracted round 17 from the classifier body (mechanically identical
    up to the final select). Scale shape unchanged: model
    fit is a 256-bucket groupBy with map-side partial aggregation,
    model/totals/prior broadcast to the scorer, scoring is explode →
    broadcast hash join → integer groupBy(doc_id)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        (F.col("lang") == _NB_POS).alias("y"),
        (md5_mod(F.col("doc_id").cast("string")) % 10 < 8).alias("is_train"),
    )
    # feats (the corpus word explode) feeds the model fit AND the
    # held-out scorer; model (256 rows) feeds tot, lr and floor_q.
    # Materialized once each, the explode runs once instead of four
    # times (lr, tot-inside-lr, floor_q→tot, scorer).
    feats = docs.select(
        "doc_id",
        "y",
        "is_train",
        F.explode(words(F.col("text"))).alias("w"),
    ).select(
        "doc_id", "y", "is_train", (md5_mod(F.col("w")) % _NB_B).alias("b")
    ).localCheckpoint(eager=False)
    train = feats.filter("is_train")
    model = train.groupBy("b").agg(
        F.sum(F.when(F.col("y"), 1).otherwise(0)).alias("ct"),
        F.sum(F.when(~F.col("y"), 1).otherwise(0)).alias("cr"),
    ).localCheckpoint(eager=False)
    tot = model.agg(F.sum("ct").alias("t_tot"), F.sum("cr").alias("r_tot"))
    prior = (
        docs.filter("is_train")
        .agg(
            F.sum(F.when(F.col("y"), 1).otherwise(0)).alias("n_pos"),
            F.sum(F.when(~F.col("y"), 1).otherwise(0)).alias("n_neg"),
        )
        .select(
            F.round(
                (_lnq(F.col("n_pos") + 1) - _lnq(F.col("n_neg") + 1))
                * _NB_SCALE,
                0,
            )
            .cast("long")
            .alias("prior_q")
        )
    )
    lr = model.crossJoin(F.broadcast(tot)).select(
        "b",
        F.round(
            (
                _lnq(F.col("ct") + 1)
                - _lnq(F.col("t_tot") + _NB_B)
                - _lnq(F.col("cr") + 1)
                + _lnq(F.col("r_tot") + _NB_B)
            )
            * _NB_SCALE,
            0,
        )
        .cast("long")
        .alias("lr_q"),
    )
    floor_q = tot.select(
        F.round(
            (_lnq(F.col("r_tot") + _NB_B) - _lnq(F.col("t_tot") + _NB_B))
            * _NB_SCALE,
            0,
        )
        .cast("long")
        .alias("floor_q")
    )
    return (
        feats.filter(~F.col("is_train"))
        .join(F.broadcast(lr), "b", "left")
        .crossJoin(F.broadcast(floor_q))
        .groupBy("doc_id", "y")
        .agg(
            F.sum(F.coalesce(F.col("lr_q"), F.col("floor_q"))).alias("feat_q")
        )
        .crossJoin(F.broadcast(prior))
        .select(
            "doc_id", "y", (F.col("prior_q") + F.col("feat_q")).alias("score_q")
        )
    )


def _register_nb_classifier() -> None:
    @query(
        "docs_nb_quality_classifier",
        oracle=None,  # patched below
        tags=("text", "B15", "classifier", "quality"),
    )
    def docs_nb_quality_classifier(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """fastText-style supervised quality classifier as multinomial
        Naive Bayes over hashed bag-of-words features (md5 → 256
        buckets), trained on the deterministic 80% hash split
        (md5(doc_id) % 10 < 8, the same split as ``docs_hash_split``)
        to predict lang = 'en', evaluated on the held-out 20%. Returns
        the confusion matrix — (actual, predicted, n_docs, share) —
        the standard eval artifact for a corpus quality/language gate.
        (The synthetic fixture draws every language from ONE shared
        vocabulary, so the measured confusion is near-chance by
        construction; the contract test replays the whole train/score
        path in plain Python and checks the matrix cell-for-cell.)

        Determinism: per-bucket log-likelihood ratio
        ln((ct+1)/(t_tot+B)) − ln((cr+1)/(r_tot+B)) and the class-prior
        log-ratio are composed of 8-decimal-rounded lns of exact
        integers, quantized to int64 at 1e-6 — every per-doc score is
        an exact integer sum (order-independent), so the decision
        boundary score > 0 is bit-equal in DuckDB.

        Scale shape: the model fit is a groupBy over 256 buckets
        (map-side partial aggregation emits ≤256 rows per task); the
        model and the 1-row totals broadcast to the scorer; scoring is
        explode → broadcast hash join → integer groupBy(doc_id); the
        confusion matrix is a 4-row aggregate. The corpus is scanned
        exactly twice and never shuffled by anything wider than
        doc_id. Unseen-bucket features fall back to the Laplace floor
        via coalesce, not a dropped join row.
        """
        scored = _nb_scored(spark, sf_dir).select(
            "y", (F.col("score_q") > 0).alias("pred")
        )
        cm = scored.groupBy("y", "pred").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs")
        )
        total = cm.agg(F.sum("n_docs").alias("n_total"))
        return cm.crossJoin(F.broadcast(total)).select(
            F.col("y").alias("actual"),
            F.col("pred").alias("predicted"),
            "n_docs",
            (F.col("n_docs").cast("double") / F.col("n_total")).alias(
                "share"
            ),
        )


_register_nb_classifier()


def _sql_nb_scored_prefix() -> str:
    """The WITH-chain through the held-out ``scored`` (doc_id, y,
    score_q) CTE — the oracle twin of ``_nb_scored``, shared by the
    confusion-matrix and AUC oracles so the scoring replay cannot
    drift between them."""
    lnq = "round(ln(CAST({x} AS DOUBLE)), 8)"
    bucket10 = f"({SQL_MD5_MOD('CAST(doc_id AS VARCHAR)')}) % 10"
    return f"""
    WITH docs AS (
      SELECT doc_id, text, lang = '{_NB_POS}' AS y,
        {bucket10} < 8 AS is_train
      FROM documents),
    feats AS (
      SELECT doc_id, y, is_train, ({SQL_MD5_MOD('w')}) % {_NB_B} AS b
      FROM (SELECT doc_id, y, is_train, unnest({SQL_WORDS('text')}) AS w
            FROM docs)),
    model AS (
      SELECT b,
        sum(CASE WHEN y THEN 1 ELSE 0 END) AS ct,
        sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS cr
      FROM feats WHERE is_train GROUP BY b),
    tot AS (SELECT sum(ct) AS t_tot, sum(cr) AS r_tot FROM model),
    prior AS (
      SELECT CAST(round((
          {lnq.format(x='sum(CASE WHEN y THEN 1 ELSE 0 END) + 1')}
        - {lnq.format(x='sum(CASE WHEN NOT y THEN 1 ELSE 0 END) + 1')}
      ) * {_NB_SCALE}, 0) AS BIGINT) AS prior_q
      FROM docs WHERE is_train),
    lr AS (
      SELECT b, CAST(round((
          {lnq.format(x='ct + 1')}
        - {lnq.format(x='t_tot + ' + str(_NB_B))}
        - {lnq.format(x='cr + 1')}
        + {lnq.format(x='r_tot + ' + str(_NB_B))}
      ) * {_NB_SCALE}, 0) AS BIGINT) AS lr_q
      FROM model, tot),
    flr AS (
      SELECT CAST(round((
          {lnq.format(x='t_tot + ' + str(_NB_B))} * -1
        + {lnq.format(x='r_tot + ' + str(_NB_B))}
      ) * {_NB_SCALE}, 0) AS BIGINT) AS floor_q
      FROM tot),
    scored AS (
      SELECT f.doc_id, f.y,
        (SELECT prior_q FROM prior)
          + sum(coalesce(lr.lr_q, (SELECT floor_q FROM flr))) AS score_q
      FROM feats f LEFT JOIN lr USING (b)
      WHERE NOT f.is_train
      GROUP BY f.doc_id, f.y)"""


def _sql_nb_oracle() -> str:
    return f"""{_sql_nb_scored_prefix()},
    cm AS (
      SELECT y AS actual, score_q > 0 AS predicted,
        CAST(count(*) AS BIGINT) AS n_docs
      FROM scored GROUP BY 1, 2)
    SELECT actual, predicted, n_docs,
      CAST(n_docs AS DOUBLE) / (SELECT sum(n_docs) FROM cm) AS share
    FROM cm
    """


_patch_oracle("docs_nb_quality_classifier", _sql_nb_oracle())


# ---------------------------------------------------------------------------
# docs_nb_quality_auc — threshold-free classifier eval (exact AUC)
# ---------------------------------------------------------------------------

# Coarse score block for the distributed rank decomposition (the
# events_mannwhitney_value device): prefix counts move block-to-block
# through a bounded window over the small block table; within-block
# order is a PARTITIONED window. Scores are ~1e6-scaled log-ratios, so
# 1e7 blocks keep the block table tiny while bounding every partition.
_AUC_BLK = 10_000_000


@query(
    "docs_nb_quality_auc",
    oracle=f"""{_sql_nb_scored_prefix()},
    per AS (
      SELECT score_q,
        CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS np,
        CAST(sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS BIGINT) AS nn
      FROM scored GROUP BY score_q),
    w AS (
      SELECT *, coalesce(sum(nn) OVER (ORDER BY score_q
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS neg_below
      FROM per)
    SELECT
      CAST(sum(np) AS BIGINT) AS n_pos,
      CAST(sum(nn) AS BIGINT) AS n_neg,
      CAST(sum(np * (2 * neg_below + nn)) AS BIGINT) AS u2,
      CAST(sum(np * (2 * neg_below + nn)) AS DOUBLE)
        / (2 * sum(np) * sum(nn)) AS auc
    FROM w
    """,
    tags=("text", "B15", "classifier", "evaluation", "auc"),
)
def docs_nb_quality_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-free evaluation of the NB quality classifier: exact
    ROC AUC over the held-out scores via the rank statistic
    (AUC = U/(n_pos*n_neg), U = #{pos>neg} + ties/2 — Hanley & McNeil
    1982), the companion the confusion matrix can't provide because it
    fixes the threshold at 0. Tie handling is exact: 2U = sum over
    distinct scores of np*(2*neg_below + nn), all int64, so AUC is one
    division of exact integers — bit-equal in DuckDB. (The synthetic
    fixture's shared vocabulary makes the measured AUC near 0.5 by
    construction; the contract test replays U in plain Python.)

    Scale shape: the score table is doc-keyed (one row per held-out
    doc from the shared _nb_scored path); per-score counts are a
    groupBy with map-side combine; the rank prefix uses the
    events_mannwhitney_value block decomposition — a bounded window
    over the tiny coarse-block table plus a block-PARTITIONED window —
    so no unpartitioned data-sized sort anywhere; the final statistic
    is a plain aggregate."""
    per = (
        _nb_scored(spark, sf_dir)
        .groupBy("score_q")
        .agg(
            F.sum(F.when(F.col("y"), 1).otherwise(0)).cast("long").alias("np"),
            F.sum(F.when(~F.col("y"), 1).otherwise(0)).cast("long").alias("nn"),
        )
    )
    b = per.withColumn(
        "_blk", F.floor(F.col("score_q") / _AUC_BLK).cast("long")
    )
    blocks = b.groupBy("_blk").agg(F.sum("nn").alias("_bt"))
    wb = bounded_window("_blk", "_blk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    prior_neg = blocks.select(
        "_blk", F.coalesce(F.sum("_bt").over(wb), F.lit(0)).alias("_pt")
    )
    ww = (
        Window.partitionBy("_blk")
        .orderBy("score_q")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = (
        b.join(prior_neg, "_blk")
        .withColumn(
            "neg_below",
            F.col("_pt") + F.coalesce(F.sum("nn").over(ww), F.lit(0)),
        )
    )
    return ranked.agg(
        F.sum("np").cast("long").alias("n_pos"),
        F.sum("nn").cast("long").alias("n_neg"),
        F.sum(F.col("np") * (2 * F.col("neg_below") + F.col("nn")))
        .cast("long")
        .alias("u2"),
        (
            F.sum(
                F.col("np") * (2 * F.col("neg_below") + F.col("nn"))
            ).cast("double")
            / (2 * F.sum("np") * F.sum("nn"))
        ).alias("auc"),
    )


# ---------------------------------------------------------------------------
# docs_wordlm_xent — word-bigram LM cross-entropy quality gate (CCNet-style)
# ---------------------------------------------------------------------------

_LM_SCALE = 1_000_000  # int64 quantization of per-bigram log-probs


def _wordlm_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(doc, lang) exact-integer LM score table shared by the
    cross-entropy gate and the CCNet bucket query: n_bigrams + the
    1e-6-quantized sum of Laplace-smoothed bigram log-probs."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    # Materialize the hashed bigram relation ONCE: it feeds the bigram
    # model, the first-word model, and the scoring join — three
    # derivations of the explode + double-md5 pass in the r18
    # before-plan. The checkpointed result below is likewise consumed
    # twice by every caller (xent/ccnet/doremi join it back to its own
    # rollup), so both materializations are guide §2.4/§5 shapes.
    ex = docs.filter(F.size(words(F.col("text"))) >= 2).select(
        "doc_id",
        "lang",
        F.explode(shingles("text", 2)).alias("bg"),
    ).select(
        "doc_id",
        "lang",
        md5_mod(F.col("bg")).alias("h12"),
        md5_mod(F.substring_index(F.col("bg"), " ", 1)).alias("h1"),
    ).localCheckpoint(eager=False)
    c12 = ex.groupBy("h12").agg(F.count(F.lit(1)).alias("c12"))
    c1 = ex.groupBy("h1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = c1.agg(F.count(F.lit(1)).alias("v"))
    return (
        ex.join(c12, "h12")
        .join(c1, "h1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            "lang",
            F.round(
                (_lnq(F.col("c12") + 1) - _lnq(F.col("c1") + F.col("v")))
                * _LM_SCALE,
                0,
            )
            .cast("long")
            .alias("lnp_q"),
        )
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("lnp_q").alias("sum_q"),
        )
        .localCheckpoint(eager=False)
    )


def _register_wordlm_xent() -> None:
    @query(
        "docs_wordlm_xent",
        oracle=None,  # patched below
        tags=("text", "B15", "quality", "language-model"),
    )
    def docs_wordlm_xent(spark: SparkSession, sf_dir: str) -> DataFrame:
        """CCNet-style language-model quality gate (Wenzek et al. 2020)
        re-expressed as exact cross-entropy: fit a Laplace-smoothed
        word-bigram LM on the whole corpus — p(w2|w1) =
        (c(w1 w2)+1)/(c(w1·)+V), counts keyed by the deterministic md5
        hash, V = |distinct first-word hashes| — and score every
        document by H(doc) = −(1/n)·Σ ln p(bigram). Documents are
        flagged ``below_avg`` when their mean log-prob is worse than
        their language's corpus mean — CCNet's tail bucket — via exact
        integer cross-multiplication (sum_q·lang_n < lang_sum·n), no
        float compare. Cross-entropy (nats/bigram) is reported instead
        of perplexity so no ``exp`` has to agree across engines; the
        ordering is identical.

        Determinism: each ln p is two 8-decimal-rounded lns of exact
        integers quantized to int64 at 1e-6, so per-doc sums are exact
        integers (order-independent); the one division per row is the
        only float op.

        Scale shape: one bigram explode → two vocabulary-bounded
        map-side-combinable groupBys (bigram counts, first-word
        counts); scoring joins the exploded corpus to both count tables
        ON THE HASH KEY — at 100 TB the bigram vocabulary outgrows any
        broadcast, so these plan as shuffle hash joins with both sides
        already partitioned by the key from the preceding groupBy; the
        per-doc reduce and the 5-row per-lang totals broadcast back.
        int64 headroom: lang_sum·n ≈ (tokens·1e7)·doc_len — fine
        through ~1e9-token corpora per language; past that, shard the
        cross-multiplication or lift it to decimal(38,0).
        """
        scored = _wordlm_scored(spark, sf_dir)
        lang_tot = scored.groupBy("lang").agg(
            F.sum("n_bigrams").alias("lang_n"),
            F.sum("sum_q").alias("lang_sum"),
        )
        return scored.join(F.broadcast(lang_tot), "lang").select(
            "doc_id",
            "lang",
            "n_bigrams",
            (
                -F.col("sum_q").cast("double")
                / (F.col("n_bigrams") * F.lit(_LM_SCALE))
            ).alias("xent"),
            (
                F.col("sum_q") * F.col("lang_n")
                < F.col("lang_sum") * F.col("n_bigrams")
            ).alias("below_avg"),
        )


_register_wordlm_xent()


def _sql_wordlm_scored_ctes() -> str:
    """The shared WITH-chain producing the per-(doc, lang) scored table
    (mirrors _wordlm_scored) — reused by the xent and CCNet-bucket
    oracles."""
    lnq = "round(ln(CAST({x} AS DOUBLE)), 8)"
    return f"""
    WITH ex AS (
      SELECT doc_id, lang,
        ({SQL_MD5_MOD('bg')}) AS h12,
        ({SQL_MD5_MOD("split_part(bg, ' ', 1)")}) AS h1
      FROM (SELECT doc_id, lang, unnest({SQL_SHINGLES('text', 2)}) AS bg
            FROM documents
            WHERE len({SQL_WORDS('text')}) >= 2)),
    c12 AS (SELECT h12, count(*) AS c12 FROM ex GROUP BY h12),
    c1 AS (SELECT h1, count(*) AS c1 FROM ex GROUP BY h1),
    vocab AS (SELECT count(*) AS v FROM c1),
    scored AS (
      SELECT ex.doc_id, ex.lang,
        CAST(count(*) AS BIGINT) AS n_bigrams,
        sum(CAST(round((
            {lnq.format(x='c12.c12 + 1')}
          - {lnq.format(x='c1.c1 + vocab.v')}
        ) * {_LM_SCALE}, 0) AS BIGINT)) AS sum_q
      FROM ex JOIN c12 USING (h12) JOIN c1 USING (h1), vocab
      GROUP BY ex.doc_id, ex.lang)"""


def _sql_wordlm_oracle() -> str:
    return f"""{_sql_wordlm_scored_ctes()},
    lt AS (
      SELECT lang, sum(n_bigrams) AS lang_n, sum(sum_q) AS lang_sum
      FROM scored GROUP BY lang)
    SELECT s.doc_id, s.lang, s.n_bigrams,
      -CAST(s.sum_q AS DOUBLE) / (s.n_bigrams * {_LM_SCALE}) AS xent,
      s.sum_q * lt.lang_n < lt.lang_sum * s.n_bigrams AS below_avg
    FROM scored s JOIN lt USING (lang)
    """


_patch_oracle("docs_wordlm_xent", _sql_wordlm_oracle())


def _register_ccnet_buckets() -> None:
    @query(
        "docs_ccnet_buckets",
        oracle=None,  # patched below
        tags=("text", "B15", "quality", "language-model", "curation"),
    )
    def docs_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
        """CCNet head/middle/tail bucketing (Wenzek et al. 2020 §4.4):
        within each language, documents are ranked by LM cross-entropy
        (ascending — fluent text first) and cut into terciles with
        ntile(3): head = keep, middle = maybe, tail = drop. This is THE
        published recipe for LM-quality-stratified corpus selection; the
        per-bucket rollup (doc count, bigram mass, xent range) is what a
        curation run reports before choosing which buckets feed
        training. Built on the same exact-integer scored table as
        docs_wordlm_xent (shared _wordlm_scored helper): the rank order
        is the double xent (one IEEE division per doc, identical cross-
        engine) with doc_id as the unique tie-break, so the tercile
        boundaries are deterministic.

        Scale shape: the LM scoring's vocabulary-bounded shuffles, then
        ONE per-language window sort for ntile (at 100 TB: range-
        partition by (lang, xent) so the sort is distributed; a
        quantile-sketch cut would avoid the full sort at the cost of
        approximate boundaries — the exact tercile is the declared
        semantics here), then a 15-row rollup."""
        from pyspark.sql import Window

        scored = _wordlm_scored(spark, sf_dir)
        xent = (
            -F.col("sum_q").cast("double")
            / (F.col("n_bigrams") * F.lit(_LM_SCALE))
        ).alias("xent")
        ranked = scored.select("doc_id", "lang", "n_bigrams", xent).withColumn(
            "tercile",
            F.ntile(3).over(
                Window.partitionBy("lang").orderBy(
                    F.col("xent").asc(), F.col("doc_id").asc()
                )
            ),
        )
        return (
            ranked.select(
                "lang",
                F.when(F.col("tercile") == 1, F.lit("head"))
                .when(F.col("tercile") == 2, F.lit("middle"))
                .otherwise(F.lit("tail"))
                .alias("bucket"),
                "n_bigrams",
                "xent",
            )
            .groupBy("lang", "bucket")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("n_bigrams").cast("long").alias("total_bigrams"),
                F.round(F.min("xent"), 8).alias("min_xent"),
                F.round(F.max("xent"), 8).alias("max_xent"),
            )
        )


_register_ccnet_buckets()


def _sql_ccnet_oracle() -> str:
    return f"""{_sql_wordlm_scored_ctes()},
    ranked AS (
      SELECT doc_id, lang, n_bigrams,
        -CAST(sum_q AS DOUBLE) / (n_bigrams * {_LM_SCALE}) AS xent,
        ntile(3) OVER (PARTITION BY lang
                       ORDER BY -CAST(sum_q AS DOUBLE)
                                / (n_bigrams * {_LM_SCALE}) ASC,
                                doc_id ASC) AS tercile
      FROM scored)
    SELECT lang,
      CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                   ELSE 'tail' END AS bucket,
      CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(n_bigrams) AS BIGINT) AS total_bigrams,
      round(min(xent), 8) AS min_xent,
      round(max(xent), 8) AS max_xent
    FROM ranked GROUP BY 1, 2
    """


_patch_oracle("docs_ccnet_buckets", _sql_ccnet_oracle())


# ---------------------------------------------------------------------------
# docs_doremi_mixture — excess-loss domain mixture weights (DoReMi-lite)
# ---------------------------------------------------------------------------

# exp() quantization scale for the mixture weights: round-8 on the
# excess (the lnq device — absorbs cross-engine last-ulp differences in
# the transcendental) then one exp quantized to int64 at 1e9, so the
# weight normalization is a single division of exact integer sums.
_DOREMI_SCALE = 1_000_000_000


@query(
    "docs_doremi_mixture",
    oracle=f"""{_sql_wordlm_scored_ctes()},
    src AS (
      SELECT s.doc_id, d.source, s.n_bigrams, s.sum_q
      FROM scored s JOIN documents d USING (doc_id)),
    per AS (
      SELECT source,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams,
        -CAST(sum(sum_q) AS DOUBLE) / (sum(n_bigrams) * {_LM_SCALE}) AS xent
      FROM src GROUP BY source),
    base AS (SELECT min(xent) AS ref_xent FROM per),
    wq AS (
      SELECT per.*, base.ref_xent,
        CAST(round(exp(round(xent - base.ref_xent, 8))
                   * {_DOREMI_SCALE}, 0) AS BIGINT) AS w_q
      FROM per, base)
    SELECT source, n_docs, n_bigrams, xent,
      round(xent - ref_xent, 8) AS excess_xent,
      CAST(w_q AS DOUBLE) / (SELECT sum(w_q) FROM wq) AS mix_weight
    FROM wq
    """,
    tags=("text", "B15", "mixture", "doremi", "curation"),
)
def docs_doremi_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture reweighting by per-domain excess LM loss — the
    DoReMi device (Xie et al. 2023) in its deterministic '-lite' form:
    each source's mean bigram cross-entropy comes from the shared
    exact-integer LM table (``_wordlm_scored``, the same table behind
    docs_wordlm_xent and the CCNet buckets); excess = xent minus the
    corpus-min domain's xent (the -lite simplification of DoReMi's
    trained reference model); the mixture weight is one exponentiated-
    gradient step, w_i = exp(excess_i) normalized over domains —
    upweighting the domains the LM finds hardest, which is exactly the
    signal DoReMi feeds the proxy-model loop.

    Exactness: per-source sums are int64 (quantized log-probs); xent is
    one division of exact ints; excess is round-8 quantized BEFORE the
    exp (the lnq device — absorbs cross-engine last-ulp transcendental
    differences) and the exp is quantized to int64 at 1e9, so the final
    normalization is a single division of exact integer sums.

    Scale shape: the LM fit is the shared hash-keyed groupBys; the
    per-source rollup is a |sources|-key aggregate with map-side
    combine; the reference xent and the weight total are total-frame
    windows over the |sources|-row mixture relation (domain-bounded —
    sources are a dimension, never data-sized — via bounded_window, so
    the per-source pipeline runs in ONE pass instead of re-executing
    the LM fit per scalar). One doc_id-keyed join attaches source
    labels. Unchanged at 100 TB."""
    scored = _wordlm_scored(spark, sf_dir)
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    per = (
        scored.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_bigrams").cast("long").alias("n_bigrams"),
            F.sum("sum_q").cast("long").alias("sum_q"),
        )
        .select(
            "source",
            "n_docs",
            "n_bigrams",
            (
                -F.col("sum_q").cast("double")
                / (F.col("n_bigrams") * _LM_SCALE)
            ).alias("xent"),
        )
    )
    w_all = bounded_window("source", "source").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wq = per.withColumn("ref_xent", F.min("xent").over(w_all)).withColumn(
        "w_q",
        F.round(
            F.exp(F.round(F.col("xent") - F.col("ref_xent"), 8))
            * _DOREMI_SCALE,
            0,
        ).cast("long"),
    )
    return wq.withColumn("w_tot", F.sum("w_q").over(w_all)).select(
        "source",
        "n_docs",
        "n_bigrams",
        "xent",
        F.round(F.col("xent") - F.col("ref_xent"), 8).alias("excess_xent"),
        (F.col("w_q").cast("double") / F.col("w_tot")).alias("mix_weight"),
    )


# ---------------------------------------------------------------------------
# dedup_semantic_kmeans — SemDeDup: k-means clusters + within-cluster prune
# ---------------------------------------------------------------------------

_SEM_K = 8  # clusters; production SemDeDup scales k ~ sqrt(n)
_SEM_ITERS = 2  # Lloyd update rounds before the final assignment
_SEM_DIMS = 64
_SEM_TAU = 0.4  # within-cluster cosine prune threshold (see docstring)


def _register_semantic_kmeans() -> None:
    from ..operators.similarity import cosine_expr, quantize

    def _assign(emb: DataFrame, cents: DataFrame) -> DataFrame:
        # Deliberately the native HOF fold, NOT the Arrow pair kernel:
        # measured in round 17, the k=8 pairs/row here are too few to
        # amortize an Arrow stage per Lloyd round (the swap read ~+2 s
        # at sf0.1); the kernel wins only on large pair volumes
        # (brute-force |Q|x|C|, all-pairs ground truth).
        #
        # r19: the argmin is a PURE MAP, not a k-fanout crossJoin + a
        # vec_id-partitioned rank-1 window — that window shuffled the
        # FULL corpus (vec_id, q, j) once per Lloyd round (3 corpus
        # shuffles at k=8/64 dims; guide §2.4 remove-shuffles). The k
        # centroids arrive as ONE broadcast row (``cs_row``) carrying a
        # sorted array<struct<j,c>> — broadcast DATA, not the
        # 8x64-literal expression tree that fell out of codegen when
        # measured in r18 — and min(struct(d, j)) is exactly the
        # window's ORDER BY d, j rank-1 row (both fields non-null, j
        # unique).
        best = F.array_min(
            F.transform(
                "cs",
                lambda s: F.struct(
                    F.aggregate(
                        F.zip_with("q", s["c"], lambda x, y: (x - y) * (x - y)),
                        F.lit(0).cast("long"),
                        lambda acc, x: acc + x,
                    ).alias("d"),
                    s["j"].alias("j"),
                ),
            )
        )
        return emb.crossJoin(F.broadcast(cents)).select(
            "vec_id", "q", best["j"].alias("j")
        )

    def _cs_row(cents: DataFrame) -> DataFrame:
        # (j, c) table -> ONE row holding the j-sorted centroid array.
        return cents.agg(
            F.sort_array(F.collect_list(F.struct("j", "c"))).alias("cs")
        )

    def _update(assign: DataFrame) -> DataFrame:
        sums = assign.groupBy("j").agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(F.element_at("q", d + 1)).alias(f"s{d}")
                for d in range(_SEM_DIMS)
            ],
        )
        return sums.select(
            "j",
            F.array(
                *[
                    F.floor(
                        F.col(f"s{d}").cast("double") / F.col("n")
                    ).cast("long")
                    for d in range(_SEM_DIMS)
                ]
            ).alias("c"),
        )

    @query(
        "dedup_semantic_kmeans",
        oracle=None,  # patched below
        tags=("dedup", "B15", "embedding", "semdedup", "kmeans"),
    )
    def dedup_semantic_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
        """SemDeDup (Abbas et al. 2023): deterministic k-means over the
        embedding space, then near-duplicate pruning WITHIN each
        cluster only — the trick that turns all-pairs semantic dedup
        into cluster-bounded work. Seeds are the k=8 vectors with the
        smallest (md5(vec_id), vec_id); 2 Lloyd rounds with
        floor-divided integer centroids, one final assignment, then
        within-cluster pairs with cosine >= 0.4 mark the larger vec_id
        removed (keep-smallest, the same canonical rule as
        ``dedup_clusters``). tau is 0.4 here because the synthetic
        embeddings have no true near-dups (max pairwise cosine 0.51);
        production SemDeDup uses ~0.95 on real corpora.

        Determinism: vectors and centroids are 1e4-quantized int64
        arrays; distances are exact integer sums; centroid update is
        floor(sum/n) — one IEEE divide + floor per dim, bit-equal in
        DuckDB; argmin breaks ties by cluster id; the final cosine is
        the certified exact-int-dot / sqrt·sqrt expression.

        Scale shape: each Lloyd round is one k-row broadcast against
        the corpus (argmin is a pure per-row map over the broadcast
        centroid array — the corpus is never shuffled for assignment)
        plus a 64-column map-side-combinable groupBy(j) whose shuffle
        carries k rows per map task — the corpus never shuffles by
        anything finer than the k cluster ids. The prune self-join is keyed by cluster
        (SemDeDup's documented cost: cluster-size-bounded pairs, with k
        grown ~sqrt(n) so clusters stay bounded); at 100 TB raise k and
        the same plan holds. Cites SURVEY.md §2.B15 (dedup family);
        reference has no semantic dedup — this is LLM-pipeline surface."""
        # Materialize the quantized corpus ONCE: the Lloyd chain and the
        # final assignment each re-derived the scan + quantize per
        # round, and the final assignment's plan embedded the ENTIRE
        # chain again for each of its three consumers (self-join a/b +
        # keep join) — 12 embeddings scans in the r18 before-plan.
        # Checkpointing emb and fin runs each Lloyd stage exactly once
        # (guide §2.4/§5). r19 A/B notes: dropping the per-round
        # checkpoints entirely (full Lloyd chain nested into fin's one
        # materialization) measured NEUTRAL-to-slower — per-job
        # execution totals ~1.6 s while build wall time stays ~3-4 s,
        # i.e. the cost is driver-side AQE planning per stage, and the
        # deep nested plan makes each replan bigger. Checkpointing the
        # ONE-ROW cs relation per round keeps every plan shallow at a
        # trivial materialization cost, and measured best (min-of-4
        # 2.91 s vs 3.39 s for the window form).
        emb = (
            load_table(spark, sf_dir, "embeddings")
            .select("vec_id", quantize(F.col("embedding")).alias("q"))
            .localCheckpoint(eager=False)
        )
        seeds = (
            emb.select(
                "vec_id",
                "q",
                md5_mod(F.col("vec_id").cast("string")).alias("h"),
            )
            .orderBy("h", "vec_id")
            .limit(_SEM_K)
        )
        # Seed ranks come from ONE sorted-collect over the k TakeOrdered
        # rows (array position == the former row_number()-1 over
        # ORDER BY h, vec_id: (h, vec_id) is unique, sort_array on the
        # struct orders by exactly those fields first) — the rank-window
        # stage the old form spent on 8 rows is gone.
        cs = seeds.agg(
            F.sort_array(F.collect_list(F.struct("h", "vec_id", "q"))).alias(
                "s8"
            )
        ).select(
            F.transform(
                "s8",
                lambda s, i: F.struct(
                    i.cast("long").alias("j"), s["q"].alias("c")
                ),
            ).alias("cs")
        )
        for _ in range(_SEM_ITERS):
            cs = _cs_row(_update(_assign(emb, cs))).localCheckpoint(
                eager=False
            )
        fin = _assign(emb, cs).localCheckpoint(eager=False)
        a, b = fin.alias("a"), fin.alias("b")
        pairs = (
            a.join(
                b,
                (F.col("a.j") == F.col("b.j"))
                & (F.col("a.vec_id") < F.col("b.vec_id")),
            )
            .select(
                F.col("b.vec_id").alias("vec_id"),
                cosine_expr(F.col("a.q"), F.col("b.q")).alias("cos"),
            )
            .filter(F.col("cos") >= _SEM_TAU)
        )
        removed = pairs.select("vec_id").distinct().withColumn(
            "rm", F.lit(True)
        )
        return fin.join(removed, "vec_id", "left").select(
            "vec_id",
            F.col("j").alias("cluster"),
            F.coalesce(~F.col("rm"), F.lit(True)).alias("keep"),
        )


_register_semantic_kmeans()


def _sql_semantic_kmeans_oracle() -> str:
    from .llm import _SQL_DOT, _SQL_NORM, _SQL_QUANT

    def assign(cent: str, out: str) -> str:
        return f"""
    {out}_d AS (
      SELECT e.vec_id, e.q, c.j,
        list_sum(list_transform(list_zip(e.q, c.c),
                 p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d
      FROM emb e CROSS JOIN {cent} c),
    {out} AS (
      SELECT vec_id, q, j FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, j)
          AS rn
        FROM {out}_d) WHERE rn = 1)"""

    def update(assign_t: str, out: str) -> str:
        return f"""
    {out} AS (
      SELECT j,
        list(CAST(floor(CAST(s AS DOUBLE) / n) AS BIGINT) ORDER BY d)
          AS c
      FROM (
        SELECT a.j, t.d, sum(a.q[t.d]) AS s, count(*) AS n
        FROM {assign_t} a CROSS JOIN (
          SELECT unnest(range(1, {_SEM_DIMS + 1})) AS d) t
        GROUP BY a.j, t.d)
      GROUP BY j)"""

    chain = []
    cent = "cent0"
    for i in range(_SEM_ITERS):
        chain.append(assign(cent, f"as{i}"))
        cent = f"cent{i + 1}"
        chain.append(update(f"as{i}", cent))
    chain.append(assign(cent, "fin"))
    return f"""
    WITH emb AS (
      SELECT vec_id, {_SQL_QUANT.format(e='embedding')} AS q
      FROM embeddings),
    seeds AS (
      SELECT vec_id, q, ({SQL_MD5_MOD('CAST(vec_id AS VARCHAR)')}) AS h
      FROM emb ORDER BY h, vec_id LIMIT {_SEM_K}),
    cent0 AS (
      SELECT CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS BIGINT)
        AS j, q AS c
      FROM seeds),
    {','.join(chain)},
    pairs AS (
      SELECT b.vec_id
      FROM fin a JOIN fin b
        ON a.j = b.j AND a.vec_id < b.vec_id
      WHERE {_SQL_DOT.format(a='a.q', b='b.q')}
            / ({_SQL_NORM.format(v='a.q')} * {_SQL_NORM.format(v='b.q')})
            >= {_SEM_TAU}),
    removed AS (SELECT DISTINCT vec_id FROM pairs)
    SELECT f.vec_id, f.j AS cluster, r.vec_id IS NULL AS keep
    FROM fin f LEFT JOIN removed r USING (vec_id)
    """


_patch_oracle("dedup_semantic_kmeans", _sql_semantic_kmeans_oracle())


# ---------------------------------------------------------------------------
# events_holt_forecast — Holt double exponential smoothing, exact state
# ---------------------------------------------------------------------------

_HOLT_SCALE = 1_000_000  # integer state quantization (counts * 1e6)
_HOLT_H = 7  # forecast horizon in steps


def _register_holt() -> None:
    import pandas as pd

    @query(
        "events_holt_forecast",
        oracle=None,  # patched below
        tags=("timeseries", "B7", "forecast", "stateful"),
    )
    def events_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Holt double exponential smoothing (level + trend, alpha =
        beta = 1/2) over the daily event-count series of each event
        type — the adaptive-forecast complement of the one-shot OLS
        trend (``events_ols_trend``) and the seasonal-naive backtest:
        l_t = floor((y_t + l + b)/2), b_t = floor((l_t − l + b)/2) on
        1e6-scaled integer counts, with the one-step absolute forecast
        error |y_t − (l+b)| accumulated exactly. Returns per type: the
        final level/trend, the h=7-step-ahead forecast l + 7b, and the
        exact MAE of the one-step forecasts.

        The recurrence is a sequential scan no window cumsum can
        express (each step's state feeds the next through a floor) —
        the same custom-stateful shape as ``docs_greedy_pack_stats``:
        ONE Arrow ``applyInPandas`` kernel per series, linear in days,
        embarrassingly parallel across series. Scale shape: the corpus
        collapses FIRST to a per-(type, day) count (map-side
        combinable, calendar-bounded output ~types x days), so the
        kernel sees thousands of rows regardless of input scale; the
        DuckDB oracle replays the recurrence as a RECURSIVE CTE
        advancing all series in lockstep.

        Determinism: floor((a)/2.0) on exact int64 state is one IEEE
        divide + floor, bit-equal across engines (and equal to
        Python's // for ints); the final divisions back to doubles are
        shared single expressions."""
        daily = (
            load_table(spark, sf_dir, "events")
            .groupBy("event_type", F.to_date("ts").alias("day"))
            .agg((F.count(F.lit(1)) * _HOLT_SCALE).alias("y_q"))
        )

        def _holt(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("day").reset_index(drop=True)
            ys = [int(v) for v in pdf["y_q"]]
            l, b, err = ys[0], 0, 0
            for y in ys[1:]:
                err += abs(y - (l + b))
                l_new = (y + l + b) // 2
                b = (l_new - l + b) // 2
                l = l_new
            n = len(ys)
            # A 1-day series has no one-step forecasts: mae is NULL
            # (matching the oracle's CASE guard), not a ZeroDivision.
            mae = err / (_HOLT_SCALE * (n - 1)) if n > 1 else None
            return pd.DataFrame(
                {
                    "event_type": [pdf["event_type"].iloc[0]],
                    "n_days": [n],
                    "level": [l / _HOLT_SCALE],
                    "trend": [b / _HOLT_SCALE],
                    "forecast_7": [(l + _HOLT_H * b) / _HOLT_SCALE],
                    "mae": [mae],
                }
            )

        return daily.groupBy("event_type").applyInPandas(
            _holt,
            schema=(
                "event_type string, n_days long, level double, "
                "trend double, forecast_7 double, mae double"
            ),
        )


_register_holt()


def _sql_holt_oracle() -> str:
    return f"""
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
        count(*) * {_HOLT_SCALE} AS y_q
      FROM events GROUP BY 1, 2),
    series AS (
      SELECT event_type, y_q,
        row_number() OVER (PARTITION BY event_type ORDER BY day) AS n
      FROM daily),
    steps AS (
      SELECT event_type, 1 AS n, y_q AS l, CAST(0 AS BIGINT) AS b,
        CAST(0 AS BIGINT) AS err
      FROM series WHERE n = 1
      UNION ALL
      SELECT s.event_type, s.n + 1,
        CAST(floor((sn.y_q + s.l + s.b) / 2.0) AS BIGINT),
        CAST(floor((CAST(floor((sn.y_q + s.l + s.b) / 2.0) AS BIGINT)
             - s.l + s.b) / 2.0) AS BIGINT),
        s.err + abs(sn.y_q - (s.l + s.b))
      FROM steps s JOIN series sn
        ON sn.event_type = s.event_type AND sn.n = s.n + 1),
    fin AS (
      SELECT event_type, n, l, b, err,
        row_number() OVER (PARTITION BY event_type ORDER BY n DESC)
          AS rn
      FROM steps)
    SELECT event_type, CAST(n AS BIGINT) AS n_days,
      CAST(l AS DOUBLE) / {_HOLT_SCALE} AS level,
      CAST(b AS DOUBLE) / {_HOLT_SCALE} AS trend,
      CAST(l + {_HOLT_H} * b AS DOUBLE) / {_HOLT_SCALE} AS forecast_7,
      CASE WHEN n > 1
        THEN CAST(err AS DOUBLE) / ({_HOLT_SCALE} * (n - 1))
      END AS mae
    FROM fin WHERE rn = 1
    """


_patch_oracle("events_holt_forecast", _sql_holt_oracle())


# ---------------------------------------------------------------------------
# docs_weighted_reservoir — Efraimidis–Spirakis exact-k weighted sample
# ---------------------------------------------------------------------------

_ARES_K = 100
_P = 1_000_000_007  # functions/hashing.py MERSENNE_P


def _register_weighted_reservoir() -> None:
    from ..functions.bounded import bounded_window

    @query(
        "docs_weighted_reservoir",
        oracle=None,  # patched below
        tags=("text", "B15", "sampling", "weighted"),
    )
    def docs_weighted_reservoir(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Exact-size weighted sampling WITHOUT replacement via the
        Efraimidis–Spirakis A-ES key (2006): each doc draws the
        deterministic uniform u = (md5('ares:'||id)+1)/P and is ranked
        by u^(1/w) — equivalently ln(u)/w — with w = n_chars; the top
        k=100 keys are the sample. The fixed-size complement of the
        keep-probability `docs_weighted_sample` and the
        budgeted-per-stratum `docs_sample_exact_budget`: one global
        sample, inclusion probability ∝ weight, reproducible on any
        engine and stable under repartitioning.

        Determinism: ln u = lnq(h+1) − lnq(P) is an exact int64 at
        1e-8; the sort key l_q/w is ONE IEEE division of exact
        integers — bit-equal in DuckDB — with doc_id as tie-break.

        Scale shape: a pure map-side key projection followed by
        ORDER BY + LIMIT k → TakeOrderedAndProject (per-partition
        top-k then a k-sized driver merge — the certified pattern
        pinned by tests/test_plans_physical.py); the final rank is a
        bounded_window over the ≤k-row result."""
        d = load_table(spark, sf_dir, "documents").filter(
            F.col("n_chars") > 0
        )
        keyed = d.select(
            "doc_id",
            "lang",
            "n_chars",
            (
                (
                    _lnq_q(
                        md5_mod(
                            F.concat_ws(
                                ":", F.lit("ares"), F.col("doc_id").cast("string")
                            )
                        )
                        + 1
                    )
                    - _lnq_q(F.lit(_P))
                ).cast("double")
                / F.col("n_chars")
            ).alias("ares_key"),
        )
        top = keyed.orderBy(F.desc("ares_key"), F.asc("doc_id")).limit(
            _ARES_K
        )
        w = bounded_window("doc_id", F.desc("ares_key"), F.asc("doc_id"))
        return top.select(
            "doc_id",
            "lang",
            "n_chars",
            "ares_key",
            F.row_number().over(w).cast("long").alias("sel_rank"),
        )


_register_weighted_reservoir()


def _sql_weighted_reservoir_oracle() -> str:
    h = SQL_MD5_MOD("'ares:' || CAST(doc_id AS VARCHAR)")
    return f"""
    WITH keyed AS (
      SELECT doc_id, lang, n_chars,
        CAST(({_sql_lnq_q(f'({h}) + 1')} - {_sql_lnq_q(str(_P))})
             AS DOUBLE) / n_chars AS ares_key
      FROM documents WHERE n_chars > 0)
    SELECT doc_id, lang, n_chars, ares_key,
      CAST(row_number() OVER (ORDER BY ares_key DESC, doc_id)
           AS BIGINT) AS sel_rank
    FROM keyed ORDER BY ares_key DESC, doc_id LIMIT {_ARES_K}
    """


_patch_oracle("docs_weighted_reservoir", _sql_weighted_reservoir_oracle())


# ---------------------------------------------------------------------------
# er_fellegi_sunter — probabilistic record linkage quality matrix
# ---------------------------------------------------------------------------

_FS_T_HI = 2_000_000  # >= 2 nats of evidence -> match
_FS_T_LO = 0  # (0, 2) nats -> possible; <= 0 -> non-match
_FS_SCALE = 1_000_000


def _register_fellegi_sunter() -> None:
    @query(
        "er_fellegi_sunter",
        oracle=None,  # patched below
        tags=("er", "B15", "linkage", "dedup"),
    )
    def er_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Fellegi–Sunter probabilistic record linkage (1969) between
        the customer table and a deterministic DIRTY COPY of itself
        (every 5th record by md5 gets its acctbal 1000-band shifted —
        the classic data-entry drift): candidate pairs are generated by
        BLOCKING on nation, each pair scored by the agreement pattern
        on (mktsegment, acctbal band) with the canonical log-odds
        weights — agree_i contributes ln(m_i/u_i), disagree_i
        contributes ln((1−m_i)/(1−u_i)) — where the m/u probabilities
        are estimated from the ground truth (same custkey) with
        Laplace smoothing. Pairs classify as match / possible /
        non_match at thresholds (2, 0] nats; the output is the linkage
        quality matrix (classification × true-match, pair counts) —
        the ER evaluation artifact next to the distance-based
        `er_fuzzy_join_edit1` and `er_name_neardup`.

        Determinism: every m/u weight is a sum of four 8-decimal lns
        of exact integers quantized to int64 at 1e-6; per-pair scores
        are exact integer sums of 1-row-broadcast weights; thresholds
        are integer compares.

        Scale shape: blocking turns the quadratic linkage into
        Σ|block|² bounded work (the documented ER device — refine the
        blocking key to cap block size at scale); the m/u model is a
        1-row broadcast; both passes over the candidate pairs are
        map-side projections into bounded aggregates."""
        c = load_table(spark, sf_dir, "customer")
        a = c.select(
            F.col("c_custkey").alias("ka"),
            "c_nationkey",
            F.col("c_mktsegment").alias("seg_a"),
            F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("band_a"),
        )
        noise = (
            md5_mod(
                F.concat_ws(":", F.lit("fsnoise"), F.col("c_custkey").cast("string"))
            )
            % 5
            == 0
        ).cast("long")
        b = c.select(
            F.col("c_custkey").alias("kb"),
            "c_nationkey",
            F.col("c_mktsegment").alias("seg_b"),
            (F.floor(F.col("c_acctbal") / 1000.0).cast("long") + noise).alias(
                "band_b"
            ),
        )
        cand = a.join(b, "c_nationkey").select(
            "ka",
            "kb",
            (F.col("seg_a") == F.col("seg_b")).alias("g1"),
            (F.col("band_a") == F.col("band_b")).alias("g2"),
            (F.col("ka") == F.col("kb")).alias("tm"),
        )
        # ONE pass over the blocked pair relation: everything downstream
        # (the m/u stats, the per-pair score, the final classification
        # matrix) is a function of the agreement PATTERN (g1, g2, tm)
        # alone, so aggregate the Σ|block|² candidate join to its ≤8
        # pattern counts first. The previous shape consumed `cand`
        # twice (stats + scoring) and re-ran the blocked self-join +
        # md5 noise derivation per consumer (guide §1.2 step 1: fix the
        # distributed algorithm — the pair enumeration IS the cost).
        patterns = (
            cand.groupBy("g1", "g2", "tm")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .localCheckpoint(eager=False)
        )
        stats = patterns.agg(
            F.sum(F.when(F.col("tm"), F.col("n")).otherwise(0)).alias("md"),
            F.sum(
                F.when(F.col("tm") & F.col("g1"), F.col("n")).otherwise(0)
            ).alias("mn1"),
            F.sum(
                F.when(F.col("tm") & F.col("g2"), F.col("n")).otherwise(0)
            ).alias("mn2"),
            F.sum(F.when(~F.col("tm"), F.col("n")).otherwise(0)).alias("ud"),
            F.sum(
                F.when(~F.col("tm") & F.col("g1"), F.col("n")).otherwise(0)
            ).alias("un1"),
            F.sum(
                F.when(~F.col("tm") & F.col("g2"), F.col("n")).otherwise(0)
            ).alias("un2"),
        )

        def agree_w(mn, un):
            return (
                F.round(
                    (
                        _lnq(F.col(mn) + 1)
                        - _lnq(F.col("md") + 2)
                        - _lnq(F.col(un) + 1)
                        + _lnq(F.col("ud") + 2)
                    )
                    * _FS_SCALE,
                    0,
                )
                .cast("long")
            )

        def disagree_w(mn, un):
            return (
                F.round(
                    (
                        _lnq(F.col("md") + 1 - F.col(mn))
                        - _lnq(F.col("md") + 2)
                        - _lnq(F.col("ud") + 1 - F.col(un))
                        + _lnq(F.col("ud") + 2)
                    )
                    * _FS_SCALE,
                    0,
                )
                .cast("long")
            )

        weights = stats.select(
            agree_w("mn1", "un1").alias("w1a"),
            disagree_w("mn1", "un1").alias("w1d"),
            agree_w("mn2", "un2").alias("w2a"),
            disagree_w("mn2", "un2").alias("w2d"),
        )
        scored = patterns.crossJoin(F.broadcast(weights)).select(
            "tm",
            "n",
            (
                F.when(F.col("g1"), F.col("w1a")).otherwise(F.col("w1d"))
                + F.when(F.col("g2"), F.col("w2a")).otherwise(F.col("w2d"))
            ).alias("score_q"),
        )
        classified = scored.select(
            "tm",
            "n",
            F.when(F.col("score_q") >= _FS_T_HI, "match")
            .when(F.col("score_q") > _FS_T_LO, "possible")
            .otherwise("non_match")
            .alias("classification"),
        )
        return (
            classified.groupBy("classification", F.col("tm").alias("is_true_match"))
            .agg(F.sum("n").cast("long").alias("n_pairs"))
        )


_register_fellegi_sunter()


def _sql_fellegi_sunter_oracle() -> str:
    lnq = "round(ln(CAST({x} AS DOUBLE)), 8)"
    noise = SQL_MD5_MOD("'fsnoise:' || CAST(c_custkey AS VARCHAR)")

    def w(expr: str) -> str:
        return f"CAST(round(({expr}) * {_FS_SCALE}, 0) AS BIGINT)"

    agree1 = w(
        f"{lnq.format(x='mn1 + 1')} - {lnq.format(x='md + 2')}"
        f" - {lnq.format(x='un1 + 1')} + {lnq.format(x='ud + 2')}"
    )
    dis1 = w(
        f"{lnq.format(x='md + 1 - mn1')} - {lnq.format(x='md + 2')}"
        f" - {lnq.format(x='ud + 1 - un1')} + {lnq.format(x='ud + 2')}"
    )
    agree2 = w(
        f"{lnq.format(x='mn2 + 1')} - {lnq.format(x='md + 2')}"
        f" - {lnq.format(x='un2 + 1')} + {lnq.format(x='ud + 2')}"
    )
    dis2 = w(
        f"{lnq.format(x='md + 1 - mn2')} - {lnq.format(x='md + 2')}"
        f" - {lnq.format(x='ud + 1 - un2')} + {lnq.format(x='ud + 2')}"
    )
    return f"""
    WITH a AS (
      SELECT c_custkey AS ka, c_nationkey, c_mktsegment AS seg_a,
        CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS band_a
      FROM customer),
    b AS (
      SELECT c_custkey AS kb, c_nationkey, c_mktsegment AS seg_b,
        CAST(floor(c_acctbal / 1000.0) AS BIGINT)
          + CASE WHEN ({noise}) % 5 = 0 THEN 1 ELSE 0 END AS band_b
      FROM customer),
    cand AS (
      SELECT ka, kb, seg_a = seg_b AS g1, band_a = band_b AS g2,
        ka = kb AS tm
      FROM a JOIN b USING (c_nationkey)),
    stats AS (
      SELECT
        sum(CASE WHEN tm THEN 1 ELSE 0 END) AS md,
        sum(CASE WHEN tm AND g1 THEN 1 ELSE 0 END) AS mn1,
        sum(CASE WHEN tm AND g2 THEN 1 ELSE 0 END) AS mn2,
        sum(CASE WHEN NOT tm THEN 1 ELSE 0 END) AS ud,
        sum(CASE WHEN NOT tm AND g1 THEN 1 ELSE 0 END) AS un1,
        sum(CASE WHEN NOT tm AND g2 THEN 1 ELSE 0 END) AS un2
      FROM cand),
    weights AS (
      SELECT {agree1} AS w1a, {dis1} AS w1d, {agree2} AS w2a,
        {dis2} AS w2d
      FROM stats),
    scored AS (
      SELECT tm,
        (CASE WHEN g1 THEN w1a ELSE w1d END)
          + (CASE WHEN g2 THEN w2a ELSE w2d END) AS score_q
      FROM cand, weights)
    SELECT
      CASE WHEN score_q >= {_FS_T_HI} THEN 'match'
           WHEN score_q > {_FS_T_LO} THEN 'possible'
           ELSE 'non_match' END AS classification,
      tm AS is_true_match,
      CAST(count(*) AS BIGINT) AS n_pairs
    FROM scored
    GROUP BY 1, 2
    """


_patch_oracle("er_fellegi_sunter", _sql_fellegi_sunter_oracle())


# ---------------------------------------------------------------------------
# events_binseg_changepoints — depth-2 binary segmentation (multi-CP)
# ---------------------------------------------------------------------------


def _register_binseg() -> None:
    from ..functions.bounded import bounded_window
    from pyspark.sql import Window
    from pyspark.sql import functions as F  # noqa: F811 (local alias)

    @query(
        "events_binseg_changepoints",
        oracle=None,  # patched below
        tags=("timeseries", "B7", "changepoint"),
    )
    def events_binseg_changepoints(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Binary-segmentation change-point detection (Scott & Knott
        1974) on the global hourly event-volume series — the
        MULTI-change-point complement of the single-shift CUSUM
        (``events_cusum_changepoint``): the split maximizing the
        between-segment sum-of-squares gain f(t) = S_l²/n_l + S_r²/n_r
        is chosen for the whole series (level 0), then again inside
        each resulting half (level 1) — up to 3 change points.

        Determinism: with integer counts, f's numerator
        S_l²·n_r + S_r²·n_l and denominator n_l·n_r are exact int64
        (counts ≤ ~3·10⁵ per split at any tested SF keep S² ≪ 2⁶³; at
        extreme scale lift the cross-products to decimal(38,0)); the
        comparison key is their ONE IEEE division — bit-equal across
        engines — with the hour index as tie-break.

        Scale shape: the fact table collapses FIRST to the
        calendar-bounded hourly series (map-side combinable, ~10³ rows
        per month regardless of input scale); every window below runs
        over that bounded table (global cumsum via bounded_window —
        the reviewed pattern — and level-1 windows partitioned by
        segment side); each argmax is ORDER BY + LIMIT or a rank-1
        partitioned window, never a self-join."""
        ev = load_table(spark, sf_dir, "events")
        hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
            F.count(F.lit(1)).alias("y")
        )
        wi = bounded_window("h", F.asc("h"))
        # idx (the events scan collapsed to the bounded hourly series)
        # feeds tot, the level-0 candidate scan, and the level-1 re-side
        # pass; cp0 feeds level0 and the side assignment; seg feeds
        # segtot and cand1. Materialized once each, the fact-table scan
        # runs once instead of five times (54 Exchanges before).
        idx = hourly.select(
            "h",
            "y",
            F.row_number().over(wi).cast("long").alias("i"),
            F.sum("y").over(
                bounded_window("h", F.asc("h")).rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ).alias("sl"),
        ).localCheckpoint(eager=False)
        tot = idx.agg(
            F.max("i").alias("n"), F.sum("y").alias("s")
        )

        def gain(sl, nl, s, n):
            sr = s - sl
            nr = n - nl
            return (sl * sl * nr + sr * sr * nl).cast("double") / (
                nl * nr
            )

        cand0 = idx.crossJoin(F.broadcast(tot)).filter(
            F.col("i") < F.col("n")
        )
        cp0 = (
            cand0.select(
                "h",
                "i",
                gain(
                    F.col("sl"), F.col("i"), F.col("s"), F.col("n")
                ).alias("gain"),
            )
            .orderBy(F.desc("gain"), F.asc("i"))
            .limit(1)
            .localCheckpoint(eager=False)
        )
        level0 = cp0.select(
            F.lit(0).cast("long").alias("level"),
            F.lit(0).cast("long").alias("segment"),
            "h",
            "i",
            "gain",
        )
        sided = idx.crossJoin(
            F.broadcast(cp0.select(F.col("i").alias("cp_i")))
        ).select(
            "h",
            "y",
            "i",
            (F.col("i") > F.col("cp_i")).cast("long").alias("side"),
        )
        ws = Window.partitionBy("side").orderBy("i")
        seg = sided.select(
            "h",
            "i",
            "side",
            F.row_number().over(ws).cast("long").alias("li"),
            F.sum("y").over(
                ws.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ).alias("lsl"),
        ).localCheckpoint(eager=False)
        segtot = seg.groupBy("side").agg(
            F.max("li").alias("ln"), F.max("lsl").alias("ls")
        )
        cand1 = seg.join(F.broadcast(segtot), "side").filter(
            (F.col("li") < F.col("ln")) & (F.col("ln") >= 2)
        )
        wr = Window.partitionBy("side").orderBy(
            F.desc("gain"), F.asc("li")
        )
        level1 = (
            cand1.select(
                "side",
                "h",
                "i",
                "li",
                gain(
                    F.col("lsl"), F.col("li"), F.col("ls"), F.col("ln")
                ).alias("gain"),
            )
            .withColumn("rn", F.row_number().over(wr))
            .filter("rn = 1")
            .select(
                F.lit(1).cast("long").alias("level"),
                F.col("side").alias("segment"),
                "h",
                "i",
                "gain",
            )
        )
        return level0.unionByName(level1)


_register_binseg()


def _sql_binseg_oracle() -> str:
    return """
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, count(*) AS y
      FROM events GROUP BY 1),
    idx AS (
      SELECT h, y,
        CAST(row_number() OVER (ORDER BY h) AS BIGINT) AS i,
        sum(y) OVER (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS sl
      FROM hourly),
    tot AS (SELECT max(i) AS n, sum(y) AS s FROM idx),
    cp0 AS (
      SELECT h, i,
        CAST(sl * sl * (n - i) + (s - sl) * (s - sl) * i AS DOUBLE)
          / (i * (n - i)) AS gain
      FROM idx, tot WHERE i < n
      ORDER BY gain DESC, i LIMIT 1),
    level0 AS (
      SELECT CAST(0 AS BIGINT) AS level, CAST(0 AS BIGINT) AS segment,
        h, i, gain
      FROM cp0),
    sided AS (
      SELECT idx.h, idx.y, idx.i,
        CAST(idx.i > cp0.i AS BIGINT) AS side
      FROM idx, cp0),
    seg AS (
      SELECT h, i, side,
        CAST(row_number() OVER (PARTITION BY side ORDER BY i)
             AS BIGINT) AS li,
        sum(y) OVER (PARTITION BY side ORDER BY i
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS lsl
      FROM sided),
    segtot AS (
      SELECT side, max(li) AS ln, max(lsl) AS ls FROM seg GROUP BY side),
    cand1 AS (
      SELECT seg.side, seg.h, seg.i,
        CAST(lsl * lsl * (ln - li) + (ls - lsl) * (ls - lsl) * li
             AS DOUBLE) / (li * (ln - li)) AS gain,
        row_number() OVER (
          PARTITION BY seg.side
          ORDER BY CAST(lsl * lsl * (ln - li) + (ls - lsl) * (ls - lsl)
                        * li AS DOUBLE) / (li * (ln - li)) DESC, li)
          AS rn
      FROM seg JOIN segtot USING (side)
      WHERE li < ln AND ln >= 2)
    SELECT level, segment, h, i, gain FROM level0
    UNION ALL
    SELECT CAST(1 AS BIGINT), side, h, i, gain FROM cand1 WHERE rn = 1
    """


_patch_oracle("events_binseg_changepoints", _sql_binseg_oracle())


# ---------------------------------------------------------------------------
# docs_wordpiece_fertility — greedy longest-match tokenizer (WordPiece)
# ---------------------------------------------------------------------------

_WP_MAXLEN = 4  # longest piece considered
_WP_TOPV = 100  # vocab budget per role (word-initial / continuation)


def _register_wordpiece() -> None:
    import pandas as pd

    @query(
        "docs_wordpiece_fertility",
        oracle=None,  # patched below
        tags=("text", "B15", "tokenizer", "wordpiece"),
    )
    def docs_wordpiece_fertility(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """WordPiece-style tokenizer (Wu et al. 2016): fit a vocabulary
        of the top-100 word-INITIAL and top-100 CONTINUATION character
        pieces (length <= 4, counted over word occurrences, ties by
        piece), then tokenize by greedy longest-match — at each
        position take the longest in-vocab piece for the position's
        role, single-character fallback — and report per-document
        token counts and fertility (tokens/word), the
        longest-match-inference complement of the merge-based BPE
        family (``bpe_merges`` / ``docs_bpe_token_counts``).

        The pivotal scale move: segmentation runs over DISTINCT words
        only (the word vocabulary — corpus-size-independent), as one
        Arrow kernel with the piece sets broadcast; per-doc stats are
        then an explode + vocabulary join + integer groupBy(doc_id),
        so the corpus itself never meets Python. The piece-set collect
        is model-parameter extraction (<= 200 rows + singles), the
        same bounded pattern as the IVF centroid seeds
        (operators/similarity.py). Fertility is one exact division of
        exact integer counts; the DuckDB oracle replays the greedy
        scan as a recursive CTE stepping every distinct word in
        lockstep with CASE'd longest-match lookups."""
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        )
        # occ feeds the vocab fit AND the final stats join; dw feeds the
        # piece explode AND the segmentation kernel; by_role is scanned
        # twice (initial/continuation top-100, each a driver collect).
        # Materialize each once: the corpus explode and the piece
        # explode run once per query, not 3-4 times.
        occ = docs.select(
            "doc_id", F.explode(words(F.col("text"))).alias("w")
        ).filter(F.length("w") > 0).localCheckpoint(eager=False)
        dw = occ.groupBy("w").agg(F.count(F.lit(1)).alias("cnt")).localCheckpoint(
            eager=False
        )
        pieces = dw.select(
            "cnt",
            F.explode(
                F.expr(
                    f"""flatten(transform(sequence(1, length(w)), s ->
                    transform(sequence(1, least({_WP_MAXLEN},
                                                length(w) - s + 1)),
                              l -> struct(s AS s,
                                          substr(w, s, l) AS piece))))"""
                )
            ).alias("pc"),
        ).select(
            (F.col("pc.s") == 1).alias("initial"),
            F.col("pc.piece").alias("piece"),
            "cnt",
        )
        by_role = pieces.groupBy("initial", "piece").agg(
            F.sum("cnt").alias("n")
        ).localCheckpoint(eager=False)
        vinit = (
            by_role.filter("initial")
            .orderBy(F.desc("n"), F.asc("piece"))
            .limit(_WP_TOPV)
        )
        vcont = (
            by_role.filter("NOT initial")
            .orderBy(F.desc("n"), F.asc("piece"))
            .limit(_WP_TOPV)
        )
        init_set = frozenset(r.piece for r in vinit.collect())
        cont_set = frozenset(r.piece for r in vcont.collect())

        def _segment(batches):
            for pdf in batches:
                out = []
                for w in pdf["w"]:
                    pos, ntok = 0, 0
                    while pos < len(w):
                        role = init_set if pos == 0 else cont_set
                        for ln in range(
                            min(_WP_MAXLEN, len(w) - pos), 0, -1
                        ):
                            if ln == 1 or w[pos : pos + ln] in role:
                                pos += ln
                                ntok += 1
                                break
                    out.append(ntok)
                yield pd.DataFrame(
                    {
                        "w": pdf["w"],
                        "n_pieces": pd.Series(out, dtype="int64"),
                    }
                )

        seg = dw.select("w").mapInPandas(
            _segment, schema="w string, n_pieces long"
        )
        return (
            occ.join(F.broadcast(seg), "w")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_words"),
                F.sum("n_pieces").cast("long").alias("n_tokens"),
            )
            .select(
                "doc_id",
                "n_words",
                "n_tokens",
                (
                    F.col("n_tokens").cast("double") / F.col("n_words")
                ).alias("fertility"),
            )
        )


_register_wordpiece()


def _sql_wordpiece_oracle() -> str:
    def match_case(role_cte: str) -> str:
        arms = []
        for ln in range(_WP_MAXLEN, 1, -1):
            arms.append(
                f"WHEN length(w) - pos + 1 >= {ln} AND substr(w, pos, {ln})"
                f" IN (SELECT piece FROM {role_cte}) THEN {ln}"
            )
        return "CASE " + " ".join(arms) + " ELSE 1 END"

    return f"""
    WITH RECURSIVE occ AS (
      SELECT doc_id, unnest({SQL_WORDS('text')}) AS w FROM documents),
    occ2 AS (SELECT doc_id, w FROM occ WHERE length(w) > 0),
    dw AS (SELECT w, count(*) AS cnt FROM occ2 GROUP BY w),
    pieces AS (
      SELECT s = 1 AS initial, substr(w, s, l) AS piece, cnt
      FROM dw,
        LATERAL (SELECT unnest(range(1, length(w) + 1)) AS s),
        LATERAL (SELECT unnest(range(1, least({_WP_MAXLEN},
                 length(w) - s + 1) + 1)) AS l)),
    by_role AS (
      SELECT initial, piece, sum(cnt) AS n FROM pieces
      GROUP BY initial, piece),
    vinit AS (
      SELECT piece FROM by_role WHERE initial
      ORDER BY n DESC, piece LIMIT {_WP_TOPV}),
    vcont AS (
      SELECT piece FROM by_role WHERE NOT initial
      ORDER BY n DESC, piece LIMIT {_WP_TOPV}),
    walk AS (
      SELECT w, 1 AS pos, 0 AS ntok FROM dw
      UNION ALL
      SELECT w,
        pos + (CASE WHEN pos = 1 THEN {match_case('vinit')}
               ELSE {match_case('vcont')} END),
        ntok + 1
      FROM walk WHERE pos <= length(w)),
    seg AS (
      SELECT w, max(ntok) AS n_pieces FROM walk
      WHERE pos > length(w) GROUP BY w)
    SELECT doc_id,
      CAST(count(*) AS BIGINT) AS n_words,
      CAST(sum(n_pieces) AS BIGINT) AS n_tokens,
      CAST(sum(n_pieces) AS DOUBLE) / count(*) AS fertility
    FROM occ2 JOIN seg USING (w)
    GROUP BY doc_id
    """


_patch_oracle("docs_wordpiece_fertility", _sql_wordpiece_oracle())


# ---------------------------------------------------------------------------
# orders_survival_km — Kaplan–Meier with right-censoring (exact log-S)
# ---------------------------------------------------------------------------


def _register_km() -> None:
    from ..functions.bounded import bounded_window
    from pyspark.sql import Window as W

    @query(
        "orders_survival_km",
        oracle=None,  # patched below
        tags=("timeseries", "B7", "survival", "retention"),
    )
    def orders_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Kaplan–Meier product-limit survival of inter-purchase time
        WITH right-censoring — the estimator the hazard life-table
        (``orders_interpurchase_hazard``) deliberately stops short of:
        every consecutive-order gap is an observed return at duration
        k, and each customer's time from their LAST order to the
        dataset end is a CENSORED duration (they have not returned
        yet). Censoring is what makes KM non-trivial — without it the
        product telescopes to the empirical suffix ratio. Per duration
        k: returns d_k, censored c_k, at-risk n_k, and the EXACT
        log-survival ln S(k) = Σ_{j≤k, d_j>0} [ln(n_j−d_j) − ln(n_j)]
        as a cumulative sum of 1e-8-quantized integer logs (the
        cross-row float PRODUCT the hazard docstring rules out is
        order-dependent; this log-sum is not). S itself is e^lnS — a
        monotone display transform left to the client, so no
        cross-engine transcendental is needed. ``hit_zero`` marks the
        tail where n_k = d_k (S drops to exactly 0; the guarded log
        term is frozen there).

        Scale shape: one distinct reduction + one lag window per
        customer (single hash exchange), a 1-row dataset-end
        broadcast, then everything collapses to the date-domain-
        bounded k table; the suffix/cumulative sums run under
        bounded_window — same reviewed class as the hazard table."""
        o = load_table(spark, sf_dir, "orders")
        od = o.select("o_custkey", "o_orderdate").distinct()
        wl = W.partitionBy("o_custkey").orderBy("o_orderdate")
        gaps = od.select(
            "o_custkey",
            F.datediff(
                F.col("o_orderdate"), F.lag("o_orderdate").over(wl)
            ).alias("gap"),
        )
        observed = gaps.where(F.col("gap").isNotNull()).select(
            F.col("gap").cast("long").alias("k"),
            F.lit(1).alias("d"),
            F.lit(0).alias("c"),
        )
        dataset_end = od.agg(F.max("o_orderdate").alias("end_date"))
        censored = (
            od.groupBy("o_custkey")
            .agg(F.max("o_orderdate").alias("last_order"))
            .crossJoin(F.broadcast(dataset_end))
            .select(
                F.datediff(F.col("end_date"), F.col("last_order"))
                .cast("long")
                .alias("k"),
                F.lit(0).alias("d"),
                F.lit(1).alias("c"),
            )
            .where(F.col("k") > 0)
        )
        table = (
            observed.unionByName(censored)
            .groupBy("k")
            .agg(F.sum("d").alias("n_events"), F.sum("c").alias("n_censored"))
        )
        wk_desc = bounded_window("k", F.desc("k")).rowsBetween(
            W.unboundedPreceding, W.currentRow
        )
        wk_asc = bounded_window("k", F.asc("k")).rowsBetween(
            W.unboundedPreceding, W.currentRow
        )
        at_risk = table.select(
            "k",
            "n_events",
            "n_censored",
            F.sum(F.col("n_events") + F.col("n_censored"))
            .over(wk_desc)
            .alias("n_at_risk"),
        )
        term = F.when(
            (F.col("n_events") > 0)
            & (F.col("n_at_risk") > F.col("n_events")),
            _lnq_q(F.col("n_at_risk") - F.col("n_events"))
            - _lnq_q(F.col("n_at_risk")),
        ).otherwise(F.lit(0).cast("long"))
        return at_risk.select(
            "k",
            "n_events",
            "n_censored",
            "n_at_risk",
            (
                F.sum(term).over(wk_asc).cast("double") / _LNQ_SCALE
            ).alias("ln_survival"),
            (
                F.max(
                    (
                        (F.col("n_events") > 0)
                        & (F.col("n_at_risk") == F.col("n_events"))
                    ).cast("int")
                ).over(wk_asc)
                == 1
            ).alias("hit_zero"),
        )


_register_km()


def _sql_km_oracle() -> str:
    return f"""
    WITH od AS (
      SELECT DISTINCT o_custkey, o_orderdate FROM orders),
    gaps AS (
      SELECT o_custkey,
        date_diff('day',
          lag(o_orderdate) OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate),
          o_orderdate) AS gap
      FROM od),
    observed AS (
      SELECT CAST(gap AS BIGINT) AS k, 1 AS d, 0 AS c
      FROM gaps WHERE gap IS NOT NULL),
    dend AS (SELECT max(o_orderdate) AS end_date FROM od),
    censored AS (
      SELECT CAST(date_diff('day', last_order, end_date) AS BIGINT)
        AS k, 0 AS d, 1 AS c
      FROM (SELECT o_custkey, max(o_orderdate) AS last_order
            FROM od GROUP BY o_custkey), dend
      WHERE date_diff('day', last_order, end_date) > 0),
    t AS (
      SELECT k, sum(d) AS n_events, sum(c) AS n_censored
      FROM (SELECT * FROM observed UNION ALL SELECT * FROM censored)
      GROUP BY k),
    ar AS (
      SELECT k, n_events, n_censored,
        sum(n_events + n_censored) OVER (
          ORDER BY k DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS n_at_risk
      FROM t)
    SELECT k,
      CAST(n_events AS BIGINT) AS n_events,
      CAST(n_censored AS BIGINT) AS n_censored,
      CAST(n_at_risk AS BIGINT) AS n_at_risk,
      CAST(sum(CASE WHEN n_events > 0 AND n_at_risk > n_events
        THEN {_sql_lnq_q('n_at_risk - n_events')}
             - {_sql_lnq_q('n_at_risk')}
        ELSE 0 END) OVER (
          ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        AS DOUBLE) / {_LNQ_SCALE} AS ln_survival,
      max(CASE WHEN n_events > 0 AND n_at_risk = n_events
          THEN 1 ELSE 0 END) OVER (
        ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        = 1 AS hit_zero
    FROM ar
    """


_patch_oracle("orders_survival_km", _sql_km_oracle())


# ---------------------------------------------------------------------------
# scalar_hof_funcs — higher-order array function battery (B12)
# ---------------------------------------------------------------------------


@query(
    "scalar_hof_funcs",
    oracle="""
    WITH src AS (
      SELECT o_orderkey,
        range(1, (o_orderkey % 5) + 3) AS arr
      FROM orders WHERE o_orderkey <= 500)
    SELECT o_orderkey,
      array_to_string(list_transform(arr, x -> x * 2), ',') AS doubled,
      array_to_string(list_filter(arr, x -> x % 2 = 0), ',') AS evens,
      list_contains(arr, 3) AS has_three,
      len(list_filter(arr, x -> x <= 0)) = 0 AS all_pos,
      CAST(list_sum(arr) AS BIGINT) AS total,
      array_to_string(list_transform(list_zip(arr, list_reverse(arr)),
                     p -> p[1] + p[2]), ',') AS sym_sums,
      array_to_string((list_sort(arr, 'DESC'))[1:2], ',') AS top2
    FROM src
    """,
    tags=("scalar", "B12", "hof"),
)
def scalar_hof_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array function battery — the lambda-expression
    corner of the B12 scalar surface the array/map batteries
    (``scalar_array_funcs``/``scalar_map_funcs``) don't touch:
    ``transform``, ``filter``, ``exists``, ``forall``, ``aggregate``
    (fold), ``zip_with`` (against the reversed array), and
    sort+slice — all whole-stage-codegen'd JVM expressions (no UDF),
    evaluated per row over a sequence derived from the key. Pure
    map-side projection: no shuffle, no join, scan-bounded at any
    scale. Array results are CSV-serialized because the driver's
    canonicalizer hashes scalar cells only."""

    def _csv(col):
        return F.array_join(F.transform(col, lambda x: x.cast("string")), ",")

    o = load_table(spark, sf_dir, "orders").filter("o_orderkey <= 500")
    arr = F.sequence(F.lit(1).cast("long"), (F.col("o_orderkey") % 5) + 2)
    return o.select(
        "o_orderkey",
        arr.alias("_arr"),
    ).select(
        "o_orderkey",
        _csv(F.transform("_arr", lambda x: x * 2)).alias("doubled"),
        _csv(F.filter("_arr", lambda x: x % 2 == 0)).alias("evens"),
        F.exists("_arr", lambda x: x == 3).alias("has_three"),
        F.forall("_arr", lambda x: x > 0).alias("all_pos"),
        F.aggregate(
            "_arr", F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("total"),
        _csv(
            F.zip_with("_arr", F.reverse("_arr"), lambda a, b: a + b)
        ).alias("sym_sums"),
        _csv(F.slice(F.sort_array("_arr", asc=False), 1, 2)).alias("top2"),
    )


# ---------------------------------------------------------------------------
# dq_dp_noise_calibration — seeded-Laplace DP mechanics + error audit
# ---------------------------------------------------------------------------

_DP_EPS_SCALE = 1  # b = sensitivity/epsilon = 1/1 for a count query


def _register_dp_calibration() -> None:
    @query(
        "dq_dp_noise_calibration",
        oracle=None,  # patched below
        tags=("dq", "B7", "privacy", "differential-privacy"),
    )
    def dq_dp_noise_calibration(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Differential-privacy release mechanics as a CALIBRATION
        AUDIT: the market-segment histogram of customers with
        Laplace(b = Δf/ε = 1/1) noise drawn by inverse-CDF from the
        DETERMINISTIC md5-uniform u = h/P — x = −b·sgn(2u−1)·ln(1−|2u−1|)
        — so the run is reproducible and the realized |noise| can sit
        next to the true count (a production release would use a real
        RNG and drop the true column; this row reports the mechanism's
        error so an operator can size ε before releasing). The privacy
        sibling of ``dq_k_anonymity``: that audits the DATA's
        re-identifiability, this audits the RELEASE mechanism.

        Determinism: 1−|2u−1| = (P − |2h − P|)/P with an integer
        numerator (floored at 1 to dodge ln 0 at h = 0), so the noise
        is a difference of 1e-8-quantized integer logs; noisy_n =
        (n·1e8 ± noise_q)/1e8 is one shared division of exact ints.

        Scale shape: one map-side-combinable groupBy to the |segments|
        histogram; the noise is a per-row projection on that bounded
        table. Cost identical to the plain histogram at any scale."""
        c = load_table(spark, sf_dir, "customer")
        hist = c.groupBy("c_mktsegment").agg(
            F.count(F.lit(1)).cast("long").alias("n_true")
        )
        h = md5_mod(F.concat_ws(":", F.lit("dp"), F.col("c_mktsegment")))
        t = 2 * h - _P  # sign of (2u - 1), integer-exact
        num = F.greatest(_P - F.abs(t), F.lit(1))
        mag_q = _lnq_q(F.lit(_P)) - _lnq_q(num)  # −ln(1−|t|) ≥ 0, quantized
        noise_q = F.when(t < 0, -mag_q).otherwise(mag_q) * _DP_EPS_SCALE
        return hist.select(
            "c_mktsegment",
            "n_true",
            (
                (F.col("n_true") * _LNQ_SCALE + noise_q).cast("double")
                / _LNQ_SCALE
            ).alias("noisy_n"),
            (F.abs(noise_q).cast("double") / _LNQ_SCALE).alias("abs_err"),
            F.lit(1.0).alias("epsilon"),
        )


_register_dp_calibration()


def _sql_dp_calibration_oracle() -> str:
    h = SQL_MD5_MOD("'dp:' || c_mktsegment")
    return f"""
    WITH hist AS (
      SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_true
      FROM customer GROUP BY c_mktsegment),
    seeded AS (
      SELECT c_mktsegment, n_true, ({h}) AS hh FROM hist),
    noise AS (
      SELECT c_mktsegment, n_true,
        CASE WHEN 2 * hh - {_P} < 0 THEN -1 ELSE 1 END
          * ({_sql_lnq_q(str(_P))}
             - {_sql_lnq_q(f'greatest({_P} - abs(2 * hh - {_P}), 1)')})
          * {_DP_EPS_SCALE} AS noise_q
      FROM seeded)
    SELECT c_mktsegment, n_true,
      CAST(n_true * {_LNQ_SCALE} + noise_q AS DOUBLE) / {_LNQ_SCALE}
        AS noisy_n,
      CAST(abs(noise_q) AS DOUBLE) / {_LNQ_SCALE} AS abs_err,
      CAST(1.0 AS DOUBLE) AS epsilon
    FROM noise
    """


_patch_oracle("dq_dp_noise_calibration", _sql_dp_calibration_oracle())


# ---------------------------------------------------------------------------
# docs_unigram_mdl — SentencePiece-style Viterbi minimum description length
# ---------------------------------------------------------------------------

_MDL_MAXLEN = 4
_MDL_TOPV = 200
_MDL_BIG = 10**15  # "infinity": non-vocab multi-char pieces are unusable


def _register_unigram_mdl() -> None:
    import pandas as pd

    @query(
        "docs_unigram_mdl",
        oracle=None,  # patched below
        tags=("text", "B15", "tokenizer", "mdl", "quality"),
    )
    def docs_unigram_mdl(spark: SparkSession, sf_dir: str) -> DataFrame:
        """SentencePiece-style unigram-LM scoring (Kudo 2018) as exact
        MINIMUM DESCRIPTION LENGTH: fit a piece unigram model (top-200
        substrings of length <= 4 by occurrence-weighted count, Laplace
        floor for single-char fallback), then Viterbi each word for the
        CHEAPEST segmentation — cost = Σ −ln p(piece) — and report each
        document's total and per-word description length. Unlike a
        best-PATH output, the min-COST is a pure min of exact integer
        sums, so the DP needs no tie-break to be deterministic. MDL is
        the compression-based quality signal (incompressible gibberish
        scores high, repetitive boilerplate low) and completes the
        tokenizer family: BPE (merges), WordPiece (greedy longest
        match), unigram-LM (global-optimum Viterbi).

        Scale shape: identical to ``docs_wordpiece_fertility`` — the
        model fit is a vocabulary-bounded TakeOrdered, Viterbi runs
        over DISTINCT WORDS ONLY in one Arrow kernel with the <= 200
        piece scores broadcast, and doc stats are an explode +
        vocabulary join + integer groupBy. The DuckDB oracle replays
        the Viterbi as a STATE-CARRYING recursive CTE (each row
        carries best[j−1..j−4], so min over the 4 predecessors is
        expressible without self-referencing the recursion twice).

        Determinism: piece costs are 1e-8-quantized integer logs;
        per-word best costs are exact int mins; per-doc sums exact
        ints; the two divisions (per-word, per-char) are shared single
        expressions."""
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        )
        # Same single-derivation shape as docs_wordpiece_fertility: occ
        # feeds the vocab fit and the final stats join, dw feeds the
        # piece explode and the Viterbi kernel, vocab is consumed by the
        # totals and two driver collects.
        occ = docs.select(
            "doc_id", F.explode(words(F.col("text"))).alias("w")
        ).filter(F.length("w") > 0).localCheckpoint(eager=False)
        dw = occ.groupBy("w").agg(F.count(F.lit(1)).alias("cnt")).localCheckpoint(
            eager=False
        )
        pieces = dw.select(
            "cnt",
            F.explode(
                F.expr(
                    f"""flatten(transform(sequence(1, length(w)), s ->
                    transform(sequence(1, least({_MDL_MAXLEN},
                                                length(w) - s + 1)),
                              l -> substr(w, s, l))))"""
                )
            ).alias("piece"),
        )
        vocab = (
            pieces.groupBy("piece")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.desc("n"), F.asc("piece"))
            .limit(_MDL_TOPV)
            .localCheckpoint(eager=False)
        )
        tot = vocab.agg(F.sum("n").alias("t"), F.count(F.lit(1)).alias("v"))
        scored_vocab = vocab.crossJoin(F.broadcast(tot)).select(
            "piece",
            (
                _lnq_q(F.col("t") + F.col("v") + 1)
                - _lnq_q(F.col("n") + 1)
            ).alias("cost_q"),
        )
        model = {r.piece: r.cost_q for r in scored_vocab.collect()}
        t_row = tot.collect()[0]
        floor_q = (
            scored_vocab.sparkSession.range(1)
            .select(
                (
                    _lnq_q(F.lit(int(t_row.t) + int(t_row.v) + 1))
                    - _lnq_q(F.lit(1))
                ).alias("f")
            )
            .collect()[0]
            .f
        )

        def _viterbi(batches):
            for pdf in batches:
                out = []
                for w in pdf["w"]:
                    n = len(w)
                    best = [0] + [None] * n
                    for j in range(1, n + 1):
                        b = None
                        for ln in range(1, min(_MDL_MAXLEN, j) + 1):
                            prev = best[j - ln]
                            if prev is None:
                                continue
                            piece = w[j - ln : j]
                            c = model.get(piece)
                            if c is None:
                                if ln > 1:
                                    continue
                                c = floor_q
                            cand = prev + c
                            if b is None or cand < b:
                                b = cand
                        best[j] = b
                    out.append(int(best[n]))
                yield pd.DataFrame(
                    {
                        "w": pdf["w"],
                        "dl_q": pd.Series(out, dtype="int64"),
                    }
                )

        seg = dw.select("w").mapInPandas(
            _viterbi, schema="w string, dl_q long"
        )
        return (
            occ.join(F.broadcast(seg), "w")
            .join(
                docs.select("doc_id", F.length("text").alias("n_chars")),
                "doc_id",
            )
            .groupBy("doc_id", "n_chars")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_words"),
                F.sum("dl_q").alias("dl_sum_q"),
            )
            .select(
                "doc_id",
                "n_words",
                (F.col("dl_sum_q").cast("double") / _LNQ_SCALE).alias(
                    "description_len"
                ),
                (
                    F.col("dl_sum_q").cast("double")
                    / (F.col("n_words") * _LNQ_SCALE)
                ).alias("dl_per_word"),
                (
                    F.col("dl_sum_q").cast("double")
                    / (F.col("n_chars").cast("long") * _LNQ_SCALE)
                ).alias("dl_per_char"),
            )
        )


_register_unigram_mdl()


def _sql_unigram_mdl_oracle() -> str:
    # State-carrying Viterbi: the row for position j holds
    # (b1, b2, b3, b4) = best[j], best[j-1], best[j-2], best[j-3].
    # Transition to nj = j+1: best[nj] = min over L of
    # best[nj-L] + cost(substr(w, nj-L+1, L)), prev(L) = bL.
    arms = []
    for L in range(1, _MDL_MAXLEN + 1):
        fb = "(SELECT f FROM floorc)" if L == 1 else str(_MDL_BIG)
        cost = (
            f"coalesce((SELECT cost_q FROM scored_vocab sv"
            f" WHERE sv.piece = substr(wk.w, wk.j + 2 - {L}, {L})),"
            f" {fb})"
        )
        arms.append(
            f"CASE WHEN wk.j + 1 >= {L} AND wk.b{L} < {_MDL_BIG}"
            f" THEN wk.b{L} + {cost}"
            f" ELSE {2 * _MDL_BIG} END"
        )
    step_min = "least(" + ", ".join(arms) + ")"
    return f"""
    WITH RECURSIVE occ AS (
      SELECT doc_id, unnest({SQL_WORDS('text')}) AS w FROM documents),
    occ2 AS (SELECT doc_id, w FROM occ WHERE length(w) > 0),
    dw AS (SELECT w, count(*) AS cnt FROM occ2 GROUP BY w),
    pieces AS (
      SELECT substr(w, s, l) AS piece, cnt
      FROM dw,
        LATERAL (SELECT unnest(range(1, length(w) + 1)) AS s),
        LATERAL (SELECT unnest(range(1, least({_MDL_MAXLEN},
                 length(w) - s + 1) + 1)) AS l)),
    vocab AS (
      SELECT piece, sum(cnt) AS n FROM pieces GROUP BY piece
      ORDER BY n DESC, piece LIMIT {_MDL_TOPV}),
    tot AS (SELECT sum(n) AS t, count(*) AS v FROM vocab),
    scored_vocab AS (
      SELECT piece,
        {_sql_lnq_q('t + v + 1')} - {_sql_lnq_q('n + 1')} AS cost_q
      FROM vocab, tot),
    floorc AS (
      SELECT {_sql_lnq_q('t + v + 1')} - {_sql_lnq_q('1')} AS f
      FROM tot),
    walk AS (
      SELECT w, 0 AS j,
        CAST(0 AS BIGINT) AS b1, CAST({_MDL_BIG} AS BIGINT) AS b2,
        CAST({_MDL_BIG} AS BIGINT) AS b3,
        CAST({_MDL_BIG} AS BIGINT) AS b4
      FROM dw
      UNION ALL
      SELECT wk.w, wk.j + 1,
        CAST({step_min} AS BIGINT), wk.b1, wk.b2, wk.b3
      FROM walk wk WHERE wk.j < length(wk.w)),
    seg AS (
      SELECT w, b1 AS dl_q FROM walk WHERE j = length(w))
    SELECT o.doc_id,
      CAST(count(*) AS BIGINT) AS n_words,
      CAST(sum(s.dl_q) AS DOUBLE) / {_LNQ_SCALE} AS description_len,
      CAST(sum(s.dl_q) AS DOUBLE) / (count(*) * {_LNQ_SCALE})
        AS dl_per_word,
      CAST(sum(s.dl_q) AS DOUBLE)
        / (any_value(d.n_chars) * {_LNQ_SCALE}) AS dl_per_char
    FROM occ2 o
    JOIN seg s USING (w)
    JOIN (SELECT doc_id, length(text) AS n_chars FROM documents) d
      USING (doc_id)
    GROUP BY o.doc_id
    """


_patch_oracle("docs_unigram_mdl", _sql_unigram_mdl_oracle())


# ---------------------------------------------------------------------------
# docs_textrank_keywords — PageRank over the word co-occurrence graph
# ---------------------------------------------------------------------------

_TR_ITER = 3
_TR_TOPK = 20


def _register_textrank() -> None:
    from ..functions.bounded import bounded_window
    from ..operators.graph import pagerank

    @query(
        "docs_textrank_keywords",
        oracle=None,  # patched below
        tags=("text", "B15", "graph", "keywords", "iterative"),
    )
    def docs_textrank_keywords(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank
        over the word CO-OCCURRENCE graph — one edge per adjacent word
        pair, fed in both directions, so edge multiplicity acts as the
        co-occurrence weight — reusing the certified integer-exact
        PageRank kernel (operators/graph.py, 3 iterations, damping
        0.85, 1e12 integer mass) on word-hash nodes; the corpus's
        top-20 keywords by stationary rank. The graph-centrality
        keyword scorer beside the frequency-based TF-IDF top terms —
        and a showcase that the iterative graph kernel composes onto a
        derived linguistic graph unchanged.

        Scale shape: one bigram explode into an edge list (data-sized,
        localCheckpointed once inside the kernel), then every
        iteration is an edge join + VOCABULARY-bounded rank
        aggregation; selection is ORDER BY + LIMIT onto the bounded
        rank table; the word↔hash mapping joins back by hash.

        Determinism: integer floor-division PageRank replays exactly;
        the final order ties break on the word string."""
        docs = load_table(spark, sf_dir, "documents").select("text")
        bg = docs.filter(F.size(words(F.col("text"))) >= 2).select(
            F.explode(shingles("text", 2)).alias("bg")
        ).select(
            md5_mod(F.substring_index(F.col("bg"), " ", 1)).alias("h1"),
            md5_mod(F.substring_index(F.col("bg"), " ", -1)).alias("h2"),
        ).filter(F.col("h1") != F.col("h2"))
        # Both directions in ONE pass over the bigram explode (the
        # unionAll form re-ran the explode + double-md5 per branch).
        edges = bg.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("h1").alias("src"), F.col("h2").alias("dst")
                    ),
                    F.struct(
                        F.col("h2").alias("src"), F.col("h1").alias("dst")
                    ),
                )
            ).alias("_e")
        ).select("_e.src", "_e.dst")
        # r19: the co-occurrence graph is a MULTIGRAPH (edge repetition
        # IS the weight), so the kernel collapses it to (src, dst, w)
        # once and iterates over distinct pairs — exactly equal (see
        # pagerank's distributivity note), but the three iteration
        # joins and the degree aggregate run on the distinct-bigram
        # relation instead of the full corpus-sized instance list.
        pr = pagerank(edges, iterations=_TR_ITER, collapse_multiedges=True)
        wmap = (
            docs.select(F.explode(words(F.col("text"))).alias("w"))
            .filter(F.length("w") > 0)
            .distinct()
            .select("w", md5_mod(F.col("w")).alias("node"))
        )
        ranked = (
            pr.join(F.broadcast(wmap), "node")
            .orderBy(F.desc("pr"), F.asc("w"))
            .limit(_TR_TOPK)
        )
        wr = bounded_window("w", F.desc("pr"), F.asc("w"))
        return ranked.select(
            F.col("w").alias("word"),
            "pr",
            F.row_number().over(wr).cast("long").alias("kw_rank"),
        )


_register_textrank()


def _sql_textrank_oracle() -> str:
    from ..operators.graph import SCALE

    it = """
    pr{k} AS (
      SELECT b.node, b.base + (85 * coalesce(s.s, 0)) // 100 AS pr
      FROM base b LEFT JOIN (
        SELECT e.dst AS node, sum(p.pr // d.deg) AS s
        FROM edges e JOIN pr{j} p ON e.src = p.node
        JOIN deg d ON e.src = d.src
        GROUP BY e.dst
      ) s ON b.node = s.node
    )"""
    iters = ",".join(it.format(k=k, j=k - 1) for k in range(1, _TR_ITER + 1))
    h1 = SQL_MD5_MOD("split_part(bg, ' ', 1)")
    h2 = SQL_MD5_MOD("split_part(bg, ' ', 2)")
    hw = SQL_MD5_MOD("w")
    return f"""
    WITH ex AS (
      SELECT unnest({SQL_SHINGLES('text', 2)}) AS bg
      FROM documents WHERE len({SQL_WORDS('text')}) >= 2),
    bgh AS (
      SELECT ({h1}) AS h1, ({h2}) AS h2 FROM ex),
    bgf AS (SELECT h1, h2 FROM bgh WHERE h1 <> h2),
    edges AS (
      SELECT h1 AS src, h2 AS dst FROM bgf
      UNION ALL
      SELECT h2 AS src, h1 AS dst FROM bgf
    ), deg AS (
      SELECT src, count(*) AS deg FROM edges GROUP BY src
    ), n AS (
      SELECT count(*) AS n FROM deg
    ), pr0 AS (
      SELECT d.src AS node, CAST({SCALE} AS BIGINT) // n.n AS pr
      FROM deg d, n
    ), base AS (
      SELECT d.src AS node,
        (15 * (CAST({SCALE} AS BIGINT) // n.n)) // 100 AS base
      FROM deg d, n
    ),{iters},
    wmap AS (
      SELECT w, ({hw}) AS node
      FROM (SELECT DISTINCT unnest({SQL_WORDS('text')}) AS w
            FROM documents)
      WHERE length(w) > 0)
    SELECT m.w AS word, CAST(p.pr AS BIGINT) AS pr,
      CAST(row_number() OVER (ORDER BY p.pr DESC, m.w) AS BIGINT)
        AS kw_rank
    FROM pr{_TR_ITER} p JOIN wmap m USING (node)
    ORDER BY p.pr DESC, m.w LIMIT {_TR_TOPK}
    """


_patch_oracle("docs_textrank_keywords", _sql_textrank_oracle())


# ---------------------------------------------------------------------------
# sim_knn_loo_eval — k-NN leave-one-out label eval over the ANN family
# ---------------------------------------------------------------------------

_KNN_NQ = 200  # eval slice (vec_id < 200)
_KNN_K = 10


def _register_knn_loo() -> None:
    from ..operators.similarity import cosine_topk_bruteforce
    from pyspark.sql import Window as W

    @query(
        "sim_knn_loo_eval",
        oracle=None,  # patched below
        tags=("similarity", "B15", "evaluation", "knn"),
    )
    def sim_knn_loo_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
        """k-NN leave-one-out classification accuracy — the
        label-quality evaluation of the embedding space itself, beside
        the retrieval-quality gates (``sim_recall_ivf_vs_exact``,
        ``emb_matryoshka_recall``) and the centroid classifier
        (``sim_nearest_centroid``): for each of the 200 eval vectors,
        the exact cosine top-10 neighbors (self excluded) vote by
        majority (ties to the smaller label), and the verdicts roll up
        per true label into (n_eval, n_correct, accuracy). Declared
        exact-evaluation tier: the |Q|x|C| ranking is the point, same
        posture as ``sim_topk_bruteforce``; the production-scale path
        runs the identical vote on LSH/IVF candidates.

        Determinism: the certified exact-int cosine ordering with
        neighbor-id tie-break fixes the top-k set; votes are integer
        counts with (count desc, label asc) argmax; accuracy is one
        shared division."""
        # One scan + quantize pass shared by the corpus side, the query
        # side, and both label joins (the r18 before-plan derived the
        # embeddings scan 4x); quantized longs are identical, so the
        # ranking — and the vote — is bit-equal.
        from .llm import _quantized_embeddings

        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "label"
        ).localCheckpoint(eager=False)
        embq = _quantized_embeddings(spark, sf_dir)
        topk = cosine_topk_bruteforce(
            embq, embq.filter(F.col("vec_id") < _KNN_NQ), k=_KNN_K,
            quantized=True,
        )
        labels = emb.select("vec_id", "label")
        votes = (
            topk.join(
                labels.select(
                    F.col("vec_id").alias("neighbor_id"),
                    F.col("label").alias("nlabel"),
                ),
                "neighbor_id",
            )
            .groupBy("query_id", "nlabel")
            .agg(F.count(F.lit(1)).alias("n_votes"))
        )
        wv = W.partitionBy("query_id").orderBy(
            F.desc("n_votes"), F.asc("nlabel")
        )
        pred = (
            votes.withColumn("rn", F.row_number().over(wv))
            .filter("rn = 1")
            .select("query_id", F.col("nlabel").alias("pred"))
        )
        evald = pred.join(
            labels.select(
                F.col("vec_id").alias("query_id"), F.col("label")
            ),
            "query_id",
        )
        return (
            evald.groupBy("label")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_eval"),
                F.sum(
                    F.when(F.col("pred") == F.col("label"), 1).otherwise(0)
                )
                .cast("long")
                .alias("n_correct"),
            )
            .select(
                "label",
                "n_eval",
                "n_correct",
                (
                    F.col("n_correct").cast("double") / F.col("n_eval")
                ).alias("accuracy"),
            )
        )


_register_knn_loo()


def _sql_knn_loo_oracle() -> str:
    from .llm import _SQL_DOT, _SQL_NORM, _SQL_QUANT

    return f"""
    WITH q AS (
      SELECT vec_id AS query_id, {_SQL_QUANT.format(e='embedding')} AS qv
      FROM embeddings WHERE vec_id < {_KNN_NQ}),
    c AS (
      SELECT vec_id AS neighbor_id,
        {_SQL_QUANT.format(e='embedding')} AS cv, label AS nlabel
      FROM embeddings),
    scored AS (
      SELECT query_id, neighbor_id, nlabel,
        {_SQL_DOT.format(a='qv', b='cv')} /
        ({_SQL_NORM.format(v='qv')} * {_SQL_NORM.format(v='cv')})
          AS cosine
      FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
    topk AS (
      SELECT query_id, nlabel FROM (
        SELECT query_id, nlabel,
          row_number() OVER (PARTITION BY query_id
                             ORDER BY cosine DESC, neighbor_id) AS rnk
        FROM scored) WHERE rnk <= {_KNN_K}),
    votes AS (
      SELECT query_id, nlabel, count(*) AS n_votes
      FROM topk GROUP BY query_id, nlabel),
    pred AS (
      SELECT query_id, nlabel AS pred FROM (
        SELECT query_id, nlabel,
          row_number() OVER (PARTITION BY query_id
                             ORDER BY n_votes DESC, nlabel) AS rn
        FROM votes) WHERE rn = 1),
    evald AS (
      SELECT p.query_id, p.pred, e.label
      FROM pred p JOIN embeddings e ON p.query_id = e.vec_id)
    SELECT label,
      CAST(count(*) AS BIGINT) AS n_eval,
      CAST(sum(CASE WHEN pred = label THEN 1 ELSE 0 END) AS BIGINT)
        AS n_correct,
      CAST(sum(CASE WHEN pred = label THEN 1 ELSE 0 END) AS DOUBLE)
        / count(*) AS accuracy
    FROM evald GROUP BY label
    """


_patch_oracle("sim_knn_loo_eval", _sql_knn_loo_oracle())


# ---------------------------------------------------------------------------
# dq_t_closeness — the third member of the re-identification-audit trio
# ---------------------------------------------------------------------------

_TCLOSE_T = 0.25  # release threshold on the ordered EMD


@query(
    "dq_t_closeness",
    oracle=f"""
    WITH cust AS (
      SELECT c_mktsegment AS seg, c_nationkey AS nat,
        CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS band
      FROM customer),
    cells AS (
      SELECT seg, nat, band, count(*) AS cnt FROM cust GROUP BY 1, 2, 3),
    classes AS (
      SELECT seg, nat, CAST(sum(cnt) AS BIGINT) AS k FROM cells GROUP BY 1, 2),
    gband AS (
      SELECT band, CAST(sum(cnt) AS BIGINT) AS g FROM cells GROUP BY 1),
    bounds AS (
      SELECT min(band) AS lo, max(band) AS hi,
        CAST(sum(g) AS BIGINT) AS n_total,
        CAST(count(*) AS BIGINT) AS n_bands
      FROM gband),
    frame AS (
      SELECT seg, nat, k, n_total, n_bands,
        unnest(generate_series(lo, hi)) AS band
      FROM classes, bounds),
    filled AS (
      SELECT f.seg, f.nat, f.k, f.n_total, f.n_bands, f.band,
        COALESCE(c.cnt, 0) AS cnt, COALESCE(gb.g, 0) AS g
      FROM frame f
      LEFT JOIN cells c ON f.seg = c.seg AND f.nat = c.nat AND f.band = c.band
      LEFT JOIN gband gb ON f.band = gb.band),
    cum AS (
      SELECT seg, nat, k, n_total, n_bands,
        sum(cnt) OVER (PARTITION BY seg, nat ORDER BY band) AS cumc,
        sum(g) OVER (PARTITION BY seg, nat ORDER BY band) AS cumg
      FROM filled),
    scored AS (
      SELECT seg, nat, k,
        CASE WHEN n_bands = 1 THEN 0.0 ELSE
          CAST(sum(abs(CAST(cumc AS DECIMAL(38,0)) * n_total
                       - CAST(cumg AS DECIMAL(38,0)) * k)) AS DOUBLE)
          / CAST(CAST(k AS DECIMAL(38,0)) * n_total * (n_bands - 1)
                 AS DOUBLE) END
          AS t_closeness
      FROM cum GROUP BY seg, nat, k, n_total, n_bands)
    SELECT seg AS c_mktsegment, nat AS c_nationkey, k AS k_size,
      t_closeness, t_closeness <= {_TCLOSE_T} AS t_close
    FROM scored
    """,
    tags=("dq", "B7", "privacy", "t-closeness"),
)
def dq_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian 2007) — the third
    member of the re-identification trio after k-anonymity and
    (entropy) l-diversity (``dq_k_anonymity``): a class can be large
    (k-anonymous) and diverse (l-diverse) and STILL leak, if its
    sensitive-value distribution differs sharply from the global one
    (the classic "this zip code is all high balances" disclosure). Per
    quasi-identifier class (market segment, nation), the ordered Earth
    Mover's Distance between the class-local and global distributions
    of the 2000-wide account-balance band — for an ordered attribute
    EMD reduces to the summed absolute difference of the two CDFs,
    normalized by (bands − 1).

    Determinism: the CDF difference is computed as the exact integer
    cross-product |cumc·N − cumg·k| in DECIMAL(38,0) (no per-band
    division — overflow-proof at any scale), summed exactly, with ONE
    double division per class at the end.

    Degenerate guard: a single-band domain (every row in one
    sensitive band) defines t = 0 explicitly — the (bands − 1)
    normalizer would otherwise divide by zero on such inputs.

    Scale shape: two map-side-combinable groupBys off one scan, a
    domain-sized frame (classes × bands, built by explode(sequence)
    off a 1-row bounds broadcast — never row-scaled), partitioned
    cumulative windows, one final domain-sized aggregate. The audit
    costs one pass over the table regardless of scale."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").alias("nat"),
        F.floor(F.col("c_acctbal") / 2000.0).cast("long").alias("band"),
    )
    cells = cust.groupBy("seg", "nat", "band").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    classes = cells.groupBy("seg", "nat").agg(
        F.sum("cnt").cast("long").alias("k")
    )
    gband = cells.groupBy("band").agg(F.sum("cnt").cast("long").alias("g"))
    bounds = gband.agg(
        F.min("band").alias("lo"),
        F.max("band").alias("hi"),
        F.sum("g").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("n_bands"),
    )
    frame = (
        classes.crossJoin(F.broadcast(bounds))
        .select(
            "seg",
            "nat",
            "k",
            "n_total",
            "n_bands",
            F.explode(F.sequence("lo", "hi")).alias("band"),
        )
    )
    filled = (
        frame.join(cells, ["seg", "nat", "band"], "left")
        .join(F.broadcast(gband), ["band"], "left")
        .select(
            "seg",
            "nat",
            "k",
            "n_total",
            "n_bands",
            "band",
            F.coalesce("cnt", F.lit(0)).alias("cnt"),
            F.coalesce("g", F.lit(0)).alias("g"),
        )
    )
    w = (
        Window.partitionBy("seg", "nat")
        .orderBy("band")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = filled.select(
        "seg",
        "nat",
        "k",
        "n_total",
        "n_bands",
        F.sum("cnt").over(w).alias("cumc"),
        F.sum("g").over(w).alias("cumg"),
    )
    term = F.abs(
        F.col("cumc").cast("decimal(38,0)") * F.col("n_total")
        - F.col("cumg").cast("decimal(38,0)") * F.col("k")
    )
    scored = cum.groupBy("seg", "nat", "k", "n_total", "n_bands").agg(
        F.when(F.max("n_bands") == 1, F.lit(0.0))
        .otherwise(
            F.sum(term).cast("double")
            / (
                F.col("k").cast("decimal(38,0)")
                * F.col("n_total")
                * (F.col("n_bands") - 1)
            ).cast("double")
        )
        .alias("t_closeness")
    )
    return scored.select(
        F.col("seg").alias("c_mktsegment"),
        F.col("nat").alias("c_nationkey"),
        F.col("k").alias("k_size"),
        "t_closeness",
        (F.col("t_closeness") <= F.lit(_TCLOSE_T)).alias("t_close"),
    )
