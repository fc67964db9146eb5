"""Model/retrieval evaluation metrics (SURVEY.md §2.O continuation).

A curation stack is steered by offline metrics: a classifier gate needs its
ROC AUC and calibration audited before its threshold is trusted; a retrieval
leg (BM25, dense) needs ranking quality (NDCG, MRR) tracked per release.
These operators compute those metrics ENGINE-SIDE over the registered
pipelines they evaluate (composed as plans, not re-derived), so the same
audit runs unchanged on a 100 TB corpus.

Determinism contract: every metric reduces through exact integer counts and
rank sums wherever possible (AUC via the Mann-Whitney tie-averaged rank-sum
identity over the logreg's integer-quantized scores); floats appear only in
final single-division steps, rounded per SURVEY.md §7.4.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_service_spark.io import corpus_memo, load
from data_service_spark.registry import ORACLES as _REG_ORACLES
from data_service_spark.registry import register

# --------------------------------------------------- ROC AUC (rank-sum) ----


@register(
    "k_eval_auc",
    oracle=f"""
    WITH scored AS ({_REG_ORACLES.get("k_quality_logreg", "SELECT 1")}),
    lab AS (
      SELECT s.doc_id, s.score_q,
             CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
      FROM scored s JOIN documents d USING (doc_id)
    ), grp AS (
      SELECT score_q, count(*) AS n_tot, sum(y) AS n_pos
      FROM lab GROUP BY score_q
    ), ranked AS (
      SELECT score_q, n_tot, n_pos,
             coalesce(sum(n_tot) OVER (ORDER BY score_q
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + (n_tot + 1) / 2.0 AS avg_rank
      FROM grp
    )
    SELECT round((sum(n_pos * avg_rank)
                  - sum(n_pos) * (sum(n_pos) + 1) / 2.0)
                 / (sum(n_pos) * (sum(n_tot) - sum(n_pos))), 6) AS auc,
           CAST(sum(n_pos) AS BIGINT) AS n_pos,
           CAST(sum(n_tot) - sum(n_pos) AS BIGINT) AS n_neg
    FROM ranked
    """,
)
def k_eval_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC of the k_quality_logreg score as a predictor of the
    ``lang = 'en'`` label, via the Mann-Whitney rank-sum identity with
    midrank tie handling:

        AUC = (sum of positives' average ranks - P(P+1)/2) / (P * N)

    Computed group-wise over DISTINCT scores: per-score (count, positives),
    one ordered prefix-sum window over the distinct-score table, then a
    1-row reduce. No per-row global sort — the only ordered pass touches
    |distinct scores| rows (≤ 1e6+1 by construction of the integer-quantized
    score), so a 100 TB corpus pays two shuffles (score groupBy, 1-row agg)
    and a bounded window. Exact integer rank sums; the single division
    rounds at 6dp.
    """
    # One-scan scorer spine (same fixed weights); the label comes from the
    # same documents row, so no doc_id self-join (guide §2.4).
    from data_service_spark.queries.training import quality_scored

    lab = quality_scored(
        spark, sf_dir,
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    ).select("score_q", "y")
    grp = lab.groupBy("score_q").agg(
        F.count(F.lit(1)).alias("n_tot"), F.sum("y").alias("n_pos")
    )
    w = (
        Window.orderBy("score_q")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = grp.select(
        "n_tot",
        "n_pos",
        (
            F.coalesce(F.sum("n_tot").over(w), F.lit(0))
            + (F.col("n_tot") + 1) / 2.0
        ).alias("avg_rank"),
    )
    return ranked.agg(
        F.round(
            (
                F.sum(F.col("n_pos") * F.col("avg_rank"))
                - F.sum("n_pos") * (F.sum("n_pos") + 1) / 2.0
            )
            / (F.sum("n_pos") * (F.sum("n_tot") - F.sum("n_pos"))),
            6,
        ).alias("auc"),
        F.sum("n_pos").cast("long").alias("n_pos"),
        (F.sum("n_tot") - F.sum("n_pos")).cast("long").alias("n_neg"),
    )


# ------------------------------------------------- NDCG@10 + MRR (BM25) ----


@register(
    "k_eval_ndcg",
    oracle=f"""
    WITH scored AS ({_REG_ORACLES.get("k_text_bm25", "SELECT 1")}),
    ranked AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY round(bm25, 6) DESC, doc_id) AS r
      FROM scored
    ), rel AS (
      SELECT doc_id,
             CAST(list_contains(string_split(text, ' '), 'table') AS INT)
             + CAST(list_contains(string_split(text, ' '), 'hash') AS INT)
             + CAST(list_contains(string_split(text, ' '), 'scan') AS INT) AS rel
      FROM documents
    ), dcg AS (
      SELECT sum(rel / log2(r + 1.0)) AS dcg10
      FROM ranked JOIN rel USING (doc_id) WHERE r <= 10
    ), ideal AS (
      SELECT sum(rel / log2(ir + 1.0)) AS idcg10
      FROM (SELECT rel, row_number() OVER (ORDER BY rel DESC, doc_id) AS ir
            FROM rel) WHERE ir <= 10
    ), first_full AS (
      SELECT min(r) AS fr FROM ranked JOIN rel USING (doc_id) WHERE rel = 3
    )
    SELECT round(dcg10 / idcg10, 4) AS ndcg10,
           round(coalesce(1.0 / fr, 0.0), 4) AS mrr,
           (SELECT count(*) FROM rel WHERE rel = 3) AS n_full_rel
    FROM dcg CROSS JOIN ideal CROSS JOIN first_full
    """,
)
def k_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking quality of the BM25 leg for its fixed 3-term query: NDCG@10
    against graded relevance rel(doc) = number of distinct query terms the
    document contains (0-3), plus MRR of the first fully-relevant (rel=3)
    document within the scored ranking.

    The evaluated ranking IS the registered ``k_text_bm25`` plan (composed,
    not re-derived); relevance is a zero-shuffle projection over the corpus.
    The ideal-DCG pass needs only the global top-10 by rel — at scale that is
    a TakeOrderedAndProject (per-partition heads), never a full sort. DCG
    sums 10 terms; rounded at 4dp.
    """
    from data_service_spark.registry import QUERIES

    scored = QUERIES["k_text_bm25"](spark, sf_dir)
    wr = Window.orderBy(F.round("bm25", 6).desc(), F.col("doc_id"))
    ranked = scored.select("doc_id", F.row_number().over(wr).alias("r"))

    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    rel = d.select(
        "doc_id",
        (
            F.array_contains(toks, "table").cast("int")
            + F.array_contains(toks, "hash").cast("int")
            + F.array_contains(toks, "scan").cast("int")
        ).alias("rel"),
    )
    dcg = (
        ranked.join(rel, "doc_id")
        .filter(F.col("r") <= 10)
        .agg(F.sum(F.col("rel") / F.log2(F.col("r") + 1.0)).alias("dcg10"))
    )
    wi = Window.orderBy(F.col("rel").desc(), F.col("doc_id"))
    ideal = (
        rel.select("rel", F.row_number().over(wi).alias("ir"))
        .filter(F.col("ir") <= 10)
        .agg(F.sum(F.col("rel") / F.log2(F.col("ir") + 1.0)).alias("idcg10"))
    )
    first_full = (
        ranked.join(rel, "doc_id")
        .filter(F.col("rel") == 3)
        .agg(F.min("r").alias("fr"))
    )
    n_full = rel.filter(F.col("rel") == 3).agg(
        F.count(F.lit(1)).alias("n_full_rel")
    )
    return (
        dcg.crossJoin(ideal)
        .crossJoin(first_full)
        .crossJoin(n_full)
        .select(
            F.round(F.col("dcg10") / F.col("idcg10"), 4).alias("ndcg10"),
            F.round(F.coalesce(1.0 / F.col("fr"), F.lit(0.0)), 4).alias("mrr"),
            "n_full_rel",
        )
    )


# ----------------------------------------------- calibration reliability ----


@register(
    "k_eval_calibration",
    oracle=f"""
    WITH scored AS ({_REG_ORACLES.get("k_quality_logreg", "SELECT 1")}),
    lab AS (
      SELECT least(CAST(floor(s.score_q / 100000.0) AS BIGINT), 9) AS bin,
             s.score_q / 1e6 AS p,
             CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
      FROM scored s JOIN documents d USING (doc_id)
    )
    SELECT bin, count(*) AS n,
           round(avg(p), 6) AS mean_pred,
           round(avg(y * 1.0), 6) AS frac_pos,
           round(abs(avg(p) - avg(y * 1.0)), 6) AS gap
    FROM lab GROUP BY bin
    """,
)
def k_eval_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram of the quality classifier: decile bins of the
    predicted probability vs. the observed positive rate of the
    ``lang = 'en'`` label, with the per-bin |gap| that a weighted sum turns
    into ECE. The audit that decides whether a gate threshold (0.5) means
    what it claims.

    One groupBy on a 10-value key computed in the scan stage — map-side
    partial aggregation carries ten rows per partition regardless of corpus
    size.
    """
    # One-scan scorer spine; label from the same row (guide §2.4).
    from data_service_spark.queries.training import quality_scored

    lab = quality_scored(
        spark, sf_dir,
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    ).select(
        F.least(F.floor(F.col("score_q") / 100000.0).cast("long"), F.lit(9)).alias(
            "bin"
        ),
        (F.col("score_q") / 1e6).alias("p"),
        "y",
    )
    return lab.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("p"), 6).alias("mean_pred"),
        F.round(F.avg(F.col("y") * 1.0), 6).alias("frac_pos"),
        F.round(F.abs(F.avg("p") - F.avg(F.col("y") * 1.0)), 6).alias("gap"),
    )


# ------------------------------------------- regression-metric audit ----


@register(
    "k_eval_regression",
    oracle="""
    WITH base AS (
      SELECT event_type, extract(hour FROM ts) AS hr,
             CAST(date_trunc('day', ts) AS DATE) AS day, value
      FROM events
    ), model AS (
      SELECT event_type, hr, avg(value) AS pred
      FROM base WHERE day < DATE '2024-01-21' GROUP BY 1, 2
    ), test AS (
      SELECT b.event_type, b.value, m.pred
      FROM base b JOIN model m USING (event_type, hr)
      WHERE b.day >= DATE '2024-01-21'
    ), stats AS (
      SELECT event_type, count(*) AS n,
             sum((value - pred) * (value - pred)) AS sse,
             sum(abs(value - pred)) AS sae,
             sum(value) AS sv, sum(value * value) AS svv
      FROM test GROUP BY 1
    )
    SELECT event_type, n,
           round(sqrt(sse / n), 4) AS rmse,
           round(sae / n, 4) AS mae,
           round(1.0 - sse / (svv - sv * sv / n), 4) AS r2
    FROM stats
    """,
)
def k_eval_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regression-metric audit (RMSE / MAE / R²) of a seasonal-baseline
    predictor: per (event type, hour-of-day) mean value fitted on days
    1-20, scored on days 21+ — the train/test temporal split every
    forecasting or value-model deployment reports before shipping.

    The model is a dimension-sized aggregate (type × 24 rows) broadcast
    back onto the test scan; metrics are one groupBy over sum-of-squares
    partials, so the corpus crosses exactly one shuffle each for fit and
    score. R² is computed from the same Σv/Σv² partials — no second pass
    for the mean. The error/value power sums accumulate in DOUBLE (value
    is a double column), so no int64 wrap governor applies; the 4dp
    rounding absorbs partial-order ulp drift.
    """
    e = load(spark, sf_dir, "events")
    base = e.select(
        "event_type",
        F.hour("ts").alias("hr"),
        F.date_trunc("DAY", F.col("ts")).cast("date").alias("day"),
        "value",
    )
    cut = F.lit("2024-01-21").cast("date")
    model = (
        base.filter(F.col("day") < cut)
        .groupBy("event_type", "hr")
        .agg(F.avg("value").alias("pred"))
    )
    test = base.filter(F.col("day") >= cut).join(
        F.broadcast(model), ["event_type", "hr"]
    )
    err = F.col("value") - F.col("pred")
    stats = test.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(err * err).alias("sse"),
        F.sum(F.abs(err)).alias("sae"),
        F.sum("value").alias("sv"),
        F.sum(F.col("value") * F.col("value")).alias("svv"),
    )
    return stats.select(
        "event_type",
        "n",
        F.round(F.sqrt(F.col("sse") / F.col("n")), 4).alias("rmse"),
        F.round(F.col("sae") / F.col("n"), 4).alias("mae"),
        F.round(
            1.0
            - F.col("sse")
            / (F.col("svv") - F.col("sv") * F.col("sv") / F.col("n")),
            4,
        ).alias("r2"),
    )


# ------------------------------------------- two-sample KS statistic ----


@register(
    "k_eval_ks_test",
    oracle="""
    WITH v AS (
      SELECT value,
             CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT)
               AS c1,
             CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT)
               AS c2
      FROM events WHERE event_type IN ('view', 'click')
      GROUP BY value
    ), n AS (
      SELECT sum(c1) AS n1, sum(c2) AS n2 FROM v
    ), steps AS (
      SELECT sum(v.c1) OVER (ORDER BY v.value) * 1.0 / n.n1
               AS f1,
             sum(v.c2) OVER (ORDER BY v.value) * 1.0 / n.n2
               AS f2,
             n.n1, n.n2
      FROM v CROSS JOIN n
    )
    SELECT CAST(max(n1) AS BIGINT) AS n1, CAST(max(n2) AS BIGINT) AS n2,
           round(max(abs(f1 - f2)), 6) AS ks_d,
           round(1.36 * sqrt((max(n1) + max(n2)) * 1.0
                             / (max(n1) * max(n2))), 6) AS crit_05,
           CAST(max(abs(f1 - f2))
                > 1.36 * sqrt((max(n1) + max(n2)) * 1.0
                              / (max(n1) * max(n2))) AS BOOLEAN) AS reject
    FROM steps
    """,
)
def k_eval_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov test between the 'view' and 'click'
    value distributions: D = sup|F₁−F₂| over the merged support, with the
    α=0.05 large-sample critical value 1.36·√((n₁+n₂)/n₁n₂) — the
    distribution-free "did this feed change shape?" test that PSI
    (binned) and the z-test (mean-only) both miss.

    CDF steps come from integer cumulative counts over the DISTINCT-value
    table (value range is bounded, so the single ordered pass covers a
    dimension-sized table, not the corpus; the groupBy before it is the
    only corpus-sized shuffle). Exact integer numerators make F₁/F₂
    identical across engines before the 6dp rounds.
    """
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click")
    )
    v = e.groupBy("value").agg(
        F.count(F.when(F.col("event_type") == "view", 1)).alias("c1"),
        F.count(F.when(F.col("event_type") == "click", 1)).alias("c2"),
    )
    n = v.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    wv = Window.orderBy("value").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    steps = v.crossJoin(F.broadcast(n)).select(
        (F.sum("c1").over(wv) * 1.0 / F.col("n1")).alias("f1"),
        (F.sum("c2").over(wv) * 1.0 / F.col("n2")).alias("f2"),
        "n1",
        "n2",
    )
    d = F.max(F.abs(F.col("f1") - F.col("f2")))
    crit = 1.36 * F.sqrt(
        (F.max("n1") + F.max("n2")) * 1.0 / (F.max("n1") * F.max("n2"))
    )
    return steps.agg(
        F.max("n1").cast("long").alias("n1"),
        F.max("n2").cast("long").alias("n2"),
        F.round(d, 6).alias("ks_d"),
        F.round(crit, 6).alias("crit_05"),
        (d > crit).alias("reject"),
    )


# --------------------------------------------------- sequential SPRT ----


@register(
    "k_ab_sprt",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(count(*) FILTER (WHERE user_id % 2 = 1) AS BIGINT) AS n,
             CAST(count(*) FILTER (WHERE user_id % 2 = 1
                                   AND event_type = 'purchase') AS BIGINT)
               AS x
      FROM events GROUP BY 1
    ), llr AS (
      SELECT day, n, x,
             sum(x * ln(0.22 / 0.18)
                 + (n - x) * ln(0.78 / 0.82)) OVER (ORDER BY day) AS llr
      FROM daily
    )
    SELECT day, n, x, round(llr, 6) AS llr,
           CASE WHEN llr >= ln(0.95 / 0.05) THEN 'accept_h1'
                WHEN llr <= ln(0.05 / 0.95) THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM llr
    """,
)
def k_ab_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential probability ratio test (Wald 1945) on the odd-user arm's
    daily purchase rate — H₀: p=0.18 vs H₁: p=0.22, α=β=0.05: the
    cumulative log-likelihood ratio walks between ln(β/(1−α)) and
    ln((1−β)/α), and the experiment STOPS the first day it crosses —
    the always-valid alternative to the fixed-horizon k_ab_ztest that
    peeking invalidates.

    Daily success/trial counts are the only corpus-sized aggregate; the
    LLR is a cumulative window over ~30 day-rows with constant
    coefficients, so both engines fold identical doubles in identical
    order.
    """
    e = load(spark, sf_dir, "events")
    arm = F.col("user_id") % 2 == 1
    daily = e.groupBy(
        F.date_trunc("DAY", F.col("ts")).cast("date").alias("day")
    ).agg(
        F.count(F.when(arm, 1)).alias("n"),
        F.count(
            F.when(arm & (F.col("event_type") == "purchase"), 1)
        ).alias("x"),
    )
    import math

    c1 = math.log(0.22 / 0.18)
    c0 = math.log(0.78 / 0.82)
    hi = math.log(0.95 / 0.05)
    lo = math.log(0.05 / 0.95)
    wd = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    llr = F.sum(F.col("x") * c1 + (F.col("n") - F.col("x")) * c0).over(wd)
    return daily.select(
        "day",
        "n",
        "x",
        F.round(llr, 6).alias("llr"),
        F.when(llr >= hi, "accept_h1")
        .when(llr <= lo, "accept_h0")
        .otherwise("continue")
        .alias("decision"),
    )


# ------------------------------------------------------- Brier score ----


@register(
    "k_eval_brier",
    oracle=f"""
    WITH scored AS ({_REG_ORACLES.get("k_quality_logreg", "SELECT 1")}),
    lab AS (
      SELECT s.score_q / 1e6 AS p,
             CASE WHEN d.lang = 'en' THEN 1.0 ELSE 0.0 END AS y
      FROM scored s JOIN documents d USING (doc_id)
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           round(avg((p - y) * (p - y)), 6) AS brier,
           round(avg(y) * (1 - avg(y)), 6) AS brier_ref,
           round(1 - avg((p - y) * (p - y))
                     / (avg(y) * (1 - avg(y))), 4) AS skill
    FROM lab
    """,
)
def k_eval_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score of the quality classifier against the lang='en' label,
    with the climatology reference (ȳ(1−ȳ), the score of always
    predicting the base rate) and the resulting skill score 1 −
    BS/BS_ref — positive skill means the classifier beats guessing the
    prior; the single number that pairs with k_eval_calibration's bins.

    One broadcast-joined projection and a 1-row aggregate of squared
    errors — scan-rate cost at any corpus size.
    """
    # One-scan scorer spine; label from the same row (guide §2.4).
    from data_service_spark.queries.training import quality_scored

    lab = quality_scored(
        spark, sf_dir,
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
    ).select((F.col("score_q") / 1e6).alias("p"), "y")
    se = (F.col("p") - F.col("y")) * (F.col("p") - F.col("y"))
    return lab.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.avg(se), 6).alias("brier"),
        F.round(F.avg("y") * (1 - F.avg("y")), 6).alias("brier_ref"),
        F.round(1 - F.avg(se) / (F.avg("y") * (1 - F.avg("y"))), 4).alias(
            "skill"
        ),
    )


# --------------------------------------- rank agreement + interleaving ----


@register(
    "k_rank_spearman",
    oracle=f"""
    WITH sparse AS ({_REG_ORACLES.get("k_text_bm25", "SELECT 1")}),
    sr AS (
      SELECT doc_id, row_number() OVER (ORDER BY round(bm25, 6) DESC, doc_id)
               AS ra
      FROM sparse
    ),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    dense AS (
      SELECT vec_id AS doc_id,
             row_number() OVER (ORDER BY
               round(list_inner_product(v, qv), 6) DESC, vec_id) AS rb
      FROM e CROSS JOIN q WHERE vec_id <> 0
    ),
    common AS (
      SELECT sr.doc_id, sr.ra, dense.rb
      FROM sr JOIN dense USING (doc_id)
      WHERE dense.rb <= 20 AND sr.ra <= 20
    ), rr AS (
      SELECT row_number() OVER (ORDER BY ra) AS ia,
             row_number() OVER (ORDER BY rb, doc_id) AS ib
      FROM common
    )
    SELECT CAST(count(*) AS BIGINT) AS n_common,
           round(1 - 6.0 * sum((ia - ib) * (ia - ib))
                     / nullif(count(*) * (count(*) * count(*) - 1), 0), 4)
             AS spearman_rho
    FROM rr
    """,
)
def k_rank_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between the lexical (BM25) and dense
    (cosine) retrieval legs over documents BOTH rank in their top-20 —
    the disagreement diagnostic behind hybrid fusion: ρ near 1 means the
    legs are redundant (fusion buys little), near 0 means complementary
    (RRF's sweet spot — k_rank_fusion is the consumer of this answer).

    Both legs are the registered formulations and BOTH are truncated at
    rank 20 before intersecting (ADVICE r2 — previously only the dense
    leg was); ranks re-densify over the intersection so the classic
    1 − 6Σd²/n(n²−1) identity applies with exact integer arithmetic.
    Everything after the two top-20 legs touches ≤20 rows.
    """
    from data_service_spark.registry import QUERIES

    scored = QUERIES["k_text_bm25"](spark, sf_dir)
    wa = Window.orderBy(F.round("bm25", 6).desc(), F.col("doc_id"))
    sr = scored.select("doc_id", F.row_number().over(wa).alias("ra"))

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = emb.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    sim = F.aggregate(
        F.zip_with(F.col("v"), F.col("qv"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wb = Window.orderBy(F.round(F.col("sim"), 6).desc(), F.col("doc_id"))
    dense = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(F.col("vec_id").alias("doc_id"), sim.alias("sim"))
        .withColumn("rb", F.row_number().over(wb))
        .filter(F.col("rb") <= 20)
        .select("doc_id", "rb")
    )
    common = sr.filter(F.col("ra") <= 20).join(dense, "doc_id")
    rr = common.select(
        F.row_number().over(Window.orderBy("ra")).alias("ia"),
        F.row_number().over(Window.orderBy("rb", "doc_id")).alias("ib"),
    )
    n = F.count(F.lit(1))
    return rr.agg(
        n.cast("long").alias("n_common"),
        F.round(
            1
            - 6.0
            * F.sum((F.col("ia") - F.col("ib")) * (F.col("ia") - F.col("ib")))
            / F.nullif((n * (n * n - 1)).cast("double"), F.lit(0.0)),
            4,
        ).alias("spearman_rho"),
    )


# ------------------------------------------------------ jackknife SE ----


@register(
    "k_jackknife_se",
    oracle=f"""
    WITH scored AS ({_REG_ORACLES.get("k_quality_logreg", "SELECT 1")}),
    g AS (
      SELECT d.source, count(*) AS n_g, sum(s.score_q / 1e6) AS s_g
      FROM scored s JOIN documents d USING (doc_id)
      GROUP BY d.source
    ), tot AS (
      SELECT count(*) AS g, sum(n_g) AS n, sum(s_g) AS s FROM g
    ), loo AS (
      SELECT (t.s - g.s_g) / (t.n - g.n_g) AS theta_i, t.g
      FROM g CROSS JOIN tot t
    )
    SELECT CAST(max(g) AS BIGINT) AS n_groups,
           round((SELECT s / n FROM tot), 6) AS mean_score,
           round(sqrt((max(g) - 1.0) / max(g)
                      * sum((theta_i - (SELECT avg(theta_i) FROM loo))
                            * (theta_i - (SELECT avg(theta_i) FROM loo)))),
                 6) AS jackknife_se
    FROM loo
    """,
)
def k_jackknife_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-SOURCE-out jackknife standard error of the mean quality
    score — the uncertainty number that belongs next to any corpus-level
    metric when documents within a source are correlated (they are): a
    per-doc SE would be falsely tight; the grouped jackknife treats each
    source as the exchangeable unit (delete-a-group jackknife).

    Per-source (count, sum) partials are the only corpus-sized work; the
    20 leave-one-out pseudo-values are closed-form from those partials —
    no resampling passes, unlike a bootstrap, which is what makes the
    estimator feasible at 100 TB.
    """
    # One-scan scorer spine; source from the same row (guide §2.4).
    from data_service_spark.queries.training import quality_scored

    scored = quality_scored(spark, sf_dir, "source").select(
        "source", (F.col("score_q") / 1e6).alias("p")
    )
    # r13: g feeds tot and loo (and loo feeds mt and the final reduce);
    # unpinned, every reference re-derived the scoring join + aggregate
    # (8 parquet scans in the census). The per-source partials are
    # ~20 rows — pin once, everything downstream is row-trivial.
    g = (
        scored.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_g"), F.sum("p").alias("s_g"))
        .localCheckpoint()
    )
    tot = g.agg(
        F.count(F.lit(1)).alias("g"),
        F.sum("n_g").alias("n"),
        F.sum("s_g").alias("s"),
    )
    loo = g.crossJoin(F.broadcast(tot)).select(
        ((F.col("s") - F.col("s_g")) / (F.col("n") - F.col("n_g"))).alias(
            "theta_i"
        ),
        "g",
        (F.col("s") / F.col("n")).alias("mean_score"),
    )
    # centered two-pass variance (join theta-bar back, sum squared
    # deviations) to match the oracle's arithmetic tree — the Σθ²−n·θ̄²
    # identity loses ~7 significant digits here with ~20 pseudo-values
    # near 0.5 (ADVICE r2).
    gg = F.max("g")
    mt = loo.agg(F.avg("theta_i").alias("mt"))
    dev2 = (F.col("theta_i") - F.col("mt")) * (F.col("theta_i") - F.col("mt"))
    return (
        loo.crossJoin(F.broadcast(mt))
        .groupBy()
        .agg(
            gg.cast("long").alias("n_groups"),
            F.round(F.max("mean_score"), 6).alias("mean_score"),
            F.round(
                F.sqrt((gg - 1.0) / gg * F.sum(dev2)), 6
            ).alias("jackknife_se"),
        )
    )


# ------------------------------------------------ balanced interleaving ----


@register(
    "k_eval_interleave",
    oracle=f"""
    WITH sparse AS ({_REG_ORACLES.get("k_text_bm25", "SELECT 1")}),
    a AS (
      SELECT doc_id, 2 * row_number() OVER (ORDER BY round(bm25, 6) DESC,
                                            doc_id) - 1 AS slot
      FROM sparse QUALIFY row_number() OVER (ORDER BY round(bm25, 6) DESC,
                                             doc_id) <= 10
    ),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    b AS (
      SELECT vec_id AS doc_id,
             2 * row_number() OVER (ORDER BY
               round(list_inner_product(v, qv), 6) DESC, vec_id) AS slot
      FROM e CROSS JOIN q WHERE vec_id <> 0
      QUALIFY row_number() OVER (ORDER BY
               round(list_inner_product(v, qv), 6) DESC, vec_id) <= 10
    ), pooled AS (
      SELECT doc_id, min(slot) AS slot,
             CASE WHEN min(slot) % 2 = 1 THEN 'sparse' ELSE 'dense' END
               AS team
      FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
      GROUP BY doc_id
    ), top AS (
      SELECT doc_id, team,
             row_number() OVER (ORDER BY slot) AS pos
      FROM pooled QUALIFY row_number() OVER (ORDER BY slot) <= 10
    ), rel AS (
      SELECT doc_id,
             CAST(list_contains(string_split(text, ' '), 'table') AS INT)
             + CAST(list_contains(string_split(text, ' '), 'hash') AS INT)
             + CAST(list_contains(string_split(text, ' '), 'scan') AS INT)
               AS rel
      FROM documents
    )
    SELECT t.team, CAST(count(*) AS BIGINT) AS n_in_top10,
           CAST(sum(r.rel) AS BIGINT) AS rel_sum
    FROM top t JOIN rel r USING (doc_id)
    GROUP BY t.team
    """,
)
def k_eval_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced-interleaving online-eval SIMULATION (Joachims 2002): the
    sparse (BM25) and dense (cosine) legs alternate slots (sparse odd,
    dense even), duplicates credit the EARLIER slot's team, and the
    interleaved top-10's graded relevance is attributed per team — the
    deterministic offline stand-in for the production interleave that
    decides which retriever wins user clicks.

    Both legs are the registered bounded top-10 formulations; slotting,
    dedup, and credit are integer operations over ≤20 rows after the
    legs. The same attribution runs on real click logs by swapping the
    rel table for clicks.
    """
    from data_service_spark.registry import QUERIES

    d = load(spark, sf_dir, "documents")
    scored = QUERIES["k_text_bm25"](spark, sf_dir)
    wa = Window.orderBy(F.round("bm25", 6).desc(), F.col("doc_id"))
    a = (
        scored.select("doc_id", F.row_number().over(wa).alias("ra"))
        .filter(F.col("ra") <= 10)
        .select("doc_id", (2 * F.col("ra") - 1).alias("slot"))
    )
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    sim = F.aggregate(
        F.zip_with(F.col("v"), F.col("qv"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wb = Window.orderBy(F.round(F.col("sim"), 6).desc(), F.col("doc_id"))
    b = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(F.col("vec_id").alias("doc_id"), sim.alias("sim"))
        .withColumn("rb", F.row_number().over(wb))
        .filter(F.col("rb") <= 10)
        .select("doc_id", (2 * F.col("rb")).alias("slot"))
    )
    pooled = (
        a.unionAll(b)
        .groupBy("doc_id")
        .agg(F.min("slot").alias("slot"))
        .select(
            "doc_id",
            "slot",
            F.when(F.col("slot") % 2 == 1, "sparse")
            .otherwise("dense")
            .alias("team"),
        )
    )
    wt = Window.orderBy("slot")
    top = pooled.withColumn("pos", F.row_number().over(wt)).filter(
        F.col("pos") <= 10
    )
    toks = F.split("text", " ")
    rel = d.select(
        "doc_id",
        (
            F.array_contains(toks, "table").cast("int")
            + F.array_contains(toks, "hash").cast("int")
            + F.array_contains(toks, "scan").cast("int")
        ).alias("rel"),
    )
    return (
        top.join(rel, "doc_id")
        .groupBy("team")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_in_top10"),
            F.sum("rel").cast("long").alias("rel_sum"),
        )
    )


# ------------------------------------------- threshold tuning surface ----


@register(
    "k_threshold_sweep",
    oracle=f"""
    WITH scored AS ({_REG_ORACLES.get("k_quality_logreg", "SELECT 1")}),
    j AS (
      SELECT s.score_q, d.n_chars,
             len(string_split(d.text, ' ')) AS n_tok
      FROM scored s JOIN documents d USING (doc_id)
    ), tot AS (
      SELECT count(*) AS n_docs, sum(n_tok) AS n_tokens FROM j
    )
    SELECT t.thr,
           CAST(count(*) FILTER (WHERE score_q >= t.thr * 1e6) AS BIGINT)
             AS docs_kept,
           round(count(*) FILTER (WHERE score_q >= t.thr * 1e6)
                 * 1.0 / max(tot.n_docs), 4) AS doc_rate,
           CAST(coalesce(sum(n_tok) FILTER (WHERE score_q >= t.thr * 1e6), 0)
                AS BIGINT) AS tokens_kept,
           round(coalesce(sum(n_tok) FILTER (WHERE score_q >= t.thr * 1e6), 0)
                 * 1.0 / max(tot.n_tokens), 4) AS token_rate
    FROM j CROSS JOIN tot
    CROSS JOIN (SELECT unnest([0.3, 0.4, 0.5, 0.6, 0.7]) AS thr) t
    GROUP BY t.thr
    """,
)
def k_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate-threshold sweep: documents AND tokens surviving the quality
    gate at thresholds 0.3–0.7 — the yield curve a curation team reads
    before pinning the cut (docs and tokens diverge when quality
    correlates with length, which is exactly when a doc-rate-only sweep
    misleads a token-budgeted training run).

    One scan; the five thresholds unroll as a broadcast cross join into a
    single grouped conditional aggregate — a 5-point curve for one pass,
    the same trick as k_learning_curve.
    """
    # One-scan scorer spine; token count from the same row (guide §2.4).
    from data_service_spark.queries.training import quality_scored

    j = quality_scored(
        spark, sf_dir, F.size(F.split("text", " ")).alias("n_tok")
    )
    tot = j.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("n_tokens")
    )
    thr = spark.createDataFrame(
        [(0.3,), (0.4,), (0.5,), (0.6,), (0.7,)], "thr double"
    )
    keep = F.col("score_q") >= F.col("thr") * 1e6
    return (
        j.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(thr))
        .groupBy("thr")
        .agg(
            F.count(F.when(keep, 1)).cast("long").alias("docs_kept"),
            F.round(
                F.count(F.when(keep, 1)) * 1.0 / F.max("n_docs"), 4
            ).alias("doc_rate"),
            F.coalesce(F.sum(F.when(keep, F.col("n_tok"))), F.lit(0))
            .cast("long")
            .alias("tokens_kept"),
            F.round(
                F.coalesce(F.sum(F.when(keep, F.col("n_tok"))), F.lit(0))
                * 1.0
                / F.max("n_tokens"),
                4,
            ).alias("token_rate"),
        )
    )


@register(
    "k_threshold_youden",
    oracle=f"""
    WITH scored AS ({_REG_ORACLES.get("k_quality_logreg", "SELECT 1")}),
    lab AS (
      SELECT s.score_q, CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
      FROM scored s JOIN documents d USING (doc_id)
    ), grp AS (
      SELECT score_q, count(*) AS n, sum(y) AS pos FROM lab GROUP BY 1
    ), tot AS (
      SELECT sum(pos) AS p, sum(n) - sum(pos) AS neg FROM grp
    ), roc AS (
      SELECT score_q,
             (t.p - coalesce(sum(pos) OVER (ORDER BY score_q
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
               * 1.0 / t.p AS tpr,
             (t.neg - coalesce(sum(n - pos) OVER (ORDER BY score_q
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
               * 1.0 / t.neg AS fpr
      FROM grp CROSS JOIN tot t
    )
    SELECT score_q AS best_threshold_q,
           round(tpr, 6) AS tpr, round(fpr, 6) AS fpr,
           round(tpr - fpr, 6) AS youden_j
    FROM roc
    ORDER BY round(tpr - fpr, 6) DESC, score_q
    LIMIT 1
    """,
)
def k_threshold_youden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimal operating point by Youden's J = TPR − FPR: sweep every
    distinct classifier score as the '≥ threshold ⇒ positive' cut and
    report the maximizing threshold with its ROC coordinates — how a gate
    threshold is actually CHOSEN once k_eval_auc says the ranking is
    worth using.

    Same bounded plumbing as the AUC: per-score (count, positives), one
    prefix-sum window over distinct scores (≤1e6 rows by construction),
    argmax on exact-integer-derived ratios with a score tiebreak.
    """
    # One-scan scorer spine; label from the same row (guide §2.4).
    from data_service_spark.queries.training import quality_scored

    lab = quality_scored(
        spark, sf_dir,
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    ).select("score_q", "y")
    grp = lab.groupBy("score_q").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos")
    )
    tot = grp.agg(
        F.sum("pos").alias("p"), (F.sum("n") - F.sum("pos")).alias("neg")
    )
    wprev = Window.orderBy("score_q").rowsBetween(
        Window.unboundedPreceding, -1
    )
    roc = grp.crossJoin(F.broadcast(tot)).select(
        "score_q",
        (
            (F.col("p") - F.coalesce(F.sum("pos").over(wprev), F.lit(0)))
            * 1.0
            / F.col("p")
        ).alias("tpr"),
        (
            (
                F.col("neg")
                - F.coalesce(
                    F.sum(F.col("n") - F.col("pos")).over(wprev), F.lit(0)
                )
            )
            * 1.0
            / F.col("neg")
        ).alias("fpr"),
    )
    return (
        roc.select(
            F.col("score_q").alias("best_threshold_q"),
            F.round("tpr", 6).alias("tpr"),
            F.round("fpr", 6).alias("fpr"),
            F.round(F.col("tpr") - F.col("fpr"), 6).alias("youden_j"),
        )
        .orderBy(F.col("youden_j").desc(), "best_threshold_q")
        .limit(1)
    )


# ------------------------------------------- langid confusion matrix ----


@register(
    "k_eval_langid_confusion",
    oracle=f"""
    WITH pred AS ({_REG_ORACLES.get("k_text_langid", "SELECT 1")})
    SELECT lang_meta AS true_lang, pred_lang,
           CAST(count(*) AS BIGINT) AS n,
           round(count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY lang_meta),
                 4) AS row_rate
    FROM pred GROUP BY lang_meta, pred_lang
    """,
)
def k_eval_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the marker-token language identifier against
    the corpus's ground-truth lang column: per (true, predicted) cell,
    count and row-normalized rate (per-class recall on the diagonal) —
    the per-class error breakdown that a single accuracy number hides,
    and the audit that catches the classic failure of marker-based LID
    (everything defaulting to the tie-break winner).

    Composes the registered k_text_langid plan; the matrix aggregate is a
    |langs|² -cell groupBy with a partition-local rate window over the
    aggregated cells.
    """
    from data_service_spark.registry import QUERIES

    pred = QUERIES["k_text_langid"](spark, sf_dir)
    cells = pred.groupBy(
        F.col("lang_meta").alias("true_lang"), "pred_lang"
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    wrow = Window.partitionBy("true_lang")
    return cells.select(
        "true_lang",
        "pred_lang",
        "n",
        F.round(F.col("n") * 1.0 / F.sum("n").over(wrow), 4).alias(
            "row_rate"
        ),
    )


# ----------------------------------------------------- Cohen's kappa ----


@register(
    "k_eval_kappa",
    oracle=f"""
    WITH pred AS ({_REG_ORACLES.get("k_text_langid", "SELECT 1")}),
    cells AS (
      SELECT lang_meta, pred_lang, count(*) AS n
      FROM pred GROUP BY 1, 2
    ), tot AS (SELECT sum(n) AS n FROM cells),
    po AS (
      SELECT sum(n) * 1.0 / (SELECT n FROM tot) AS po
      FROM cells WHERE lang_meta = pred_lang
    ), marg AS (
      SELECT sum(r.rn * c.cn) * 1.0 / ((SELECT n FROM tot)
                                       * (SELECT n FROM tot)) AS pe
      FROM (SELECT lang_meta AS k, sum(n) AS rn FROM cells GROUP BY 1) r
      JOIN (SELECT pred_lang AS k, sum(n) AS cn FROM cells GROUP BY 1) c
        USING (k)
    )
    SELECT round(po.po, 4) AS p_observed,
           round(marg.pe, 4) AS p_expected,
           round((po.po - marg.pe) / (1 - marg.pe), 4) AS kappa
    FROM po CROSS JOIN marg
    """,
)
def k_eval_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the language identifier and the ground-truth
    label: chance-corrected agreement κ = (p_o − p_e)/(1 − p_e), where
    p_e comes from the marginal products — the honesty check on raw
    accuracy when one class dominates (a majority-class predictor gets
    high p_o but κ ≈ 0; k_eval_langid_confusion shows WHERE it fails,
    kappa says WHETHER it beats chance at all).

    Composes the registered langid plan; the kappa arithmetic runs over
    the |langs|² confusion cells and two marginal vectors — integer
    counts into three final ratios.
    """
    from data_service_spark.registry import QUERIES

    pred = QUERIES["k_text_langid"](spark, sf_dir)
    # r13: cells feeds tot/po/r/c (5 inlined references in the plan
    # text), but runtime exchange reuse executes the langid pass once —
    # a localCheckpoint pin was A/B'd and LOST (0.97s → 2.2s at sf0.1,
    # barrier cost with no saved work). Examined, left alone.
    cells = pred.groupBy("lang_meta", "pred_lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = cells.agg(F.sum("n").alias("nt"))
    po = (
        cells.filter(F.col("lang_meta") == F.col("pred_lang"))
        .agg(F.sum("n").alias("agree"))
        .crossJoin(F.broadcast(tot))
        .select((F.col("agree") * 1.0 / F.col("nt")).alias("po"))
    )
    r = cells.groupBy("lang_meta").agg(F.sum("n").alias("rn")).select(
        F.col("lang_meta").alias("k"), "rn"
    )
    c = cells.groupBy("pred_lang").agg(F.sum("n").alias("cn")).select(
        F.col("pred_lang").alias("k"), "cn"
    )
    pe = (
        r.join(c, "k")
        .crossJoin(F.broadcast(tot))
        .agg(
            (
                F.sum(F.col("rn") * F.col("cn"))
                * 1.0
                / (F.max("nt") * F.max("nt"))
            ).alias("pe")
        )
    )
    return po.crossJoin(pe).select(
        F.round("po", 4).alias("p_observed"),
        F.round("pe", 4).alias("p_expected"),
        F.round((F.col("po") - F.col("pe")) / (1 - F.col("pe")), 4).alias(
            "kappa"
        ),
    )


# ------------------------------------------- multi-query retrieval MRR ----


@register(
    "k_eval_mrr_labels",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
               FROM embeddings),
    q AS (SELECT vec_id AS qid, v AS qv, label AS ql FROM e
          WHERE vec_id < 20),
    ranked AS (
      SELECT q.qid, e.label, q.ql,
             row_number() OVER (PARTITION BY q.qid
               ORDER BY round(list_inner_product(e.v, q.qv), 6) DESC,
                        e.vec_id) AS rn
      FROM e CROSS JOIN q WHERE e.vec_id <> q.qid
    ), hits AS (
      SELECT qid, min(rn) AS fr
      FROM ranked WHERE rn <= 10 AND label = ql GROUP BY qid
    )
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           round(avg(CASE WHEN fr IS NULL THEN 0.0 ELSE 1.0 / fr END), 6)
             AS mrr_at_10,
           round(avg(CASE WHEN fr IS NULL THEN 0.0 ELSE 1.0 END), 4)
             AS hit_rate_at_10
    FROM q LEFT JOIN hits USING (qid)
    """,
)
def k_eval_mrr_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-query retrieval MRR@10: 20 probe vectors each rank the corpus
    by cosine; a hit is a top-10 neighbor sharing the probe's class label
    (label-as-relevance — the standard embedding-quality probe when no
    judgment set exists). Mean reciprocal rank of the first hit plus the
    top-10 hit rate — the two numbers that decide whether an embedding
    column is good enough to drive k_hard_negatives / k_sim_* retrieval.

    The ranking comes from the session-memoized ``_exact_ranked`` (one
    probe-broadcast corpus scan per session, shared by the whole
    retrieval-evaluation panel); this key is rank-spine algebra. MRR
    rounds at 6dp (provably off the half-boundary grid for rank-10
    reciprocal sums; 4dp is NOT — 1/800-denominator averages land exactly
    on .xxxx5)."""
    from data_service_spark.queries.llm import (
        _EXACT_RANKED_DEPTH,
        _emb,
        _exact_ranked,
    )

    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("label").alias("ql"),
    )
    # Slice of the session-memoized exact ranking (one corpus×probes
    # product shared by the whole retrieval-evaluation panel).
    # @10 is this metric's DEFINITION; the assert pins it inside the
    # memoized ranking head (raising the cache depth must not silently
    # deepen the metric — r08 review finding).
    at_k = 10
    assert at_k <= _EXACT_RANKED_DEPTH
    ranked = _exact_ranked(spark, sf_dir).select("qid", "label", "ql", "rn")
    hits = (
        ranked.filter(
            (F.col("rn") <= at_k) & (F.col("label") == F.col("ql"))
        )
        .groupBy("qid")
        .agg(F.min("rn").alias("fr"))
    )
    return q.join(hits, "qid", "left").agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.round(
            F.avg(F.when(F.col("fr").isNull(), 0.0).otherwise(1.0 / F.col("fr"))),
            6,
        ).alias("mrr_at_10"),
        F.round(
            F.avg(F.when(F.col("fr").isNull(), 0.0).otherwise(1.0)), 4
        ).alias("hit_rate_at_10"),
    )


# --------------------------------------------------- Benford digit law ----


@register(
    "k_benford_digits",
    oracle="""
    WITH d AS (
      SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                    1, 1)::INT AS digit
      FROM orders
    ), c AS (SELECT digit, count(*) AS n FROM d
             WHERE digit >= 1 GROUP BY digit),
    tot AS (SELECT sum(n) AS total FROM c)
    SELECT digit, CAST(n AS BIGINT) AS n,
           round(n * 1.0 / total, 6) AS obs_freq,
           round(log10(1.0 + 1.0 / digit), 6) AS benford_freq
    FROM c CROSS JOIN tot
    """,
)
def k_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of `o_totalprice`: observed leading-digit
    frequencies next to the Benford expectation log10(1+1/d) — the classic
    fabricated-data / synthetic-corpus detector (generated numbers rarely
    honor the law; organic multiplicative totals do). A 100 TB-safe
    profiling primitive: one projection + a 9-row aggregate; the total
    broadcasts back as a one-row crossJoin.
    """
    o = load(spark, sf_dir, "orders")
    d = o.select(
        F.substring(
            F.floor("o_totalprice").cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    c = (
        d.filter(F.col("digit") >= 1)  # sub-1 values would yield digit 0
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = c.agg(F.sum("n").alias("total"))
    return c.crossJoin(F.broadcast(tot)).select(
        "digit",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("n") * 1.0 / F.col("total"), 6).alias("obs_freq"),
        F.round(F.log10(1.0 + 1.0 / F.col("digit")), 6).alias(
            "benford_freq"
        ),
    )


# ----------------------------------------------- day-of-week seasonality ----


@register(
    "k_seasonal_dow",
    oracle="""
    WITH g AS (SELECT avg(value) AS gmean FROM events),
    d AS (
      SELECT dayofweek(ts) AS dow, count(*) AS n_events,
             avg(value) AS dmean
      FROM events GROUP BY 1
    )
    SELECT dow, CAST(n_events AS BIGINT) AS n_events,
           round(dmean, 4) AS dow_avg,
           round(dmean - gmean, 4) AS seasonal_index
    FROM d CROSS JOIN g
    """,
)
def k_seasonal_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal decomposition of the event value series: per
    weekday its mean level and additive seasonal index (weekday mean minus
    the global mean) — the classical-decomposition building block that
    feeds anomaly baselines (k_anomaly_zscore) and traffic forecasts.
    Weekday numbering is pinned to Sunday=0 on both engines (Spark
    ``dayofweek`` is 1-based, DuckDB's 0-based — the off-by-one is
    normalized Spark-side).

    Two map-side-combined aggregates (7-row and 1-row) + a broadcast
    crossJoin: scan-rate cost at any corpus size.
    """
    e = load(spark, sf_dir, "events")
    g = e.agg(F.avg("value").alias("gmean"))
    d = e.groupBy((F.dayofweek("ts") - 1).alias("dow")).agg(
        F.count(F.lit(1)).alias("n_events"), F.avg("value").alias("dmean")
    )
    return d.crossJoin(F.broadcast(g)).select(
        "dow",
        F.col("n_events").cast("long").alias("n_events"),
        F.round("dmean", 4).alias("dow_avg"),
        F.round(F.col("dmean") - F.col("gmean"), 4).alias("seasonal_index"),
    )


# ------------------------------------------------ mean average precision ----


@register(
    "k_eval_map_labels",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
               FROM embeddings),
    q AS (SELECT vec_id AS qid, v AS qv, label AS ql FROM e
          WHERE vec_id < 20),
    ranked AS (
      SELECT q.qid, e.label, q.ql,
             row_number() OVER (PARTITION BY q.qid
               ORDER BY round(list_inner_product(e.v, q.qv), 6) DESC,
                        e.vec_id) AS rn
      FROM e CROSS JOIN q WHERE e.vec_id <> q.qid
    ), hits AS (
      SELECT qid, rn,
             row_number() OVER (PARTITION BY qid ORDER BY rn) AS h
      FROM ranked WHERE rn <= 10 AND label = ql
    ), ap AS (
      SELECT qid, sum(h * 1.0 / rn) / 10.0 AS ap10 FROM hits GROUP BY qid
    )
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           round(avg(coalesce(ap10, 0.0)), 6) AS map_at_10
    FROM q LEFT JOIN ap USING (qid)
    """,
)
def k_eval_map_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean Average Precision@10 over the same 20-probe label-relevance
    protocol as k_eval_mrr_labels: per query, AP@10 = Σ_hits (precision at
    each hit rank)/10; MAP averages across probes (no-hit queries score
    0). MRR sees only the FIRST hit — MAP grades the whole top-10, which
    is what distinguishes an embedding that buries 9 of 10 relevant
    neighbors from one that surfaces them all.

    Same scale shape as MRR: broadcast probe set, one corpus stream, rank
    windows keyed per query, then ≤ 200-row arithmetic. Rounded at 6dp
    (rank-reciprocal sums land exactly on the 4dp half-grid; the 6dp grid
    is provably safe for denominators dividing 504000)."""
    from data_service_spark.queries.llm import (
        _EXACT_RANKED_DEPTH,
        _emb,
        _exact_ranked,
    )

    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("label").alias("ql"),
    )
    # Slice of the session-memoized exact ranking (one corpus×probes
    # product shared by the whole retrieval-evaluation panel).
    # @10 is this metric's DEFINITION; the assert pins it inside the
    # memoized ranking head (raising the cache depth must not silently
    # deepen the metric — r08 review finding).
    at_k = 10
    assert at_k <= _EXACT_RANKED_DEPTH
    ranked = _exact_ranked(spark, sf_dir).select("qid", "label", "ql", "rn")
    hits = (
        ranked.filter(
            (F.col("rn") <= at_k) & (F.col("label") == F.col("ql"))
        )
        .select(
            "qid",
            "rn",
            F.row_number()
            .over(Window.partitionBy("qid").orderBy("rn"))
            .alias("h"),
        )
    )
    ap = hits.groupBy("qid").agg(
        (F.sum(F.col("h") * 1.0 / F.col("rn")) / 10.0).alias("ap10")
    )
    return q.join(ap, "qid", "left").agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.round(F.avg(F.coalesce("ap10", F.lit(0.0))), 6).alias("map_at_10"),
    )


# ------------------------------------------------- rank-biased overlap ----


@register(
    "k_rank_rbo",
    oracle=f"""
    WITH sparse AS ({_REG_ORACLES.get("k_text_bm25", "SELECT 1")}),
    sr AS (
      SELECT doc_id, row_number() OVER (ORDER BY round(bm25, 6) DESC, doc_id)
               AS ra
      FROM sparse QUALIFY ra <= 10
    ),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    dense AS (
      SELECT vec_id AS doc_id,
             row_number() OVER (ORDER BY
               round(list_inner_product(v, qv), 6) DESC, vec_id) AS rb
      FROM e CROSS JOIN q WHERE vec_id <> 0
      QUALIFY rb <= 10
    ),
    common AS (
      SELECT greatest(sr.ra, dense.rb) AS m
      FROM sr JOIN dense USING (doc_id)
    ),
    depths AS (SELECT unnest(generate_series(1, 10)) AS d),
    agree AS (
      SELECT d.d,
             (SELECT count(*) FROM common c WHERE c.m <= d.d) * 1.0 / d.d
               AS a_d
      FROM depths d
    )
    SELECT CAST(10 AS BIGINT) AS depth,
           round((1 - 0.9) * sum(pow(0.9, d - 1) * a_d), 6) AS rbo
    FROM agree
    """,
)
def k_rank_rbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-Biased Overlap (Webber et al. 2010, truncated at depth 10,
    p = 0.9) between the BM25 and dense retrieval legs: top-WEIGHTED rank
    agreement — unlike Spearman over the intersection (k_rank_spearman),
    RBO rewards agreement at the head of the lists, which is what a
    fusion layer actually cares about. RBO = (1−p)·Σ_d p^(d−1)·|A_d∩B_d|/d.

    Both top-10 legs come from the registered formulations; the overlap
    algebra runs on ≤ 10 common rows joined to a 10-row depth spine —
    everything after the two leg windows is constant-sized. Rounded 6dp.
    """
    from data_service_spark.registry import QUERIES

    scored = QUERIES["k_text_bm25"](spark, sf_dir)
    wa = Window.orderBy(F.round("bm25", 6).desc(), F.col("doc_id"))
    sr = (
        scored.select("doc_id", F.row_number().over(wa).alias("ra"))
        .filter(F.col("ra") <= 10)
    )
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = emb.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    sim = F.aggregate(
        F.zip_with(F.col("v"), F.col("qv"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wb = Window.orderBy(F.round(F.col("sim"), 6).desc(), F.col("doc_id"))
    dense = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(F.col("vec_id").alias("doc_id"), sim.alias("sim"))
        .withColumn("rb", F.row_number().over(wb))
        .filter(F.col("rb") <= 10)
        .select("doc_id", "rb")
    )
    common = sr.join(dense, "doc_id").select(
        F.greatest("ra", "rb").alias("m")
    )
    depths = spark.range(1, 11).select(F.col("id").alias("d"))
    # LEFT join keeps every depth row even when the top-10s are disjoint
    # (a crossJoin against an empty overlap set would erase the spine and
    # aggregate NULL instead of the correct RBO of 0).
    agree = (
        depths.join(F.broadcast(common), F.col("m") <= F.col("d"), "left")
        .groupBy("d")
        .agg((F.count("m") * 1.0 / F.first("d")).alias("a_d"))
    )
    return agree.agg(
        F.lit(10).cast("long").alias("depth"),
        F.round(
            (1 - 0.9) * F.sum(F.pow(F.lit(0.9), F.col("d") - 1) * F.col("a_d")),
            6,
        ).alias("rbo"),
    )


# ------------------------------------------------- day-over-day growth ----


@register(
    "k_daily_growth",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev_cents,
             count(*) AS n_orders
      FROM orders GROUP BY 1
    )
    SELECT day, CAST(rev_cents AS BIGINT) AS rev_cents,
           CAST(n_orders AS BIGINT) AS n_orders,
           CAST(rev_cents - lag(rev_cents) OVER (ORDER BY day) AS BIGINT)
             AS delta_cents,
           CAST(floor((rev_cents - lag(rev_cents) OVER (ORDER BY day))
                * 10000.0 / nullif(lag(rev_cents) OVER (ORDER BY day), 0))
                AS BIGINT) AS growth_bp
    FROM daily
    """,
)
def k_daily_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day revenue growth: daily integer-cent revenue with its
    absolute delta and growth in exact basis points (floored int — the
    int/int ratio convention) — the standard BI pulse metric, shaped for
    scale: the window runs over the DAILY spine (one row per day, never
    the order table), so the only data-sized work is the map-side-combined
    daily aggregate. First day's deltas are NULL by definition.
    """
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "rev_cents"
        ),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w = Window.orderBy("day")
    prev = F.lag("rev_cents").over(w)
    return daily.select(
        "day",
        F.col("rev_cents").cast("long").alias("rev_cents"),
        F.col("n_orders").cast("long").alias("n_orders"),
        (F.col("rev_cents") - prev).cast("long").alias("delta_cents"),
        F.floor(
            (F.col("rev_cents") - prev)
            * 10000.0
            / F.nullif(prev, F.lit(0))
        )
        .cast("long")
        .alias("growth_bp"),
    )


# --------------------------------------------------- RFM segmentation ----


@register(
    "k_rfm_segments",
    oracle="""
    WITH mx AS (SELECT max(o_orderdate) AS maxd FROM orders),
    per AS (
      SELECT o_custkey,
             date_diff('day', max(o_orderdate), (SELECT maxd FROM mx))
               AS recency_days,
             count(*) AS frequency,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS monetary_cents
      FROM orders GROUP BY o_custkey
    ), scored AS (
      SELECT o_custkey, recency_days, frequency, monetary_cents,
             ntile(5) OVER (ORDER BY recency_days ASC, o_custkey)
               AS r_score,
             ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
             ntile(5) OVER (ORDER BY monetary_cents DESC, o_custkey)
               AS m_score
      FROM per
    )
    SELECT o_custkey, CAST(recency_days AS BIGINT) AS recency_days,
           CAST(frequency AS BIGINT) AS frequency,
           CAST(monetary_cents AS BIGINT) AS monetary_cents,
           'R' || r_score::VARCHAR || 'F' || f_score::VARCHAR
             || 'M' || m_score::VARCHAR AS segment
    FROM scored
    """,
)
def k_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per customer the classic
    recency/frequency/monetary triple (integer days / counts / cents) and
    an R#F#M# quintile segment label with deterministic tiebreaks — the
    standard lifecycle-marketing rollup. The ntile windows are GLOBAL by
    semantics, but they run over the per-customer aggregate (dimension
    cardinality, orders of magnitude below fact rows) — the scale
    contract is "windows over dimensions are fine; windows over facts are
    not", same as k_dup_family_sizes.
    """
    o = load(spark, sf_dir, "orders")
    mx = o.agg(F.max("o_orderdate").alias("maxd"))
    per = (
        o.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("lastd"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "monetary_cents"
            ),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            "o_custkey",
            F.datediff(F.col("maxd").cast("date"), F.col("lastd").cast("date"))
            .cast("long")
            .alias("recency_days"),
            "frequency",
            "monetary_cents",
        )
    )
    wr = Window.orderBy(F.asc("recency_days"), "o_custkey")
    wf = Window.orderBy(F.desc("frequency"), "o_custkey")
    wm = Window.orderBy(F.desc("monetary_cents"), "o_custkey")
    return per.select(
        "o_custkey",
        "recency_days",
        F.col("frequency").cast("long").alias("frequency"),
        F.col("monetary_cents").cast("long").alias("monetary_cents"),
        F.concat(
            F.lit("R"),
            F.ntile(5).over(wr).cast("string"),
            F.lit("F"),
            F.ntile(5).over(wf).cast("string"),
            F.lit("M"),
            F.ntile(5).over(wm).cast("string"),
        ).alias("segment"),
    )


# ------------------------------------------------ Otsu threshold choice ----


@register(
    "k_threshold_otsu",
    oracle=f"""
    WITH scored AS ({_REG_ORACLES.get("k_quality_logreg", "SELECT 1")}),
    b AS (
      SELECT least(CAST(floor(score_q / 50000) AS BIGINT), 19) AS bin,
             count(*) AS n, sum(score_q) AS s
      FROM scored GROUP BY 1
    ), t AS (SELECT unnest(generate_series(1, 19)) AS thr),
    split AS (
      SELECT t.thr,
             sum(CASE WHEN b.bin < t.thr THEN b.n ELSE 0 END) AS w0,
             sum(CASE WHEN b.bin < t.thr THEN b.s ELSE 0 END) AS s0,
             sum(CASE WHEN b.bin >= t.thr THEN b.n ELSE 0 END) AS w1,
             sum(CASE WHEN b.bin >= t.thr THEN b.s ELSE 0 END) AS s1
      FROM t CROSS JOIN b GROUP BY t.thr
    ), scoredt AS (
      SELECT thr, w0, w1,
             w0 * w1 * pow(s0 * 1.0 / w0 - s1 * 1.0 / w1, 2) AS between_var
      FROM split WHERE w0 > 0 AND w1 > 0
    )
    SELECT CAST(thr AS BIGINT) AS best_bin,
           CAST(thr * 50000 AS BIGINT) AS threshold_score,
           CAST(w0 AS BIGINT) AS n_below, CAST(w1 AS BIGINT) AS n_above,
           round(between_var / 1e12, 4) AS between_var_scaled
    FROM scoredt ORDER BY between_var DESC, thr LIMIT 1
    """,
)
def k_threshold_otsu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Otsu's method on the quality-score histogram: pick the gate
    threshold that MAXIMIZES between-class variance — the unsupervised
    complement to k_threshold_youden (which needs labels). When a corpus
    has a bimodal quality distribution (clean prose vs boilerplate), Otsu
    finds the valley automatically; this registers the argmax bin, the
    resulting score cut, and the populations it separates.

    Scale shape: one 20-bin aggregate of the scorer's integer-quantized
    output (map-side combined), a 19-row threshold spine, and constant-
    size arithmetic — the scan is the only data-sized work. Exact integer
    (n, Σscore) per bin; the variance is evaluated from the same sums in
    both engines.
    """
    from data_service_spark.registry import QUERIES

    scored = QUERIES["k_quality_logreg"](spark, sf_dir).select("score_q")
    b = scored.groupBy(
        F.least(F.floor(F.col("score_q") / 50000), F.lit(19))
        .cast("long")
        .alias("bin")
    ).agg(F.count(F.lit(1)).alias("n"), F.sum("score_q").alias("s"))
    t = spark.range(1, 20).select(F.col("id").alias("thr"))
    split = (
        t.crossJoin(F.broadcast(b))
        .groupBy("thr")
        .agg(
            F.sum(F.when(F.col("bin") < F.col("thr"), F.col("n")).otherwise(0)).alias("w0"),
            F.sum(F.when(F.col("bin") < F.col("thr"), F.col("s")).otherwise(0)).alias("s0"),
            F.sum(F.when(F.col("bin") >= F.col("thr"), F.col("n")).otherwise(0)).alias("w1"),
            F.sum(F.when(F.col("bin") >= F.col("thr"), F.col("s")).otherwise(0)).alias("s1"),
        )
        .filter((F.col("w0") > 0) & (F.col("w1") > 0))
    )
    bv = (
        F.col("w0")
        * F.col("w1")
        * F.pow(
            F.col("s0") * 1.0 / F.col("w0") - F.col("s1") * 1.0 / F.col("w1"),
            2,
        )
    )
    return (
        split.withColumn("between_var", bv)
        .orderBy(F.col("between_var").desc(), "thr")
        .limit(1)
        .select(
            F.col("thr").cast("long").alias("best_bin"),
            (F.col("thr") * 50000).cast("long").alias("threshold_score"),
            F.col("w0").cast("long").alias("n_below"),
            F.col("w1").cast("long").alias("n_above"),
            F.round(F.col("between_var") / 1e12, 4).alias(
                "between_var_scaled"
            ),
        )
    )


# ------------------------------------------------------ CUPED adjustment ----


@register(
    "k_ab_cuped",
    oracle="""
    WITH b AS (
      SELECT CAST(floor((min(epoch_us(ts)) + max(epoch_us(ts))) / 2.0)
                  AS BIGINT) AS mid
      FROM events
    ), per AS (
      SELECT user_id,
             ('0x' || substr(md5('cuped:' || user_id::VARCHAR), 1, 8))
               ::BIGINT % 2 AS cohort,
             sum(CASE WHEN epoch_us(ts) < (SELECT mid FROM b)
                 THEN value ELSE 0 END) AS pre,
             sum(CASE WHEN epoch_us(ts) >= (SELECT mid FROM b)
                 THEN value ELSE 0 END) AS post
      FROM events GROUP BY 1, 2
    ), g AS (
      SELECT count(*) AS n, sum(pre) AS sx, sum(post) AS sy,
             sum(pre * post) AS sxy, sum(pre * pre) AS sxx
      FROM per
    ), t AS (
      SELECT (sxy - sx * sy / n) / nullif(sxx - sx * sx / n, 0) AS theta,
             sx / n AS mpre
      FROM g
    )
    SELECT CAST(cohort AS BIGINT) AS cohort,
           CAST(count(*) AS BIGINT) AS n_users,
           round(avg(post), 4) AS mean_post,
           round(avg(post - (SELECT theta FROM t)
                         * (pre - (SELECT mpre FROM t))), 4) AS adj_mean,
           round((SELECT theta FROM t), 4) AS theta
    FROM per GROUP BY cohort
    """,
)
def k_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for an A/B readout (Deng et al. 2013):
    per-user PRE-period activity (first half of the event range) is the
    covariate; the post-period metric is adjusted by θ·(pre − mean_pre)
    with θ = cov(pre, post)/var(pre) pooled across cohorts — the industry-
    standard trick that shrinks experiment confidence intervals 30-50%
    without touching the treatment. Cohorts are deterministic md5 user
    buckets (the k_ab_ztest convention).

    One user-level conditional aggregate (the only data-sized shuffle),
    one 1-row moment reduce, and a 2-row cohort rollup with the broadcast
    scalar θ — the same shape at 100 TB. The θ power sums (Σpre²,
    Σpre·post) accumulate in DOUBLE (per-user revenue sums are doubles),
    so no int64 wrap governor applies; the shared 4dp rounding of θ and
    the adjusted means absorbs partial-order ulp drift.
    """
    e = load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    b = e.agg(
        F.floor((F.min(us) + F.max(us)) / 2.0).cast("long").alias("mid")
    )
    per = (
        e.crossJoin(F.broadcast(b))
        .groupBy(
            "user_id",
            F.expr(
                "CAST(conv(substr(md5(concat('cuped:',"
                " CAST(user_id AS STRING))), 1, 8), 16, 10) AS BIGINT) % 2"
            ).alias("cohort"),
        )
        .agg(
            F.sum(
                F.when(us < F.col("mid"), F.col("value")).otherwise(0.0)
            ).alias("pre"),
            F.sum(
                F.when(us >= F.col("mid"), F.col("value")).otherwise(0.0)
            ).alias("post"),
        )
    )
    g = per.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("pre").alias("sx"),
        F.sum("post").alias("sy"),
        F.sum(F.col("pre") * F.col("post")).alias("sxy"),
        F.sum(F.col("pre") * F.col("pre")).alias("sxx"),
    )
    t = g.select(
        (
            (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"))
            / F.nullif(
                F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"),
                F.lit(0.0),
            )
        ).alias("theta"),
        (F.col("sx") / F.col("n")).alias("mpre"),
    )
    return (
        per.crossJoin(F.broadcast(t))
        .groupBy("cohort")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.round(F.avg("post"), 4).alias("mean_post"),
            F.round(
                F.avg(
                    F.col("post")
                    - F.col("theta") * (F.col("pre") - F.col("mpre"))
                ),
                4,
            ).alias("adj_mean"),
            F.round(F.first("theta"), 4).alias("theta"),
        )
        .select(
            F.col("cohort").cast("long").alias("cohort"),
            "n_users",
            "mean_post",
            "adj_mean",
            "theta",
        )
    )


@register(
    "k_pareto_skyline",
    oracle=f"""
    WITH scored0 AS ({_REG_ORACLES["k_quality_logreg"]}),
    pts AS (
      SELECT s.doc_id, s.score_q, d.n_chars
      FROM scored0 s JOIN documents d USING (doc_id)
    )
    SELECT p.doc_id, p.score_q, CAST(p.n_chars AS BIGINT) AS n_chars
    FROM pts p
    WHERE NOT EXISTS (
      SELECT 1 FROM pts o
      WHERE o.score_q >= p.score_q AND o.n_chars >= p.n_chars
        AND (o.score_q > p.score_q OR o.n_chars > p.n_chars)
    )
    """,
)
def k_pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKYLINE / Pareto front over (quality score, length): documents not
    dominated on both objectives — the operator behind "give me the best
    quality-per-length trade-offs" data selection (no engine ships
    SKYLINE; this is the standard rewrite). Ties survive: equal points
    dominate nobody.

    Scale decomposition instead of the textbook O(n²) NOT-EXISTS: group
    to one (score → max chars) row per DISTINCT score (vocabulary-sized),
    one descending running-max window over that table, keep scores whose
    max-chars beats every strictly-higher score's, then join back to
    recover the documents on the front. The fact table is touched by two
    hash aggregates and one semi-join — never a quadratic pair scan
    (the oracle states the naive dominance form; both agree exactly).
    Skyline is distributive (skyline(∪Sᵢ) = skyline(∪skyline(Sᵢ))), so
    at 100 TB the same algebra runs per partition first.
    """
    # One-scan scorer spine; n_chars from the same row (guide §2.4).
    from data_service_spark.queries.training import quality_scored

    pts = quality_scored(spark, sf_dir, "n_chars")
    g = pts.groupBy("score_q").agg(F.max("n_chars").alias("mc"))
    w = (
        Window.orderBy(F.col("score_q").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    front_scores = g.select(
        "score_q",
        "mc",
        F.max("mc").over(w).alias("best_above"),
    ).filter(
        F.col("best_above").isNull() | (F.col("mc") > F.col("best_above"))
    )
    return (
        pts.join(
            F.broadcast(front_scores.select("score_q", "mc")), "score_q"
        )
        .filter(F.col("n_chars") == F.col("mc"))
        .select(
            "doc_id", "score_q", F.col("n_chars").cast("long").alias("n_chars")
        )
    )


# ------------------------------------------- seasonal-naive backtest ----


@register(
    "k_forecast_snaive",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev
      FROM orders GROUP BY 1
    ), f AS (
      SELECT day, rev,
             lag(rev, 7) OVER (ORDER BY day) AS forecast
      FROM daily
    )
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(abs(rev - forecast)) AS BIGINT) AS sum_abs_err_cents,
           round(avg(abs(rev - forecast) * 1.0 / rev), 6) AS mape,
           round(avg(2.0 * abs(rev - forecast) / (rev + forecast)), 6)
             AS smape
    FROM f WHERE forecast IS NOT NULL
    """,
)
def k_forecast_snaive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast BACKTEST: predict each day's revenue with
    the value 7 days of data earlier (the strongest cheap baseline for
    weekly-seasonal series) and score it with MAPE and sMAPE — the
    benchmark any real forecasting model must beat before it earns
    compute, and the health metric that flags regime changes when it
    suddenly degrades. Exact integer cents for levels and errors; only
    the two final score ratios are floats (identical arithmetic trees).

    Scale: the lag window runs on the DAILY spine (rows = days, not
    orders); the only data-sized work is the map-side-combined daily
    aggregate. Note lag(7) is by ROW over present days — the spine is
    dense here; a gappy calendar would first run i_gap_fill.
    """
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev")
    )
    f = daily.select(
        "day",
        "rev",
        F.lag("rev", 7).over(Window.orderBy("day")).alias("forecast"),
    ).filter(F.col("forecast").isNotNull())
    err = F.abs(F.col("rev") - F.col("forecast"))
    return f.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(err).cast("long").alias("sum_abs_err_cents"),
        F.round(F.avg(err * 1.0 / F.col("rev")), 6).alias("mape"),
        F.round(
            F.avg(2.0 * err / (F.col("rev") + F.col("forecast"))), 6
        ).alias("smape"),
    )


# ----------------------------------------------------- lift/gain curve ----


@register(
    "k_eval_lift_curve",
    oracle=f"""
    WITH scored AS ({_REG_ORACLES.get("k_quality_logreg", "SELECT 1")}),
    lab AS (
      SELECT s.score_q,
             CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
      FROM scored s JOIN documents d USING (doc_id)
    ), bands AS (
      SELECT least(CAST(floor(score_q / 100000) AS BIGINT), 9) AS band,
             count(*) AS n, sum(y) AS n_pos
      FROM lab GROUP BY 1
    ), g AS (SELECT sum(n) AS nt, sum(n_pos) AS pt FROM bands),
    cum AS (
      SELECT band, n, n_pos,
             sum(n) OVER (ORDER BY band DESC
                          ROWS UNBOUNDED PRECEDING) AS cn,
             sum(n_pos) OVER (ORDER BY band DESC
                              ROWS UNBOUNDED PRECEDING) AS cp
      FROM bands
    )
    SELECT band, CAST(n AS BIGINT) AS n, CAST(n_pos AS BIGINT) AS n_pos,
           round(cp * 1.0 / cn, 6) AS cum_precision,
           round((cp * 1.0 / cn) / (g.pt * 1.0 / g.nt), 4) AS lift,
           round(cp * 1.0 / g.pt, 6) AS recall_captured
    FROM cum CROSS JOIN g
    """,
)
def k_eval_lift_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative lift/gain curve of the quality scorer against the
    ``lang='en'`` label, by descending score band: at every score cut,
    the precision of everything above it, the LIFT over the base rate,
    and the share of all positives captured — the business-facing
    complement to AUC (answers "if I gate at this score, what do I keep
    and what do I lose?"; k_threshold_otsu/youden pick the cut, this
    shows the whole trade-off table).

    One 10-band aggregate of the scorer's integer-quantized output, a
    1-row total, and a 10-row cumulative window — the scan is the only
    data-sized work; exact integer counts feed the three final ratios.
    """
    # One-scan scorer spine; label from the same row (guide §2.4).
    from data_service_spark.queries.training import quality_scored

    lab = quality_scored(
        spark,
        sf_dir,
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    ).select("score_q", "y")
    bands = lab.groupBy(
        F.least(F.floor(F.col("score_q") / 100000), F.lit(9))
        .cast("long")
        .alias("band")
    ).agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("n_pos"))
    g = bands.agg(F.sum("n").alias("nt"), F.sum("n_pos").alias("pt"))
    w = Window.orderBy(F.col("band").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = bands.select(
        "band",
        "n",
        "n_pos",
        F.sum("n").over(w).alias("cn"),
        F.sum("n_pos").over(w).alias("cp"),
    )
    return cum.crossJoin(F.broadcast(g)).select(
        "band",
        F.col("n").cast("long").alias("n"),
        F.col("n_pos").cast("long").alias("n_pos"),
        F.round(F.col("cp") * 1.0 / F.col("cn"), 6).alias("cum_precision"),
        F.round(
            (F.col("cp") * 1.0 / F.col("cn"))
            / (F.col("pt") * 1.0 / F.col("nt")),
            4,
        ).alias("lift"),
        F.round(F.col("cp") * 1.0 / F.col("pt"), 6).alias(
            "recall_captured"
        ),
    )


# --------------------------------------------- degree distribution ----


@register(
    "k_degree_distribution",
    oracle="""
    WITH deg AS (
      SELECT c.c_custkey, count(o.o_orderkey) AS deg
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey
    ), hist AS (
      SELECT deg, count(*) AS n_customers FROM deg GROUP BY deg
    )
    SELECT CAST(deg AS BIGINT) AS deg,
           CAST(n_customers AS BIGINT) AS n_customers,
           CAST(floor(sum(n_customers) OVER (ORDER BY deg) * 10000.0
                      / sum(n_customers) OVER ()) AS BIGINT) AS cum_frac_bp
    FROM hist
    """,
)
def k_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the customer–order bipartite graph: how many
    customers placed exactly d orders, INCLUDING the zero-degree nodes a
    plain groupBy(orders) silently drops (LEFT join from the node table —
    the same isolated-node discipline as ``k_fk_orphans``), plus the
    cumulative fraction in bp. The first chart read before any graph
    algorithm (PageRank, k-core budgeting, hub capping in
    ``k_hubness_audit``) — whether the graph is hub-dominated decides
    whether per-key state fits an executor.

    Scale shape: degree = one grouped count (map-side partials); the
    histogram and its cumulative window run over the ~|distinct degrees|
    spine.
    """
    from pyspark.sql.window import Window

    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    deg = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("deg"))
    )
    hist = deg.groupBy("deg").agg(F.count(F.lit(1)).alias("n_customers"))
    w = Window.orderBy("deg")
    return hist.select(
        F.col("deg").cast("long"),
        F.col("n_customers").cast("long"),
        F.floor(
            F.sum("n_customers").over(w)
            * 10000.0
            / F.sum("n_customers").over(
                Window.orderBy("deg").rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            )
        )
        .cast("long")
        .alias("cum_frac_bp"),
    )


# ----------------------------------------------------- position bias ----


@register(
    "k_position_bias",
    oracle="""
    WITH pos AS (
      SELECT event_type,
             row_number() OVER (
               PARTITION BY user_id, CAST(date_trunc('day', ts) AS DATE)
               ORDER BY ts, event_id) AS position
      FROM events
    ), per_pos AS (
      SELECT position, count(*) AS n_events,
             sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS n_clicks
      FROM pos WHERE position <= 10
      GROUP BY position
    ), base AS (
      SELECT n_clicks * 1.0 / n_events AS ctr1 FROM per_pos WHERE position = 1
    )
    SELECT CAST(position AS BIGINT) AS position,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(n_clicks AS BIGINT) AS n_clicks,
           CAST(floor(n_clicks * 10000.0 / n_events) AS BIGINT) AS ctr_bp,
           CAST(floor((n_clicks * 1.0 / n_events) / ctr1 * 10000)
             AS BIGINT) AS rel_to_pos1_bp
    FROM per_pos CROSS JOIN base
    """,
)
def k_position_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-bias curve: click rate by within-(user, day) event position
    (1–10), normalized to position 1 — the examination-bias profile that
    click-model training (COEC, position-weighted CTR) divides out before
    clicks become relevance labels; without it, whatever sits first looks
    best forever. Position is the deterministic (ts, event_id) sequence
    number.

    Scale shape: one window over (user, day) partitions — the natural
    partitioning key, thousands of small groups, no skew — then a 10-row
    aggregate.
    """
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy(
        "user_id", F.date_trunc("day", "ts").cast("date")
    ).orderBy("ts", "event_id")
    pos = ev.select(
        "event_type", F.row_number().over(w).alias("position")
    ).filter("position <= 10")
    per_pos = pos.groupBy("position").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum((F.col("event_type") == "click").cast("long")).alias("n_clicks"),
    )
    base = per_pos.filter("position = 1").select(
        (F.col("n_clicks") * 1.0 / F.col("n_events")).alias("ctr1")
    )
    return per_pos.crossJoin(F.broadcast(base)).select(
        F.col("position").cast("long"),
        F.col("n_events").cast("long"),
        F.col("n_clicks").cast("long"),
        F.floor(F.col("n_clicks") * 10000.0 / F.col("n_events"))
        .cast("long")
        .alias("ctr_bp"),
        F.floor(
            (F.col("n_clicks") * 1.0 / F.col("n_events")) / F.col("ctr1")
            * 10000
        )
        .cast("long")
        .alias("rel_to_pos1_bp"),
    )


# ------------------------------------------- isotonic calibration ----


@register(
    "k_calibration_isotonic",
    oracle=f"""
    WITH scored AS ({_REG_ORACLES.get("k_quality_logreg", "SELECT 1")}),
    lab AS (
      SELECT least(CAST(floor(s.score_q / 50000.0) AS BIGINT), 19) AS bin,
             CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
      FROM scored s JOIN documents d USING (doc_id)
    ), b AS (
      SELECT bin, count(*) AS c, sum(y) AS s FROM lab GROUP BY bin
    ), pre AS (
      SELECT bin, sum(c) OVER (ORDER BY bin) AS cc,
             sum(s) OVER (ORDER BY bin) AS cs
      FROM b
      UNION ALL SELECT -1, 0, 0
    ), grid AS (
      SELECT t.bin AS t, pi.bin AS im1,
             CAST(pj.cs - pi.cs AS DOUBLE) / (pj.cc - pi.cc) AS m
      FROM b t
      JOIN pre pi ON pi.bin <= t.bin - 1
      JOIN pre pj ON pj.bin >= t.bin
    ), inner_min AS (
      SELECT t, im1, min(m) AS mn FROM grid GROUP BY t, im1
    ), fit AS (
      SELECT t AS bin, max(mn) AS f FROM inner_min GROUP BY t
    )
    SELECT b.bin, CAST(b.c AS BIGINT) AS n,
           CAST(floor(CAST(b.s AS DOUBLE) * 1000000 / b.c) AS BIGINT)
             AS raw_ppm,
           CAST(floor(f.f * 1000000) AS BIGINT) AS iso_ppm
    FROM b JOIN fit f ON b.bin = f.bin
    """,
)
def k_calibration_isotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAVA) calibration of the quality classifier over 20 score
    vigintiles: the monotone-nondecreasing fit of observed positive rate
    vs score bin, computed through the pool-adjacent-violators MINIMAX
    identity ŷ_t = max_{i≤t} min_{j≥t} mean(y_i..y_j) — no iterative
    pooling, so the whole fit is one closed-form query (the repair step
    ``k_eval_calibration``'s reliability diagram motivates). Segment means
    are double divisions of exact integer prefix sums; min/max selection
    over them is rounding-monotonic, so both engines select identical
    values, floor-quantized to ppm.

    Scale shape: the corpus reduces map-side to 20 (bin,count,pos) rows;
    the O(bins³)=8000-row minimax grid is driver-trivial but stays fully
    distributed as two grouped reductions over a broadcast spine.
    """
    # One-scan scorer spine; label from the same row (guide §2.4).
    from data_service_spark.queries.training import quality_scored

    lab = quality_scored(
        spark,
        sf_dir,
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    ).select(
        F.least(F.floor(F.col("score_q") / 50000.0).cast("long"), F.lit(19))
        .alias("bin"),
        "y",
    )
    b = lab.groupBy("bin").agg(
        F.count(F.lit(1)).alias("c"), F.sum("y").alias("s")
    )
    wb = Window.orderBy("bin")
    pre = b.select(
        "bin",
        F.sum("c").over(wb).alias("cc"),
        F.sum("s").over(wb).alias("cs"),
    ).unionAll(
        b.sparkSession.createDataFrame([(-1, 0, 0)], "bin long, cc long, cs long")
    )
    pi = pre.select(
        F.col("bin").alias("im1"), F.col("cc").alias("cc_i"),
        F.col("cs").alias("cs_i"),
    )
    pj = pre.select(
        F.col("bin").alias("j"), F.col("cc").alias("cc_j"),
        F.col("cs").alias("cs_j"),
    )
    t = b.select(F.col("bin").alias("t"))
    grid = (
        t.join(F.broadcast(pi), F.col("im1") <= F.col("t") - 1)
        .join(F.broadcast(pj), F.col("j") >= F.col("t"))
        .select(
            "t", "im1",
            ((F.col("cs_j") - F.col("cs_i")).cast("double")
             / (F.col("cc_j") - F.col("cc_i"))).alias("m"),
        )
    )
    fit = (
        grid.groupBy("t", "im1")
        .agg(F.min("m").alias("mn"))
        .groupBy("t")
        .agg(F.max("mn").alias("f"))
    )
    return b.join(fit, b.bin == fit.t).select(
        "bin",
        F.col("c").cast("long").alias("n"),
        F.floor(F.col("s").cast("double") * 1000000 / F.col("c"))
        .cast("long")
        .alias("raw_ppm"),
        F.floor(F.col("f") * 1000000).cast("long").alias("iso_ppm"),
    )


# --------------------------------------------- PR average precision ----


@register(
    "k_eval_avg_precision",
    oracle=f"""
    WITH scored AS ({_REG_ORACLES.get("k_quality_logreg", "SELECT 1")}),
    lab AS (
      SELECT s.score_q, CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
      FROM scored s JOIN documents d USING (doc_id)
    ), g AS (
      SELECT score_q, count(*) AS c, sum(y) AS p FROM lab GROUP BY score_q
    ), cum AS (
      SELECT c, p,
             sum(c) OVER (ORDER BY score_q DESC) AS n_g,
             sum(p) OVER (ORDER BY score_q DESC) AS tp_g
      FROM g
    ), tot AS (SELECT sum(p) AS n_pos, sum(c) AS n FROM g)
    SELECT CAST((SELECT n_pos FROM tot) AS BIGINT) AS n_pos,
           CAST((SELECT n FROM tot) AS BIGINT) AS n_total,
           CAST(floor(CAST(sum(p * CAST(floor(CAST(tp_g AS DOUBLE) * 1000000
                                              / n_g) AS BIGINT)) AS DOUBLE)
                      / (SELECT n_pos FROM tot)) AS BIGINT) AS ap_ppm
    FROM cum WHERE p > 0
    """,
)
def k_eval_avg_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (area under the precision-recall curve, step
    interpolation) of the quality classifier against the ``lang='en'``
    label — the ranking metric that matters when positives are rare and
    ROC AUC (``k_eval_auc``) flatters: AP = Σ_g ΔR_g·P_g over distinct
    score thresholds. Precision at each threshold floor-quantizes to
    integer ppm BEFORE the recall-weighted sum, so the whole statistic is
    exact BIGINT arithmetic with two boundary-safe floors — identical
    under any aggregation order.

    Scale shape: groupBy(score) collapses the corpus to its distinct
    quantized scores map-side; one ordered window over that spine and a
    1-row reduce — the ``k_eval_auc`` rank-sum shape on the PR side.
    """
    # One-scan scorer spine; label from the same row (guide §2.4).
    from data_service_spark.queries.training import quality_scored

    lab = quality_scored(
        spark, sf_dir,
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    ).select("score_q", "y")
    g = lab.groupBy("score_q").agg(
        F.count(F.lit(1)).alias("c"), F.sum("y").alias("p")
    )
    wc = Window.orderBy(F.desc("score_q"))
    cum = g.select(
        "c", "p",
        F.sum("c").over(wc).alias("n_g"),
        F.sum("p").over(wc).alias("tp_g"),
    )
    tot = g.agg(
        F.sum("p").alias("n_pos"), F.sum("c").alias("n_total")
    )
    terms = cum.filter("p > 0").select(
        (F.col("p")
         * F.floor(F.col("tp_g").cast("double") * 1000000 / F.col("n_g"))
         .cast("long")).alias("term")
    )
    return (
        terms.agg(F.sum("term").alias("st"))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("n_pos").cast("long"),
            F.col("n_total").cast("long"),
            F.floor(F.col("st").cast("double") / F.col("n_pos"))
            .cast("long")
            .alias("ap_ppm"),
        )
    )


# ------------------------------------- capture-recapture dup audit ----


@corpus_memo
def _cr_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct MinHash-LSH pairs — ``k_capture_recapture``'s capture."""
    from data_service_spark.registry import QUERIES

    return (
        QUERIES["k_dedup_minhash_sql"](spark, sf_dir)
        .select("doc_id_1", "doc_id_2")
        .distinct()
    )


@corpus_memo
def _cr_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct SimHash-banding pairs — ``k_capture_recapture``'s
    recapture."""
    from data_service_spark.registry import QUERIES

    return (
        QUERIES["k_dedup_simhash"](spark, sf_dir)
        .select("doc_id_1", "doc_id_2")
        .distinct()
    )


@register(
    "k_capture_recapture",
    oracle=f"""
    WITH mh AS ({_REG_ORACLES.get("k_dedup_minhash_sql", "SELECT 1")}),
    sh AS ({_REG_ORACLES.get("k_dedup_simhash", "SELECT 1")}),
    a AS (SELECT DISTINCT doc_id_1, doc_id_2 FROM mh),
    b AS (SELECT DISTINCT doc_id_1, doc_id_2 FROM sh),
    s AS (
      SELECT (SELECT count(*) FROM a) AS n1,
             (SELECT count(*) FROM b) AS n2,
             (SELECT count(*) FROM a JOIN b USING (doc_id_1, doc_id_2))
               AS m
    )
    SELECT CAST(n1 AS BIGINT) AS n_minhash, CAST(n2 AS BIGINT) AS n_simhash,
           CAST(m AS BIGINT) AS n_both,
           CAST(floor(CAST((n1 + 1) * (n2 + 1) AS DOUBLE) / (m + 1))
             AS BIGINT) - 1 AS chapman_est,
           CAST(floor(CAST(m AS DOUBLE) * 10000 / n2) AS BIGINT)
             AS minhash_coverage_bp
    FROM s
    """,
)
def k_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture–recapture estimate of the TRUE near-duplicate pair count
    from two mechanistically independent miners: MinHash-LSH
    (shingle-Jaccard capture) and SimHash banding (bit-fingerprint
    recapture). Chapman's estimator N̂ = (n₁+1)(n₂+1)/(m+1) − 1 turns
    their overlap into an estimate of the pairs BOTH methods missed — the
    ecology trick (Lincoln–Petersen) applied to dedup coverage, answering
    the question recall-vs-ground-truth (``k_eval_dedup_recall``) cannot
    at 100 TB, where no exhaustive ground truth exists. Integer division
    floors both engines identically (n₁,n₂,m exact counts).

    Scale shape: composes the two banded pipelines (each linear in
    bucket occupancy); the audit itself joins two pair lists — spine
    work."""
    a, b = _cr_minhash_pairs(spark, sf_dir), _cr_simhash_pairs(spark, sf_dir)
    s = (
        a.agg(F.count(F.lit(1)).alias("n1"))
        .crossJoin(b.agg(F.count(F.lit(1)).alias("n2")))
        .crossJoin(
            a.join(b, ["doc_id_1", "doc_id_2"]).agg(
                F.count(F.lit(1)).alias("m")
            )
        )
    )
    return s.select(
        F.col("n1").cast("long").alias("n_minhash"),
        F.col("n2").cast("long").alias("n_simhash"),
        F.col("m").cast("long").alias("n_both"),
        F.floor(
            ((F.col("n1") + 1) * (F.col("n2") + 1)).cast("double")
            / (F.col("m") + 1)
        ).cast("long").alias("_tmp"),
        F.floor(F.col("m").cast("double") * 10000 / F.col("n2"))
        .cast("long")
        .alias("minhash_coverage_bp"),
    ).select(
        "n_minhash", "n_simhash", "n_both",
        (F.col("_tmp") - 1).alias("chapman_est"),
        "minhash_coverage_bp",
    )


# --------------------------------------- decision-stump split find ----


def _body_best_split() -> str:
    return """
    WITH lab AS (
      SELECT n_chars AS v, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents
    ), g AS (
      SELECT v, count(*) AS c, sum(y) AS a FROM lab GROUP BY v
    ), spine AS (
      SELECT v,
             sum(c) OVER (ORDER BY v) AS nl,
             sum(a) OVER (ORDER BY v) AS al,
             sum(c) OVER () AS n,
             sum(a) OVER () AS atot
      FROM g
    ), cand AS (
      SELECT v, nl, al, n, atot,
             (nl - (CAST(al AS DOUBLE) * al
                    + CAST(nl - al AS DOUBLE) * (nl - al)) / nl)
             + ((n - nl) - (CAST(atot - al AS DOUBLE) * (atot - al)
                            + CAST((n - nl) - (atot - al) AS DOUBLE)
                              * ((n - nl) - (atot - al))) / (n - nl))
               AS w_impurity
      FROM spine WHERE nl < n
    ), best AS (
      SELECT * FROM (
        SELECT v, nl, al, n, atot, w_impurity,
               row_number() OVER (ORDER BY w_impurity, v) AS rn
        FROM cand
      ) r WHERE rn = 1
    )
    SELECT CAST(v AS BIGINT) AS split_at, CAST(nl AS BIGINT) AS n_left,
           CAST(al AS BIGINT) AS pos_left,
           CAST(floor((1 - (CAST(atot AS DOUBLE) * atot
                            + CAST(n - atot AS DOUBLE) * (n - atot))
                           / (CAST(n AS DOUBLE) * n)) * 10000) AS BIGINT)
             AS gini_before_bp,
           CAST(floor(w_impurity / n * 10000) AS BIGINT) AS gini_after_bp
    FROM best
    """


@register("k_best_split_stump", oracle=_body_best_split())
def k_best_split_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump learner: the single threshold on document length
    that best separates ``lang='en'`` by weighted Gini impurity — the
    distributed primitive under every tree/GBDT feature-split and, in a
    curation stack, the "is this feature a usable gate on its own" probe
    (compare gini_after to gini_before: no drop ⇒ length can't gate
    language). The candidate scan is the classic histogram method: one
    frequency spine with cumulative (count, positives), every threshold
    scored from the prefix sums in one pass — never a per-threshold
    re-scan. Impurity doubles are identical cross-engine (exact integer
    inputs, shared expression), selection is rounding-monotonic, outputs
    floor-quantize to basis points.

    Scale shape: map-side reduce to distinct feature values, one ordered
    window over that spine, one row out — the XGBoost approx-split shape
    with exact (not quantile-sketch) candidates."""
    load(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_body_best_split())


# ------------------------------------- Markov removal attribution ----


def _body_markov_attribution() -> str:
    prop = """
    v{b} AS (
      SELECT v.ch, e.dst AS state,
             CAST(sum(v.v * e.ppm) DIV 1000000 AS BIGINT) AS v
      FROM v{a} v JOIN pch e ON v.ch = e.ch AND v.state = e.src
      GROUP BY v.ch, e.dst
    )"""
    steps = ",".join(prop.format(a=i, b=i + 1) for i in range(6))
    return f"""
    WITH ordered AS (
      SELECT user_id, event_id, event_type,
             lead(event_type) OVER w AS nxt,
             row_number() OVER w AS rn,
             min(CASE WHEN event_type = 'purchase' THEN event_id END)
               OVER (PARTITION BY user_id,
                     CAST(date_trunc('day', ts) AS DATE)) AS p_eid
      FROM events
      WINDOW w AS (PARTITION BY user_id,
                   CAST(date_trunc('day', ts) AS DATE) ORDER BY event_id)
    ), trans AS (
      SELECT event_type AS src,
             CASE WHEN nxt IS NULL THEN 'end' ELSE nxt END AS dst
      FROM ordered
      WHERE event_type <> 'purchase'
        AND (p_eid IS NULL OR event_id < p_eid)
    ), cnt AS (
      SELECT src, dst, count(*) AS n FROM trans GROUP BY 1, 2
    ), p AS (
      SELECT src, dst,
             CAST(n AS BIGINT) * 1000000
               DIV sum(n) OVER (PARTITION BY src) AS ppm
      FROM cnt
    ), chans AS (
      SELECT ch FROM (VALUES ('(full)'), ('view'), ('click'),
                             ('signup'), ('error')) AS t(ch)
    ), pch AS (
      SELECT c.ch, p.src, p.dst, p.ppm
      FROM chans c JOIN p
        ON (c.ch = '(full)' OR (p.src <> c.ch AND p.dst <> c.ch))
      UNION ALL
      SELECT ch, 'purchase', 'purchase', CAST(1000000 AS BIGINT) FROM chans
    ), starts AS (
      SELECT event_type AS state, count(*) AS n0
      FROM ordered WHERE rn = 1 GROUP BY 1
    ), tot AS (SELECT sum(n0) AS n_sess FROM starts),
    v0 AS (
      SELECT c.ch, s.state, CAST(s.n0 AS BIGINT) * 1000000 AS v
      FROM chans c JOIN starts s ON c.ch = '(full)' OR s.state <> c.ch
    ),{steps},
    final AS (
      SELECT ch, v FROM v6 WHERE state = 'purchase'
    ), fullrow AS (
      SELECT v AS v_full FROM final WHERE ch = '(full)'
    )
    SELECT f.ch AS channel,
           CAST(t.n_sess AS BIGINT) AS n_sessions,
           CAST(f.v DIV t.n_sess AS BIGINT) AS conv_ppm,
           CAST(((fr.v_full - f.v) * 10000) DIV fr.v_full AS BIGINT)
             AS removal_effect_bp
    FROM final f CROSS JOIN tot t CROSS JOIN fullrow fr
    """


def _markov_reduced_sql() -> str:
    """ONE corpus pass emitting BOTH spine tables the attribution needs,
    tagged: kind='t' transition counts (src=a, dst=b) and kind='s'
    session-start counts (state=a) — fused via a per-row 2-slot explode
    so the sessionize windows run once (r13: Spark inlines the
    multi-referenced ``ordered`` CTE, so the SQL-only form ran the
    events scan + both windows TWICE; the DuckDB oracle keeps the
    single-text body because DuckDB materializes multi-referenced
    CTEs). Output is <= ~50 rows — checkpoint-cheap."""
    return """
    WITH ordered AS (
      SELECT user_id, event_id, event_type,
             lead(event_type) OVER w AS nxt,
             row_number() OVER w AS rn,
             min(CASE WHEN event_type = 'purchase' THEN event_id END)
               OVER (PARTITION BY user_id,
                     CAST(date_trunc('day', ts) AS DATE)) AS p_eid
      FROM events
      WINDOW w AS (PARTITION BY user_id,
                   CAST(date_trunc('day', ts) AS DATE) ORDER BY event_id)
    )
    SELECT x.kind AS kind, x.a AS a, x.b AS b, count(*) AS n
    FROM ordered
    LATERAL VIEW explode(array(
      CASE WHEN event_type <> 'purchase'
                AND (p_eid IS NULL OR event_id < p_eid)
           THEN named_struct('kind', 't', 'a', event_type,
                             'b', CASE WHEN nxt IS NULL THEN 'end'
                                       ELSE nxt END)
      END,
      CASE WHEN rn = 1
           THEN named_struct('kind', 's', 'a', event_type, 'b', '')
      END)) t AS x
    WHERE x.kind IS NOT NULL
    GROUP BY x.kind, x.a, x.b
    """


def _markov_main_sql(view: str) -> str:
    """The five-scenario removal-effect propagation over the reduced
    spine table (``_markov_reduced_sql`` materialized as ``view``) —
    pure <=245-row algebra, byte-identical math to the oracle text."""
    prop = """
    v{b} AS (
      SELECT v.ch, e.dst AS state,
             CAST(sum(v.v * e.ppm) DIV 1000000 AS BIGINT) AS v
      FROM v{a} v JOIN pch e ON v.ch = e.ch AND v.state = e.src
      GROUP BY v.ch, e.dst
    )"""
    steps = ",".join(prop.format(a=i, b=i + 1) for i in range(6))
    return f"""
    WITH cnt AS (
      SELECT a AS src, b AS dst, n FROM {view} WHERE kind = 't'
    ), p AS (
      SELECT src, dst,
             CAST(n AS BIGINT) * 1000000
               DIV sum(n) OVER (PARTITION BY src) AS ppm
      FROM cnt
    ), chans AS (
      SELECT ch FROM (VALUES ('(full)'), ('view'), ('click'),
                             ('signup'), ('error')) AS t(ch)
    ), pch AS (
      SELECT c.ch, p.src, p.dst, p.ppm
      FROM chans c JOIN p
        ON (c.ch = '(full)' OR (p.src <> c.ch AND p.dst <> c.ch))
      UNION ALL
      SELECT ch, 'purchase', 'purchase', CAST(1000000 AS BIGINT) FROM chans
    ), starts AS (
      SELECT a AS state, n AS n0 FROM {view} WHERE kind = 's'
    ), tot AS (SELECT sum(n0) AS n_sess FROM starts),
    v0 AS (
      SELECT c.ch, s.state, CAST(s.n0 AS BIGINT) * 1000000 AS v
      FROM chans c JOIN starts s ON c.ch = '(full)' OR s.state <> c.ch
    ),{steps},
    final AS (
      SELECT ch, v FROM v6 WHERE state = 'purchase'
    ), fullrow AS (
      SELECT v AS v_full FROM final WHERE ch = '(full)'
    )
    SELECT f.ch AS channel,
           CAST(t.n_sess AS BIGINT) AS n_sessions,
           CAST(f.v DIV t.n_sess AS BIGINT) AS conv_ppm,
           CAST(((fr.v_full - f.v) * 10000) DIV fr.v_full AS BIGINT)
             AS removal_effect_bp
    FROM final f CROSS JOIN tot t CROSS JOIN fullrow fr
    """


@register(
    "k_attribution_markov",
    oracle=_body_markov_attribution().replace(" DIV ", " // "),
)
def k_attribution_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution (Anderl et al.): model each
    (user, day) session as a first-order chain over event types truncated
    at first purchase, then ask, per channel, how much conversion mass
    disappears when that channel's state is DELETED (its mass falls to
    the null sink, no renormalization — the standard removal-effect
    definition that last-touch attribution (``k_attribution_last_touch``)
    cannot answer because it ignores assist paths). Six propagation steps
    unrolled; transition probabilities floor-quantize to integer ppm and
    every propagation is BIGINT multiply + exact integer division, so all
    five scenarios (full + 4 removals) are bit-identical cross-engine.
    Purchase is made explicitly absorbing via a unit self-loop.

    Scale shape (r13): ONE sessionize pass reduces to the tagged
    transition-count + session-start spine (fused via a 2-slot explode;
    the SQL-only form re-ran the events scan + both sessionize windows
    per reference of the inlined ``ordered`` CTE — the fused plan drops
    one full corpus scan + window pair; interleaved A/B under ambient
    load won 4/4 matched reps, mins 2.87 vs 2.80 s), checkpointed at
    <= ~50 rows; the five-scenario propagation runs entirely on that
    spine (≤ 245 rows) — shuffle size independent of N."""
    import uuid as _uuid

    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    view = f"dss_markov_red_{_uuid.uuid4().hex[:12]}"
    spark.sql(_markov_reduced_sql()).localCheckpoint() \
        .createOrReplaceTempView(view)
    try:
        return spark.sql(_markov_main_sql(view))
    finally:
        spark.catalog.dropTempView(view)


@register(
    "k_eval_ece",
    oracle=f"""
    WITH scored AS ({_REG_ORACLES.get("k_quality_logreg", "SELECT 1")}),
    lab AS (
      SELECT least(CAST(floor(s.score_q / 100000.0) AS BIGINT), 9) AS bin,
             s.score_q AS sq,
             CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
      FROM scored s JOIN documents d USING (doc_id)
    ), b AS (
      SELECT bin, count(*) AS n, sum(sq) AS ssq, sum(y) AS sy
      FROM lab GROUP BY bin
    ), t AS (SELECT sum(n) AS n_tot FROM b)
    SELECT CAST((SELECT n_tot FROM t) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_bins,
           CAST(round(sum(CAST(n AS DOUBLE)
                 * abs(CAST(ssq AS DOUBLE) / n / 1000000
                       - CAST(sy AS DOUBLE) / n))
                 / (SELECT n_tot FROM t), 6) + 0.0 AS DOUBLE) AS ece,
           CAST(round(max(abs(CAST(ssq AS DOUBLE) / n / 1000000
                              - CAST(sy AS DOUBLE) / n)), 6) + 0.0
             AS DOUBLE) AS mce
    FROM b
    """,
)
def k_eval_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected calibration error of the quality classifier: the
    bin-size-weighted mean |confidence − accuracy| over 10 prediction
    deciles, plus MCE (the worst bin) — the SCALARS that summarize
    ``k_eval_calibration``'s reliability diagram for a dashboard or a
    regression gate (Guo et al. 2017's metric). Bin sums are exact
    integers (score_q is integer-quantized), each bin's gap is one double
    expression over them, and the weighted sum runs over ten rows — no
    accumulation-order exposure.

    Scale shape: one 10-group map-side aggregate, 1-row output."""
    # One-scan scorer spine; label from the same row (guide §2.4).
    from data_service_spark.queries.training import quality_scored

    lab = quality_scored(
        spark,
        sf_dir,
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    ).select(
        F.least(F.floor(F.col("score_q") / 100000.0).cast("long"), F.lit(9))
        .alias("bin"),
        F.col("score_q").alias("sq"),
        "y",
    )
    b = lab.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("sq").alias("ssq"),
        F.sum("y").alias("sy"),
    )
    gap = F.abs(
        F.col("ssq").cast("double") / F.col("n") / 1000000
        - F.col("sy").cast("double") / F.col("n")
    )
    t = b.agg(F.sum("n").alias("n_tot"))
    return (
        b.agg(
            F.count(F.lit(1)).alias("n_bins"),
            F.sum(F.col("n").cast("double") * gap).alias("wsum"),
            F.max(gap).alias("mce_raw"),
        )
        .crossJoin(F.broadcast(t))
        .select(
            F.col("n_tot").cast("long").alias("n_docs"),
            F.col("n_bins").cast("long"),
            (F.round(F.col("wsum") / F.col("n_tot"), 6) + F.lit(0.0)).alias(
                "ece"
            ),
            (F.round(F.col("mce_raw"), 6) + F.lit(0.0)).alias("mce"),
        )
        .select("n_docs", "n_bins", "ece", "mce")
    )


# --------------------------------------- Bradley-Terry strengths ----


# Nested WITH keeps the sess aggregate SINGLE in the DuckDB oracle (it
# materializes multi-referenced CTEs, so the self-join reads one pass);
# Spark runs this fragment standalone once and checkpoints the result.
_BT_DUEL_SQL = """
      WITH sess AS (
        SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS d,
               event_type, count(*) AS c
        FROM events GROUP BY 1, 2, 3
      )
      SELECT a.event_type AS i, b.event_type AS j,
             sum(CASE WHEN a.c > b.c THEN 1 ELSE 0 END) AS w_ij,
             sum(CASE WHEN a.c < b.c THEN 1 ELSE 0 END) AS w_ji
      FROM sess a JOIN sess b
        ON a.user_id = b.user_id AND a.d = b.d
       AND a.event_type < b.event_type
      GROUP BY 1, 2
"""


def _bt_fit_sql(duel_sql: str) -> str:
    return f"""
    WITH duel AS ({duel_sql}), pairs AS (
      SELECT i, j, w_ij AS w, w_ij + w_ji AS n FROM duel
      UNION ALL
      SELECT j AS i, i AS j, w_ji AS w, w_ij + w_ji AS n FROM duel
    ), wins AS (
      SELECT i, sum(w) AS big_w FROM pairs GROUP BY i
    ), w0 AS (
      SELECT i, CAST(1000000 AS BIGINT) AS s FROM wins
    ), it1 AS (
      SELECT p.i,
             CAST(wn.big_w AS DOUBLE)
             / sum(CAST(p.n AS DOUBLE) / (a.s + b.s)) AS s_raw
      FROM pairs p
      JOIN w0 a ON p.i = a.i
      JOIN w0 b ON p.j = b.i
      JOIN wins wn ON p.i = wn.i
      GROUP BY p.i, wn.big_w
    ), q1 AS (
      -- round(·, 3) BEFORE floor: partial-agg order jitters s_raw by an
      -- ulp, and at sf0.001 one score lands exactly ON a ppm integer
      -- boundary, so bare floor alternated with run order (r11 census).
      -- Rounding at milli-ppm collapses the jitter 500× away from the
      -- floor boundary; shared text keeps both engines identical.
      SELECT i, CAST(floor(round(s_raw * 1000000
                           / max(s_raw) OVER (), 3)) AS BIGINT) AS s
      FROM it1
    ), it2 AS (
      SELECT p.i,
             CAST(wn.big_w AS DOUBLE)
             / sum(CAST(p.n AS DOUBLE) / (a.s + b.s)) AS s_raw
      FROM pairs p
      JOIN q1 a ON p.i = a.i
      JOIN q1 b ON p.j = b.i
      JOIN wins wn ON p.i = wn.i
      GROUP BY p.i, wn.big_w
    )
    SELECT it2.i AS event_type,
           CAST(wn.big_w AS BIGINT) AS total_wins,
           CAST(floor(round(it2.s_raw * 1000000 / max(it2.s_raw) OVER (), 3))
             AS BIGINT) AS bt_strength_ppm
    FROM it2 JOIN wins wn ON it2.i = wn.i
    """


def _body_bradley_terry() -> str:
    return _bt_fit_sql(_BT_DUEL_SQL)


@register("k_bradley_terry", oracle=_body_bradley_terry())
def k_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley–Terry strengths from pairwise contests (two unrolled MM
    iterations, Hunter 2004: wᵢ ← Wᵢ / Σⱼ nᵢⱼ/(wᵢ+wⱼ)) — the model under
    every RLHF reward model and chatbot-arena leaderboard, here fitted to
    "which event type dominates a (user, day) session" duels. Strengths
    floor-quantize to max-normalized ppm between iterations (the
    ``k_graph_hits`` fixed-point determinism pattern), so both engines
    walk an identical integer trajectory; contest counts are exact.
    Each floor is preceded by round(·, 3): the sf0.001 corpus puts one
    score exactly ON a ppm boundary where partial-agg ulp jitter made
    bare floor run-order-dependent (r11 census item) — milli-ppm
    rounding re-centers the grid 500× away from the boundary.

    Scale shape: the duel table is a session-keyed self-join over 5-row
    groups (fan-out 10 pairs/session, map-local); both MM iterations run
    on the 5-item spine with broadcast strength vectors. The Spark side
    localCheckpoints the duel grid (≤ |types|² rows) before the fit —
    the pairs CTE is referenced by wins and both iterations, and Spark's
    per-reference CTE inlining otherwise recomputes the events self-join
    ~6× (measured 2.8 → 1.7 s at sf0.1); the DuckDB oracle keeps the
    single WITH-chain because it materializes multi-referenced CTEs."""
    import uuid

    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    # uuid-suffixed view: two concurrent invocations must not swap each
    # other's checkpoint (the registry-wide convention from q_ctas_insert);
    # spark.sql resolves the view at analysis time, so dropping it after
    # building the fit DataFrame is safe for the returned lazy plan.
    view = f"dss_bt_duel_{uuid.uuid4().hex[:12]}"
    spark.sql(_BT_DUEL_SQL).localCheckpoint().createOrReplaceTempView(view)
    try:
        return spark.sql(_bt_fit_sql(f"SELECT * FROM {view}"))
    finally:
        spark.catalog.dropTempView(view)


def _body_kcore() -> str:
    return """
    WITH e0 AS (
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    dc0 AS (SELECT c, count(*) AS d FROM e0 GROUP BY c),
    ds0 AS (SELECT s, count(*) AS d FROM e0 GROUP BY s),
    e1 AS (
      SELECT e.c, e.s FROM e0 e
      JOIN dc0 ON dc0.c = e.c AND dc0.d >= 3
      JOIN ds0 ON ds0.s = e.s AND ds0.d >= 3
    ),
    dc1 AS (SELECT c, count(*) AS d FROM e1 GROUP BY c),
    ds1 AS (SELECT s, count(*) AS d FROM e1 GROUP BY s),
    e2 AS (
      SELECT e.c, e.s FROM e1 e
      JOIN dc1 ON dc1.c = e.c AND dc1.d >= 3
      JOIN ds1 ON ds1.s = e.s AND ds1.d >= 3
    ),
    dc2 AS (SELECT c, count(*) AS d FROM e2 GROUP BY c),
    ds2 AS (SELECT s, count(*) AS d FROM e2 GROUP BY s),
    e3 AS (
      SELECT e.c, e.s FROM e2 e
      JOIN dc2 ON dc2.c = e.c AND dc2.d >= 3
      JOIN ds2 ON ds2.s = e.s AND ds2.d >= 3
    ),
    d1c AS (SELECT c, count(*) AS d FROM e1 GROUP BY c),
    d1s AS (SELECT s, count(*) AS d FROM e1 GROUP BY s),
    d3c AS (SELECT c, count(*) AS d FROM e3 GROUP BY c),
    d3s AS (SELECT s, count(*) AS d FROM e3 GROUP BY s),
    nodes AS (
      SELECT 'c' AS side, c AS node_id FROM e0 GROUP BY c
      UNION ALL
      SELECT 's' AS side, s AS node_id FROM e0 GROUP BY s
    ),
    present AS (
      SELECT n.side, n.node_id,
             CASE WHEN n.side = 'c' THEN dc0.d ELSE ds0.d END AS deg0,
             CASE WHEN n.side = 'c' THEN coalesce(d1c.d, 0)
                  ELSE coalesce(d1s.d, 0) END AS deg1,
             CASE WHEN n.side = 'c' THEN coalesce(d3c.d, 0)
                  ELSE coalesce(d3s.d, 0) END AS deg3
      FROM nodes n
      LEFT JOIN dc0 ON n.side = 'c' AND dc0.c = n.node_id
      LEFT JOIN ds0 ON n.side = 's' AND ds0.s = n.node_id
      LEFT JOIN d1c ON n.side = 'c' AND d1c.c = n.node_id
      LEFT JOIN d1s ON n.side = 's' AND d1s.s = n.node_id
      LEFT JOIN d3c ON n.side = 'c' AND d3c.c = n.node_id
      LEFT JOIN d3s ON n.side = 's' AND d3s.s = n.node_id
    )
    SELECT side, CAST(node_id AS BIGINT) AS node_id,
           CAST(deg0 AS BIGINT) AS deg0,
           CAST(deg3 AS BIGINT) AS deg_core,
           (deg3 >= 3) AS in_3core,
           CAST(CASE WHEN deg0 < 3 THEN 1
                     WHEN deg1 < 3 THEN 2
                     WHEN deg3 < 3 THEN 3
                     ELSE 0 END AS INT) AS peel_round
    FROM present
    """


@register("k_graph_kcore", oracle=_body_kcore())
def k_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core decomposition of the bipartite customer↔supplier transaction
    graph by iterative peeling (Matula–Beck / Batagelj–Zaveršnik): drop
    every node with degree < 3, recount, repeat — three unrolled rounds,
    the standard dense-substructure filter that separates the engaged
    trading core from one-off edges before any community/embedding step
    (``k_graph_modularity`` scores partitions of the SAME graph;
    ``k_degree_distribution`` is its first-round histogram). Per node:
    initial degree, post-peel degree, core membership, and which round
    (1–3, 0 = survived) removed it — the lineage a graph-cleaning audit
    reports. All quantities are exact integer degrees.

    Scale shape: each peel round is one edge-keyed groupBy + one
    semi-join of the edge list against surviving nodes — the standard
    distributed k-core shape (rounds shrink monotonically; a fixpoint
    loop would checkpoint each round exactly like ``k_dedup_clusters``'
    CC iteration; 3 unrolled rounds keep the plan static and
    oracle-expressible). The Spark side materializes each round's edge
    list with localCheckpoint — WITH-chains are inlined per reference in
    Spark, so the pure-SQL form recomputed the whole peel once per
    degree aggregate (measured 4.5 s; checkpointed rounds ~1.5 s); the
    DuckDB oracle keeps the unrolled CTEs because DuckDB materializes
    multi-referenced CTEs. Measured null result (r09): fusing each round
    into two count-over-window passes LOST the interleaved same-session
    A/B (old 1.24–1.26 s vs window 1.65–1.84 s steady at sf0.1 — the
    window's per-round partition sorts cost more than the tiny degree
    tables' broadcast join-back), joining the r07 degree-checkpoint null
    result; a non-interleaved A/B had shown the opposite, which was
    cold-JVM order bias (see BASELINE.md r09)."""
    from data_service_spark.queries.llm import _cs_pairs

    # The base edge list IS the session-memoized checkpoint the graph
    # family shares; peel rounds checkpoint their shrinking remnants.
    e0 = _cs_pairs(spark, sf_dir)

    def degrees(e: DataFrame) -> tuple[DataFrame, DataFrame]:
        return (
            e.groupBy("c").agg(F.count(F.lit(1)).alias("d")),
            e.groupBy("s").agg(F.count(F.lit(1)).alias("d")),
        )

    def peel(e: DataFrame) -> DataFrame:
        dc, ds = degrees(e)
        return (
            e.join(dc.filter(F.col("d") >= 3).select("c"), "c")
            .join(ds.filter(F.col("d") >= 3).select("s"), "s")
            .select("c", "s")
            .localCheckpoint()
        )

    e1 = peel(e0)
    e2 = peel(e1)
    e3 = peel(e2)
    dc0, ds0 = degrees(e0)
    d1c, d1s = degrees(e1)
    d3c, d3s = degrees(e3)

    def side(tag: str, base: DataFrame, d0: DataFrame, d1: DataFrame,
             d3: DataFrame, key: str) -> DataFrame:
        nodes = base.select(F.col(key).alias("node_id")).distinct()
        return (
            nodes.join(d0.withColumnRenamed(key, "node_id"), "node_id")
            .join(
                d1.withColumnRenamed(key, "node_id")
                .withColumnRenamed("d", "dd1"),
                "node_id", "left",
            )
            .join(
                d3.withColumnRenamed(key, "node_id")
                .withColumnRenamed("d", "dd3"),
                "node_id", "left",
            )
            .select(
                F.lit(tag).alias("side"),
                F.col("node_id").cast("long"),
                F.col("d").alias("deg0"),
                F.coalesce(F.col("dd1"), F.lit(0)).alias("deg1"),
                F.coalesce(F.col("dd3"), F.lit(0)).alias("deg3"),
            )
        )

    present = side("c", e0, dc0, d1c, d3c, "c").unionByName(
        side("s", e0, ds0, d1s, d3s, "s")
    )
    return present.select(
        "side",
        "node_id",
        F.col("deg0").cast("long"),
        F.col("deg3").cast("long").alias("deg_core"),
        (F.col("deg3") >= 3).alias("in_3core"),
        F.when(F.col("deg0") < 3, 1)
        .when(F.col("deg1") < 3, 2)
        .when(F.col("deg3") < 3, 3)
        .otherwise(0)
        .cast("int")
        .alias("peel_round"),
    )


def _body_offpolicy_ips() -> str:
    return """
    WITH pos AS (
      SELECT event_type,
             row_number() OVER (
               PARTITION BY user_id, CAST(date_trunc('day', ts) AS DATE)
               ORDER BY ts, event_id) AS position
      FROM events
    ), logged AS (SELECT * FROM pos WHERE position <= 10),
    per_pos AS (
      SELECT position, count(*) AS n_p,
             sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c_p
      FROM logged GROUP BY position
    ), base AS (SELECT n_p AS n1, c_p AS c1 FROM per_pos WHERE position = 1),
    w AS (
      SELECT p.position, p.n_p, p.c_p,
             CAST(floor(CAST(p.n_p AS DOUBLE) * b.c1 * 1000000
                        / (CAST(p.c_p AS DOUBLE) * b.n1)) AS BIGINT) AS w_q
      FROM per_pos p CROSS JOIN base b
      WHERE p.c_p > 0
    ), agg AS (
      SELECT sum(l_cnt) AS n_logged,
             sum(clicks * w_q) AS num_q,
             sum(l_cnt * w_q) AS den_q,
             sum(l_cnt * w_q * w_q) AS den_q2
      FROM (
        SELECT w.position, w.n_p AS l_cnt, w.c_p AS clicks, w.w_q
        FROM w
      ) t
    )
    SELECT CAST(n_logged AS BIGINT) AS n_logged,
           CAST(floor(CAST(num_q AS DOUBLE) / n_logged) AS BIGINT)
             AS ips_value_ppm,
           CAST(floor(CAST(num_q AS DOUBLE) * 1000000 / den_q) AS BIGINT)
             AS snips_value_ppm,
           CAST(floor(CAST(den_q AS DOUBLE) * den_q / den_q2 / n_logged
                      * 1000000) AS BIGINT) AS ess_ppm
    FROM agg
    """


@register("k_offpolicy_ips", oracle=_body_offpolicy_ips())
def k_offpolicy_ips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-propensity off-policy evaluation of the click log: the
    examination propensity of each position is the ``k_position_bias``
    curve itself (CTR relative to position 1), and the debiased click
    value is IPS = (1/N)·Σ click·1/p(pos) with its self-normalized twin
    SNIPS = Σ click·w / Σ w — what the click-through metric WOULD read if
    position bias were divided out, the standard counterfactual readout
    (Joachims et al. 2017) before training a ranker on logged clicks.
    Ships the ESS ratio (Σw)²/(N·Σw²) — the fraction of the log that
    effectively survives reweighting; low ESS says the estimate is
    variance-dominated and the log can't answer the question.

    Positions with zero logged clicks have undefined propensity and are
    excluded from the reweighted log (the standard support restriction;
    clipping is the alternative). Propensity weights floor-quantize to
    exact 1e-6 integers per
    POSITION (10 of them), so all row-level sums are BIGINT on the
    10-row spine and the estimators are two final divisions. Scale
    shape: one (user, day) window + a 10-row reduce — identical cost to
    the position-bias curve it composes."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_body_offpolicy_ips())


def _body_ols2() -> str:
    return """
    WITH f AS (
      SELECT CAST(l_quantity AS BIGINT) AS x1,
             CAST(round(l_discount * 100) AS BIGINT) AS x2,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem
    ), s AS (
      SELECT count(*) AS n,
             sum(x1) AS sx1, sum(x2) AS sx2, sum(y) AS sy,
             sum(x1 * x1) AS sx11, sum(x1 * x2) AS sx12,
             sum(x2 * x2) AS sx22,
             sum(x1 * y) AS sx1y, sum(x2 * y) AS sx2y
      FROM f
    ), cov AS (
      SELECT n,
             CAST(n AS DOUBLE) * sx11 - CAST(sx1 AS DOUBLE) * sx1 AS s11,
             CAST(n AS DOUBLE) * sx12 - CAST(sx1 AS DOUBLE) * sx2 AS s12,
             CAST(n AS DOUBLE) * sx22 - CAST(sx2 AS DOUBLE) * sx2 AS s22,
             CAST(n AS DOUBLE) * sx1y - CAST(sx1 AS DOUBLE) * sy AS s1y,
             CAST(n AS DOUBLE) * sx2y - CAST(sx2 AS DOUBLE) * sy AS s2y,
             CAST(sx1 AS DOUBLE) / n AS m1, CAST(sx2 AS DOUBLE) / n AS m2,
             CAST(sy AS DOUBLE) / n AS my
      FROM s
    ), beta AS (
      SELECT n,
             (s22 * s1y - s12 * s2y) / (s11 * s22 - s12 * s12) AS b1,
             (s11 * s2y - s12 * s1y) / (s11 * s22 - s12 * s12) AS b2,
             m1, m2, my
      FROM cov
    )
    SELECT CAST(n AS BIGINT) AS n_rows,
           CAST(round(b1, 4) + 0.0 AS DOUBLE) AS b_qty_cents,
           CAST(round(b2, 4) + 0.0 AS DOUBLE) AS b_disc_cents,
           CAST(round(my - b1 * m1 - b2 * m2, 2) + 0.0 AS DOUBLE)
             AS intercept_cents
    FROM beta
    """


@register("k_ols_multifeature", oracle=_body_ols2())
def k_ols_multifeature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature OLS by closed-form normal equations — extendedprice
    (cents) on quantity and discount (cents): b = S⁻¹·Sxy with the 2×2
    centered cross-moment matrix built from EXACT BIGINT power sums
    (quantity, discount-cents and price-cents are all integers), then
    the intercept from the means. The multivariate step beyond
    ``d_agg_regression``'s single-feature slope — and the shape every
    distributed linear solver reduces to: one map-side sufficient-
    statistics reduce (9 sums, any dimensionality d is a d²-sized
    spine), a driver-sized solve. (In this synthetic corpus price is
    nearly independent of quantity/discount — corr ≈ 0.003 — so the
    coefficients are small relative to the intercept; the test pins them
    against a numpy lstsq on the same rows rather than a sign claim.)

    Determinism: both engines evaluate the SAME expression tree over the
    same exact integers; IEEE double ops are correctly rounded, so the
    results are bit-identical before the final 4dp/2dp rounds.

    Integer bound (the isotropy overflow class): the largest BIGINT
    cross-moment, Σ x₁·y ≤ n·5×10⁸ at this schema's ranges, stays
    inside int64 to ~1.8×10¹⁰ lineitem rows (≈ TPC-H SF3000); past
    that, promote the two price cross-moments to DOUBLE in the partial
    aggregate (the d²-spine merge and solve are unchanged — the exact
    path needs only the test-scale corpora)."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_body_ols2())


def _body_user_entropy() -> str:
    return """
    WITH per AS (
      SELECT user_id, event_type, count(*) AS c
      FROM events GROUP BY user_id, event_type
    ), terms AS (
      SELECT user_id, c,
             CAST(floor(c * ln(CAST(c AS DOUBLE)) * 1000000000) AS BIGINT)
               AS t_q
      FROM per
    ), u AS (
      SELECT user_id, sum(c) AS n, count(*) AS n_types, sum(t_q) AS st
      FROM terms GROUP BY user_id
    )
    SELECT user_id, CAST(n AS BIGINT) AS n_events,
           CAST(n_types AS BIGINT) AS n_types,
           CAST(floor((CAST(floor(ln(CAST(n AS DOUBLE)) * 1000000000)
                            AS BIGINT) * n - st)
                      / (CAST(n AS DOUBLE) * 1000)) AS BIGINT)
             AS entropy_micro_nats
    FROM u
    """


@register("k_user_entropy", oracle=_body_user_entropy())
def k_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral entropy over event types: H = ln n − (Σc·ln c)/n
    in exact micro-nats — the engagement-diversity feature that separates
    single-action bots (H=0) from organic multi-surface users (H→ln k),
    used both as a bot-filter signal and as a stratification feature for
    sampling (a corpus of zero-entropy sessions trains a worse behavior
    model at any size). ``k_text_entropy`` is the content-side twin; this
    is the actor side.

    Each c·ln c term floor-quantizes to an exact 1e-9 integer BEFORE the
    per-user BIGINT sum (order-proof cross-engine; the r04 moment
    convention), as does ln n; the final H is one integer expression.
    Scale shape: one (user, type) reduce then a user-spine reduce —
    map-side partials all the way, no windows."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_body_user_entropy())


def _body_recall_curve() -> str:
    return """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
               FROM embeddings),
    q AS (SELECT vec_id AS qid, v AS qv, label AS ql FROM e
          WHERE vec_id < 20),
    rel AS (
      SELECT q.qid, count(*) AS n_rel
      FROM q JOIN e ON e.label = q.ql AND e.vec_id <> q.qid
      GROUP BY q.qid
    ),
    ranked AS (
      SELECT q.qid, q.ql, e.label,
             row_number() OVER (PARTITION BY q.qid
               ORDER BY round(list_inner_product(e.v, q.qv), 6) DESC,
                        e.vec_id) AS rn
      FROM e CROSS JOIN q WHERE e.vec_id <> q.qid
    ),
    ks AS (SELECT unnest([1, 5, 10]) AS k),
    hits AS (
      SELECT ks.k, r.qid,
             sum(CASE WHEN r.label = r.ql THEN 1 ELSE 0 END) AS n_hit
      FROM ranked r CROSS JOIN ks
      WHERE r.rn <= ks.k
      GROUP BY ks.k, r.qid
    ),
    perq AS (
      SELECT h.k, h.qid, h.n_hit, rel.n_rel,
             CAST(floor(h.n_hit * 1000000 / least(rel.n_rel, h.k))
               AS BIGINT) AS recall_q_ppm
      FROM hits h JOIN rel USING (qid)
    )
    SELECT CAST(k AS INT) AS k,
           CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(n_hit) AS BIGINT) AS n_hits,
           CAST(floor(sum(n_hit) * 1000000
                      / sum(least(n_rel, k))) AS BIGINT)
             AS micro_recall_ppm,
           CAST(floor(sum(recall_q_ppm) / count(*)) AS BIGINT)
             AS macro_recall_ppm
    FROM perq GROUP BY k
    """


@register("k_eval_recall_curve", oracle=_body_recall_curve())
def k_eval_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval recall@k curve (k ∈ {1,5,10}) for the 20 label-relevance
    probes the MRR/MAP keys use, in both micro (pooled hits over pooled
    relevant) and macro (per-query then averaged) form — the sweep that
    turns one retrieval number into an operating curve, R-precision
    style: the denominator is min(n_rel, k), so recall@1 isn't unfairly
    divided by a 50-item relevant set. Completes the labeled-retrieval
    eval panel (``k_eval_mrr_labels`` first-hit rank,
    ``k_eval_map_labels`` full-precision mass, this the coverage curve).

    All counts are integers; both recall forms are floor-ppm exact.
    Scale shape: the ranking comes from the session-memoized
    ``_exact_ranked`` (one probe-broadcast corpus scan per session);
    the per-(k, query) reduce runs on a 60-row spine."""
    from data_service_spark.queries.llm import (
        _EXACT_RANKED_DEPTH,
        _emb,
        _exact_ranked,
    )

    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("label").alias("ql"),
    )
    rel = (
        q.join(
            emb.select("vec_id", "label"),
            (F.col("label") == F.col("ql")) & (F.col("vec_id") != F.col("qid")),
        )
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n_rel"))
    )
    # Slice of the session-memoized exact ranking (one corpus×probes
    # product shared by the whole retrieval-evaluation panel).
    ranked = _exact_ranked(spark, sf_dir).select(
        "qid", "ql", "label", "vec_id", "rn"
    )
    # The k grid is the metric's definition (recall@1/5/10); the assert
    # pins the deepest cutoff inside the memoized ranking head.
    ks = spark.createDataFrame([(1,), (5,), (10,)], "k int")
    assert 10 <= _EXACT_RANKED_DEPTH
    hits = (
        ranked.crossJoin(F.broadcast(ks))
        .filter(F.col("rn") <= F.col("k"))
        .groupBy("k", "qid")
        .agg(
            F.sum(
                F.when(F.col("label") == F.col("ql"), 1).otherwise(0)
            ).alias("n_hit")
        )
    )
    perq = hits.join(rel, "qid").select(
        "k", "qid", "n_hit", "n_rel",
        F.floor(
            F.col("n_hit") * 1000000 / F.least("n_rel", "k")
        ).cast("long").alias("recall_q_ppm"),
    )
    return perq.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.sum("n_hit").cast("long").alias("n_hits"),
        F.floor(
            F.sum("n_hit") * 1000000 / F.sum(F.least("n_rel", "k"))
        ).cast("long").alias("micro_recall_ppm"),
        F.floor(F.sum("recall_q_ppm") / F.count(F.lit(1)))
        .cast("long")
        .alias("macro_recall_ppm"),
    ).select(
        F.col("k").cast("int"), "n_queries", "n_hits",
        "micro_recall_ppm", "macro_recall_ppm",
    )


# RBP geometric weights as EXACT 1e-9 floor literals: the real value
# 0.2 * 0.8^(rn-1) * 1e9 = 2 * 8^(rn-1) * 10^(9-rn) is an exact integer
# for rn <= 9, so a pow()-computed double sits ulps AROUND the integer
# and floor() flips per libm (the r12 census one-ppm line). Ten literal
# mathematical floors have zero engine surface.
_RBP_W_CASE = """CASE rn WHEN 1 THEN 200000000 WHEN 2 THEN 160000000
                 WHEN 3 THEN 128000000 WHEN 4 THEN 102400000
                 WHEN 5 THEN 81920000 WHEN 6 THEN 65536000
                 WHEN 7 THEN 52428800 WHEN 8 THEN 41943040
                 WHEN 9 THEN 33554432 ELSE 26843545 END"""


def _body_rank_rbp() -> str:
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
               FROM embeddings),
    q AS (SELECT vec_id AS qid, v AS qv, label AS ql FROM e
          WHERE vec_id < 20),
    ranked AS (
      SELECT q.qid,
             CASE WHEN e.label = q.ql THEN 1 ELSE 0 END AS rel,
             row_number() OVER (PARTITION BY q.qid
               ORDER BY round(list_inner_product(e.v, q.qv), 6) DESC,
                        e.vec_id) AS rn
      FROM e CROSS JOIN q WHERE e.vec_id <> q.qid
    ),
    weighted AS (
      SELECT qid,
             sum(rel * CAST({_RBP_W_CASE} AS BIGINT)) AS rbp_q
      FROM ranked WHERE rn <= 10 GROUP BY qid
    )
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           CAST(floor(sum(rbp_q) / (count(*) * 1000.0)) AS BIGINT)
             AS rbp_micro,
           -- explicit floor: bare CAST(double AS BIGINT) ROUNDS in
           -- DuckDB but TRUNCATES in Spark (r13 census fix)
           CAST(floor(min(rbp_q) / 1000.0) AS BIGINT) AS rbp_min_micro,
           CAST(floor(max(rbp_q) / 1000.0) AS BIGINT) AS rbp_max_micro
    FROM weighted
    """


@register("k_rank_rbp", oracle=_body_rank_rbp())
def k_rank_rbp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased precision (Moffat & Zobel 2008) at persistence p=0.8
    over the 20 label-relevance probes: RBP = (1−p)·Σ p^(i−1)·relᵢ —
    the retrieval metric with an explicit USER MODEL (a reader who
    continues to the next result with probability p), which makes it
    top-weighted like MRR but mass-preserving like MAP and, unlike
    NDCG, comparable across queries with different relevant-set sizes.
    Truncation at rank 10 makes the reported value a LOWER bound with
    residual p¹⁰ ≈ 0.107 — the uncertainty RBP is designed to expose.
    Completes the rank-metric panel (MRR/MAP/NDCG/RBO).

    Each geometric weight floor-quantizes to an exact 1e-9 integer
    before the per-query BIGINT sum, so the mean/min/max are exact
    integer micro-units; the ten weights are spelled as LITERAL
    mathematical floors (``_RBP_W_CASE``) because 0.2*0.8^(rn-1)*1e9
    is itself an exact integer for rn<=9 and a pow()-computed double
    floor flips per libm ulp (r13 census fix). Scale shape: a rank<=10
    slice of the session-memoized ``_exact_ranked`` ranking, then a
    20-row spine reduce."""
    from data_service_spark.queries.llm import (
        _EXACT_RANKED_DEPTH,
        _exact_ranked,
    )

    # Slice of the session-memoized exact ranking (one corpus×probes
    # product shared by the whole retrieval-evaluation panel).
    # Evaluation depth 10 is RBP's definition here; pinned within the
    # memoized ranking head.
    assert 10 <= _EXACT_RANKED_DEPTH
    ranked = (
        _exact_ranked(spark, sf_dir)
        .filter(F.col("rn") <= 10)
        .select(
            "qid", "vec_id",
            F.when(F.col("label") == F.col("ql"), 1).otherwise(0).alias("rel"),
            "rn",
        )
    )
    weighted = ranked.groupBy("qid").agg(
        F.sum(
            F.col("rel") * F.expr(_RBP_W_CASE).cast("long")
        ).alias("rbp_q")
    )
    return weighted.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.floor(F.sum("rbp_q") / (F.count(F.lit(1)) * 1000.0))
        .cast("long")
        .alias("rbp_micro"),
        F.floor(F.min("rbp_q") / 1000.0).cast("long").alias("rbp_min_micro"),
        F.floor(F.max("rbp_q") / 1000.0).cast("long").alias("rbp_max_micro"),
    )


def _body_knee(threshold_spine: str) -> str:
    return f"""
    WITH scored AS ({{LOGREG}}),
    tot AS (SELECT count(*) AS n FROM scored),
    thr AS ({threshold_spine}),
    curve AS (
      SELECT t.i,
             (SELECT count(*) FROM scored s WHERE s.score_q >= t.i * 50000)
               AS kept
      FROM thr t
    ),
    sc AS (
      SELECT c.i, c.kept, t.n,
             20 * c.kept - t.n * c.i AS knee_score
      FROM curve c CROSS JOIN tot t
    ), mx AS (SELECT max(knee_score) AS m FROM sc)
    SELECT CAST(sc.i AS INT) AS step,
           CAST(sc.i * 50000 AS BIGINT) AS thr_q,
           CAST(sc.kept AS BIGINT) AS docs_kept,
           CAST(floor(sc.kept * 1000000 / sc.n) AS BIGINT) AS keep_ppm,
           CAST(sc.knee_score AS BIGINT) AS knee_score,
           (sc.knee_score = mx.m) AS is_knee
    FROM sc CROSS JOIN mx
    """


@register(
    "k_threshold_knee",
    oracle=_body_knee("SELECT i FROM range(0, 21) t(i)").replace(
        "{LOGREG}", _REG_ORACLES["k_quality_logreg"]
    ),
)
def k_threshold_knee(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneedle-style knee detection (Satopaa et al. 2011) on the quality-
    gate retention curve: sweep the logreg score threshold over 21 even
    steps, normalize both axes, and the knee is the point of maximum
    vertical distance ABOVE the diagonal — computed as the exact integer
    cross-product 20·kept_i − n·i (x-normalization ×20, y ×n), so the
    argmax needs no floats at all. The knee is the principled default
    operating point — keep the docs above the curve's bend — instead of
    the hand-picked grid ``k_threshold_sweep`` reports; the
    Youden/Otsu/top-p keys pick thresholds for OTHER objectives
    (label separation / bimodality / probability mass), this one for
    retention-curve curvature when no labels exist.

    Scale shape: the score column comes from the registered zero-shuffle
    logreg projection; the 21-point curve is a threshold-spine
    conditional count (one pass via the spine join), everything after is
    21-row arithmetic."""
    load(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    from data_service_spark.queries.training import k_quality_logreg

    k_quality_logreg(spark, sf_dir).select("doc_id", "score_q")\
        .createOrReplaceTempView("dss_knee_scored")
    # r14 (census): the shared body's correlated per-threshold count
    # decorrelates in Spark to a 21-way BroadcastNestedLoopJoin fan-out
    # over the corpus, duplicated once more for the argmax reference
    # (8 scans / 5 BNLJ in plans/r14/k_threshold_knee_before.txt) — a
    # 2x21 corpus-pass shape at scale. One histogram pass replaces it:
    # kept(i) = Σ cnt over buckets b >= i where b = least(20,
    # floor(score_q / 50000)) (floor(x) >= i ⟺ x >= 50000·i for integer
    # i — exact), n = Σ all cnt (sub-0 and NULL buckets keep their rows
    # for n but never enter kept, exactly as score_q >= i·50000 did).
    # Everything after the single corpus aggregate is 21-row arithmetic.
    # DuckDB keeps the correlated text — the oracle is not the hot path.
    body = """
    WITH hist AS (
      SELECT least(20, floor(score_q / 50000)) AS b, count(*) AS cnt
      FROM dss_knee_scored GROUP BY 1
    ),
    tot AS (SELECT sum(cnt) AS n FROM hist),
    thr AS (SELECT explode(sequence(0, 20)) AS i),
    curve AS (
      SELECT t.i,
             coalesce(sum(CASE WHEN h.b >= t.i THEN h.cnt END), 0) AS kept
      FROM thr t LEFT JOIN hist h ON h.b >= t.i
      GROUP BY t.i
    ),
    sc AS (
      SELECT c.i, c.kept, t.n,
             20 * c.kept - t.n * c.i AS knee_score
      FROM curve c CROSS JOIN tot t
    ), mx AS (SELECT max(knee_score) AS m FROM sc)
    SELECT CAST(sc.i AS INT) AS step,
           CAST(sc.i * 50000 AS BIGINT) AS thr_q,
           CAST(sc.kept AS BIGINT) AS docs_kept,
           CAST(floor(sc.kept * 1000000 / sc.n) AS BIGINT) AS keep_ppm,
           CAST(sc.knee_score AS BIGINT) AS knee_score,
           (sc.knee_score = mx.m) AS is_knee
    FROM sc CROSS JOIN mx
    """
    return spark.sql(body)


def _shapley_rates_sql() -> str:
    """The corpus-sized leg: one (user) reduce to touch sets, folded to
    the 8-row coalition-rate spine. Split out so the Spark path can pin
    it once — the single WITH-chain oracle references ``rates`` four
    times (two coalition joins + two scalar subqueries), which Spark
    inlines into 16 parquet scans of events (r13 before-plan)."""
    return """
    WITH fp AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS pts
      FROM events GROUP BY user_id
    ), tc AS (
      SELECT e.user_id,
             max(CASE WHEN e.event_type = 'view'
                      AND (fp.pts IS NULL OR e.ts < fp.pts)
                 THEN 1 ELSE 0 END) AS has_v,
             max(CASE WHEN e.event_type = 'click'
                      AND (fp.pts IS NULL OR e.ts < fp.pts)
                 THEN 1 ELSE 0 END) AS has_c,
             max(CASE WHEN e.event_type = 'signup'
                      AND (fp.pts IS NULL OR e.ts < fp.pts)
                 THEN 1 ELSE 0 END) AS has_s,
             max(CASE WHEN fp.pts IS NOT NULL THEN 1 ELSE 0 END) AS conv
      FROM events e JOIN fp ON fp.user_id = e.user_id
      GROUP BY e.user_id
    ), subsets AS (
      SELECT has_v + 2 * has_c + 4 * has_s AS m,
             count(*) AS n_u, sum(conv) AS n_conv
      FROM tc GROUP BY 1
    ), grid AS (
      SELECT m FROM (VALUES (0), (1), (2), (3), (4), (5), (6), (7)) g(m)
    )
    SELECT g.m, coalesce(s.n_u, 0) AS n_u,
           coalesce(s.n_conv, 0) AS n_conv,
           CASE WHEN coalesce(s.n_u, 0) = 0 THEN 0.0
                ELSE CAST(s.n_conv AS DOUBLE) / s.n_u END AS v
    FROM grid g LEFT JOIN subsets s ON s.m = g.m
    """


def _shapley_final_sql(rates_src: str) -> str:
    """The 12-term weighted sum + single-coalition report columns over
    the (8-row) rates spine."""
    pop = ("((m % 2) + (CAST(floor(m / 2) AS INT) % 2)"
           " + (CAST(floor(m / 4) AS INT) % 2))")
    return f"""
    WITH rates AS ({rates_src}),
    channels AS (
      SELECT * FROM (VALUES ('view', 1), ('click', 2), ('signup', 4))
        c(channel, bit)
    ), terms AS (
      SELECT c.channel,
             sum((CASE {pop.replace('m', 'r0.m')}
                    WHEN 0 THEN 2 WHEN 1 THEN 1 WHEN 2 THEN 2 END)
                 * (r1.v - r0.v)) / 6 AS phi
      FROM channels c
      JOIN rates r0 ON (CAST(floor(r0.m / c.bit) AS INT) % 2) = 0
      JOIN rates r1 ON r1.m = r0.m + c.bit
      GROUP BY c.channel
    )
    SELECT t.channel,
           CAST(floor(t.phi * 1000000) AS BIGINT) AS phi_micro,
           (SELECT CAST(r.n_u AS BIGINT) FROM rates r
            WHERE r.m = c2.bit) AS n_exactly_single,
           (SELECT CAST(floor(r.v * 1000000) AS BIGINT) FROM rates r
            WHERE r.m = c2.bit) AS v_single_ppm
    FROM terms t JOIN channels c2 ON c2.channel = t.channel
    """


def _body_shapley() -> str:
    return _shapley_final_sql(_shapley_rates_sql())


@register("k_attribution_shapley", oracle=_body_shapley())
def k_attribution_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Shapley-value attribution over the three pre-purchase
    touch channels (view/click/signup): the characteristic function is
    the conversion rate of users whose touch SET is exactly S (the 8
    coalitions), and φ_channel = Σ_S |S|!(2−|S|)!/3! · [v(S∪i) − v(S)]
    with the exact weights {2,1,2}/6 — the fair-division completion of
    the attribution trio (``k_attribution_last_touch`` is positional,
    ``k_attribution_markov`` is removal-effect; Shapley is the
    axiomatic one every marketing-mix review asks for, exact here
    because 3 channels ⇒ 8 coalitions, no sampling). Undefined
    coalitions (no users) carry v=0, stated in the contract.

    All coalition counts are integers; rates and the 12-term weighted
    sum are identical expression trees both engines floor-quantize at
    1e-6. Scale shape: one (user) reduce to touch sets, an 8-row
    coalition spine, 12-term arithmetic — corpus touched once. The
    Spark side pins the 8-row rates spine (localCheckpoint + view, the
    k_bradley_terry pattern): the single WITH-chain references rates
    four times (two coalition joins + two scalar subqueries), which
    Spark's per-reference CTE inlining blew up into 16 parquet scans of
    events (r13 before-plan); the DuckDB oracle keeps the flat chain
    because it materializes multi-referenced CTEs."""
    import uuid

    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    view = f"dss_shapley_rates_{uuid.uuid4().hex[:12]}"
    spark.sql(_shapley_rates_sql()).localCheckpoint() \
        .createOrReplaceTempView(view)
    try:
        return spark.sql(_shapley_final_sql(f"SELECT * FROM {view}"))
    finally:
        spark.catalog.dropTempView(view)


def _ranker_delta_rr_sql(dot_full: str, dot_trunc: str,
                         arr_cast: str) -> str:
    """The corpus-sized leg of the ranker comparison: per-query paired
    reciprocal ranks (20 rows). Split out so the Spark path can pin it
    once — the single WITH-chain oracle references ``rr`` three times
    and ``ordered`` four, which Spark inlines into seven corpus
    re-scans (24 parquet scans in the r13 before-plan)."""
    return f"""
    WITH e AS (SELECT vec_id, {arr_cast} AS v, label
               FROM embeddings),
    q AS (SELECT vec_id AS qid, v AS qv, label AS ql,
                 row_number() OVER (ORDER BY vec_id) - 1 AS qidx
          FROM e WHERE vec_id < 20),
    ranked AS (
      SELECT q.qid, q.ql, q.qidx, e.label,
             row_number() OVER (PARTITION BY q.qid
               ORDER BY round({dot_full}, 6) DESC,
                        e.vec_id) AS rn_full,
             row_number() OVER (PARTITION BY q.qid
               ORDER BY round({dot_trunc}, 6)
                        DESC, e.vec_id) AS rn_trunc
      FROM e CROSS JOIN q WHERE e.vec_id <> q.qid
    )
    SELECT qid, max(qidx) AS qidx,
             coalesce(CAST(floor(1000000.0 / min(CASE WHEN label = ql
                            AND rn_full <= 10 THEN rn_full END)) AS BIGINT),
                      0) AS rr_a,
             coalesce(CAST(floor(1000000.0 / min(CASE WHEN label = ql
                            AND rn_trunc <= 10 THEN rn_trunc END)) AS BIGINT),
                      0) AS rr_b
      FROM ranked GROUP BY qid
    """


def _ranker_delta_boot_sql(hash_to_long: str, seq_fn: str, rr: str) -> str:
    """The 200×20 bootstrap replicate means over the (tiny) rr table."""
    h = hash_to_long.format(
        h="'boot:' || CAST(b.b AS STRING) || ':' || CAST(i.i AS STRING)"
    )
    return f"""
    WITH draws AS (
      SELECT b.b, {h} % 20 AS pick
      FROM (SELECT {seq_fn.format(lo=0, hi=199)} AS b) b
      CROSS JOIN (SELECT {seq_fn.format(lo=0, hi=19)} AS i) i
    )
    SELECT d.b,
             CAST(floor(CAST(sum(r.rr_a - r.rr_b) AS DOUBLE) / count(*))
               AS BIGINT) AS delta_b
      FROM draws d JOIN {rr} r ON r.qidx = d.pick
      GROUP BY d.b
    """


def _ranker_delta_final_sql(rr: str, boot: str) -> str:
    """Order-statistic CI + observed delta from the two pinned spines."""
    return f"""
    WITH obs AS (
      SELECT CAST(floor(CAST(sum(rr_a - rr_b) AS DOUBLE) / count(*))
             AS BIGINT) AS delta_obs
      FROM {rr}
    ),
    ordered AS (
      SELECT delta_b, row_number() OVER (ORDER BY delta_b, b) AS r
      FROM {boot}
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM {rr}) AS n_queries,
           (SELECT delta_obs FROM obs) AS delta_mrr_micro,
           (SELECT delta_b FROM ordered WHERE r = 5) AS ci_lo_micro,
           (SELECT delta_b FROM ordered WHERE r = 195) AS ci_hi_micro,
           ((SELECT delta_b FROM ordered WHERE r = 5) > 0
            OR (SELECT delta_b FROM ordered WHERE r = 195) < 0)
             AS significant
    """


def _body_ranker_delta(hash_to_long: str, seq_fn: str,
                       dot_full: str, dot_trunc: str,
                       arr_cast: str = "CAST(embedding AS DOUBLE[])") -> str:
    """Single WITH-chain form (the DuckDB oracle keeps it: DuckDB
    materializes multi-referenced CTEs, so the chain costs one corpus
    pass there). The expressions are kept textually identical to the
    split fragments above — edit both together."""
    h = hash_to_long.format(
        h="'boot:' || CAST(b.b AS STRING) || ':' || CAST(i.i AS STRING)"
    )
    return f"""
    WITH e AS (SELECT vec_id, {arr_cast} AS v, label
               FROM embeddings),
    q AS (SELECT vec_id AS qid, v AS qv, label AS ql,
                 row_number() OVER (ORDER BY vec_id) - 1 AS qidx
          FROM e WHERE vec_id < 20),
    ranked AS (
      SELECT q.qid, q.ql, q.qidx, e.label,
             row_number() OVER (PARTITION BY q.qid
               ORDER BY round({dot_full}, 6) DESC,
                        e.vec_id) AS rn_full,
             row_number() OVER (PARTITION BY q.qid
               ORDER BY round({dot_trunc}, 6)
                        DESC, e.vec_id) AS rn_trunc
      FROM e CROSS JOIN q WHERE e.vec_id <> q.qid
    ),
    rr AS (
      SELECT qid, max(qidx) AS qidx,
             coalesce(CAST(floor(1000000.0 / min(CASE WHEN label = ql
                            AND rn_full <= 10 THEN rn_full END)) AS BIGINT),
                      0) AS rr_a,
             coalesce(CAST(floor(1000000.0 / min(CASE WHEN label = ql
                            AND rn_trunc <= 10 THEN rn_trunc END)) AS BIGINT),
                      0) AS rr_b
      FROM ranked GROUP BY qid
    ),
    obs AS (
      SELECT CAST(floor(CAST(sum(rr_a - rr_b) AS DOUBLE) / count(*))
             AS BIGINT) AS delta_obs
      FROM rr
    ),
    draws AS (
      SELECT b.b, {h} % 20 AS pick
      FROM (SELECT {seq_fn.format(lo=0, hi=199)} AS b) b
      CROSS JOIN (SELECT {seq_fn.format(lo=0, hi=19)} AS i) i
    ),
    boot AS (
      SELECT d.b,
             CAST(floor(CAST(sum(r.rr_a - r.rr_b) AS DOUBLE) / count(*))
               AS BIGINT) AS delta_b
      FROM draws d JOIN rr r ON r.qidx = d.pick
      GROUP BY d.b
    ),
    ordered AS (
      SELECT delta_b, row_number() OVER (ORDER BY delta_b, b) AS r
      FROM boot
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM rr) AS n_queries,
           (SELECT delta_obs FROM obs) AS delta_mrr_micro,
           (SELECT delta_b FROM ordered WHERE r = 5) AS ci_lo_micro,
           (SELECT delta_b FROM ordered WHERE r = 195) AS ci_hi_micro,
           ((SELECT delta_b FROM ordered WHERE r = 5) > 0
            OR (SELECT delta_b FROM ordered WHERE r = 195) < 0)
             AS significant
    """


@register(
    "k_eval_ranker_delta",
    oracle=_body_ranker_delta(
        "('0x' || substr(md5({h}), 1, 8))::BIGINT",
        "unnest(generate_series({lo}, {hi}))",
        "list_inner_product(e.v, q.qv)",
        "list_inner_product(e.v[1:16], q.qv[1:16])",
    ),
)
def k_eval_ranker_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired-bootstrap significance for a ranker comparison — full-dim
    cosine retrieval (A) vs 16-dim Matryoshka-truncated retrieval (B),
    scored by per-query reciprocal rank@10 under label relevance:
    ΔMRR = mean(rrᴬ − rrᴮ) with a B=200 deterministic-md5 paired
    bootstrap over the 20 queries, 95% CI from the 5th/195th order
    statistics, and the significance call (CI excludes 0) — the test
    every "ranker B is cheaper and just as good" claim needs before the
    4× memory cut ships (``k_sim_matryoshka`` measures the rank
    agreement; this key decides whether the quality delta is real or
    query noise). Per-query reciprocal ranks are exact floor-micro
    integers from the set {1e6/k}, so replicate means are integer sums
    with one final division, and the order-statistic CI selects actual
    replicate values — cross-engine exact end to end.

    Scale shape: the probe broadcast + one corpus stream for BOTH
    rankings (two windows over the same scored join); the bootstrap is
    a 200×20 spine join — never corpus-sized. The Spark side pins the
    20-row rr table and the 200-row replicate table with localCheckpoint
    (r13: the single-chain form re-ran the corpus ranking per CTE
    reference — 7 references, 24 parquet scans, see
    plans/r13/k_eval_ranker_delta_before.txt); the DuckDB oracle keeps
    the one WITH-chain because DuckDB materializes shared CTEs."""
    import uuid

    load(spark, sf_dir, "embeddings").createOrReplaceTempView("embeddings")

    def spark_dot(a: str, b: str) -> str:
        return (f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D,"
                " (acc, x) -> acc + x)")

    sfx = uuid.uuid4().hex[:12]
    rr_view, boot_view = f"dss_rkd_rr_{sfx}", f"dss_rkd_boot_{sfx}"
    spark.sql(
        _ranker_delta_rr_sql(
            spark_dot("e.v", "q.qv"),
            spark_dot("slice(e.v, 1, 16)", "slice(q.qv, 1, 16)"),
            "CAST(embedding AS ARRAY<DOUBLE>)",
        )
    ).localCheckpoint().createOrReplaceTempView(rr_view)
    try:
        spark.sql(
            _ranker_delta_boot_sql(
                "CAST(conv(substr(md5({h}), 1, 8), 16, 10) AS BIGINT)",
                "explode(sequence({lo}, {hi}))",
                rr_view,
            )
        ).localCheckpoint().createOrReplaceTempView(boot_view)
        try:
            return spark.sql(_ranker_delta_final_sql(rr_view, boot_view))
        finally:
            spark.catalog.dropTempView(boot_view)
    finally:
        spark.catalog.dropTempView(rr_view)


def _body_pass_at_k(seq_fn: str) -> str:
    return f"""
    WITH per_problem AS (
      SELECT user_id AS problem_id, count(*) AS n,
             sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c
      FROM events GROUP BY user_id HAVING count(*) >= 10
    ), ks AS (SELECT {seq_fn} AS k),
    factors AS (
      SELECT p.problem_id, ks.k, p.n, p.c, i.i
      FROM per_problem p CROSS JOIN ks
      CROSS JOIN (SELECT {seq_fn.replace('(1, 5)', '(0, 4)')} AS i) i
      WHERE i.i < ks.k
    ), prob AS (
      -- ln factors are neutralized (ln 1 = 0) wherever n-c-i <= 0: the
      -- aggregate evaluates regardless of which CASE branch wins, so an
      -- invalid factor must not poison the sum the valid branch ignores.
      SELECT problem_id, k, max(n) AS n, max(c) AS c,
             1.0 - exp(sum(ln(
               CASE WHEN n - c - i > 0
                    THEN CAST(n - c - i AS DOUBLE) / (n - i)
                    ELSE 1.0 END))) AS pass_raw
      FROM factors
      GROUP BY problem_id, k
    ), fixed AS (
      SELECT problem_id, k, n, c,
             CASE WHEN c = 0 THEN 0.0
                  WHEN n - c < k THEN 1.0
                  ELSE pass_raw END AS pass_k
      FROM prob
    )
    SELECT CAST(k AS INT) AS k,
           CAST(count(*) AS BIGINT) AS n_problems,
           CAST(floor(sum(CAST(floor(pass_k * 1000000) AS BIGINT))
                      / count(*)) AS BIGINT) AS mean_pass_ppm
    FROM fixed GROUP BY k
    """


@register(
    "k_eval_pass_at_k",
    oracle=_body_pass_at_k("unnest(generate_series(1, 5))").replace(
        "unnest(generate_series(0, 4))", "unnest(generate_series(0, 4))"
    ),
)
def k_eval_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pass@k (Chen et al. 2021, the HumanEval estimator) for k ∈ 1..5
    over per-"problem" sample sets (users as problems, clicks as passing
    samples): the unbiased 1 − C(n−c,k)/C(n,k), evaluated as the product
    Π_{i<k}(n−c−i)/(n−i) in log space — NOT the naive 1−(1−c/n)^k, which
    overestimates whenever samples are correlated within a problem. The
    estimator every code/agent eval reports; mean over problems in
    floor-ppm (each problem's pass@k floor-quantized before the integer
    mean, so the aggregate is order-proof).

    Degenerate guards: c = 0 → 0; n − c < k → 1 (the product would hit
    a zero factor). Both the log-product and guards are identical
    expression trees cross-engine. Scale shape: one (problem) reduce,
    then a problems × 5k spine — never event-sized fan-out."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        _body_pass_at_k("explode(sequence(1, 5))").replace(
            "unnest(generate_series(0, 4))", "explode(sequence(0, 4))"
        )
    )


def _body_fleiss() -> str:
    return """
    WITH rated AS (
      SELECT doc_id,
             (CASE WHEN ' ' || text || ' ' LIKE '% the %'
                   THEN 1 ELSE 0 END)
             + (CASE WHEN ' ' || text || ' ' LIKE '% and %'
                     THEN 1 ELSE 0 END)
             + (CASE WHEN ' ' || text || ' ' LIKE '% of %'
                     THEN 1 ELSE 0 END) AS n_en_votes
      FROM documents
    ), counts AS (
      SELECT doc_id, n_en_votes AS n_1, 3 - n_en_votes AS n_0 FROM rated
    ), per_item AS (
      SELECT doc_id,
             (n_1 * n_1 + n_0 * n_0 - 3) AS agree_num
      FROM counts
    ), tot AS (
      SELECT count(*) AS n_items,
             sum(agree_num) AS sum_agree,
             sum(n_1) AS tot_1, sum(n_0) AS tot_0
      FROM per_item JOIN counts USING (doc_id)
    )
    SELECT CAST(n_items AS BIGINT) AS n_items,
           CAST(3 AS INT) AS n_raters,
           CAST(floor(CAST(sum_agree AS DOUBLE)
                      / (n_items * 6) * 1000000) AS BIGINT)
             AS p_bar_ppm,
           CAST(floor((CAST(tot_1 AS DOUBLE) * tot_1 + CAST(tot_0 AS DOUBLE)
                       * tot_0) / (9.0 * n_items * n_items) * 1000000)
             AS BIGINT) AS p_e_ppm,
           CAST(floor(
             (CAST(sum_agree AS DOUBLE) / (n_items * 6)
              - (CAST(tot_1 AS DOUBLE) * tot_1
                 + CAST(tot_0 AS DOUBLE) * tot_0)
                / (9.0 * n_items * n_items))
             / (1.0 - (CAST(tot_1 AS DOUBLE) * tot_1
                       + CAST(tot_0 AS DOUBLE) * tot_0)
                      / (9.0 * n_items * n_items)) * 1000000)
             AS BIGINT) AS fleiss_kappa_micro
    FROM tot
    """


@register("k_fleiss_kappa", oracle=_body_fleiss())
def k_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' κ for THREE raters — the multi-rater generalization that
    completes the agreement panel (``k_eval_kappa`` is the two-rater
    Cohen's κ): three deterministic heuristic "annotators" each vote
    en/not-en on every document (the/and/of marker tests — deliberately
    correlated-but-imperfect, like real annotators), and κ = (P̄ −
    P̄ₑ)/(1 − P̄ₑ) from the per-item pairwise-agreement counts
    Σᵢ(nᵢ₁² + nᵢ₀² − r)/(r(r−1)) and the marginal chance agreement.
    The number every labeling pipeline reports before treating majority
    vote as ground truth; κ < 0.4 means the annotation spec, not the
    model, is the problem.

    All counts are exact integers; the three ratio/κ expressions are
    identical trees floored at 1e-6. Scale shape: three scan-side LIKE
    projections into one doc reduce — one pass, spine arithmetic."""
    load(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_body_fleiss())


# ----------------------------------------------------- top-k accuracy ----


@register(
    "k_eval_topk_accuracy",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
               FROM embeddings),
    q AS (SELECT vec_id AS qid, v AS qv, label AS ql FROM e
          WHERE vec_id < 20),
    ranked AS (
      SELECT q.qid, e.label, q.ql,
             row_number() OVER (PARTITION BY q.qid
               ORDER BY round(list_inner_product(e.v, q.qv), 6) DESC,
                        e.vec_id) AS rn
      FROM e CROSS JOIN q WHERE e.vec_id <> q.qid
    ), firsts AS (
      SELECT qid, min(CASE WHEN label = ql THEN rn END) AS fr
      FROM ranked WHERE rn <= 10 GROUP BY qid
    )
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           round(avg(CASE WHEN fr <= 1 THEN 1.0 ELSE 0.0 END), 4) AS acc_at_1,
           round(avg(CASE WHEN fr <= 3 THEN 1.0 ELSE 0.0 END), 4) AS acc_at_3,
           round(avg(CASE WHEN fr <= 5 THEN 1.0 ELSE 0.0 END), 4) AS acc_at_5
    FROM q LEFT JOIN firsts USING (qid)
    """,
)
def k_eval_topk_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k retrieval accuracy (hit@1/3/5) for the 20 probe vectors with
    label-as-relevance: the fraction of probes whose exact cosine ranking
    has a same-class neighbor within rank k. Where k_eval_mrr_labels
    scores HOW EARLY the first hit lands, this is the leaderboard-style
    "did we get one in the top k at all" triple — the number a retrieval
    regression gate thresholds on.

    Rank spine comes from the session-memoized ``_exact_ranked`` (one
    probe-broadcast corpus scan shared by the retrieval-evaluation
    panel); the accuracies are 20-denominator averages, provably off the
    4dp half-boundary grid (k/20 has ≤ 2 decimals). NULL-fr probes (no
    hit in the cached depth) count 0 through the CASE's ELSE on both
    engines.
    """
    from data_service_spark.queries.llm import (
        _EXACT_RANKED_DEPTH,
        _emb,
        _exact_ranked,
    )

    # fr is built from the top-10 slice (matching the oracle), even
    # though only cutoffs <= 5 consume it — the depth contract is 10.
    assert 10 <= _EXACT_RANKED_DEPTH
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 20).select(F.col("vec_id").alias("qid"))
    firsts = (
        _exact_ranked(spark, sf_dir)
        .filter(F.col("rn") <= 10)
        .groupBy("qid")
        .agg(
            F.min(
                F.when(F.col("label") == F.col("ql"), F.col("rn"))
            ).alias("fr")
        )
    )

    def acc(k: int):
        return F.round(
            F.avg(F.when(F.col("fr") <= k, 1.0).otherwise(0.0)), 4
        ).alias(f"acc_at_{k}")

    return q.join(firsts, "qid", "left").agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        acc(1),
        acc(3),
        acc(5),
    )


# ------------------------------------------------- AUC per segment ----


@register(
    "k_eval_auc_by_segment",
    oracle=f"""
    WITH scored AS ({_REG_ORACLES.get("k_quality_logreg", "SELECT 1")}),
    lab AS (
      SELECT d.source, s.score_q,
             CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
      FROM scored s JOIN documents d USING (doc_id)
    ), grp AS (
      SELECT source, score_q, count(*) AS n_tot, sum(y) AS n_pos
      FROM lab GROUP BY source, score_q
    ), ranked AS (
      SELECT source, n_tot, n_pos,
             coalesce(sum(n_tot) OVER (PARTITION BY source ORDER BY score_q
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + (n_tot + 1) / 2.0 AS avg_rank
      FROM grp
    )
    SELECT source,
           round((sum(n_pos * avg_rank)
                  - sum(n_pos) * (sum(n_pos) + 1) / 2.0)
                 / (sum(n_pos) * (sum(n_tot) - sum(n_pos))), 6) AS auc,
           CAST(sum(n_pos) AS BIGINT) AS n_pos,
           CAST(sum(n_tot) - sum(n_pos) AS BIGINT) AS n_neg
    FROM ranked GROUP BY source
    HAVING sum(n_pos) > 0 AND sum(n_tot) - sum(n_pos) > 0
    """,
)
def k_eval_auc_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source ROC AUC of the k_quality_logreg score against the
    lang='en' label — the fairness/segment slice of k_eval_auc: a
    classifier can hold a healthy pooled AUC while being a coin flip on
    one source (exactly the slice a data-curation gate must not regress).
    Sources lacking either class drop (AUC undefined), via the same
    HAVING on exact integer counts in both engines.

    Same Mann–Whitney midrank identity as k_eval_auc, with every window
    and reduce additionally keyed by source: per-(source, score) integer
    counts, a source-partitioned prefix window over distinct-score rows,
    a per-source 1-row reduce. Exact integer rank sums; one 6dp division
    at the end.
    """
    # One-scan scorer spine; segment and label from the same row
    # (guide §2.4).
    from data_service_spark.queries.training import quality_scored

    lab = quality_scored(
        spark,
        sf_dir,
        "source",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    ).select("source", "score_q", "y")
    grp = lab.groupBy("source", "score_q").agg(
        F.count(F.lit(1)).alias("n_tot"), F.sum("y").alias("n_pos")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("score_q")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = grp.select(
        "source",
        "n_tot",
        "n_pos",
        (
            F.coalesce(F.sum("n_tot").over(w), F.lit(0))
            + (F.col("n_tot") + 1) / 2.0
        ).alias("avg_rank"),
    )
    return (
        ranked.groupBy("source")
        .agg(
            F.round(
                (
                    F.sum(F.col("n_pos") * F.col("avg_rank"))
                    - F.sum("n_pos") * (F.sum("n_pos") + 1) / 2.0
                )
                / (F.sum("n_pos") * (F.sum("n_tot") - F.sum("n_pos"))),
                6,
            ).alias("auc"),
            F.sum("n_pos").cast("long").alias("n_pos"),
            (F.sum("n_tot") - F.sum("n_pos")).cast("long").alias("n_neg"),
        )
        .filter((F.col("n_pos") > 0) & (F.col("n_neg") > 0))
    )


# ------------------------------------------- expected reciprocal rank ----

def _err_expr() -> str:
    """ERR@10 as ONE explicit 10-term expression over the pivoted top-10
    relevance-eighths columns r1..r10 (r_k = 2^rel − 1 ∈ {0,1,3,7}):

        ERR = Σ_k (r_k/8)/k · Π_{j<k}((8−r_j)/8)
            = Σ_k r_k · Π_{j<k}(8−r_j) / (8^k · k)

    Every numerator is an exact int64 (≤ 7·8⁹ ≈ 9.4e8) and both engines
    evaluate the identical expression tree on identical integers, so the
    doubles agree bit-for-bit — no cumulative-product window (which SQL
    lacks) and no exp/ln detour (which would reintroduce libm ulps)."""
    terms = []
    for k in range(1, 11):
        pref = " * ".join(f"(8 - r{j})" for j in range(1, k)) or "1"
        terms.append(f"CAST(r{k} * {pref} AS DOUBLE) / ({8 ** k}.0 * {k})")
    return " + ".join(terms)


@register(
    "k_eval_err",
    oracle=f"""
    WITH scored AS ({_REG_ORACLES.get("k_text_bm25", "SELECT 1")}),
    ranked AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY round(bm25, 6) DESC, doc_id) AS r
      FROM scored
    ), rel AS (
      SELECT doc_id,
             CAST(list_contains(string_split(text, ' '), 'table') AS INT)
             + CAST(list_contains(string_split(text, ' '), 'hash') AS INT)
             + CAST(list_contains(string_split(text, ' '), 'scan') AS INT)
               AS rel
      FROM documents
    ), top AS (
      SELECT r, CAST(pow(2, rel) - 1 AS BIGINT) AS r8, rel
      FROM ranked JOIN rel USING (doc_id) WHERE r <= 10
    ), piv AS (
      SELECT
        {", ".join(f"coalesce(max(CASE WHEN r = {k} THEN r8 END), 0) AS r{k}"
                   for k in range(1, 11))},
        CAST(sum(rel) AS BIGINT) AS top10_rel_sum
      FROM top
    )
    SELECT round({_err_expr()}, 6) AS err_at_10, top10_rel_sum
    FROM piv
    """,
)
def k_eval_err(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected Reciprocal Rank @10 (Chapelle et al. 2009) of the BM25
    ranking under the cascade user model: the probability-weighted
    reciprocal rank where a user stops at each document with probability
    R = (2^rel − 1)/2^rel_max. Complements k_eval_ndcg's positional
    discount with a model where a STRONG early result absorbs attention
    — the metric that separates "one great hit then junk" from "uniform
    mediocrity", which NDCG scores similarly.

    The evaluated ranking IS the registered ``k_text_bm25`` plan
    (composed, not re-derived); the top-10 pivots to one row of integer
    relevance-eighths and the cascade sum is one shared 10-term exact
    expression (`_err_expr`) — see its docstring for why this is
    bit-identical cross-engine. At scale the only costs are BM25's own
    plan and a rank-10 TakeOrdered head.
    """
    from data_service_spark.registry import QUERIES

    scored = QUERIES["k_text_bm25"](spark, sf_dir)
    wr = Window.orderBy(F.round("bm25", 6).desc(), F.col("doc_id"))
    ranked = scored.select("doc_id", F.row_number().over(wr).alias("r"))
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    rel = d.select(
        "doc_id",
        (
            F.array_contains(toks, "table").cast("int")
            + F.array_contains(toks, "hash").cast("int")
            + F.array_contains(toks, "scan").cast("int")
        ).alias("rel"),
    )
    top = (
        ranked.join(rel, "doc_id")
        .filter(F.col("r") <= 10)
        .select(
            "r",
            (F.pow(F.lit(2), F.col("rel")) - 1).cast("long").alias("r8"),
            "rel",
        )
    )
    piv = top.agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("r") == k, F.col("r8"))), F.lit(0)
            ).alias(f"r{k}")
            for k in range(1, 11)
        ],
        F.sum("rel").cast("long").alias("top10_rel_sum"),
    )
    return piv.select(
        F.round(F.expr(_err_expr()), 6).alias("err_at_10"),
        "top10_rel_sum",
    )


# ---------------------------------------------------- pinball loss ----


def _body_pinball() -> str:
    """Shared ANSI body (Spark temp-view `events` / DuckDB view)."""
    return """
    WITH split AS (
      SELECT event_type, value, event_id,
             CASE WHEN CAST(date_trunc('day', ts) AS DATE)
                       < DATE '2024-01-16'
                  THEN 'train' ELSE 'test' END AS part
      FROM events
    ), ranked AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM split WHERE part = 'train'
    ), preds AS (
      -- exact order statistics at ceil(q*n): rank selection, no
      -- interpolation, so both engines pick identical predictor VALUES
      SELECT event_type,
             max(CASE WHEN rn = CAST(ceil(n * CAST(0.5 AS DOUBLE))
                                  AS BIGINT) THEN value END) AS q50,
             max(CASE WHEN rn = CAST(ceil(n * CAST(0.9 AS DOUBLE))
                                  AS BIGINT) THEN value END) AS q90,
             CAST(max(n) AS BIGINT) AS n_train
      FROM ranked GROUP BY event_type
    )
    SELECT s.event_type, p.n_train,
           CAST(count(*) AS BIGINT) AS n_test,
           round(max(p.q50), 4) AS q50_pred,
           round(max(p.q90), 4) AS q90_pred,
           round(avg(CASE WHEN s.value >= p.q50
                          THEN 0.5 * (s.value - p.q50)
                          ELSE (1.0 - 0.5) * (p.q50 - s.value) END), 4)
             AS pinball_q50,
           round(avg(CASE WHEN s.value >= p.q90
                          THEN 0.9 * (s.value - p.q90)
                          ELSE (1.0 - 0.9) * (p.q90 - s.value) END), 4)
             AS pinball_q90
    FROM split s JOIN preds p USING (event_type)
    WHERE s.part = 'test'
    GROUP BY s.event_type, p.n_train
    """


@register("k_pinball_loss", oracle=_body_pinball())
def k_pinball_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinball (quantile) loss of per-type value-quantile predictors,
    properly OUT-OF-SAMPLE: the q50/q90 predictors are exact train-half
    order statistics (first 15 days) evaluated on the test half — the
    scoring rule under which the true quantile is the optimal forecast,
    i.e. the metric a capacity-planning forecaster (p90 spend, p90
    latency) is actually graded on. k_eval_regression scores point
    predictions; this scores the quantile band.

    Predictors are rank-selected (ceil(q·n), event_id tiebreak) — no
    percentile interpolation, both engines pick identical cap values
    (the k_winsorized_mean convention; the ceil over an exact double
    quotient is engine-identical). One train-half rank window, a
    dimension-sized predictor table joined back, one grouped average
    over the test half. Power-free float math in DOUBLE.
    """
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_body_pinball())


# ------------------------------------------------ Jarque-Bera normality ----


def _body_jarque_bera() -> str:
    """Shared ANSI body (Spark temp-view `events` / DuckDB view)."""
    return """
    WITH s AS (
      SELECT event_type,
             CAST(count(*) AS DOUBLE) AS n,
             sum(CAST(value AS DOUBLE)) AS s1,
             sum(CAST(value AS DOUBLE) * value) AS s2,
             sum(CAST(value AS DOUBLE) * value * value) AS s3,
             sum(CAST(value AS DOUBLE) * value * value * value) AS s4
      FROM events GROUP BY 1 HAVING count(*) >= 8
    ), m AS (
      SELECT event_type, n,
             s2 / n - (s1 / n) * (s1 / n) AS m2,
             s3 / n - 3 * (s1 / n) * (s2 / n)
               + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
             s4 / n - 4 * (s1 / n) * (s3 / n)
               + 6 * (s1 / n) * (s1 / n) * (s2 / n)
               - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
      FROM s
    ), jb AS (
      SELECT event_type, n,
             m3 / sqrt(m2 * m2 * m2) AS g1,
             m4 / (m2 * m2) - 3.0e0 AS g2,
             n / 6.0e0 * (m3 * m3 / (m2 * m2 * m2)
               + (m4 / (m2 * m2) - 3.0e0)
                 * (m4 / (m2 * m2) - 3.0e0) / 4.0e0) AS jb
      FROM m
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           round(g1, 4) + 0.0 AS skewness,
           round(g2, 4) + 0.0 AS ex_kurtosis,
           round(jb, 4) + 0.0 AS jb_stat,
           jb > 5.991464547107979e0 AS reject_normal_5pct
    FROM jb
    """


@register("k_jarque_bera", oracle=_body_jarque_bera())
def k_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test per event type on `value`:
    JB = n/6 * (skew^2 + ex_kurtosis^2 / 4), with the chi^2(2) 5%
    critical value 5.9915 as the reject flag — the moment-based
    normality screen next to ``k_eval_ks_test``'s distribution-shape
    test (JB is the one that names WHICH moment breaks normality:
    skewness vs tails). A metric whose JB explodes is one where every
    z-score monitor (k_anomaly_zscore, k_spc_rules) is mis-calibrated.

    Power sums accumulate in DOUBLE (no int64 wrap surface); central
    moments expand from raw moments in one identical text. No libm
    pow: g1^2 = m3^2/m2^3 and the m2 powers are explicit products, so
    the only correctly-rounded-but-engine-identical ops are *, /,
    sqrt. The reject boolean compares far from the 4dp grid.

    Scale: one map-side-combined moment pass over the corpus; the
    5-row type spine does the algebra. HAVING n >= 8 fences the
    small-sample degenerate m2 ~ 0 regime.
    """
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_body_jarque_bera())


# ----------------------------------------------------- Grubbs outlier ----


def _body_grubbs() -> str:
    """Shared ANSI body (Spark temp-view `events` / DuckDB view)."""
    return """
    WITH s AS (
      SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
             sum(CAST(value AS DOUBLE)) AS s1,
             sum(CAST(value AS DOUBLE) * value) AS s2
      FROM events GROUP BY 1 HAVING count(*) >= 3
    ), st AS (
      -- variance > 0 fences the sqrt (tiny-negative cancellation
      -- hard-errors DuckDB); sd > 0 after the 6dp pin fences the
      -- division (an sd < 5e-7 rounds to zero)
      SELECT event_type, n,
             round(s1 / n, 6) AS mu,
             round(sqrt((s2 - s1 * s1 / n) / (n - 1)), 6) AS sd
      FROM s
      WHERE (s2 - s1 * s1 / n) > 0
    ), z AS (
      SELECT e.event_type, e.event_id, st.n, st.mu, st.sd,
             CAST(floor(abs(CAST(e.value AS DOUBLE) - st.mu) / st.sd
                        * 1000000) AS BIGINT) AS g_ppm
      FROM events e JOIN st USING (event_type)
      WHERE st.sd > 0
    ), aug AS (
      -- per-type max as a window keeps z single-referenced (the
      -- multi-referenced-CTE re-scan lesson)
      SELECT event_type, event_id, n, mu, sd, g_ppm,
             max(g_ppm) OVER (PARTITION BY event_type) AS top
      FROM z
    )
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n,
           max(mu) + 0.0 AS mean_value,
           max(sd) + 0.0 AS sd_value,
           max(g_ppm) AS grubbs_g_ppm,
           CAST(min(event_id) AS BIGINT) AS outlier_event_id
    FROM aug WHERE g_ppm = top
    GROUP BY event_type
    """


@register("k_grubbs_test", oracle=_body_grubbs())
def k_grubbs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs (maximum normed residual) outlier statistic per event
    type: G = max |x - mean| / sd, emitted floor-quantized at 1e-6
    (g_ppm), with the offending row identified (min event_id among
    argmax rows — deterministic tiebreak). The single-most-extreme-
    point screen that complements k_anomaly_mad's per-row robust
    z-scores: G against its t-based critical value is the classical
    one-outlier-at-a-time test; here the statistic and its witness row
    are the stable, engine-checkable output.

    Mean and sd are pinned at 6dp BEFORE the per-row scores (the
    k_anomaly_mad fence): the per-type power sums jitter by an ulp
    under partial-agg order, and an unpinned boundary case would flip
    the floor grid. Power sums accumulate in DOUBLE — no int64 wrap
    surface.

    Scale: one moment pass, one broadcast stats join back into the
    scan, one max reduce — corpus rows cross one shuffle.
    """
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_body_grubbs())


# ------------------------------------------- Anderson-Darling normality ----


def _body_anderson_darling() -> str:
    """Shared ANSI body; Φ is the Abramowitz-Stegun 7.1.26 erf text
    from the Bayesian A/B key (one text, both engines)."""
    from data_service_spark.queries.inference import _ab_phi

    phi = f"greatest(least({_ab_phi('z')}, 1.0 - 1e-12), 1e-12)"
    return f"""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(count(*) AS DOUBLE) AS x
      FROM events GROUP BY 1, 2
    ), st AS (
      -- per-type moments as WINDOW aggregates keep daily
      -- single-referenced (a stats aggregate joined back would re-run
      -- the spine aggregation under Spark's CTE inlining)
      SELECT event_type, day, x,
             CAST(count(*) OVER w AS DOUBLE) AS n,
             avg(x) OVER w AS mu,
             (sum(x * x) OVER w
              - sum(x) OVER w * sum(x) OVER w / count(*) OVER w) AS cs2
      FROM daily WINDOW w AS (PARTITION BY event_type)
    ), ranked AS (
      -- n >= 8 and variance > 0 fence the sqrt and the z division
      -- (a constant spine would hard-error DuckDB / NaN Spark)
      SELECT event_type, n,
             CAST(row_number() OVER (PARTITION BY event_type
                                     ORDER BY x, day) AS DOUBLE) AS i,
             (x - mu) / sqrt(cs2 / (n - 1)) AS z
      FROM st WHERE n >= 8 AND cs2 > 0
    ), scored AS (
      SELECT event_type, n, i, {phi} AS p
      FROM ranked
    ), stat AS (
      -- reindexing j = n+1-i folds the classical paired form into ONE
      -- pass: sum (2i-1) ln(1-Phi(z_(n+1-i))) = sum (2n-2i+1)
      -- ln(1-Phi(z_i)) — no rank self-join, ranked single-referenced
      SELECT event_type, max(n) AS n,
             -max(n) - sum((2 * i - 1) * ln(p)
                           + (2 * n - 2 * i + 1) * ln(1 - p))
                       / max(n) AS a2
      FROM scored GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_days,
           round(a2, 3) + 0.0 AS a2_stat,
           round(a2 * (1 + 0.75e0 / n + 2.25e0 / (n * n)), 3) + 0.0
             AS a2_adjusted,
           a2 * (1 + 0.75e0 / n + 2.25e0 / (n * n)) > 0.752e0
             AS reject_normal_5pct
    FROM stat
    """


@register("k_anderson_darling", oracle=_body_anderson_darling())
def k_anderson_darling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anderson-Darling normality test on each type's daily-count
    spine: A^2 = -n - (1/n) * sum (2i-1) [ln Phi(z_(i)) +
    ln(1 - Phi(z_(n+1-i)))], with the Stephens small-sample adjustment
    A*^2 = A^2 (1 + 0.75/n + 2.25/n^2) and the 0.752 5% critical value
    (estimated-parameter case). The tail-weighted normality test the
    SPC family's 3-sigma rules implicitly assume — A-D weights the
    tails where k_eval_ks_test's KS is most insensitive.

    Phi is the SAME Abramowitz-Stegun 7.1.26 erf text as k_ab_bayes
    (|eps| < 1.5e-7, one text both engines), clamped to
    [1e-12, 1-1e-12] so an extreme z can never reach ln(0). The
    classical i/(n+1-i) pairing is folded into ONE pass via the
    reindexing identity (2i-1) -> (2n-2i+1), so the rank spine is
    single-referenced — no self-join, no corpus re-scan (day tiebreak
    makes the sort total). Rounded 3dp — coarser than
    the house 4dp because the erf approximation error (~1e-7) exceeds
    ulp noise. Daily-count power sums accumulate in DOUBLE (no int64
    wrap surface; exact far inside 2^53), so mu,
    sd and every z are bit-identical before the erf text runs.

    Scale: one corpus shuffle to the (type, day) spine; ranking,
    pairing and the A^2 reduce are calendar-sized.
    """
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_body_anderson_darling())


# ------------------------------------------------- partial correlation ----


def _body_partial_corr() -> str:
    """Shared ANSI body (Spark temp-view `events` / DuckDB view)."""
    return """
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS x,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS y,
             CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS z
      FROM events GROUP BY 1
    ), s AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             sum(x) AS sx, sum(y) AS sy, sum(z) AS sz,
             sum(x * x) AS sxx, sum(y * y) AS syy, sum(z * z) AS szz,
             sum(x * y) AS sxy, sum(x * z) AS sxz, sum(y * z) AS syz
      FROM daily
    ), r AS (
      SELECT n,
        (n * sxy - sx * sy)
          / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS rxy,
        (n * sxz - sx * sz)
          / sqrt((n * sxx - sx * sx) * (n * szz - sz * sz)) AS rxz,
        (n * syz - sy * sz)
          / sqrt((n * syy - sy * sy) * (n * szz - sz * sz)) AS ryz
      FROM s
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           round(rxy, 4) + 0.0 AS r_click_purchase,
           round(rxz, 4) + 0.0 AS r_click_view,
           round(ryz, 4) + 0.0 AS r_purchase_view,
           round((rxy - rxz * ryz)
                 / sqrt((1 - rxz * rxz) * (1 - ryz * ryz)), 4) + 0.0
             AS r_partial_given_view
    FROM r
    """


@register("k_partial_corr", oracle=_body_partial_corr())
def k_partial_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order partial correlation on the daily count spine:
    r(click, purchase | view) = (r_xy - r_xz r_yz) /
    sqrt((1-r_xz^2)(1-r_yz^2)) — does click volume predict purchase
    volume beyond what overall traffic (views) explains, or is their
    raw correlation (also emitted) a common-cause artifact? The
    confounder-aware sibling of ``d_agg_corr_matrix``: the matrix
    reports raw r, this key removes the third variable, which is the
    question an experimentation review actually asks.

    The three conditional daily counts are exact integers, so every
    power sum is exact in DOUBLE (no int64 wrap surface) and the
    closed-form r's differ only by correctly-rounded *, /, sqrt —
    bit-identical across engines before the 4dp output rounding.

    Scale: ONE conditional-aggregate pass over the corpus to the day
    spine (the pivot is three CASE sums, not three scans), then a
    1-row Sigma-formula reduce.
    """
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_body_partial_corr())


# -------------------------------------------- Krippendorff's alpha ----


def _body_krippendorff() -> str:
    """Shared ANSI body (Spark temp-view `events` / DuckDB view)."""
    return """
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(count(*) AS DOUBLE) AS x
      FROM events GROUP BY 1, 2
    ), rating AS (
      -- the per-type mean as a window keeps daily single-referenced
      -- (a mean aggregate joined back would re-run the spine
      -- aggregation under Spark's CTE inlining)
      SELECT day,
             CASE WHEN x > avg(x) OVER (PARTITION BY event_type)
                  THEN 1.0e0 ELSE 0.0e0 END AS r
      FROM daily
    ), unit AS (
      SELECT day, CAST(count(*) AS DOUBLE) AS m_u, sum(r) AS n1
      FROM rating GROUP BY day HAVING count(*) >= 2
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_units,
             sum(m_u) AS n, sum(n1) AS c1, sum(m_u - n1) AS c0,
             sum(n1 * (m_u - n1) / (m_u - 1)) AS do_sum
      FROM unit
    )
    SELECT n_units, CAST(n AS BIGINT) AS n_ratings,
           CAST(c1 AS BIGINT) AS n_high, CAST(c0 AS BIGINT) AS n_low,
           round(1 - do_sum / nullif(c1 * c0 / (n - 1), 0), 4) + 0.0
             AS kripp_alpha
    FROM tot
    """


@register("k_krippendorff_alpha", oracle=_body_krippendorff())
def k_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha (nominal, binary) treating each DAY as a
    unit and each event type as a rater voting "high day" (daily count
    above that type's own mean): alpha = 1 - D_o/D_e with observed
    disagreement sum n1*(m-n1)/(m-1) per unit and expected c1*c0/(N-1)
    from the pooled margins. The missing-data-tolerant agreement
    coefficient that completes the panel (``k_eval_kappa`` two-rater,
    ``k_fleiss_kappa`` fixed-rater, ``k_cronbach_alpha`` continuous,
    ``k_cochran_q`` binary repeated-measures): alpha alone stays
    defined when raters skip units, exactly what HAVING m_u >= 2
    models here (a type absent on a day just doesn't rate it).

    Ratings derive from exact integer counts vs an exact-rational mean
    (one identical text), so every n1, m_u is integer-exact; the one
    inexact family is /(m_u - 1) on incomplete units, far inside the
    4dp rounding. Degenerate all-one-class corpora emit NULL via
    nullif rather than a 0/0 divergence.

    Scale: one corpus shuffle to the (type, day) spine; everything
    after is calendar-sized.
    """
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_body_krippendorff())


# -------------------------------------------- ordinal association panel ----


def _body_ordinal_assoc() -> str:
    """Shared ANSI body (Spark temp-view `events` / DuckDB view)."""
    return """
    WITH base AS (
      SELECT ntile(4) OVER (ORDER BY value, event_id) AS vq,
             CAST(floor(extract(HOUR FROM ts) / 6.0e0) AS BIGINT) AS hb
      FROM events
    ), cell AS (
      SELECT vq, hb, CAST(count(*) AS DOUBLE) AS c
      FROM base GROUP BY 1, 2
    ), cd AS (
      SELECT
        sum(CASE WHEN b.vq > a.vq AND b.hb > a.hb
                 THEN a.c * b.c ELSE 0 END) AS conc,
        sum(CASE WHEN b.vq > a.vq AND b.hb < a.hb
                 THEN a.c * b.c ELSE 0 END) AS disc
      FROM cell a CROSS JOIN cell b
    ), marg AS (
      SELECT sum(c) AS n FROM cell
    ), mx AS (
      SELECT sum(nv * (nv - 1)) / 2 AS tx
      FROM (SELECT sum(c) AS nv FROM cell GROUP BY vq) q
    ), my AS (
      SELECT sum(nh * (nh - 1)) / 2 AS ty
      FROM (SELECT sum(c) AS nh FROM cell GROUP BY hb) q
    )
    SELECT CAST(m.n AS BIGINT) AS n_events,
           CAST(cd.conc AS BIGINT) AS concordant_pairs,
           CAST(cd.disc AS BIGINT) AS discordant_pairs,
           round((cd.conc - cd.disc)
                 / nullif(cd.conc + cd.disc, 0), 4) + 0.0 AS gk_gamma,
           round((cd.conc - cd.disc)
                 / nullif(m.n * (m.n - 1) / 2 - mx.tx, 0), 4) + 0.0
             AS somers_d_hour_given_value,
           round((cd.conc - cd.disc)
                 / nullif(m.n * (m.n - 1) / 2 - my.ty, 0), 4) + 0.0
             AS somers_d_value_given_hour,
           round((cd.conc - cd.disc)
                 / nullif(sqrt((m.n * (m.n - 1) / 2 - mx.tx)
                               * (m.n * (m.n - 1) / 2 - my.ty)), 0), 4)
             + 0.0 AS tau_b
    FROM cd CROSS JOIN marg m CROSS JOIN mx CROSS JOIN my
    """


@register("k_ordinal_assoc", oracle=_body_ordinal_assoc())
def k_ordinal_assoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinal-association panel between value quartile and time-of-day
    bucket (hour/6) from the 4x4 contingency table: Goodman-Kruskal
    gamma (ties ignored), both Somers' D directions (asymmetric,
    predictor-tie-corrected) and Kendall tau-b (both-margin-corrected)
    — all from ONE concordant/discordant pair count computed on the
    16-cell table, never on row pairs. ``k_rank_kendall`` ranks the
    tiny source spine; this key is the grouped-data form that scales
    to corpus-sized inputs because C and D are cell-count products.

    All pair counts are exact integers carried in DOUBLE: the governor
    is the 2^53 mantissa on n(n-1)/2 (exact below ~1.3e8 rows; beyond,
    the same cell algebra runs on HUGEINT-free normalized frequencies)
    — no same-identifier int64 power sum exists to wrap, and the
    tau_b denominator multiplies the two tie-corrected pair counts in
    DOUBLE (the k_ab_bayes cube lesson). ntile(4) over the totally-
    ordered (value, event_id) key assigns identical quartiles in both
    engines (remainder rows to the first buckets, SQL standard).

    Scale: one window pass for quartiles (per-partition at scale via
    pre-bucketed value ranges), one reduce to 16 cells, a 256-row
    cross join of the cell table with itself — the corpus crosses two
    shuffles, the quadratic work is O(cells^2).
    """
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_body_ordinal_assoc())


# ---------------------------------------------------- mutual information ----


def _body_mutual_info() -> str:
    """Shared ANSI body (Spark temp-view `events` / DuckDB view)."""
    return """
    WITH cell AS (
      SELECT event_type AS et,
             CAST(floor(extract(HOUR FROM ts) / 6.0e0) AS BIGINT) AS hb,
             CAST(count(*) AS DOUBLE) AS c
      FROM events GROUP BY 1, 2
    ), aug AS (
      -- margins as window sums keep the corpus-consuming CTE
      -- single-referenced (Spark inlines multi-referenced CTEs)
      SELECT et, hb, c,
             sum(c) OVER (PARTITION BY et) AS ni,
             sum(c) OVER (PARTITION BY hb) AS nj,
             sum(c) OVER () AS n
      FROM cell
    )
    SELECT CAST(max(n) AS BIGINT) AS n_events,
           CAST(count(*) AS BIGINT) AS n_cells,
           round(sum(c / n * ln(c * n / (ni * nj))), 4) + 0.0 AS mi_nats,
           -- sum over ALL cells telescopes to the marginal entropy:
           -- sum_ij (c_ij/n) ln(n_i/n) = sum_i (n_i/n) ln(n_i/n)
           round(-sum(c / n * ln(ni / n)), 4) + 0.0 AS h_type,
           round(-sum(c / n * ln(nj / n)), 4) + 0.0 AS h_hour,
           round(sum(c / n * ln(c * n / (ni * nj)))
                 / sqrt(sum(c / n * ln(ni / n))
                        * sum(c / n * ln(nj / n))),
                 4) + 0.0 AS nmi_sqrt
    FROM aug
    """


@register("k_mutual_info", oracle=_body_mutual_info())
def k_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between event type and time-of-day bucket
    (hour/6) with both marginal entropies and the sqrt-normalized NMI:
    MI = sum p_ij ln(p_ij/(p_i q_j)) over the 20-cell grid — the
    feature-selection functional on the same kind of contingency table
    ``k_contingency_chi2`` tests (chi^2 answers "dependent at all?",
    MI answers "how many nats does knowing the hour buy?", and NMI
    makes it comparable across tables). Marginal entropies come from
    the telescoping identity sum_ij (c_ij/n) ln(n_i/n) = sum_i
    (n_i/n) ln(n_i/n) — summed over ALL cells, so no slice-completeness
    assumption exists; the identity is pinned by test.

    Counts are exact integers; margins are window sums over the 20-row
    grid (single corpus reference); ln is the libm exposure class under
    4dp rounding. Power sums accumulate in DOUBLE — no int64 wrap
    surface.

    Scale: one map-side-combined reduce to the grid; grid-sized algebra
    after.
    """
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_body_mutual_info())


# ------------------------------------------------ GPD tail fit (POT) ----


def _body_tail_gpd(q95_fn: str) -> str:
    return f"""
    WITH thr AS (
      SELECT round({q95_fn}, 6) AS u, count(*) AS n_total FROM events
    ), exc AS (
      SELECT CAST(e.value AS DOUBLE) - t.u AS y, t.u, t.n_total
      FROM events e CROSS JOIN thr t
      WHERE e.value > t.u
    ), mom AS (
      SELECT CAST(count(*) AS DOUBLE) AS ne,
             max(u) AS u, CAST(max(n_total) AS DOUBLE) AS n_total,
             avg(y) AS m,
             (sum(y * y) - sum(y) * sum(y) / count(*)) / (count(*) - 1)
               AS s2
      FROM exc HAVING count(*) >= 10
    ), fit AS (
      SELECT ne, u, n_total, m, s2,
             0.5e0 * (1 - m * m / s2) AS xi,
             0.5e0 * m * (m * m / s2 + 1) AS beta
      FROM mom
    )
    SELECT CAST(ne AS BIGINT) AS n_exceedances,
           u + 0.0 AS threshold_u,
           round(xi, 4) + 0.0 AS gpd_xi,
           round(beta, 4) + 0.0 AS gpd_beta,
           round(u + beta / xi
                 * (pow(0.001e0 * n_total / ne, -xi) - 1), 4) + 0.0
             AS var_999
    FROM fit
    """


@register(
    "k_tail_gpd",
    oracle=_body_tail_gpd("quantile_cont(value, 0.95)"),
)
def k_tail_gpd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peaks-over-threshold tail fit: exceedances of event value over
    the 6dp-pinned 95th percentile, GPD(xi, beta) by the method of
    moments (xi = (1 - m^2/s^2)/2, beta = m(m^2/s^2 + 1)/2), and the
    POT 99.9% quantile x_p = u + beta/xi * ((p_exceed_target/zeta_u)^-xi
    - 1). The OTHER extreme-value view next to
    ``k_gumbel_block_maxima``: block maxima ask "how bad is the worst
    week", POT asks "how bad is the worst 0.1% of VALUES" — and xi's
    sign is the heavy-tail verdict that decides whether mean-based
    capacity math is valid at all (xi > 0 = power-law-ish tail, pairs
    with ``k_tail_hill``'s index).

    The threshold is the one engine-split surface (Spark ``percentile``
    / DuckDB ``quantile_cont``, the brown_forsythe pattern), pinned at
    6dp before the strict > comparison. Exceedance moments accumulate
    in DOUBLE (no int64 wrap surface); pow is the libm exposure class
    under 4dp rounding; HAVING ne >= 10 fences degenerate fits.

    Scale: one percentile pass, one broadcast-threshold filter scan,
    one moment reduce — the corpus never shuffles on rows.
    """
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_body_tail_gpd("percentile(value, 0.95)"))


# ------------------------------------------------- intraclass correlation ----


def _body_icc() -> str:
    """Shared ANSI body (Spark temp-view `events` / DuckDB view)."""
    return """
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             event_type, CAST(count(*) AS DOUBLE) AS x
      FROM events GROUP BY 1, 2
    ), g AS (
      SELECT day, CAST(count(*) AS DOUBLE) AS n_j,
             sum(x) AS s1, sum(x * x) AS s2
      FROM daily GROUP BY 1 HAVING count(*) >= 2
    ), aug AS (
      -- grand totals as window sums keep g single-referenced
      SELECT n_j, s1, s2,
             sum(n_j) OVER () AS n, sum(s1) OVER () AS gs1,
             CAST(count(*) OVER () AS DOUBLE) AS j
      FROM g
    ), parts AS (
      SELECT max(n) AS n, max(j) AS j,
             (sum(s1 * s1 / n_j) - max(gs1) * max(gs1) / max(n))
               / (max(j) - 1) AS msb,
             sum(s2 - s1 * s1 / n_j) / (max(n) - max(j)) AS msw,
             (max(n) - sum(n_j * n_j) / max(n)) / (max(j) - 1) AS k0
      FROM aug
    )
    SELECT CAST(j AS BIGINT) AS n_days,
           round(k0, 4) + 0.0 AS mean_raters_k0,
           round(msb, 4) + 0.0 AS ms_between,
           round(msw, 4) + 0.0 AS ms_within,
           round((msb - msw) / nullif(msb + (k0 - 1) * msw, 0), 4) + 0.0
             AS icc1,
           round(msb / nullif(msw, 0), 4) + 0.0 AS f_stat
    FROM parts
    """


@register("k_icc_oneway", oracle=_body_icc())
def k_icc_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way random-effects intraclass correlation ICC(1,1) treating
    each DAY as a target rated by every active event type (its daily
    count): ICC = (MSB - MSW)/(MSB + (k0-1) MSW) with the unbalanced-
    design k0 = (N - sum n_j^2/N)/(J-1), plus the MSB/MSW and the ANOVA
    F. The CONTINUOUS-scale agreement coefficient completing the panel
    (``k_krippendorff_alpha`` binary-nominal, ``k_fleiss_kappa``
    categorical, ``k_cronbach_alpha`` item-consistency): a high ICC
    says event types move together day to day — one shared traffic
    factor — so per-type monitors are redundant; a low ICC says each
    type needs its own control chart.

    Day-group power sums in DOUBLE (exact integer counts, no int64 wrap
    surface), grand totals as window sums (single corpus reference),
    nullif on the degenerate zero-variance denominators.

    Scale: one corpus shuffle to the (day, type) spine; calendar-sized
    algebra after.
    """
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_body_icc())
