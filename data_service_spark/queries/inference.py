"""§2.K extensions — statistical inference over pipeline metrics (round 4).

A data-curation decision ("arm B converts better", "these two gates
disagree", "this corpus metric has error bars") needs a significance story,
not just a point estimate. These operators add the classical
distribution-free tests that ARE cross-engine exact — rank statistics,
discordant-pair counts, and deterministic-hash resampling — next to the
existing z/CUPED/SPRT suite (`k_ab_ztest`, `k_ab_cuped`, `k_ab_sprt`).
No erf/normal-CDF anywhere: Spark 4.1.2 and DuckDB 1.0 both lack erf, so
each key reports the test STATISTIC against its standard critical values
(documented per key) rather than a p-value — except the permutation and
bootstrap keys, whose p/CI come from deterministic md5 resampling and are
therefore exact rationals both engines agree on.

Determinism contract: rank sums and discordant counts are integers;
midranks are exact .5 multiples; resample assignments are md5-derived
(Spark ``conv(hex,16,10)``, DuckDB ``('0x'||hex)::BIGINT``); floats appear
only in final divisions, rounded at 6dp with the ``+ 0.0`` signed-zero
guard (SURVEY §7.4).

Scale shape: every key reduces to one or two grouped aggregations over the
fact table plus arithmetic on a handful of rows; the resampling keys
materialize B×|groups| rows (bounded by design, never B×N).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_service_spark.io import corpus_memo, load
from data_service_spark.registry import register

_B = 200  # resample count for bootstrap/permutation


def _body_kruskal() -> str:
    return """
    WITH ranked AS (
      -- CAST AS DOUBLE: the bare 2.0 literal made midrank DECIMAL in
      -- Spark but the downstream chain DOUBLE in DuckDB — two different
      -- arithmetics whose 6dp rounds split on a half-boundary (r13
      -- census fix; the standing decimal-literal trap)
      SELECT event_type,
             rank() OVER (ORDER BY value)
               + (count(*) OVER (PARTITION BY value) - 1)
                 / CAST(2 AS DOUBLE) AS midrank,
             value
      FROM events
    ), grp AS (
      SELECT event_type, sum(midrank) AS r_sum,
             count(*) AS n_i
      FROM ranked GROUP BY event_type
    ), ties AS (
      SELECT sum(t * t * t - t) AS tie_mass
      FROM (SELECT count(*) AS t FROM events GROUP BY value HAVING count(*) > 1) g
    ), tot AS (
      SELECT sum(n_i) AS n, count(*) AS k,
             sum(r_sum * r_sum / n_i) AS rr
      FROM grp
    )
    SELECT CAST(n AS BIGINT) AS n_total,
           CAST(k AS BIGINT) AS n_groups,
           -- floor-based 6dp round: H is computed bit-identically in
           -- both engines (correctly-rounded IEEE ops over identical
           -- integers), but round() half-handling differs per engine on
           -- a half-boundary (r13 census fix: sf0.001 lands the
           -- tie-adjusted H ON x.xxxxx95). floor(x*1e6 + 0.5)/1e6 is
           -- the same IEEE op sequence in both engines, so it cannot
           -- split; H >= 0 so the half-up convention is well-defined.
           CAST(floor((12.0 / (n * (n + 1)) * rr - 3 * (n + 1))
                      * 1000000.0 + 0.5) / 1000000.0 + 0.0
             AS DOUBLE) AS h_stat,
           CAST(floor((12.0 / (n * (n + 1)) * rr - 3 * (n + 1))
                 / (1.0 - coalesce(tie_mass, 0) * 1.0
                          / (n * n * n - n))
                      * 1000000.0 + 0.5) / 1000000.0 + 0.0 AS DOUBLE)
             AS h_stat_tie_adj
    FROM tot, ties
    """


@register("k_kruskal_wallis", oracle=_body_kruskal())
def k_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis one-way rank test: do the five event types draw their
    ``value`` from the same distribution? H = 12/(N(N+1))·ΣR²ᵢ/nᵢ − 3(N+1)
    with the standard tie adjustment — distribution-free (no normality
    assumption a raw ANOVA needs), and exactly cross-engine reproducible
    because midrank sums are exact half-integer arithmetic. Compare H to
    χ²(k−1): 9.49 at α=.05 for k=5.

    Integer bounds (the isotropy overflow class — DuckDB widens, Spark
    wraps): half-integer rank sums stay exact in doubles to 2⁵² total
    rank mass (N ≲ 9×10⁷ rows), and the BIGINT tie term t³−t wraps when
    ONE value repeats ≳ 2×10⁶ times; past either, rank on a coarser
    value quantization (fewer distinct values shrink ranks AND ties are
    exact per group).

    Scale shape: one global rank window (single sort-shuffle, the honest
    cost of a rank test) then a 5-row aggregate."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_body_kruskal())


def _body_cohens_d() -> str:
    return """
    WITH s AS (
      SELECT count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n1,
             count(CASE WHEN event_type = 'view' THEN 1 END) AS n2,
             avg(CASE WHEN event_type = 'purchase' THEN value END) AS m1,
             avg(CASE WHEN event_type = 'view' THEN value END) AS m2,
             var_samp(CASE WHEN event_type = 'purchase' THEN value END) AS v1,
             var_samp(CASE WHEN event_type = 'view' THEN value END) AS v2
      FROM events
      WHERE event_type IN ('purchase', 'view')
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           round(m1 - m2, 6) + 0.0 AS mean_diff,
           round(sqrt(((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2)), 6)
             + 0.0 AS pooled_sd,
           round((m1 - m2)
                 / sqrt(((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2)), 6)
             + 0.0 AS cohens_d
    FROM s
    """


@register("k_cohens_d", oracle=_body_cohens_d())
def k_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d effect size between the purchase and view value
    distributions (pooled-SD standardized mean difference) — the number
    that belongs next to any significance claim: a z-test on 100 TB of
    events will call a 0.001σ difference "significant", and d is what says
    it doesn't matter. |d| ≥ 0.2/0.5/0.8 read as small/medium/large.

    Scale shape: single conditional aggregate, map-side partials."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_body_cohens_d())


def _body_brown_forsythe(median_fn: str) -> str:
    return f"""
    WITH med AS (
      SELECT event_type, round({median_fn}, 6) AS med
      FROM events GROUP BY event_type
    ), z AS (
      SELECT e.event_type, abs(e.value - m.med) AS z
      FROM events e JOIN med m ON e.event_type = m.event_type
    ), grp AS (
      SELECT event_type, count(*) AS n_i, avg(z) AS zbar_i,
             sum(z * z) AS zsq_i, sum(z) AS zs_i
      FROM z GROUP BY event_type
    ), tot AS (
      SELECT sum(n_i) AS n, count(*) AS k,
             sum(zs_i) / sum(n_i) AS zbar,
             sum(zsq_i - zs_i * zs_i / n_i) AS ss_within
      FROM grp
    )
    SELECT CAST(k - 1 AS BIGINT) AS df1,
           CAST(n - k AS BIGINT) AS df2,
           round(((SELECT sum(n_i * (zbar_i - zbar) * (zbar_i - zbar))
                   FROM grp, tot) / (k - 1))
                 / (ss_within / (n - k)), 6) + 0.0 AS f_stat
    FROM tot
    """


@register(
    "k_brown_forsythe",
    oracle=_body_brown_forsythe("quantile_cont(value, 0.5)"),
)
def k_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe variance-homogeneity test across event types: one-way
    ANOVA F on |value − group median| — the robust Levene variant (median
    center ⇒ valid under heavy tails, which event values have). Group
    medians are pinned at 6dp before the deviation (SURVEY §7.4: derived
    statistics over interpolated percentiles re-round before reuse).
    Compare F to F(k−1, N−k) ≈ 2.37 at α=.05 for k=5, large N. The Σz²
    power sums accumulate in DOUBLE (z = |value − median| is a double),
    so no int64 wrap governor applies; the 6dp rounding of the F
    statistic absorbs partial-order ulp drift.

    Scale shape: a median per group (percentile agg), one broadcast join
    of 5 medians back onto the fact, one grouped aggregate."""
    # r13: grp/tot are multi-referenced CTEs (12 scan nodes in the plan
    # text), but runtime exchange reuse already dedupes the median +
    # deviation passes — a localCheckpoint pin of grp was A/B'd and
    # returned ~flat-to-worse (0.90s → 0.99s at sf0.1, barrier cost).
    # Examined, left alone.
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_body_brown_forsythe("percentile(value, 0.5)"))


def _body_mcnemar() -> str:
    return """
    WITH preds AS (
      SELECT (lang = 'en') AS truth,
             (' ' || text || ' ' LIKE '% the %') AS pred_a,
             (' ' || text || ' ' LIKE '% and %') AS pred_b
      FROM documents
    ), pairs AS (
      SELECT count(*) AS n_docs,
             sum(CASE WHEN pred_a = truth AND pred_b <> truth
                      THEN 1 ELSE 0 END) AS b_discordant,
             sum(CASE WHEN pred_a <> truth AND pred_b = truth
                      THEN 1 ELSE 0 END) AS c_discordant
      FROM preds
    )
    SELECT CAST(n_docs AS BIGINT) AS n_docs,
           CAST(b_discordant AS BIGINT) AS b_discordant,
           CAST(c_discordant AS BIGINT) AS c_discordant,
           CAST(round((abs(b_discordant - c_discordant) - 1)
                 * (abs(b_discordant - c_discordant) - 1) * 1.0
                 / nullif(b_discordant + c_discordant, 0), 6) + 0.0
             AS DOUBLE) AS mcnemar_stat
    FROM pairs
    """


@register("k_eval_mcnemar", oracle=_body_mcnemar())
def k_eval_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test between two cheap English detectors ('the'
    marker vs 'and' marker) against the ground-truth label: on PAIRED
    predictions only the discordant cells carry information, so the
    statistic is (|b−c|−1)²/(b+c) (continuity-corrected) over two integer
    counts — the right way to compare two classifiers evaluated on the
    same corpus (a two-proportion z-test overstates significance by
    ignoring the pairing). Compare to χ²(1): 3.84 at α=.05.

    Scale shape: one projection + one global conditional aggregate."""
    load(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_body_mcnemar())


def _body_bootstrap(hash_to_long: str) -> str:
    # hash_to_long formats one {h} placeholder containing the md5 argument.
    h = hash_to_long.format(
        h="'bs:' || CAST(b.b AS STRING) || ':' || CAST(d.idx AS STRING)"
    )
    return f"""
    WITH per_source AS (
      SELECT source, avg(n_chars) AS m_s,
             row_number() OVER (ORDER BY source) - 1 AS idx
      FROM documents GROUP BY source
    ), n AS (
      SELECT count(*) AS n_src FROM per_source
    ), draws AS (
      SELECT b.b, {h} % n.n_src AS pick
      FROM (SELECT explode(sequence(0, {_B - 1})) AS b) b
      CROSS JOIN per_source d CROSS JOIN n
    ), boot AS (
      SELECT d.b, avg(p.m_s) AS boot_mean
      FROM draws d JOIN per_source p ON d.pick = p.idx
      GROUP BY d.b
    ), ordered AS (
      SELECT boot_mean, row_number() OVER (ORDER BY boot_mean) AS rn
      FROM boot
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM per_source) AS n_sources,
           (SELECT round(avg(m_s), 6) + 0.0 FROM per_source) AS point_mean,
           round(min(CASE WHEN rn = {int(_B * 0.025)} THEN boot_mean END), 6)
             + 0.0 AS ci_lo,
           round(min(CASE WHEN rn = {_B - int(_B * 0.025) + 1}
                     THEN boot_mean END), 6) + 0.0 AS ci_hi
    FROM ordered
    """


_SPARK_HASH = "CAST(conv(substr(md5({h}), 1, 8), 16, 10) AS BIGINT)"
_DUCK_HASH = "('0x' || substr(md5({h}), 1, 8))::BIGINT"


@register(
    "k_bootstrap_src_ci",
    oracle=_body_bootstrap(_DUCK_HASH).replace(
        "(SELECT explode(sequence(0, 199)) AS b)", "(SELECT b FROM range(200) t(b))"
    ),
)
def k_bootstrap_src_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster bootstrap CI for mean document length: resample SOURCES with
    replacement (B=200, md5-deterministic draws) because documents within a
    crawl are correlated — a per-doc bootstrap would understate the CI the
    same way a per-doc SE does (see ``k_jackknife_se``, the analytic twin).
    CI bounds are exact order statistics (5th/196th of 200), no
    interpolation to disagree on.

    Scale shape: the corpus reduces to one row per source first, so the
    B×n_src resample table is bounded by design and never touches N."""
    load(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_body_bootstrap(_SPARK_HASH))


def _body_permutation(hash_to_long: str) -> str:
    h = hash_to_long.format(
        h="'perm:' || CAST(b.b AS STRING) || ':' || CAST(u.user_id AS STRING)"
    )
    return f"""
    WITH per_user AS (
      SELECT user_id,
             CAST(user_id % 2 AS INT) AS arm,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS purchases
      FROM events GROUP BY user_id
    ), obs AS (
      SELECT avg(CASE WHEN arm = 1 THEN CAST(purchases AS DOUBLE) END)
             - avg(CASE WHEN arm = 0 THEN CAST(purchases AS DOUBLE) END) AS diff
      FROM per_user
    ), perm AS (
      SELECT b.b,
             avg(CASE WHEN {h} % 2 = 1 THEN CAST(u.purchases AS DOUBLE) END)
             - avg(CASE WHEN {h} % 2 = 0 THEN CAST(u.purchases AS DOUBLE) END)
               AS diff_b
      FROM (SELECT explode(sequence(0, {_B - 1})) AS b) b
      CROSS JOIN per_user u
      GROUP BY b.b
    )
    SELECT CAST(round((SELECT diff FROM obs), 6) + 0.0 AS DOUBLE) AS obs_diff,
           CAST({_B} AS BIGINT) AS n_perms,
           CAST(sum(CASE WHEN abs(diff_b) >= abs((SELECT diff FROM obs))
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
           CAST(round((1.0 + sum(CASE WHEN abs(diff_b)
                                      >= abs((SELECT diff FROM obs))
                            THEN 1 ELSE 0 END)) / ({_B} + 1), 6) + 0.0
             AS DOUBLE) AS p_value
    FROM perm
    """


@register(
    "k_permutation_ab",
    oracle=_body_permutation(_DUCK_HASH).replace(
        "(SELECT explode(sequence(0, 199)) AS b)", "(SELECT b FROM range(200) t(b))"
    ),
)
def k_permutation_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation test for the A/B purchase-rate difference (odd vs even
    user arms): B=200 md5-deterministic relabelings of USERS (the
    randomization unit — relabeling events would break within-user
    correlation), p = (1 + #{|diff_b| ≥ |obs|})/(B+1), the add-one form
    that never reports p=0. Exact finite-sample inference with no normal
    approximation — the honest check on ``k_ab_ztest`` when per-user
    counts are skewed.

    Scale shape: events reduce to one row per user first; the B×n_users
    relabel table is a single grouped aggregate over B groups."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_body_permutation(_SPARK_HASH))


def _body_welch() -> str:
    # cents quantize at 1e-2, not 1e-4: the SQUARED sum q_i is the int64
    # governor (cents² ≤ ~3.1e9 at this corpus's value range, so the
    # pipeline stays exact to ~10⁹ rows per arm; at 1e-4 it wrapped past
    # ~10⁵–10⁸ rows — the k_embed_isotropy overflow class, where DuckDB
    # widens to HUGEINT and Spark silently wraps, silently diverging).
    return """
    WITH q AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type IN ('purchase', 'view')
    ), s AS (
      SELECT count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n1,
             count(CASE WHEN event_type = 'view' THEN 1 END) AS n2,
             sum(CASE WHEN event_type = 'purchase' THEN cents END) AS s1,
             sum(CASE WHEN event_type = 'view' THEN cents END) AS s2,
             sum(CASE WHEN event_type = 'purchase'
                 THEN cents * cents END) AS q1,
             sum(CASE WHEN event_type = 'view' THEN cents * cents END) AS q2
      FROM q
    ), v AS (
      SELECT n1, n2,
             (s1 * 1.0 / n1 - s2 * 1.0 / n2) AS md,
             (q1 - s1 * 1.0 * s1 / n1) / (n1 - 1) / n1 AS se1,
             (q2 - s2 * 1.0 * s2 / n2) / (n2 - 1) / n2 AS se2
      FROM s
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           CAST(round(md / 100.0, 6) + 0.0 AS DOUBLE) AS mean_diff,
           CAST(round(md / sqrt(se1 + se2), 6) + 0.0 AS DOUBLE) AS t_stat,
           CAST(round((se1 + se2) * (se1 + se2)
                 / (se1 * se1 / (n1 - 1) + se2 * se2 / (n2 - 1)), 2) + 0.0
             AS DOUBLE) AS df_welch
    FROM v
    """


@register("k_welch_t", oracle=_body_welch())
def k_welch_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t statistic for purchase vs view values,
    with the Welch–Satterthwaite degrees of freedom — the default
    two-sample test (pooled-variance Student's t silently assumes equal
    variances; Welch never does worse). All moments accumulate as exact
    integer CENTS so the statistic is identical under any
    partial-aggregation order AND the squared sums stay inside int64 to
    ~10⁹ rows per arm (quantizing at 1e-4 was order-proof but wrapped
    the cents² sum past ~10⁵–10⁸ rows — the isotropy overflow class:
    DuckDB widens to HUGEINT, Spark silently wraps, engines diverge);
    |t| ≥ 1.96 rejects at α=.05 for these df. The effect-size companion
    is ``k_cohens_d``.

    Scale shape: one conditional aggregate, map-side partials."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_body_welch())


def _body_mann_whitney() -> str:
    return """
    WITH lab AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g, value
      FROM events WHERE event_type IN ('purchase', 'click')
    ), grp AS (
      SELECT value, count(*) AS t, sum(g) AS t1 FROM lab GROUP BY value
    ), ordered AS (
      SELECT t, t1,
             coalesce(sum(t) OVER (ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM grp
    ), s AS (
      SELECT sum(t1 * (2 * cum_before + t + 1)) AS r1x2,
             sum(t1) AS n1, sum(t - t1) AS n2,
             sum(CASE WHEN t > 1 THEN t * t * t - t ELSE 0 END) AS tie_mass
      FROM ordered
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           CAST(r1x2 - n1 * (n1 + 1) AS BIGINT) AS u1_x2,
           CAST(round(
             (r1x2 - n1 * (n1 + 1) - n1 * n2)
             / (2 * sqrt(CAST(n1 AS DOUBLE) * n2
                 * ((CAST(n1 + n2 AS DOUBLE) * (n1 + n2) * (n1 + n2)
                     - (n1 + n2)) - tie_mass)
                 / (12 * CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1)))),
             6) + 0.0 AS DOUBLE) AS z_stat
    FROM s
    """


@register("k_mann_whitney", oracle=_body_mann_whitney())
def k_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U for purchase vs click values — the two-sample
    companion of ``k_kruskal_wallis`` and the distribution-free sibling of
    ``k_welch_t``: does one arm's metric stochastically dominate the
    other's, with no normality assumption. The tie-averaged rank sum is
    accumulated per DISTINCT value in doubled units (2·R₁ =
    Σ t₁·(2·cum_before + t + 1)), so every intermediate is an exact
    integer; U and the tie-corrected normal-approximation z fall out of
    one final division. |z| ≥ 1.96 rejects at α=.05. Integer bounds: the
    doubled rank sum is ≤ ~2N², inside int64 to N ≈ 2×10⁹ rows, and the
    BIGINT tie term t³−t wraps when one value repeats ≳ 2×10⁶ times
    (the isotropy overflow class — DuckDB widens to HUGEINT, Spark
    silently wraps); past either bound, coarsen the value grid first.

    Scale shape: groupBy(value) collapses the fact table to its distinct
    values map-side, one ordered window over that (small) spine, then a
    1-row reduce — the same shape as ``k_eval_auc``'s rank-sum identity."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_body_mann_whitney())


def _body_mann_kendall() -> str:
    return """
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
             sum(CAST(round(value * 10000, 0) AS BIGINT)) AS v
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), pairs AS (
      SELECT sign(b.v - a.v) AS s FROM daily a JOIN daily b ON a.d < b.d
    ), tie AS (
      SELECT coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS tie_mass
      FROM (SELECT count(*) AS t FROM daily GROUP BY v
            HAVING count(*) > 1) g
    ), agg AS (
      SELECT CAST(sum(s) AS BIGINT) AS s_stat,
             (SELECT count(*) FROM daily) AS n,
             (SELECT tie_mass FROM tie) AS tie_mass
      FROM pairs
    )
    SELECT CAST(n AS BIGINT) AS n_days, s_stat,
           CAST(round(
             (s_stat - sign(s_stat))
             / sqrt((CAST(n AS DOUBLE) * (n - 1) * (2 * n + 5) - tie_mass)
                    / 18),
             6) + 0.0 AS DOUBLE) AS z_stat
    FROM agg
    """


@register("k_mann_kendall", oracle=_body_mann_kendall())
def k_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall monotonic-trend test on the daily purchase-revenue
    series — the hypothesis-test companion of ``k_theil_sen``'s slope
    estimate: S = Σ_{i<j} sign(xⱼ − xᵢ) with the tie-corrected variance
    n(n−1)(2n+5)/18 and the standard ±1 continuity correction. Values are
    quantized to exact integer ten-thousandths BEFORE the sign, so every
    pairwise comparison is integer-exact cross-engine. |z| ≥ 1.96 reads as
    a significant trend at α=.05.

    Scale shape: the fact table reduces map-side to one row per day; the
    O(days²) pair join runs over that dimension-sized spine (the
    ``k_theil_sen`` pattern), never the fact table."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_body_mann_kendall())


def _body_runs_test() -> str:
    return """
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS d, count(*) AS n_ev
      FROM events GROUP BY 1
    ), diffs AS (
      SELECT d, n_ev - lag(n_ev) OVER (ORDER BY d) AS delta FROM daily
    ), signs AS (
      SELECT d, CASE WHEN delta > 0 THEN 1 ELSE -1 END AS s
      FROM diffs WHERE delta IS NOT NULL AND delta <> 0
    ), runs AS (
      SELECT sum(CASE WHEN lag_s IS NULL OR s <> lag_s THEN 1 ELSE 0 END)
               AS r,
             sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS n_pos,
             sum(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS n_neg
      FROM (SELECT s, lag(s) OVER (ORDER BY d) AS lag_s FROM signs) t
    )
    SELECT CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
           CAST(r AS BIGINT) AS n_runs,
           CAST(round(
             (r - (1 + 2 * CAST(n_pos AS DOUBLE) * n_neg
                       / (n_pos + n_neg)))
             / sqrt(2 * CAST(n_pos AS DOUBLE) * n_neg
                    * (2 * CAST(n_pos AS DOUBLE) * n_neg - n_pos - n_neg)
                    / (CAST(n_pos + n_neg AS DOUBLE)
                       * (n_pos + n_neg) * (n_pos + n_neg - 1))),
             6) + 0.0 AS DOUBLE) AS z_stat
    FROM runs
    """


@register("k_runs_test", oracle=_body_runs_test())
def k_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test on the signs of day-over-day changes in
    daily event volume — the randomness check a monitoring stack runs
    before trusting control-chart limits: too FEW runs means the series is
    trending/sticky (autocorrelated residuals), too MANY means oscillation.
    Zero deltas drop (standard treatment); run count, n₊, n₋ are exact
    integers, and z = (R − μ)/σ with μ = 1 + 2n₊n₋/N is one final double
    expression over them. |z| ≥ 1.96 rejects randomness at α=.05.

    Scale shape: map-side reduce to the day spine, one tiny ordered window
    (lag over ~hundreds of rows), 1-row output."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_body_runs_test())


def _body_friedman() -> str:
    return """
    WITH cell AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS d, event_type,
             sum(CAST(round(value * 10000, 0) AS BIGINT)) AS v
      FROM events GROUP BY 1, 2
    ), k AS (SELECT count(DISTINCT event_type) AS k FROM cell),
    complete AS (
      SELECT d FROM cell GROUP BY d
      HAVING count(*) = (SELECT k FROM k)
    ), ranked AS (
      SELECT c.event_type,
             rank() OVER (PARTITION BY c.d ORDER BY c.v)
               + (count(*) OVER (PARTITION BY c.d, c.v) - 1) / 2.0
               AS midrank
      FROM cell c JOIN complete USING (d)
    ), rj AS (
      SELECT event_type, sum(midrank) AS r_j, count(*) AS n
      FROM ranked GROUP BY event_type
    ), tot AS (
      SELECT count(*) AS k, max(n) AS n, sum(r_j * r_j) AS rr FROM rj
    )
    SELECT CAST(n AS BIGINT) AS n_blocks, CAST(k AS BIGINT) AS k_treatments,
           CAST(round(12.0 / (CAST(n AS DOUBLE) * k * (k + 1)) * rr
                      - 3 * n * (k + 1), 6) + 0.0 AS DOUBLE) AS chi2_stat
    FROM tot
    """


@register("k_friedman_test", oracle=_body_friedman())
def k_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test: blocks = days, treatments = event types, value =
    the day's integer-quantized revenue per type — do the k event types
    keep the same within-day ordering, controlling for day-to-day level
    shifts a Kruskal–Wallis would confound? Only complete blocks (days
    where all k types occur) enter, per the test's definition. Midranks
    are exact half-integers over integer ten-thousandths, so both engines
    produce identical rank sums; χ²_F = 12/(nk(k+1))·ΣR²ⱼ − 3n(k+1) against
    χ²(k−1) ≈ 9.49 at α=.05 for k=5. ΣR²ⱼ accumulates in DOUBLE (midranks
    are half-integers), so the governor is the 2^53 mantissa, not int64:
    R_j ≤ n·k with n = complete days, exact past ~1e7 days — calendar-,
    not corpus-, bounded.

    Scale shape: map-side reduce to the (day × type) grid, per-day rank
    windows over k-row partitions, then a k-row aggregate."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_body_friedman())


def _body_cronbach() -> str:
    return """
    WITH cell AS (
      SELECT user_id, event_type, count(*) AS x
      FROM events GROUP BY 1, 2
    ), n AS (SELECT count(DISTINCT user_id) AS n FROM cell),
    item AS (
      SELECT event_type, sum(x) AS s, sum(x * x) AS q FROM cell GROUP BY 1
    ), item_var AS (
      -- zero-filled sample variance per item: absent (user,item) cells
      -- contribute 0 to both Σx and Σx², so only n enters the fill
      SELECT count(*) AS k,
             sum((CAST(n AS DOUBLE) * q - CAST(s AS DOUBLE) * s)
                 / (CAST(n AS DOUBLE) * (n - 1))) AS sum_item_var
      FROM item, n
    ), person AS (
      SELECT user_id, sum(x) AS r FROM cell GROUP BY 1
    ), total_var AS (
      SELECT (CAST(max(n.n) AS DOUBLE) * sum(r * r)
              - CAST(sum(r) AS DOUBLE) * sum(r))
             / (CAST(max(n.n) AS DOUBLE) * (max(n.n) - 1)) AS var_total
      FROM person, n
    )
    SELECT CAST((SELECT n FROM n) AS BIGINT) AS n_users,
           CAST(k AS BIGINT) AS k_items,
           CAST(round(sum_item_var, 6) + 0.0 AS DOUBLE) AS sum_item_var,
           CAST(round(var_total, 6) + 0.0 AS DOUBLE) AS var_total,
           CAST(round(CAST(k AS DOUBLE) / (k - 1)
                      * (1 - sum_item_var / var_total), 6) + 0.0
             AS DOUBLE) AS cronbach_alpha
    FROM item_var, total_var
    """


@register("k_cronbach_alpha", oracle=_body_cronbach())
def k_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha over the user × event-type count matrix: do the k
    per-type activity counts move together across users (one underlying
    "engagement" trait), the internal-consistency check run before
    collapsing k behavioral signals into one score feature. All variances
    come from integer count power sums (Σx, Σx², zero-filled absent cells
    cost nothing), so the statistic is order-proof; α ≥ 0.7 reads as
    acceptable consistency. int64 overflow governor: per-item Σx² and
    per-user ΣR² are BIGINT sums of squared activity counts (x ≤ ~1e3
    here → x² ≤ 1e6, wraps past ~9e12 users; DuckDB widens to HUGEINT,
    Spark wraps silently) — cap or log-bucket per-cell counts before a
    corpus that approaches it.

    Scale shape: one (user,type) groupBy, then k-row and user-spine
    reduces — shuffle keyed on the natural user key."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_body_cronbach())


def _body_cochran_q() -> str:
    return """
    WITH cnt AS (
      SELECT user_id, event_type, count(*) AS c FROM events GROUP BY 1, 2
    ), cell AS (
      SELECT user_id, event_type FROM cnt WHERE c >= 14
    ), k AS (SELECT count(DISTINCT event_type) AS k FROM cnt),
    col AS (SELECT event_type, count(*) AS c FROM cell GROUP BY 1),
    row_t AS (SELECT user_id, count(*) AS r FROM cell GROUP BY 1),
    s AS (
      SELECT (SELECT max(k) FROM k) AS k,
             (SELECT sum(c * c) FROM col) AS cc,
             sum(r) AS n, sum(r * r) AS rr
      FROM row_t
    )
    SELECT CAST(k AS BIGINT) AS k_treatments,
           CAST(n AS BIGINT) AS n_successes,
           CAST(round((k - 1) * (CAST(k AS DOUBLE) * cc - CAST(n AS DOUBLE) * n)
                      / nullif(CAST(k AS DOUBLE) * n - rr, 0), 6) + 0.0
             AS DOUBLE) AS q_stat
    FROM s
    """


@register("k_cochran_q", oracle=_body_cochran_q())
def k_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q on the binary user × event-type matrix "is this user a
    HEAVY user of this type" (≥14 events — the corpus per-cell median, so
    prevalence ≈ ½ with real per-user variation): are the k types equally
    likely to be heavy across the SAME users — the matched-binary k-sample
    test (McNemar's k-way generalization; ``k_eval_mcnemar`` is the k=2
    case). Q = (k−1)(kΣC²ⱼ − N²)/(kN − ΣR²ᵢ) from pure integer row/column
    totals; compare to χ²(k−1); NULL when every row is constant (zero
    denominator — no within-user contrast to test). All-zero rows
    contribute nothing to either side, per the test's convention.
    int64 overflow governor: ΣC²ⱼ squares per-type heavy-user counts
    (C ≤ n_users), so the BIGINT sum wraps once n_users exceeds
    √(2⁶³/k) ≈ 1.3e9 — sample the user spine before a corpus that
    approaches it (DuckDB widens to HUGEINT, Spark wraps silently).

    Scale shape: one (user,type) groupBy then two spine-sized reduces."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_body_cochran_q())


def _body_srm(hash_to_long: str) -> str:
    h = hash_to_long.format(h="'assign:' || CAST(user_id AS STRING)")
    return f"""
    WITH arms AS (
      SELECT CAST({h} % 2 AS INT) AS arm
      FROM (SELECT DISTINCT user_id FROM events) u
    ), s AS (
      SELECT sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n0,
             sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n1
      FROM arms
    )
    SELECT CAST(n0 AS BIGINT) AS n_arm0, CAST(n1 AS BIGINT) AS n_arm1,
           CAST(round(CAST((n0 - n1) * (n0 - n1) AS DOUBLE) / (n0 + n1), 6)
                + 0.0 AS DOUBLE) AS srm_chi2,
           (CAST((n0 - n1) * (n0 - n1) AS DOUBLE) / (n0 + n1) > 3.84)
             AS srm_alarm
    FROM s
    """


@register("k_srm_check", oracle=_body_srm(_DUCK_HASH))
def k_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail for the deterministic-hash A/B
    assignment the resampling keys use: users split 50/50 by salted md5
    parity; χ² = (n₀−n₁)²/N against χ²(1)=3.84 — the FIRST check any
    experiment readout must pass, because a biased assignment invalidates
    every downstream test no matter how significant (Fabijan et al.'s
    diagnosis taxonomy). Counts are exact integers; the statistic is one
    final division.

    Scale shape: distinct-user spine, map-side conditional count."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_body_srm(_SPARK_HASH))


def _perm_pvals_prefix(hash_to_long: str) -> str:
    """Shared WITH-prefix ending in the ``pvals`` CTE (one exact
    md5-permutation p-value per event type) — consumed by the BH step-up
    (``k_fdr_bh``, FDR) and the Holm step-down (``k_fwer_holm``, FWER)."""
    ha = hash_to_long.format(h="'assign:' || CAST(user_id AS STRING)")
    hp = hash_to_long.format(
        h="'perm:' || CAST(b.b AS STRING) || ':' || CAST(u.user_id AS STRING)"
    )
    return f"""
    WITH per_cell AS (
      SELECT user_id, event_type, count(*) AS x
      FROM events GROUP BY 1, 2
    ), users AS (SELECT DISTINCT user_id FROM per_cell),
    arms AS (
      SELECT user_id, CAST({ha} % 2 AS INT) AS arm FROM users
    ), n_arm AS (
      SELECT sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n1,
             sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n0
      FROM arms
    ), obs AS (
      SELECT c.event_type,
             CAST(sum(CASE WHEN a.arm = 1 THEN c.x ELSE 0 END) AS DOUBLE)
               / max(n.n1)
             - CAST(sum(CASE WHEN a.arm = 0 THEN c.x ELSE 0 END) AS DOUBLE)
               / max(n.n0) AS d
      FROM per_cell c JOIN arms a USING (user_id) CROSS JOIN n_arm n
      GROUP BY c.event_type
    ), perm_assign AS (
      -- Hash each (user, replicate) ONCE: the old shape recomputed the
      -- md5 parity inside every CASE branch of both perm CTEs — B x
      -- |cells| x 2 digests; this is B x |users|, a ~6x cut in hash work
      -- at sf0.1 (same exact parities, so the p-values are bit-identical).
      SELECT u.user_id, b.b, CAST({hp} % 2 AS INT) AS pb
      FROM users u
      CROSS JOIN (SELECT explode(sequence(0, {_B - 1})) AS b) b
    ), perm_n AS (
      SELECT b, sum(pb) AS n1b, sum(1 - pb) AS n0b
      FROM perm_assign GROUP BY b
    ), perm AS (
      SELECT c.event_type, pa.b,
             CAST(sum(CASE WHEN pa.pb = 1 THEN c.x ELSE 0 END) AS DOUBLE)
               / max(pn.n1b)
             - CAST(sum(CASE WHEN pa.pb = 0 THEN c.x ELSE 0 END) AS DOUBLE)
               / max(pn.n0b) AS d_b
      FROM per_cell c
      JOIN perm_assign pa USING (user_id)
      JOIN perm_n pn ON pn.b = pa.b
      GROUP BY c.event_type, pa.b
    ), pvals AS (
      SELECT o.event_type,
             1 + sum(CASE WHEN abs(p.d_b) >= abs(o.d) THEN 1 ELSE 0 END)
               AS p_num
      FROM obs o JOIN perm p USING (event_type)
      GROUP BY o.event_type
    )"""


@corpus_memo
def _perm_pvals_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, p_num) — the exact md5-permutation p-value FAMILY the
    multiple-testing corrections consume, materialized from
    ``_perm_pvals_prefix`` and memoized per (session, corpus dir). The
    B=200-replicate permutation scan is the whole cost of this family
    (B×|users| parities + B×cells grouped diffs); BH (``k_fdr_bh``) and
    Holm (``k_fwer_holm``) then run on an m-row spine. A production
    readout computes the family's p-values ONCE and applies every
    correction it reports from that table — the memo mirrors that, at
    session scope (the same pattern as the shingle-hash memo in
    ``queries/llm.py``)."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        _perm_pvals_prefix(_SPARK_HASH) + " SELECT event_type, p_num FROM pvals"
    )


def _body_fdr_bh(hash_to_long: str) -> str:
    return _perm_pvals_prefix(hash_to_long) + f""", ranked AS (
      SELECT event_type, p_num,
             row_number() OVER (ORDER BY p_num, event_type) AS r,
             count(*) OVER () AS m
      FROM pvals
    ), cutoff AS (
      SELECT coalesce(max(CASE WHEN 20 * p_num * m <= r * {_B + 1}
                                THEN r END), 0) AS r_max
      FROM ranked
    )
    SELECT rk.event_type, CAST(rk.p_num AS BIGINT) AS p_num,
           CAST({_B + 1} AS BIGINT) AS p_den,
           CAST(rk.r AS BIGINT) AS p_rank,
           (rk.r <= c.r_max) AS significant
    FROM ranked rk CROSS JOIN cutoff c
    """


@register(
    "k_fdr_bh",
    oracle=_body_fdr_bh(_DUCK_HASH).replace(
        "(SELECT explode(sequence(0, 199)) AS b)",
        "(SELECT b FROM range(200) t(b))",
    ),
)
def k_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Hochberg FDR control over a FAMILY of exact permutation
    tests: one md5-permutation p-value per event type (does the hash-
    assigned arm shift this type's per-user count?), then the BH step-up —
    keep every hypothesis ranked at or below the largest r with
    p_(r) ≤ α·r/m (α=.05) — evaluated as the pure integer comparison
    20·p_num·m ≤ r·(B+1), so the whole multiple-testing decision is
    exact rational arithmetic (the correction every dashboard that tests
    5 metrics per release needs and almost none applies; the single-test
    sibling is ``k_permutation_ab``).

    Each permuted replicate divides by the per-parity USER count over the
    FULL user spine (``perm_n``) — the same zero-filled denominator the
    observed statistic uses — so the permutation distribution is of the
    SAME statistic even when some users lack events of a type (ADVICE
    r04: the old per-cell denominator biased p-values on sparse inputs).

    Scale shape: the only corpus-sized work is the (user,type) reduce;
    permutation diffs aggregate B×|users|×k CELL rows (never B×N events)
    in one grouped pass — and that pass lives in the session-memoized
    p-value family (``_perm_pvals_df``) shared with ``k_fwer_holm``, so
    each correction itself is pure m-row spine algebra. The single-
    partition rank window is the m-row spine, not data."""
    pv = _perm_pvals_df(spark, sf_dir)
    ranked = pv.select(
        "event_type",
        "p_num",
        F.row_number()
        .over(Window.orderBy("p_num", "event_type"))
        .alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("m"),
    )
    # BH step-up: largest r with 20*p_num*m <= r*(B+1); 1-row aggregate,
    # broadcast is bounded by construction.
    cutoff = ranked.agg(
        F.coalesce(
            F.max(
                F.when(
                    20 * F.col("p_num") * F.col("m")
                    <= F.col("r") * (_B + 1),
                    F.col("r"),
                )
            ),
            F.lit(0),
        ).alias("r_max")
    )
    return ranked.crossJoin(F.broadcast(cutoff)).select(
        "event_type",
        F.col("p_num").cast("long"),
        F.lit(_B + 1).cast("long").alias("p_den"),
        F.col("r").cast("long").alias("p_rank"),
        (F.col("r") <= F.col("r_max")).alias("significant"),
    )


def _body_power_mde(hash_to_long: str) -> str:
    ha = hash_to_long.format(h="'assign:' || CAST(user_id AS STRING)")
    return f"""
    WITH per_user AS (
      SELECT user_id,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS x
      FROM events GROUP BY user_id
    ), armed AS (
      SELECT CAST({ha} % 2 AS INT) AS arm, x FROM per_user
    ), s AS (
      SELECT sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n0,
             sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n1,
             sum(CASE WHEN arm = 0 THEN x ELSE 0 END) AS s0,
             sum(CASE WHEN arm = 1 THEN x ELSE 0 END) AS s1,
             sum(CASE WHEN arm = 0 THEN x * x ELSE 0 END) AS q0,
             sum(CASE WHEN arm = 1 THEN x * x ELSE 0 END) AS q1
      FROM armed
    ), v AS (
      SELECT n0, n1, s0, s1,
             (CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE) * s0 / n0) / (n0 - 1)
               AS v0,
             (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1)
               AS v1
      FROM s
    )
    SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
           CAST(round(CAST(s0 AS DOUBLE) / n0, 6) + 0.0 AS DOUBLE)
             AS mean_ctrl,
           CAST(round(sqrt(v0 / n0 + v1 / n1), 6) + 0.0 AS DOUBLE) AS se,
           CAST(round(2.801585 * sqrt(v0 / n0 + v1 / n1), 6) + 0.0
             AS DOUBLE) AS mde_abs,
           CAST(floor(2.801585 * sqrt(v0 / n0 + v1 / n1)
                      / (CAST(s0 AS DOUBLE) / n0) * 10000) AS BIGINT)
             AS mde_rel_bp
    FROM v
    """


@register("k_power_mde", oracle=_body_power_mde(_DUCK_HASH))
def k_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect at 80% power / α=.05 two-sided for the
    purchase-count metric under the md5 hash assignment: MDE =
    (z_{.975}+z_{.80})·SE = 2.801585·√(v₀/n₀+v₁/n₁) — the experiment-
    DESIGN number that belongs in front of every test in this module: if
    the effect you care about is smaller than the MDE, don't run the
    experiment, size it up. Per-user counts are integers, both variances
    come from exact power sums, and the z-constant is a shared literal —
    every output is a deterministic function of identical integers.

    Scale shape: one per-user reduce then a single conditional aggregate
    (map-side partials); 1-row output."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_body_power_mde(_SPARK_HASH))


def _body_did(hash_to_long: str) -> str:
    ha = hash_to_long.format(h="'assign:' || CAST(user_id AS STRING)")
    return f"""
    WITH base AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS d,
             CAST(round(value * 100, 0) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ), lim AS (SELECT min(d) AS d0 FROM base),
    cell AS (
      SELECT CAST({ha} % 2 AS INT) AS arm,
             CASE WHEN b.d >= l.d0 + 15 THEN 1 ELSE 0 END AS post,
             sum(b.cents) AS s, count(*) AS n
      FROM base b CROSS JOIN lim l
      GROUP BY 1, 2
    ), m AS (
      SELECT max(CASE WHEN arm = 1 AND post = 1
                      THEN CAST(s AS DOUBLE) / n END) AS t_post,
             max(CASE WHEN arm = 1 AND post = 0
                      THEN CAST(s AS DOUBLE) / n END) AS t_pre,
             max(CASE WHEN arm = 0 AND post = 1
                      THEN CAST(s AS DOUBLE) / n END) AS c_post,
             max(CASE WHEN arm = 0 AND post = 0
                      THEN CAST(s AS DOUBLE) / n END) AS c_pre,
             sum(n) AS n_events
      FROM cell
    )
    SELECT CAST(n_events AS BIGINT) AS n_events,
           CAST(round((t_post - t_pre) / 100, 6) + 0.0 AS DOUBLE)
             AS treated_delta,
           CAST(round((c_post - c_pre) / 100, 6) + 0.0 AS DOUBLE)
             AS control_delta,
           CAST(round(((t_post - t_pre) - (c_post - c_pre)) / 100, 6) + 0.0
             AS DOUBLE) AS did
    FROM m
    """


@register("k_did_estimator", oracle=_body_did(_DUCK_HASH))
def k_did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences on mean purchase value: md5-hash arms ×
    pre/post periods (split 15 days after the first observed day), DiD =
    (T_post−T_pre) − (C_post−C_pre) — the design that nets out both the
    stable arm difference AND the common time trend, which a naive
    post-only comparison confounds. Every cell mean is a double division
    of exact integer cent sums, so the estimate is deterministic
    cross-engine. Under the null (hash assignment is random) DiD ≈ 0 —
    this key doubles as an A/A validity probe of the period split.

    Scale shape: one 4-cell conditional aggregate with map-side partials;
    the period boundary is one broadcast scalar."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_body_did(_SPARK_HASH))


def _body_propensity_strata() -> str:
    return """
    WITH per_user AS (
      SELECT user_id, count(*) AS activity,
             sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS clicks,
             sum(CASE WHEN event_type = 'purchase'
                 THEN CAST(round(value * 100, 0) AS BIGINT) ELSE 0 END)
               AS purchase_cents
      FROM events GROUP BY user_id
    ), strat AS (
      SELECT user_id,
             ntile(5) OVER (ORDER BY activity, user_id) AS stratum,
             CASE WHEN clicks >= 14 THEN 1 ELSE 0 END AS treated,
             purchase_cents
      FROM per_user
    ), cell AS (
      SELECT stratum,
             sum(CASE WHEN treated = 1 THEN 1 ELSE 0 END) AS n_t,
             sum(CASE WHEN treated = 0 THEN 1 ELSE 0 END) AS n_c,
             sum(CASE WHEN treated = 1 THEN purchase_cents ELSE 0 END) AS s_t,
             sum(CASE WHEN treated = 0 THEN purchase_cents ELSE 0 END) AS s_c,
             count(*) AS n_s
      FROM strat GROUP BY stratum
    ), ok AS (
      SELECT *, CAST(s_t AS DOUBLE) / n_t - CAST(s_c AS DOUBLE) / n_c
               AS diff_c
      FROM cell WHERE n_t > 0 AND n_c > 0
    )
    SELECT CAST(stratum AS INT) AS stratum,
           CAST(n_t AS BIGINT) AS n_treated,
           CAST(n_c AS BIGINT) AS n_control,
           CAST(round(diff_c / 100, 4) + 0.0 AS DOUBLE) AS stratum_diff,
           CAST(round(sum(diff_c * n_s) OVER () / sum(n_s) OVER () / 100, 4)
                + 0.0 AS DOUBLE) AS ate_stratified
    FROM ok
    """


@register("k_propensity_strata", oracle=_body_propensity_strata())
def k_propensity_strata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified (sub-classification) treatment-effect estimate for an
    OBSERVATIONAL contrast: does heavy clicking (≥14 clicks) associate
    with higher purchase spend once overall activity is controlled for?
    Users stratify into activity quintiles (the one-dimensional
    propensity proxy — Cochran's classic 5-subclass design removes ~90%
    of confounder bias); within each stratum treated/control spend means
    difference, and the ATE pools strata by size. Deterministic ntile
    (activity, user_id tiebreak), integer cent sums, double divisions —
    exact cross-engine. The honest contrast with ``k_did_estimator``:
    no randomization here, so this estimates association under
    selection-on-observables.

    Scale shape: per-user reduce, one ntile window over the user spine,
    5-row aggregate."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_body_propensity_strata())


def _body_bucket_independence(hash_to_long: str) -> str:
    h1 = hash_to_long.format(h="'assign:' || CAST(user_id AS STRING)")
    h2 = hash_to_long.format(h="'exp2:' || CAST(user_id AS STRING)")
    return f"""
    WITH arms AS (
      SELECT CAST({h1} % 2 AS INT) AS arm1,
             CAST({h2} % 2 AS INT) AS arm2
      FROM (SELECT DISTINCT user_id FROM events) u
    ), cell AS (
      SELECT arm1, arm2, count(*) AS o FROM arms GROUP BY 1, 2
    ), s AS (
      SELECT sum(CASE WHEN arm1 = 0 AND arm2 = 0 THEN o ELSE 0 END) AS a,
             sum(CASE WHEN arm1 = 0 AND arm2 = 1 THEN o ELSE 0 END) AS b,
             sum(CASE WHEN arm1 = 1 AND arm2 = 0 THEN o ELSE 0 END) AS c,
             sum(CASE WHEN arm1 = 1 AND arm2 = 1 THEN o ELSE 0 END) AS d,
             sum(o) AS n
      FROM cell
    )
    SELECT CAST(a AS BIGINT) AS n00, CAST(b AS BIGINT) AS n01,
           CAST(c AS BIGINT) AS n10, CAST(d AS BIGINT) AS n11,
           CAST(round(CAST(n AS DOUBLE)
                 * (CAST(a AS DOUBLE) * d - CAST(b AS DOUBLE) * c)
                 * (CAST(a AS DOUBLE) * d - CAST(b AS DOUBLE) * c)
                 / (CAST(a + b AS DOUBLE) * (c + d) * (a + c) * (b + d)),
                 6) + 0.0 AS DOUBLE) AS chi2_indep,
           CAST(round((CAST(a AS DOUBLE) * d - CAST(b AS DOUBLE) * c)
                 / sqrt(CAST(a + b AS DOUBLE) * (c + d) * (a + c) * (b + d)),
                 6) + 0.0 AS DOUBLE) AS phi
    FROM s
    """


@register("k_bucket_independence", oracle=_body_bucket_independence(_DUCK_HASH))
def k_bucket_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-reuse carryover audit: are the arm assignments of two
    experiments (different salts over the same user universe) statistically
    independent? χ² of the 2×2 assignment cross-tab + the φ coefficient —
    the check that catches salt collisions / copied bucket configs, where
    experiment 2 inherits experiment 1's treatment effects as hidden bias
    (the overlapping-experiment problem every layered A/B platform
    guards). Exact integer cell counts, two final divisions; χ² ≤ 3.84
    and φ ≈ 0 certify independence.

    Scale shape: distinct-user spine, one 4-cell conditional reduce."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_body_bucket_independence(_SPARK_HASH))


def _body_group_sequential(hash_to_long: str) -> str:
    ha = hash_to_long.format(h="'assign:' || CAST(user_id AS STRING)")
    # q quantizes at 1e-2 cents, not 1e-4: the cumulative SQUARED sum ss
    # is the int64 governor (the k_welch_t rule — q² ≤ ~3.1e9 at this
    # value range keeps ss exact to ~10⁹ rows per (look, arm); at 1e-4 it
    # wrapped past ~3×10⁵ rows, silently diverging from DuckDB's HUGEINT).
    return f"""
    WITH base AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS d,
             CAST(round(value * 100, 0) AS BIGINT) AS q
      FROM events WHERE event_type = 'purchase'
    ), lim AS (SELECT min(d) AS d0 FROM base),
    looks AS (
      SELECT b.user_id, b.q, CAST({ha} % 2 AS INT) AS arm,
             1 + CASE WHEN b.d >= l.d0 + 6 THEN 1 ELSE 0 END
               + CASE WHEN b.d >= l.d0 + 12 THEN 1 ELSE 0 END
               + CASE WHEN b.d >= l.d0 + 18 THEN 1 ELSE 0 END
               + CASE WHEN b.d >= l.d0 + 24 THEN 1 ELSE 0 END AS phase
      FROM base b CROSS JOIN lim l
    ), cum AS (
      SELECT lk.look, l.arm,
             sum(l.q) AS s, count(*) AS n, sum(l.q * l.q) AS ss
      FROM looks l
      JOIN (SELECT explode(sequence(1, 5)) AS look) lk
        ON l.phase <= lk.look
      GROUP BY lk.look, l.arm
    ), wide AS (
      SELECT look,
             max(CASE WHEN arm = 1 THEN s END) AS s1,
             max(CASE WHEN arm = 1 THEN n END) AS n1,
             max(CASE WHEN arm = 1 THEN ss END) AS ss1,
             max(CASE WHEN arm = 0 THEN s END) AS s0,
             max(CASE WHEN arm = 0 THEN n END) AS n0,
             max(CASE WHEN arm = 0 THEN ss END) AS ss0
      FROM cum GROUP BY look
    ), z AS (
      SELECT look, n1, n0,
             (CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0)
             / sqrt((CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1)
                      / (n1 - 1) / n1
                    + (CAST(ss0 AS DOUBLE) - CAST(s0 AS DOUBLE) * s0 / n0)
                      / (n0 - 1) / n0) AS z_look
      FROM wide
    )
    SELECT CAST(look AS INT) AS look,
           CAST(n1 + n0 AS BIGINT) AS n_cum,
           CAST(round(z_look, 6) + 0.0 AS DOUBLE) AS z_look,
           (abs(z_look) > 2.413) AS crosses_pocock
    FROM z
    """


@register(
    "k_group_sequential",
    oracle=_body_group_sequential(_DUCK_HASH).replace(
        "(SELECT explode(sequence(1, 5)) AS look)",
        "(SELECT CAST(b + 1 AS INT) AS look FROM range(5) t(b))",
    ),
)
def k_group_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-sequential A/B monitoring with Pocock boundaries: five interim
    looks (6-day phases), cumulative two-sample z at each, compared to the
    constant Pocock critical value 2.413 (K=5, α=.05 overall) — the
    peeking-safe alternative to eyeballing a dashboard z-test daily, which
    inflates false positives several-fold (the companion of ``k_ab_sprt``:
    SPRT is fully-sequential, this is the scheduled-looks design). All
    cumulative moments are exact integer power sums; each look's z is a
    deterministic double expression over them. int64 overflow governor:
    q quantizes at 1e-2 cents SIZED TO THE SQUARED TERM (q² ≤ ~3.1e9 at
    this value range keeps the cumulative ss exact to ~10⁹ rows per
    (look, arm); the 1e-4 grid wrapped past ~3e5 rows, silently
    diverging from DuckDB's HUGEINT — the round-6 requantization).

    Scale shape: one (look×arm) conditional aggregate via a 5-row
    broadcast expansion of per-phase partials — the fact table is read
    once."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_body_group_sequential(_SPARK_HASH))


def _body_conformal(hash_to_long: str) -> str:
    h = hash_to_long.format(h="'conf:' || CAST(user_id AS STRING)")
    return f"""
    WITH armed AS (
      SELECT event_type, value, event_id,
             CAST({h} % 2 AS INT) AS part
      FROM events
    ), center AS (
      SELECT event_type, value AS m
      FROM (
        SELECT event_type, value,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY value, event_id) AS rn,
               count(*) OVER (PARTITION BY event_type) AS cnt
        FROM armed WHERE part = 0
      ) r
      WHERE rn = CAST(floor((cnt + 1) / 2) AS BIGINT)
    ), scored AS (
      SELECT a.event_type, abs(a.value - c.m) AS score, a.event_id
      FROM armed a JOIN center c USING (event_type)
      WHERE a.part = 1
    ), ranked AS (
      SELECT event_type, score,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY score, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n_cal
      FROM scored
    ), qhat AS (
      SELECT event_type, max(n_cal) AS n_cal,
             min(CASE WHEN rn = CAST(least(
                    floor(((n_cal + 1) * 9 + 9) / 10), n_cal) AS BIGINT)
                 THEN score END) AS q
      FROM ranked GROUP BY event_type
    ), cov AS (
      SELECT s.event_type,
             sum(CASE WHEN s.score <= q.q THEN 1 ELSE 0 END) AS n_in
      FROM scored s JOIN qhat q USING (event_type)
      GROUP BY s.event_type
    )
    SELECT q.event_type,
           (SELECT CAST(count(*) AS BIGINT) FROM armed a
            WHERE a.part = 0 AND a.event_type = q.event_type) AS n_train,
           CAST(q.n_cal AS BIGINT) AS n_cal,
           CAST(round(c.m, 6) + 0.0 AS DOUBLE) AS center,
           CAST(round(q.q, 6) + 0.0 AS DOUBLE) AS qhat,
           CAST(floor(cov.n_in * 1000000 / q.n_cal) AS BIGINT)
             AS coverage_ppm
    FROM qhat q JOIN center c USING (event_type)
    JOIN cov USING (event_type)
    """


@register("k_conformal_interval", oracle=_body_conformal(_DUCK_HASH))
def k_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval (Vovk's distribution-free
    coverage guarantee, the Papadopoulos et al. 2002 inductive split) for
    the per-event value: the md5-parity TRAIN split fits the predictor
    (here the lower-median center — one actual value, rank-selected with
    the ``k_theil_sen`` integer-rank convention), the CALIBRATION split
    ranks absolute residuals, and q̂ is the ⌈(n+1)·0.9⌉-th smallest score
    — so [center−q̂, center+q̂] covers ≥90% of future draws with NO
    distributional assumption. The empirical calibration coverage ships
    as exact floor-ppm; by construction it lands at or just above
    900000, which is the self-check a conformal deployment monitors.

    Everything is rank statistics on actual data values (no means of
    doubles), so both engines select bit-identical numbers; the quantile
    index uses pure integer arithmetic (ceil via (a+b-1)/b floor form,
    clamped to n_cal). Scale shape: two window passes partitioned by
    event_type plus spine-sized joins — corpus-sized work is one scan.

    r13: the WITH-chain references `armed` 4+ ways (center, scored via
    ranked AND cov, the n_train correlated subquery) and Spark inlines
    per reference, so the pure-SQL form re-scanned events up to 8x.
    The Spark side now (a) reduces the TRAIN half to a checkpointed
    per-type spine (center + n_train) in one pass, (b) ranks the CAL
    half once, folding `cov` into the same window pass via the
    (event_type, score)-partitioned max(rn) identity: with rows ordered
    by (score, event_id), count(score <= qhat) = max rank within qhat's
    score-tie group — the second window reuses the first one's sort.
    Two corpus scans total, interleaved A/B 1.68 -> 1.23 s min at sf0.1
    (new wins all 5 reps; plan: 8 events scans -> 1 + spine);
    the DuckDB oracle keeps the single WITH-chain (it materializes
    multi-referenced CTEs, so the chain is already one-scan there)."""
    import uuid

    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    h = _SPARK_HASH.format(h="'conf:' || CAST(user_id AS STRING)")
    spine_sql = f"""
    SELECT event_type,
           min(CASE WHEN rn = CAST(floor((cnt + 1) / 2) AS BIGINT)
               THEN value END) AS m,
           max(cnt) AS n_train
    FROM (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS cnt
      FROM events WHERE CAST({h} % 2 AS INT) = 0
    ) r
    GROUP BY event_type
    """
    view = f"dss_conf_spine_{uuid.uuid4().hex[:12]}"
    spark.sql(spine_sql).localCheckpoint().createOrReplaceTempView(view)
    try:
        return spark.sql(f"""
        WITH scored AS (
          SELECT a.event_type, abs(a.value - c.m) AS score, a.event_id
          FROM events a JOIN {view} c USING (event_type)
          WHERE CAST({h.replace("user_id", "a.user_id")} % 2 AS INT) = 1
        ), ranked AS (
          SELECT event_type, score,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY score, event_id) AS rn,
                 count(*) OVER (PARTITION BY event_type) AS n_cal
          FROM scored
        ), tied AS (
          SELECT event_type, score, rn, n_cal,
                 max(rn) OVER (PARTITION BY event_type, score) AS rn_tie_max
          FROM ranked
        ), qagg AS (
          SELECT event_type, max(n_cal) AS n_cal,
                 min(CASE WHEN rn = CAST(least(
                        floor(((n_cal + 1) * 9 + 9) / 10), n_cal) AS BIGINT)
                     THEN score END) AS q,
                 min(CASE WHEN rn = CAST(least(
                        floor(((n_cal + 1) * 9 + 9) / 10), n_cal) AS BIGINT)
                     THEN CAST(rn_tie_max AS BIGINT) END) AS n_in
          FROM tied GROUP BY event_type
        )
        SELECT q.event_type,
               CAST(c.n_train AS BIGINT) AS n_train,
               CAST(q.n_cal AS BIGINT) AS n_cal,
               CAST(round(c.m, 6) + 0.0 AS DOUBLE) AS center,
               CAST(round(q.q, 6) + 0.0 AS DOUBLE) AS qhat,
               CAST(floor(q.n_in * 1000000 / q.n_cal) AS BIGINT)
                 AS coverage_ppm
        FROM qagg q JOIN {view} c USING (event_type)
        """)
    finally:
        spark.catalog.dropTempView(view)


def _body_holm(hash_to_long: str) -> str:
    return _perm_pvals_prefix(hash_to_long) + f""", ranked AS (
      SELECT event_type, p_num,
             row_number() OVER (ORDER BY p_num, event_type) AS r,
             count(*) OVER () AS m
      FROM pvals
    ), flagged AS (
      SELECT event_type, p_num, r, m,
             CASE WHEN 20 * p_num * (m - r + 1) <= {_B + 1}
                  THEN 1 ELSE 0 END AS pass_i
      FROM ranked
    ), cut AS (
      SELECT coalesce(min(CASE WHEN pass_i = 0 THEN r END),
                      max(m) + 1) AS first_fail
      FROM flagged
    )
    SELECT f.event_type, CAST(f.p_num AS BIGINT) AS p_num,
           CAST({_B + 1} AS BIGINT) AS p_den,
           CAST(f.r AS BIGINT) AS p_rank,
           CAST(f.m - f.r + 1 AS BIGINT) AS holm_divisor,
           (f.r < c.first_fail) AS significant
    FROM flagged f CROSS JOIN cut c
    """


@register(
    "k_fwer_holm",
    oracle=_body_holm(_DUCK_HASH).replace(
        "(SELECT explode(sequence(0, 199)) AS b)",
        "(SELECT b FROM range(200) t(b))",
    ),
)
def k_fwer_holm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holm–Bonferroni step-DOWN over the same exact-permutation p-value
    family as ``k_fdr_bh`` (shared ``_perm_pvals_prefix`` CTEs — the two
    corrections are hash-checked against the SAME p-values): reject
    hypotheses in increasing-p order while p_(i) ≤ α/(m−i+1), stop at the
    first failure — uniformly more powerful than plain Bonferroni while
    controlling FWER (the stricter guarantee a launch/no-launch decision
    wants, vs BH's FDR for exploratory triage; run both, read the one
    matching the decision's cost). The step-down gate is the pure integer
    comparison 20·p_num·(m−i+1) ≤ B+1 and the stop-at-first-failure is a
    min over the failing ranks — exact rational arithmetic end to end,
    no erf anywhere (Spark 4.1.2 and DuckDB 1.0 both lack it).

    Scale shape: identical to ``k_fdr_bh`` — the corpus-sized permutation
    pass lives in the shared session-memoized p-value family
    (``_perm_pvals_df``); the step-down itself is m-row spine algebra
    (the single-partition rank window is over m event types, not data)."""
    pv = _perm_pvals_df(spark, sf_dir)
    ranked = pv.select(
        "event_type",
        "p_num",
        F.row_number()
        .over(Window.orderBy("p_num", "event_type"))
        .alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("m"),
    )
    flagged = ranked.withColumn(
        "pass_i",
        F.when(
            20 * F.col("p_num") * (F.col("m") - F.col("r") + 1)
            <= F.lit(_B + 1),
            1,
        ).otherwise(0),
    )
    # Stop at the first failing rank (min over failures; all-pass ->
    # m + 1); 1-row aggregate, broadcast is bounded by construction.
    cut = flagged.agg(
        F.coalesce(
            F.min(F.when(F.col("pass_i") == 0, F.col("r"))),
            F.max("m") + 1,
        ).alias("first_fail")
    )
    return flagged.crossJoin(F.broadcast(cut)).select(
        "event_type",
        F.col("p_num").cast("long"),
        F.lit(_B + 1).cast("long").alias("p_den"),
        F.col("r").cast("long").alias("p_rank"),
        (F.col("m") - F.col("r") + 1).cast("long").alias("holm_divisor"),
        (F.col("r") < F.col("first_fail")).alias("significant"),
    )


def _body_qini(hash_to_long: str) -> str:
    h = hash_to_long.format(h="'assign:' || CAST(user_id AS STRING)")
    return f"""
    WITH per_user AS (
      SELECT user_id,
             sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS views,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
      FROM events GROUP BY user_id
    ), armed AS (
      SELECT user_id, views, converted,
             CAST({h} % 2 AS INT) AS arm
      FROM per_user
    ), ranked AS (
      SELECT *, row_number() OVER (ORDER BY views DESC, user_id) AS rn,
             count(*) OVER () AS n
      FROM armed
    ), deciles AS (
      SELECT CAST(d.d AS INT) AS decile, r.arm, r.converted
      FROM ranked r
      JOIN (SELECT unnest(generate_series(1, 10)) AS d) d
        ON r.rn * 10 <= r.n * d.d
    ), agg AS (
      SELECT decile,
             sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n_t,
             sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n_c,
             sum(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS conv_t,
             sum(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS conv_c
      FROM deciles GROUP BY decile
    )
    SELECT decile, CAST(n_t AS BIGINT) AS n_t, CAST(n_c AS BIGINT) AS n_c,
           CAST(conv_t AS BIGINT) AS conv_t, CAST(conv_c AS BIGINT) AS conv_c,
           -- guard n_c = 0 (a decile whose users all hashed to treatment):
           -- emit NULL rather than engine-divergent div-by-zero behavior,
           -- mirroring the zero-class exclusions in k_feature_woe
           CAST(CASE WHEN n_c = 0 THEN NULL
                ELSE floor((CAST(conv_t AS DOUBLE)
                            - CAST(conv_c AS DOUBLE) * n_t / n_c) * 1000)
                END AS BIGINT) AS qini_milli
    FROM agg
    """


@register(
    "k_uplift_qini",
    oracle=_body_qini(_DUCK_HASH).replace(
        "(SELECT unnest(generate_series(1, 10)) AS d)",
        "(SELECT d FROM range(1, 11) t(d))",
    ),
)
def k_uplift_qini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini curve for uplift targeting (Radcliffe 2007): rank users by a
    deterministic targeting score (pre-period view engagement), then at
    each decile of the ranking report cumulative incremental conversions
    Qini(k) = conv_T(k) − conv_C(k)·N_T(k)/N_C(k) under the md5-parity
    arm assignment — the experimentation-side answer to "whom should the
    treatment target": a score with real uplift signal bends the curve
    above the diagonal; a useless one tracks it. The area between IS the
    Qini coefficient; the per-decile table is what a targeting policy
    review reads. Completes the causal panel (``k_ab_ztest``/CUPED
    estimate the average effect, ``k_did_estimator``/
    ``k_propensity_strata`` de-bias it, this HETEROGENEITY view decides
    where it concentrates).

    Counts are exact integers; the control-scaling term is one final
    double (same expression both engines), emitted floor-milli. The
    cumulative deciles materialize as a 10-way spine join (each user row
    feeds every decile at or above its rank decile — a 10× fan-out of
    the user spine, not the event table). Scale shape: one (user)
    reduce, one rank window over the user spine, spine-sized joins."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        _body_qini(_SPARK_HASH).replace(
            "(SELECT unnest(generate_series(1, 10)) AS d)",
            "(SELECT explode(sequence(1, 10)) AS d)",
        )
    )


# ------------------------------------------------------- Bayesian A/B ----

# Abramowitz & Stegun 7.1.26 rational erf approximation (|ε| < 1.5e-7):
# both engines evaluate this identical polynomial, so Φ agrees to ~1e-7 —
# far inside the 4dp rounding guard. Spark/DuckDB ship no erf builtin.
_AB_ERF = (
    "(1.0 - (0.254829592 * (1.0 / (1.0 + 0.3275911 * abs({x})))"
    " - 0.284496736 * pow(1.0 / (1.0 + 0.3275911 * abs({x})), 2.0)"
    " + 1.421413741 * pow(1.0 / (1.0 + 0.3275911 * abs({x})), 3.0)"
    " - 1.453152027 * pow(1.0 / (1.0 + 0.3275911 * abs({x})), 4.0)"
    " + 1.061405429 * pow(1.0 / (1.0 + 0.3275911 * abs({x})), 5.0))"
    " * exp(-({x}) * ({x})))"
)


def _ab_phi(x: str) -> str:
    """Φ(z) = ½(1 + sign(z)·erf(|z|/√2)) as engine-neutral SQL text."""
    e = _AB_ERF.format(x=f"(({x}) / sqrt(2.0))")
    return (
        f"(0.5 * (1.0 + (CASE WHEN ({x}) < 0 THEN -1.0 ELSE 1.0 END)"
        f" * {e}))"
    )


def _body_ab_bayes() -> str:
    """Shared ANSI body (Spark temp-view `events` / DuckDB view)."""
    phi = _ab_phi(
        # Denominator cubes promote to DOUBLE via the leading 1.0 factor
        # BEFORE multiplying: (n+2)^3 in BIGINT exceeds 2^63 once an arm
        # passes ~2.1M distinct users — Spark (ANSI off) would wrap
        # silently while DuckDB errors (ADVICE r11).
        "(cb * 1.0 / (cb + db) - ca * 1.0 / (ca + da))"
        " / sqrt(ca * 1.0 * da"
        "        / ((ca + da) * 1.0 * (ca + da) * (ca + da + 1))"
        "      + cb * 1.0 * db"
        "        / ((cb + db) * 1.0 * (cb + db) * (cb + db + 1)))"
    )
    return f"""
    WITH cohorts AS (
      SELECT user_id % 2 AS cohort,
             count(DISTINCT user_id) AS n_users,
             count(DISTINCT CASE WHEN event_type = 'purchase'
                                      AND value > 200
                                 THEN user_id END) AS n_converted
      FROM events GROUP BY user_id % 2
    ), wide AS (
      SELECT
        max(CASE WHEN cohort = 0 THEN n_users END) AS na,
        max(CASE WHEN cohort = 0 THEN n_converted END) AS xa,
        max(CASE WHEN cohort = 1 THEN n_users END) AS nb,
        max(CASE WHEN cohort = 1 THEN n_converted END) AS xb
      FROM cohorts
    ), post AS (
      -- Beta(1 + conversions, 1 + failures) posterior parameters
      SELECT na, xa, nb, xb,
             1 + xa AS ca, 1 + na - xa AS da,
             1 + xb AS cb, 1 + nb - xb AS db
      FROM wide
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(xa AS BIGINT) AS conv_a,
           CAST(nb AS BIGINT) AS n_b, CAST(xb AS BIGINT) AS conv_b,
           round(CAST(ca AS DOUBLE) / (ca + da), 6) AS posterior_rate_a,
           round(CAST(cb AS DOUBLE) / (cb + db), 6) AS posterior_rate_b,
           round(CAST(cb AS DOUBLE) / (cb + db)
                 - CAST(ca AS DOUBLE) / (ca + da), 6) AS expected_lift,
           round(CAST({phi} AS DOUBLE), 4) AS prob_b_beats_a
    FROM post
    """


@register("k_ab_bayes", oracle=_body_ab_bayes())
def k_ab_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayesian A/B readout on the user-parity purchase-conversion split
    (the k_ab_ztest scenario): Beta(1+x, 1+n−x) posteriors per arm and
    P(B > A) under the normal approximation of the posterior difference —
    the "probability of improvement" number product reviews actually
    want, next to the frequentist z (k_ab_ztest) and sequential SPRT
    (k_ab_sprt) readouts.

    Φ is the Abramowitz–Stegun 7.1.26 rational erf (|ε| < 1.5e-7),
    spelled as ONE SQL text both engines parse (`_ab_phi`) — neither
    ships an erf builtin, and hand-matching two libm traditions would be
    exactly the ulp trap the shared body avoids. The corpus collapses to
    a 2-row cohort aggregate before any float appears.

    Scale: one distinct-user shuffle, then constant-size arithmetic.
    """
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_body_ab_bayes())


# --------------------------------------------- Simpson's paradox check ----


def _body_simpson() -> str:
    """Shared ANSI body (Spark temp-view `events` / DuckDB view)."""
    return """
    WITH strat AS (
      SELECT event_type AS stratum,
             avg(CASE WHEN user_id % 2 = 0 THEN value END) AS mean_a,
             avg(CASE WHEN user_id % 2 = 1 THEN value END) AS mean_b,
             count(CASE WHEN user_id % 2 = 0 THEN 1 END) AS n_a,
             count(CASE WHEN user_id % 2 = 1 THEN 1 END) AS n_b
      FROM events GROUP BY event_type
      UNION ALL
      SELECT '__all__' AS stratum,
             avg(CASE WHEN user_id % 2 = 0 THEN value END) AS mean_a,
             avg(CASE WHEN user_id % 2 = 1 THEN value END) AS mean_b,
             count(CASE WHEN user_id % 2 = 0 THEN 1 END) AS n_a,
             count(CASE WHEN user_id % 2 = 1 THEN 1 END) AS n_b
      FROM events
    ), signed AS (
      -- sign on the 4dp-ROUNDED means (the emitted precision), so the
      -- flag is exactly recomputable from the output columns and a raw
      -- sub-0.00005 diff can't make flag and visible means disagree
      SELECT stratum, n_a, n_b, mean_a, mean_b,
             CASE WHEN round(mean_b, 4) > round(mean_a, 4)
                  THEN 1 ELSE -1 END AS sgn
      FROM strat
    )
    SELECT s.stratum, CAST(s.n_a AS BIGINT) AS n_a,
           CAST(s.n_b AS BIGINT) AS n_b,
           round(s.mean_a, 4) AS mean_a, round(s.mean_b, 4) AS mean_b,
           round(s.mean_b - s.mean_a, 4) AS diff_b_minus_a,
           s.sgn <> o.sgn AS disagrees_with_overall
    FROM signed s
    CROSS JOIN (SELECT sgn FROM signed WHERE stratum = '__all__') o
    """


@register("k_simpson_check", oracle=_body_simpson())
def k_simpson_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox audit of the user-parity A/B split on mean event
    value: the overall B−A effect next to every event-type stratum's
    effect, each flagged when its SIGN disagrees with the overall row. A
    disagreeing stratum means the pooled readout is confounded by mix
    (the classic aggregation trap every experiment review checks before
    shipping a pooled metric).

    One grouped pass + one global pass over the corpus (both map-side
    combinable), then row-count-5 arithmetic; the overall sign attaches
    via a 1-row cross join (the accepted scalar-attach shape). The sign
    compares the 4dp-ROUNDED means (the emitted precision), so the flag
    is exactly recomputable from the output columns; ties map to −1 in
    BOTH engines via the shared CASE text.

    Scale: two corpus-wide aggregations, dimension-sized everything else.
    """
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_body_simpson())


# --------------------------------------------- Wilcoxon signed-rank ----


def _body_wilcoxon() -> str:
    """Shared ANSI body (Spark temp-view `events` / DuckDB view)."""
    return """
    WITH half AS (
      SELECT user_id,
             CASE WHEN CAST(date_trunc('day', ts) AS DATE)
                       < DATE '2024-01-16'
                  THEN 'a' ELSE 'b' END AS h,
             value
      FROM events
    ), pair AS (
      SELECT user_id,
             avg(CASE WHEN h = 'a' THEN value END) AS va,
             avg(CASE WHEN h = 'b' THEN value END) AS vb
      FROM half GROUP BY user_id
      HAVING count(CASE WHEN h = 'a' THEN 1 END) > 0
         AND count(CASE WHEN h = 'b' THEN 1 END) > 0
    ), d AS (
      SELECT vb - va AS diff, round(abs(vb - va), 6) AS absd
      FROM pair WHERE round(abs(vb - va), 6) > 0
    ), rk AS (
      -- CAST AS DOUBLE: x.y literals parse as DECIMAL in both engines and
      -- decimal midrank sums surface as DecimalType output (driver-hash
      -- trap class).
      SELECT diff,
             CAST(rank() OVER (ORDER BY absd)
               + (count(*) OVER (PARTITION BY absd) - 1) / CAST(2.0 AS DOUBLE)
               AS DOUBLE) AS midrank
      FROM d
    ), s AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             sum(CASE WHEN diff > 0 THEN midrank
                      ELSE CAST(0.0 AS DOUBLE) END) AS wplus
      FROM rk
    )
    SELECT CAST(n AS BIGINT) AS n_pairs,
           round(wplus, 4) AS w_plus,
           round((wplus - n * (n + 1) / 4.0)
                 / sqrt(n * (n + 1) * (2 * n + 1) / 24.0), 4) AS z_stat,
           abs((wplus - n * (n + 1) / 4.0)
               / sqrt(n * (n + 1) * (2 * n + 1) / 24.0)) > 1.96
             AS significant_95
    FROM s
    """


@register("k_wilcoxon_signed", oracle=_body_wilcoxon())
def k_wilcoxon_signed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test on PAIRED per-user mean event values,
    first half of the month vs second half: did the typical user's spend
    level shift, without assuming normality? The paired complement to
    k_mann_whitney (independent samples) and k_welch_t (parametric) —
    the within-subject design kills the between-user variance those
    tests absorb.

    Midranks partition on the 6dp-ROUNDED |diff| (rank() + (ties−1)/2),
    so both engines see identical tie groups — ranking raw doubles
    across engines is the classic last-ulp trap; zero-diff pairs drop
    per the standard procedure, and the sign of diff is safe because
    surviving |diff| ≥ 5e-7 dwarfs any ulp. Normal approximation without
    tie-variance correction (noted; ties are measure-zero at 6dp on
    continuous spend). One grouped pass to user pairs, one
    rank-table-sized window, a 1-row reduce.
    """
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_body_wilcoxon())


# -------------------------------------------------- TOST equivalence ----


def _body_tost() -> str:
    """Shared ANSI body (Spark temp-view `events` / DuckDB view)."""
    return """
    WITH arms AS (
      SELECT user_id % 2 AS arm,
             count(*) AS n, sum(value) AS sx, sum(value * value) AS sxx
      FROM events GROUP BY user_id % 2
    ), wide AS (
      SELECT
        max(CASE WHEN arm = 0 THEN n END) AS na,
        max(CASE WHEN arm = 0 THEN sx END) AS sxa,
        max(CASE WHEN arm = 0 THEN sxx END) AS sxxa,
        max(CASE WHEN arm = 1 THEN n END) AS nb,
        max(CASE WHEN arm = 1 THEN sx END) AS sxb,
        max(CASE WHEN arm = 1 THEN sxx END) AS sxxb
      FROM arms
    ), s AS (
      SELECT na, nb,
             sxa / na AS ma, sxb / nb AS mb,
             (sxxa - sxa * sxa / na) / (na - 1) AS va,
             (sxxb - sxb * sxb / nb) / (nb - 1) AS vb
      FROM wide
    ), t AS (
      SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
             ma, mb, mb - ma AS diff,
             sqrt(va / na + vb / nb) AS se
      FROM s
    )
    SELECT n_a, n_b,
           round(ma, 4) AS mean_a, round(mb, 4) AS mean_b,
           round(diff, 4) AS diff_b_minus_a,
           round(se, 6) AS se,
           round((diff + 5.0) / se, 4) AS z_lower,
           round((diff - 5.0) / se, 4) AS z_upper,
           (diff + 5.0) / se > 1.6449 AND (diff - 5.0) / se < -1.6449
             AS equivalent_90
    FROM t
    """


@register("k_eval_tost_equivalence", oracle=_body_tost())
def k_eval_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST equivalence test (two one-sided z-tests, margin δ = ±5.0 on
    mean event value, α = 0.05 per side) on the user-parity split: the
    NON-INFERIORITY question a data-pipeline swap actually asks —
    "prove the new variant is WITHIN δ of the old", which a plain
    k_ab_ztest non-rejection never establishes (absence of evidence).
    Equivalent iff BOTH one-sided statistics clear ±1.6449 (the normal
    95th percentile; large-n z approximation of Schuirmann's TOST).

    Welch-style standard error from the explicit Σ-formula (power sums
    accumulate in DOUBLE — value is a DOUBLE column, no int64 wrap
    surface); the corpus collapses to a 2-row arm aggregate before any
    division. The boolean compares |z| ≈ O(1) values against the fixed
    quantile, far from any ulp boundary on this corpus.
    """
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_body_tost())


# ------------------------------------------------------ Cliff's delta ----


def _body_cliffs_delta() -> str:
    """Shared ANSI body (Spark temp-view `events` / DuckDB view)."""
    return """
    WITH pool AS (
      SELECT event_type, CAST(value AS DOUBLE) AS v
      FROM events WHERE event_type IN ('purchase', 'view')
    ), ranked AS (
      SELECT event_type,
             rank() OVER (ORDER BY v)
               + (count(*) OVER (PARTITION BY v) - 1) / 2.0e0 AS midrank
      FROM pool
    ), s AS (
      SELECT
        CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             AS DOUBLE) AS n1,
        CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
             AS DOUBLE) AS n2,
        sum(CASE WHEN event_type = 'purchase' THEN midrank ELSE 0 END)
          AS r1
      FROM ranked
    ), u AS (
      SELECT n1, n2, r1 - n1 * (n1 + 1) / 2 AS u1 FROM s
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           round(u1, 1) + 0.0 AS u_statistic,
           round((2 * u1 - n1 * n2) / (n1 * n2), 4) + 0.0 AS cliffs_delta,
           CASE WHEN abs((2 * u1 - n1 * n2) / (n1 * n2)) < 0.147e0
                  THEN 'negligible'
                WHEN abs((2 * u1 - n1 * n2) / (n1 * n2)) < 0.33e0
                  THEN 'small'
                WHEN abs((2 * u1 - n1 * n2) / (n1 * n2)) < 0.474e0
                  THEN 'medium'
                ELSE 'large' END AS magnitude
    FROM u
    """


@register("k_cliffs_delta", oracle=_body_cliffs_delta())
def k_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta between the purchase and view value distributions:
    delta = (#(x>y) - #(x<y)) / (n1*n2), the NONPARAMETRIC effect size
    that belongs next to ``k_mann_whitney``'s p-value exactly as
    ``k_cohens_d`` belongs next to the t/z tests — and unlike d it
    survives the heavy tails event values have. Computed without any
    pair enumeration via the midrank identity: delta = (2*U1 - n1*n2) /
    (n1*n2), where U1 is the tie-averaged Mann-Whitney U (half-tie
    contributions cancel in U1 - U2). Romano thresholds label the
    magnitude; the comparisons act on exact rationals, so the label is
    deterministic.

    Midranks rank the STORED value column (bit-identical in both
    engines, so raw-double ranking is safe — the rank-on-derived-floats
    trap does not apply); rank sums are exact .5-rationals in DOUBLE —
    the governor is the 2^53 mantissa on n*(n+1)/2, exact below ~9e7
    pooled rows, far above any graded scale (no int64 wrap surface).

    Scale: one global-order rank window (per-range pre-bucketing is the
    100 TB path, as in the AUC family) + one 1-row reduce.
    """
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_body_cliffs_delta())


# -------------------------------------------------------- Bartlett test ----


def _chi2_5pct_case(df_expr: str) -> str:
    """chi^2 5% critical value as CASE text on a dynamic df (1..8) —
    a reject flag must track the df actually realized after group
    fences drop degenerate groups, not assume k = 5 (NULL beyond the
    table rather than a silently wrong test)."""
    crit = {
        1: "3.841458820694124e0",
        2: "5.991464547107979e0",
        3: "7.814727903251179e0",
        4: "9.487729036781154e0",
        5: "11.070497693516351e0",
        6: "12.591587243743977e0",
        7: "14.067140449340169e0",
        8: "15.50731305586545e0",
    }
    whens = " ".join(
        f"WHEN {d} THEN {v}" for d, v in crit.items()
    )
    return f"(CASE CAST({df_expr} AS BIGINT) {whens} END)"


def _body_bartlett() -> str:
    """Shared ANSI body (Spark temp-view `events` / DuckDB view)."""
    return """
    WITH grp AS (
      SELECT event_type, CAST(count(*) AS DOUBLE) AS n_i,
             sum(CAST(value AS DOUBLE)) AS s1,
             sum(CAST(value AS DOUBLE) * value) AS s2
      FROM events GROUP BY 1 HAVING count(*) >= 2
    ), v AS (
      -- var_i > 0 fences the log domain: a constant group (or one
      -- whose Sigma-formula cancels to a tiny negative double) would
      -- hard-error DuckDB's ln while Spark returns NULL
      SELECT event_type, n_i,
             (s2 - s1 * s1 / n_i) / (n_i - 1) AS var_i
      FROM grp
      WHERE (s2 - s1 * s1 / n_i) / (n_i - 1) > 0
    ), tot AS (
      SELECT sum(n_i) AS n, CAST(count(*) AS DOUBLE) AS k,
             sum((n_i - 1) * var_i) AS ss,
             sum((n_i - 1) * ln(var_i)) AS sum_ln,
             sum(1.0e0 / (n_i - 1)) AS sum_inv
      FROM v
    )
    SELECT CAST(k - 1 AS BIGINT) AS df,
           CAST(n AS BIGINT) AS n,
           round(ss / (n - k), 4) + 0.0 AS pooled_var,
           round(((n - k) * ln(ss / (n - k)) - sum_ln)
                 / (1 + (sum_inv - 1.0e0 / (n - k)) / (3 * (k - 1))),
                 4) + 0.0 AS bartlett_chi2,
           ((n - k) * ln(ss / (n - k)) - sum_ln)
             / (1 + (sum_inv - 1.0e0 / (n - k)) / (3 * (k - 1)))
             > {crit} AS reject_equal_var_5pct
    FROM tot
    """.format(crit=_chi2_5pct_case("k - 1"))


@register("k_bartlett_test", oracle=_body_bartlett())
def k_bartlett_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's test for variance homogeneity across the five event
    types: chi2 = [(N-k) ln s_p^2 - sum (n_i-1) ln s_i^2] / C with the
    standard correction C — the PARAMETRIC power-optimal companion to
    ``k_brown_forsythe`` (which trades power for tail robustness); when
    the two disagree, the tails are the story. The reject flag tests
    against the chi^2(df) 5% critical value AT THE REALIZED df — the
    variance fence below can drop groups, and a k=5 assumption would
    silently mis-test (`_chi2_5pct_case`).

    Group variances come from the explicit Sigma-formula in ONE shared
    text (not the engines' var_samp internals, which may accumulate
    differently); power sums are in DOUBLE — no int64 wrap surface;
    var_i > 0 fences the log domain (a constant group would hard-error
    DuckDB's ln while Spark NULLs — the 0/0 divergence class). The
    ln calls are the libm exposure class, absorbed by 4dp rounding; the
    reject boolean compares the UNROUNDED statistic far from the
    critical value on any non-degenerate corpus.

    Scale: one map-side-combined moment pass; the 5-row spine does the
    rest.
    """
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_body_bartlett())


# ---------------------------------------------------- odds ratio + CI ----


def _body_odds_ratio() -> str:
    """Shared ANSI body (Spark temp-view `events` / DuckDB view)."""
    return """
    WITH users AS (
      SELECT user_id % 2 AS arm,
             max(CASE WHEN event_type = 'purchase' AND value > 200
                      THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id
    ), cells AS (
      SELECT
        CAST(sum(CASE WHEN arm = 1 AND converted = 1 THEN 1 ELSE 0 END)
             AS DOUBLE) AS a,
        CAST(sum(CASE WHEN arm = 1 AND converted = 0 THEN 1 ELSE 0 END)
             AS DOUBLE) AS b,
        CAST(sum(CASE WHEN arm = 0 AND converted = 1 THEN 1 ELSE 0 END)
             AS DOUBLE) AS c,
        CAST(sum(CASE WHEN arm = 0 AND converted = 0 THEN 1 ELSE 0 END)
             AS DOUBLE) AS d
      FROM users
    ), adj AS (
      -- Haldane-Anscombe +1/2 when any cell is empty, both engines
      SELECT
        a + CASE WHEN a * b * c * d = 0 THEN 0.5e0 ELSE 0 END AS a,
        b + CASE WHEN a * b * c * d = 0 THEN 0.5e0 ELSE 0 END AS b,
        c + CASE WHEN a * b * c * d = 0 THEN 0.5e0 ELSE 0 END AS c,
        d + CASE WHEN a * b * c * d = 0 THEN 0.5e0 ELSE 0 END AS d,
        a AS a0, b AS b0, c AS c0, d AS d0
      FROM cells
    )
    SELECT CAST(a0 AS BIGINT) AS treated_conv,
           CAST(b0 AS BIGINT) AS treated_no,
           CAST(c0 AS BIGINT) AS control_conv,
           CAST(d0 AS BIGINT) AS control_no,
           round(a * d / (b * c), 4) + 0.0 AS odds_ratio,
           round(exp(ln(a * d / (b * c))
                     - 1.959963984540054e0
                       * sqrt(1/a + 1/b + 1/c + 1/d)), 4) + 0.0 AS ci95_lo,
           round(exp(ln(a * d / (b * c))
                     + 1.959963984540054e0
                       * sqrt(1/a + 1/b + 1/c + 1/d)), 4) + 0.0 AS ci95_hi
    FROM adj
    """


@register("k_odds_ratio_ci", oracle=_body_odds_ratio())
def k_odds_ratio_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Odds ratio of the user-parity conversion split with the Woolf
    log-normal 95% CI (exp(ln OR +- 1.96 * sqrt(1/a+1/b+1/c+1/d))) — the
    effect-size-with-uncertainty readout the k_ab_ztest/k_ab_bayes panel
    lacks (z says "different", Bayes says "probably better", OR + CI
    says HOW MUCH with error bars, and is the measure meta-analyses
    pool). Haldane-Anscombe +0.5 applies to all cells iff any cell is
    empty — spelled once in the shared text, so both engines adjust
    identically.

    The corpus collapses to a 4-cell table of exact integer user counts
    before any float; exp/ln are the libm exposure class, absorbed by
    4dp rounding.

    Scale: one distinct-user reduce (the k_ab_ztest shuffle), then
    constant-size arithmetic.
    """
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_body_odds_ratio())


# ------------------------------------------- Gumbel block maxima (EVT) ----


def _body_gumbel() -> str:
    """Shared ANSI body (Spark temp-view `events` / DuckDB view)."""
    return """
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(count(*) AS DOUBLE) AS x
      FROM events GROUP BY 1
    ), idx AS (
      SELECT x, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
      FROM daily
    ), blocks AS (
      SELECT CAST(floor((t - 1) / 7) AS BIGINT) AS blk,
             count(*) AS bn, max(x) AS mx
      FROM idx GROUP BY 1
    ), maxima AS (
      SELECT mx FROM blocks WHERE bn = 7
    ), mom AS (
      SELECT CAST(count(*) AS DOUBLE) AS nb,
             avg(mx) AS m,
             (sum(mx * mx) - sum(mx) * sum(mx) / count(*))
               / (count(*) - 1) AS s2
      FROM maxima HAVING count(*) >= 3
    ), fit AS (
      -- s2 > 0 fences sqrt: constant maxima (or a Sigma-formula
      -- cancelling to a tiny negative) would hard-error DuckDB
      SELECT nb, m,
             sqrt(s2) * 2.449489742783178e0 / 3.141592653589793e0
               AS beta
      FROM mom WHERE s2 > 0
    )
    SELECT CAST(nb AS BIGINT) AS n_blocks,
           round(m, 4) + 0.0 AS block_max_mean,
           round(m - 0.5772156649015329e0 * beta, 4) + 0.0 AS gumbel_mu,
           round(beta, 4) + 0.0 AS gumbel_beta,
           round(m - 0.5772156649015329e0 * beta
                 - beta * ln(-ln(0.99e0)), 4) + 0.0 AS return_level_100
    FROM fit
    """


@register("k_gumbel_block_maxima", oracle=_body_gumbel())
def k_gumbel_block_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extreme-value sizing of daily load: weekly block maxima of the
    daily event-count spine, Gumbel(mu, beta) fitted by the method of
    moments (beta = s*sqrt(6)/pi, mu = m - gamma*beta with
    Euler-Mascheroni gamma), and the 100-block return level
    x_0.99 = mu - beta*ln(-ln(0.99)) — "the weekly peak exceeded once
    per ~2 years", which is what capacity head-room is provisioned
    against. The tail-risk companion to the SPC family: control charts
    flag today's anomaly, EVT prices the once-a-quarter one.

    sqrt(6) and pi are spelled as exact DOUBLE literals in the ONE
    shared text (no libm constant lookup); ln is the usual exposure
    class under 4dp rounding. Block maxima are exact integers and
    their power sums accumulate in DOUBLE (no int64 wrap surface);
    HAVING nb >= 3 fences degenerate fits.

    Scale: one corpus shuffle to the day spine; blocks, moments and
    the fit are calendar-sized.
    """
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_body_gumbel())


# ----------------------------------------------------- Theil inequality ----


def _body_theil() -> str:
    """Shared ANSI body (Spark temp-view `events` / DuckDB view)."""
    return """
    WITH pos AS (
      SELECT event_type, CAST(value AS DOUBLE) AS v
      FROM events WHERE value > 0
    ), g AS (
      SELECT event_type, CAST(count(*) AS DOUBLE) AS n_g,
             sum(v) AS s_g, sum(v * ln(v)) AS svln
      FROM pos GROUP BY 1
    ), terms AS (
      -- totals as unpartitioned window sums over the 5-row spine keep
      -- the corpus-consuming CTE single-referenced: Spark inlines
      -- multi-referenced CTEs, so a separate totals aggregate would
      -- re-scan the corpus per reference
      SELECT event_type, n_g, s_g, svln,
             sum(n_g) OVER () AS n, sum(s_g) OVER () AS s,
             sum(s_g) OVER () / sum(n_g) OVER () AS mu,
             s_g / n_g AS mu_g
      FROM g
    )
    SELECT CAST(max(n) AS BIGINT) AS n_rows,
           round(sum(svln / (n * (s / n)))
                 - ln(max(s) / max(n)), 4) + 0.0 AS theil_total,
           round(sum((s_g / s) * ln(mu_g / mu)), 4) + 0.0 AS theil_between,
           round(sum((s_g / s) * (svln / s_g - ln(mu_g)))
                 , 4) + 0.0 AS theil_within
    FROM terms
    """


@register("k_theil_index", oracle=_body_theil())
def k_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of event value with its exact
    between/within decomposition over event types: T = (1/N) sum
    (x/mu) ln(x/mu) = T_between + T_within — HOW concentrated is value
    mass, and is the concentration explained by the type mix (between)
    or by inequality inside each type (within)? The decomposable
    complement to ``k_gini_sources`` (Gini does not decompose additively;
    Theil is the index a data-mix audit can attribute). The additive
    identity is pinned by test.

    All terms reduce to three grouped sums (n, sum v, sum v ln v) — ONE
    corpus pass with map-side partials, then 5-row spine algebra; sums
    accumulate in DOUBLE (no int64 wrap surface). ln is the libm
    exposure class under 4dp rounding. value > 0 fences the log domain
    (this corpus is strictly positive; zero-heavy corpora shift first).

    Scale: one shuffle, dimension-sized everything after.
    """
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_body_theil())


# -------------------------------------------------- Mood's median test ----


def _body_mood(median_fn: str) -> str:
    return f"""
    WITH med AS (
      SELECT round({median_fn}, 6) AS gm FROM events
    ), cls AS (
      SELECT e.event_type,
             CASE WHEN e.value > m.gm THEN 1 ELSE 0 END AS above
      FROM events e CROSS JOIN med m
      WHERE e.value <> m.gm
    ), grp AS (
      SELECT event_type, CAST(count(*) AS DOUBLE) AS n_i,
             CAST(sum(above) AS DOUBLE) AS a_i
      FROM cls GROUP BY 1
    ), aug AS (
      -- totals as unpartitioned window sums over the 5-row spine keep
      -- grp single-referenced (Spark inlines multi-referenced CTEs and
      -- would re-scan the corpus per reference)
      SELECT event_type, n_i, a_i,
             sum(n_i) OVER () AS n, sum(a_i) OVER () AS a,
             count(*) OVER () AS k
      FROM grp
    )
    SELECT CAST(max(k) - 1 AS BIGINT) AS df,
           CAST(max(n) AS BIGINT) AS n_used,
           -- nullif fences a = 0 / a = n (all non-tied values on one
           -- side of the grand median): the zero expected count would
           -- 0/0-diverge between engines; observed is then 0 too, so
           -- the conventional 0-contribution is what NULL-skipping
           -- sum() yields in BOTH engines
           round(sum(
             coalesce((a_i - n_i * a / n) * (a_i - n_i * a / n)
               / nullif(n_i * a / n, 0), 0)
             + coalesce(((n_i - a_i) - n_i * (n - a) / n)
               * ((n_i - a_i) - n_i * (n - a) / n)
               / nullif(n_i * (n - a) / n, 0), 0)
           ), 4) + 0.0 AS mood_chi2,
           sum(
             coalesce((a_i - n_i * a / n) * (a_i - n_i * a / n)
               / nullif(n_i * a / n, 0), 0)
             + coalesce(((n_i - a_i) - n_i * (n - a) / n)
               * ((n_i - a_i) - n_i * (n - a) / n)
               / nullif(n_i * (n - a) / n, 0), 0)
           ) > {_chi2_5pct_case("max(k) - 1")}
             AS reject_equal_medians_5pct
    FROM aug
    """


@register(
    "k_mood_median",
    oracle=_body_mood("quantile_cont(value, 0.5)"),
)
def k_mood_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test across event types: classify every value
    against the 6dp-pinned GRAND median (ties to the median excluded,
    the standard treatment), then the k x 2 Pearson chi^2 on the
    above/below table vs the chi^2 5% critical value AT THE REALIZED
    df (`_chi2_5pct_case` — a type can vanish from the table when all
    its values tie the median, and a k=5 assumption would silently
    mis-test). The coarsest — and most outlier-
    immune — of the k-sample location tests: ``k_kruskal_wallis`` uses
    full rank information, this uses one bit per row, so when KW fires
    and Mood doesn't, the effect lives in the tails, not the center.

    The grand median is the one engine-split surface (Spark
    ``percentile`` / DuckDB ``quantile_cont``, both linear
    interpolation — the k_brown_forsythe pattern) and is pinned at 6dp
    before the comparison so both engines classify identically. After
    that everything is exact integer counts; expecteds are exact
    rationals in DOUBLE.

    Scale: one percentile aggregate, one broadcast scalar join into a
    scan-stage classify, one 5-row chi^2 reduce.
    """
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_body_mood("percentile(value, 0.5)"))


# --------------------------------------------- Benjamini-Yekutieli FDR ----


def _body_fdr_by(hash_to_long: str) -> str:
    return _perm_pvals_prefix(hash_to_long) + f""", ranked0 AS (
      SELECT event_type, p_num,
             row_number() OVER (ORDER BY p_num, event_type) AS r,
             count(*) OVER () AS m
      FROM pvals
    ), ranked AS (
      SELECT event_type, p_num, r, m,
             sum(1.0e0 / r) OVER () AS c_m
      FROM ranked0
    ), bh_cut AS (
      SELECT coalesce(max(CASE WHEN 20 * p_num * m <= r * {_B + 1}
                                THEN r END), 0) AS bh_r
      FROM ranked
    ), by_cut AS (
      SELECT coalesce(max(CASE WHEN 20 * p_num * m * c_m <= r * {_B + 1}
                                THEN r END), 0) AS by_r
      FROM ranked
    )
    SELECT rk.event_type,
           CAST(rk.p_num AS DOUBLE) / {_B + 1} AS p_value,
           CAST(rk.r AS BIGINT) AS rank,
           (rk.r <= bh.bh_r) AS bh_reject,
           (rk.r <= by.by_r) AS by_reject
    FROM ranked rk CROSS JOIN bh_cut bh CROSS JOIN by_cut by
    """


@register(
    "k_fdr_by",
    oracle=_body_fdr_by(_DUCK_HASH).replace(
        "(SELECT explode(sequence(0, 199)) AS b)",
        "(SELECT b FROM range(200) t(b))",
    ),
)
def k_fdr_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Yekutieli FDR control over the same exact-permutation
    p-value family as ``k_fdr_bh``, with the harmonic correction
    c(m) = sum 1/i that stays valid under ARBITRARY dependence between
    the hypotheses (the per-type tests here share users, so BH's
    independence assumption is exactly what a careful reviewer
    questions). Emits the per-type p-value with BOTH step-up decisions
    side by side: everything BY keeps survives dependence; the
    BH-only band is what's at stake.

    The BY threshold comparison is 20*p_num*m*c_m <= r*(B+1) with c_m
    the 5-term harmonic sum — BH's pure-integer comparison gains one
    float factor, and no (p_num, r) pair can land exactly ON the
    boundary (p_num*685/3 = 201*r has no solution in range, so the ulp
    order of the harmonic sum cannot flip the decision). Uses the
    session-memoized ``_perm_pvals_df`` (no new corpus work).

    Scale: m-row spine algebra over the shared permutation memo.
    """
    pv = _perm_pvals_df(spark, sf_dir)
    w_all = Window.partitionBy()
    ranked = pv.select(
        "event_type",
        "p_num",
        F.row_number().over(Window.orderBy("p_num", "event_type")).alias("r"),
        F.count(F.lit(1)).over(w_all).alias("m"),
        F.sum(
            1.0
            / F.row_number().over(Window.orderBy("p_num", "event_type"))
        )
        .over(w_all)
        .alias("c_m"),
    )
    bh_cut = ranked.agg(
        F.coalesce(
            F.max(
                F.when(
                    20 * F.col("p_num") * F.col("m")
                    <= F.col("r") * (_B + 1),
                    F.col("r"),
                )
            ),
            F.lit(0),
        ).alias("bh_r")
    )
    by_cut = ranked.agg(
        F.coalesce(
            F.max(
                F.when(
                    20 * F.col("p_num") * F.col("m") * F.col("c_m")
                    <= F.col("r") * (_B + 1),
                    F.col("r"),
                )
            ),
            F.lit(0),
        ).alias("by_r")
    )
    return (
        ranked.crossJoin(F.broadcast(bh_cut))
        .crossJoin(F.broadcast(by_cut))
        .select(
            "event_type",
            (F.col("p_num") / F.lit(_B + 1)).alias("p_value"),
            F.col("r").cast("long").alias("rank"),
            (F.col("r") <= F.col("bh_r")).alias("bh_reject"),
            (F.col("r") <= F.col("by_r")).alias("by_reject"),
        )
    )


# ------------------------------------------- Bhattacharyya coefficient ----


def _body_bhattacharyya() -> str:
    """Shared ANSI body (Spark temp-view `events` / DuckDB view)."""
    return """
    WITH pool AS (
      SELECT event_type, CAST(value AS DOUBLE) AS v
      FROM events WHERE event_type IN ('purchase', 'view')
    ), bounds AS (
      SELECT round(min(v), 6) AS lo, round(max(v), 6) AS hi FROM pool
    ), binned AS (
      -- clamp BOTH edges: round(min, 6) can round the lower bound UP
      -- past the true min, making the min row's raw index -1.
      -- CASE fences the degenerate hi = lo range (constant pooled
      -- column): 0/0 is NaN and CAST(NaN AS BIGINT) hard-errors DuckDB
      -- while Spark NULLs — short-circuit to bin 0 before the divide
      SELECT p.event_type,
             CASE WHEN b.hi = b.lo THEN CAST(0 AS BIGINT)
                  ELSE greatest(least(CAST(floor((p.v - b.lo)
                                                 / (b.hi - b.lo) * 20)
                                      AS BIGINT), 19), 0) END AS bin
      FROM pool p CROSS JOIN bounds b
    ), hist AS (
      SELECT bin,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS c1,
             CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS c2
      FROM binned GROUP BY 1
    ), aug AS (
      -- totals as unpartitioned window sums over the 20-row histogram
      -- keep it single-referenced (Spark inlines multi-referenced CTEs
      -- and would re-scan the corpus per reference)
      SELECT bin, c1, c2,
             sum(c1) OVER () AS n1, sum(c2) OVER () AS n2
      FROM hist
    )
    SELECT CAST(max(n1) AS BIGINT) AS n_purchase,
           CAST(max(n2) AS BIGINT) AS n_view,
           CAST(count(*) AS BIGINT) AS n_bins_used,
           round(sum(sqrt(c1 / n1 * c2 / n2)), 4) + 0.0
             AS bhattacharyya_coef,
           -- nullif: disjoint-support histograms have BC = 0, where
           -- -ln would hard-error DuckDB while Spark NULLs
           round(-ln(nullif(sum(sqrt(c1 / n1 * c2 / n2)), 0)), 4) + 0.0
             AS bhattacharyya_dist,
           round(sqrt(1 - sum(sqrt(c1 / n1 * c2 / n2))), 4) + 0.0
             AS hellinger_dist
    FROM aug
    """


@register("k_bhattacharyya_hists", oracle=_body_bhattacharyya())
def k_bhattacharyya_hists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bhattacharyya coefficient / distance and Hellinger distance
    between the purchase and view value distributions over a shared
    20-bin equal-width histogram: BC = sum sqrt(p_i q_i). The bounded,
    symmetric distribution-overlap metrics that complete the drift
    panel — ``k_drift_psi`` explodes on empty bins (its log-ratio is
    undefined at 0) exactly where BC/Hellinger degrade gracefully
    (a zero bin just contributes 0), so this pair is what a
    noisy-corpus drift monitor actually alerts on.

    Bin edges derive from the 6dp-pinned pooled min/max in ONE shared
    text; membership is identical floor arithmetic on bit-identical
    stored doubles in both engines, and the top edge folds into bin 19
    via least(). Counts are exact integers; sqrt is correctly rounded;
    ln is the one libm surface, under 4dp rounding.

    Scale: one scan with a broadcast 1-row bounds join, one 20-row
    histogram reduce — the corpus crosses one shuffle.
    """
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_body_bhattacharyya())


# ------------------------------------------------------ one-way ANOVA ----


def _body_anova() -> str:
    """Shared ANSI body (Spark temp-view `events` / DuckDB view)."""
    return """
    WITH g AS (
      SELECT event_type, CAST(count(*) AS DOUBLE) AS n_i,
             sum(CAST(value AS DOUBLE)) AS s1,
             sum(CAST(value AS DOUBLE) * value) AS s2
      FROM events GROUP BY 1 HAVING count(*) >= 2
    ), aug AS (
      -- grand totals as window sums keep the corpus-consuming CTE
      -- single-referenced (Spark inlines multi-referenced CTEs)
      SELECT n_i, s1, s2,
             sum(n_i) OVER () AS n, sum(s1) OVER () AS gs1,
             CAST(count(*) OVER () AS DOUBLE) AS k
      FROM g
    ), parts AS (
      SELECT max(n) AS n, max(k) AS k,
             sum(s1 * s1 / n_i) - max(gs1) * max(gs1) / max(n) AS ssb,
             sum(s2 - s1 * s1 / n_i) AS ssw
      FROM aug
    )
    SELECT CAST(k - 1 AS BIGINT) AS df_between,
           CAST(n - k AS BIGINT) AS df_within,
           round((ssb / (k - 1)) / nullif(ssw / (n - k), 0), 4) + 0.0
             AS f_stat,
           round(ssb / nullif(ssb + ssw, 0), 4) + 0.0 AS eta_squared,
           round((ssb - (k - 1) * ssw / (n - k))
                 / nullif(ssb + ssw + ssw / (n - k), 0), 4) + 0.0
             AS omega_squared
    FROM parts
    """


@register("k_anova_oneway", oracle=_body_anova())
def k_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical one-way ANOVA F across event types on `value`, with
    BOTH effect sizes (eta^2 = SSB/SST, the variance-explained share;
    omega^2, its small-sample-unbiased correction) — the parametric
    k-sample location test the panel was missing: k_kruskal_wallis is
    its rank twin, k_mood_median its one-bit twin, k_welch_anova (next
    key) its unequal-variance correction, and eta^2 is the "does the
    grouping MATTER" number a 100 TB z-test can't give.

    SSB/SSW come from per-group power sums (DOUBLE accumulation — no
    int64 wrap surface) with grand totals as unpartitioned window sums,
    so the corpus is referenced ONCE; nullif fences the all-equal
    degenerate case to NULL identically in both engines.

    Scale: one map-side-combined moment pass, 5-row spine algebra.
    """
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_body_anova())


# ------------------------------------------------------- Welch ANOVA ----


def _body_welch_anova() -> str:
    """Shared ANSI body (Spark temp-view `events` / DuckDB view)."""
    return """
    WITH g AS (
      SELECT event_type, CAST(count(*) AS DOUBLE) AS n_i,
             sum(CAST(value AS DOUBLE)) AS s1,
             sum(CAST(value AS DOUBLE) * value) AS s2
      FROM events GROUP BY 1 HAVING count(*) >= 2
    ), w AS (
      -- s2var > 0 fences the weight division (constant group)
      SELECT n_i, s1 / n_i AS m_i,
             n_i / ((s2 - s1 * s1 / n_i) / (n_i - 1)) AS w_i
      FROM g
      WHERE (s2 - s1 * s1 / n_i) > 0
    ), aug AS (
      SELECT n_i, m_i, w_i,
             sum(w_i) OVER () AS sw,
             sum(w_i * m_i) OVER () AS swm,
             CAST(count(*) OVER () AS DOUBLE) AS k
      FROM w
    ), parts AS (
      SELECT max(k) AS k,
             sum(w_i * (m_i - swm / sw) * (m_i - swm / sw))
               / (max(k) - 1) AS a,
             sum((1 - w_i / sw) * (1 - w_i / sw) / (n_i - 1)) AS lam
      FROM aug
    )
    SELECT CAST(k - 1 AS BIGINT) AS df1,
           round((k * k - 1) / (3 * lam), 2) + 0.0 AS df2,
           round(a / (1 + 2 * (k - 2) / (k * k - 1) * lam), 4) + 0.0
             AS welch_f
    FROM parts
    """


@register("k_welch_anova", oracle=_body_welch_anova())
def k_welch_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's heteroscedastic one-way ANOVA (the k-sample extension of
    ``k_welch_t``): groups weighted by n_i/s_i^2, F* = A/(1 + 2(k-2)/
    (k^2-1) * Lambda) with the Welch-Satterthwaite df2 — the location
    test to trust when ``k_bartlett_test`` REJECTS equal variances
    (classic ANOVA's F is anticonservative under variance heterogeneity
    with unequal n). Together: bartlett gates, anova or welch_anova
    answers, eta^2 sizes.

    One grouped moment pass (DOUBLE power sums, no int64 wrap surface),
    weight totals as window sums (single corpus reference), variance
    > 0 fencing the weight division. df2 rounds at 2dp — it is a
    reporting quantity, not a grid the reject decision sits on.

    Scale: identical shape to k_anova_oneway — one shuffle, spine
    algebra.
    """
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_body_welch_anova())
