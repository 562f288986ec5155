"""Distribution-comparison and ranking-evaluation statistics (round-5
session-4 widening of SURVEY.md §2.2's analytics family): Gini revenue
concentration + Lorenz decile curve, two-sample Kolmogorov–Smirnov,
Mann–Whitney AUC, reliability/ECE calibration, Jensen–Shannon source
divergence, Fano-factor burstiness, McNemar on the paired dup flags, a
deterministic permutation test, and Markov next-event accuracy.

These close the "how different are two populations" gap left between the
existing drift/association tests (``psi_drift`` compares against FIXED
bins, ``chi2_independence``/``mutual_information`` work on categorical
cells): KS compares full empirical CDFs, JSD compares full unigram
distributions, AUC turns the rank-sum two-sample test into the standard
classifier metric, Gini summarizes concentration the ABC classes only
bucket, and the Fano factor quantifies the overdispersion the EWMA/seasonal
anomaly detectors implicitly assume away.

Scale posture (shared design rules of this repo):

- Every statistic is assembled from EXACT integer aggregates (counts,
  cents, rank sums) or per-term quantized decimals, so the two engines'
  different float-summation orders cannot diverge the result — scalar
  double arithmetic happens only on the final 1-row (or per-group-row)
  moments.
- Global ranks and running sums over fact-sized spines (Gini, Lorenz,
  energy, W1, QQ, CvM) come from ``operators.relational.prefix_sums``:
  a flat partitionless window over customers or distinct cents would
  single-task 100 TB.
- ECDF walks (KS, AUC) run on VALUE-DOMAIN-BOUNDED spines: distinct doc
  lengths / cent-quantized scores are capped by the value domain, not the
  row count (the histogram-spine exception documented in
  ``queries/mlstats.py``), so their windows see O(domain) rows at any SF.
- JSD's pair join is TERM-keyed with source-dimension fan-out
  (``source_vocab_overlap``'s shape): terms carry the scale, the 20-source
  pair table is a dimension product.

The reference stops at a static gold aggregate (``glue/etl_api.py:42-45``);
these are the comparison statistics its published tables feed next.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ab_inbev_big_data_case_spark.functions.money import (
    cents,
    cents_sql,
    money,
    money_sql,
    money_sum,
    money_sum_sql,
)
from ab_inbev_big_data_case_spark.operators.relational import prefix_sums
from ab_inbev_big_data_case_spark.registry import register
from ab_inbev_big_data_case_spark.sources.readers import const_df, table

# ------------------------------------------------------ Gini concentration


def _custrev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer revenue cents ``rev_c``, shared by
    ``gini_concentration`` and ``lorenz_curve_points``."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        (money_sum(F.col("o_totalprice")) * 100)
        .cast("long")
        .alias("rev_c")
    )


_GINI_SQL = f"""
    WITH prev AS (
        SELECT o_custkey,
               CAST({money_sum_sql('o_totalprice')} * 100
                    AS BIGINT) AS rev_c
        FROM orders GROUP BY 1
    ),
    ranked AS (
        SELECT rev_c,
               row_number() OVER (ORDER BY rev_c, o_custkey) AS grank
        FROM prev
    ),
    s AS (
        SELECT count(*) AS n,
               sum(rev_c) AS tot_c,
               sum(CAST(grank AS HUGEINT) * rev_c) AS s1
        FROM ranked
    )
    SELECT n AS n_customers,
           CAST(tot_c AS BIGINT) AS total_rev_c,
           round(2.0 * CAST(s1 AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(tot_c AS DOUBLE))
                 - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE),
                 6) AS gini_r
    FROM s
"""


@register("gini_concentration", oracle=_GINI_SQL)
def gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer revenue via the rank formula
    G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n over ascending-sorted revenues —
    the one-number concentration summary behind ``abc_pareto_class``'s
    three buckets.

    Scale shape: the global ascending rank is ``prefix_sums``'s. Σ i·xᵢ
    is tie-permutation invariant (equal x ⇒ equal contribution under any
    rank swap). The rank product accumulates in DECIMAL(38,0) (rank
    ~1e10 × cents ~1e9 overflows BIGINT at 100 TB); the final ratio is
    scalar double arithmetic on the 1-row moments, identical in both
    engines."""
    ranked = prefix_sums(
        _custrev(spark, sf_dir), "rev_c", ["o_custkey"], {"grank": F.lit(1)}
    )
    s = ranked.agg(
        F.count("*").alias("n"),
        F.sum("rev_c").cast("long").alias("tot_c"),
        F.sum(F.col("grank").cast("decimal(18,0)") * F.col("rev_c")).alias("s1"),
    )
    n_d = F.col("n").cast("double")
    return s.select(
        F.col("n").alias("n_customers"),
        F.col("tot_c").alias("total_rev_c"),
        F.round(
            2.0 * F.col("s1").cast("double") / (n_d * F.col("tot_c").cast("double"))
            - (n_d + 1.0) / n_d,
            6,
        ).alias("gini_r"),
    )


# ------------------------------------------- two-sample Kolmogorov–Smirnov

_KS_SQL = """
    WITH lab AS (
        SELECT n_chars,
               CASE WHEN length(source) <= 4 THEN 1 ELSE 0 END AS is_a
        FROM documents
    ),
    cell AS (
        SELECT n_chars,
               sum(is_a) AS ca,
               sum(1 - is_a) AS cb
        FROM lab GROUP BY 1
    ),
    tot AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM cell),
    walk AS (
        SELECT n_chars,
               sum(ca) OVER (ORDER BY n_chars ROWS UNBOUNDED PRECEDING)
                   AS cum_a,
               sum(cb) OVER (ORDER BY n_chars ROWS UNBOUNDED PRECEDING)
                   AS cum_b
        FROM cell
    ),
    num AS (
        SELECT n_chars,
               abs(CAST(cum_a AS HUGEINT) * t.nb
                   - CAST(cum_b AS HUGEINT) * t.na) AS d_num
        FROM walk CROSS JOIN tot t
    ),
    mx AS (SELECT max(d_num) AS d_max FROM num)
    SELECT t.na::BIGINT AS n_a,
           t.nb::BIGINT AS n_b,
           (SELECT min(n_chars) FROM num, mx WHERE d_num = d_max)
               AS at_chars,
           round(CAST(m.d_max AS DOUBLE)
                 / (CAST(t.na AS DOUBLE) * CAST(t.nb AS DOUBLE)), 6)
               AS ks_d_r,
           round(CAST(m.d_max AS DOUBLE)
                 / (CAST(t.na AS DOUBLE) * CAST(t.nb AS DOUBLE))
                 * sqrt(CAST(t.na AS DOUBLE) * CAST(t.nb AS DOUBLE)
                        / (CAST(t.na AS DOUBLE) + CAST(t.nb AS DOUBLE))),
                 6) AS ks_scaled_r
    FROM tot t CROSS JOIN mx m
"""


@register("ks_two_sample", oracle=_KS_SQL)
def ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov test between the doc-length
    distributions of the single-digit sources (src0–src9) and the
    double-digit sources (src10–src19): D = max |ECDF_A − ECDF_B|, plus
    the Smirnov-scaled statistic D·√(n_a·n_b/(n_a+n_b)) and the length
    at which the gap peaks (smallest such length on ties).

    Scale shape: one scan collapses docs to per-length cells (shuffle
    keyed on n_chars — the VALUE-DOMAIN-BOUNDED spine, O(max doc length)
    rows at any SF); the ECDF walk is a window over that spine; the gap
    numerator |cum_a·n_b − cum_b·n_a| stays in exact integers
    (DECIMAL(38,0): cum ~5e10 × n ~5e10 overflows BIGINT at corpus
    scale), so the max and its argmin location are engine-independent;
    division happens once on the 1-row result."""
    d = table(spark, sf_dir, "documents")
    cell = d.groupBy("n_chars").agg(
        F.sum(F.when(F.length("source") <= 4, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.length("source") <= 4, 0).otherwise(1)).alias("cb"),
    )
    tot = cell.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    w = Window.orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )  # value-domain-bounded spine (distinct doc lengths)
    walk = cell.select(
        "n_chars",
        F.sum("ca").over(w).alias("cum_a"),
        F.sum("cb").over(w).alias("cum_b"),
    )
    num = walk.crossJoin(F.broadcast(tot)).select(
        "n_chars",
        "na",
        "nb",
        F.abs(
            F.col("cum_a").cast("decimal(19,0)") * F.col("nb")
            - F.col("cum_b").cast("decimal(19,0)") * F.col("na")
        ).alias("d_num"),
    )
    mx = num.agg(F.max("d_num").alias("d_max"))
    at = (
        num.join(F.broadcast(mx), num["d_num"] == mx["d_max"])
        .agg(F.min("n_chars").alias("at_chars"))
    )
    na_d = F.col("na").cast("double")
    nb_d = F.col("nb").cast("double")
    d_d = F.col("d_max").cast("double") / (na_d * nb_d)
    return (
        num.select("na", "nb")
        .limit(1)
        .crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(at))
        .select(
            F.col("na").alias("n_a"),
            F.col("nb").alias("n_b"),
            "at_chars",
            F.round(d_d, 6).alias("ks_d_r"),
            F.round(d_d * F.sqrt(na_d * nb_d / (na_d + nb_d)), 6).alias(
                "ks_scaled_r"
            ),
        )
    )


# ------------------------------------------------------- Mann–Whitney AUC

_AUC_SQL = """
    WITH lab AS (
        SELECT round(value, 2) AS score,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        FROM events WHERE event_type IN ('purchase', 'click')
    ),
    cell AS (
        SELECT score, sum(pos) AS np, sum(1 - pos) AS nn
        FROM lab GROUP BY 1
    ),
    walk AS (
        SELECT np, nn,
               coalesce(sum(nn) OVER (ORDER BY score
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING), 0) AS neg_below
        FROM cell
    ),
    s AS (
        SELECT sum(np) AS n_pos, sum(nn) AS n_neg,
               sum(CAST(np AS HUGEINT) * (2 * neg_below + nn)) AS u2
        FROM walk
    )
    SELECT n_pos::BIGINT AS n_pos,
           n_neg::BIGINT AS n_neg,
           round(CAST(u2 AS DOUBLE)
                 / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)),
                 6) AS auc_r,
           round(CAST(u2 AS DOUBLE)
                 / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) - 1.0,
                 6) AS gini_rank_r
    FROM s
"""


@register("auc_mann_whitney", oracle=_AUC_SQL)
def auc_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC of "event value predicts purchase vs click" via the
    Mann–Whitney U identity AUC = U/(n₊·n₋) with midrank tie handling —
    the rank-sum sibling of ``welch_ab_test`` (same two cohorts, rank
    domain instead of mean domain), and the standard eval for any score
    column a curation pipeline produces.

    Scale shape: scores are cent-quantized BEFORE ranking
    (quantize-before-rank, the repo-wide rule), collapsing the walk to
    the value-domain-bounded score spine; U accumulates the exact
    integer 2U = Σ_s np_s·(2·neg_below + nn_s) in DECIMAL(38,0) (n₊·n₋
    ~1e18 at corpus scale), so ties cost ½ exactly and both engines see
    the same integer before the one scalar division."""
    e = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    cell = e.groupBy(F.round("value", 2).alias("score")).agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "np"
        ),
        F.sum(F.when(F.col("event_type") == "purchase", 0).otherwise(1)).alias(
            "nn"
        ),
    )
    w = Window.orderBy("score").rowsBetween(
        Window.unboundedPreceding, -1
    )  # value-domain-bounded spine (cent-quantized scores)
    walk = cell.select(
        "np",
        "nn",
        F.coalesce(F.sum("nn").over(w), F.lit(0)).alias("neg_below"),
    )
    s = walk.agg(
        F.sum("np").cast("long").alias("n_pos"),
        F.sum("nn").cast("long").alias("n_neg"),
        F.sum(
            F.col("np").cast("decimal(19,0)")
            * (2 * F.col("neg_below") + F.col("nn"))
        ).alias("u2"),
    )
    u2_d = F.col("u2").cast("double")
    np_d = F.col("n_pos").cast("double")
    nn_d = F.col("n_neg").cast("double")
    return s.select(
        "n_pos",
        "n_neg",
        F.round(u2_d / (2.0 * np_d * nn_d), 6).alias("auc_r"),
        F.round(u2_d / (np_d * nn_d) - 1.0, 6).alias("gini_rank_r"),
    )


# ------------------------------------------- Jensen–Shannon source divergence

_JSD_TOP = 20

_JSD_SQL = f"""
    WITH st AS (
        SELECT source, tok, count(*) AS n
        FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
              FROM documents)
        GROUP BY 1, 2
    ),
    tot AS (SELECT source, sum(n) AS tot FROM st GROUP BY 1),
    pairs AS (
        SELECT a.source AS src1, b.source AS src2,
               a.n AS na, b.n AS nb, ta.tot AS tot_a, tb.tot AS tot_b
        FROM st a
        JOIN st b ON a.tok = b.tok AND a.source < b.source
        JOIN tot ta ON ta.source = a.source
        JOIN tot tb ON tb.source = b.source
    ),
    contrib AS (
        SELECT src1, src2,
               CAST(round(
                   (na / CAST(tot_a AS DOUBLE))
                   * ln(2.0 * (na / CAST(tot_a AS DOUBLE))
                        / (na / CAST(tot_a AS DOUBLE)
                           + nb / CAST(tot_b AS DOUBLE)))
                   + (nb / CAST(tot_b AS DOUBLE))
                   * ln(2.0 * (nb / CAST(tot_b AS DOUBLE))
                        / (na / CAST(tot_a AS DOUBLE)
                           + nb / CAST(tot_b AS DOUBLE))),
                   12) AS DECIMAL(28,12)) AS c,
               CAST(round(na / CAST(tot_a AS DOUBLE), 12)
                    AS DECIMAL(28,12)) AS p,
               CAST(round(nb / CAST(tot_b AS DOUBLE), 12)
                    AS DECIMAL(28,12)) AS q
        FROM pairs
    ),
    agg AS (
        SELECT src1, src2, count(*) AS n_shared,
               sum(c) AS sc, sum(p) AS sp, sum(q) AS sq
        FROM contrib GROUP BY 1, 2
    )
    SELECT src1, src2, n_shared,
           round((0.5 * (CAST(sc AS DOUBLE)
                         + ln(2.0) * ((1.0 - CAST(sp AS DOUBLE))
                                      + (1.0 - CAST(sq AS DOUBLE)))))
                 / ln(2.0), 6) AS jsd_bits_r
    FROM agg
    ORDER BY jsd_bits_r DESC, src1, src2
    LIMIT {_JSD_TOP}
"""


@register("js_divergence_sources", oracle=_JSD_SQL)
def js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen–Shannon divergence (in bits) between sources'
    unigram distributions — the symmetric, bounded [0,1] counterpart of
    ``psi_drift``'s binned score and ``source_vocab_overlap``'s set
    Jaccard: the standard "how redundant are these two corpora" read
    before choosing ``mixing_weights``.

    Scale shape: the pair join is TERM-keyed (terms carry the scale; the
    20-source pair fan-out per term is a dimension product, exactly
    ``source_vocab_overlap``); disjoint-support mass needs no outer join
    because Σ_shared p is tracked and the p-only tail contributes
    ½·ln2·(1−Σ_shared p) in closed form. Float discipline: each term's
    contribution is quantized to 12 decimals and summed as
    DECIMAL(28,12) — exact, order-independent — so the two engines'
    different summation orders cannot diverge the hash; scalar doubles
    touch only the per-pair 1-row moments."""
    d = table(spark, sf_dir, "documents")
    st = (
        d.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").alias("n"))
    )
    tot = st.groupBy("source").agg(F.sum("n").alias("tot"))
    a = st.select(F.col("source").alias("src1"), "tok", F.col("n").alias("na"))
    b = st.select(F.col("source").alias("src2"), "tok", F.col("n").alias("nb"))
    ta = tot.select(F.col("source").alias("src1"), F.col("tot").alias("tot_a"))
    tb = tot.select(F.col("source").alias("src2"), F.col("tot").alias("tot_b"))
    p = F.col("na") / F.col("tot_a").cast("double")
    q = F.col("nb") / F.col("tot_b").cast("double")
    contrib = (
        a.join(b, "tok")
        .filter(F.col("src1") < F.col("src2"))
        .join(F.broadcast(ta), "src1")
        .join(F.broadcast(tb), "src2")
        .select(
            "src1",
            "src2",
            F.round(
                p * F.log(2.0 * p / (p + q)) + q * F.log(2.0 * q / (p + q)), 12
            )
            .cast("decimal(28,12)")
            .alias("c"),
            F.round(p, 12).cast("decimal(28,12)").alias("p"),
            F.round(q, 12).cast("decimal(28,12)").alias("q"),
        )
    )
    agg = contrib.groupBy("src1", "src2").agg(
        F.count("*").alias("n_shared"),
        F.sum("c").alias("sc"),
        F.sum("p").alias("sp"),
        F.sum("q").alias("sq"),
    )
    ln2 = math.log(2.0)
    jsd = 0.5 * (
        F.col("sc").cast("double")
        + ln2
        * ((1.0 - F.col("sp").cast("double")) + (1.0 - F.col("sq").cast("double")))
    )
    return (
        agg.select(
            "src1",
            "src2",
            "n_shared",
            F.round(jsd / ln2, 6).alias("jsd_bits_r"),
        )
        .orderBy(F.col("jsd_bits_r").desc(), "src1", "src2")
        .limit(_JSD_TOP)
    )


# ------------------------------------------------- Fano-factor burstiness

_FANO_SQL = """
    WITH bounds AS (
        SELECT date_diff('day', min(date_trunc('day', ts)),
                         max(date_trunc('day', ts))) + 1 AS n_days
        FROM events
    ),
    daily AS (
        SELECT event_type, date_trunc('day', ts) AS day, count(*) AS x
        FROM events GROUP BY 1, 2
    ),
    s AS (
        SELECT event_type,
               sum(x) AS total,
               sum(CAST(x AS HUGEINT) * x) AS ssq
        FROM daily GROUP BY 1
    ),
    m AS (
        SELECT event_type,
               CAST(total AS BIGINT) AS n_events,
               b.n_days,
               CAST(total AS DOUBLE) / b.n_days AS mean,
               (CAST(ssq AS DOUBLE)
                - CAST(total AS DOUBLE) * CAST(total AS DOUBLE) / b.n_days)
               / (b.n_days - 1) AS var
        FROM s CROSS JOIN bounds b
    )
    SELECT event_type, n_days, n_events,
           round(mean, 6) AS mean_daily_r,
           round(var / mean, 6) AS fano_r,
           round((sqrt(var) - mean) / (sqrt(var) + mean), 6) AS burstiness_r
    FROM m
"""


@register("burstiness_fano", oracle=_FANO_SQL)
def burstiness_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type overdispersion of the daily arrival process: Fano
    factor F = σ²/μ of daily counts over the full observed calendar
    (F ≈ 1 ⇒ Poisson; F ≫ 1 ⇒ bursty) plus the Goh–Barabási burstiness
    B = (σ−μ)/(σ+μ) ∈ (−1, 1) — the traffic-shape diagnostic that says
    whether ``ewma_anomaly``'s smoothing constant is even appropriate.

    Scale shape: zero-event days are NEVER materialized — the calendar
    length comes from a broadcast 1-row min/max bound, and σ² over the
    zero-padded series reduces to (Σx² − (Σx)²/n_days)/(n_days−1) on
    the observed cells' exact integer moments (Σx² in DECIMAL(38,0):
    daily counts ~1e9 at 100 TB square past BIGINT). One shuffle keyed
    (event_type, day), one per-type aggregate, scalar doubles on the
    5-row result."""
    e = table(spark, sf_dir, "events")
    bounds = e.agg(
        (
            F.datediff(
                F.max(F.date_trunc("day", "ts")), F.min(F.date_trunc("day", "ts"))
            )
            + 1
        ).alias("n_days")
    )
    daily = e.groupBy("event_type", F.date_trunc("day", "ts").alias("day")).agg(
        F.count("*").alias("x")
    )
    s = daily.groupBy("event_type").agg(
        F.sum("x").cast("long").alias("total"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("x")).alias("ssq"),
    )
    m = s.crossJoin(F.broadcast(bounds))
    total_d = F.col("total").cast("double")
    nd = F.col("n_days").cast("double")
    mean = total_d / nd
    var = (F.col("ssq").cast("double") - total_d * total_d / nd) / (nd - 1)
    return m.select(
        "event_type",
        "n_days",
        F.col("total").alias("n_events"),
        F.round(mean, 6).alias("mean_daily_r"),
        F.round(var / mean, 6).alias("fano_r"),
        F.round((F.sqrt(var) - mean) / (F.sqrt(var) + mean), 6).alias(
            "burstiness_r"
        ),
    )


# ------------------------------------------- calibration / reliability bins

_CAL_BINS = 10

_CAL_SQL = f"""
    WITH lab AS (
        SELECT least(CAST(floor(value / 490.02 * {_CAL_BINS}) AS BIGINT),
                     {_CAL_BINS - 1}) AS bin,
               CAST(floor(value / 490.02 * 1000000 + 0.5) AS BIGINT) AS conf_u,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        FROM events WHERE event_type IN ('purchase', 'click')
    ),
    cells AS (
        SELECT bin, count(*) AS n, sum(pos) AS n_pos,
               sum(conf_u) AS conf_sum_u
        FROM lab GROUP BY 1
    ),
    tot AS (SELECT sum(n) AS n_all FROM cells),
    scored AS (
        SELECT bin, n, n_pos,
               round(conf_sum_u * 1.0 / n / 1000000, 6) AS mean_conf_r,
               round(n_pos * 1.0 / n, 6) AS frac_pos_r,
               abs(conf_sum_u * 1.0 / n / 1000000 - n_pos * 1.0 / n)
                   * n / t.n_all AS w_gap
        FROM cells CROSS JOIN tot t
    )
    SELECT bin, n, n_pos::BIGINT AS n_pos, mean_conf_r, frac_pos_r,
           round((SELECT sum(w_gap) FROM scored), 6) AS ece_r
    FROM scored
    ORDER BY bin
"""


@register("reliability_calibration_bins", oracle=_CAL_SQL)
def reliability_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + expected calibration error (ECE) for the
    min-max-scaled event value read as a purchase probability: 10 fixed
    equal-width bins, per-bin mean confidence vs empirical purchase
    fraction, and ECE = Σ nᵦ/N·|conf̄ᵦ − accᵦ| repeated on every row —
    the calibration companion to ``auc_mann_whitney`` (AUC measures
    ranking; ECE measures whether the scores MEAN what they say).

    Scale shape: binning is a FIXED 10-cell spine (``psi_drift``'s
    fixed-bin rule — learned quantile edges would add an interpolation
    hazard and a second pass); per-bin confidence sums accumulate as
    micro-unit integers (each score quantized to 1e-6 BEFORE summing,
    so engine summation order is moot); the ECE total is a broadcast
    1-row aggregate over the 10-row cell table."""
    e = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    scale = 490.02  # fixture value-domain max: scores scale to [0, 1]
    lab = e.select(
        F.least(
            F.floor(F.col("value") / scale * _CAL_BINS).cast("long"),
            F.lit(_CAL_BINS - 1),
        ).alias("bin"),
        # portable floor-ties quantizer: round()*1e6 then cast diverges
        # across engines (Spark cast truncates, DuckDB rounds); an
        # identical floor(x*1e6 + 0.5) double expression cannot
        F.floor(F.col("value") / scale * 1000000 + 0.5)
        .cast("long")
        .alias("conf_u"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("pos"),
    )
    cells = lab.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum("conf_u").alias("conf_sum_u"),
    )
    tot = cells.agg(F.sum("n").alias("n_all"))
    scored = cells.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n",
        "n_pos",
        F.round(F.col("conf_sum_u") / F.col("n") / 1000000, 6).alias(
            "mean_conf_r"
        ),
        F.round(F.col("n_pos") / F.col("n"), 6).alias("frac_pos_r"),
        (
            F.abs(
                F.col("conf_sum_u") / F.col("n") / 1000000
                - F.col("n_pos") / F.col("n")
            )
            * F.col("n")
            / F.col("n_all")
        ).alias("w_gap"),
    )
    ece = scored.agg(F.round(F.sum("w_gap"), 6).alias("ece_r"))
    return (
        scored.drop("w_gap")
        .crossJoin(F.broadcast(ece))
        .orderBy("bin")
    )


# ------------------------------------- McNemar test on paired dup flags

# Reuse the published near-dup stacks' CTEs/builders so the paired flags
# come from EXACTLY the pipelines being compared (no re-derived variant
# that could drift).
from ab_inbev_big_data_case_spark.llm.dedup import (  # noqa: E402
    KEPT_BANDS_SQL,
    LSH_BANDS_SQL,
    LSH_MAX_BUCKET_OCCUPANCY,
    MINHASH_SIG_SQL,
    lsh_band_buckets_wide,
    lsh_candidate_pairs,
    lsh_pairs_sql,
    minhash_signatures_wide,
    shingle_set,
    shingle_set_sql,
    simhash_band_pairs_sql,
    simhash_sig_sql,
)
from ab_inbev_big_data_case_spark.queries.llm import simhash_hamming_pairs  # noqa: E402

_MCNEMAR_SQL = f"""
    WITH {shingle_set_sql()}, {MINHASH_SIG_SQL}, {LSH_BANDS_SQL}, {KEPT_BANDS_SQL},
    {lsh_pairs_sql("mh")},
    {simhash_sig_sql("ssig")}, {simhash_band_pairs_sql("ssig")},
    sh_pairs AS (
        SELECT c.id1, c.id2
        FROM scand c
        JOIN ssig s1 ON s1.doc_id = c.id1
        JOIN ssig s2 ON s2.doc_id = c.id2
        WHERE bit_count(xor(s1.s, s2.s)) <= 3
    ),
    mh_docs AS (
        SELECT DISTINCT doc_id FROM (
            SELECT id1 AS doc_id FROM mh UNION ALL SELECT id2 FROM mh
        )
    ),
    sh_docs AS (
        SELECT DISTINCT doc_id FROM (
            SELECT id1 AS doc_id FROM sh_pairs
            UNION ALL SELECT id2 FROM sh_pairs
        )
    ),
    flags AS (
        SELECT (m.doc_id IS NOT NULL)::INT AS in_a,
               (s.doc_id IS NOT NULL)::INT AS in_b
        FROM documents d
        LEFT JOIN mh_docs m ON m.doc_id = d.doc_id
        LEFT JOIN sh_docs s ON s.doc_id = d.doc_id
    ),
    cells AS (
        SELECT sum(in_a * in_b) AS n11,
               sum(in_a * (1 - in_b)) AS n10,
               sum((1 - in_a) * in_b) AS n01,
               sum((1 - in_a) * (1 - in_b)) AS n00
        FROM flags
    )
    SELECT n11::BIGINT AS n_both,
           n10::BIGINT AS n_minhash_only,
           n01::BIGINT AS n_simhash_only,
           n00::BIGINT AS n_neither,
           round(CASE WHEN n10 + n01 > 0
                      THEN pow(abs(n10 - n01) - 1, 2) * 1.0 / (n10 + n01)
                      ELSE 0.0 END, 6) AS mcnemar_chi2_r
    FROM cells
"""


@register("mcnemar_dedup_paths", oracle=_MCNEMAR_SQL)
def mcnemar_dedup_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar marginal-homogeneity test on the PAIRED per-document dup
    flags of the two published near-dup paths (MinHash-LSH vs SimHash
    radius-3): the discordant cells b (MinHash-only) and c
    (SimHash-only) drive χ² = (|b−c|−1)²/(b+c) — unlike
    ``dedup_paths_agreement``'s pair-set Jaccard, this asks the
    DECISION question: does one detector systematically flag more
    documents than the other on the same corpus? (No ground truth
    needed — McNemar tests the asymmetry itself.)

    Scale shape: both flag sets derive from their banded equi-join
    candidate pairs (never corpus²) collapsed to distinct doc ids; the
    2×2 table is two left joins onto the doc spine + one 1-row
    aggregate of exact integer cells; the statistic (with continuity
    correction) is scalar arithmetic on that row."""
    d = table(spark, sf_dir, "documents")
    sig = minhash_signatures_wide(shingle_set(d, "doc_id", "text", 3), "doc_id", 8)
    mh = lsh_candidate_pairs(
        lsh_band_buckets_wide(sig, "doc_id", 8, 2),
        "doc_id",
        max_bucket_occupancy=LSH_MAX_BUCKET_OCCUPANCY,
    )
    sh = simhash_hamming_pairs(spark, sf_dir).select("id1", "id2")

    def doc_flags(pairs: DataFrame, flag: str) -> DataFrame:
        return (
            pairs.select(F.col("id1").alias("doc_id"))
            .unionAll(pairs.select(F.col("id2").alias("doc_id")))
            .distinct()
            .withColumn(flag, F.lit(1))
        )

    flags = (
        d.select("doc_id")
        .join(doc_flags(mh, "in_a"), "doc_id", "left")
        .join(doc_flags(sh, "in_b"), "doc_id", "left")
        .select(
            F.coalesce("in_a", F.lit(0)).alias("in_a"),
            F.coalesce("in_b", F.lit(0)).alias("in_b"),
        )
    )
    cells = flags.agg(
        F.sum(F.col("in_a") * F.col("in_b")).alias("n11"),
        F.sum(F.col("in_a") * (1 - F.col("in_b"))).alias("n10"),
        F.sum((1 - F.col("in_a")) * F.col("in_b")).alias("n01"),
        F.sum((1 - F.col("in_a")) * (1 - F.col("in_b"))).alias("n00"),
    )
    b, c = F.col("n10"), F.col("n01")
    return cells.select(
        F.col("n11").cast("long").alias("n_both"),
        b.cast("long").alias("n_minhash_only"),
        c.cast("long").alias("n_simhash_only"),
        F.col("n00").cast("long").alias("n_neither"),
        F.round(
            F.when(
                b + c > 0,
                F.pow(F.abs(b - c) - 1, 2) / (b + c),
            ).otherwise(0.0),
            6,
        ).alias("mcnemar_chi2_r"),
    )


# --------------------------------------- deterministic permutation test

from ab_inbev_big_data_case_spark.functions.text import (  # noqa: E402
    token_hash64,
    token_hash64_sql,
)

_PERM_R = 20

_PERM_SQL = f"""
    WITH base AS (
        SELECT event_id,
               CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v_u,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS arm
        FROM events WHERE event_type IN ('purchase', 'click')
    ),
    fan AS (
        SELECT b.r,
               CASE WHEN b.r = 0 THEN arm
                    ELSE ({token_hash64_sql("event_id::VARCHAR || ':' || b.r::VARCHAR")} % 2)
               END AS arm_r,
               v_u
        FROM (SELECT *, unnest(range(0, {_PERM_R + 1})) AS r FROM base) b
    ),
    cells AS (
        SELECT r,
               sum(CASE WHEN arm_r = 1 THEN v_u ELSE 0 END) AS s1,
               sum(CASE WHEN arm_r = 1 THEN 1 ELSE 0 END) AS n1,
               sum(CASE WHEN arm_r = 0 THEN v_u ELSE 0 END) AS s0,
               sum(CASE WHEN arm_r = 0 THEN 1 ELSE 0 END) AS n0
        FROM fan GROUP BY 1
    ),
    diffs AS (
        SELECT r, n1, n0,
               abs(s1 * 1.0 / n1 - s0 * 1.0 / n0) / 1000000 AS d
        FROM cells
    ),
    obs AS (SELECT n1, n0, d FROM diffs WHERE r = 0)
    SELECT o.n1::BIGINT AS n_a,
           o.n0::BIGINT AS n_b,
           round(o.d, 6) AS obs_diff_r,
           {_PERM_R} AS n_replicates,
           sum(CASE WHEN p.r > 0 AND p.d >= o.d THEN 1 ELSE 0 END)::BIGINT
               AS n_extreme,
           round((1.0 + sum(CASE WHEN p.r > 0 AND p.d >= o.d
                                 THEN 1 ELSE 0 END)) / (1.0 + {_PERM_R}), 4)
               AS p_value_r
    FROM diffs p CROSS JOIN obs o
    GROUP BY o.n1, o.n0, o.d
"""


@register("permutation_test_ab", oracle=_PERM_SQL)
def permutation_test_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation test of the purchase-vs-click mean value difference:
    20 deterministic label reassignments (each event's arm re-drawn from
    the portable hash of (event_id, replicate) — zero sampling state,
    the ``poisson_bootstrap_ci`` discipline applied to the null
    distribution) and p = (1 + #{|Δ_perm| ≥ |Δ_obs|}) / (1 + R) — the
    distribution-free companion to ``welch_ab_test``'s t statistic.

    Scale shape: one fixed 21× fan-out (replicate 0 = observed labels)
    feeds ONE (replicate, arm) grouped aggregate of micro-unit integer
    sums; each |Δ| is two exact-integer divisions on a 21-row table, so
    both engines compare bit-identical doubles — no rounding boundary in
    the ≥ test. The observed row broadcasts back onto the replicate
    spine."""
    e = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    base = e.select(
        "event_id",
        F.floor(F.col("value") * 1000000 + 0.5).cast("long").alias("v_u"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("arm"),
    )
    fan = base.select(
        "v_u",
        "arm",
        "event_id",
        F.explode(F.sequence(F.lit(0), F.lit(_PERM_R))).alias("r"),
    ).select(
        "r",
        F.when(F.col("r") == 0, F.col("arm"))
        .otherwise(
            F.pmod(
                token_hash64(
                    F.concat_ws(":", F.col("event_id"), F.col("r"))
                ),
                F.lit(2),
            )
        )
        .alias("arm_r"),
        "v_u",
    )
    cells = fan.groupBy("r").agg(
        F.sum(F.when(F.col("arm_r") == 1, F.col("v_u")).otherwise(0)).alias("s1"),
        F.sum(F.when(F.col("arm_r") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("arm_r") == 0, F.col("v_u")).otherwise(0)).alias("s0"),
        F.sum(F.when(F.col("arm_r") == 0, 1).otherwise(0)).alias("n0"),
    )
    diffs = cells.select(
        "r",
        "n1",
        "n0",
        (F.abs(F.col("s1") / F.col("n1") - F.col("s0") / F.col("n0")) / 1000000).alias(
            "d"
        ),
    )
    # The observed row joins back via a window over the 21-row replicate
    # spine (bounded by R, not data) — a filter+crossJoin would re-execute
    # the whole fan-out lineage for the 1-row side (a second events scan;
    # pinned single-scan by test_plans).
    w_all = Window.partitionBy()
    obs_col = lambda c: F.max(F.when(F.col("r") == 0, F.col(c))).over(w_all)
    diffs = diffs.select(
        "r",
        "d",
        obs_col("n1").alias("on1"),
        obs_col("n0").alias("on0"),
        obs_col("d").alias("od"),
    )
    extreme = F.sum(
        F.when((F.col("r") > 0) & (F.col("d") >= F.col("od")), 1).otherwise(0)
    )
    return (
        diffs.groupBy("on1", "on0", "od")
        .agg(
            extreme.alias("n_extreme"),
        )
        .select(
            F.col("on1").cast("long").alias("n_a"),
            F.col("on0").cast("long").alias("n_b"),
            F.round(F.col("od"), 6).alias("obs_diff_r"),
            F.lit(_PERM_R).cast("int").alias("n_replicates"),
            F.col("n_extreme").cast("long").alias("n_extreme"),
            F.round((1.0 + F.col("n_extreme")) / (1.0 + _PERM_R), 4).alias(
                "p_value_r"
            ),
        )
    )


# ---------------------------------------------------- Lorenz curve deciles

_LORENZ_SQL = f"""
    WITH prev AS (
        SELECT o_custkey,
               CAST({money_sum_sql('o_totalprice')} * 100
                    AS BIGINT) AS rev_c
        FROM orders GROUP BY 1
    ),
    ranked AS (
        SELECT rev_c,
               row_number() OVER (ORDER BY rev_c, o_custkey) AS grank
        FROM prev
    ),
    tot AS (SELECT count(*) AS n, sum(rev_c) AS tot_c FROM ranked),
    dec AS (
        SELECT (r.grank - 1) * 10 // t.n AS decile,
               count(*) AS n_customers,
               sum(r.rev_c) AS dec_c
        FROM ranked r CROSS JOIN tot t
        GROUP BY 1
    ),
    walk AS (
        SELECT decile, n_customers, dec_c,
               sum(dec_c) OVER (ORDER BY decile
                                ROWS UNBOUNDED PRECEDING) AS cum_c
        FROM dec
    )
    SELECT w.decile, w.n_customers,
           round(w.dec_c * 1.0 / t.tot_c, 6) AS decile_share_r,
           round(w.cum_c * 1.0 / t.tot_c, 6) AS cum_share_r
    FROM walk w CROSS JOIN tot t
    ORDER BY w.decile
"""


@register("lorenz_curve_points", oracle=_LORENZ_SQL)
def lorenz_curve_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of customer revenue at decile resolution: customers
    ascending-ranked by revenue, decile = ⌊(rank−1)·10/n⌋, per-decile
    and cumulative revenue share — the plottable curve whose area
    deficit ``gini_concentration`` summarizes in one number (the
    bottom-decile share is the "how broad is the base" read; the top
    decile is ``abc_pareto_class``'s A-class seen from below).

    Scale shape: ``gini_concentration``'s global rank (``prefix_sums``);
    the decile id is scalar arithmetic on (rank, customer count); the
    cumulative walk runs on the fixed 10-row decile spine. Shares divide
    exact integer cents once per output row."""
    prev = _custrev(spark, sf_dir)
    tot = prev.agg(F.sum("rev_c").alias("tot_c"))
    dec = (
        prefix_sums(prev, "rev_c", ["o_custkey"], {"grank": F.lit(1)})
        .crossJoin(F.broadcast(tot))
        .groupBy(F.expr("(grank - 1) * 10 div grank_total").alias("decile"))
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("rev_c").alias("dec_c"),
            F.first("tot_c").alias("tot_c"),
        )
    )
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )  # fixed 10-row decile spine
    return (
        dec.withColumn("cum_c", F.sum("dec_c").over(w))
        .select(
            "decile",
            "n_customers",
            F.round(F.col("dec_c") / F.col("tot_c"), 6).alias("decile_share_r"),
            F.round(F.col("cum_c") / F.col("tot_c"), 6).alias("cum_share_r"),
        )
        .orderBy("decile")
    )


# ------------------------------------- Markov next-event accuracy

_MARKOV_ACC_SQL = """
    WITH seq AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_type
        FROM events
    ),
    pairs AS (
        SELECT event_type AS prev, next_type AS nxt, count(*) AS n
        FROM seq WHERE next_type IS NOT NULL
        GROUP BY 1, 2
    ),
    pred AS (
        SELECT prev, nxt AS pred_next
        FROM (
            SELECT prev, nxt,
                   row_number() OVER (PARTITION BY prev
                                      ORDER BY n DESC, nxt) AS rn
            FROM pairs
        ) WHERE rn = 1
    ),
    scored AS (
        SELECT p.prev, p.nxt, p.n, (p.nxt = d.pred_next)::INT AS hit
        FROM pairs p JOIN pred d ON d.prev = p.prev
    ),
    base AS (
        SELECT nxt, sum(n) AS n_nxt FROM pairs GROUP BY 1
    ),
    mx AS (SELECT max(n_nxt) AS n_mode FROM base)
    SELECT sum(s.n)::BIGINT AS n_transitions,
           round(sum(s.hit * s.n) * 1.0 / sum(s.n), 6) AS top1_accuracy_r,
           round(m.n_mode * 1.0 / sum(s.n), 6) AS majority_baseline_r,
           round((sum(s.hit * s.n) - m.n_mode * 1.0)
                 / (sum(s.n) - m.n_mode), 6) AS kappa_vs_majority_r
    FROM scored s CROSS JOIN mx m
    GROUP BY m.n_mode
"""


@register("markov_next_event_accuracy", oracle=_MARKOV_ACC_SQL)
def markov_next_event_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-sample top-1 accuracy of the first-order Markov next-event
    model (predict argmax P(next|prev) per state) against the
    majority-class baseline, with the kappa-style skill score
    (acc − base)/(1 − base) — does sequence context beat just always
    predicting the most common event? The evaluation companion to
    ``event_transitions``' transition matrix.

    Scale shape: ONE user-keyed lead() window builds the transition
    pairs (the ``event_transitions`` shape); the per-state argmax is a
    window PARTITIONED by the ≤5-value state key with a deterministic
    (count desc, type asc) tiebreak; accuracy is exact-integer
    arithmetic on the transition-count cells — the raw sequence is
    never rescanned."""
    e = table(spark, sf_dir, "events")
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select(
            F.col("event_type").alias("prev"),
            F.lead("event_type").over(w_seq).alias("nxt"),
        )
        .filter(F.col("nxt").isNotNull())
        .groupBy("prev", "nxt")
        .agg(F.count("*").alias("n"))
    )
    w_arg = Window.partitionBy("prev").orderBy(F.col("n").desc(), "nxt")
    pred = (
        pairs.withColumn("rn", F.row_number().over(w_arg))
        .filter(F.col("rn") == 1)
        .select("prev", F.col("nxt").alias("pred_next"))
    )
    scored = pairs.join(F.broadcast(pred), "prev").select(
        "n", (F.col("nxt") == F.col("pred_next")).cast("int").alias("hit")
    )
    mx = (
        pairs.groupBy("nxt")
        .agg(F.sum("n").alias("n_nxt"))
        .agg(F.max("n_nxt").alias("n_mode"))
    )
    hits = F.sum(F.col("hit") * F.col("n"))
    tot = F.sum("n")
    return (
        scored.crossJoin(F.broadcast(mx))
        .groupBy("n_mode")
        .agg(
            tot.cast("long").alias("n_transitions"),
            F.round(hits / tot, 6).alias("top1_accuracy_r"),
            F.round(F.first("n_mode") / tot, 6).alias("majority_baseline_r"),
            F.round(
                (hits - F.first("n_mode")) / (tot - F.first("n_mode")), 6
            ).alias("kappa_vs_majority_r"),
        )
        .drop("n_mode")
    )


# --------------------------------- negative binomial overdispersion fit

_NEGBIN_SQL = """
    WITH weekly AS (
        SELECT user_id, date_trunc('week', CAST(ts AS DATE)) AS wk,
               count(*) AS k
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1, 2
    ),
    s AS (
        SELECT count(*) AS n,
               sum(k)::HUGEINT AS sk,
               sum((k::HUGEINT) * k) AS qk
        FROM weekly
    )
    SELECT n,
           round(sk::DOUBLE / n, 4) AS mean_r,
           round((n * qk - sk * sk)::DOUBLE / (n::DOUBLE * (n - 1)), 4)
               AS var_r,
           round(((n * qk - sk * sk)::DOUBLE / (n::DOUBLE * (n - 1)))
                 / (sk::DOUBLE / n), 4) AS dispersion_r,
           round(CASE WHEN (n * qk - sk * sk)::DOUBLE / (n::DOUBLE * (n - 1))
                           > sk::DOUBLE / n
                      THEN (sk::DOUBLE / n) * (sk::DOUBLE / n)
                           / ((n * qk - sk * sk)::DOUBLE / (n::DOUBLE * (n - 1))
                              - sk::DOUBLE / n)
                      ELSE NULL END, 4) AS nb_r_hat_r
    FROM s
"""


@register("negbin_overdispersion_fit", oracle=_NEGBIN_SQL)
def negbin_overdispersion_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-binomial method-of-moments fit to per-(user, week)
    purchase counts: dispersion index var/mean (1 = Poisson) and the NB
    size r̂ = μ²/(σ²−μ) when overdispersed — the standard count-model
    triage before modeling purchase frequency (NBD/Pareto-NBD models in
    marketing start exactly here). Complements ``burstiness_fano``
    (per-entity Fano on fixed windows) with the population-level fit.

    Exactness: counts are integers, moments accumulate exactly (Σk, Σk²
    as decimals), the mean/variance/r̂ combination runs once on the
    1-row result in double with an identical expression in both engines.

    Scale shape: one (user, week)-keyed partial aggregate, then a 1-row
    exact-moment combine."""
    e = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    weekly = e.groupBy(
        "user_id", F.date_trunc("week", F.to_date("ts")).alias("wk")
    ).agg(F.count("*").alias("k"))
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = weekly.agg(
        F.count("*").alias("n"),
        F.sum(dec("k")).alias("sk"),
        F.sum(dec("k") * F.col("k")).alias("qk"),
    )
    mean = F.col("sk").cast("double") / F.col("n")
    var = (F.col("n") * F.col("qk") - F.col("sk") * F.col("sk")).cast(
        "double"
    ) / (F.col("n").cast("double") * (F.col("n") - 1))
    return s.select(
        "n",
        F.round(mean, 4).alias("mean_r"),
        F.round(var, 4).alias("var_r"),
        F.round(var / mean, 4).alias("dispersion_r"),
        F.round(
            F.when(var > mean, mean * mean / (var - mean)).otherwise(F.lit(None)),
            4,
        ).alias("nb_r_hat_r"),
    )


# ----------------------------------------- Wilcoxon signed-rank test

_WILCOXON_SQL = f"""
    WITH u AS (
        SELECT user_id,
               CAST(round(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
                                   THEN {money_sql('value')} END), 2)
                    * 100 AS BIGINT) AS pre_c,
               CAST(round(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                                   THEN {money_sql('value')} END), 2)
                    * 100 AS BIGINT) AS post_c
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1
        HAVING pre_c IS NOT NULL AND post_c IS NOT NULL
    ),
    d AS (
        SELECT post_c - pre_c AS diff, abs(post_c - pre_c) AS a
        FROM u WHERE post_c <> pre_c
    ),
    cells AS (SELECT a, count(*) AS c FROM d GROUP BY 1),
    rmap AS (
        SELECT a, c,
               2 * sum(c) OVER (ORDER BY a ROWS UNBOUNDED PRECEDING)
                 - c + 1 AS r2
        FROM cells
    ),
    s AS (
        SELECT count(*) AS n,
               sum(CASE WHEN d.diff > 0 THEN r2 ELSE 0 END)::HUGEINT AS w2p,
               (SELECT sum((c::HUGEINT) * c * c - c) FROM cells) AS tie3
        FROM d JOIN rmap USING (a)
    )
    SELECT n, (w2p / 2.0) AS w_plus,
           round(((w2p / 2.0) - n::DOUBLE * (n + 1) / 4)
                 / sqrt(n::DOUBLE * (n + 1) * (2 * n + 1) / 24
                        - tie3::DOUBLE / 48), 4) AS z_r
    FROM s
"""


@register("wilcoxon_signed_rank", oracle=_WILCOXON_SQL)
def wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test on paired pre/post purchase spend per
    user — the nonparametric paired counterpart to the two-sample tests
    in this family (``welch_ab_test`` is unpaired means,
    ``permutation_test_ab`` resamples, McNemar is binary): W⁺ sums the
    ranks of |post − pre| over users who increased, and the normal
    approximation carries the exact tie correction Σ(t³−t)/48.

    Exactness: diffs are exact cents; average ranks use the DOUBLED-rank
    identity (2·below + ties + 1, always an integer) over the distinct
    |diff| spine; W⁺ and the tie sum stay integer until the one z
    expression. The rank spine here is user-population-sized, so the
    PRODUCTION version of this map is ``operators.relational.prefix_sums``
    (as in ``gains_chart_deciles``); with the audit-sized pair panel this
    single-spine window is the honest plan and is allowlisted as such.
    """
    e = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    split = F.lit("2024-01-16").cast("timestamp")
    period_cents = lambda cond: (  # noqa: E731
        F.round(F.sum(F.when(cond, money(F.col("value")))), 2) * 100
    ).cast("long")
    u = (
        e.groupBy("user_id")
        .agg(
            period_cents(F.col("ts") < split).alias("pre_c"),
            period_cents(F.col("ts") >= split).alias("post_c"),
        )
        .filter(F.col("pre_c").isNotNull() & F.col("post_c").isNotNull())
    )
    d = u.filter(F.col("post_c") != F.col("pre_c")).select(
        (F.col("post_c") - F.col("pre_c")).alias("diff"),
        F.abs(F.col("post_c") - F.col("pre_c")).alias("a"),
    )
    cells = d.groupBy("a").agg(F.count("*").alias("c"))
    w = Window.orderBy("a").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rmap = cells.select(
        "a", "c", (2 * F.sum("c").over(w) - F.col("c") + 1).alias("r2")
    )
    tie3 = cells.agg(
        F.sum(
            F.col("c").cast("decimal(38,0)") * F.col("c") * F.col("c") - F.col("c")
        ).alias("tie3")
    )
    s = (
        d.join(rmap, "a")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(F.col("diff") > 0, F.col("r2")).otherwise(0).cast(
                    "decimal(38,0)"
                )
            ).alias("w2p"),
        )
        .crossJoin(F.broadcast(tie3))
    )
    n_d = F.col("n").cast("double")
    wp = F.col("w2p").cast("double") / 2.0
    return s.select(
        "n",
        wp.alias("w_plus"),
        F.round(
            (wp - n_d * (F.col("n") + 1) / 4)
            / F.sqrt(
                n_d * (F.col("n") + 1) * (2 * F.col("n") + 1) / 24
                - F.col("tie3").cast("double") / 48
            ),
            4,
        ).alias("z_r"),
    )


# ------------------------------------------------- Levene's test

_LEVENE_SQL = f"""
    WITH v AS (
        SELECT c_mktsegment AS seg,
               {cents_sql('c_acctbal')} AS x_c
        FROM customer
    ),
    cells AS (SELECT seg, x_c, count(*) AS c FROM v GROUP BY 1, 2),
    walk AS (
        SELECT seg, x_c,
               sum(c) OVER (PARTITION BY seg ORDER BY x_c
                            ROWS UNBOUNDED PRECEDING) AS cum,
               sum(c) OVER (PARTITION BY seg) AS n
        FROM cells
    ),
    med AS (
        SELECT seg, min(CASE WHEN 2 * cum >= n THEN x_c END) AS med_c
        FROM walk GROUP BY 1
    ),
    z AS (
        SELECT v.seg, abs(v.x_c - m.med_c) AS z_c
        FROM v JOIN med m ON m.seg = v.seg
    ),
    g AS (
        SELECT seg, count(*) AS ni, sum(z_c)::HUGEINT AS si,
               sum((z_c::HUGEINT) * z_c) AS qi
        FROM z GROUP BY 1
    ),
    tot AS (
        SELECT count(*) AS k, sum(ni) AS n,
               sum(si)::HUGEINT AS s, sum(qi)::HUGEINT AS q
        FROM g
    )
    SELECT t.k, t.n::BIGINT AS n,
           round(((t.n - t.k) * (SELECT sum(ni::DOUBLE
                       * pow(si::DOUBLE / ni - t.s::DOUBLE / t.n, 2)) FROM g))
                 / ((t.k - 1) * (SELECT sum(qi::DOUBLE
                       - si::DOUBLE * si / ni) FROM g)), 4) AS levene_w_r
    FROM tot t
"""


@register("levene_test", oracle=_LEVENE_SQL)
def levene_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levene/Brown–Forsythe test for equal variances across market
    segments: one-way ANOVA on |x − group median| (the median-centered
    variant, robust to non-normality) — the homogeneity check that gates
    ``anova_two_way``/``welch_ab_test`` assumptions.

    Exactness: balances are exact cents, group medians are ATTAINED
    values selected by integer rank inequality over per-segment value
    spines (cent-domain-bounded), deviations are integers, and W
    combines exact Σz, Σz² moments in one double expression.

    Scale shape: the median spines are per-segment cumsum windows over
    value-domain-bounded cells; everything else is keyed partial
    aggregation on the 5-segment domain."""
    c = table(spark, sf_dir, "customer")
    v = c.select(
        F.col("c_mktsegment").alias("seg"),
        cents(F.col("c_acctbal")).alias("x_c"),
    )
    cells = v.groupBy("seg", "x_c").agg(F.count("*").alias("c"))
    wcum = (
        Window.partitionBy("seg")
        .orderBy("x_c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("seg")
    walk = cells.select(
        "seg",
        "x_c",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(wall).alias("n"),
    )
    med = walk.groupBy("seg").agg(
        F.min(F.when(2 * F.col("cum") >= F.col("n"), F.col("x_c"))).alias("med_c")
    )
    z = v.join(F.broadcast(med), "seg").select(
        "seg", F.abs(F.col("x_c") - F.col("med_c")).alias("z_c")
    )
    dec = lambda col: F.col(col).cast("decimal(38,0)")  # noqa: E731
    g = z.groupBy("seg").agg(
        F.count("*").alias("ni"),
        F.sum(dec("z_c")).alias("si"),
        F.sum(dec("z_c") * F.col("z_c")).alias("qi"),
    )
    tot = g.agg(
        F.count("*").alias("k"),
        F.sum("ni").alias("n"),
        F.sum("si").alias("s"),
        F.sum("qi").alias("q"),
    )
    gt = g.crossJoin(F.broadcast(tot))
    num_terms = gt.select(
        (
            F.col("ni").cast("double")
            * F.pow(
                F.col("si").cast("double") / F.col("ni")
                - F.col("s").cast("double") / F.col("n"),
                2,
            )
        ).alias("nt"),
        (
            F.col("qi").cast("double")
            - F.col("si").cast("double") * F.col("si").cast("double") / F.col("ni")
        ).alias("dt"),
    ).agg(F.sum("nt").alias("num"), F.sum("dt").alias("den"))
    return (
        tot.crossJoin(F.broadcast(num_terms))
        .select(
            "k",
            F.col("n").cast("long").alias("n"),
            F.round(
                ((F.col("n") - F.col("k")) * F.col("num"))
                / ((F.col("k") - 1) * F.col("den")),
                4,
            ).alias("levene_w_r"),
        )
    )


# ----------------------------------- Benjamini-Hochberg FDR (chi2 panel)


def _chi2_df4_threshold(p_target: float) -> float:
    """Invert the CLOSED-FORM df=4 chi-square upper tail
    Q(x) = exp(-x/2)(1 + x/2) at ``p_target`` by bisection (pure Python —
    evaluated ONCE at import, embedded as literals so neither engine's
    libm exp() sits in the decision path)."""
    lo, hi = 0.0, 200.0
    for _ in range(200):
        mid = (lo + hi) / 2
        q = math.exp(-mid / 2) * (1 + mid / 2)
        if q > p_target:
            lo = mid
        else:
            hi = mid
    return (lo + hi) / 2


_BH_Q = 0.10
_BH_M = 25  # nations = hypotheses
_BH_THRESHOLDS = [
    (k, _chi2_df4_threshold(k * _BH_Q / _BH_M)) for k in range(1, _BH_M + 1)
]
_BH_VALUES_SQL = ", ".join(f"({k}, {t!r})" for k, t in _BH_THRESHOLDS)

_BH_SQL = f"""
    WITH cells AS (
        SELECT c.c_nationkey AS nation, o.o_orderpriority AS pr,
               count(*) AS o_cnt
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    ntot AS (SELECT nation, sum(o_cnt) AS n FROM cells GROUP BY 1),
    gdist AS (
        SELECT pr, sum(o_cnt) AS g FROM cells GROUP BY 1
    ),
    gtot AS (SELECT sum(o_cnt) AS gn FROM cells),
    chi AS (
        SELECT t.nation,
               sum(
                   (coalesce(c.o_cnt, 0) - t.n * d.g * 1.0 / gt.gn)
                   * (coalesce(c.o_cnt, 0) - t.n * d.g * 1.0 / gt.gn)
                   / (t.n * d.g * 1.0 / gt.gn)
               ) AS x2
        FROM ntot t
        CROSS JOIN gdist d
        CROSS JOIN gtot gt
        LEFT JOIN cells c ON c.nation = t.nation AND c.pr = d.pr
        GROUP BY 1
    ),
    ranked AS (
        SELECT nation, x2,
               row_number() OVER (ORDER BY x2 DESC, nation) AS k
        FROM chi
    ),
    th(k, x2_min) AS (VALUES {_BH_VALUES_SQL}),
    marked AS (
        SELECT r.nation, r.x2, r.k,
               CASE WHEN r.x2 >= t.x2_min THEN 1 ELSE 0 END AS below
        FROM ranked r JOIN th t ON t.k = r.k
    ),
    kstar AS (SELECT max(CASE WHEN below = 1 THEN k END) AS ks FROM marked)
    SELECT m.nation, round(m.x2, 6) AS chi2_r, m.k,
           CASE WHEN m.k <= coalesce(s.ks, 0) THEN 1 ELSE 0 END AS rejected
    FROM marked m CROSS JOIN kstar s
"""


@register("bh_fdr_chi2_panel", oracle=_BH_SQL)
def bh_fdr_chi2_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control (1995) over a 25-hypothesis panel:
    per nation, a df=4 chi-square of its order-priority mix against the
    global mix; BH rejects the k* most extreme statistics where k* is the
    largest k whose k-th order statistic clears p_(k) ≤ k·q/m (q=0.10).
    The step-up rule runs on the CHI-SQUARE scale against thresholds
    inverted ONCE in Python from the closed-form df=4 tail
    Q(x)=e^{-x/2}(1+x/2) and embedded as literals — no libm exp() in
    either engine's decision path, so marginal hypotheses cannot flip on
    an ulp.

    Scale shape: one fact join + (nation × priority)-bounded aggregate;
    everything after lives on the 25-row nation panel: the rank window
    and the step-up itself, a suffix running-max over the same panel
    (rejected_k = max_{j≥k} below_j, exactly k ≤ k*) — TWO partitionless
    window specs, both bounded by the 25-nation panel, never the fact
    table, and no duplicated fact subtree (the old 1-row k* aggregate
    re-ran the whole chi-square branch a second time)."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    cells = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_nationkey").alias("nation"), F.col("o_orderpriority").alias("pr"))
        .agg(F.count("*").alias("o_cnt"))
    )
    ntot = cells.groupBy("nation").agg(F.sum("o_cnt").alias("n"))
    gdist = cells.groupBy("pr").agg(F.sum("o_cnt").alias("g"))
    gtot = cells.agg(F.sum("o_cnt").alias("gn"))
    e = F.col("n") * F.col("g") * F.lit(1.0) / F.col("gn")
    chi = (
        ntot.crossJoin(F.broadcast(gdist))
        .crossJoin(F.broadcast(gtot))
        .join(
            cells.withColumnRenamed("nation", "cn").withColumnRenamed("pr", "cpr"),
            (F.col("cn") == F.col("nation")) & (F.col("cpr") == F.col("pr")),
            "left",
        )
        .select(
            "nation",
            (
                (F.coalesce(F.col("o_cnt"), F.lit(0)) - e)
                * (F.coalesce(F.col("o_cnt"), F.lit(0)) - e)
                / e
            ).alias("term"),
        )
        .groupBy("nation")
        .agg(F.sum("term").alias("x2"))
    )
    ranked = chi.select(
        "nation",
        "x2",
        F.row_number().over(Window.orderBy(F.col("x2").desc(), F.col("nation"))).alias("k"),
    )
    th = const_df(spark, _BH_THRESHOLDS, "k INT, x2_min DOUBLE")
    marked = ranked.join(F.broadcast(th), "k").select(
        "nation",
        "x2",
        "k",
        (F.col("x2") >= F.col("x2_min")).cast("int").alias("below"),
    )
    w_suffix = (
        Window.orderBy(F.col("k").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return marked.select(
        "nation",
        F.round("x2", 6).alias("chi2_r"),
        "k",
        F.max("below").over(w_suffix).alias("rejected"),
    )


# --------------------------------- Cochran-Mantel-Haenszel stratified test

_CMH_SQL = """
    WITH s AS (
        SELECT c.c_nationkey AS nation,
               sum(CASE WHEN o.o_orderpriority = '1-URGENT'
                         AND o.o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT AS a,
               sum(CASE WHEN o.o_orderpriority = '1-URGENT'
                        THEN 1 ELSE 0 END)::BIGINT AS n1,
               sum(CASE WHEN o.o_orderstatus = 'F'
                        THEN 1 ELSE 0 END)::BIGINT AS m1,
               count(*)::BIGINT AS nk
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1
    ),
    agg AS (
        SELECT count(*) AS n_strata,
               sum(a)::BIGINT AS sum_a,
               sum((n1 * m1) / nk) AS sum_e,
               sum(n1::DOUBLE * (nk - n1) * m1 * (nk - m1)
                   / (nk::DOUBLE * nk * (nk - 1))) AS sum_v
        FROM s WHERE nk > 1
    )
    SELECT n_strata::INT AS n_strata, sum_a,
           round(sum_e, 6) AS sum_e_r,
           round(sum_v, 6) AS sum_v_r,
           round((sum_a - sum_e) * (sum_a - sum_e) / sum_v, 6) AS cmh_r
    FROM agg
"""


@register("cmh_test", oracle=_CMH_SQL)
def cmh_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Mantel-Haenszel chi-square (1959): association between
    urgency (priority '1-URGENT') and fulfillment (status 'F') controlled
    for nation — 25 stratified 2×2 tables, one pooled statistic
    CMH = (Σaₖ − ΣEₖ)² / ΣVₖ with Eₖ = n1ₖm1ₖ/nₖ and the standard
    hypergeometric Vₖ. No continuity correction (both engines compute the
    same uncorrected form). The stratified upgrade of
    ``chi2_independence`` — Simpson-proof where the marginal test is not.

    Exactness: the four per-stratum counts are exact longs; Σaₖ stays
    integer (the squared numerator uses the exact count difference), and
    Eₖ/Vₖ are per-stratum doubles from identical expression trees summed
    only over the 25-row panel (the anova discipline).

    Scale shape: one fact join + ONE grouped pass to the 25-row stratum
    panel (conditional-sum partials, map-side combinable); everything
    after is arithmetic on that panel."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_nationkey").alias("nation"))
        .agg(
            F.sum(
                F.when(
                    (F.col("o_orderpriority") == "1-URGENT")
                    & (F.col("o_orderstatus") == "F"),
                    1,
                ).otherwise(0)
            ).alias("a"),
            F.sum(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            ).alias("n1"),
            F.sum(
                F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
            ).alias("m1"),
            F.count("*").alias("nk"),
        )
        .filter(F.col("nk") > 1)
    )
    e = (F.col("n1") * F.col("m1")) / F.col("nk")
    v = (
        F.col("n1").cast("double")
        * (F.col("nk") - F.col("n1"))
        * F.col("m1")
        * (F.col("nk") - F.col("m1"))
        / (F.col("nk").cast("double") * F.col("nk") * (F.col("nk") - 1))
    )
    agg = s.agg(
        F.count("*").cast("int").alias("n_strata"),
        F.sum("a").alias("sum_a"),
        F.sum(e).alias("sum_e"),
        F.sum(v).alias("sum_v"),
    )
    return agg.select(
        "n_strata",
        "sum_a",
        F.round("sum_e", 6).alias("sum_e_r"),
        F.round("sum_v", 6).alias("sum_v_r"),
        F.round(
            (F.col("sum_a") - F.col("sum_e"))
            * (F.col("sum_a") - F.col("sum_e"))
            / F.col("sum_v"),
            6,
        ).alias("cmh_r"),
    )


# ------------------------------- F/O two-sample value spine (4 queries)


def _fo_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample value spine of fulfilled ('F') vs open ('O') orders: one
    row per distinct order value in integer cents ``x_c``, with its count
    in each sample (``cx`` for F, ``cy`` for O). Shared by the energy,
    Wasserstein-1, QQ and Cramér-von Mises queries."""
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus").isin("F", "O")
    )
    v = o.select(
        cents(F.col("o_totalprice")).alias("x_c"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("is_x"),
    )
    return v.groupBy("x_c").agg(
        F.sum("is_x").alias("cx"), F.sum(1 - F.col("is_x")).alias("cy")
    )


#: DuckDB twin of :func:`_fo_cells`: the ``v`` and ``cells`` CTEs, to
#: follow a ``WITH``.
_FO_CELLS_SQL = f"""
    v AS (
        SELECT {cents_sql('o_totalprice')} AS x_c,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS is_x
        FROM orders WHERE o_orderstatus IN ('F', 'O')
    ),
    cells AS (
        SELECT x_c, sum(is_x)::BIGINT AS cx, sum(1 - is_x)::BIGINT AS cy
        FROM v GROUP BY 1
    )"""


# ----------------------------------- energy distance between two samples

_ENERGY_SQL = f"""
    WITH {_FO_CELLS_SQL},
    walk AS (
        SELECT x_c, cx, cy,
               coalesce(sum(cx) OVER w, 0)::HUGEINT AS cxlt,
               coalesce(sum(cy) OVER w, 0)::HUGEINT AS cylt,
               coalesce(sum(x_c * cx) OVER w, 0)::HUGEINT AS sxlt,
               coalesce(sum(x_c * cy) OVER w, 0)::HUGEINT AS sylt
        FROM cells
        WINDOW w AS (ORDER BY x_c ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING)
    ),
    tot AS (
        SELECT sum(cx)::HUGEINT AS nx, sum(cy)::HUGEINT AS ny,
               sum(x_c * cx)::HUGEINT AS sx, sum(x_c * cy)::HUGEINT AS sy
        FROM cells
    ),
    sums AS (
        SELECT
          sum(w.cx * ((w.x_c * w.cylt - w.sylt)
                      + (t.sy - w.sylt - w.x_c * w.cy)
                      - w.x_c * (t.ny - w.cylt - w.cy)))::HUGEINT AS sxy,
          sum(w.cx * ((w.x_c * w.cxlt - w.sxlt)
                      + (t.sx - w.sxlt - w.x_c * w.cx)
                      - w.x_c * (t.nx - w.cxlt - w.cx)))::HUGEINT AS sxx,
          sum(w.cy * ((w.x_c * w.cylt - w.sylt)
                      + (t.sy - w.sylt - w.x_c * w.cy)
                      - w.x_c * (t.ny - w.cylt - w.cy)))::HUGEINT AS syy,
          max(t.nx) AS nx, max(t.ny) AS ny
        FROM walk w CROSS JOIN tot t
    )
    SELECT nx::BIGINT AS nx, ny::BIGINT AS ny,
           round(2.0 * (sxy::DOUBLE / (nx::DOUBLE * ny::DOUBLE))
                 - sxx::DOUBLE / (nx::DOUBLE * nx::DOUBLE)
                 - syy::DOUBLE / (ny::DOUBLE * ny::DOUBLE), 6) AS energy_d_r,
           round(sxy::DOUBLE / (nx::DOUBLE * ny::DOUBLE), 6) AS mean_xy_r
    FROM sums
"""


@register("energy_distance_two_sample", oracle=_ENERGY_SQL)
def energy_distance_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy distance (Székely-Rizzo) between fulfilled ('F') and open
    ('O') order-value distributions: D = 2·E|X−Y| − E|X−X'| − E|Y−Y'| —
    the distribution-shift metric that is zero iff the distributions
    match, metrizes weak convergence, and (unlike KS) weighs HOW FAR
    apart the mass sits. The n²-pairwise sums collapse to ONE pass over
    the value spine: Σᵢⱼ|xᵢ−yⱼ| = Σ_v cx_v·[v·#{y<v} − Σ{y<v} +
    (Σ{y>v} − v·#{y>v})] — exact integers end to end (HUGEINT /
    DECIMAL(38,0)); the three means are one double division each.

    Scale shape: one fact pass to the shared distinct-cents spine, the
    ``prefix_sums`` of four running quantities (counts and value-sums per
    sample) with their totals, one final aggregate."""
    cells = _fo_cells(spark, sf_dir)
    d38 = "decimal(38,0)"
    cx, cy = F.col("cx").cast(d38), F.col("cy").cast(d38)
    xc = F.col("x_c").cast(d38)
    ps = prefix_sums(
        cells, "x_c", [], {"cxle": cx, "cyle": cy, "sxle": xc * cx, "syle": xc * cy}
    )
    walk = ps.select(
        "x_c",
        "cx",
        "cy",
        F.col("cxle_total").alias("nx"),
        F.col("cyle_total").alias("ny"),
        F.col("sxle_total").alias("sx"),
        F.col("syle_total").alias("sy"),
        (F.col("cxle") - cx).alias("cxlt"),
        (F.col("cyle") - cy).alias("cylt"),
        (F.col("sxle") - xc * cx).alias("sxlt"),
        (F.col("syle") - xc * cy).alias("sylt"),
    )
    vc = F.col("x_c").cast(d38)

    def absum_vs(c_lt, s_lt, n_t, s_t, c_eq):
        # Σ_j |v − w_j| for one point at v against sample w, from prefix stats
        return (
            (vc * c_lt - s_lt)
            + (s_t - s_lt - vc * c_eq)
            - vc * (n_t - c_lt - c_eq)
        )

    sums = walk.agg(
        F.sum(
            F.col("cx").cast(d38)
            * absum_vs(F.col("cylt"), F.col("sylt"), F.col("ny"), F.col("sy"), F.col("cy"))
        ).alias("sxy"),
        F.sum(
            F.col("cx").cast(d38)
            * absum_vs(F.col("cxlt"), F.col("sxlt"), F.col("nx"), F.col("sx"), F.col("cx"))
        ).alias("sxx"),
        F.sum(
            F.col("cy").cast(d38)
            * absum_vs(F.col("cylt"), F.col("sylt"), F.col("ny"), F.col("sy"), F.col("cy"))
        ).alias("syy"),
        F.max("nx").alias("nx"),
        F.max("ny").alias("ny"),
    )
    nxd, nyd = F.col("nx").cast("double"), F.col("ny").cast("double")
    return sums.select(
        F.col("nx").cast("long").alias("nx"),
        F.col("ny").cast("long").alias("ny"),
        F.round(
            F.lit(2.0) * (F.col("sxy").cast("double") / (nxd * nyd))
            - F.col("sxx").cast("double") / (nxd * nxd)
            - F.col("syy").cast("double") / (nyd * nyd),
            6,
        ).alias("energy_d_r"),
        F.round(F.col("sxy").cast("double") / (nxd * nyd), 6).alias("mean_xy_r"),
    )


# --------------------------------- Wasserstein-1 (earth mover) distance

_W1_SQL = f"""
    WITH {_FO_CELLS_SQL},
    walk AS (
        SELECT x_c,
               lead(x_c) OVER (ORDER BY x_c) AS x_next,
               sum(cx) OVER (ORDER BY x_c ROWS UNBOUNDED PRECEDING)
                   ::HUGEINT AS cxle,
               sum(cy) OVER (ORDER BY x_c ROWS UNBOUNDED PRECEDING)
                   ::HUGEINT AS cyle
        FROM cells
    ),
    tot AS (SELECT sum(cx)::HUGEINT AS nx, sum(cy)::HUGEINT AS ny FROM cells),
    s AS (
        SELECT sum((w.x_next - w.x_c)
                   * abs(w.cxle * t.ny - w.cyle * t.nx))::HUGEINT AS num,
               max(t.nx) AS nx, max(t.ny) AS ny
        FROM walk w CROSS JOIN tot t
        WHERE w.x_next IS NOT NULL
    )
    SELECT nx::BIGINT AS nx, ny::BIGINT AS ny,
           round(num::DOUBLE / (nx::DOUBLE * ny::DOUBLE) / 100, 6)
               AS w1_dollars_r
    FROM s
"""


@register("wasserstein1_distance", oracle=_W1_SQL)
def wasserstein1_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wasserstein-1 (earth mover's) distance between the fulfilled ('F')
    and open ('O') order-value distributions: on the line,
    W₁ = ∫|F_X − F_Y| dv = Σ_spine (v₊ − v)·|F_X(v) − F_Y(v)| — the
    actual cost of morphing one distribution into the other, in dollars
    (complements ``ks_two_sample``'s sup-norm and
    ``energy_distance_two_sample``). The integrand is kept integer:
    Dᵢ = cnt_le_x·n_y − cnt_le_y·n_x avoids the CDF ratios entirely; ONE
    double division at the end.

    The next-value gap needs no ``lead``: since D₀ = D_m = 0, Abel
    summation turns Σᵢ |Dᵢ|·(vᵢ₊₁ − vᵢ) into Σᵢ vᵢ·(|Dᵢ₋₁| − |Dᵢ|), and
    Dᵢ₋₁ comes from the exclusive counts at vᵢ. The oracle keeps the
    ``lead`` form.

    Scale shape: one fact pass to the value spine, the ``prefix_sums`` of
    the two counts with their totals, one final aggregate."""
    cells = _fo_cells(spark, sf_dir)
    d38 = "decimal(38,0)"
    cx, cy = F.col("cx").cast(d38), F.col("cy").cast(d38)
    ps = prefix_sums(cells, "x_c", [], {"cxle": cx, "cyle": cy})
    nx, ny = F.col("cxle_total"), F.col("cyle_total")
    d_le = F.col("cxle") * ny - F.col("cyle") * nx
    d_lt = (F.col("cxle") - cx) * ny - (F.col("cyle") - cy) * nx
    s = ps.agg(
        F.sum(F.col("x_c").cast(d38) * (F.abs(d_lt) - F.abs(d_le))).alias("num"),
        F.max(nx).alias("nx"),
        F.max(ny).alias("ny"),
    )
    nxd, nyd = F.col("nx").cast("double"), F.col("ny").cast("double")
    return s.select(
        F.col("nx").cast("long").alias("nx"),
        F.col("ny").cast("long").alias("ny"),
        F.round(F.col("num").cast("double") / (nxd * nyd) / 100, 6).alias(
            "w1_dollars_r"
        ),
    )


# ----------------------------------------------- QQ plot decile points

_QQ_SQL = f"""
    WITH {_FO_CELLS_SQL},
    walk AS (
        SELECT x_c,
               sum(cx) OVER w AS cxle, sum(cy) OVER w AS cyle
        FROM cells
        WINDOW w AS (ORDER BY x_c ROWS UNBOUNDED PRECEDING)
    ),
    tot AS (SELECT sum(cx)::BIGINT AS nx, sum(cy)::BIGINT AS ny FROM cells),
    qs AS (SELECT unnest(range(1, 10)) AS q),
    pts AS (
        SELECT qs.q,
               min(CASE WHEN w.cxle * 10 >= qs.q * t.nx THEN w.x_c END)
                   AS x_decile_c,
               min(CASE WHEN w.cyle * 10 >= qs.q * t.ny THEN w.x_c END)
                   AS y_decile_c
        FROM walk w CROSS JOIN tot t CROSS JOIN qs
        GROUP BY 1
    )
    SELECT q, x_decile_c, y_decile_c,
           (x_decile_c - y_decile_c)::BIGINT AS gap_c
    FROM pts
"""


@register("qq_plot_deciles", oracle=_QQ_SQL)
def qq_plot_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-quantile decile points between the fulfilled ('F') and
    open ('O') order-value distributions: for q ∈ 1..9 the EXACT q-th
    decile of each sample (smallest value whose cumulative count covers
    q/10 of the sample) and their gap — the per-quantile localization
    the scalar distances (KS, W1, energy) can't give: WHERE in the
    distribution the two samples diverge.

    Exactness: pure integer order statistics (cnt_le·10 ≥ q·n — no
    float percentile anywhere, the split-conformal discipline).

    Scale shape: one fact pass to the pivoted two-count value spine, the
    ``prefix_sums`` of both counts, a 9-row broadcast quantile grid
    joined against the spine with a min-aggregate — nothing per-row."""
    cells = _fo_cells(spark, sf_dir)
    walk = prefix_sums(
        cells, "x_c", [], {"cxle": F.col("cx"), "cyle": F.col("cy")}
    ).select(
        "x_c",
        F.col("cxle_total").alias("nx"),
        F.col("cyle_total").alias("ny"),
        "cxle",
        "cyle",
    )
    qs = spark.range(1, 10).select(F.col("id").alias("q"))
    return (
        walk.crossJoin(F.broadcast(qs))
        .groupBy("q")
        .agg(
            F.min(
                F.when(F.col("cxle") * 10 >= F.col("q") * F.col("nx"), F.col("x_c"))
            ).alias("x_decile_c"),
            F.min(
                F.when(F.col("cyle") * 10 >= F.col("q") * F.col("ny"), F.col("x_c"))
            ).alias("y_decile_c"),
        )
        .select(
            "q",
            "x_decile_c",
            "y_decile_c",
            (F.col("x_decile_c") - F.col("y_decile_c")).alias("gap_c"),
        )
    )


# --------------------------------------- Cramér-von Mises two-sample

_CVM_SQL = f"""
    WITH {_FO_CELLS_SQL},
    walk AS (
        SELECT x_c, cx, cy,
               sum(cx) OVER w AS cxle, sum(cy) OVER w AS cyle
        FROM cells
        WINDOW w AS (ORDER BY x_c ROWS UNBOUNDED PRECEDING)
    ),
    tot AS (SELECT sum(cx)::HUGEINT AS nx, sum(cy)::HUGEINT AS ny FROM cells),
    s AS (
        SELECT sum((w.cx + w.cy)::HUGEINT
                   * (w.cxle::HUGEINT * t.ny - w.cyle::HUGEINT * t.nx)
                   * (w.cxle::HUGEINT * t.ny - w.cyle::HUGEINT * t.nx))
                   AS num,
               max(t.nx) AS nx, max(t.ny) AS ny
        FROM walk w CROSS JOIN tot t
    )
    SELECT nx::BIGINT AS nx, ny::BIGINT AS ny,
           round(num::DOUBLE * 1.0
                 / ((nx::DOUBLE * ny) * (nx + ny) * (nx + ny)),
                 9) AS cvm_t_r
    FROM s
"""


@register("cvm_two_sample", oracle=_CVM_SQL)
def cvm_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér-von Mises statistic between the fulfilled ('F')
    and open ('O') order-value distributions:
    T = nm/(n+m)² · Σ_pooled (F_X(z) − F_Y(z))² — the INTEGRATED-square
    CDF distance (each pooled point weighted by its multiplicity), more
    sensitive to body-of-distribution shifts than KS's single supremum
    and completing the engine's two-sample quartet (KS sup-norm, W₁
    transport, energy, CvM L²). Computed with cross-multiplied integer
    CDF numerators ((cxle·ny − cyle·nx)², exact in HUGEINT/DECIMAL) so
    nothing floats until the single terminal division.

    Scale shape: one fact pass to the pivoted two-count value spine, the
    ``prefix_sums`` of both counts with their totals, one final
    aggregate."""
    cells = _fo_cells(spark, sf_dir)
    d38 = "decimal(38,0)"
    ps = prefix_sums(
        cells, "x_c", [], {"cxle": F.col("cx").cast(d38), "cyle": F.col("cy").cast(d38)}
    )
    nx, ny = F.col("cxle_total"), F.col("cyle_total")
    diff = F.col("cxle") * ny - F.col("cyle") * nx
    s = ps.agg(
        F.sum((F.col("cx") + F.col("cy")).cast(d38) * diff * diff).alias("num"),
        F.max(nx).alias("nx"),
        F.max(ny).alias("ny"),
    )
    nxd, nyd = F.col("nx").cast("double"), F.col("ny").cast("double")
    return s.select(
        F.col("nx").cast("long").alias("nx"),
        F.col("ny").cast("long").alias("ny"),
        F.round(
            F.col("num").cast("double")
            / ((nxd * nyd) * (nxd + nyd) * (nxd + nyd)),
            9,
        ).alias("cvm_t_r"),
    )


# ------------------------------------------------------------------ round 8

# Anderson-Darling two-sample, right-continuous-ECDF version with ties
# (Scholz & Stephens 1987, eq. for A2_kN at k=2, reduced algebraically):
#   A2 = (1/(m*n)) * SUM_j l_j * (N*M_j - m*B_j)^2 / (B_j*(N - B_j))
# over the grouped pooled-value spine (B_j < N), where m,n are sample
# sizes, N = m+n, l_j the pooled tie count at value j, B_j the cumulative
# pooled count, M_j the cumulative sample-1 count. Per-term division is
# FLOORED after scaling by 10^6 so the sum is exact integer arithmetic in
# both engines (discretization error < L/1e6, documented in the query).
_AD_SQL = """
    WITH lab AS (
        SELECT n_chars,
               CASE WHEN length(source) <= 4 THEN 1 ELSE 0 END AS is_a
        FROM documents
    ),
    cell AS (
        SELECT n_chars, sum(is_a) AS ca, sum(1 - is_a) AS cb,
               count(*) AS l
        FROM lab GROUP BY 1
    ),
    tot AS (SELECT sum(ca) AS m, sum(cb) AS n, sum(l) AS nn FROM cell),
    walk AS (
        SELECT l,
               sum(l)  OVER (ORDER BY n_chars ROWS UNBOUNDED PRECEDING) AS b,
               sum(ca) OVER (ORDER BY n_chars ROWS UNBOUNDED PRECEDING) AS ma
        FROM cell
    ),
    terms AS (
        SELECT CAST(1000000 AS HUGEINT) * l
               * (CAST(t.nn AS HUGEINT) * ma - CAST(t.m AS HUGEINT) * b)
               * (CAST(t.nn AS HUGEINT) * ma - CAST(t.m AS HUGEINT) * b)
               // (CAST(b AS HUGEINT) * (t.nn - b)) AS q
        FROM walk CROSS JOIN tot t
        WHERE b < t.nn
    ),
    s AS (SELECT sum(q) AS sq FROM terms)
    SELECT t.m::BIGINT AS n_a, t.n::BIGINT AS n_b,
           round(CAST(s.sq AS DOUBLE)
                 / (1000000.0 * CAST(t.m AS DOUBLE) * CAST(t.n AS DOUBLE)),
                 6) AS ad_a2_r
    FROM tot t CROSS JOIN s
"""


@register("anderson_darling_two_sample", oracle=_AD_SQL)
def anderson_darling_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anderson-Darling two-sample statistic on document lengths, short-name
    sources vs the rest (the ``ks_two_sample`` populations): the
    variance-weighted ECDF distance that — unlike KS's single supremum —
    accumulates discrepancy over the WHOLE support with extra weight in the
    tails (Scholz & Stephens 1987, k=2 right-continuous-with-ties form).

    Exactness: the per-value walk is integer cumsums on the grouped
    length spine; each term's division is floor-scaled by 1e6 so the sum
    is exact 128-bit integer arithmetic in BOTH engines (defined
    discretization < spine_size/1e6 — at 1e4 distinct lengths that is
    1e-2 absolute on an unnormalized sum of order 1e6·N, i.e. relative
    ~1e-12); one double division at the end. Magnitude bound: terms stay
    inside DECIMAL(38) up to N ≈ 3e6 docs per the N⁴ numerator — past
    that, pre-bucket lengths (the spine is already value-domain-bounded).

    Scale shape: one groupBy on the bounded length domain, one bounded-
    spine cumsum window, one map-side integer sum. No per-row float."""
    docs = table(spark, sf_dir, "documents")
    cell = (
        docs.select(
            "n_chars",
            F.when(F.length("source") <= 4, 1).otherwise(0).alias("is_a"),
        )
        .groupBy("n_chars")
        .agg(
            F.sum("is_a").alias("ca"),
            F.sum(F.lit(1) - F.col("is_a")).alias("cb"),
            F.count("*").alias("l"),
        )
    )
    tot = cell.agg(
        F.sum("ca").alias("m"), F.sum("cb").alias("n"), F.sum("l").alias("nn")
    )
    w = Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, 0)
    walk = cell.select(
        "l",
        F.sum("l").over(w).alias("b"),
        F.sum("ca").over(w).alias("ma"),
    )
    d = F.col("t.nn").cast("decimal(38,0)") * F.col("ma") - F.col(
        "t.m"
    ).cast("decimal(38,0)") * F.col("b")
    num = F.lit(1000000).cast("decimal(38,0)") * F.col("l") * d * d
    den = (F.col("b").cast("decimal(38,0)") * (F.col("t.nn") - F.col("b"))).cast(
        "decimal(38,0)"
    )
    q = ((num - num % den) / den).cast("decimal(38,0)")
    terms = (
        walk.crossJoin(F.broadcast(tot.alias("t")))
        .filter(F.col("b") < F.col("t.nn"))
        .select(q.alias("q"), "t.m", "t.n")
    )
    return terms.groupBy("m", "n").agg(F.sum("q").alias("sq")).select(
        F.col("m").cast("long").alias("n_a"),
        F.col("n").cast("long").alias("n_b"),
        F.round(
            F.col("sq").cast("double")
            / (F.lit(1000000.0) * F.col("m").cast("double") * F.col("n").cast("double")),
            6,
        ).alias("ad_a2_r"),
    )


# Hodges-Lehmann shift between early (pre-1998) and late weekly revenue:
# the median of ALL pairwise differences late_i - early_j — the robust
# location-shift estimator dual to the Wilcoxon rank-sum test (Hodges &
# Lehmann 1963). Weekly sums are decimal-exact; the pair spine is
# calendar-bounded (#weeks_a x #weeks_b), so the exact median is a
# bounded-spine sort. Even pair counts average the two middle values —
# exact in decimal.
_HL_SQL = f"""
    WITH wk AS (
        SELECT date_trunc('week', o_orderdate) AS w,
               {money_sum_sql('o_totalprice')} AS rev,
               CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN 'a'
                    ELSE 'b' END AS grp
        FROM orders GROUP BY 1, 3
    ),
    diffs AS (
        SELECT b.rev - a.rev AS d
        FROM (SELECT rev FROM wk WHERE grp = 'a') a
        CROSS JOIN (SELECT rev FROM wk WHERE grp = 'b') b
    ),
    ranked AS (
        SELECT d, row_number() OVER (ORDER BY d) AS r, count(*) OVER () AS n
        FROM diffs
    )
    SELECT max(n)::BIGINT AS n_pairs,
           CAST(avg(d) AS DOUBLE) AS hl_shift
    FROM ranked
    WHERE r IN ((n + 1) // 2, n // 2 + 1)
"""


@register("hodges_lehmann_shift", oracle=_HL_SQL)
def hodges_lehmann_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges-Lehmann estimator of the revenue shift between pre-1998 and
    1998+ weekly totals: the exact median of all pairwise differences
    (late - early), the robust alternative to the difference of means the
    ``did_estimator``/``welch_ab_test`` family uses.

    Scale shape: fact rows collapse to the calendar-bounded weekly spine
    FIRST (one shuffle); the pairwise-difference table is spine², i.e.
    bounded by elapsed-weeks² regardless of data volume (~160×190 here —
    broadcast the smaller side). The exact-median rank window runs on that
    bounded pair spine (documented bounded-spine exception). Differences
    and their middle-pair average are exact DECIMAL — both engines agree
    bit-for-bit; the only double is the final cast."""
    o = table(spark, sf_dir, "orders")
    wk = o.groupBy(
        F.date_trunc("week", F.col("o_orderdate")).alias("w"),
        F.when(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"), "a")
        .otherwise("b")
        .alias("grp"),
    ).agg(
        money_sum(F.col("o_totalprice")).alias("rev")
    )
    a = wk.filter(F.col("grp") == "a").select(F.col("rev").alias("rev_a"))
    b = wk.filter(F.col("grp") == "b").select(F.col("rev").alias("rev_b"))
    diffs = b.crossJoin(F.broadcast(a)).select(
        (F.col("rev_b") - F.col("rev_a")).alias("d")
    )
    wr = Window.orderBy("d")
    ranked = diffs.select(
        "d",
        F.row_number().over(wr).alias("r"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    mid = ranked.filter(
        (F.col("r") == F.floor((F.col("n") + 1) / 2))
        | (F.col("r") == F.floor(F.col("n") / 2) + 1)
    )
    return mid.agg(
        F.max("n").cast("long").alias("n_pairs"),
        F.avg("d").cast("double").alias("hl_shift"),
    )


# Theil T and Atkinson(ε=1) inequality of customer revenue — the
# decomposable entropy-based complements to gini_concentration. Per-
# customer log terms are single deterministic doubles (logs of exact
# integer ratios) quantized to DECIMAL(38,12) before the fact-sized sums,
# so neither engine's summation order can move the result.
_THEIL_SQL = f"""
    WITH cust AS (
        SELECT o_custkey,
               ({money_sum_sql('o_totalprice')} * 100)
                   ::HUGEINT AS x
        FROM orders GROUP BY 1
    ),
    tot AS (SELECT count(*) AS n, sum(x) AS s FROM cust),
    terms AS (
        SELECT t.n, t.s,
               round((CAST(t.n AS DOUBLE) * c.x / CAST(t.s AS DOUBLE))
                     * ln(CAST(t.n AS DOUBLE) * c.x / CAST(t.s AS DOUBLE)),
                     12)::DECIMAL(38,12) AS theil_term,
               round(ln(CAST(c.x AS DOUBLE)), 12)::DECIMAL(38,12) AS ln_x
        FROM cust c CROSS JOIN tot t
    )
    SELECT max(n)::BIGINT AS n_customers,
           round(CAST(sum(theil_term) AS DOUBLE) / max(n), 6) AS theil_r,
           round(1 - exp(CAST(sum(ln_x) AS DOUBLE) / max(n)
                         - ln(CAST(max(s) AS DOUBLE) / max(n))), 6)
               AS atkinson_r
    FROM terms
"""


@register("theil_atkinson_inequality", oracle=_THEIL_SQL)
def theil_atkinson_inequality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T and Atkinson (ε=1) inequality indexes of per-customer
    revenue: the entropy/welfare-based concentration measures that, unlike
    ``gini_concentration``, decompose additively across subgroups (Theil)
    and encode explicit inequality aversion (Atkinson).

    Exactness: customer totals are exact cents; each log term is ONE
    deterministic double (log of an exact integer ratio) rounded to 12 and
    summed as DECIMAL(38,12) — order-independent at any parallelism; the
    final index arithmetic runs on those exact scalars. Scale shape: one
    fact aggregate to the customer key, a broadcast 1-row total, one
    map-side decimal sum — no windows, no sorts (the Gini path needs a
    global rank; entropy indexes don't)."""
    o = table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        (money_sum(F.col("o_totalprice")) * 100)
        .cast("decimal(38,0)")
        .alias("x")
    )
    tot = cust.agg(F.count("*").alias("n"), F.sum("x").alias("s"))
    ratio = (
        F.col("n").cast("double")
        * F.col("x").cast("double")
        / F.col("s").cast("double")
    )
    terms = cust.crossJoin(F.broadcast(tot)).select(
        "n",
        "s",
        F.round(ratio * F.log(ratio), 12).cast("decimal(38,12)").alias("theil_term"),
        F.round(F.log(F.col("x").cast("double")), 12)
        .cast("decimal(38,12)")
        .alias("ln_x"),
    )
    return terms.agg(
        F.max("n").cast("long").alias("n_customers"),
        F.round(F.sum("theil_term").cast("double") / F.max("n"), 6).alias("theil_r"),
        F.round(
            1
            - F.exp(
                F.sum("ln_x").cast("double") / F.max("n")
                - F.log(F.max("s").cast("double") / F.max("n"))
            ),
            6,
        ).alias("atkinson_r"),
    )


# ------------------------------------------- Cramér's V association matrix

# Three categorical pairs screened in one pass family; per-cell chi-square
# terms quantized to DECIMAL(38,12) so the cell-order of the sum can't
# diverge the statistic between engines.
def _cramers_pair_sql(tag: str, tbl: str, a: str, b: str) -> str:
    return f"""
    SELECT '{tag}' AS pair,
           n_rows,
           round(sqrt(chi2 / (n_rows * mindim)), 6) AS cramers_v_r
    FROM (
        SELECT max(n)::BIGINT AS n_rows,
               sum(round(
                   (n_ab - (n_a * n_b)::DOUBLE / n)
                   * (n_ab - (n_a * n_b)::DOUBLE / n)
                   / ((n_a * n_b)::DOUBLE / n), 12)::DECIMAL(38,12)
               )::DOUBLE AS chi2,
               max(least(n_da - 1, n_db - 1)) AS mindim
        FROM (
            SELECT {a} AS va, {b} AS vb, count(*) AS n_ab,
                   sum(count(*)) OVER (PARTITION BY {a}) AS n_a,
                   sum(count(*)) OVER (PARTITION BY {b}) AS n_b,
                   sum(count(*)) OVER () AS n
            FROM {tbl} GROUP BY {a}, {b}
        ) cells,
        (SELECT count(DISTINCT {a}) AS n_da,
                count(DISTINCT {b}) AS n_db FROM {tbl}) dims
    )
"""


_CRAMERS_SQL = " UNION ALL ".join(
    _cramers_pair_sql(tag, tbl, a, b)
    for tag, tbl, a, b in (
        ("returnflag_linestatus", "lineitem", "l_returnflag", "l_linestatus"),
        ("orderpriority_orderstatus", "orders", "o_orderpriority", "o_orderstatus"),
        ("mktsegment_nation", "customer", "c_mktsegment", "c_nationkey"),
    )
)


@register("cramers_v_matrix", oracle=_CRAMERS_SQL)
def cramers_v_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association screen over three categorical column pairs
    (the normalized [0,1] companion of ``chi2_independence``, comparable
    ACROSS pairs with different table dimensions): V = sqrt(χ²/(N·min(r−1,
    c−1))). The matrix form is the first tool a feature-audit pass runs to
    find redundant categorical columns before encoding.

    Exactness: observed/marginal counts are exact integers; each cell's
    χ² term is quantized to DECIMAL(38,12) before the sum (cell order
    cannot move the total); one sqrt per pair on identical doubles.

    Scale shape: per pair, ONE groupBy on the (a,b) cell key — cells are
    value-domain-bounded (≤21 per pair here), marginals come from windows
    OVER the bounded cell table, not a second fact pass. Three pairs union
    into one plan; at 100 TB this is three map-side-combinable aggregates
    over one scan each (Catalyst shares nothing across pairs, but a
    production variant would pivot all pairs through one shuffle)."""
    out = None
    for tag, tbl, a, b in (
        ("returnflag_linestatus", "lineitem", "l_returnflag", "l_linestatus"),
        ("orderpriority_orderstatus", "orders", "o_orderpriority", "o_orderstatus"),
        ("mktsegment_nation", "customer", "c_mktsegment", "c_nationkey"),
    ):
        t = table(spark, sf_dir, tbl)
        cells = (
            t.groupBy(F.col(a).alias("va"), F.col(b).alias("vb"))
            .agg(F.count("*").alias("n_ab"))
            .select(
                "va",
                "vb",
                "n_ab",
                F.sum("n_ab").over(Window.partitionBy("va")).alias("n_a"),
                F.sum("n_ab").over(Window.partitionBy("vb")).alias("n_b"),
                F.sum("n_ab").over(Window.partitionBy()).alias("n"),
            )
        )
        exp = F.col("n_a").cast("double") * F.col("n_b") / F.col("n")
        term = F.round(
            (F.col("n_ab") - exp) * (F.col("n_ab") - exp) / exp, 12
        ).cast("decimal(38,12)")
        dims = t.agg(
            F.countDistinct(a).alias("n_da"), F.countDistinct(b).alias("n_db")
        )
        pair = (
            cells.agg(
                F.max("n").alias("n_rows"),
                F.sum(term).cast("double").alias("chi2"),
            )
            .crossJoin(F.broadcast(dims))
            .select(
                F.lit(tag).alias("pair"),
                F.col("n_rows").cast("long").alias("n_rows"),
                F.round(
                    F.sqrt(
                        F.col("chi2")
                        / (
                            F.col("n_rows")
                            * F.least(F.col("n_da") - 1, F.col("n_db") - 1)
                        )
                    ),
                    6,
                ).alias("cramers_v_r"),
            )
        )
        out = pair if out is None else out.unionAll(pair)
    return out


# --------------------------------------- upper-tail dependence coefficient

# Rank-threshold empirical λ_U between paired daily revenue series of the
# AMERICA-region nations: with k = ceil(n/10) top days per series,
# λ_U = |top(X) ∩ top(Y)| / k — exact integers end-to-end.
_TAILDEP_SQL = f"""
    WITH amer AS (
        SELECT n_nationkey, n_name FROM nation
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'AMERICA'
    ),
    daily AS (
        SELECT c.c_nationkey AS nk,
               date_trunc('day', o.o_orderdate) AS day,
               CAST({money_sum_sql('o.o_totalprice')} * 100
                    AS HUGEINT) AS cents
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN amer a ON a.n_nationkey = c.c_nationkey
        GROUP BY 1, 2
    ),
    paired AS (
        SELECT x.nk AS nk_x, y.nk AS nk_y, x.day,
               x.cents AS cx, y.cents AS cy
        FROM daily x JOIN daily y ON x.day = y.day AND x.nk < y.nk
    ),
    ranked AS (
        SELECT nk_x, nk_y, day,
               row_number() OVER (PARTITION BY nk_x, nk_y
                                  ORDER BY cx DESC, day) AS rx,
               row_number() OVER (PARTITION BY nk_x, nk_y
                                  ORDER BY cy DESC, day) AS ry,
               count(*) OVER (PARTITION BY nk_x, nk_y) AS n
        FROM paired
    )
    SELECT ax.n_name AS nation_x, ay.n_name AS nation_y,
           max(n)::BIGINT AS n_days,
           ((max(n) + 9) // 10)::BIGINT AS k_top,
           sum(CASE WHEN rx <= (n + 9) // 10 AND ry <= (n + 9) // 10
                    THEN 1 ELSE 0 END)::BIGINT AS n_joint,
           round(sum(CASE WHEN rx <= (n + 9) // 10 AND ry <= (n + 9) // 10
                          THEN 1 ELSE 0 END)::DOUBLE
                 / ((max(n) + 9) // 10), 6) AS lambda_u_r
    FROM ranked
    JOIN amer ax ON ax.n_nationkey = ranked.nk_x
    JOIN amer ay ON ay.n_nationkey = ranked.nk_y
    GROUP BY 1, 2
"""


@register("tail_dependence_coefficient", oracle=_TAILDEP_SQL)
def tail_dependence_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical upper-tail dependence λ_U between the daily-revenue series
    of each AMERICA-region nation pair: the probability that one nation has
    a top-decile revenue day GIVEN the other does — the risk-analytics
    question (do extremes co-occur?) that correlation famously misses
    (Embrechts et al. 2002). λ_U = |topk(X) ∩ topk(Y)|/k with k = ⌈n/10⌉
    defined by RANK thresholds, not value quantiles, so there is no
    cross-engine percentile-boundary hazard.

    Exactness: day-level cents are exact; top-k membership is a
    row_number with a full (value DESC, day) tie-break; the coefficient is
    one division of identical integers.

    Scale shape: fact → (nation, day) spine in one aggregate shuffle; the
    pair join is day-keyed over a 5-nation slice (≤10 pair-series), and
    the rank windows partition by pair — bounded by the calendar × pair
    count, independent of fact rows."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    amer = (
        n.join(r, n.n_regionkey == r.r_regionkey)
        .filter(F.col("r_name") == "AMERICA")
        .select("n_nationkey", "n_name")
    )
    daily = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(amer), c.c_nationkey == F.col("n_nationkey"))
        .groupBy(
            F.col("c_nationkey").alias("nk"),
            F.date_trunc("day", F.col("o_orderdate")).alias("day"),
        )
        .agg(
            (money_sum(F.col("o_totalprice")) * 100)
            .cast("decimal(38,0)")
            .alias("cents")
        )
    )
    x = daily.select(
        F.col("nk").alias("nk_x"), "day", F.col("cents").alias("cx")
    )
    y = daily.select(
        F.col("nk").alias("nk_y"), F.col("day").alias("day_y"), F.col("cents").alias("cy")
    )
    paired = x.join(
        y, (F.col("day") == F.col("day_y")) & (F.col("nk_x") < F.col("nk_y"))
    )
    wx = Window.partitionBy("nk_x", "nk_y").orderBy(F.col("cx").desc(), "day")
    wy = Window.partitionBy("nk_x", "nk_y").orderBy(F.col("cy").desc(), "day")
    wn = Window.partitionBy("nk_x", "nk_y")
    ranked = paired.select(
        "nk_x",
        "nk_y",
        F.row_number().over(wx).alias("rx"),
        F.row_number().over(wy).alias("ry"),
        F.count("*").over(wn).alias("n"),
    )
    k = F.expr("(n + 9) div 10")
    joint = F.when((F.col("rx") <= k) & (F.col("ry") <= k), 1).otherwise(0)
    agg = ranked.groupBy("nk_x", "nk_y").agg(
        F.max("n").cast("long").alias("n_days"),
        F.expr("(max(n) + 9) div 10").cast("long").alias("k_top"),
        F.sum(joint).cast("long").alias("n_joint"),
    )
    ax = amer.select(
        F.col("n_nationkey").alias("nk_x"), F.col("n_name").alias("nation_x")
    )
    ay = amer.select(
        F.col("n_nationkey").alias("nk_y"), F.col("n_name").alias("nation_y")
    )
    return (
        agg.join(F.broadcast(ax), "nk_x")
        .join(F.broadcast(ay), "nk_y")
        .select(
            "nation_x",
            "nation_y",
            "n_days",
            "k_top",
            "n_joint",
            F.round(
                F.col("n_joint").cast("double") / F.col("k_top"), 6
            ).alias("lambda_u_r"),
        )
    )


# --------------------------------------- Brier score: Murphy decomposition

# Murphy (1973) 3-term decomposition of the Brier score for the same
# scaled-value-as-purchase-probability forecaster reliability_calibration_
# bins audits: BS_binned = REL - RES + UNC, where REL penalizes
# miscalibration of the binned forecasts, RES rewards bins that separate
# outcomes, and UNC = base-rate variance is the floor no forecaster can
# beat without information. Reported beside the RAW (unbinned) Brier so
# the binning loss is visible.
_BRIER_BINS = 10

_BRIER_SQL = f"""
    WITH lab AS (
        SELECT least(CAST(floor(value / 490.02 * {_BRIER_BINS}) AS BIGINT),
                     {_BRIER_BINS - 1}) AS bin,
               CAST(floor(value / 490.02 * 1000000 + 0.5) AS BIGINT) AS conf_u,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        FROM events WHERE event_type IN ('purchase', 'click')
    ),
    cells AS (
        SELECT bin, count(*)::BIGINT AS n, sum(pos)::BIGINT AS n_pos,
               sum(conf_u)::HUGEINT AS s_cu
        FROM lab GROUP BY 1
    ),
    tot AS (
        SELECT count(*)::BIGINT AS n_all, sum(pos)::BIGINT AS p_all,
               sum(conf_u::HUGEINT * conf_u) AS s_cu2,
               sum(conf_u * pos)::HUGEINT AS s_cupos
        FROM lab
    ),
    terms AS (
        SELECT t.n_all, t.p_all,
               (t.s_cu2::DOUBLE / 1e12
                - 2.0 * t.s_cupos::DOUBLE / 1e6
                + t.p_all::DOUBLE) / t.n_all::DOUBLE AS brier_raw,
               sum(c.n::DOUBLE
                   * pow(c.s_cu::DOUBLE / c.n::DOUBLE / 1e6
                         - c.n_pos::DOUBLE / c.n::DOUBLE, 2))
                   / t.n_all::DOUBLE AS rel,
               sum(c.n::DOUBLE
                   * pow(c.n_pos::DOUBLE / c.n::DOUBLE
                         - t.p_all::DOUBLE / t.n_all::DOUBLE, 2))
                   / t.n_all::DOUBLE AS res,
               (t.p_all::DOUBLE / t.n_all::DOUBLE)
                   * (1.0 - t.p_all::DOUBLE / t.n_all::DOUBLE) AS unc
        FROM cells c CROSS JOIN tot t
        GROUP BY 1, 2, 3, 6
    )
    SELECT n_all, p_all,
           round(brier_raw, 6) AS brier_raw_r,
           round(rel, 6) AS reliability_r,
           round(res, 6) AS resolution_r,
           round(unc, 6) AS uncertainty_r,
           round(rel - res + unc, 6) AS brier_binned_r
    FROM terms
"""


@register("brier_decomposition", oracle=_BRIER_SQL)
def brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy (1973) Brier-score decomposition BS = REL − RES + UNC for the
    scaled event value read as a purchase probability — the proper-scoring
    companion to ``reliability_calibration_bins`` (ECE reports the average
    calibration gap; the decomposition says how much of the total loss is
    miscalibration vs missing resolution vs irreducible base-rate
    variance). The raw unbinned Brier rides along so the binning loss is
    itself visible.

    Exactness: confidences quantize to micro-unit integers BEFORE any sum
    (the reliability_calibration_bins discipline); the raw-Brier cross
    moments (Σc², Σc·y) accumulate in DECIMAL(38,0)/HUGEINT so engine
    summation order is moot; only the final per-bin ratios are double,
    through identical IEEE trees.

    Scale shape: one pushed-down events scan feeding BOTH the 10-cell bin
    aggregate and the 1-row global moment aggregate (combinable, no
    shuffle wider than 10 keys); the decomposition itself is arithmetic
    over a broadcast 10-row × 1-row join."""
    e = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    scale = 490.02  # fixture value-domain max: scores scale to [0, 1]
    lab = e.select(
        F.least(
            F.floor(F.col("value") / scale * _BRIER_BINS).cast("long"),
            F.lit(_BRIER_BINS - 1),
        ).alias("bin"),
        F.floor(F.col("value") / scale * 1000000 + 0.5)
        .cast("long")
        .alias("conf_u"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("pos"),
    )
    d38 = "decimal(38,0)"
    cells = lab.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum(F.col("conf_u").cast(d38)).alias("s_cu"),
    )
    tot = lab.agg(
        F.count("*").alias("n_all"),
        F.sum("pos").cast("long").alias("p_all"),
        F.sum(F.col("conf_u").cast(d38) * F.col("conf_u")).alias("s_cu2"),
        F.sum(F.col("conf_u").cast(d38) * F.col("pos")).alias("s_cupos"),
    )
    nb = F.col("n").cast("double")
    conf_bar = F.col("s_cu").cast("double") / nb / 1e6
    acc = F.col("n_pos").cast("double") / nb
    ybar = F.col("p_all").cast("double") / F.col("n_all").cast("double")
    terms = (
        cells.crossJoin(F.broadcast(tot))
        .groupBy(
            "n_all",
            "p_all",
            (
                (
                    F.col("s_cu2").cast("double") / 1e12
                    - 2.0 * F.col("s_cupos").cast("double") / 1e6
                    + F.col("p_all").cast("double")
                )
                / F.col("n_all").cast("double")
            ).alias("brier_raw"),
            (ybar * (1.0 - ybar)).alias("unc"),
        )
        .agg(
            F.sum(nb * F.pow(conf_bar - acc, 2)).alias("rel_num"),
            F.sum(nb * F.pow(acc - ybar, 2)).alias("res_num"),
        )
        .select(
            "n_all",
            "p_all",
            "brier_raw",
            "unc",
            (F.col("rel_num") / F.col("n_all").cast("double")).alias("rel"),
            (F.col("res_num") / F.col("n_all").cast("double")).alias("res"),
        )
    )
    return terms.select(
        F.col("n_all").cast("long").alias("n_all"),
        F.col("p_all").cast("long").alias("p_all"),
        F.round("brier_raw", 6).alias("brier_raw_r"),
        F.round("rel", 6).alias("reliability_r"),
        F.round("res", 6).alias("resolution_r"),
        F.round("unc", 6).alias("uncertainty_r"),
        F.round(F.col("rel") - F.col("res") + F.col("unc"), 6).alias(
            "brier_binned_r"
        ),
    )
