"""Privacy / re-identification audits over the customer dimension
(round-6 widening): k-anonymity and l-diversity, the two standard
tabular-disclosure measures a training-data pipeline runs before a
dataset containing person-level rows is released or used for training
(Sweeney 2002; Machanavajjhala et al. 2007).

Both audits share one shape: group the table by a quasi-identifier (QI)
tuple, measure each equivalence class, then summarize the class-size /
diversity distribution into a handful of buckets. That is a single
map-side-combinable ``groupBy`` over the QI key followed by a re-group on
the bounded bucket domain — no joins, no windows, nothing that grows
faster than the input scan, and the second aggregation's key domain is
O(#buckets) regardless of SF.

Exactness: class sizes and distinct counts are integers; the only float
is the final percentage, computed once per bucket row from exact counts
and rounded — engine-independent by construction.

The reference pipeline (``glue/etl_api.py:42-45``) aggregates this same
customer/orders data into published gold tables with zero disclosure
checks; these are the audits that gate such a publication step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ab_inbev_big_data_case_spark.functions.text import token_hash64, token_hash64_sql
from ab_inbev_big_data_case_spark.registry import register
from ab_inbev_big_data_case_spark.sources.readers import const_df, table

# Quasi-identifier used by both audits: nation × market segment × account
# balance rounded down to the nearest 1000 — the classic "coarse public
# attributes an adversary can link on". floor(x/1000) is exact for 2-decimal
# balances (an IEEE quotient can only land on an integer when the true
# quotient IS that integer), so the bucket is engine-independent.
def _qi_spark() -> list:
    # built lazily: Column construction needs an active SparkContext
    return [
        F.col("c_nationkey"),
        F.col("c_mktsegment"),
        F.floor(F.col("c_acctbal") / 1000).cast("int").alias("bal_kilo"),
    ]


_QI_SQL = "c_nationkey, c_mktsegment, CAST(floor(c_acctbal / 1000) AS INT)"


def _k_bucket_spark():
    return (
        F.when(F.col("k") == 1, "1 (unique)")
        .when(F.col("k") <= 4, "2-4")
        .when(F.col("k") <= 9, "5-9")
        .when(F.col("k") <= 49, "10-49")
        .otherwise("50+")
    )
_K_BUCKET_SQL = """CASE WHEN k = 1 THEN '1 (unique)'
                        WHEN k <= 4 THEN '2-4'
                        WHEN k <= 9 THEN '5-9'
                        WHEN k <= 49 THEN '10-49'
                        ELSE '50+' END"""

_KANON_SQL = f"""
    WITH cls AS (
        SELECT count(*) AS k
        FROM customer
        GROUP BY {_QI_SQL}
    ),
    tot AS (SELECT sum(k) AS n_rows_total FROM cls)
    SELECT {_K_BUCKET_SQL} AS k_bucket,
           count(*) AS n_classes,
           sum(k)::BIGINT AS n_rows,
           round(sum(k) * 100.0 / t.n_rows_total, 4) AS pct_rows_r
    FROM cls CROSS JOIN tot t
    GROUP BY 1, t.n_rows_total
"""


@register("k_anonymity_audit", oracle=_KANON_SQL)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit: distribution of equivalence-class sizes under
    the (nation, segment, balance-kilobucket) quasi-identifier. A row in
    the ``1 (unique)`` bucket is re-identifiable by anyone who knows the
    QI; ``2-4`` is the below-k=5 risk band most release policies gate on.

    Scale shape: one partial-aggregated ``groupBy`` over the QI key
    (classes are bounded by the QI value domain: 25 nations × 5 segments ×
    ~11 balance buckets — a dimension-sized state even at 100 TB), then a
    5-bucket re-group. Zero joins beyond the broadcast 1-row total.
    """
    c = table(spark, sf_dir, "customer")
    cls = c.groupBy(*_qi_spark()).agg(F.count("*").alias("k"))
    tot = cls.agg(F.sum("k").alias("n_rows_total"))
    return (
        cls.withColumn("k_bucket", _k_bucket_spark())
        .groupBy("k_bucket")
        .agg(F.count("*").alias("n_classes"), F.sum("k").alias("n_rows"))
        .crossJoin(F.broadcast(tot))
        .select(
            "k_bucket",
            "n_classes",
            "n_rows",
            F.round(F.col("n_rows") * 100.0 / F.col("n_rows_total"), 4).alias(
                "pct_rows_r"
            ),
        )
    )


_LDIV_SQL = f"""
    WITH cls AS (
        SELECT c_nationkey,
               CAST(floor(c_acctbal / 1000) AS INT) AS bal_kilo,
               count(*) AS k,
               count(DISTINCT c_mktsegment) AS l
        FROM customer
        GROUP BY 1, 2
    ),
    tot AS (SELECT sum(k) AS n_rows_total FROM cls)
    SELECT l,
           count(*) AS n_classes,
           sum(k)::BIGINT AS n_rows,
           round(sum(k) * 100.0 / t.n_rows_total, 4) AS pct_rows_r
    FROM cls CROSS JOIN tot t
    GROUP BY 1, t.n_rows_total
"""


@register("l_diversity_audit", oracle=_LDIV_SQL)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit: with (nation, balance-kilobucket) as the QI and
    the market segment as the SENSITIVE attribute, report how many
    distinct sensitive values each equivalence class carries. Classes with
    l = 1 leak the sensitive attribute outright (homogeneity attack) even
    when k is large — the failure mode k-anonymity alone cannot see.

    Scale shape: identical to ``k_anonymity_audit`` — one QI-keyed
    ``groupBy`` (``count_distinct`` over a 5-value segment domain keeps
    per-group state bounded), then a re-group on l, whose domain is at
    most the sensitive cardinality (5).
    """
    c = table(spark, sf_dir, "customer")
    cls = c.groupBy(
        F.col("c_nationkey"),
        F.floor(F.col("c_acctbal") / 1000).cast("int").alias("bal_kilo"),
    ).agg(
        F.count("*").alias("k"),
        F.count_distinct("c_mktsegment").alias("l"),
    )
    tot = cls.agg(F.sum("k").alias("n_rows_total"))
    return (
        cls.groupBy("l")
        .agg(F.count("*").alias("n_classes"), F.sum("k").alias("n_rows"))
        .crossJoin(F.broadcast(tot))
        .select(
            "l",
            "n_classes",
            "n_rows",
            F.round(F.col("n_rows") * 100.0 / F.col("n_rows_total"), 4).alias(
                "pct_rows_r"
            ),
        )
    )


_TCLOSE_SQL = """
    WITH cls AS (
        SELECT c_nationkey, CAST(floor(c_acctbal / 1000) AS INT) AS bal_kilo,
               c_mktsegment, count(*) AS ks
        FROM customer GROUP BY 1, 2, 3
    ),
    class_tot AS (
        SELECT c_nationkey, bal_kilo, sum(ks)::BIGINT AS k
        FROM cls GROUP BY 1, 2
    ),
    gdist AS (SELECT c_mktsegment, sum(ks)::BIGINT AS gs FROM cls GROUP BY 1),
    gtot AS (SELECT sum(ks)::BIGINT AS g FROM cls),
    pairs AS (
        SELECT ct.c_nationkey, ct.bal_kilo, ct.k, gl.gs, gt.g,
               coalesce(c.ks, 0)::BIGINT AS ks
        FROM class_tot ct
        CROSS JOIN gdist gl
        CROSS JOIN gtot gt
        LEFT JOIN cls c
          ON c.c_nationkey = ct.c_nationkey AND c.bal_kilo = ct.bal_kilo
         AND c.c_mktsegment = gl.c_mktsegment
    )
    SELECT c_nationkey, bal_kilo, k,
           sum(abs(ks * g - gs * k))::BIGINT AS t_num,
           round(sum(abs(ks * g - gs * k)) / (2.0 * k * max(g)), 6) AS t_r,
           CAST(sum(abs(ks * g - gs * k)) > 2 * 0.35 * k * max(g) AS INT)
               AS exceeds_t35
    FROM pairs GROUP BY 1, 2, 3
"""


@register("t_closeness_audit", oracle=_TCLOSE_SQL)
def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian 2007), completing the
    k-anonymity / l-diversity trio: for every (nation, balance-kilobucket)
    equivalence class, the distance between its market-segment distribution
    and the GLOBAL segment distribution. l-diversity misses the case where
    a class is diverse but skewed toward one sensitive value; t-closeness
    bounds exactly that. For a categorical sensitive attribute the EMD
    reduces to total variation distance t = ½·Σ|p_class − p_global|.

    Exactness: the TVD is carried as the INTEGER numerator
    Σ|ks·g − gs·k| (order-independent integer sum over the ≤5-segment
    domain); the only float is one final division per class row, and the
    release gate (t > 0.35) is decided on integers, never on the rounded
    float.

    Scale shape: ``cls`` is a map-side-combinable groupBy on the bounded
    QI×segment domain (25 × ~11 × 5); ``glob``/``gtot`` are ≤5-row and
    1-row broadcasts; the left join runs on the dimension-sized class
    table. Nothing scales with fact rows beyond the one customer scan."""
    c = table(spark, sf_dir, "customer")
    cls = c.groupBy(
        F.col("c_nationkey"),
        F.floor(F.col("c_acctbal") / 1000).cast("int").alias("bal_kilo"),
        F.col("c_mktsegment"),
    ).agg(F.count("*").alias("ks"))
    class_tot = cls.groupBy("c_nationkey", "bal_kilo").agg(F.sum("ks").alias("k"))
    glob = cls.groupBy("c_mktsegment").agg(F.sum("ks").alias("gs"))
    gtot = cls.agg(F.sum("ks").alias("g"))
    pairs = (
        class_tot.alias("ct")
        .crossJoin(F.broadcast(glob.alias("gl")))
        .crossJoin(F.broadcast(gtot.alias("gt")))
        .join(
            cls.alias("c"),
            on=(
                (F.col("ct.c_nationkey") == F.col("c.c_nationkey"))
                & (F.col("ct.bal_kilo") == F.col("c.bal_kilo"))
                & (F.col("c.c_mktsegment") == F.col("gl.c_mktsegment"))
            ),
            how="left",
        )
        .select(
            F.col("ct.c_nationkey").alias("c_nationkey"),
            F.col("ct.bal_kilo").alias("bal_kilo"),
            F.col("ct.k").alias("k"),
            F.col("gl.gs").alias("gs"),
            F.col("gt.g").alias("g"),
            F.coalesce(F.col("c.ks"), F.lit(0)).alias("ks"),
        )
    )
    term = F.abs(F.col("ks") * F.col("g") - F.col("gs") * F.col("k"))
    return pairs.groupBy("c_nationkey", "bal_kilo", "k").agg(
        F.sum(term).alias("t_num"),
        F.round(F.sum(term) / (2.0 * F.col("k") * F.max("g")), 6).alias("t_r"),
        (F.sum(term) > 2 * 0.35 * F.col("k") * F.max("g"))
        .cast("int")
        .alias("exceeds_t35"),
    )


# --------------------------------------------- differential privacy (r10)
#
# The k-anon/l-div/t-closeness trio above AUDITS a table before release;
# the two queries below RELEASE dp-noised aggregates — the other half of a
# privacy pipeline (Dwork et al. 2006; Dwork & Roth 2014). Noise is drawn
# by inverse-CDF / Box–Muller over the engine's portable sha256 uniform
# (the ``poisson_bootstrap_ci`` discipline, mlstats.py): DETERMINISTIC, so
# the release is reproducible and the DuckDB twin computes the identical
# noisy value — a full value oracle, not a bound-only check. (A production
# release would swap the keyed hash for a secret-seeded PRF; the mechanism,
# calibration, and plan shape are unchanged.)

#: denominator of the portable uniform; numerator is 1 + (h mod (D-2)),
#: so u ∈ (0,1) STRICTLY and ln(1-2|u-0.5|) / ln(u) never see 0.
_DP_UDEN = 1000000007

_DP_EPS = [("eps_0.1", 0.1), ("eps_1.0", 1.0)]
#: 99.9% Laplace tail bound: P(|Lap(b)| > b·ln(1000)) = 0.001
_LAP_LN1000 = 6.907755278982137


def _u01_sql(tag: str) -> str:
    return f"(1 + {token_hash64_sql(tag)} % {_DP_UDEN - 2}) / {_DP_UDEN}.0"


def _u01_spark(tag) -> "F.Column":
    return (1 + token_hash64(tag) % (_DP_UDEN - 2)) / float(_DP_UDEN)


_DP_LAP_CASES = " ".join(
    f"WHEN '{lbl}' THEN {eps}" for lbl, eps in _DP_EPS
)

_DPLAP_SQL = f"""
    WITH cls AS (
        SELECT c_nationkey, c_mktsegment, count(*) AS n
        FROM customer GROUP BY 1, 2
    ),
    fan AS (
        SELECT c_nationkey, c_mktsegment, n, e.lbl,
               CASE e.lbl {_DP_LAP_CASES} END AS eps
        FROM cls CROSS JOIN (VALUES {", ".join(f"('{l}')" for l, _ in _DP_EPS)})
            e(lbl)
    ),
    noised AS (
        SELECT c_nationkey, c_mktsegment, n, lbl, eps,
               {_u01_sql("'dplap:' || lbl || ':' || c_nationkey"
                         " || ':' || c_mktsegment")} AS u
        FROM fan
    )
    SELECT c_nationkey, c_mktsegment, lbl AS eps_label, n AS exact_n,
           round(n + (-1.0 / eps)
                     * CASE WHEN u >= 0.5 THEN 1 ELSE -1 END
                     * ln(1 - 2 * abs(u - 0.5)), 4) AS noisy_n_r,
           CAST(abs((-1.0 / eps)
                    * CASE WHEN u >= 0.5 THEN 1 ELSE -1 END
                    * ln(1 - 2 * abs(u - 0.5)))
                <= {_LAP_LN1000} / eps AS INT) AS within_999_bound
    FROM noised
"""


@register("dp_laplace_counts", oracle=_DPLAP_SQL)
def dp_laplace_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-DP release of the (nation × segment) customer histogram via the
    Laplace mechanism: each cell count n gets Lap(Δ/ε) noise with Δ = 1
    (unbounded neighbors change one count by 1), at ε ∈ {0.1, 1.0} — the
    loose/strict pair a release policy compares. Noise is the inverse-CDF
    transform −b·sign(u−½)·ln(1−2|u−½|) of the portable keyed uniform, so
    both engines produce the IDENTICAL release; ``within_999_bound`` flags
    draws inside the 99.9% tail bound b·ln(1000) (computed from the same
    doubles, never from the rounded output).

    Scale shape: one map-side-combinable groupBy over the bounded
    (25 × 5) cell domain, then a constant 2× in-row fan-out for the ε grid
    and per-row scalar noise arithmetic — nothing downstream of the first
    aggregate scales with fact rows; no joins, no windows."""
    c = table(spark, sf_dir, "customer")
    cls = c.groupBy("c_nationkey", "c_mktsegment").agg(F.count("*").alias("n"))
    grid = F.array(
        *[
            F.struct(F.lit(lbl).alias("lbl"), F.lit(eps).alias("eps"))
            for lbl, eps in _DP_EPS
        ]
    )
    fan = cls.select(
        "c_nationkey",
        "c_mktsegment",
        "n",
        F.explode(grid).alias("e"),
    ).select(
        "c_nationkey",
        "c_mktsegment",
        "n",
        F.col("e.lbl").alias("lbl"),
        F.col("e.eps").alias("eps"),
    )
    tag = F.concat(
        F.lit("dplap:"),
        F.col("lbl"),
        F.lit(":"),
        F.col("c_nationkey").cast("string"),
        F.lit(":"),
        F.col("c_mktsegment"),
    )
    noised = fan.withColumn("u", _u01_spark(tag))
    noise = (
        (F.lit(-1.0) / F.col("eps"))
        * F.when(F.col("u") >= 0.5, 1).otherwise(-1)
        * F.log(F.lit(1.0) - 2 * F.abs(F.col("u") - 0.5))
    )
    return noised.select(
        "c_nationkey",
        "c_mktsegment",
        F.col("lbl").alias("eps_label"),
        F.col("n").alias("exact_n"),
        F.round(F.col("n") + noise, 4).alias("noisy_n_r"),
        (F.abs(noise) <= F.lit(_LAP_LN1000) / F.col("eps"))
        .cast("int")
        .alias("within_999_bound"),
    )


# Gaussian mechanism on per-priority clipped revenue sums.
_DPG_CLIP = 400000        # per-order contribution clip C (dollars) => Δ = C
_DPG_EPS = 1.0
_DPG_DELTA = 1e-06
#: σ = C·sqrt(2·ln(1.25/δ))/ε, spelled to full double precision so both
#: engines multiply by the identical constant
_DPG_SIGMA_OVER_C = 5.29624262585906  # sqrt(2*ln(1.25/1e-6))/1.0

_DPG_SQL = f"""
    WITH cls AS (
        SELECT o_orderpriority,
               count(*) AS n_orders,
               sum(CAST(least(o_totalprice, {_DPG_CLIP}) AS DECIMAL(18,2)))
                   AS s_clip
        FROM orders GROUP BY 1
    ),
    noised AS (
        SELECT o_orderpriority, n_orders, s_clip,
               {_u01_sql("'dpgauss1:' || o_orderpriority")} AS u1,
               {_u01_sql("'dpgauss2:' || o_orderpriority")} AS u2
        FROM cls
    )
    SELECT o_orderpriority, n_orders,
           round(s_clip, 2) AS exact_clipped_sum,
           round({_DPG_CLIP} * CAST({_DPG_SIGMA_OVER_C} AS DOUBLE), 2) AS sigma_r,
           round(s_clip::DOUBLE
                 + {_DPG_CLIP} * CAST({_DPG_SIGMA_OVER_C} AS DOUBLE)
                   * sqrt(-2 * ln(u1)) * cos({2 * 3.141592653589793} * u2),
                 2) AS noisy_sum_r
    FROM noised
"""


@register("dp_gaussian_sum", oracle=_DPG_SQL)
def dp_gaussian_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(ε,δ)-DP release of per-priority revenue: order totals are CLIPPED
    at C = 400,000 (bounding one order's contribution, hence sensitivity
    Δ = C), summed exactly in DECIMAL, then noised with N(0, σ²) at
    σ = C·√(2·ln(1.25/δ))/ε (ε = 1, δ = 1e-6 — the classical Gaussian
    mechanism calibration). The draw is Box–Muller √(−2·ln u₁)·cos(2π u₂)
    over two portable keyed uniforms, so the release is deterministic and
    the DuckDB twin reproduces it exactly (same discipline as
    ``dp_laplace_counts``/``poisson_bootstrap_ci``).

    Scale shape: one map-side-combinable groupBy over the 5-value priority
    domain (clip + sum are per-row scalar then partial-aggregated); the
    noise arithmetic runs on the 5-row aggregate. Nothing scales with fact
    rows beyond the single orders scan."""
    o = table(spark, sf_dir, "orders")
    cls = o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum(
            F.least(F.col("o_totalprice"), F.lit(_DPG_CLIP)).cast(
                "decimal(18,2)"
            )
        ).alias("s_clip"),
    )
    noised = cls.select(
        "*",
        _u01_spark(
            F.concat(F.lit("dpgauss1:"), F.col("o_orderpriority"))
        ).alias("u1"),
        _u01_spark(
            F.concat(F.lit("dpgauss2:"), F.col("o_orderpriority"))
        ).alias("u2"),
    )
    sigma = _DPG_CLIP * _DPG_SIGMA_OVER_C
    z = F.sqrt(-2 * F.log("u1")) * F.cos(F.lit(2 * 3.141592653589793) * F.col("u2"))
    return noised.select(
        "o_orderpriority",
        "n_orders",
        F.round(F.col("s_clip"), 2).alias("exact_clipped_sum"),
        F.round(F.lit(sigma), 2).alias("sigma_r"),
        F.round(F.col("s_clip").cast("double") + F.lit(sigma) * z, 2).alias(
            "noisy_sum_r"
        ),
    )


# ------------------------------------------------ local DP: randomized response

#: fixed response domain (local-DP mechanisms fix the domain BY DESIGN,
#: independent of observed data) and ε = ln 3, so p_true = 3/7 and
#: q_other = 1/7 exactly — the debiased estimate (7·obs − n)/2 is pure
#: integer arithmetic up to one final halving.
_RR_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

_RR_IDX_SQL = "CASE c_mktsegment " + " ".join(
    f"WHEN '{s}' THEN {i}" for i, s in enumerate(_RR_SEGMENTS)
) + " END"
_RR_NAME_SQL = "CASE ridx " + " ".join(
    f"WHEN {i} THEN '{s}'" for i, s in enumerate(_RR_SEGMENTS)
) + " END"

_RR_SQL = f"""
    WITH resp AS (
        SELECT {_RR_IDX_SQL} AS tidx,
               {_u01_sql("'rr:' || c_custkey")} AS u
        FROM customer
    ),
    rep AS (
        SELECT tidx,
               CASE WHEN u < {3.0 / 7.0} THEN tidx
                    ELSE least(CAST(floor(7 * u - 3) AS INT), 3)
                         + CASE WHEN least(CAST(floor(7 * u - 3) AS INT), 3)
                                     >= tidx THEN 1 ELSE 0 END
               END AS ridx
        FROM resp
    ),
    dom(ridx, segment) AS (VALUES {", ".join(f"({i}, '{s}')" for i, s in enumerate(_RR_SEGMENTS))}),
    obs AS (
        SELECT d.segment, d.ridx,
               coalesce(sum((r.ridx = d.ridx)::INT), 0)::BIGINT AS n_reported
        FROM dom d LEFT JOIN rep r ON r.ridx = d.ridx
        GROUP BY 1, 2
    ),
    tru AS (
        SELECT {_RR_IDX_SQL} AS tidx, count(*) AS n_true
        FROM customer GROUP BY 1
    ),
    tot AS (SELECT count(*)::BIGINT AS n FROM customer)
    SELECT o.segment,
           coalesce(t.n_true, 0)::BIGINT AS n_true,
           o.n_reported,
           round((7 * o.n_reported - x.n) / 2.0, 1) AS n_hat_r
    FROM obs o
    LEFT JOIN tru t ON t.tidx = o.ridx
    CROSS JOIN tot x
"""


@register("randomized_response_frequency", oracle=_RR_SQL)
def randomized_response_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local differential privacy via k-ary randomized response (Warner
    1965; the RAPPOR/Apple-style LOCAL model, completing the central-model
    pair ``dp_laplace_counts``/``dp_gaussian_sum``): each customer reports
    their true market segment with probability p = e^ε/(e^ε+k−1) and one
    of the other k−1 uniformly otherwise; the curator sees only the noisy
    reports and debiases n̂_v = (obs_v − n·q)/(p − q). With ε = ln 3 and
    k = 5, p = 3/7 and q = 1/7 exactly, so n̂_v = (7·obs_v − n)/2 — integer
    arithmetic up to one final halving; the per-user coin is the portable
    keyed uniform, so both engines flip IDENTICAL coins and the release is
    reproducible (a full value oracle). ``n_true`` is emitted alongside as
    the oracle/utility audit column — a production release drops it.

    Scale shape: one customer scan → per-row scalar mechanism → two
    map-side-combinable groupBys over the 5-value domain; the domain table
    is a 5-row literal (fixed BY DESIGN — local-DP domains are a priori,
    not data-derived). Nothing downstream of the aggregates scales with
    fact rows."""
    c = table(spark, sf_dir, "customer")
    tidx = F.lit(None)
    for i, s in enumerate(_RR_SEGMENTS):
        tidx = F.when(F.col("c_mktsegment") == s, i).otherwise(tidx)
    resp = c.select(
        tidx.alias("tidx"),
        _u01_spark(F.concat(F.lit("rr:"), F.col("c_custkey").cast("string"))).alias(
            "u"
        ),
    )
    other = F.least(F.floor(7 * F.col("u") - 3).cast("int"), F.lit(3))
    rep = resp.select(
        "tidx",
        F.when(F.col("u") < 3.0 / 7.0, F.col("tidx"))
        .otherwise(other + F.when(other >= F.col("tidx"), 1).otherwise(0))
        .alias("ridx"),
    )
    dom = const_df(
        spark, [(i, s) for i, s in enumerate(_RR_SEGMENTS)], "ridx INT, segment STRING"
    )
    obs = (
        F.broadcast(dom)
        .join(rep, "ridx", "left")
        .groupBy("segment", "ridx")
        .agg(F.count("tidx").cast("long").alias("n_reported"))
    )
    tru = c.groupBy(tidx.alias("tidx")).agg(F.count("*").alias("n_true"))
    tot = c.agg(F.count("*").cast("long").alias("n"))
    return (
        obs.join(F.broadcast(tru), obs["ridx"] == tru["tidx"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "segment",
            F.coalesce(F.col("n_true"), F.lit(0)).cast("long").alias("n_true"),
            "n_reported",
            F.round((7 * F.col("n_reported") - F.col("n")) / 2.0, 1).alias(
                "n_hat_r"
            ),
        )
    )


# --------------------------------------------- exponential mechanism (r11)

_DPEXP_EPS = 1.0


_DPEXP_SQL = f"""
    WITH cls AS (
        SELECT c_nationkey, c_mktsegment, count(*) AS n
        FROM customer GROUP BY 1, 2
    ),
    keyed AS (
        SELECT c_nationkey, c_mktsegment, n,
               round({_DPEXP_EPS} * n / 2.0
                     + (-ln(-ln({_u01_sql(
                         "'dpexp:' || c_nationkey || ':' || c_mktsegment"
                     )}))), 6) AS gkey
        FROM cls
    ),
    dp AS (
        SELECT c_nationkey, c_mktsegment AS dp_segment, gkey FROM (
            SELECT *, row_number() OVER (
                PARTITION BY c_nationkey
                ORDER BY gkey DESC, c_mktsegment) AS rn
            FROM keyed
        ) WHERE rn = 1
    ),
    best AS (
        SELECT c_nationkey, c_mktsegment AS true_segment FROM (
            SELECT *, row_number() OVER (
                PARTITION BY c_nationkey
                ORDER BY n DESC, c_mktsegment) AS rn
            FROM cls
        ) WHERE rn = 1
    )
    SELECT d.c_nationkey, d.dp_segment, round(d.gkey, 4) AS dp_score_r,
           b.true_segment,
           (d.dp_segment = b.true_segment)::INT AS agree
    FROM dp d JOIN best b ON b.c_nationkey = d.c_nationkey
"""


@register("dp_exponential_mechanism", oracle=_DPEXP_SQL)
def dp_exponential_mechanism(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-DP selection of each nation's dominant market segment via the
    EXPONENTIAL mechanism (McSherry & Talwar 2007) in its Gumbel-max form:
    the mechanism's softmax draw Pr[seg] ∝ exp(ε·u/2Δ) is realized exactly
    by argmax(ε·n/2 + Gumbel), Gumbel = −ln(−ln(U)) over the portable
    keyed uniform — the third DP release mechanism beside
    ``dp_laplace_counts`` (numeric counts) and ``dp_gaussian_sum``
    (clipped sums): this one releases a CATEGORICAL choice, which additive
    noise cannot do. Utility = cell count, sensitivity Δ = 1.

    Exactness/determinism: keyed-hash uniforms (the module's r10
    discipline), the Gumbel key rounded to 6 BEFORE ranking with the
    segment as tiebreak — both engines pick the identical winner;
    ``agree`` compares against the non-private argmax so the utility loss
    is visible in the release itself.

    Scale shape: one map-side-combinable groupBy over the bounded
    (25 × 5) domain, two bounded-domain windows, one keyed join — nothing
    scales with fact rows after the first aggregate."""
    c = table(spark, sf_dir, "customer")
    cls = c.groupBy("c_nationkey", "c_mktsegment").agg(F.count("*").alias("n"))
    tag = F.concat(
        F.lit("dpexp:"),
        F.col("c_nationkey").cast("string"),
        F.lit(":"),
        F.col("c_mktsegment"),
    )
    gkey = F.round(
        F.lit(_DPEXP_EPS) * F.col("n") / 2.0
        + (-F.log(-F.log(_u01_spark(tag)))),
        6,
    )
    keyed = cls.withColumn("gkey", gkey)
    from pyspark.sql import Window as _W

    wdp = _W.partitionBy("c_nationkey").orderBy(
        F.col("gkey").desc(), F.col("c_mktsegment")
    )
    dp = (
        keyed.withColumn("rn", F.row_number().over(wdp))
        .filter(F.col("rn") == 1)
        .select(
            "c_nationkey",
            F.col("c_mktsegment").alias("dp_segment"),
            "gkey",
        )
    )
    wbest = _W.partitionBy("c_nationkey").orderBy(
        F.col("n").desc(), F.col("c_mktsegment")
    )
    best = (
        cls.withColumn("rn", F.row_number().over(wbest))
        .filter(F.col("rn") == 1)
        .select("c_nationkey", F.col("c_mktsegment").alias("true_segment"))
    )
    return dp.join(best, "c_nationkey").select(
        "c_nationkey",
        "dp_segment",
        F.round("gkey", 4).alias("dp_score_r"),
        "true_segment",
        (F.col("dp_segment") == F.col("true_segment")).cast("int").alias("agree"),
    )
