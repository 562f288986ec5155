"""Warehouse-maintenance and entity-level queries: per-column profiling,
SCD Type 2 dimension builds, blocked fuzzy matching, and iterative graph
ranking.

These extend the reference's ETL surface (load → clean → publish,
``glue/etl_api.py:20-40``) with the operations a production warehouse runs
around that pipeline: profiling a landed table before trusting it, building
history-preserving dimensions from an append-only feed, resolving near-
duplicate entity names, and ranking entities over a derived relationship
graph. Each is an engine operator (``operators/relational.py``,
``operators/graph.py``) or a blocked-join pattern with a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.money import (
    cents,
    cents_sql,
    money,
    money_sum,
    money_sum_sql,
)
from ..functions.text import token_hash64, token_hash64_sql
from ..operators.graph import pagerank
from ..operators.relational import build_scd2, profile
from ..registry import register
from ..sources.readers import const_df, load_tables, table
from ..operators.lineage import cut


def _union_profile(col: str, numeric: bool) -> str:
    if numeric:
        min_str, max_str = "NULL::VARCHAR", "NULL::VARCHAR"
        min_num, max_num = f"min({col})::DOUBLE", f"max({col})::DOUBLE"
    else:
        min_str, max_str = f"min({col})", f"max({col})"
        min_num, max_num = "NULL::DOUBLE", "NULL::DOUBLE"
    return f"""
    SELECT '{col}' AS col_name, count(*) AS n_rows,
           count(*) - count({col}) AS n_nulls,
           count(DISTINCT {col}) AS n_distinct,
           {min_str} AS min_str, {max_str} AS max_str,
           {min_num} AS min_num, {max_num} AS max_num
    FROM customer"""


_PROFILE_SQL = "\nUNION ALL\n".join(
    _union_profile(c, num)
    for c, num in [
        ("c_custkey", True),
        ("c_name", False),
        ("c_nationkey", True),
        ("c_acctbal", True),
        ("c_mktsegment", False),
    ]
)


@register("profile_table", oracle=_PROFILE_SQL)
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass per-column profile of ``customer`` (row/null/distinct
    counts, typed min/max). The engine computes all columns in ONE wide
    aggregate over one scan (``operators/relational.py:profile``); the
    oracle re-derives it as per-column UNION ALL aggregates."""
    return profile(table(spark, sf_dir, "customer"))


# One observation per (custkey, orderdate): the priority of the highest-
# numbered order that day (o_orderkey is unique → deterministic max_by).
# Shared dialect: runs verbatim in both Spark SQL and DuckDB.
_SCD2_SQL = """
    WITH feed AS (
        SELECT o_custkey AS custkey, o_orderdate AS obs_date,
               max_by(o_orderpriority, o_orderkey) AS priority
        FROM orders GROUP BY o_custkey, o_orderdate
    ),
    runs AS (
        SELECT custkey, obs_date, priority
        FROM (
            SELECT custkey, obs_date, priority,
                   lag(priority) OVER (PARTITION BY custkey ORDER BY obs_date) AS prev
            FROM feed
        ) c
        WHERE prev IS NULL OR prev <> priority
    )
    SELECT custkey, priority, obs_date AS eff_from,
           lead(obs_date) OVER (PARTITION BY custkey ORDER BY obs_date) AS eff_to,
           (lead(obs_date) OVER (PARTITION BY custkey ORDER BY obs_date) IS NULL)
               AS is_current
    FROM runs
"""


@register("scd2_dim_build", oracle=_SCD2_SQL)
def scd2_dim_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 2 customer-priority dimension from the orders feed:
    consecutive identical observations collapse into [eff_from, eff_to)
    validity intervals; the open interval per key is flagged current.
    Engine path: ``operators/relational.py:build_scd2`` (two windows, one
    shuffle)."""
    orders = table(spark, sf_dir, "orders")
    feed = orders.groupBy(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").alias("obs_date"),
    ).agg(F.max_by("o_orderpriority", "o_orderkey").alias("priority"))
    return build_scd2(feed, key="custkey", ts_col="obs_date", attr_col="priority")


# Point-in-time lookup against the SCD2 dim: each lineitem resolves the
# priority regime its customer was in AT SHIP TIME. Every shipdate falls
# inside exactly one interval (shipdate >= orderdate >= first obs_date).
_SCD2_PIT_SQL = f"""
    WITH scd AS ({_SCD2_SQL}),
    fact AS (
        SELECT o.o_custkey AS custkey, l.l_shipdate AS ship
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT s.priority, count(*) AS n_lineitems,
           min(f.ship) AS first_ship, max(f.ship) AS last_ship
    FROM fact f
    JOIN scd s ON s.custkey = f.custkey
              AND f.ship >= s.eff_from
              AND (s.eff_to IS NULL OR f.ship < s.eff_to)
    GROUP BY s.priority
"""


@register("scd2_point_in_time", oracle=_SCD2_PIT_SQL)
def scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup: join a fact row to the SCD2 interval
    that was valid at event time (equi-key + half-open range predicate).
    Catalyst plans the custkey equality as the join key and evaluates the
    interval predicate as a join filter — one shuffle on custkey, no
    interval explosion. The composition warehouse users actually run:
    ``build_scd2`` output consumed by an as-of-style lookup."""
    orders = table(spark, sf_dir, "orders")
    feed = orders.groupBy(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").alias("obs_date"),
    ).agg(F.max_by("o_orderpriority", "o_orderkey").alias("priority"))
    scd = build_scd2(feed, key="custkey", ts_col="obs_date", attr_col="priority")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    fact = li.join(
        orders.select("o_orderkey", "o_custkey"),
        li["l_orderkey"] == F.col("o_orderkey"),
    ).select(F.col("o_custkey").alias("f_custkey"), F.col("l_shipdate").alias("ship"))
    joined = fact.join(
        scd,
        (F.col("f_custkey") == scd["custkey"])
        & (F.col("ship") >= scd["eff_from"])
        & (scd["eff_to"].isNull() | (F.col("ship") < scd["eff_to"])),
    )
    return joined.groupBy("priority").agg(
        F.count(F.lit(1)).alias("n_lineitems"),
        F.min("ship").alias("first_ship"),
        F.max("ship").alias("last_ship"),
    )


_FUZZY_SQL = """
    WITH names AS (SELECT DISTINCT p_name FROM part),
    b AS (SELECT p_name, string_split(p_name, ' ')[-1] AS blk FROM names)
    SELECT a.p_name AS name1, c.p_name AS name2,
           levenshtein(a.p_name, c.p_name) AS edit_dist
    FROM b a JOIN b c ON a.blk = c.blk AND a.p_name < c.p_name
    WHERE levenshtein(a.p_name, c.p_name) <= 4
"""


@register("fuzzy_match_blocked", oracle=_FUZZY_SQL)
def fuzzy_match_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution by blocked edit distance: distinct part names,
    blocked on their head noun (last token), pairwise Levenshtein within
    each block, keep near-matches (≤4 edits).

    The blocking key is what scales this: the O(n²) comparison runs only
    within blocks (the classic record-linkage trade — recall bounded by
    block quality, cost bounded by the largest block). Levenshtein itself
    is a JVM built-in — no Python in the loop. A production run would cap
    block size (see ``pairs_within_groups``'s ``max_group_size``) before
    the self-join."""
    names = table(spark, sf_dir, "part").select("p_name").distinct()
    blocked = names.withColumn("blk", F.element_at(F.split("p_name", " "), -1))
    a, c = blocked.alias("a"), blocked.alias("c")
    dist = F.levenshtein(F.col("a.p_name"), F.col("c.p_name"))
    return (
        a.join(
            c,
            (F.col("a.blk") == F.col("c.blk")) & (F.col("a.p_name") < F.col("c.p_name")),
        )
        .select(
            F.col("a.p_name").alias("name1"),
            F.col("c.p_name").alias("name2"),
            dist.alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 4)
    )


# Nation-level trade graph: customer's nation → supplier's nation, one edge
# weight per ordered lineitem. 3 PageRank rounds, ranks rounded to 8
# decimals per round (summation-order independence), output to 6.
_PAGERANK_SQL = """
    WITH edges AS (
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*)::DOUBLE AS w
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY c.c_nationkey, s.s_nationkey
    ),
    nodes AS (
        SELECT src AS node FROM edges UNION SELECT dst AS node FROM edges
    ),
    nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
    ew AS (
        SELECT src, dst, w / sum(w) OVER (PARTITION BY src) AS frac FROM edges
    ),
    r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
    r1 AS (
        SELECT n.node,
               round(0.15 / (SELECT n FROM nn)
                     + 0.85 * coalesce(sum(r.rank * e.frac), 0), 8) AS rank
        FROM nodes n
        LEFT JOIN ew e ON e.dst = n.node
        LEFT JOIN r0 r ON r.node = e.src
        GROUP BY n.node
    ),
    r2 AS (
        SELECT n.node,
               round(0.15 / (SELECT n FROM nn)
                     + 0.85 * coalesce(sum(r.rank * e.frac), 0), 8) AS rank
        FROM nodes n
        LEFT JOIN ew e ON e.dst = n.node
        LEFT JOIN r1 r ON r.node = e.src
        GROUP BY n.node
    ),
    r3 AS (
        SELECT n.node,
               round(0.15 / (SELECT n FROM nn)
                     + 0.85 * coalesce(sum(r.rank * e.frac), 0), 8) AS rank
        FROM nodes n
        LEFT JOIN ew e ON e.dst = n.node
        LEFT JOIN r2 r ON r.node = e.src
        GROUP BY n.node
    )
    SELECT node AS nationkey, round(rank, 6) AS pagerank FROM r3
"""


@register("pagerank_nations", oracle=_PAGERANK_SQL)
def pagerank_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-round weighted PageRank over the nation trade graph (customer
    nation → supplier nation, weighted by lineitem count). Engine path:
    ``operators/graph.py:pagerank`` — 3 unrolled join-aggregate rounds in
    one lazy plan, node count via broadcast 1-row aggregate (no driver
    count). Oracle: the same 3 rounds as chained CTEs."""
    load_tables(spark, sf_dir, ("orders", "customer", "lineitem", "supplier"))
    edges = spark.sql(
        """
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
               CAST(count(*) AS DOUBLE) AS w
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY c.c_nationkey, s.s_nationkey
        """
    )
    ranks = pagerank(edges, weight="w", n_iter=3, damping=0.85, round_to=8)
    return ranks.select(
        F.col("node").alias("nationkey"), F.round("rank", 6).alias("pagerank")
    )


@register(
    "ivm_join_merge",
    oracle=f"""
    SELECT year(o.o_orderdate) AS o_year,
           count(*) AS n_lines,
           {money_sum_sql('l.l_extendedprice')}::DOUBLE
               AS gross
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
)
def ivm_join_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a JOIN view (the join companion to
    ``incremental_agg_merge``): with base relations split into old + delta
    (ΔL = lineitem keys ≡ 0 mod 7, ΔO = orders keys ≡ 0 mod 5), the view
    over the full join is maintained as

        V_new = merge( agg(L_old ⋈ O_old)           -- the STORED view state
                     , agg(ΔL ⋈ O_old  ∪  L_old ⋈ ΔO  ∪  ΔL ⋈ ΔO) )  -- delta

    i.e. the classic delta-propagation algebra. The oracle computes the
    view directly from the full join, so the hash check proves the
    incremental algebra exact — including rows that moved groups.

    At scale only the three delta joins run per refresh (the first term is
    read back from the stored view, exactly like ``incremental_agg_merge``
    reads stored partials); deltas are small, so each delta join broadcasts
    its delta side and never reshuffles the big relation. Partial states
    (count, decimal sum) merge associatively — the same property that makes
    the aggregate partial+final split work."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    dl = F.col("l_orderkey") % 7 == 0
    do_ = F.col("o_orderkey") % 5 == 0
    l_old, l_d = li.filter(~dl), li.filter(dl)
    o_old, o_d = o.filter(~do_), o.filter(do_)

    def partial(ldf: DataFrame, odf: DataFrame) -> DataFrame:
        return (
            ldf.join(odf, ldf.l_orderkey == odf.o_orderkey)
            .groupBy(F.year("o_orderdate").alias("o_year"))
            .agg(
                F.count("*").alias("pn"),
                F.sum(money(F.col("l_extendedprice"))).alias("ps"),
            )
        )

    state = partial(l_old, o_old)
    delta = (
        partial(l_d, o_old)
        .unionByName(partial(l_old, o_d))
        .unionByName(partial(l_d, o_d))
    )
    return (
        state.unionByName(delta)
        .groupBy("o_year")
        .agg(
            F.sum("pn").alias("n_lines"),
            F.round(F.sum("ps"), 2).cast("double").alias("gross"),
        )
    )


# ---------------------------------------------------- compaction planning

# Small-file compaction planner constants: synthetic file inventory (one
# "file" per (ship-month, orderkey%12) cell, bytes ≈ rows × 120B est row
# width) packed toward 32 KB targets. On a real lakehouse the inventory
# comes from the table's file listing; the planner below is unchanged.
_CP_SUBFILES, _CP_ROW_BYTES, _CP_TARGET = 12, 120, 32_000

_COMPACTION_SQL = f"""
    WITH f AS (
        SELECT date_trunc('month', l_shipdate)::TIMESTAMP AS month,
               l_orderkey % {_CP_SUBFILES} AS sub,
               count(*) * {_CP_ROW_BYTES} AS bytes
        FROM lineitem GROUP BY 1, 2
    ),
    b AS (
        SELECT month, bytes,
               coalesce(sum(bytes) OVER (
                   PARTITION BY month ORDER BY bytes DESC, sub
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) // {_CP_TARGET} AS bin
        FROM f
    ),
    per_bin AS (
        SELECT month, bin, count(*) AS nf, sum(bytes)::BIGINT AS bin_bytes
        FROM b GROUP BY 1, 2
    )
    SELECT month,
           sum(nf)::BIGINT AS n_files,
           sum(bin_bytes)::BIGINT AS total_bytes,
           count(*) AS n_bins,
           max(bin_bytes) AS max_bin_bytes,
           (sum(bin_bytes)::BIGINT * 10000)
               // (count(*) * {_CP_TARGET}) AS fill_bp
    FROM per_bin GROUP BY month
"""


@register("compaction_plan", oracle=_COMPACTION_SQL)
def compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner (the OPTIMIZE/bin-packing maintenance
    pass every 100 TB parquet table needs): per partition (ship month),
    files sort largest-first and fill toward the target size by cumulative
    offset — ``bin = floor(bytes_before / target)`` — the single-pass
    distributed approximation of first-fit-decreasing. Output is the
    per-partition plan summary (file count, bin count, fill factor).

    Scale shape: planning is pure metadata work — O(files) rows, windows
    PARTITIONED BY the table partition (state per task = one partition's
    file list), never touching data bytes. The fill factor (basis points,
    exact integer floor division — float rounding at a .5 boundary
    diverges across engines) tells the operator whether the rewrite is
    worth running (fill ≪ 10000 means the partition is already small-file
    fragmented)."""
    li = table(spark, sf_dir, "lineitem")
    from pyspark.sql import Window

    f = li.groupBy(
        F.date_trunc("month", "l_shipdate").alias("month"),
        (F.col("l_orderkey") % _CP_SUBFILES).alias("sub"),
    ).agg((F.count("*") * _CP_ROW_BYTES).alias("bytes"))
    w = (
        Window.partitionBy("month")
        .orderBy(F.col("bytes").desc(), "sub")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    b = f.select(
        "month",
        "bytes",
        F.floor(
            F.coalesce(F.sum("bytes").over(w), F.lit(0)) / _CP_TARGET
        ).alias("bin"),
    )
    per_bin = b.groupBy("month", "bin").agg(
        F.count("*").alias("nf"), F.sum("bytes").alias("bin_bytes")
    )
    return (
        per_bin.groupBy("month")
        .agg(
            F.sum("nf").alias("n_files"),
            F.sum("bin_bytes").alias("total_bytes"),
            F.count("*").alias("n_bins"),
            F.max("bin_bytes").alias("max_bin_bytes"),
        )
        # fill factor in basis points via exact integer floor division —
        # float rounding at a .5 boundary diverges across engines
        .withColumn(
            "fill_bp",
            F.expr(f"(total_bytes * 10000) div (n_bins * {_CP_TARGET})"),
        )
    )


# --------------------------------------------------- CDC changeset apply

# Synthetic changeset over the orders snapshot at 1997-01-01: tombstones
# for key%7=0, price-bump updates for key%5=1 (minus the tombstone overlap
# — delete trumps update), inserts = everything after the snapshot date.
_CDC_APPLY_SQL = """
    WITH base AS (
        SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        WHERE o_orderdate < TIMESTAMP '1997-01-01'
    ),
    del AS (SELECT o_orderkey FROM base WHERE o_orderkey % 7 = 0),
    upd AS (
        -- decimal-exact bump: double*1.1 lands on .5 rounding boundaries
        -- (engine round rules diverge there); DECIMAL(18,2)*DECIMAL(2,1)
        -- is exact, so HALF_UP is deterministic in both engines
        SELECT o_orderkey,
               round(CAST(o_totalprice AS DECIMAL(18,2))
                     * CAST(1.1 AS DECIMAL(2,1)), 2)::DOUBLE AS o_totalprice,
               'U' AS o_orderstatus
        FROM base WHERE o_orderkey % 5 = 1 AND o_orderkey % 7 <> 0
    ),
    ins AS (
        SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
    ),
    touched AS (
        SELECT o_orderkey FROM del
        UNION SELECT o_orderkey FROM upd
    )
    SELECT b.o_orderkey, round(b.o_totalprice, 2) AS price_r,
           b.o_orderstatus, 'base' AS src
    FROM base b LEFT JOIN touched t ON t.o_orderkey = b.o_orderkey
    WHERE t.o_orderkey IS NULL
    UNION ALL
    SELECT o_orderkey, round(o_totalprice, 2) AS price_r,
           o_orderstatus, 'update' AS src FROM upd
    UNION ALL
    SELECT o_orderkey, round(o_totalprice, 2) AS price_r,
           o_orderstatus, 'insert' AS src FROM ins
"""


@register("cdc_apply_changeset", oracle=_CDC_APPLY_SQL)
def cdc_apply_changeset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply with tombstones — the consumer half of
    ``snapshot_cdc_diff``: a base snapshot merged with a keyed changeset of
    deletes, updates, and inserts (delete trumps update on overlap; the
    synthetic changeset above exercises all three paths plus the overlap
    rule).

    Scale shape: the canonical MERGE lowering Spark-side — one left-anti
    join of base against the touched-key set (an equi-join AQE can
    broadcast when the changeset is small, the common CDC case) plus
    unions; no window, no global sort. Each union branch re-scans the
    snapshot (parquet scans with pushed filters — cheaper than a cache
    materialization at this shape; a production MERGE reads the base once
    through ``sources.writers.upsert_by_key``, whose read-modify-write
    body is this same algebra, here as a pure query so the merge itself
    is oracle-checked)."""
    o = table(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderdate") < "1997-01-01").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    dele = base.filter(F.col("o_orderkey") % 7 == 0).select("o_orderkey")
    upd = base.filter(
        (F.col("o_orderkey") % 5 == 1) & (F.col("o_orderkey") % 7 != 0)
    ).select(
        "o_orderkey",
        F.round(
            F.col("o_totalprice").cast("decimal(18,2)")
            * F.expr("CAST(1.1 AS DECIMAL(2,1))"),
            2,
        )
        .cast("double")
        .alias("o_totalprice"),
        F.lit("U").alias("o_orderstatus"),
    )
    ins = o.filter(F.col("o_orderdate") >= "1997-01-01").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    touched = dele.union(upd.select("o_orderkey")).distinct()
    kept = base.join(touched, "o_orderkey", "left_anti")

    def out(df: DataFrame, src: str) -> DataFrame:
        return df.select(
            "o_orderkey",
            F.round("o_totalprice", 2).alias("price_r"),
            "o_orderstatus",
            F.lit(src).alias("src"),
        )

    return out(kept, "base").unionAll(out(upd, "update")).unionAll(
        out(ins, "insert")
    )


_SKEW_SQL = """
    WITH c AS (
        SELECT l_partkey AS k, count(*) AS n FROM lineitem GROUP BY 1
    ),
    a AS (
        SELECT count(*) AS n_keys,
               sum(n)::BIGINT AS n_rows,
               sum(n * n)::BIGINT AS ss,
               max(n) AS max_n
        FROM c
    ),
    t AS (
        SELECT c.k FROM c CROSS JOIN a
        WHERE c.n = a.max_n ORDER BY c.k LIMIT 1
    )
    SELECT a.n_keys, a.n_rows, t.k AS top_key, a.max_n AS top_n,
           round(a.max_n * 1.0 / a.n_rows, 6) AS top_share_r,
           round(a.ss * 1.0 / (a.n_rows * a.n_rows), 6) AS hhi_r
    FROM a CROSS JOIN t
"""


@register("join_key_skew_report", oracle=_SKEW_SQL)
def join_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostic for a prospective join/groupBy key:
    distinct-key count, the heaviest key and its share, and the
    Herfindahl–Hirschman concentration index Σ(nᵢ/N)² — the number that
    decides between a plain shuffle, AQE skew-join, and explicit salting
    (``operators/partitioning.salted``) BEFORE running the join at 100 TB.

    Scale shape: one grouped count (map-side combined) then a 1-row
    aggregate over the key table; every moment (N, Σn², max n) is an exact
    integer sum, so the rounded ratios are bit-identical across engines —
    no float-accumulation ordering anywhere. The heaviest key resolves by
    TakeOrderedAndProject with a key tiebreak."""
    li = table(spark, sf_dir, "lineitem")
    c = li.groupBy(F.col("l_partkey").alias("k")).agg(F.count("*").alias("n"))
    a = c.agg(
        F.count("*").alias("n_keys"),
        F.sum("n").cast("long").alias("n_rows"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("ss"),
        F.max("n").alias("max_n"),
    )
    t = (
        c.crossJoin(F.broadcast(a.select("max_n")))
        .filter(F.col("n") == F.col("max_n"))
        .orderBy("k")
        .limit(1)
        .select("k")
    )
    return a.crossJoin(F.broadcast(t)).select(
        "n_keys",
        "n_rows",
        F.col("k").alias("top_key"),
        F.col("max_n").alias("top_n"),
        F.round(F.col("max_n") / F.col("n_rows"), 6).alias("top_share_r"),
        F.round(F.col("ss") / (F.col("n_rows") * F.col("n_rows")), 6).alias(
            "hhi_r"
        ),
    )


_CHECKSUM_SQL = f"""
    WITH h AS (
        SELECT date_trunc('month', o_orderdate)::TIMESTAMP AS month,
               {token_hash64_sql(
                   "o_orderkey::VARCHAR || '|' || o_custkey::VARCHAR || '|' || "
                   "o_orderstatus || '|' || CAST(o_totalprice AS DECIMAL(18,2))::VARCHAR"
               )} AS rh
        FROM orders
    )
    SELECT month, count(*) AS n_rows,
           (sum(rh) % 1000000007)::BIGINT AS checksum
    FROM h GROUP BY 1
"""


@register("partition_checksum", oracle=_CHECKSUM_SQL)
def partition_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition content checksum: order-insensitive sum of portable
    per-row hashes mod p, keyed by month — the cross-cluster/table
    reconciliation primitive (compare two copies of 100 TB WITHOUT moving
    either: ship only the per-partition (n_rows, checksum) pairs and diff
    those). Row rendering goes through DECIMAL(18,2) before hashing so
    float-to-string formatting can never differ between engines; the sum
    is commutative, so partitioning/order never changes the result.

    One narrow hash projection + one grouped agg — the checksum state per
    partition is two numbers regardless of row count."""
    o = table(spark, sf_dir, "orders")
    row_str = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
    )
    h = o.select(
        F.date_trunc("month", "o_orderdate").alias("month"),
        token_hash64(row_str).alias("rh"),
    )
    return h.groupBy("month").agg(
        F.count("*").alias("n_rows"),
        F.expr(
            "CAST(sum(CAST(rh AS DECIMAL(38,0))) % 1000000007 AS BIGINT)"
        ).alias("checksum"),
    )


# ------------------------------------------------ Benford first-digit DQ

_BENFORD_SQL = """
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                                AS VARCHAR), 1, 1) AS BIGINT) AS digit
        FROM orders
    ),
    c AS (SELECT digit, count(*) AS n_obs FROM digits GROUP BY 1),
    t AS (SELECT sum(n_obs) AS n FROM c)
    SELECT c.digit, c.n_obs,
           round(c.n_obs * 1.0 / t.n, 6) AS obs_p_r,
           round(ln(1.0 + 1.0 / c.digit) / ln(10.0), 6) AS exp_p_r,
           round(t.n * pow(c.n_obs * 1.0 / t.n
                           - ln(1.0 + 1.0 / c.digit) / ln(10.0), 2)
                 / (ln(1.0 + 1.0 / c.digit) / ln(10.0)), 4) AS chi2_part_r
    FROM c CROSS JOIN t
"""


@register("benford_law_check", oracle=_BENFORD_SQL)
def benford_law_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the forensic
    data-quality screen for fabricated or truncated monetary data
    (synthetic uniform-ish prices measurably DEVIATE from Benford, which
    is itself the point: the per-digit chi-square contributions localize
    WHERE a distribution fails, feeding the same expectation-suite
    surface as ``dq_checks``).

    Scale shape: one grouped count onto the 9-row digit spine (map-side
    combined), one broadcast 1-row total, expected frequencies
    ln(1+1/d)/ln(10) folded as codegen'd constants — a full-table DQ
    probe that moves 9 rows. First digit is taken from the integer part
    (orders are >= 1 dollar by construction), identically in both
    engines via floor -> BIGINT -> leading character."""
    o = table(spark, sf_dir, "orders")
    digits = o.select(
        F.substring(
            F.floor("o_totalprice").cast("long").cast("string"), 1, 1
        )
        .cast("long")
        .alias("digit")
    )
    c = digits.groupBy("digit").agg(F.count("*").alias("n_obs"))
    t = c.agg(F.sum("n_obs").alias("n"))
    exp_p = F.log(1.0 + 1.0 / F.col("digit")) / F.log(F.lit(10.0))
    obs_p = F.col("n_obs") / F.col("n")
    return c.crossJoin(F.broadcast(t)).select(
        "digit",
        "n_obs",
        F.round(obs_p, 6).alias("obs_p_r"),
        F.round(exp_p, 6).alias("exp_p_r"),
        F.round(F.col("n") * F.pow(obs_p - exp_p, 2) / exp_p, 4).alias(
            "chi2_part_r"
        ),
    )


# ------------------------------------- sorted-neighborhood linkage

_SNM_SQL = """
    WITH ranked AS (
        SELECT c_custkey, c_nationkey, c_name,
               row_number() OVER (PARTITION BY c_nationkey
                                  ORDER BY c_name, c_custkey) AS rn
        FROM customer
    )
    SELECT a.c_nationkey AS block_key,
           a.c_custkey AS id1, b.c_custkey AS id2,
           b.rn - a.rn AS rank_gap,
           levenshtein(a.c_name, b.c_name)::BIGINT AS lev
    FROM ranked a
    JOIN ranked b ON b.c_nationkey = a.c_nationkey
                 AND b.rn - a.rn BETWEEN 1 AND 2
    WHERE levenshtein(a.c_name, b.c_name) <= 2
"""


@register("sorted_neighborhood_pairs", oracle=_SNM_SQL)
def sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood record linkage (Hernández & Stolfo 1995):
    within each block, records sort by the fuzzy key and only a sliding
    window of w=2 rank-neighbors is compared — the OTHER classic
    blocking scheme beside ``fuzzy_match_blocked``'s equality blocking;
    sorted-neighborhood catches near-misses equality blocking splits
    apart (typo in the blocking token), equality blocking catches
    far-apart-in-sort-order matches.

    Scale shape: ranking windows are PARTITIONED by the block key
    (never a global sort — the textbook single-sort formulation is the
    scale-killer; blocked SNM is how production linkage runs it), the
    window join is a self-EQUI-join on (block, neighbor rank) with the
    w=2 gap exploded into the join key — fan-out exactly w per record
    by construction, never |block|² — and the JVM ``levenshtein``
    verify is codegen'd. Everything is exact integers
    and strings."""
    c = table(spark, sf_dir, "customer")
    from pyspark.sql import Window as W

    w = W.partitionBy("c_nationkey").orderBy("c_name", "c_custkey")
    ranked = c.select(
        "c_custkey", "c_nationkey", "c_name", F.row_number().over(w).alias("rn")
    )
    a = ranked.select(
        F.col("c_nationkey").alias("block_key"),
        F.col("c_custkey").alias("id1"),
        F.col("c_name").alias("n1"),
        F.col("rn").alias("rn1"),
    )
    b = ranked.select(
        F.col("c_nationkey").alias("block_key"),
        F.col("c_custkey").alias("id2"),
        F.col("c_name").alias("n2"),
        F.col("rn").alias("rn2"),
    )
    # the rank band is an EQUI key, not a join filter: exploding the gap
    # d in {1,2} and joining on (block, rn1+d = rn2) keeps the physical
    # join strictly 2-fan-out per record — a bare block-key join with a
    # band filter still enumerates |block|^2 pairs inside the matcher,
    # which is the containment_pairs-class blow-up on a hot block
    probes = a.withColumn(
        "d", F.explode(F.array(F.lit(1), F.lit(2)))
    ).withColumn("rn2", F.col("rn1") + F.col("d"))
    return (
        probes.join(b, ["block_key", "rn2"])
        .withColumn("lev", F.levenshtein("n1", "n2").cast("long"))
        .filter(F.col("lev") <= 2)
        .select(
            "block_key",
            "id1",
            "id2",
            F.col("d").alias("rank_gap"),
            "lev",
        )
    )


# ------------------------------------------- price-volume-mix bridge

_PVM_SQL = f"""
    WITH yr AS (
        SELECT l_partkey,
               year(l_shipdate) AS y,
               CAST({money_sum_sql('l_extendedprice')}
                    * 100 AS BIGINT) AS rev_c,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT)
                   AS qty_c
        FROM lineitem
        WHERE year(l_shipdate) IN (1995, 1996)
        GROUP BY 1, 2
    ),
    w AS (
        SELECT a.rev_c AS r0, a.qty_c AS q0,
               b.rev_c AS r1, b.qty_c AS q1
        FROM yr a JOIN yr b ON b.l_partkey = a.l_partkey
        WHERE a.y = 1995 AND b.y = 1996
    ),
    terms AS (
        SELECT r0, r1,
               CAST(floor((CAST(r0 AS DECIMAL(38,0))
                           * (q1 - q0))::DOUBLE / q0 + 0.5) AS BIGINT)
                   AS vol_c,
               CAST(floor((CAST(r1 AS DECIMAL(38,0))
                           * q0)::DOUBLE / q1 + 0.5) AS BIGINT) - r0
                   AS price_c
        FROM w
    )
    SELECT count(*) AS n_parts,
           round(sum(r1 - r0) / 100.0, 2) AS delta_rev_r,
           round(sum(vol_c) / 100.0, 2) AS volume_eff_r,
           round(sum(price_c) / 100.0, 2) AS price_eff_r,
           round(sum(r1 - r0 - vol_c - price_c) / 100.0, 2) AS cross_eff_r
    FROM terms
"""


@register("price_volume_mix", oracle=_PVM_SQL)
def price_volume_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-volume-mix bridge for 1995→1996 per-part revenue: the FP&A
    decomposition Δrev = price_effect + volume_effect + cross_effect
    (Laspeyres convention: volume at base price, price at base volume,
    cross = the exact remainder, so the bridge identity holds to the
    cent by construction — pinned by pytest). Restricted to parts
    trading in BOTH years (entry/exit is a separate mix line).

    Scale shape: one filtered grouped agg builds the per-(part, year)
    panel in exact integer cents/centi-units; the bridge is a self
    equi-join on the part key (keyed, never cross) and one 1-row
    aggregate of codegen'd ratio arithmetic. Average unit price =
    rev/qty from exact integers — identical division trees in both
    engines."""
    li = table(spark, sf_dir, "lineitem").filter(
        F.year("l_shipdate").isin(1995, 1996)
    )
    yr = li.groupBy(
        "l_partkey", F.year("l_shipdate").alias("y")
    ).agg(
        (
            money_sum(F.col("l_extendedprice"))
            * 100
        )
        .cast("long")
        .alias("rev_c"),
        (F.sum(F.col("l_quantity").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("qty_c"),
    )
    a = yr.filter(F.col("y") == 1995).select(
        "l_partkey",
        F.col("rev_c").alias("r0"),
        F.col("qty_c").alias("q0"),
    )
    b = yr.filter(F.col("y") == 1996).select(
        "l_partkey",
        F.col("rev_c").alias("r1"),
        F.col("qty_c").alias("q1"),
    )
    w = a.join(b, "l_partkey")
    # per-row terms become INTEGER cents via the portable floor-ties
    # quantizer (numerators exact in DECIMAL(38,0), ONE deterministic
    # double division each) — double sums over the part panel are
    # summation-order-dependent across engines and flipped the 2-decimal
    # output at sf0.01; integer sums are order-free. The cross effect is
    # the exact REMAINDER (delta - volume - price), so the bridge
    # identity holds to the cent by construction and absorbs the
    # sub-cent per-row rounding dust.
    vol_c = F.floor(
        (F.col("r0").cast("decimal(38,0)") * (F.col("q1") - F.col("q0")))
        .cast("double")
        / F.col("q0")
        + 0.5
    ).cast("long")
    price_c = (
        F.floor(
            (F.col("r1").cast("decimal(38,0)") * F.col("q0")).cast("double")
            / F.col("q1")
            + 0.5
        ).cast("long")
        - F.col("r0")
    )
    terms = w.select(
        "r0", "r1", vol_c.alias("vol_c"), price_c.alias("price_c")
    )
    return terms.agg(
        F.count("*").alias("n_parts"),
        F.round(F.sum(F.col("r1") - F.col("r0")) / 100.0, 2).alias(
            "delta_rev_r"
        ),
        F.round(F.sum("vol_c") / 100.0, 2).alias("volume_eff_r"),
        F.round(F.sum("price_c") / 100.0, 2).alias("price_eff_r"),
        F.round(
            F.sum(
                F.col("r1") - F.col("r0") - F.col("vol_c") - F.col("price_c")
            )
            / 100.0,
            2,
        ).alias("cross_eff_r"),
    )


_CYCLE_SQL = """
    WITH cyc AS (
        SELECT o.o_orderpriority AS prio,
               datediff('day', o.o_orderdate, l.l_shipdate) AS days
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    )
    SELECT prio, count(*) AS n_lines,
           round(quantile_cont(days, 0.50), 2) AS p50_days_r,
           round(quantile_cont(days, 0.90), 2) AS p90_days_r,
           round(quantile_cont(days, 0.99), 2) AS p99_days_r
    FROM cyc GROUP BY 1
"""


@register("order_cycle_quantiles", oracle=_CYCLE_SQL)
def order_cycle_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship cycle-time SLA report: p50/p90/p99 days from order
    to line shipment, per order priority — the tail-latency read
    operations teams actually track (means hide the p99 a contract is
    written against).

    Scale shape: one fact-fact equi-join + ONE grouped exact-percentile
    aggregate per priority (mergeable partial state); day counts are
    exact integers so quantile interpolation lands on the quarter/tenth
    binary grids (``rolling_median`` discipline)."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    cyc = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.col("o_orderpriority").alias("prio"),
        F.datediff("l_shipdate", "o_orderdate").cast("long").alias("days"),
    )
    return cyc.groupBy("prio").agg(
        F.count("*").alias("n_lines"),
        *[
            F.round(F.percentile("days", F.lit(q)), 2).alias(name)
            for q, name in (
                (0.50, "p50_days_r"),
                (0.90, "p90_days_r"),
                (0.99, "p99_days_r"),
            )
        ],
    )


# ------------------------------------------ Fellegi–Sunter record linkage

# Field agreement weights in milli-bans (log2(m/u)·1000, fixed literals so
# both engines sum exact integers — no transcendental at query time):
#   brand: m=.90 u=.04 -> agree log2(22.5)=+4.492, disagree log2(.1/.96)=-3.263
#   type:  m=.80 u=.01 -> agree log2(80)  =+6.322, disagree log2(.2/.99)=-2.307
#   size±1:m=.70 u=.10 -> agree log2(7)   =+2.807, disagree log2(.3/.9) =-1.585
_FS_W = dict(brand=(4492, -3263), ptype=(6322, -2307), size=(2807, -1585))

_FS_SQL = f"""
    WITH p AS (
        SELECT p_partkey, p_brand, p_type, p_size,
               string_split(p_name, ' ')[-1] AS tok,
               p_size // 10 AS szb
        FROM part
    ),
    blk AS (
        SELECT tok, szb FROM p GROUP BY 1, 2 HAVING count(*) <= 1024
    ),
    pb AS (SELECT p.* FROM p JOIN blk USING (tok, szb)),
    pairs AS (
        SELECT a.p_partkey AS p1, b.p_partkey AS p2,
               (CASE WHEN a.p_brand = b.p_brand
                     THEN {_FS_W['brand'][0]} ELSE {_FS_W['brand'][1]} END
                + CASE WHEN a.p_type = b.p_type
                       THEN {_FS_W['ptype'][0]} ELSE {_FS_W['ptype'][1]} END
                + CASE WHEN abs(a.p_size - b.p_size) <= 1
                       THEN {_FS_W['size'][0]} ELSE {_FS_W['size'][1]} END)
                   AS score_milli
        FROM pb a JOIN pb b
          ON a.tok = b.tok AND a.szb = b.szb AND a.p_partkey < b.p_partkey
    )
    SELECT p1, p2, score_milli,
           CASE WHEN score_milli >= 6000 THEN 'match'
                WHEN score_milli >= 0 THEN 'possible'
                ELSE 'non-match' END AS fs_class
    FROM pairs
    ORDER BY score_milli DESC, p1, p2
    LIMIT 200
"""


@register("fellegi_sunter_scores", oracle=_FS_SQL)
def fellegi_sunter_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter probabilistic record linkage over the part
    dimension: candidate pairs from hierarchical blocking (name head-noun
    × size decade), scored by summed field agreement/disagreement weights
    log2(m/u) — the classical ER decision model behind Splink et al.
    ``fuzzy_match_blocked`` answers "how FAR apart are two strings";
    this answers "how LIKELY is this pair the same entity" across
    multiple typed fields with per-field evidence strength.

    Exactness: weights are fixed milli-ban INTEGER literals (precomputed
    log2 values — no runtime transcendental), so scores sum exactly and
    the top-200 cut with its (score, p1, p2) tie-break is deterministic.

    Scale shape: pair generation is a blocked equi-join — the composite
    (head-noun, size-decade) key keeps blocks selective and the ≤1024
    occupancy cap (mirrored in the oracle) is the quadratic guard, same
    policy as the LSH bucket cap in ``llm/dedup.py``; the top-200 is
    TakeOrderedAndProject."""
    pt = table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        "p_type",
        "p_size",
        F.element_at(F.split("p_name", " "), -1).alias("tok"),
        F.expr("p_size div 10").alias("szb"),
    )
    blk = pt.groupBy("tok", "szb").agg(F.count("*").alias("bn")).filter(
        F.col("bn") <= 1024
    )
    pb = pt.join(blk.select("tok", "szb"), ["tok", "szb"])
    a = pb.select(
        "tok", "szb",
        F.col("p_partkey").alias("p1"),
        F.col("p_brand").alias("b1"),
        F.col("p_type").alias("t1"),
        F.col("p_size").alias("s1"),
    )
    b = pb.select(
        "tok", "szb",
        F.col("p_partkey").alias("p2"),
        F.col("p_brand").alias("b2"),
        F.col("p_type").alias("t2"),
        F.col("p_size").alias("s2"),
    )
    wb, wt, ws = _FS_W["brand"], _FS_W["ptype"], _FS_W["size"]
    pairs = (
        a.join(b, ["tok", "szb"])
        .filter(F.col("p1") < F.col("p2"))
        .select(
            "p1",
            "p2",
            (
                F.when(F.col("b1") == F.col("b2"), wb[0]).otherwise(wb[1])
                + F.when(F.col("t1") == F.col("t2"), wt[0]).otherwise(wt[1])
                + F.when(F.abs(F.col("s1") - F.col("s2")) <= 1, ws[0]).otherwise(
                    ws[1]
                )
            ).alias("score_milli"),
        )
    )
    return (
        pairs.select(
            "p1",
            "p2",
            "score_milli",
            F.when(F.col("score_milli") >= 6000, "match")
            .when(F.col("score_milli") >= 0, "possible")
            .otherwise("non-match")
            .alias("fs_class"),
        )
        .orderBy(F.col("score_milli").desc(), "p1", "p2")
        .limit(200)
    )


# ------------------------------------- cross-table consistency audit

_XCONSIST_SQL = """
    WITH j AS (
        SELECT l.l_shipdate, o.o_orderdate, l.l_quantity, l.l_extendedprice,
               l.l_discount, l.l_tax
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT count(*) AS n_lines,
           sum(CASE WHEN l_shipdate < o_orderdate THEN 1 ELSE 0 END)::BIGINT
               AS ship_before_order,
           sum(CASE WHEN l_quantity <= 0 OR l_quantity > 50
                    THEN 1 ELSE 0 END)::BIGINT AS qty_out_of_range,
           sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END)::BIGINT
               AS nonpositive_price,
           sum(CASE WHEN l_discount < 0 OR l_discount > 0.1
                    THEN 1 ELSE 0 END)::BIGINT AS discount_out_of_range,
           sum(CASE WHEN l_tax < 0 OR l_tax > 0.08
                    THEN 1 ELSE 0 END)::BIGINT AS tax_out_of_range
    FROM j
"""


@register("cross_table_consistency_audit", oracle=_XCONSIST_SQL)
def cross_table_consistency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-TABLE consistency rules — the referential layer above
    ``dq_checks``' single-table gates: lineitems shipped before their
    order existed, quantities/prices/discounts/taxes outside the data
    model's legal ranges, all counted in one fact-join pass. The
    ship-before-order rule NEEDS the join (neither table can see it
    alone), which is what distinguishes this audit from column
    profiling.

    Scale shape: one fact-fact equi-join on the order key (AQE handles
    the build side), conditional-sum aggregate, 1-row output — the scan
    dominates, as a DQ pass should."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_shipdate", "o_orderdate", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax",
    )

    def viol(cond, name):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(name)

    return j.agg(
        F.count("*").alias("n_lines"),
        viol(F.col("l_shipdate") < F.col("o_orderdate"), "ship_before_order"),
        viol(
            (F.col("l_quantity") <= 0) | (F.col("l_quantity") > 50),
            "qty_out_of_range",
        ),
        viol(F.col("l_extendedprice") <= 0, "nonpositive_price"),
        viol(
            (F.col("l_discount") < 0) | (F.col("l_discount") > 0.1),
            "discount_out_of_range",
        ),
        viol((F.col("l_tax") < 0) | (F.col("l_tax") > 0.08), "tax_out_of_range"),
    )


# -------------------------------------------- duplicate payment audit

_DUP_PAY_SQL = f"""
    WITH o AS (
        SELECT o_orderkey, o_custkey,
               {cents_sql('o_totalprice')} AS amt_c,
               CAST(o_orderdate AS DATE) AS d
        FROM orders
    )
    SELECT a.o_custkey AS custkey,
           a.amt_c AS amt1_c, b.amt_c AS amt2_c,
           a.o_orderkey AS order1, b.o_orderkey AS order2,
           b.d - a.d AS gap_days
    FROM o a JOIN o b
      ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
    WHERE abs(b.d - a.d) <= 30
      AND 20 * abs(a.amt_c - b.amt_c) <= greatest(a.amt_c, b.amt_c)
"""


@register("duplicate_payment_audit", oracle=_DUP_PAY_SQL)
def duplicate_payment_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-payment audit: order pairs from the same customer with
    amounts within 5% of each other inside a 30-day window — the
    accounts-payable double-billing screen (near-same-amount,
    same-party, close-date). The tolerance is the exact integer cross
    comparison 20·|Δcents| ≤ max(cents), so membership never rides on
    float division. Distinct from ``exact_dedup_hash`` (whole-row
    identity) and ``fuzzy_match_blocked`` (string similarity): keyed
    coincidence detection on (party, amount band, time band).

    Scale shape: the pair join is an EQUI-join on the customer key; the
    data model bounds per-customer order counts (≤ a few dozen at any
    SF), so per-key fan-out is small-constant² — a deployment with
    mega-payers adds an amount-bucket term to the join key, the
    ``caliper_matching`` banding."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        cents(F.col("o_totalprice")).alias("amt_c"),
        F.to_date("o_orderdate").alias("d"),
    )
    a = o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("amt_c").alias("amt1_c"),
        F.col("o_orderkey").alias("order1"),
        F.col("d").alias("date1"),
    )
    b = o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("amt_c").alias("amt2_c"),
        F.col("o_orderkey").alias("order2"),
        F.col("d").alias("date2"),
    )
    return (
        a.join(b, "custkey")
        .filter(F.col("order1") < F.col("order2"))
        .withColumn("gap_days", F.datediff("date2", "date1"))
        .filter(F.abs(F.col("gap_days")) <= 30)
        .filter(
            20 * F.abs(F.col("amt1_c") - F.col("amt2_c"))
            <= F.greatest("amt1_c", "amt2_c")
        )
        .select("custkey", "amt1_c", "amt2_c", "order1", "order2", "gap_days")
    )


# ------------------------------------------- last-digit uniformity

_LASTDIGIT_SQL = f"""
    WITH d AS (
        SELECT {cents_sql('o_totalprice')} % 10 AS digit
        FROM orders
    ),
    c AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
    t AS (SELECT sum(n) AS tot FROM c)
    SELECT c.digit, c.n,
           round(c.n * 100.0 / t.tot, 4) AS pct_r,
           round(pow(c.n - t.tot / 10.0, 2) / (t.tot / 10.0), 4)
               AS chi2_term_r
    FROM c CROSS JOIN t
"""


@register("last_digit_uniformity", oracle=_LASTDIGIT_SQL)
def last_digit_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-cent-digit uniformity screen: unlike leading digits (which
    follow Benford — see ``benford_law_check``), trailing digits of
    authentic amounts should be ~uniform; humps at 0/5 flag rounded or
    fabricated figures. Per-digit counts with their chi-square terms
    against the uniform expectation.

    Scale shape: one scan, a 10-key aggregate, a broadcast total."""
    o = table(spark, sf_dir, "orders")
    d = o.select(
        (
            cents(F.col("o_totalprice"))
            % 10
        ).alias("digit")
    )
    c = d.groupBy("digit").agg(F.count("*").alias("n"))
    t = c.agg(F.sum("n").alias("tot"))
    return c.crossJoin(F.broadcast(t)).select(
        "digit",
        "n",
        F.round(F.col("n") * 100.0 / F.col("tot"), 4).alias("pct_r"),
        F.round(
            F.pow(F.col("n") - F.col("tot") / 10.0, 2) / (F.col("tot") / 10.0), 4
        ).alias("chi2_term_r"),
    )


# --------------------------------------- ACID transaction log (delta-lite)

_DELTALITE_SQL = f"""
    WITH base AS (
        SELECT * FROM orders WHERE o_orderkey % 7 <> 0
    ),
    upd AS (
        SELECT o_orderkey, o_custkey, 'M' AS o_orderstatus, o_totalprice,
               o_orderdate, 'X-MERGED' AS o_orderpriority
        FROM orders WHERE o_orderkey % 13 = 0
    ),
    merged AS (
        SELECT * FROM upd
        UNION ALL
        SELECT * FROM base
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
    ),
    v0 AS (
        SELECT 0 AS version, o_orderpriority, count(*) AS n,
               CAST({money_sum_sql('o_totalprice')} * 100
                    AS BIGINT) AS cents
        FROM base GROUP BY o_orderpriority
    ),
    v1 AS (
        SELECT 1 AS version, o_orderpriority, count(*) AS n,
               CAST({money_sum_sql('o_totalprice')} * 100
                    AS BIGINT) AS cents
        FROM merged GROUP BY o_orderpriority
    )
    SELECT * FROM v0 UNION ALL SELECT * FROM v1
"""


@register("deltalite_merge_time_travel", oracle=_DELTALITE_SQL)
def deltalite_merge_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end ACID cycle on the delta-lite transaction log
    (sources/txlog.py — the reference's Delta storage story,
    `glue/etl_api.py:25,38,49`, re-expressed without the connector):
    CREATE TABLE AS SELECT from a deterministic orders subset (version 0),
    MERGE a keyed changeset (updates + inserts, version 1), then read BOTH
    versions back — version 0 via time travel — and aggregate each by
    priority. The oracle recomputes both states in pure SQL, so the driver
    hash-checks that commit atomicity, merge semantics, and snapshot
    time travel all round-trip the data exactly.

    Scale shape: all transaction-log handling is driver-side metadata
    (O(files) JSON lines, never row-scaled); the data moves only through
    distributed parquet writes/scans, and MERGE rewrites only files whose
    footer key-range overlaps the changeset (stats-based skipping,
    asserted in tests/test_txlog.py)."""
    import tempfile

    from ..sources.txlog import DeltaLiteTable

    o = table(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderkey") % 7 != 0)
    upd = o.filter(F.col("o_orderkey") % 13 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("M").alias("o_orderstatus"),
        "o_totalprice",
        "o_orderdate",
        F.lit("X-MERGED").alias("o_orderpriority"),
    )
    path = tempfile.mkdtemp(prefix="deltalite-q-")
    t = DeltaLiteTable.create(spark, base, f"{path}/t", keys=["o_orderkey"])
    t.merge(upd)

    def agg(df: DataFrame, version: int) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count("*").alias("n"),
            (money_sum(F.col("o_totalprice")) * 100)
            .cast("long")
            .alias("cents"),
        ).select(F.lit(version).alias("version"), "o_orderpriority", "n", "cents")

    return agg(t.snapshot(version=0), 0).unionByName(agg(t.snapshot(), 1))


_DELTALITE_CDF_SQL = f"""
    WITH base AS (
        SELECT * FROM orders WHERE o_orderkey % 7 <> 0
    ),
    upd AS (
        SELECT o_orderkey, o_custkey, 'M' AS o_orderstatus, o_totalprice,
               o_orderdate, 'X-MERGED' AS o_orderpriority
        FROM orders WHERE o_orderkey % 13 = 0
    ),
    merged AS (
        SELECT * FROM upd
        UNION ALL
        SELECT * FROM base
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
    ),
    final AS (SELECT * FROM merged WHERE o_orderkey % 19 <> 0),
    changes AS (
        SELECT 'insert' AS _change_type, o_totalprice FROM final
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM base)
        UNION ALL
        SELECT 'delete', o_totalprice FROM base
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM final)
        UNION ALL
        SELECT 'update_preimage', b.o_totalprice
        FROM base b JOIN final f USING (o_orderkey)
        WHERE b.o_orderstatus IS DISTINCT FROM f.o_orderstatus
           OR b.o_orderpriority IS DISTINCT FROM f.o_orderpriority
           OR b.o_totalprice IS DISTINCT FROM f.o_totalprice
           OR b.o_custkey IS DISTINCT FROM f.o_custkey
           OR b.o_orderdate IS DISTINCT FROM f.o_orderdate
        UNION ALL
        SELECT 'update_postimage', f.o_totalprice
        FROM base b JOIN final f USING (o_orderkey)
        WHERE b.o_orderstatus IS DISTINCT FROM f.o_orderstatus
           OR b.o_orderpriority IS DISTINCT FROM f.o_orderpriority
           OR b.o_totalprice IS DISTINCT FROM f.o_totalprice
           OR b.o_custkey IS DISTINCT FROM f.o_custkey
           OR b.o_orderdate IS DISTINCT FROM f.o_orderdate
    )
    SELECT _change_type, count(*) AS n,
           CAST({money_sum_sql('o_totalprice')} * 100
                AS BIGINT) AS cents
    FROM changes GROUP BY 1
"""


@register("deltalite_change_data_feed", oracle=_DELTALITE_CDF_SQL)
def deltalite_change_data_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed across a three-commit transaction history
    (CREATE → MERGE → DELETE) on the delta-lite log: the version-0→2 diff
    must classify every row as insert / delete / update_preimage /
    update_postimage exactly as Delta's ``table_changes`` does, with
    unchanged rows never surfacing. The oracle recomputes all four change
    classes in pure SQL from the same deterministic arithmetic, so the
    driver hash-checks MERGE, file-rewriting DELETE, and snapshot diffing
    in one query.

    Scale shape: the CDF is one key-shuffled full-outer join between two
    enumerated-file parquet scans (sources/txlog.py:change_data_feed);
    the final aggregate is a 4-group re-group."""
    import tempfile

    from ..sources.txlog import DeltaLiteTable

    o = table(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderkey") % 7 != 0)
    upd = o.filter(F.col("o_orderkey") % 13 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("M").alias("o_orderstatus"),
        "o_totalprice",
        "o_orderdate",
        F.lit("X-MERGED").alias("o_orderpriority"),
    )
    path = tempfile.mkdtemp(prefix="deltalite-cdf-")
    t = DeltaLiteTable.create(spark, base, f"{path}/t", keys=["o_orderkey"])
    t.merge(upd)
    t.delete_where("o_orderkey % 19 = 0")
    return t.change_data_feed(0).groupBy("_change_type").agg(
        F.count("*").alias("n"),
        (money_sum(F.col("o_totalprice")) * 100)
        .cast("long")
        .alias("cents"),
    )


_DELTALITE_OPT_SQL = f"""
    WITH base AS (
        SELECT * FROM orders WHERE o_orderkey % 5 <> 0
    )
    SELECT o_orderpriority, count(*) AS n,
           CAST({money_sum_sql('o_totalprice')} * 100
                AS BIGINT) AS cents,
           1 AS compacted,
           1 AS clustered_disjoint
    FROM base GROUP BY o_orderpriority
"""


@register("deltalite_optimize_compaction", oracle=_DELTALITE_OPT_SQL)
def deltalite_optimize_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE on the delta-lite log: CTAS from a deterministic orders
    subset deliberately fragmented into 12 small files, then
    ``optimize(cluster_by=['o_orderkey'])`` — a global range-sort rewrite
    committed with ``dataChange: false``. The output aggregates the
    post-OPTIMIZE snapshot by priority (the oracle recomputes it from raw
    SQL, so the driver hash-proves compaction is row-exact) and embeds two
    runtime audits as value-checked columns: ``compacted`` (live file
    count strictly dropped) and ``clustered_disjoint`` (every pair of live
    files has non-overlapping [min,max] o_orderkey footer envelopes — the
    property that makes MERGE/DELETE stat pruning selective). Either
    failing flips a 1 to 0 and hash-mismatches.

    Scale shape: log handling is driver-side O(files) metadata; the
    rewrite is one distributed range-partitioned sort+write sized to
    ~target bytes per file."""
    import tempfile

    from ..sources.txlog import DeltaLiteTable

    o = table(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderkey") % 5 != 0)
    path = tempfile.mkdtemp(prefix="deltalite-opt-")
    t = DeltaLiteTable.create(
        spark, base.repartition(12), f"{path}/t", keys=["o_orderkey"]
    )
    n_before = t.num_live_files()
    t.optimize(cluster_by=["o_orderkey"])
    n_after = t.num_live_files()
    import json as _json

    envs = []
    for a in t._replay().adds.values():
        st = _json.loads(a.get("stats") or "{}")
        lo = st.get("minValues", {}).get("o_orderkey")
        hi = st.get("maxValues", {}).get("o_orderkey")
        if lo is None or hi is None:
            envs = None
            break
        envs.append((lo, hi))
    disjoint = 0
    if envs is not None:
        envs.sort()
        disjoint = int(
            all(envs[i][1] < envs[i + 1][0] for i in range(len(envs) - 1))
        )
    return (
        t.snapshot()
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            (money_sum(F.col("o_totalprice")) * 100)
            .cast("long")
            .alias("cents"),
        )
        .select(
            "o_orderpriority",
            "n",
            "cents",
            F.lit(int(n_after < n_before)).alias("compacted"),
            F.lit(disjoint).alias("clustered_disjoint"),
        )
    )


_BITEMPORAL_SQL = f"""
    WITH base AS (
        SELECT o_orderkey AS k, o_orderpriority AS grp,
               {cents_sql('o_totalprice')} AS v_c,
               o_orderdate AS valid_from,
               o_orderdate AS tx_time
        FROM orders
    ),
    corrections AS (
        SELECT k, grp, (v_c * 11) // 10 AS v_c,
               valid_from,
               tx_time + INTERVAL 30 DAY AS tx_time
        FROM base WHERE k % 13 = 0
    ),
    log AS (SELECT * FROM base UNION ALL SELECT * FROM corrections),
    pts(label, t_know, t_valid) AS (VALUES
        ('early', TIMESTAMP '1996-06-05', TIMESTAMP '1996-06-01'),
        ('late',  TIMESTAMP '1999-01-01', TIMESTAMP '1996-06-01')
    ),
    resolved AS (
        SELECT p.label, l.k, l.grp, l.v_c, l.valid_from,
               row_number() OVER (PARTITION BY p.label, l.k
                                  ORDER BY l.tx_time DESC) AS rk
        FROM log l JOIN pts p ON l.tx_time <= p.t_know
    ),
    state AS (
        SELECT a.label, a.grp, a.v_c
        FROM resolved a JOIN pts p ON p.label = a.label
        WHERE a.rk = 1 AND a.valid_from <= p.t_valid
    )
    SELECT label, grp, count(*) AS n, sum(v_c)::BIGINT AS cents
    FROM state GROUP BY 1, 2
"""


@register("bitemporal_as_of", oracle=_BITEMPORAL_SQL)
def bitemporal_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal AS OF reconstruction (Snodgrass; SQL:2011 system/
    application time): a synthesized correction stream retroactively
    amends every 13th order's amount 30 days after the fact
    (valid_from unchanged — the classic late-arriving correction), and
    the query reads the SAME validity instant at two KNOWLEDGE instants:
    'early' (before corrections were recorded — original amounts) vs
    'late' (after — corrected amounts). This is the audit question SCD2
    alone cannot answer: "what did we believe on date T about the state
    at date V". Per (knowledge point, key) the latest tx_time ≤ T wins
    (rank window), then validity filters valid_from ≤ V.

    Scale shape: the log is fact-sized ×(1+ε); the as-of resolution is a
    keyed rank window per knowledge point (2 points → a bounded 2×
    row multiplication via the points join, NOT a per-row explosion);
    one grouped rollup ends it."""
    o = table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("grp"),
        cents(F.col("o_totalprice")).alias("v_c"),
        F.col("o_orderdate").alias("valid_from"),
        F.col("o_orderdate").alias("tx_time"),
    )
    corrections = base.filter(F.col("k") % 13 == 0).select(
        "k",
        "grp",
        F.expr("(v_c * 11) DIV 10").alias("v_c"),
        "valid_from",
        (F.col("tx_time") + F.expr("INTERVAL 30 DAYS")).alias("tx_time"),
    )
    log = base.unionByName(corrections)
    pts = const_df(
        spark,
        [
            ("early", "1996-06-05", "1996-06-01"),
            ("late", "1999-01-01", "1996-06-01"),
        ],
        "label STRING, t_know STRING, t_valid STRING",
    ).select(
        "label",
        F.col("t_know").cast("timestamp").alias("t_know"),
        F.col("t_valid").cast("timestamp").alias("t_valid"),
    )
    w = Window.partitionBy("label", "k").orderBy(F.col("tx_time").desc())
    asof = (
        log.join(F.broadcast(pts), F.col("tx_time") <= F.col("t_know"))
        .withColumn("rk", F.row_number().over(w))
        .filter((F.col("rk") == 1) & (F.col("valid_from") <= F.col("t_valid")))
    )
    return asof.groupBy("label", "grp").agg(
        F.count("*").alias("n"), F.sum("v_c").alias("cents")
    )


# HITS on the same nation trade graph PageRank uses (distinct edges,
# unweighted): hubs point at good authorities, authorities are pointed at
# by good hubs (Kleinberg 1999). 2 unrolled mutual-reinforcement rounds,
# max-normalized and rounded to 8 per step (summation-order independence,
# the pagerank_nations discipline), output rounded to 6.
_HITS_SQL = """
    WITH edges AS MATERIALIZED (
        SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
    ),
    nodes AS (
        SELECT src AS node FROM edges UNION SELECT dst AS node FROM edges
    ),
    a1r AS (  -- a1 = A^T h0 with h0 = 1: in-degree
        SELECT n.node, CAST(count(e.src) AS DOUBLE) AS v
        FROM nodes n LEFT JOIN edges e ON e.dst = n.node GROUP BY n.node
    ),
    a1 AS (SELECT node, round(v / max(v) OVER (), 8) AS a FROM a1r),
    h1r AS (  -- h1 = A a1
        SELECT n.node, coalesce(sum(a1.a), 0.0) AS v
        FROM nodes n
        LEFT JOIN edges e ON e.src = n.node
        LEFT JOIN a1 ON a1.node = e.dst
        GROUP BY n.node
    ),
    h1 AS (SELECT node, round(v / max(v) OVER (), 8) AS h FROM h1r),
    a2r AS (
        SELECT n.node, coalesce(sum(h1.h), 0.0) AS v
        FROM nodes n
        LEFT JOIN edges e ON e.dst = n.node
        LEFT JOIN h1 ON h1.node = e.src
        GROUP BY n.node
    ),
    a2 AS (SELECT node, round(v / max(v) OVER (), 8) AS a FROM a2r),
    h2r AS (
        SELECT n.node, coalesce(sum(a2.a), 0.0) AS v
        FROM nodes n
        LEFT JOIN edges e ON e.src = n.node
        LEFT JOIN a2 ON a2.node = e.dst
        GROUP BY n.node
    ),
    h2 AS (SELECT node, round(v / max(v) OVER (), 8) AS h FROM h2r)
    SELECT a2.node AS nationkey,
           round(h2.h, 6) AS hub_r,
           round(a2.a, 6) AS authority_r
    FROM a2 JOIN h2 ON a2.node = h2.node
"""


@register("hits_hub_authority", oracle=_HITS_SQL)
def hits_hub_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities (Kleinberg 1999) over the nation trade graph:
    2 unrolled mutual-reinforcement rounds (a ← Aᵀh, h ← A a), each
    max-normalized and rounded to 8 (the ``pagerank_nations`` float
    discipline — neighbor sums are ≤25 rounded terms, deterministic at 8).

    Scale shape: the edge list aggregates fact-side ONCE (distinct on the
    nation pair — bounded 25×25 after the shuffle); every HITS round is an
    equi-join of a node-cardinality score table onto the edge list + a
    grouped sum, unrolled into one lazy plan — no driver iteration. The
    max-normalizer is a broadcast 1-row aggregate. At 100 TB the fact scan
    dominates; iteration cost is dimension-sized."""
    load_tables(spark, sf_dir, ("orders", "customer", "lineitem", "supplier"))
    edges = cut(
        spark.sql(
            """
            SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            """
        ),
        "hits_hub_authority.edges",
    )
    # edges and nodes appear in all 4 unrolled rounds — without truncation the
    # ANALYZED plan carries ~9 copies of the 4-table join and analysis
    # alone costs seconds; as LogicalRDD leaves the rounds are dim-sized
    nodes = cut(
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct(),
        "hits_hub_authority.nodes",
    )

    def norm(scores: DataFrame, col: str) -> DataFrame:
        # max-normalize via one unordered global window on the 25-node
        # score table — NOT agg+crossJoin, which would duplicate the whole
        # upstream subtree per round and blow up analysis/codegen 2^rounds
        mx = F.max(col).over(Window.partitionBy())
        return scores.select("node", F.round(F.col(col) / mx, 8).alias(col))

    def a_step(h: DataFrame) -> DataFrame:
        # a_i = sum of h over in-neighbors
        raw = (
            nodes.join(edges, edges.dst == nodes.node, "left")
            .join(h.withColumnRenamed("node", "hn"), F.col("src") == F.col("hn"), "left")
            .groupBy("node")
            .agg(F.coalesce(F.sum("h"), F.lit(0.0)).alias("a"))
        )
        return norm(raw, "a")

    def h_step(a: DataFrame) -> DataFrame:
        raw = (
            nodes.join(edges, edges.src == nodes.node, "left")
            .join(a.withColumnRenamed("node", "an"), F.col("dst") == F.col("an"), "left")
            .groupBy("node")
            .agg(F.coalesce(F.sum("a"), F.lit(0.0)).alias("h"))
        )
        return norm(raw, "h")

    # round 1 seeded with h0 = 1: a1 = in-degree (exact), then alternate
    a1_raw = (
        nodes.join(edges, edges.dst == nodes.node, "left")
        .groupBy("node")
        .agg(F.count("src").cast("double").alias("a"))
    )
    a1 = norm(a1_raw, "a")
    h1 = h_step(a1)
    a2 = a_step(h1)
    h2 = h_step(a2)
    return a2.join(h2, "node").select(
        F.col("node").alias("nationkey"),
        F.round("h", 6).alias("hub_r"),
        F.round("a", 6).alias("authority_r"),
    )


# Exact betweenness centrality on the nation trade graph via the path-
# counting identity: B(v) = Σ_{s≠v≠t} [d(s,v)+d(v,t)=d(s,t)]·σ_sv·σ_vt/σ_st.
# Shortest-path counts come from 4 unrolled count-matrix powers (the graph's
# diameter is far below 4); every count is exact integer, the per-triple
# ratio quantizes to DECIMAL(38,12) before the sum.
_BETWEENNESS_HOPS = 4


def _betweenness_sql() -> str:
    powers = """
    p1 AS (SELECT src, dst, CAST(1 AS HUGEINT) AS c FROM edges)"""
    for k in range(2, _BETWEENNESS_HOPS + 1):
        powers += f""",
    p{k} AS (
        SELECT a.src, b.dst, sum(a.c) AS c
        FROM p{k - 1} a JOIN edges b ON a.dst = b.src
        WHERE a.src <> b.dst
        GROUP BY 1, 2
    )"""
    layers = " UNION ALL ".join(
        f"SELECT src, dst, {k} AS d, c FROM p{k}"
        for k in range(1, _BETWEENNESS_HOPS + 1)
    )
    return f"""
    WITH edges AS MATERIALIZED (
        SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE c.c_nationkey <> s.s_nationkey
    ),{powers},
    layers AS ({layers}),
    sp AS (
        SELECT src, dst, min(d) AS d FROM layers GROUP BY 1, 2
    ),
    sigma AS (
        SELECT l.src, l.dst, sp.d, max(l.c) AS sigma
        FROM layers l JOIN sp ON l.src = sp.src AND l.dst = sp.dst
                             AND l.d = sp.d
        GROUP BY 1, 2, 3
    ),
    nodes AS (SELECT DISTINCT src AS v FROM edges
              UNION SELECT DISTINCT dst FROM edges),
    triples AS (
        SELECT n.v,
               round(CAST(sv.sigma AS DOUBLE) * CAST(vt.sigma AS DOUBLE)
                     / CAST(st.sigma AS DOUBLE), 12)::DECIMAL(38,12) AS w
        FROM sigma st
        JOIN nodes n ON n.v <> st.src AND n.v <> st.dst
        JOIN sigma sv ON sv.src = st.src AND sv.dst = n.v
        JOIN sigma vt ON vt.src = n.v AND vt.dst = st.dst
        WHERE sv.d + vt.d = st.d
    )
    SELECT n.v AS nationkey,
           round(CAST(coalesce(sum(t.w), 0) AS DOUBLE), 6) AS betweenness_r
    FROM nodes n LEFT JOIN triples t ON t.v = n.v
    GROUP BY 1
"""


@register("betweenness_centrality", oracle=_betweenness_sql())
def betweenness_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact betweenness centrality (directed, self-loops excluded) of the
    nation trade graph — which nations sit on the most shortest trade
    routes; the brokerage complement to ``pagerank_nations`` (volume) and
    ``hits_hub_authority`` (mutual reinforcement).

    Method: shortest-path counts σ_st from 4 unrolled count-matrix
    powers (exact integers; the dense trade graph's diameter is ≤2, the
    hop bound is slack), then Brandes' pair-dependency identity summed
    directly: B(v) = Σ [d(s,v)+d(v,t)=d(s,t)] σ_sv·σ_vt/σ_st. Ratios
    quantize to DECIMAL(38,12) so the triple sum is order-independent.

    Scale shape: the fact collapses to the ≤25×25 distinct-edge dim ONCE;
    all powers/joins run on dimension-bounded cut tables, so the unrolled
    plan stays leaf-rooted. At 100 TB the fact scan
    dominates; the centrality math is constant-size."""
    load_tables(spark, sf_dir, ("orders", "customer", "lineitem", "supplier"))
    edges = cut(
        spark.sql(
            """
        SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE c.c_nationkey <> s.s_nationkey
        """
        ),
        "betweenness_centrality.edges",
    )
    p = edges.select("src", "dst", F.lit(1).cast("decimal(38,0)").alias("c"))
    layers = [p.select("src", "dst", F.lit(1).alias("d"), "c")]
    for k in range(2, _BETWEENNESS_HOPS + 1):
        p = (
            p.alias("a")
            .join(edges.alias("b"), F.col("a.dst") == F.col("b.src"))
            .filter(F.col("a.src") != F.col("b.dst"))
            .groupBy(F.col("a.src").alias("src"), F.col("b.dst").alias("dst"))
            .agg(F.sum("c").alias("c"))
        )
        layers.append(p.select("src", "dst", F.lit(k).alias("d"), "c"))
    lay = layers[0]
    for x in layers[1:]:
        lay = lay.unionAll(x)
    lay = cut(lay, "betweenness_centrality.lay")
    sp = lay.groupBy("src", "dst").agg(F.min("d").alias("d"))
    sigma = cut(
        lay.join(sp, ["src", "dst", "d"])
        .groupBy("src", "dst", "d")
        .agg(F.max("c").alias("sigma")),
        "betweenness_centrality.sigma",
    )
    nodes = cut(
        edges.select(F.col("src").alias("v"))
        .union(edges.select(F.col("dst").alias("v")))
        .distinct(),
        "betweenness_centrality.nodes",
    )
    st, sv, vt = sigma.alias("st"), sigma.alias("sv"), sigma.alias("vt")
    triples = (
        st.join(
            F.broadcast(nodes),  # 25-row dim: BNLJ, never CartesianProduct
            (F.col("v") != F.col("st.src")) & (F.col("v") != F.col("st.dst")),
        )
        .join(
            sv,
            (F.col("sv.src") == F.col("st.src")) & (F.col("sv.dst") == F.col("v")),
        )
        .join(
            vt,
            (F.col("vt.src") == F.col("v")) & (F.col("vt.dst") == F.col("st.dst")),
        )
        .filter(F.col("sv.d") + F.col("vt.d") == F.col("st.d"))
        .select(
            "v",
            F.round(
                F.col("sv.sigma").cast("double")
                * F.col("vt.sigma").cast("double")
                / F.col("st.sigma").cast("double"),
                12,
            )
            .cast("decimal(38,12)")
            .alias("w"),
        )
    )
    return (
        nodes.join(triples, "v", "left")
        .groupBy("v")
        .agg(
            F.round(F.coalesce(F.sum("w"), F.lit(0)).cast("double"), 6).alias(
                "betweenness_r"
            )
        )
        .select(F.col("v").alias("nationkey"), "betweenness_r")
    )


# Harmonic (in-)centrality on the same nation trade graph: H(v) =
# Σ_{u≠v reachable} 1/d(u,v). Distances come from the betweenness query's
# unrolled hop layers; 1/d is kept EXACT as 12/d (lcm of hop counts 1..4).
_HARMONIC_HOPS = 4


def _harmonic_sql() -> str:
    powers = """
    p1 AS (SELECT src, dst FROM edges)"""
    for k in range(2, _HARMONIC_HOPS + 1):
        powers += f""",
    p{k} AS (
        SELECT DISTINCT a.src, b.dst
        FROM p{k - 1} a JOIN edges b ON a.dst = b.src
        WHERE a.src <> b.dst
    )"""
    layers = " UNION ALL ".join(
        f"SELECT src, dst, {k} AS d FROM p{k}"
        for k in range(1, _HARMONIC_HOPS + 1)
    )
    return f"""
    WITH edges AS MATERIALIZED (
        SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE c.c_nationkey <> s.s_nationkey
    ),{powers},
    layers AS ({layers}),
    sp AS (SELECT src, dst, min(d) AS d FROM layers GROUP BY 1, 2),
    nodes AS (SELECT DISTINCT src AS v FROM edges
              UNION SELECT DISTINCT dst FROM edges)
    SELECT n.v AS nationkey,
           coalesce(sum(12 // sp.d), 0)::BIGINT AS harmonic_x12,
           round(coalesce(sum(12 // sp.d), 0)::DOUBLE / 12, 6) AS harmonic_r
    FROM nodes n LEFT JOIN sp ON sp.dst = n.v
    GROUP BY 1
"""


@register("harmonic_centrality", oracle=_harmonic_sql())
def harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic in-centrality (Marchiori-Latora 2000 / Boldi-Vigna 2014)
    of the nation trade graph: H(v) = Σ_{u≠v} 1/d(u,v) over finite
    shortest-path distances into v — the closeness variant that handles
    disconnected pairs gracefully (they contribute 0, no infinite mean).
    Completes the centrality family: volume (``pagerank_nations``),
    brokerage (``betweenness_centrality``), mutual reinforcement
    (``hits_hub_authority``), and now proximity.

    Exactness: distances are small integers from the unrolled hop layers,
    so 1/d is carried as the exact integer 12/d (12 = lcm(1..4)); the
    reported ``harmonic_x12`` is exact and ``harmonic_r`` is one final
    division of identical integers in both engines.

    Scale shape: identical to ``betweenness_centrality`` — the fact
    collapses ONCE to the ≤25×25 distinct-edge dim, the hop unroll and
    the centrality sum run on dimension-bounded tables. At 100 TB the
    fact scan is the cost; the graph math is constant-size."""
    load_tables(spark, sf_dir, ("orders", "customer", "lineitem", "supplier"))
    edges = spark.sql(
        """
        SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE c.c_nationkey <> s.s_nationkey
        """
    )
    p = edges
    layers = [p.select("src", "dst", F.lit(1).alias("d"))]
    for k in range(2, _HARMONIC_HOPS + 1):
        p = (
            p.alias("a")
            .join(edges.alias("b"), F.col("a.dst") == F.col("b.src"))
            .filter(F.col("a.src") != F.col("b.dst"))
            .select(F.col("a.src").alias("src"), F.col("b.dst").alias("dst"))
            .distinct()
        )
        layers.append(p.select("src", "dst", F.lit(k).alias("d")))
    lay = layers[0]
    for x in layers[1:]:
        lay = lay.unionAll(x)
    sp = lay.groupBy("src", "dst").agg(F.min("d").alias("d"))
    nodes = (
        edges.select(F.col("src").alias("v"))
        .union(edges.select(F.col("dst").alias("v")))
        .distinct()
    )
    contrib = sp.select(
        F.col("dst").alias("v"), (F.lit(12) / F.col("d")).cast("long").alias("h12")
    )
    return (
        nodes.join(contrib, "v", "left")
        .groupBy("v")
        .agg(F.coalesce(F.sum("h12"), F.lit(0)).alias("harmonic_x12"))
        .select(
            F.col("v").alias("nationkey"),
            F.col("harmonic_x12").cast("long").alias("harmonic_x12"),
            F.round(F.col("harmonic_x12").cast("double") / 12, 6).alias("harmonic_r"),
        )
    )
