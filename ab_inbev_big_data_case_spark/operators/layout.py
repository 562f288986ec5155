"""Multi-dimensional data-layout keys: Z-order (Morton) curve clustering.

Why a 100 TB engine needs this: parquet row-group skipping prunes on
min/max statistics, which only bite when the data is CLUSTERED on the
filter column. Sorting on one column gives perfect pruning on it and none
on any other; a Z-order key interleaves the bits of several columns so a
sort on the single key co-locates rows that are close in EVERY dimension —
a selective filter on any participating column then skips most row groups
(the layout trick behind Delta/Iceberg `ZORDER BY` compaction; here it is
a plain deterministic int64 expression usable with `sortWithinPartitions`
/ `repartitionByRange` before any parquet write).

The key is pure integer bit arithmetic (shift/and/or), whole-stage
codegen'd JVM-side in Spark and reproducible exactly in any engine with
64-bit integers — the DuckDB oracle states the same interleave as a
`list_sum(list_transform(range(...)))`.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F
from ab_inbev_big_data_case_spark.operators.lineage import cut


def zorder_key(x: Column, y: Column, bits: int = 16) -> Column:
    """Morton interleave of two non-negative ints bucketized to ``bits``
    bits each: result bit 2i is bit i of x, bit 2i+1 is bit i of y.

    Callers bucketize first (e.g. ``col % (1 << bits)`` or a range bucket);
    values outside [0, 2^bits) are masked rather than errored so a hot
    outlier can't corrupt the whole file's sort. 2*bits <= 62 keeps the
    key positive int64.
    """
    if 2 * bits > 62:
        raise ValueError("2*bits must fit a positive int64")
    xm = x.bitwiseAND(F.lit((1 << bits) - 1))
    ym = y.bitwiseAND(F.lit((1 << bits) - 1))
    terms = []
    for i in range(bits):
        terms.append(
            F.shiftleft(F.shiftright(xm, i).bitwiseAND(F.lit(1)), 2 * i)
        )
        terms.append(
            F.shiftleft(F.shiftright(ym, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return reduce(lambda a, b: a + b, terms).cast("long")


def scaled_bucket(c: Column, cmin: Column, cmax: Column, bits: int) -> Column:
    """Scale a value into [0, 2^bits) across its observed [cmin, cmax]
    domain with pure integer arithmetic: ((c - min) << bits) div (max -
    min + 1).

    Z-ordering REQUIRES this: interleaving raw values with unbalanced
    domains (say customer ids 0..150 against day offsets 0..2500) puts the
    wide dimension's high bits above all of the narrow one's, degenerating
    the curve into a single-column sort (observed on the fixtures — the
    narrow dim's per-file extent stayed at ~92% of full domain until both
    dims were bucketized to the same width).
    """
    # floor(a/b) on doubles is exact while a*2^bits < 2^53 — true for any
    # 32-bit-domain dimension at bits <= 20; wider domains should pre-shift.
    return F.floor(
        ((c - cmin) * F.lit(1 << bits)) / (cmax - cmin + F.lit(1))
    ).cast("long")


def zorder_oracle_expr(x_sql: str, y_sql: str, bits: int = 16) -> str:
    """DuckDB twin of :func:`zorder_key` as a SQL expression string."""
    mask = (1 << bits) - 1
    return (
        f"list_sum(list_transform(range(0, {bits}), i -> "
        f"(((({x_sql}) & {mask}) >> i & 1) << (2*i)) + "
        f"(((({y_sql}) & {mask}) >> i & 1) << (2*i + 1))))::BIGINT"
    )


def file_extent_stats(
    df,
    sort_key: str,
    dims: list[str],
    n_files: int = 32,
    n_parts: int | None = None,
):
    """Layout-quality report: range-split ``df`` into ``n_files`` rank-equal
    chunks by ``sort_key`` and report each chunk's min/max extent per
    dimension — the exact statistics a parquet writer would put in the
    footer, i.e. what a reader's row-group pruning sees.

    A good multi-dim layout shows every file covering a SMALL extent in
    every dim; a single-column sort shows tiny extents in the sort column
    and full-domain extents everywhere else.

    Scale shape: NO partitionless Window. The global rank a tile split
    needs decomposes into ``repartitionByRange`` on the full ordering tuple
    (equal tuples land in one partition, so ties never straddle a
    boundary), a PARTITIONED local row_number, and a per-partition-count
    prefix-sum over an ``n_parts``-row spine (the documented tiny-spine
    pattern). ``file_id`` then comes from the closed form of ``ntile(n)``
    — the first ``N mod n`` tiles take ``ceil(N/n)`` rows — so the result
    is bit-identical to the single-node ntile the DuckDB oracle runs,
    while every full-data stage stays distributed. Offsets (n_parts rows)
    and the 1-row total are the only broadcasts.
    """
    from pyspark.sql import Window

    order_cols = [F.col(sort_key)] + [F.col(d) for d in dims]
    parts = df.repartitionByRange(n_parts or n_files, *order_cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    local = parts.withColumn(
        "__lrn",
        F.row_number().over(Window.partitionBy("__pid").orderBy(*order_cols)),
    )
    # three consumers (the tile join, the per-partition counts, the total)
    # would otherwise each re-derive `local` from the source scan — 8 scans
    # of the fact table in the physical plan; at 100 TB this seam is a
    # layer write
    local = cut(local, "file_extent_stats.local")
    counts = local.groupBy("__pid").agg(F.count("*").alias("__n"))
    # prefix sum over the n_parts-row spine WITHOUT any window (not even a
    # tiny-spine partitionless one, so the bench stays WARN-free): a
    # triangular self-join on the bounded spine — n_parts² rows at most
    prior = counts.select(
        F.col("__pid").alias("__pid_b"), F.col("__n").alias("__n_b")
    )
    offsets = (
        counts.join(
            F.broadcast(prior), F.col("__pid_b") < F.col("__pid"), "left"
        )
        .groupBy("__pid")
        .agg(F.coalesce(F.sum("__n_b"), F.lit(0)).alias("__off"))
    )
    total = counts.agg(F.sum("__n").alias("__N"))

    i = F.col("__off") + F.col("__lrn")  # exact global rank, 1-based
    q = F.floor(F.col("__N") / n_files)  # base tile size
    r = F.col("__N") - q * n_files  # first r tiles take q+1 rows
    big = r * (q + 1)  # rows covered by the big tiles
    file_id = (
        F.when(i <= big, 1 + F.floor((i - 1) / (q + 1)))
        .otherwise(r + 1 + F.floor((i - big - 1) / q))
        .cast("int")
        .alias("file_id")
    )
    tiled = (
        local.join(F.broadcast(offsets), "__pid")
        .crossJoin(F.broadcast(total))
        .select(file_id, sort_key, *dims)
    )
    aggs = []
    for d in dims:
        aggs += [F.min(d).alias(f"min_{d}"), F.max(d).alias(f"max_{d}")]
    return tiled.groupBy("file_id").agg(
        F.count("*").alias("n_rows"), *aggs
    )


def with_hilbert_key(df, x: str, y: str, bits: int = 8, out: str = "hkey"):
    """Add the Hilbert-curve distance of 2-D point (``x``, ``y``)
    (bucketized to ``bits`` bits per dimension) as column ``out`` — the
    CONTINUOUS space-filling alternative to :func:`zorder_key`. The Morton
    curve takes 2^k-sized jumps at quadrant boundaries (a file straddling
    such a jump must cover the whole jump in its extent); the Hilbert
    curve moves one cell per step, so rank-equal file splits cover tighter
    per-dimension extents on the same data (Delta OPTIMIZE offers Hilbert
    over Z-order for exactly this; measured on the orders fixture in
    ``hilbert_layout_extents``).

    Unrolled xy→d (the classic rotate-and-accumulate walk, e.g. Hamilton,
    "Compact Hilbert indices", CS-2006-07 §2): ``bits`` rounds of pure
    integer CASE/XOR/subtract column algebra. The rotation makes x/y
    STATEFUL across rounds, so each round is its own projection with
    named intermediates — one inlined Column expression grows ~4^bits
    nodes and overflows janino's 64KB method limit (measured at bits=8);
    chained aliases keep the plan linear and codegen'd. No UDF,
    deterministic in any int64 engine. 2*bits <= 62.
    """
    if 2 * bits > 62:
        raise ValueError("2*bits must fit a positive int64")
    clash = {"__hx", "__hy", "__hd", out} & set(df.columns)
    if clash:
        # fail fast instead of silently overwriting caller data with the
        # walk's temp columns (zorder_key has no temps; this one does)
        raise ValueError(
            f"with_hilbert_key would overwrite existing column(s) "
            f"{sorted(clash)}; rename them or pick another `out`"
        )
    mask = (1 << bits) - 1
    df = df.withColumns(
        {
            "__hx": F.col(x).bitwiseAND(F.lit(mask)).cast("long"),
            "__hy": F.col(y).bitwiseAND(F.lit(mask)).cast("long"),
            "__hd": F.lit(0).cast("long"),
        }
    )
    s = 1 << (bits - 1)
    while s > 0:
        xc, yc, d = F.col("__hx"), F.col("__hy"), F.col("__hd")
        rx = F.when(xc.bitwiseAND(F.lit(s)) > 0, 1).otherwise(0)
        ry = F.when(yc.bitwiseAND(F.lit(s)) > 0, 1).otherwise(0)
        carry = [c for c in df.columns if c not in ("__hx", "__hy", "__hd")]
        df = df.select(
            *carry,
            # rotate the quadrant: ry==1 -> unchanged; ry==0 -> swap axes,
            # reflecting both when rx==1
            F.when(ry == 1, xc)
            .when(rx == 1, F.lit(s - 1) - yc)
            .otherwise(yc)
            .alias("__hx"),
            F.when(ry == 1, yc)
            .when(rx == 1, F.lit(s - 1) - xc)
            .otherwise(xc)
            .alias("__hy"),
            (d + (F.lit(s).cast("long") * s) * (rx * 3).bitwiseXOR(ry)).alias(
                "__hd"
            ),
        )
        s >>= 1
    return df.withColumn(out, F.col("__hd").cast("long")).drop(
        "__hx", "__hy", "__hd"
    )


def hilbert_oracle_ctes(
    x_sql: str, y_sql: str, src: str, carry: str, bits: int = 8
) -> str:
    """DuckDB twin of :func:`hilbert_key` as a chain of CTEs (the rotation
    makes x/y stateful across rounds, so unlike ``zorder_oracle_expr`` a
    single expression would blow up combinatorially). Produces CTEs
    ``h0..h{bits}``; select ``hd`` from ``h{bits}``. ``carry`` is a
    comma-separated list of COLUMN NAMES of ``src`` to thread through
    unchanged (e.g. the original bucket values the extent report needs)."""
    carry_sql = f"{carry}, " if carry else ""
    # same bucketization as with_hilbert_key: mask x/y into [0, 2^bits) so
    # the twin agrees for negative or >= 2^bits inputs too, not only for
    # pre-bucketed callers
    mask = (1 << bits) - 1
    parts = [
        f"h0 AS (SELECT {carry_sql}(({x_sql}) & {mask})::BIGINT AS hx, "
        f"(({y_sql}) & {mask})::BIGINT AS hy, 0::BIGINT AS hd FROM {src})"
    ]
    for k in range(bits):
        s = 1 << (bits - 1 - k)
        parts.append(
            f"""h{k + 1} AS (
        SELECT {carry_sql}
               CASE WHEN (hy & {s}) > 0 THEN hx
                    WHEN (hx & {s}) > 0 THEN {s - 1} - hy
                    ELSE hy END AS hx,
               CASE WHEN (hy & {s}) > 0 THEN hy
                    WHEN (hx & {s}) > 0 THEN {s - 1} - hx
                    ELSE hx END AS hy,
               hd + {s}::BIGINT * {s} *
                   xor(3 * CASE WHEN (hx & {s}) > 0 THEN 1 ELSE 0 END,
                       CASE WHEN (hy & {s}) > 0 THEN 1 ELSE 0 END) AS hd
        FROM h{k})"""
        )
    return ",\n    ".join(parts)
