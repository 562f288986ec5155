"""Core row-level operators: filter, project, enrich, dedup, casts, and the
global running sums of :func:`prefix_sums`.

Reference parity (SURVEY.md §2.1):

- null-rejection filter      → ``glue/etl_api.py:30``
  (``df.filter(col("important_field").isNotNull())``)
- dedup on key subset        → ``glue/etl_api.py:31``
  (``df.dropDuplicates(["unique_key_column"])``)
- CASE-WHEN derived column   → ``glue/etl_api.py:34-35``
  (``withColumn("status", when(col("value") > 100, "High").otherwise("Low"))``)

Scale notes: ``dropDuplicates`` plans as partial+final hash-aggregate around
one shuffle on the key — fine at any scale but *nondeterministic* about which
row survives. :func:`dedup_deterministic` is the testable variant (window +
``row_number``): same single shuffle, deterministic survivor, required for
oracle comparison.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def filter_not_null(df: DataFrame, *cols: str) -> DataFrame:
    """Drop rows where any of ``cols`` is null (reference R4)."""
    out = df
    for c in cols:
        out = out.filter(F.col(c).isNotNull())
    return out


def dedup(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Keep one (arbitrary) row per key — reference R5 semantics.

    Fastest form (no sort inside groups); use when any survivor is
    acceptable, e.g. when duplicates are known-identical.
    """
    return df.dropDuplicates(list(keys))


def dedup_deterministic(
    df: DataFrame, keys: Sequence[str], order_by: Sequence[Column | str]
) -> DataFrame:
    """Keep the first row per key under ``order_by`` — deterministic R5.

    One shuffle on ``keys`` (same as dropDuplicates); the per-partition sort
    is local. ``order_by`` must be a total order within each key group for
    full determinism.
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


#: key buckets of :func:`prefix_sums`, so the carry spine has ≤ 16 rows
_PREFIX_BUCKETS = 16


def prefix_sums(
    df: DataFrame,
    key: str,
    tiebreak: Sequence[str],
    sums: dict[str, Column],
    descending: bool = False,
) -> DataFrame:
    """Global running sums over the total order ``(key [desc], *tiebreak)``
    without a partitionless window over ``df``.

    Returns ``df`` plus two columns per ``name -> expr`` of ``sums``:
    ``name``, the running sum of ``expr`` over every row up to and
    including this one, and ``name_total``, the sum over all rows. A rank
    is ``{"rk": F.lit(1)}``; an exclusive sum is ``name - expr``. Both are
    exact for integer and decimal sums (a float sum would depend on the
    addition order). ``key`` is integral, and ``(key, *tiebreak)`` must be
    unique per row, or tied rows' sums depend on the window's row order.

    Two-level prefix sum (Blelloch's block scan plus carry): the key range
    is cut into 16 equal-width buckets, numbered in the sort direction so
    equal keys share a bucket. A window partitioned by bucket sums within
    each bucket, and one window over the ≤ 16-row bucket-total spine adds
    the carry of all earlier buckets. Only the spine window is
    partitionless. Key skew only unbalances the bucket sizes, never a sum.

    The buckets come from the exact ``[min, max]`` of the key, not from
    ``percentile_approx``: a GK sketch's partial merges depend on
    scheduling order, so the local pass and the carry spine, two
    evaluations of the same subtree, could bucket differently. The
    totals ride the same broadcast 1-row aggregate as the bounds, so they
    cost no window and no further pass over ``df``. Nothing runs here: no
    Spark job, no cut."""
    bucket = "__prefix_bucket"
    bounds = df.agg(
        F.min(key).alias("__prefix_lo"),
        F.max(key).alias("__prefix_hi"),
        *(F.sum(e).alias(f"{n}_total") for n, e in sums.items()),
    )
    offset = f"__prefix_hi - {key}" if descending else f"{key} - __prefix_lo"
    bucketed = df.crossJoin(F.broadcast(bounds)).withColumn(
        bucket,
        F.expr(f"({offset}) DIV ((__prefix_hi - __prefix_lo) DIV {_PREFIX_BUCKETS} + 1)"),
    )
    order = F.col(key).desc() if descending else F.col(key)
    w_local = (
        Window.partitionBy(bucket)
        .orderBy(order, *tiebreak)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = bucketed.select("*", *(F.sum(e).over(w_local).alias(n) for n, e in sums.items()))
    spine = bucketed.groupBy(bucket).agg(
        *(F.sum(e).alias(f"__bucket_{n}") for n, e in sums.items())
    )
    w_carry = Window.orderBy(bucket).rowsBetween(Window.unboundedPreceding, -1)
    carry = spine.select(
        bucket,
        *(
            F.coalesce(F.sum(f"__bucket_{n}").over(w_carry), F.lit(0)).alias(f"__carry_{n}")
            for n in sums
        ),
    )
    return local.join(F.broadcast(carry), bucket).select(
        *df.columns,
        *(
            c
            for n in sums
            for c in ((F.col(n) + F.col(f"__carry_{n}")).alias(n), f"{n}_total")
        ),
    )


def with_status(
    df: DataFrame,
    value_col: str = "value",
    threshold: float = 100.0,
    out_col: str = "status",
    high: str = "High",
    low: str = "Low",
) -> DataFrame:
    """CASE-WHEN enrichment (reference R6, ``glue/etl_api.py:34-35``)."""
    return df.withColumn(
        out_col,
        F.when(F.col(value_col) > F.lit(threshold), F.lit(high)).otherwise(F.lit(low)),
    )


def project(df: DataFrame, *cols: Column | str) -> DataFrame:
    """Column projection/pruning; Catalyst narrows the scan's ReadSchema."""
    return df.select(*cols)


def cast_columns(df: DataFrame, casts: dict[str, str]) -> DataFrame:
    """Cast columns by name → target type string (schema-cleanup after
    inferred reads, reference's implicit need at glue/etl_api.py:24)."""
    out = df
    for c, t in casts.items():
        out = out.withColumn(c, F.col(c).cast(t))
    return out


def incremental_window(
    df: DataFrame, ts_col: str, start, end
) -> DataFrame:
    """Half-open time-slice filter [start, end) — reference R8's incremental
    daily window (``airflow/dags/etl_api.py:74-76``). On a date-partitioned
    layout Catalyst turns this into partition pruning."""
    return df.filter((F.col(ts_col) >= F.lit(start)) & (F.col(ts_col) < F.lit(end)))


_NUMERIC_DTYPES = ("tinyint", "smallint", "int", "bigint", "float", "double")


def profile(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """Per-column table profile: row count, null count, distinct count, and
    min/max (numeric columns as doubles, others as strings) — one row per
    profiled column.

    Shape: ONE wide aggregate over a single scan (Catalyst plans the
    multiple ``count(DISTINCT ...)`` via Expand — still one pass over the
    data), then an in-row explode melts the 1-row wide result into the
    long per-column form. The melt runs on one row, so its cost is zero;
    the scan is the only job. At 100 TB the exact distinct counts are the
    expensive part (Expand multiplies the shuffle by #profiled columns);
    swap ``F.count_distinct`` for ``F.approx_count_distinct`` when a ~2%
    estimate is acceptable — the plan shape is otherwise identical. Exact
    counts are kept here so the result is oracle-comparable.
    """
    cols = list(cols) if cols is not None else df.columns
    dtypes = dict(df.dtypes)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.append(F.count(c).alias(f"__nn_{c}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"__nd_{c}"))
        if dtypes[c] in _NUMERIC_DTYPES:
            aggs.append(F.min(c).cast("double").alias(f"__min_{c}"))
            aggs.append(F.max(c).cast("double").alias(f"__max_{c}"))
        else:
            aggs.append(F.min(F.col(c).cast("string")).alias(f"__min_{c}"))
            aggs.append(F.max(F.col(c).cast("string")).alias(f"__max_{c}"))
    wide = df.agg(*aggs)

    null_str = F.lit(None).cast("string")
    null_num = F.lit(None).cast("double")
    rows = []
    for c in cols:
        numeric = dtypes[c] in _NUMERIC_DTYPES
        rows.append(
            F.struct(
                F.lit(c).alias("col_name"),
                F.col("__n").alias("n_rows"),
                (F.col("__n") - F.col(f"__nn_{c}")).alias("n_nulls"),
                F.col(f"__nd_{c}").alias("n_distinct"),
                (null_str if numeric else F.col(f"__min_{c}")).alias("min_str"),
                (null_str if numeric else F.col(f"__max_{c}")).alias("max_str"),
                (F.col(f"__min_{c}") if numeric else null_num).alias("min_num"),
                (F.col(f"__max_{c}") if numeric else null_num).alias("max_num"),
            )
        )
    return wide.select(F.explode(F.array(*rows)).alias("p")).select("p.*")


def build_scd2(
    df: DataFrame, key: str, ts_col: str, attr_col: str
) -> DataFrame:
    """Slowly-Changing-Dimension Type 2 from an attribute-observation feed:
    collapse consecutive identical observations into validity intervals
    ``[eff_from, eff_to)`` per key, with ``eff_to`` null + ``is_current``
    true on each key's open-ended latest interval.

    Input must hold ONE observation per (key, ts) — pre-aggregate a raw
    feed first (e.g. ``max_by`` on a tie-breaker). Two stacked windows over
    the same (key × ts) ordering: ``lag`` finds change rows, ``lead`` closes
    each interval with the next change's timestamp. Both windows share one
    shuffle on the key (same partitioning), and the state per key is one
    row — the standard warehouse dimension build, linear at any scale.
    """
    w = Window.partitionBy(key).orderBy(ts_col)
    changes = (
        df.withColumn("__prev", F.lag(attr_col).over(w))
        .filter(F.col("__prev").isNull() | (F.col("__prev") != F.col(attr_col)))
        .drop("__prev")
    )
    eff_to = F.lead(ts_col).over(w)
    return changes.select(
        F.col(key),
        F.col(attr_col),
        F.col(ts_col).alias("eff_from"),
        eff_to.alias("eff_to"),
        eff_to.isNull().alias("is_current"),
    )


def snapshot_diff(
    old: DataFrame, new: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Change-data-capture between two table snapshots: one row per key that
    INSERTED, DELETED, or UPDATED (any non-key column differs), tagged in
    ``change_type``; unchanged keys are dropped. The downstream of
    :func:`sources.writers.upsert_by_key` — diff yesterday's layer against
    today's to emit the delta instead of re-shipping the table.

    Shape: ONE full outer join on the key, then a codegen'd row-compare.
    The value compare hashes the non-key struct per side (xxhash64) so wide
    tables compare on one long instead of N column equalities — and a
    production run can pre-bucket both snapshots on the key
    (``write_bucketed_table``) to make the join exchange-free. NULL-safe:
    a null-vs-value change in any column changes the struct hash.
    """
    val_cols = [c for c in old.columns if c not in keys]
    if old.columns != new.columns:
        raise ValueError("snapshots must share a schema")
    o = old.select(
        *keys,
        F.xxhash64(F.struct(*val_cols)).alias("__oh"),
        F.lit(True).alias("__in_old"),
    )
    n = new.select(
        *keys,
        F.xxhash64(F.struct(*val_cols)).alias("__nh"),
        F.lit(True).alias("__in_new"),
    )
    joined = o.join(n, list(keys), "full_outer")
    change = (
        F.when(F.col("__in_old").isNull(), "insert")
        .when(F.col("__in_new").isNull(), "delete")
        .when(F.col("__oh") != F.col("__nh"), "update")
    )
    return (
        joined.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(*keys, "change_type")
    )
