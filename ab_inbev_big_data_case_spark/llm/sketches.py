"""Streaming-sketch operators: Count-Min Sketch, HyperLogLog, Bloom filter.

A Count-Min Sketch (Cormode & Muthukrishnan 2005) summarizes an arbitrarily
large multiset in ``depth x width`` int64 counters: every occurrence
increments one counter per row (bucket chosen by an independent hash), and a
point estimate is the MIN over that item's ``depth`` counters — an
overestimate by at most eps*N with probability 1-delta (eps = e/width,
delta = e^-depth).

Why this is the right 100 TB shape: the sketch build is a plain
``groupBy(row, bucket).count()`` whose partial aggregation state is bounded
by depth*width PER TASK regardless of input size — the map side combines
billions of token occurrences into (at most) a few thousand counters before
any shuffle, and the final sketch is small enough to ``broadcast()`` to
every estimator. Exact per-token counts at the same scale would shuffle the
full distinct-token space; the sketch never does.

Hashing uses the engine's portable sha256-based ``token_hash64`` (see
``functions/text.py``) salted with the row index, so the ``depth`` hash
functions are independent and the DuckDB oracle can reproduce every bucket
choice bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ab_inbev_big_data_case_spark.functions.text import (
    token_hash64,
    token_hash64_sql,
    tokens,
)


def _bucket(row: F.Column, item: F.Column, width: int) -> F.Column:
    """Row-salted portable bucket: sha256("<row>:<item>") mod width."""
    return token_hash64(F.concat(row.cast("string"), F.lit(":"), item)) % F.lit(width)


def cms_build(
    df: DataFrame, item_col: str, depth: int = 4, width: int = 512
) -> DataFrame:
    """Build the sketch counters from one row per item OCCURRENCE.

    Returns (row, bucket, cnt) with at most depth*width rows. The explode to
    ``depth`` rows per occurrence happens map-side and collapses immediately
    into the bounded partial-agg hashmap — no row ever carries the token
    string past the shuffle boundary.
    """
    rows = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("row")
    return (
        df.select(F.col(item_col).alias("__item"), rows)
        .select("row", _bucket(F.col("row"), F.col("__item"), width).alias("bucket"))
        .groupBy("row", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def cms_estimate(
    items: DataFrame, sketch: DataFrame, item_col: str, depth: int = 4, width: int = 512
) -> DataFrame:
    """Point-estimate each DISTINCT item in ``items`` against ``sketch``.

    Returns (item_col, cms_est). The sketch side is broadcast (bounded at
    depth*width rows by construction), so estimation is a narrow map over
    the item set: explode to ``depth`` probes, broadcast-join the counters,
    min-reduce per item.
    """
    probes = items.select(F.col(item_col)).distinct().select(
        F.col(item_col),
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("row"),
    )
    probes = probes.withColumn("bucket", _bucket(F.col("row"), F.col(item_col), width))
    return (
        probes.join(F.broadcast(sketch), ["row", "bucket"])
        .groupBy(item_col)
        .agg(F.min("cnt").alias("cms_est"))
    )


def cms_heavy_hitters(
    df: DataFrame,
    text_col: str,
    depth: int = 4,
    width: int = 512,
    k: int = 20,
) -> DataFrame:
    """Top-k frequent tokens by CMS estimate, with the exact count alongside.

    (tok, cms_est, exact_n) for the k tokens with the highest estimate
    (ties broken by token). ``cms_est >= exact_n`` always — the sketch only
    overestimates — and the pair quantifies the collision error at the
    chosen (depth, width). The exact counts here serve verification; a
    production heavy-hitter pass at 100 TB would keep only the sketch +
    a candidate set, never the full distinct-token aggregation.
    """
    from ab_inbev_big_data_case_spark.operators.partitioning import spread

    # spread: the sketch hashes every occurrence `depth` times — serialized
    # on one core if the scan is a single row group
    occurrences = spread(df).select(F.explode(tokens(F.col(text_col))).alias("tok"))
    sketch = cms_build(occurrences, "tok", depth, width)
    exact = occurrences.groupBy("tok").agg(F.count("*").alias("exact_n"))
    est = cms_estimate(occurrences, sketch, "tok", depth, width)
    return (
        est.join(exact, "tok")
        .orderBy(F.col("cms_est").desc(), F.col("tok"))
        .limit(k)
    )


# --------------------------------------------------------------- HyperLogLog

#: Fixed HLL geometry: p index bits -> m = 2^p registers; the remaining
#: 60 - p hash bits feed the leading-zero count. The integer "inverse-power
#: sum" is scaled by 2^48 so it stays exact in int64 (worst case
#: m * 2^48 = 2^56 at p = 8) — register values past 48 floor to 0, an error
#: below 2^-48 per register, i.e. none after the final rounding.
HLL_SUM_SCALE_BITS = 48


def hll_alpha(m: int) -> float:
    """Standard HLL bias constant for m >= 128 (Flajolet et al. 2007)."""
    return 0.7213 / (1.0 + 1.079 / m)


def hll_registers(df: DataFrame, item_col: str, p: int = 8) -> DataFrame:
    """HyperLogLog register table for the multiset in ``item_col``:
    (register, rho) with at most m = 2^p rows, rho = 1 + leading zeros of
    the item hash's tail bits (the classic Flajolet-Fusy-Gandouet-Meunier
    estimator state).

    Portability: the hash is the engine's sha256-derived 60-bit int; the
    register index is ``h mod m`` and rho is derived from the BIT LENGTH of
    ``h >> p`` (``length(bin(w))``) — both integer-exact in Spark and
    DuckDB, so the full register table is reproducible bit-for-bit.

    100 TB shape: like the CMS, the groupBy(register).max(rho) partial-agg
    state is bounded at m counters per task no matter the input size, and
    register tables MERGE by elementwise max — the sketch of a union is the
    max of the sketches (pytest-pinned), which is what lets a 1000-executor
    scan summarize per-partition and combine for free where an exact
    count-distinct would shuffle the whole key space.
    """
    return hll_registers_grouped(df, item_col, [], p)


def hll_registers_grouped(
    df: DataFrame, item_col: str, group_cols: list[str], p: int = 8
) -> DataFrame:
    """Per-group HLL register tables: (group_cols..., register, rho) — one
    bounded sketch per group key (per day, per source, per tenant...),
    merged downstream by elementwise max for rollups over group unions
    (e.g. trailing-window distinct counts) without rescanning the data."""
    m = 1 << p
    tail_bits = 60 - p
    h = token_hash64(F.col(item_col))
    w = F.shiftright(h, p)
    rho = F.when(w == 0, F.lit(tail_bits + 1)).otherwise(
        F.lit(tail_bits + 1) - F.length(F.bin(w))
    )
    return (
        df.select(*group_cols, (h % m).alias("register"), rho.alias("rho"))
        .groupBy(*group_cols, "register")
        .agg(F.max("rho").alias("rho"))
    )


def hll_estimate(registers: DataFrame, p: int = 8) -> DataFrame:
    """Collapse a register table into the one-row HLL estimate:
    (registers_hit, sum_q, hll_est).

    ``sum_q`` is the integer-scaled inverse-power sum
    Σ 2^(48 - rho) (unhit registers contribute 2^48), so the only floating
    point in the whole estimator is ONE constant/int64 division — identical
    IEEE result in every engine, no summation-order sensitivity. The raw
    estimate is reported without the small-range linear-counting correction
    (which needs ln(); callers with E < 2.5m cardinalities apply it on the
    two integer columns this already returns).
    """
    return hll_estimate_grouped(registers, [], p)


def hll_estimate_grouped(
    registers: DataFrame, group_cols: list[str], p: int = 8
) -> DataFrame:
    """Per-group estimates from (possibly merged) per-group registers."""
    m = 1 << p
    scale = HLL_SUM_SCALE_BITS
    # alpha * m^2 * 2^48, folded to one double literal shared with oracles.
    c = hll_alpha(m) * m * m * float(1 << scale)
    term = F.expr(
        f"CASE WHEN rho <= {scale} THEN shiftleft(1L, cast({scale} - rho AS INT)) "
        "ELSE 0L END"
    )
    aggs = [
        F.count("*").alias("registers_hit"),
        (
            F.sum(term)
            + (F.lit(m) - F.count("*")) * F.lit(1 << scale).cast("long")
        ).alias("sum_q"),
    ]
    grouped = registers.groupBy(*group_cols).agg(*aggs) if group_cols else registers.agg(*aggs)
    return grouped.select(
        *group_cols,
        "registers_hit",
        "sum_q",
        F.round(F.lit(c) / F.col("sum_q"), 4).alias("hll_est"),
    )


def hll_oracle_sql(item_expr: str, source_sql: str, p: int = 8) -> str:
    """DuckDB twin of hll_registers |> hll_estimate over ``source_sql``
    (a query producing one item per row as column ``item``)."""
    m = 1 << p
    tail = 60 - p
    scale = HLL_SUM_SCALE_BITS
    c = repr(hll_alpha(m) * m * m * float(1 << scale))
    return f"""
    WITH items AS ({source_sql}),
    hashed AS (
        SELECT {token_hash64_sql(item_expr)} AS h
        FROM items
    ),
    regs AS (
        SELECT h % {m} AS register,
               max(CASE WHEN (h >> {p}) = 0 THEN {tail + 1}
                        ELSE {tail + 1} - length(bin(h >> {p})) END) AS rho
        FROM hashed GROUP BY 1
    ),
    agg AS (
        SELECT count(*) AS registers_hit,
               (sum(CASE WHEN rho <= {scale} THEN (1::BIGINT << ({scale} - rho))
                         ELSE 0 END)
                + ({m} - count(*)) * (1::BIGINT << {scale}))::BIGINT AS sum_q
        FROM regs
    )
    SELECT registers_hit, sum_q, round({c} / sum_q, 4) AS hll_est FROM agg
    """


# --------------------------------------------------------------- Bloom filter

def bloom_build(
    df: DataFrame,
    item_col: str,
    k: int = 3,
    words: int = 4096,
    bits_per_word: int = 60,
) -> DataFrame:
    """Bloom filter over the distinct items of ``item_col``: (word_idx, word)
    with at most ``words`` rows, each packing ``bits_per_word`` bits of the
    m = words * bits_per_word bitmap (60 bits per int64 word keeps every
    shift result positive — no sign-bit portability edge).

    Build is explode-to-k-probes -> groupBy(word_idx).bit_or(mask): the
    partial-agg state is bounded at ``words`` int64s per task, and filters
    MERGE by elementwise OR — same distributed story as the HLL registers.
    Spark ships a native BloomFilterAggregate, but its hash is engine-
    internal; this one is reproducible in any engine with sha256.
    """
    m_bits = words * bits_per_word
    probes = df.select(F.col(item_col).alias("__item")).select(
        F.explode(
            F.array(
                *[
                    (
                        token_hash64(
                            F.concat(F.lit(f"bloom{i}:"), F.col("__item"))
                        )
                        % m_bits
                    )
                    for i in range(k)
                ]
            )
        ).alias("bit")
    )
    return (
        probes.select(
            (F.col("bit") / bits_per_word).cast("long").alias("word_idx"),
            # shiftleft with a column shift amount needs the SQL form — the
            # pyspark wrapper only takes a literal int
            F.expr(f"shiftleft(1L, cast(bit % {bits_per_word} AS INT))").alias(
                "mask"
            ),
        )
        .groupBy("word_idx")
        .agg(F.expr("bit_or(mask)").alias("word"))
    )


def bloom_probe(
    candidates: DataFrame,
    bloom: DataFrame,
    item_col: str,
    k: int = 3,
    words: int = 4096,
    bits_per_word: int = 60,
) -> DataFrame:
    """Probe each row of ``candidates`` against a built filter:
    adds ``bloom_hit`` (true iff ALL k probe bits are set — the no-false-
    negative membership test).

    The filter is broadcast (bounded at ``words`` rows by construction), so
    probing is a narrow map + broadcast-join: at 100 TB this is the
    join-pruning pattern — ship the small side's fingerprint to every fact
    partition and drop non-members before the real shuffle.
    """
    m_bits = words * bits_per_word
    probed = candidates
    for i in range(k):
        bit = token_hash64(F.concat(F.lit(f"bloom{i}:"), F.col(item_col))) % m_bits
        probed = probed.withColumn(f"__b{i}", bit)
        probed = probed.withColumn(
            f"__w{i}", (F.col(f"__b{i}") / bits_per_word).cast("long")
        )
        probed = probed.withColumn(
            f"__m{i}",
            F.expr(f"shiftleft(1L, cast(__b{i} % {bits_per_word} AS INT))"),
        )
    for i in range(k):
        b = bloom.select(
            F.col("word_idx").alias(f"__w{i}"), F.col("word").alias(f"__word{i}")
        )
        probed = probed.join(F.broadcast(b), f"__w{i}", "left")
    hit = F.lit(True)
    for i in range(k):
        hit = hit & (
            F.coalesce(F.col(f"__word{i}"), F.lit(0)).bitwiseAND(F.col(f"__m{i}"))
            == F.col(f"__m{i}")
        )
    drop = [c for i in range(k) for c in (f"__b{i}", f"__w{i}", f"__m{i}", f"__word{i}")]
    return probed.withColumn("bloom_hit", hit).drop(*drop)
