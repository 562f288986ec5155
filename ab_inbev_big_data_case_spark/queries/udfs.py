"""User-defined-function surfaces (SURVEY.md §2.2: scalar/pandas UDF, UDAF,
grouped-map, UDTF).

Policy: UDFs are the slow path — everything that CAN be a built-in function
is (see queries.scalar etc.); these queries exist to prove the full UDF
surface works, using Arrow-vectorized pandas UDFs (never row-at-a-time
Python) for scalar/agg/map shapes. The computations are deterministic IEEE
double arithmetic, so even the Python paths are value-checked against the
SQL oracle.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ab_inbev_big_data_case_spark.registry import register
from ab_inbev_big_data_case_spark.sources.readers import table


@register(
    "pandas_scalar_udf",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100 + 0.5) / 100
               AS charged
    FROM lineitem
    """,
)
def pandas_scalar_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized scalar pandas UDF (per-element double arithmetic is
    IEEE-identical to the JVM/DuckDB expression, so it oracles exactly).

    Quantization uses floor(x*100+0.5)/100 — pure double ops that are
    bit-identical everywhere, unlike round(), whose half-way tie handling
    differs across engines (JVM HALF_UP vs C round vs numpy half-even) and
    genuinely diverges on boundary values in a 60k-row table."""

    @F.pandas_udf("double")
    def charge(price: pd.Series, disc: pd.Series, tax: pd.Series) -> pd.Series:
        return price * (1 - disc) * (1 + tax)

    li = table(spark, sf_dir, "lineitem")
    c = charge("l_extendedprice", "l_discount", "l_tax")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.floor(c * 100 + 0.5) / 100).alias("charged"),
    )


@register(
    "pandas_grouped_agg_udaf",
    oracle="""
    SELECT l_returnflag,
           round(sum(l_discount * l_quantity) / sum(l_quantity), 6) AS wavg_discount
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def pandas_grouped_agg_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDAF via grouped-agg pandas UDF: quantity-weighted average discount.

    (Small-magnitude values keep pandas' pairwise summation and DuckDB's
    sequential summation identical after round-6.)
    """

    @F.pandas_udf("double")
    def wavg(disc: pd.Series, qty: pd.Series) -> float:
        return float((disc * qty).sum() / qty.sum())

    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(wavg("l_discount", "l_quantity"), 6).alias("wavg_discount")
    )


@register(
    "grouped_map_udf",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           floor(l_quantity / sum(l_quantity) OVER (PARTITION BY l_orderkey)
                 * 1000000 + 0.5) / 1000000 AS qty_share
    FROM lineitem
    WHERE l_orderkey % 20 = 0
    """,
)
def grouped_map_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map via applyInPandas: per-order normalization (each group
    arrives as one pandas DataFrame, returns one). The oracle is the
    equivalent window formulation.

    Deliberately run on a 1/20 slice: per-group pandas on a high-cardinality
    key (~15k 4-row groups) costs ~25s where the window formulation takes
    milliseconds — grouped-map is for LOW-cardinality/heavy-per-group logic;
    this query exists to prove the surface, and its cost is the reason the
    engine's own operators never use it for simple arithmetic.

    The UDF returns the RAW ratio; quantization happens once, JVM-side, with
    the floor trick — pandas' .round() is half-even while SQL round() is
    half-away, and quantity ratios (power-of-two denominators) hit exact
    halfway points often."""

    def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
        total = pdf["l_quantity"].sum()
        return pd.DataFrame(
            {
                "l_orderkey": pdf["l_orderkey"],
                "l_linenumber": pdf["l_linenumber"],
                "qty_share": pdf["l_quantity"] / total,
            }
        )

    li = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 20 == 0)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        # pre-partition by the group key at scheduler width: the grouped-map
        # exchange reuses it, where AQE otherwise coalesces the ~400 KB
        # shuffle to ONE partition and every pandas group runs serially in
        # a single Python worker (measured: an 11.6 s one-task stage at
        # sf0.1 — guide §2.6/§4; the docstring's cost lesson stands, ~50×
        # the window formulation, but now on every core instead of one)
        .repartition(spark.sparkContext.defaultParallelism, "l_orderkey")
    )
    raw = li.groupBy("l_orderkey").applyInPandas(
        normalize, schema="l_orderkey long, l_linenumber int, qty_share double"
    )
    return raw.withColumn(
        "qty_share", F.floor(F.col("qty_share") * 1_000_000 + 0.5) / 1_000_000
    )


@register(
    "python_udtf",
    oracle="""
    SELECT doc_id, pos, tok
    FROM (
        SELECT doc_id, unnest(range(1, len(string_split(text, ' ')) + 1)) - 1 AS pos,
               unnest(string_split(text, ' ')) AS tok
        FROM documents
    )
    WHERE pos < 3
    """,
)
def python_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDTF surface: one input row → many output rows (first-3 tokens with
    positions). Registered via Spark's Python UDTF API and invoked with a
    LATERAL join — the table-function shape; explode covers the common case
    without Python (see word_freq)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, tok string")
    class FirstTokens:
        def eval(self, text: str):
            for i, t in enumerate(text.split(" ")[:3]):
                yield i, t

    spark.udtf.register("first_tokens", FirstTokens)
    table(spark, sf_dir, "documents").createOrReplaceTempView("documents_udtf_src")
    return spark.sql(
        """
        SELECT s.doc_id, t.pos, t.tok
        FROM documents_udtf_src s, LATERAL first_tokens(s.text) t
        """
    )
