"""Scalar-expression operators: strings, dates, math, null handling, JSON,
arrays/lambdas, casts, predicates (SURVEY.md §2.2 "Projection / filter /
scalar expressions").

All expressions stay JVM-side (built-in ``pyspark.sql.functions``) so they run
inside whole-stage codegen; no Python UDFs on these paths.

Cross-engine notes baked into the oracle SQL:
- DuckDB ``regexp_replace`` replaces the first match unless the ``'g'`` flag
  is given; Spark replaces all → oracle always passes ``'g'``.
- double→int casts: Spark truncates, DuckDB rounds → always ``floor`` first.
- per-row libm doubles (sqrt/ln) are identical to the last ulp in practice;
  still rounded in both engines to keep the hash stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ab_inbev_big_data_case_spark.functions.text import token_hash64, token_hash64_sql
from ab_inbev_big_data_case_spark.registry import register
from ab_inbev_big_data_case_spark.sources.readers import table


@register(
    "string_funcs",
    oracle="""
    SELECT p_partkey,
           lower(p_name)  AS name_lower,
           upper(p_brand) AS brand_upper,
           substring(p_type, 1, 5) AS type_prefix,
           concat_ws('-', p_brand, p_type) AS brand_type,
           length(p_name) AS name_len,
           trim(concat(' ', p_name, ' ')) AS name_trimmed,
           regexp_replace(p_name, 'a', 'X', 'g') AS name_sub,
           replace(p_name, ' ', '_') AS name_snake,
           left(p_name, 3) AS name_l3,
           lpad(p_brand, 12, '.') AS brand_pad,
           CASE WHEN p_name LIKE '%a%' THEN 1 ELSE 0 END AS has_a
    FROM part
    """,
)
def string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function surface (EXT; text-analysis mandate)."""
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lower("p_name").alias("name_lower"),
        F.upper("p_brand").alias("brand_upper"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.concat_ws("-", "p_brand", "p_type").alias("brand_type"),
        F.length("p_name").alias("name_len"),
        F.trim(F.concat(F.lit(" "), F.col("p_name"), F.lit(" "))).alias("name_trimmed"),
        F.regexp_replace("p_name", "a", "X").alias("name_sub"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
        F.left(F.col("p_name"), F.lit(3)).alias("name_l3"),
        F.lpad("p_brand", 12, ".").alias("brand_pad"),
        F.when(F.col("p_name").like("%a%"), F.lit(1)).otherwise(F.lit(0)).alias("has_a"),
    )


@register(
    "date_funcs",
    oracle="""
    SELECT o_orderkey,
           year(o_orderdate)  AS o_year,
           month(o_orderdate) AS o_month,
           dayofmonth(o_orderdate) AS o_day,
           quarter(o_orderdate) AS o_quarter,
           date_trunc('month', o_orderdate)::TIMESTAMP AS month_start,
           o_orderdate::DATE AS o_date,
           o_orderdate::DATE + 30 AS due_date,
           datediff('day', o_orderdate::DATE, DATE '1998-12-31') AS days_to_eoy,
           epoch(o_orderdate)::BIGINT AS o_epoch
    FROM orders
    """,
)
def date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time surface (generalizes reference R8's y/m/d split,
    airflow/dags/etl_api.py:76)."""
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("o_year"),
        F.month("o_orderdate").alias("o_month"),
        F.dayofmonth("o_orderdate").alias("o_day"),
        F.quarter("o_orderdate").alias("o_quarter"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.to_date("o_orderdate").alias("o_date"),
        F.date_add(F.to_date("o_orderdate"), 30).alias("due_date"),
        F.datediff(F.lit("1998-12-31").cast("date"), F.to_date("o_orderdate")).alias(
            "days_to_eoy"
        ),
        F.unix_timestamp("o_orderdate").alias("o_epoch"),
    )


@register(
    "math_funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice, 1) AS price_r1,
           round(abs(l_discount - 0.05), 4) AS disc_dev,
           ceil(l_quantity)::BIGINT  AS qty_ceil,
           floor(l_quantity)::BIGINT AS qty_floor,
           round(sqrt(l_extendedprice), 4) AS price_sqrt,
           round(l_discount * l_discount, 6) AS disc_sq,
           round(ln(l_extendedprice + 1), 6) AS price_ln,
           round(l_extendedprice % 97, 4) AS price_mod,
           greatest(l_tax, l_discount) AS max_rate,
           least(l_tax, l_discount) AS min_rate,
           sign(l_discount - 0.05)::DOUBLE AS disc_sign
    FROM lineitem
    """,
)
def math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 1).alias("price_r1"),
        F.round(F.abs(F.col("l_discount") - 0.05), 4).alias("disc_dev"),
        F.ceil("l_quantity").alias("qty_ceil"),
        F.floor("l_quantity").alias("qty_floor"),
        F.round(F.sqrt("l_extendedprice"), 4).alias("price_sqrt"),
        F.round(F.col("l_discount") * F.col("l_discount"), 6).alias("disc_sq"),
        F.round(F.log(F.col("l_extendedprice") + 1), 6).alias("price_ln"),
        F.round(F.col("l_extendedprice") % 97, 4).alias("price_mod"),
        F.greatest("l_tax", "l_discount").alias("max_rate"),
        F.least("l_tax", "l_discount").alias("min_rate"),
        F.signum(F.col("l_discount") - 0.05).alias("disc_sign"),
    )


@register(
    "null_handling",
    oracle="""
    SELECT c_custkey,
           coalesce(nullif(c_mktsegment, 'BUILDING'), 'UNKNOWN') AS segment_clean,
           CASE WHEN nullif(c_mktsegment, 'BUILDING') IS NULL THEN 1 ELSE 0 END AS was_building,
           coalesce(CASE WHEN c_acctbal < 0 THEN NULL ELSE round(c_acctbal, 2) END, 0.0) AS bal_nonneg,
           ifnull(NULL, c_name) AS name_filled
    FROM customer
    """,
)
def null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """coalesce / nullif / fillna surface (reference R4 generalized)."""
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("UNKNOWN")).alias(
            "segment_clean"
        ),
        F.when(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).isNull(), F.lit(1))
        .otherwise(F.lit(0))
        .alias("was_building"),
        F.coalesce(
            F.when(F.col("c_acctbal") < 0, F.lit(None)).otherwise(F.round("c_acctbal", 2)),
            F.lit(0.0),
        ).alias("bal_nonneg"),
        F.coalesce(F.lit(None), F.col("c_name")).alias("name_filled"),
    )


@register(
    "json_funcs",
    oracle="""
    SELECT event_id,
           props->>'$.k' AS k_str,
           (props->>'$.k')::BIGINT AS k_int,
           CASE WHEN json_valid(props) THEN 1 ELSE 0 END AS is_valid
    FROM events
    """,
)
def json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction — the reference's bronze layer is raw JSON
    (glue/etl_api.py:24); events.props is a JSON string."""
    e = table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        F.get_json_object("props", "$.k").cast("long").alias("k_int"),
        F.when(F.try_parse_json(F.col("props")).isNotNull(), F.lit(1))
        .otherwise(F.lit(0))
        .alias("is_valid"),
    )


@register(
    "array_funcs",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_distinct,
           CASE WHEN list_contains(string_split(text, ' '), 'data') THEN 1 ELSE 0 END AS has_data,
           array_to_string(string_split(text, ' ')[1:3], '|') AS first3,
           array_to_string(list_transform(string_split(text, ' ')[1:3], x -> upper(x)), '|') AS first3_upper,
           len(list_filter(string_split(text, ' '), x -> length(x) > 4)) AS n_long_tokens
    FROM documents
    """,
)
def array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array/lambda surface over tokenized text (EXT; embeddings + text
    mandates). Lambdas run JVM-side via Catalyst HigherOrderFunctions."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.when(F.array_contains(toks, "data"), F.lit(1)).otherwise(F.lit(0)).alias("has_data"),
        F.array_join(F.slice(toks, 1, 3), "|").alias("first3"),
        F.array_join(F.transform(F.slice(toks, 1, 3), lambda x: F.upper(x)), "|").alias(
            "first3_upper"
        ),
        F.size(F.filter(toks, lambda x: F.length(x) > 4)).alias("n_long_tokens"),
    )


@register(
    "casts",
    oracle="""
    SELECT l_orderkey,
           l_linenumber::BIGINT AS linenum_l,
           l_quantity::VARCHAR AS qty_str,
           floor(l_extendedprice)::BIGINT AS price_trunc,
           l_linenumber::DOUBLE AS linenum_d,
           (l_quantity > 25) AS is_bulk
    FROM lineitem
    """,
)
def casts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cast/coercion surface (schema cleanup after inferred reads)."""
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        F.col("l_linenumber").cast("long").alias("linenum_l"),
        F.col("l_quantity").cast("string").alias("qty_str"),
        F.floor("l_extendedprice").cast("long").alias("price_trunc"),
        F.col("l_linenumber").cast("double").alias("linenum_d"),
        (F.col("l_quantity") > 25).alias("is_bulk"),
    )


@register(
    "predicates",
    oracle="""
    SELECT p_partkey, p_brand, p_size, p_type
    FROM part
    WHERE p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
      AND p_size BETWEEN 10 AND 40
      AND p_type NOT LIKE '%BRASS%'
      AND p_retailprice IS NOT NULL
    """,
)
def predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound predicate surface: IN / BETWEEN / LIKE / IS NOT NULL (R4/R6).
    All of these push into the parquet scan (PushedFilters)."""
    p = table(spark, sf_dir, "part")
    return p.filter(
        F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
        & F.col("p_size").between(10, 40)
        & ~F.col("p_type").like("%BRASS%")
        & F.col("p_retailprice").isNotNull()
    ).select("p_partkey", "p_brand", "p_size", "p_type")


@register(
    "map_funcs",
    oracle="""
    SELECT event_id,
           event_type AS type_val,
           2 AS n_keys,
           'props,type' AS keys_sorted,
           concat(event_type, '|', props) AS values_joined
    FROM events
    """,
)
def map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-type surface: create_map / element_at / map_keys / map_values /
    size. The oracle validates the extracted values (DuckDB's MAP accessors
    differ syntactically; the semantics under test are Spark's)."""
    e = table(spark, sf_dir, "events")
    m = F.create_map(
        F.lit("type"), F.col("event_type"), F.lit("props"), F.col("props")
    )
    return e.select(
        "event_id",
        F.element_at(m, "type").alias("type_val"),
        F.size(m).alias("n_keys"),
        F.array_join(F.sort_array(F.map_keys(m)), ",").alias("keys_sorted"),
        F.array_join(F.map_values(m), "|").alias("values_joined"),
    )


@register(
    "json_struct_roundtrip",
    oracle="""
    SELECT event_id,
           (props->>'$.k')::INT AS k_parsed,
           to_json(struct_pack(event_id := event_id, event_type := event_type))
               AS row_json
    FROM events
    """,
)
def json_struct_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json (schema-pinned parse -> struct field) + to_json
    (struct -> JSON string) — the bronze-layer JSON round trip
    (glue/etl_api.py:24 semantics at column level)."""
    e = table(spark, sf_dir, "events")
    parsed = F.from_json(F.col("props"), "k INT")
    return e.select(
        "event_id",
        parsed.getField("k").alias("k_parsed"),
        F.to_json(F.struct("event_id", "event_type")).alias("row_json"),
    )


@register(
    "regex_funcs",
    oracle=r"""
    SELECT p_partkey,
           regexp_extract(p_name, '^(\w+)', 1) AS first_word,
           regexp_extract(p_name, '(zzz+)', 1) AS no_match,
           CASE WHEN regexp_matches(p_type, '[A-Z]{4,}') THEN 1 ELSE 0 END AS has_long_upper,
           regexp_replace(p_brand, '[0-9]', '#', 'g') AS brand_masked
    FROM part
    """,
)
def regex_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex surface: extract (incl. the no-match→'' convention both engines
    share), match test (rlike), masking replace."""
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_name", r"^(\w+)", 1).alias("first_word"),
        F.regexp_extract("p_name", r"(zzz+)", 1).alias("no_match"),
        F.when(F.col("p_type").rlike("[A-Z]{4,}"), F.lit(1)).otherwise(F.lit(0)).alias(
            "has_long_upper"
        ),
        F.regexp_replace("p_brand", "[0-9]", "#").alias("brand_masked"),
    )


@register(
    "date_arithmetic",
    oracle="""
    SELECT o_orderkey,
           last_day(o_orderdate)::DATE AS month_end,
           (o_orderdate + INTERVAL 3 MONTH)::DATE AS plus_3mo,
           (o_orderdate - INTERVAL 7 DAY)::DATE AS minus_week,
           dayofweek(o_orderdate) + 1 AS dow_sun1,
           weekofyear(o_orderdate) AS week_no
    FROM orders
    """,
)
def date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar arithmetic: last_day, add_months (month-end clamped in both
    engines), date_sub, day-of-week (Spark Sunday=1 vs DuckDB Sunday=0 —
    oracle shifts), ISO week."""
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.last_day(F.to_date("o_orderdate")).alias("month_end"),
        F.add_months(F.to_date("o_orderdate"), 3).alias("plus_3mo"),
        F.date_sub(F.to_date("o_orderdate"), 7).alias("minus_week"),
        F.dayofweek("o_orderdate").alias("dow_sun1"),
        F.weekofyear("o_orderdate").alias("week_no"),
    )


@register(
    "try_ops",
    oracle="""
    SELECT event_id,
           TRY_CAST(props AS INTEGER) AS props_as_int,
           TRY_CAST(event_type AS DOUBLE) AS type_as_num,
           floor(value / nullif(floor(value), 0) * 1000000 + 0.5) / 1000000 AS safe_ratio,
           TRY_CAST(props->>'$.k' AS BIGINT) AS k_safe
    FROM events
    """,
)
def try_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe expressions: try_cast / try_divide return NULL instead of
    failing — the ANSI-mode-compatible way to survive dirty data at scale
    (one bad row must not kill a 100 TB job)."""
    e = table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.col("props").try_cast("int").alias("props_as_int"),
        F.col("event_type").try_cast("double").alias("type_as_num"),
        (F.floor(F.try_divide(F.col("value"), F.floor("value")) * 1000000 + 0.5) / 1000000)
        .alias("safe_ratio"),
        F.get_json_object("props", "$.k").try_cast("bigint").alias("k_safe"),
    )


@register(
    "unpivot_melt",
    oracle="""
    SELECT l_orderkey, l_linenumber, metric, round(val, 4) AS val_r
    FROM (SELECT l_orderkey, l_linenumber, l_quantity, l_tax, l_discount FROM lineitem)
    UNPIVOT (val FOR metric IN (l_quantity, l_tax, l_discount))
    """,
)
def unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt: wide metrics → long (metric, value) rows — the inverse
    of pivot_agg; a narrow per-row expansion, no shuffle."""
    li = table(spark, sf_dir, "lineitem")
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_tax", "l_discount"],
        "metric",
        "val",
    ).select(
        "l_orderkey", "l_linenumber", "metric", F.round("val", 4).alias("val_r")
    )


@register(
    "deterministic_sample",
    oracle=f"""
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total_r
    FROM orders
    WHERE {token_hash64_sql("o_orderkey::VARCHAR")} % 100 < 10
    """,
)
def deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible ~10% sample via hash-mod on the key — unlike
    ``df.sample`` (RNG- and partition-layout-dependent), a hash predicate
    yields the SAME sample on any engine, any cluster, any day; it also
    pushes to the scan and composes with joins (sampling both sides by the
    same key keeps referential integrity)."""
    o = table(spark, sf_dir, "orders")
    return o.filter(
        token_hash64(F.col("o_orderkey").cast("string")) % 100 < 10
    ).select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("total_r"))


@register(
    "bitwise_ops",
    oracle="""
    SELECT l_orderkey,
           bit_and(l_linenumber)::BIGINT AS and_lines,
           bit_or(l_linenumber)::BIGINT AS or_lines,
           bit_xor(l_linenumber)::BIGINT AS xor_lines,
           (bit_or(1::BIGINT << (l_linenumber % 60)))::BIGINT AS line_mask
    FROM lineitem
    GROUP BY l_orderkey
    """,
)
def bitwise_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise scalar + aggregate surface (bit_and/or/xor, shifts, masks) —
    the primitive under the engine's Bloom filter and Z-order operators,
    exercised directly: per-order presence bitmaps of line numbers. Pure
    integer ops, codegen'd, partial-agg combinable like any sum."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.expr("bit_and(l_linenumber)").alias("and_lines"),
        F.expr("bit_or(l_linenumber)").alias("or_lines"),
        F.expr("bit_xor(l_linenumber)").alias("xor_lines"),
        F.expr("bit_or(shiftleft(1L, cast(l_linenumber % 60 AS INT)))").alias(
            "line_mask"
        ),
    )


@register(
    "variant_funcs",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           sum((props->>'$.k')::BIGINT)::BIGINT AS sum_k,
           sum(CASE WHEN json_extract(props, '$.missing') IS NULL
                    THEN 1 ELSE 0 END)::BIGINT AS n_no_field
    FROM events GROUP BY 1
    """,
)
def variant_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT surface: semi-structured props parse to the binary
    VARIANT type once (``parse_json``), then typed path extraction
    (``try_variant_get``) feeds ordinary aggregates — the open-format
    answer to repeated ``get_json_object`` string re-parsing (VARIANT
    parses once and stores a binary tree; each extraction is a tree walk,
    not a text scan). Missing paths yield NULL, counted per group. The
    oracle states the same extraction over DuckDB's JSON operators — the
    engines' storage differs, the SEMANTICS must not."""
    e = table(spark, sf_dir, "events")
    v = e.select("event_type", F.parse_json("props").alias("v")).select(
        "event_type",
        F.try_variant_get("v", "$.k", "long").alias("k_int"),
        F.try_variant_get("v", "$.missing", "long").alias("missing_int"),
    )
    return v.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("k_int").alias("sum_k"),
        F.sum(F.when(F.col("missing_int").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_no_field"),
    )
