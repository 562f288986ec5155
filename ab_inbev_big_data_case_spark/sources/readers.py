"""File-source scans.

Generalizes the reference's bronze ingestion (``spark.read.json`` at
``/root/reference/glue/etl_api.py:24``) with schema pinning: the reference
relies on inference, which at 100 TB means a second full pass over the input
and silent schema drift. Engine policy: infer once (or declare), then always
read with the pinned schema so drift fails loudly.

All readers return lazy DataFrames — Catalyst pushes filters/column pruning
into the scan (``PushedFilters`` / ``ReadSchema`` in ``explain``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Canonical fixture tables (see /root/repo/FIXTURES.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_parquet(
    spark: SparkSession, path: str, merge_schema: bool = False
) -> DataFrame:
    """Columnar scan with predicate pushdown + column pruning (the default).

    ``merge_schema=True`` unions schemas across files (schema evolution on
    long-lived layouts: old files missing a later-added column read it as
    null). Off by default — the merge pass reads every footer, a real cost
    at 100 TB file counts; evolved tables should pin the merged schema once.
    """
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", True)
    return reader.parquet(path)


def read_json(
    spark: SparkSession, path: str, schema: T.StructType | str | None = None
) -> DataFrame:
    """JSON scan. Pin ``schema`` wherever possible — at scale an inference
    pass is a full extra read (reference relies on inference, glue/etl_api.py:24).
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    header: bool = True,
) -> DataFrame:
    reader = spark.read.option("header", header)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        # Inference on CSV is an extra pass; acceptable for small control
        # tables only. Production paths should pin the schema.
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str = "row",
    schema: T.StructType | str | None = None,
) -> DataFrame:
    """XML scan (Spark 4's built-in spark-xml). Pin ``schema`` wherever
    possible: inference is a full extra pass AND widens integers to
    bigint / drops type fidelity — the same discipline as read_json."""
    reader = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def write_xml(df: DataFrame, path: str, root_tag: str = "rows", row_tag: str = "row") -> None:
    """XML sink (one element per row under ``root_tag``)."""
    (
        df.write.format("xml")
        .option("rootTag", root_tag)
        .option("rowTag", row_tag)
        .mode("overwrite")
        .save(path)
    )


def const_df(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """Single-partition constant dimension table.

    ``spark.createDataFrame(rows)`` parallelizes local data over
    ``defaultParallelism`` slices, so every broadcast build over a ~20-row
    constant table runs a full-width job (32 near-empty tasks at local[32],
    ~0.2 s of pure scheduling, once per use — dbscan's ``off`` table alone
    cost 3 such stages). One slice carries the same rows in one task; at
    cluster scale a constant table on one partition is strictly cheaper to
    broadcast-build too (guide §2.6: scheduling overhead, not data, is the
    cost of these stages). Schema is a DDL string — explicit, so the RDD
    path never runs an inference job.
    """
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)


#: (path, size, mtime_ns) -> the schema Spark inferred for it, always under
#: ``nanosAsLong=true`` (``table`` sets it before every read)
_SCHEMAS: dict[tuple, T.StructType] = {}


def _read_pinned(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema once per file
    version and reads with it pinned afterwards (the module policy).
    Inference runs a Spark job on every read; a pinned read plans with no
    job at all. A rewritten file has a new size or mtime, so
    it is inferred again and a changed schema surfaces at analysis, never
    as silently null columns. Directories are inferred on every read."""
    if not os.path.isfile(path):
        return spark.read.parquet(path)
    st = os.stat(path)
    key = (path, st.st_size, st.st_mtime_ns)
    schema = _SCHEMAS.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMAS[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table from a scale-factor directory, with its
    schema pinned after the first read (see ``_read_pinned``).

    The ``events`` fixture stores ``ts`` as parquet TIMESTAMP(NANOS), which
    Spark's vectorized reader rejects; read it as long nanos
    (``spark.sql.legacy.parquet.nanosAsLong``) and convert to a microsecond
    TimestampType (lossless here — fixture values are µs-granular, matching
    what the DuckDB oracle sees). The setting is made on every read, not
    only for ``events``, so a table's pinned schema never depends on
    whether ``events`` was read before it.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if name == "events":
        df = _read_pinned(spark, path)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # integer `div`, not `/`: epoch-nanos exceed double's 53-bit
            # mantissa, so floating division would corrupt the low digits
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # fixture regenerated as plain TIMESTAMP (isAdjustedToUTC=false),
            # which Spark 4 infers as TIMESTAMP_NTZ — a type `unix_micros`,
            # `withWatermark`, and interval arithmetic all reject. Session
            # TZ is pinned UTC, so the cast to TimestampType is value-
            # identical (both are raw micros on disk); only legality changes
            # (same boundary rule as ``streaming.jobs._event_time_legal``).
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return _read_pinned(spark, path)


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Load fixture tables and register each as a temp view (for spark.sql)."""
    out = {}
    for name in names:
        df = table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def read_binary_files(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Opaque-media ingestion: Spark's ``binaryFile`` source reads each file
    as one row — (path, modificationTime, length, content binary) — the
    standard way to land images/audio/video into a multimodal table before
    feature extraction (llm.multimodal) runs over the ``content`` column.

    Scale notes: the source parallelizes per-file (one file = one task unit,
    split-combined up to ``spark.sql.files.maxPartitionBytes``), so millions
    of small media files shard evenly across executors; pair it with
    ``pathGlobFilter`` so listing/pruning happens at the source instead of a
    post-scan filter.
    """
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)
