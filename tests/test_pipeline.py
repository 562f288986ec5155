"""Medallion pipeline + sinks + REST ingestion tests.

The bronze fixture is brewery-shaped (FIXTURES.md §2), mirroring the
reference's API payload (airflow/dags/etl_api.py:124) and Glue transform
(glue/etl_api.py:24-45) with its bugs fixed (SURVEY.md §2.3).
"""

import os

from pyspark.sql import functions as F

from ab_inbev_big_data_case_spark.pipeline import (
    gold_from_silver,
    run_medallion,
    silver_from_bronze,
)
from ab_inbev_big_data_case_spark.sources.rest import (
    ingest_paginated,
    ingest_pages_distributed,
)
from ab_inbev_big_data_case_spark.sources.writers import (
    write_parquet,
    write_partitioned,
)

BREWERY_SCHEMA = (
    "id string, name string, brewery_type string, city string, state string, "
    "country string, longitude double, latitude double, value double"
)

BREWERIES = [
    {"id": "b1", "name": "Alpha", "brewery_type": "micro", "city": "Austin",
     "state": "TX", "country": "US", "longitude": -97.7, "latitude": 30.3, "value": 150.0},
    {"id": "b1", "name": "Alpha dup", "brewery_type": "micro", "city": "Austin",
     "state": "TX", "country": "US", "longitude": -97.7, "latitude": 30.3, "value": 150.0},
    {"id": "b2", "name": None, "brewery_type": "nano", "city": "Austin",
     "state": "TX", "country": "US", "longitude": -97.7, "latitude": 30.3, "value": 50.0},
    {"id": "b3", "name": "Gamma", "brewery_type": "micro", "city": "Denver",
     "state": "CO", "country": "US", "longitude": -104.9, "latitude": 39.7, "value": 20.0},
]


def _bronze(spark):
    return spark.createDataFrame(BREWERIES, BREWERY_SCHEMA)


def test_silver_semantics(spark):
    """Null-filter (R4) → dedup (R5) → CASE-WHEN enrich (R6)."""
    silver = silver_from_bronze(
        _bronze(spark), "name", "id", ["name"], value_col="value"
    )
    rows = {r["id"]: r for r in silver.collect()}
    assert set(rows) == {"b1", "b3"}  # b2 null-name dropped, b1 dedup'd
    assert rows["b1"]["name"] == "Alpha"  # deterministic survivor (order by name)
    assert rows["b1"]["status"] == "High" and rows["b3"]["status"] == "Low"


def test_gold_group_count(spark):
    silver = silver_from_bronze(_bronze(spark), "name", "id", ["name"], value_col="value")
    gold = gold_from_silver(silver, ["brewery_type", "city"])
    got = {(r["brewery_type"], r["city"]): r["n_rows"] for r in gold.collect()}
    assert got == {("micro", "Austin"): 1, ("micro", "Denver"): 1}


def test_partitioned_write_fixes_b4(spark, tmp_path):
    """Reference bug B4 wrote .save().partitionBy(id) — engine partitions by
    the low-cardinality location column BEFORE save, Hive layout on disk."""
    out = str(tmp_path / "silver")
    silver, gold = run_medallion(
        _bronze(spark), "name", "id", ["name"], ["brewery_type", "city"],
        value_col="value", silver_path=out, silver_partition_cols=["state"],
    )
    dirs = sorted(d for d in os.listdir(out) if d.startswith("state="))
    assert dirs == ["state=CO", "state=TX"]
    back = spark.read.parquet(out)
    assert back.count() == silver.count() == 2
    # partition pruning: reading one partition sees only that state's rows
    assert spark.read.parquet(out).filter(F.col("state") == "CO").count() == 1


def test_overwrite_idempotent(spark, tmp_path):
    """Reference overwrite-mode semantics (glue/etl_api.py:25): re-runs are
    idempotent, not additive."""
    out = str(tmp_path / "gold")
    df = _bronze(spark)
    write_parquet(df, out)
    write_parquet(df, out)
    assert spark.read.parquet(out).count() == df.count()


def _make_fake_fetcher():
    """3 pages of 2 records, then empty (reference termination rule).

    Built as a closure (not a module-level function) so cloudpickle ships it
    by VALUE to executors — Python workers can't import pytest's test module.
    """

    def fake_pages(page: int) -> list[dict]:
        if page > 3:
            return []
        return [
            {"id": f"p{page}r{i}", "name": f"Brew {page}-{i}", "brewery_type": "micro",
             "city": "X", "state": "TX", "country": "US", "longitude": 0.0,
             "latitude": 0.0, "value": float(page * 10 + i)}
            for i in range(2)
        ]

    return fake_pages


def test_rest_ingest_driver_side(spark):
    df = ingest_paginated(spark, _make_fake_fetcher(), BREWERY_SCHEMA)
    assert df.count() == 6
    assert df.schema["value"].dataType.typeName() == "double"


def test_rest_ingest_distributed(spark):
    from pyspark.sql import types as T

    fetch = _make_fake_fetcher()
    schema = T.StructType.fromDDL(BREWERY_SCHEMA)
    df = ingest_pages_distributed(spark, fetch, schema, n_pages=5)
    assert df.count() == 6  # pages 4-5 empty
    # same content as the driver-side path
    a = sorted(r["id"] for r in df.collect())
    b = sorted(r["id"] for r in ingest_paginated(spark, fetch, BREWERY_SCHEMA).collect())
    assert a == b
