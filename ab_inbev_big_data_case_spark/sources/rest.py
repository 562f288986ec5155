"""Paginated REST ingestion (reference R9,
``/root/reference/airflow/dags/etl_api.py:112-132``).

The reference loops ``page=1..n`` with ``per_page=50`` GETs on the Airflow
worker, dumps to ``/tmp``, and uploads the file to S3 for Spark to re-read.
The engine removes the staging hop: pages become a DataFrame directly.

Two paths:

- :func:`ingest_paginated` — driver-side loop, right for small control-plane
  APIs (the reference's ~8.4k-row workload): sequential fetch until an empty
  page, one ``createDataFrame``.
- :func:`ingest_pages_distributed` — the 100 TB-shaped path: a page-range
  DataFrame partitioned across executors, each partition fetching its own
  page span via ``mapInPandas`` — parallel I/O, no driver bottleneck, no
  single-machine memory ceiling. Requires the page count (or an upper bound)
  up front.

The fetcher is injectable (``fetch_page(page) -> list[dict]``) so tests run
on fixtures and deployments plug in ``requests`` — network access is a
deployment concern, not an engine dependency.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

FetchPage = Callable[[int], list[dict]]


def http_fetcher(base_url: str, per_page: int = 50) -> FetchPage:
    """Real-HTTP fetcher mirroring the reference's request shape
    (``?page=N&per_page=50``). Import-gated: only built when used."""
    import requests  # deferred: engine itself has no network dependency

    def fetch(page: int) -> list[dict]:
        resp = requests.get(base_url, params={"page": page, "per_page": per_page}, timeout=30)
        resp.raise_for_status()
        return resp.json()

    return fetch


def ingest_paginated(
    spark: SparkSession,
    fetch_page: FetchPage,
    schema: T.StructType | str,
    start_page: int = 1,
    max_pages: int = 10_000,
) -> DataFrame:
    """Driver-side pagination: fetch until an empty page (the reference's
    termination rule, airflow/dags/etl_api.py:127-128), then one
    schema-pinned createDataFrame (Arrow path)."""
    rows: list[dict] = []
    page = start_page
    while page < start_page + max_pages:
        batch = fetch_page(page)
        if not batch:
            break
        rows.extend(batch)
        page += 1
    return spark.createDataFrame(rows, schema=schema)


def ingest_pages_distributed(
    spark: SparkSession,
    fetch_page: FetchPage,
    schema: T.StructType,
    n_pages: int,
) -> DataFrame:
    """Distributed pagination: each executor partition fetches a span of
    pages, one partition per task slot (never more than pages). The fetcher
    is shipped via closure serialization; one Arrow batch per page keeps
    memory bounded regardless of total volume."""
    field_names = [f.name for f in schema.fields]

    def fetch_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for page in pdf["page"].tolist():
                recs = fetch_page(int(page))
                if recs:
                    yield pd.DataFrame.from_records(recs, columns=field_names)

    parallelism = min(n_pages, spark.sparkContext.defaultParallelism)
    pages = spark.range(1, n_pages + 1, numPartitions=parallelism).withColumnRenamed(
        "id", "page"
    )
    return pages.mapInPandas(fetch_partition, schema=schema)
