"""Building a query must not run Spark jobs.

Construction (the Python call that returns the DataFrame) is planning
only; jobs belong to the action. Two things used to fire jobs at build
time: lineage cuts (``localCheckpoint`` runs its upstream shuffle stages
as soon as it is called under AQE) and Parquet schema inference on every
``readers.table`` read. Each test counts the jobs in its own job group
through ``statusTracker()``.
"""

from __future__ import annotations

import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from ab_inbev_big_data_case_spark.registry import QUERIES, load_all
from ab_inbev_big_data_case_spark.sources.readers import table

load_all()


def _jobs_fired(spark, build) -> tuple[int, object]:
    """(jobs run inside ``build()``, its result), in a fresh job group."""
    sc = spark.sparkContext
    group = f"construct:{uuid.uuid4().hex}"
    sc.setJobGroup(group, "construction job count")
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


@pytest.mark.parametrize("name", ["survey_raking_ipf", "esd_outlier_stats"])
def test_cut_loops_build_without_jobs(spark, sf_dir, name):
    """The raking and ESD loops are one plan each over a bounded panel or
    spine: once the table schema is known, building them runs nothing."""
    QUERIES[name](spark, sf_dir)  # first read infers the orders schema
    jobs, df = _jobs_fired(spark, lambda: QUERIES[name](spark, sf_dir))
    assert jobs == 0
    assert df.count() > 0


def test_table_schema_inferred_once_and_again_after_rewrite(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    first, df = _jobs_fired(spark, lambda: table(spark, str(tmp_path), "t"))
    assert df.columns == ["a"]
    again, df = _jobs_fired(spark, lambda: table(spark, str(tmp_path), "t"))
    assert (first, again) == (1, 0)
    assert sorted(r.a for r in df.collect()) == [1, 2, 3]
    # a rewritten file is a new version: inferred again, so a renamed
    # column fails at analysis instead of reading as nulls
    pq.write_table(pa.table({"b": ["x", "y"]}), path)
    jobs, df = _jobs_fired(spark, lambda: table(spark, str(tmp_path), "t"))
    assert jobs == 1 and df.columns == ["b"]
    with pytest.raises(AnalysisException):
        df.select("a")
