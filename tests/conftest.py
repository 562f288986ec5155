import os
import sys
import uuid
from typing import NamedTuple

import pytest
from pyspark.sql.types import StructType

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ab_inbev_big_data_case_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def jobs_fired(spark, build) -> tuple[int, object]:
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


class BuiltQuery(NamedTuple):
    """What building one registered query left behind: its executed-plan
    text and output schema, or the build error, and the Spark jobs the
    build (the query call, not the plan string) ran."""

    plan: str | None
    schema: StructType | None
    error: str | None
    jobs: int


@pytest.fixture(scope="session")
def built_registry(spark, sf_dir):
    """Every registered query built once at ``sf_dir``, name -> BuiltQuery.

    Only strings and schemas are kept, never the DataFrames, so nothing a
    query checkpointed while building stays pinned for the session. Tests
    that need the whole registry's plans or schemas read them from here
    instead of building the registry again.

    Every fixture table is read once first, so each query's job count
    leaves out the one-time schema inference of the tables it reads and
    does not depend on build order."""
    from ab_inbev_big_data_case_spark.registry import QUERIES, load_all
    from ab_inbev_big_data_case_spark.sources.readers import table

    load_all()
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            table(spark, sf_dir, f.removesuffix(".parquet"))
    built = {}
    for name, fn in QUERIES.items():
        jobs = 0
        try:
            jobs, df = jobs_fired(spark, lambda: fn(spark, sf_dir))
            plan = df._jdf.queryExecution().executedPlan().toString()
            built[name] = BuiltQuery(plan, df.schema, None, jobs)
        except Exception as ex:
            err = f"{type(ex).__name__}: {ex}"[:500]
            built[name] = BuiltQuery(None, None, err, jobs)
    return built
