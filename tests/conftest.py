import os
import sys
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


class BuiltQuery(NamedTuple):
    """What building one registered query left behind: its executed-plan
    text and output schema, or the build error."""

    plan: str | None
    schema: StructType | None
    error: str | None


@pytest.fixture(scope="session")
def built_registry(spark, sf_dir):
    """Every registered query built once at ``sf_dir``, name -> BuiltQuery.

    Only strings and schemas are kept, never the DataFrames, so nothing a
    query checkpointed while building stays pinned for the session. Tests
    that need the whole registry's plans or schemas read them from here
    instead of building the registry again."""
    from ab_inbev_big_data_case_spark.registry import QUERIES, load_all

    load_all()
    built = {}
    for name, fn in QUERIES.items():
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            built[name] = BuiltQuery(plan, df.schema, None)
        except Exception as ex:
            built[name] = BuiltQuery(None, None, f"{type(ex).__name__}: {ex}"[:500])
    return built
