import os
import sys
import uuid
from itertools import takewhile
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


def actions_fired(spark, build) -> tuple[tuple[str, ...], object]:
    """(descriptions of the construction actions ``build()`` ran, its
    result). A construction action is a SQL execution the build started
    that ran at least one job: a ``cut()`` (described ``cut:<label>``) or a
    driver action (described by its call site). AQE submits a varying
    number of stage jobs per execution, so actions, unlike jobs, count the
    same on every build. Schema inference runs a job outside any SQL
    execution and is not an action (``jobs_fired`` sees it)."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = store.executionsList()  # oldest first
    last = before.last().executionId() if before.nonEmpty() else -1
    out = build()
    bus.waitUntilEmpty()
    after = store.executionsList()
    newest_first = (after.apply(i) for i in reversed(range(after.size())))
    new = list(takewhile(lambda e: e.executionId() > last, newest_first))
    return tuple(e.description() for e in reversed(new) if not e.jobs().isEmpty()), out


class BuiltQuery(NamedTuple):
    """What building one registered query left behind: its executed-plan
    text and output schema, or the build error; the construction actions
    the build (the query call, not the plan string) ran; and the pre-cut
    plan of every ``cut()`` it made, which the returned plan shows only as
    a ``Scan ExistingRDD``."""

    plan: str | None
    schema: StructType | None
    error: str | None
    actions: tuple[str, ...]
    cut_plans: tuple[str, ...]


@pytest.fixture(scope="session")
def built_registry(spark, sf_dir):
    """Every registered query built once at ``sf_dir``, name -> BuiltQuery.

    Only strings and schemas are kept, never the DataFrames, so nothing a
    query cut while building stays pinned for the session. Tests that need
    the whole registry's plans or schemas read them from here instead of
    building the registry again.

    Every fixture table is read once first, so no build pays a table's
    one-time schema inference."""
    from ab_inbev_big_data_case_spark.operators.lineage import recording
    from ab_inbev_big_data_case_spark.registry import QUERIES, load_all
    from ab_inbev_big_data_case_spark.sources.readers import table

    load_all()
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            table(spark, sf_dir, f.removesuffix(".parquet"))
    built = {}
    for name, fn in QUERIES.items():
        actions, cut_plans = (), []
        try:
            with recording(lambda _label, plan: cut_plans.append(plan)):
                actions, df = actions_fired(spark, lambda: fn(spark, sf_dir))
            plan = df._jdf.queryExecution().executedPlan().toString()
            built[name] = BuiltQuery(plan, df.schema, None, actions, tuple(cut_plans))
        except Exception as ex:
            err = f"{type(ex).__name__}: {ex}"[:500]
            built[name] = BuiltQuery(None, None, err, actions, tuple(cut_plans))
    return built
