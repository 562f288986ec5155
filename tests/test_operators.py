"""Operator-level tests: as-of join, range join, lineage cuts, global
prefix sums, writers' small-file hygiene, sort/set-op properties."""

import random
import uuid
from decimal import Decimal

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from ab_inbev_big_data_case_spark.operators.joins import asof_join, range_join
from ab_inbev_big_data_case_spark.operators.lineage import cut, recording
from ab_inbev_big_data_case_spark.operators.relational import prefix_sums


def test_asof_join_exact_semantics(spark):
    """Latest right value at-or-before each left ts, per key — including the
    equal-timestamp case (<=) and the no-prior-row null."""
    quotes = spark.createDataFrame(
        [("A", 1, 10.0), ("A", 5, 11.0), ("B", 3, 20.0)],
        "sym string, qts long, px double",
    )
    trades = spark.createDataFrame(
        [("A", 0), ("A", 1), ("A", 4), ("A", 7), ("B", 2), ("B", 3)],
        "sym string, tts long",
    )
    out = asof_join(trades, quotes, "sym", "tts", "qts", "px", "last_px")
    got = {(r["sym"], r["tts"]): r["last_px"] for r in out.collect()}
    assert got == {
        ("A", 0): None,   # before any quote
        ("A", 1): 10.0,   # equal ts counts (<=)
        ("A", 4): 10.0,
        ("A", 7): 11.0,
        ("B", 2): None,
        ("B", 3): 20.0,
    }


def test_asof_join_preserves_left_rowcount(spark, sf_dir):
    from ab_inbev_big_data_case_spark.sources.readers import table

    e = table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase")
    signups = e.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("signup_ts")
    )
    out = asof_join(purchases, signups, "user_id", "ts", "signup_ts", "signup_ts")
    assert out.count() == purchases.count()


def test_range_join_buckets(spark):
    fact = spark.createDataFrame([(1, 5.0), (2, 15.0), (3, 95.0)], "id long, v double")
    ranges = spark.createDataFrame(
        [("lo", 0.0, 10.0), ("hi", 10.0, 100.0)], "label string, lo double, hi double"
    )
    out = range_join(fact, ranges, "v", "lo", "hi")
    got = {r["id"]: r["label"] for r in out.collect()}
    assert got == {1: "lo", 2: "hi", 3: "hi"}


def _prefix_rows(kind: str) -> list[tuple]:
    """(k, t, c, v) rows: key, unique tiebreak, a count, a decimal."""
    rng = random.Random(20261019)
    if kind == "mixed":  # duplicate and negative keys, tiebreak decides
        keys = [rng.randint(-40, 40) for _ in range(300)]
    elif kind == "one_value":  # hi == lo
        keys = [-3] * 25
    else:
        keys = [-7]
    return [
        (k, t, rng.randint(0, 9), Decimal(rng.randint(-10**25, 10**25)))
        for t, k in enumerate(keys)
    ]


@pytest.mark.parametrize("descending", [False, True], ids=["asc", "desc"])
@pytest.mark.parametrize("kind", ["mixed", "one_value", "single_row"])
def test_prefix_sums_match_a_flat_running_sum(spark, kind, descending):
    """Each running sum equals a flat window over the whole order
    ``(k [desc], t)``, each total a plain aggregate, for a long count, a
    decimal(38,0) sum and a rank, with the flat window's types."""
    df = spark.createDataFrame(
        _prefix_rows(kind), "k long, t long, c long, v decimal(38,0)"
    )
    sums = {"cnt": F.col("c"), "amt": F.col("v"), "rk": F.lit(1)}
    got = prefix_sums(df, "k", ["t"], sums, descending=descending)

    order = F.col("k").desc() if descending else F.col("k")
    w = Window.orderBy(order, "t").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flat = df.select("t", *(F.sum(e).over(w).alias(n) for n, e in sums.items()))
    totals = df.agg(*(F.sum(e).alias(f"{n}_total") for n, e in sums.items()))
    want = flat.crossJoin(totals)

    cols = ["t", *(c for n in sums for c in (n, f"{n}_total"))]
    assert got.columns == [*df.columns, *cols[1:]]
    assert dict(got.select(cols).dtypes) == dict(want.select(cols).dtypes)
    assert sorted(got.select(cols).collect()) == sorted(want.select(cols).collect())


def test_cut_labels_its_jobs_and_restores_the_callers_properties(spark):
    """The stage jobs a lazy cut runs under AQE carry ``cut:<label>``; the
    caller's job group and description are back in place afterwards."""
    sc = spark.sparkContext
    group = f"caller:{uuid.uuid4().hex}"
    sc.setJobGroup(group, "caller description")
    try:
        agg = spark.range(200).groupBy((F.col("id") % 7).alias("k")).count()
        out = cut(agg, "unit")
        assert sc.getLocalProperty("spark.jobGroup.id") == group
        assert sc.getLocalProperty("spark.job.description") == "caller description"
        cut_jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert out.count() == 7
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    descs = {store.job(j).description().get() for j in cut_jobs}
    assert len(cut_jobs) >= 1 and descs == {"cut:unit"}


def test_cut_hands_the_pre_cut_plan_to_the_recorder(spark):
    """Under ``recording`` a cut reports its label and the plan it hides:
    a CartesianProduct upstream of the cut is in the recorded plan and not
    in the returned DataFrame's plan, which only scans the cut RDD."""
    a = spark.range(3).withColumnRenamed("id", "a")
    b = spark.range(4).withColumnRenamed("id", "b")
    seen = []
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        with recording(lambda label, plan: seen.append((label, plan))):
            out = cut(a.crossJoin(b), "planted")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    [(label, plan)] = seen
    assert label == "planted" and "CartesianProduct" in plan
    returned = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in returned and "ExistingRDD" in returned
    assert out.count() == 12
    cut(a, "unrecorded")  # outside the block nothing is handed over
    assert len(seen) == 1


def test_partitioned_writer_single_file_per_partition(spark, tmp_path):
    """write_partitioned repartitions by the partition cols first — each
    partition directory gets ONE file, not one per task (the small-files
    guard that matters at 1000 executors)."""
    import os

    from ab_inbev_big_data_case_spark.sources.writers import write_partitioned

    df = spark.range(1000).withColumn("part", (F.col("id") % 3).cast("string"))
    out = str(tmp_path / "p")
    write_partitioned(df, out, ["part"])
    for d in os.listdir(out):
        if d.startswith("part="):
            files = [f for f in os.listdir(os.path.join(out, d)) if f.endswith(".parquet")]
            assert len(files) == 1, f"{d} has {len(files)} files"


def test_asof_join_matches_pandas_merge_asof(spark):
    """Property check against an independent reference implementation
    (pandas.merge_asof, backward direction) on randomized inputs."""
    import pandas as pd
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=5, deadline=None)
    @given(
        quotes=st.lists(
            st.tuples(st.sampled_from(["A", "B"]), st.integers(0, 50), st.integers(1, 999)),
            min_size=1, max_size=12, unique_by=lambda t: (t[0], t[1]),
        ),
        trades=st.lists(
            st.tuples(st.sampled_from(["A", "B"]), st.integers(0, 50)),
            min_size=1, max_size=12, unique_by=lambda t: (t[0], t[1]),
        ),
    )
    def check(quotes, trades):
        qdf = spark.createDataFrame(quotes, "sym string, qts long, px long")
        tdf = spark.createDataFrame(trades, "sym string, tts long")
        got = {
            (r["sym"], r["tts"]): r["last_px"]
            for r in asof_join(tdf, qdf, "sym", "tts", "qts", "px", "last_px").collect()
        }
        qp = pd.DataFrame(quotes, columns=["sym", "qts", "px"]).sort_values("qts")
        tp = pd.DataFrame(trades, columns=["sym", "tts"]).sort_values("tts")
        ref = pd.merge_asof(
            tp, qp, left_on="tts", right_on="qts", by="sym", direction="backward"
        )
        want = {
            (r.sym, r.tts): (None if pd.isna(r.px) else int(r.px))
            for r in ref.itertuples()
        }
        assert got == want

    check()


def test_zorder_key_interleaves_bits(spark):
    """The Morton key equals a bit-level Python reference, and bucketizes
    out-of-range values by masking instead of erroring."""
    from ab_inbev_big_data_case_spark.operators.layout import zorder_key

    def ref(x, y, bits=16):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    rows = [(x, y) for x in (0, 1, 5, 255, 65535, 65536 + 7) for y in (0, 3, 1024)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select("x", "y", zorder_key(F.col("x"), F.col("y")).alias("z"))
        .collect()
    }
    for x, y in rows:
        assert got[(x, y)] == ref(x & 0xFFFF, y)


def test_zorder_layout_beats_single_column_sort(spark, sf_dir):
    """Range-splitting by the Z-key must give per-file extents that are
    small in BOTH dims; sorting by x alone leaves the y extents at full
    domain. Compare the average y-extent across 32 files."""
    from ab_inbev_big_data_case_spark.operators.layout import (
        file_extent_stats,
        scaled_bucket,
        zorder_key,
    )
    from ab_inbev_big_data_case_spark.sources.readers import table

    raw = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("xr"),
        F.datediff("o_orderdate", F.lit("1992-01-01").cast("date"))
        .cast("long")
        .alias("yr"),
    )
    bounds = raw.agg(
        F.min("xr").alias("x0"), F.max("xr").alias("x1"),
        F.min("yr").alias("y0"), F.max("yr").alias("y1"),
    )
    o = raw.crossJoin(F.broadcast(bounds)).select(
        scaled_bucket(F.col("xr"), F.col("x0"), F.col("x1"), 8).alias("x"),
        scaled_bucket(F.col("yr"), F.col("y0"), F.col("y1"), 8).alias("y"),
    )
    keyed = o.withColumn("zkey", zorder_key(F.col("x"), F.col("y"), 8))

    def avg_extent(stats, dim):
        rows = stats.collect()
        return sum(r[f"max_{dim}"] - r[f"min_{dim}"] for r in rows) / len(rows)

    z_stats = file_extent_stats(keyed, "zkey", ["x", "y"], 32)
    x_stats = file_extent_stats(keyed.withColumnRenamed("x", "xs")
                                .withColumn("x", F.col("xs")), "xs", ["x", "y"], 32)
    z_y = avg_extent(z_stats, "y")
    x_y = avg_extent(x_stats, "y")
    z_x = avg_extent(z_stats, "x")
    assert z_y < 0.5 * x_y, f"z-order y-extent {z_y} not better than x-sort {x_y}"
    full_x = keyed.agg(F.max("x") - F.min("x")).collect()[0][0]
    assert z_x < 0.6 * full_x


def test_zorder_key_properties_hypothesis(spark):
    """Property: the Morton key is a bijection on [0,2^16)² (deinterleave
    recovers both inputs) and preserves quadrant ordering (all keys in the
    low half of both dims sort below any key with both dims in the high
    half)."""
    from hypothesis import given, settings, strategies as st

    from ab_inbev_big_data_case_spark.operators.layout import zorder_key

    @settings(max_examples=5, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=65535),
                st.integers(min_value=0, max_value=65535),
            ),
            min_size=1,
            max_size=20,
            unique=True,
        )
    )
    def check(points):
        df = spark.createDataFrame(points, "x long, y long")
        rows = df.select(
            "x", "y", zorder_key(F.col("x"), F.col("y"), 16).alias("z")
        ).collect()
        for r in rows:
            z, x, y = r["z"], 0, 0
            for i in range(16):
                x |= ((z >> (2 * i)) & 1) << i
                y |= ((z >> (2 * i + 1)) & 1) << i
            assert (x, y) == (r["x"], r["y"])
            lo = r["x"] < 32768 and r["y"] < 32768
            hi = r["x"] >= 32768 and r["y"] >= 32768
            for s in rows:
                s_lo = s["x"] < 32768 and s["y"] < 32768
                if hi and s_lo:
                    assert r["z"] > s["z"]

    check()
