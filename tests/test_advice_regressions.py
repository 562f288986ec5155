"""ADVICE-r11 drain regressions, restored (ADVICE r12, medium): commit
d06a10b rewrote test_round12_ops.py for the round-12 widening batch and
silently dropped these 8 invariants from c69aaf6/99981ca — degenerate-input
and native-dtype guards on the vectorized similarity kernels, the pinned-arm
bench lifecycle, the interval-join decimal-rounding discipline, and the
capped-nlist IVF regime. The guarded code still exists; these tests keep the
previously-fixed bugs protected. Round invariants stay ADDITIVE from here:
new-round test files must not replace old ones."""


from pyspark.sql import functions as F

from ab_inbev_big_data_case_spark.llm.similarity import (
    cosine_pairs,
    cosine_pairs_hof,
    ivf_assign,
)
from ab_inbev_big_data_case_spark.registry import QUERIES, load_all

load_all()


# ---------------------------------- ADVICE r11: degenerate-input guards


def test_cosine_pairs_empty_query_set(spark):
    """An empty query side must return an empty DataFrame with the declared
    schema (the hof twin's behavior), not crash on the (nq, dim) unpack."""
    queries = spark.createDataFrame([], "qid bigint, qv array<float>")
    cands = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "cid bigint, cv array<float>"
    )
    out = cosine_pairs(queries, cands, "qid", "cid", "qv", "cv")
    assert out.count() == 0
    assert [f.name for f in out.schema] == ["query_id", "cand_id", "cosine"]
    # hof twin agrees
    assert cosine_pairs_hof(queries, cands, "qid", "cid", "qv", "cv").count() == 0


def test_ivf_assign_empty_centroid_set(spark):
    """An empty centroid set must return an empty (vec_id, cell_id) frame
    with the input id type, not crash on the (n_k, dim) unpack."""
    df = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [0.0, 1.0])], "vid bigint, v array<float>"
    )
    out = ivf_assign(df, "vid", "v", centroid_filter=lambda c: c < 0)
    assert out.count() == 0
    assert [f.name for f in out.schema] == ["vec_id", "cell_id"]
    assert out.schema["vec_id"].dataType.simpleString() == "bigint"


def test_cosine_pairs_string_ids_native_dtype(spark):
    """Non-integer id columns must round-trip unchanged through the
    vectorized kernel (ADVICE r11: the forced int64 coercion would raise
    or miscast string ids that cosine_pairs_hof handled)."""
    queries = spark.createDataFrame(
        [("qa", [1.0, 0.0]), ("qb", [0.0, 1.0])], "qid string, qv array<float>"
    )
    cands = spark.createDataFrame(
        [("qa", [1.0, 0.0]), ("cx", [1.0, 1.0]), ("cy", [0.0, 1.0])],
        "cid string, cv array<float>",
    )
    fast = cosine_pairs(queries, cands, "qid", "cid", "qv", "cv")
    ref = cosine_pairs_hof(queries, cands, "qid", "cid", "qv", "cv")
    key = lambda r: (r["query_id"], r["cand_id"])  # noqa: E731
    f_rows = sorted(fast.collect(), key=key)
    r_rows = sorted(ref.collect(), key=key)
    assert [tuple(r) for r in f_rows] == [tuple(r) for r in r_rows]
    assert {r["query_id"] for r in f_rows} == {"qa", "qb"}
    # self-pair (qa, qa) excluded on string equality, like the hof filter
    assert ("qa", "qa") not in {(r["query_id"], r["cand_id"]) for r in f_rows}


def test_ivf_assign_string_ids_native_dtype(spark):
    """ivf_assign with string ids: centroid ids must come back as the same
    strings with nearest-by-cosine assignment. (The hof twin can't run
    here — its tie-break negates cell_id, a numeric-only trick — so the
    vectorized path is checked against a Python-computed expectation.)"""
    df = spark.createDataFrame(
        [
            ("c_0", [1.0, 0.0]),
            ("c_1", [0.0, 1.0]),
            ("v_2", [0.9, 0.1]),
            ("v_3", [0.2, 0.8]),
            ("v_4", [1.0, 1.0]),  # equidistant: tie goes to min cell id c_0
        ],
        "vid string, v array<float>",
    )
    flt = lambda c: c.startswith("c_")  # noqa: E731
    fast = {r["vec_id"]: r["cell_id"] for r in ivf_assign(df, "vid", "v", flt).collect()}
    assert fast == {
        "c_0": "c_0",
        "c_1": "c_1",
        "v_2": "c_0",
        "v_3": "c_1",
        "v_4": "c_0",
    }


# ---------------------------------- ADVICE r11: pinned-arm lifecycle


def test_pinned_arm_close_idempotent_and_kills_on_error():
    """close() must be safe to call twice (degrade path + finally block)
    and must kill the subprocess when the quit handshake fails."""
    import bench

    class _FakeProc:
        def __init__(self):
            self.killed = 0
            self.stdin = self

        def write(self, _):
            raise BrokenPipeError("worker gone")

        def flush(self):
            pass

        def kill(self):
            self.killed += 1

    proc = _FakeProc()
    arm = bench._PinnedArm(proc, "deadbeef")
    arm.close()
    assert proc.killed == 1
    arm.close()  # second close is a no-op, not a second kill
    assert proc.killed == 1


# ---------------------------------- interval-join decimal rounding


def test_interval_join_value_rounding_decimal_discipline(spark, sf_dir):
    """purchase_value_r must equal round(CAST(value AS DECIMAL(18,6)), 2)
    of the source purchase value — the repo's quantize-before-round
    discipline (ADVICE r11), immune to binary-double .5-boundary drift."""
    from decimal import ROUND_HALF_UP, Decimal

    from ab_inbev_big_data_case_spark.sources.readers import table

    e = table(spark, sf_dir, "events")
    src = {
        r["event_id"]: r["value"]
        for r in e.filter(F.col("event_type") == "purchase").collect()
    }
    out = QUERIES["interval_join_purchase_click"](spark, sf_dir).collect()
    assert out
    for r in out[:200]:
        want = float(
            Decimal(repr(src[r["purchase_id"]]))
            .quantize(Decimal("1E-6"), rounding=ROUND_HALF_UP)
            .quantize(Decimal("1E-2"), rounding=ROUND_HALF_UP)
        )
        assert r["purchase_value_r"] == want


# ---------------------------------- capped-nlist IVF regime (r11 item 8)


def test_capped_centroid_modulus_arithmetic():
    """m = max(⌊√N⌋, ⌈N/cap⌉): the cap must bind when √N > cap and be a
    no-op when √N ≤ cap."""
    from ab_inbev_big_data_case_spark.llm.similarity import (
        capped_centroid_modulus,
        sqrt_centroid_modulus,
    )

    n = 10_000  # √N = 100
    assert sqrt_centroid_modulus(n) == 100
    assert capped_centroid_modulus(n, nlist_cap=16) == 625  # ceil(1e4/16)
    assert capped_centroid_modulus(n, nlist_cap=65536) == 100  # cap idle


def test_ivf_balance_report_regimes(spark, sf_dir):
    """The two regime rows must describe the same corpus (equal n_vecs);
    the capped regime has ≤ cap cells and a per-probe cost at least the
    √N regime's (bigger cells are the price of a linear assignment)."""
    rows = {
        r["regime"]: r
        for r in QUERIES["ivf_balance_report"](spark, sf_dir).collect()
    }
    assert set(rows) == {"sqrt", "capped16"}
    s, c = rows["sqrt"], rows["capped16"]
    assert s["n_vecs"] == c["n_vecs"] > 0
    assert c["n_cells"] <= 16 < s["n_cells"]
    assert c["exp_probe_cost_r"] >= s["exp_probe_cost_r"]


# ------------------------- close-gate BENCH_AB exemption (ADVICE r12 + r13)


def test_close_gate_dirty_exemption_status_specific():
    """Only the bench gate's own BENCH_AB.json states (unstaged-modified,
    untracked) are exempt; staged/deleted/renamed copies and any other
    path refuse. Robust to _git()'s stdout.strip() eating the first
    line's status prefix — the bug that refused the r13 close twice."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "close_gates",
        os.path.join(os.path.dirname(__file__), "..", "tools", "close_gates.py"),
    )
    cg = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cg)

    # the exact state the bench gate leaves, as _git() returns it
    # (leading space stripped off the first line):
    assert cg._dirty_lines("M BENCH_AB.json") == []
    assert cg._dirty_lines(" M BENCH_AB.json") == []
    assert cg._dirty_lines("?? BENCH_AB.json") == []
    # staged modification, delete, rename, other files: all refuse
    assert cg._dirty_lines("M  BENCH_AB.json")  # staged (two inner spaces)
    assert cg._dirty_lines(" D BENCH_AB.json")
    assert cg._dirty_lines("R  BENCH_AB.json -> X.json")
    assert cg._dirty_lines(" M bench.py")
    # multi-line: exempt line filters out, offender stays
    assert cg._dirty_lines(" M BENCH_AB.json\n M bench.py") == [" M bench.py"]
