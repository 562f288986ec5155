"""The money rule's Spark builders and DuckDB twins (``functions/money.py``)
agree with each other and with a Python ``decimal`` ROUND_HALF_UP
reference: half-cent ties round away from zero in both engines, a
12-integer-digit value fits, NULLs drop out of a sum and an all-NULL group
sums to NULL."""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pytest
from pyspark.sql import functions as F

from ab_inbev_big_data_case_spark.functions.money import (
    cents,
    cents_sql,
    money_sum,
    money_sum_sql,
)

#: (group, value); every tie sits alone in its group, so its sum is itself.
ROWS = [
    ("t0", 0.005),
    ("t1", 0.015),
    ("t2", 2.675),
    ("t3", -0.005),
    ("t4", -2.675),
    ("big", 123456789012.34),
    ("with_null", 2.675),
    ("with_null", None),
    ("with_null", 0.015),
    ("all_null", None),
    ("all_null", None),
]

#: A half-cent tie with 10 integer digits, where the engines part ways.
LARGE_TIE = 8630547763.425


def _money(v: float) -> Decimal:
    """The reference DECIMAL(18,6) of a double: its shortest decimal form."""
    return Decimal(repr(v)).quantize(Decimal("0.000001"), ROUND_HALF_UP)


def _ref_sums() -> dict[str, Decimal | None]:
    out: dict[str, Decimal | None] = {}
    for g, v in ROWS:
        out.setdefault(g, None)
        if v is not None:
            out[g] = (out[g] or Decimal(0)) + _money(v)
    return {
        g: None if s is None else s.quantize(Decimal("0.01"), ROUND_HALF_UP)
        for g, s in out.items()
    }


def _ref_cents(v: float | None) -> int | None:
    if v is None:
        return None
    return int(_money(v).quantize(Decimal("0.01"), ROUND_HALF_UP) * 100)


def _duck(rows):
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INTEGER, g VARCHAR, v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    return con


def test_money_sum_and_cents_twins_match_reference(spark):
    rows = [(i, g, v) for i, (g, v) in enumerate(ROWS)]
    df = spark.createDataFrame(rows, "i int, g string, v double")
    con = _duck(rows)

    want_sums = _ref_sums()
    assert want_sums["t2"] == Decimal("2.68") and want_sums["t4"] == Decimal("-2.68")
    assert want_sums["all_null"] is None
    spark_sums = {
        r["g"]: r["s"]
        for r in df.groupBy("g").agg(money_sum(F.col("v")).alias("s")).collect()
    }
    duck_sums = dict(
        con.execute(f"SELECT g, {money_sum_sql('v')} AS s FROM t GROUP BY g").fetchall()
    )
    assert spark_sums == want_sums
    assert duck_sums == want_sums

    want_cents = {i: _ref_cents(v) for i, _g, v in rows}
    spark_cents = {
        r["i"]: r["c"] for r in df.select("i", cents(F.col("v")).alias("c")).collect()
    }
    duck_cents = dict(con.execute(f"SELECT i, {cents_sql('v')} AS c FROM t").fetchall())
    assert spark_cents == want_cents
    assert duck_cents == want_cents
    assert dict(df.select(cents(F.col("v")).alias("c")).dtypes)["c"] == "bigint"

    big = spark.createDataFrame([(LARGE_TIE,)], "v double")
    assert big.select(cents(F.col("v"))).first()[0] == _ref_cents(LARGE_TIE)


@pytest.mark.xfail(
    strict=True,
    reason=(
        "DuckDB casts DOUBLE to DECIMAL(18,6) by scaling in binary floating "
        "point, so a half-cent tie with 10+ integer digits can land just "
        "below the tie and round down (8630547763.425 -> 863054776342 cents); "
        "Spark casts through the double's shortest decimal string"
    ),
)
def test_duckdb_cents_round_large_ties_half_up():
    con = _duck([(0, "x", LARGE_TIE)])
    (duck_c,) = con.execute(f"SELECT {cents_sql('v')} FROM t").fetchone()
    assert duck_c == _ref_cents(LARGE_TIE)
