"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet fixtures, then compares row count, column-name
set, and an order-insensitive value multiset (floats compared after
round-trip normalization). All queries run in one Spark session, so a
full sweep also checks that the whole registry fits one JVM. Use while
iterating:

    python tools/check_oracle.py                 # all queries @ sf0.01
    python tools/check_oracle.py --sf sf0.001 q1 q2
"""

from __future__ import annotations

import argparse
import math
import os
import re
import sys
import time
from collections import Counter
from datetime import date, datetime
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm_cell(v):
    # Type-tagged, full-precision cells: the driver hashes raw values, so an
    # int 47 vs float 47.0 (or a last-digit float divergence) must FAIL here
    # too, or the local gate green-lights queries the driver rejects
    # (round-1 math_funcs lesson).
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "f:NaN"
        return f"f:{v!r}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{norm_cell(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def multiset(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return Counter(tuple(norm_cell(r[i]) for i in order) for r in rows)


def type_class(t: str) -> str:
    # Collapse engine type names into hash-compatibility classes. The driver's
    # value hash is type-sensitive at the STORAGE level: all four round-2 reds
    # were DuckDB HUGEINT (uncast integer sum) vs Spark BIGINT — identical
    # Python ints locally, different driver hashes. So HUGEINT is its own
    # class (never hash-compatible with anything Spark produces), int widths
    # collapse (driver-green history shows int32-vs-int64 is tolerated), and
    # int/float/decimal are distinct classes (round-1 math_funcs lesson).
    t = t.strip().upper()
    if t.startswith(("DECIMAL", "NUMERIC")):
        return "decimal"
    if t in ("HUGEINT", "UHUGEINT", "INT128", "UINT128"):
        return "hugeint"
    if t in ("TINYINT", "SMALLINT", "INTEGER", "INT", "BIGINT", "LONG",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if t in ("FLOAT", "REAL", "DOUBLE"):
        return "float"
    if t in ("VARCHAR", "STRING", "TEXT", "JSON"):
        # DuckDB JSON cells arrive as Python str, same as Spark to_json
        # output — json_struct_roundtrip is driver-green r1 evidence.
        return "str"
    if t in ("BOOLEAN", "BOOL"):
        return "bool"
    if t.startswith("TIMESTAMP"):
        return "timestamp"
    if t == "DATE":
        return "date"
    if t in ("BLOB", "BINARY", "BYTEA"):
        return "binary"
    if t.startswith(("ARRAY", "LIST")) or t.endswith("[]"):
        return "list"
    if t.startswith(("STRUCT", "MAP", "ROW")):
        return "nested"
    return t.lower()


def dtype_problems(sdf, dcols, dtypes):
    """Compare Spark schema vs DuckDB result types per column name."""
    spark_t = {f.name: type_class(f.dataType.simpleString()) for f in sdf.schema.fields}
    duck_t = {c: type_class(t) for c, t in zip(dcols, dtypes)}
    out = []
    for c in sorted(set(spark_t) & set(duck_t)):
        if spark_t[c] != duck_t[c]:
            out.append(f"dtype[{c}] spark={spark_t[c]} duckdb={duck_t[c]}")
    return out


def decimal_problems(sdf, dcols, dtypes):
    """Flag scale-0 decimal OUTPUT columns in either engine. The driver's
    value hash renders DuckDB HUGEINT-backed decimals and Spark decimals
    differently even when every value is an identical integer — the
    round-3 HUGEINT incident recurred in round 13 on exactly the three
    queries whose outputs were bare DECIMAL(38,0) (rows+schema matched,
    hash didn't; locally green at 3 SFs because ``type_class`` collapses
    decimal≈decimal). Integer-valued masses must OUTPUT as BIGINT (sum in
    decimal internally if the envelope needs it, then cast). Decimals with
    scale ≥ 1 are allowed: ``dp_gaussian_sum``'s decimal(29,2) is the
    driver-green precedent for scale-rendered decimals."""
    from pyspark.sql.types import DecimalType

    out = []
    for f in sdf.schema.fields:
        if isinstance(f.dataType, DecimalType) and f.dataType.scale == 0:
            out.append(
                f"scale-0 decimal output col [{f.name}] "
                f"{f.dataType.simpleString()} (driver hash renders DuckDB "
                "hugeint-backed decimals differently — cast to BIGINT in "
                "BOTH engines; r13 occupancy-report incident)"
            )
    for c, t in zip(dcols, dtypes):
        m = re.match(r"(?:DECIMAL|NUMERIC)\s*\(\s*\d+\s*,\s*(\d+)\s*\)", t.strip(), re.I)
        if m and int(m.group(1)) == 0:
            out.append(
                f"scale-0 decimal oracle col [{c}] {t} (cast to ::BIGINT — "
                "driver-hash-unsafe; r13 occupancy-report incident)"
            )
    return out


def nonscalar_problems(sdf):
    """Flag array/map/struct output columns. The driver's canonicalizer
    sorts result cells through pandas, where a list-valued cell raises
    ``unhashable type: 'list'`` (the round-3 ``embedding_quantize_int8``
    red) — our multiset compare handles lists fine, so without this lint
    the local gate green-lights queries the driver crashes on. Serialize
    vectors as CSV strings / JSON in the harness-facing projection."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    return [
        f"nonscalar output col [{f.name}] {f.dataType.simpleString()} "
        "(driver canonicalizer cannot hash it — serialize to string)"
        for f in sdf.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", help="query names (default: all)")
    ap.add_argument("--sf", default="sf0.01")
    ap.add_argument("--data", default="/root/testdata")
    ap.add_argument(
        "--first",
        type=int,
        default=None,
        metavar="N",
        help="check only the first N registered queries (the driver verifies "
        "exactly the first 50 — `--first 50` replicates its window)",
    )
    args = ap.parse_args()
    sf_dir = os.path.join(args.data, args.sf)

    import __spark_entry__ as e
    from ab_inbev_big_data_case_spark.session import get_spark

    spark = get_spark("check_oracle")
    qs, oracles = e.queries(), e.oracle_sql()
    names = args.names or list(qs)
    if args.first is not None:
        names = names[: args.first]

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    n_pass = n_fail = n_rows_only = 0
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            print(f"FAIL {name}: spark error: {type(ex).__name__}: {str(ex)[:300]}")
            n_fail += 1
            continue
        if name not in oracles:
            ns = nonscalar_problems(sdf)
            if ns:
                print(f"FAIL {name}: " + "; ".join(ns))
                n_fail += 1
            else:
                print(f"ROWS-ONLY {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
                n_rows_only += 1
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = list(rel.columns)
            dtypes = [str(t) for t in rel.types]
            drows = rel.fetchall()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {type(ex).__name__}: {str(ex)[:300]}")
            n_fail += 1
            continue
        problems = nonscalar_problems(sdf)
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duckdb={len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"schema spark={sorted(scols)} duckdb={sorted(dcols)}")
        problems.extend(dtype_problems(sdf, dcols, dtypes))
        problems.extend(decimal_problems(sdf, dcols, dtypes))
        if not problems:
            ms, md = multiset(srows, scols), multiset(drows, dcols)
            if ms != md:
                diff = (ms - md) + (md - ms)
                sample = list((ms - md).items())[:3] + list((md - ms).items())[:3]
                problems.append(f"values differ on {sum(diff.values())} rows; sample={sample}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"PASS {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1

    print(f"\n{n_pass} pass, {n_rows_only} rows-only, {n_fail} fail / {len(names)} total")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
