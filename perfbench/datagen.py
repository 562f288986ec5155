"""Seeded generator for the engine's fixture tables.

Writes the ten tables the queries read (``region nation customer supplier
part orders lineitem events documents embeddings``), one parquet file each,
with the schemas and value distributions of the engine's sf fixtures
(TPC-H-shaped star schema plus an events stream, a text corpus and an
embedding table). Row counts scale with ``sf`` the way the fixtures do:
600 000 lineitems at sf0.1. The same ``(seed, sf)`` always gives the same
bytes of data, so a benchmark run is reproducible from its seed alone.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast the row "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_DIM = 64
_LABELS = 10

def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    off = rng.integers(0, int((hi_d - lo_d).astype(int)) + 1, size=n)
    return (lo_d + off).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _pick(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), size=n)])


def _tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs = 5_000 if sf >= 0.1 else 500
    n_vecs = 2_000 if sf >= 0.1 else 500
    n_users = max(1, int(n_ev * 0.015))
    i64 = lambda n: pa.array(np.arange(n, dtype=np.int64))  # noqa: E731
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(_REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }),
        "customer": pa.table({
            "c_custkey": i64(n_cust),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": i64(n_supp),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }),
        "part": pa.table({
            "p_partkey": i64(n_part),
            "p_name": pa.array([
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, _PTYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)),
        }),
        "orders": pa.table({
            "o_orderkey": i64(n_ord),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
            "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", n_ord)),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", n_line)),
        }),
    }
    # events: a time-ordered stream over 30 days of January 2024
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev)) + np.datetime64("2024-01-01", "us")
    out["events"] = pa.table({
        "event_id": i64(n_ev),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev)),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    # documents: random-vocabulary texts; ~5% are near-duplicates of a recent
    # document with one token replaced by the 'dup' marker
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            base = texts[int(rng.integers(max(0, i - 200), i))].split()
            base[int(rng.integers(0, len(base)))] = "dup"
            texts.append(" ".join(base))
        else:
            texts.append(" ".join(rng.choice(_VOCAB, size=int(rng.integers(10, 101)))))
    out["documents"] = pa.table({
        "doc_id": i64(n_docs),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, size=n_docs, p=_LANG_P).tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    # embeddings: random unit vectors with a random label in 0..9 (the
    # fixtures' labels carry no geometric cluster structure either)
    vecs = rng.normal(0, 1, (n_vecs, _DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    labels = rng.integers(0, _LABELS, n_vecs)
    out["embeddings"] = pa.table({
        "vec_id": i64(n_vecs),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    return out


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table for ``(seed, sf)`` under ``out_dir``; return the
    on-disk size in bytes per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, int(round(sf * 1000))])
    sizes = {}
    for name, table in _tables(rng, sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        sizes[name] = os.path.getsize(path)
    return sizes
