"""The benchmark's workloads: which registered queries one pass runs, and
the write-path cycle.

``etl_write`` is the reference's own shape: relational scans, shuffles,
windows and joins whose time goes to the action, with no lineage cuts and
no Python workers, followed by one write-path cycle (medallion layer
writes, a transaction-logged table through create, merge, delete,
optimize and time travel, and a keyed parquet upsert). Scan, shuffle and
write-path changes show here; cut and Python-worker changes should not.

``cuts_llm`` is construction-heavy iterative queries (11 and 23 jobs fired
by lineage cuts before the action) plus LLM-curation operators that cross
the ``mapInPandas``/pandas-UDF Python boundary. Cut and Python-worker
changes show here; write-path changes should not.

Each workload is small on purpose: a run (JVM launch, two warm passes and
two measured passes) has to fit about a minute.

Both read tables generated at sf0.1 (~17 MB of parquet) that fit in memory.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Workload:
    ops: tuple[str, ...]
    write_cycle: bool


WORKLOADS = {
    "etl_write": Workload(
        ops=("medallion_gold", "join_inner"),
        write_cycle=True,
    ),
    "cuts_llm": Workload(
        ops=(
            "survey_raking_ipf",
            "esd_outlier_stats",
            "multimodal_features",
            "pandas_grouped_agg_udaf",
        ),
        write_cycle=False,
    ),
}

#: merge changesets per write cycle; each costs ~1.1 s at sf0.1, and a run
#: must fit the benchmark's time budget
MERGES = 1

ORDERS_COLS = (
    "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"
)


@dataclass(frozen=True)
class Changes:
    """Seed-chosen write-path inputs. Merge ``i`` raises the price of every
    order with ``o_orderkey % 97 == merge_residues[i]`` by ``i + 1`` and
    inserts a copy of every order with ``o_orderkey % 997 ==
    insert_residues[i]`` under a new key; the delete removes
    ``o_orderkey % 89 == delete_residue``."""

    merge_residues: tuple[int, ...]
    insert_residues: tuple[int, ...]
    delete_residue: int

    @staticmethod
    def from_rng(rng) -> "Changes":
        return Changes(
            tuple(int(x) for x in rng.choice(97, MERGES, replace=False)),
            tuple(int(x) for x in rng.choice(997, MERGES, replace=False)),
            int(rng.integers(0, 89)),
        )

    @property
    def delete_predicate(self) -> str:
        return f"o_orderkey % 89 = {self.delete_residue}"

    def changeset_sql(self, i: int, n_orders: int) -> str:
        return (
            f"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + {i + 1} AS "
            f"o_totalprice, o_orderdate, o_orderpriority FROM orders "
            f"WHERE o_orderkey % 97 = {self.merge_residues[i]} UNION ALL "
            f"SELECT o_orderkey + {n_orders} AS o_orderkey, o_custkey, o_orderstatus, "
            f"o_totalprice, o_orderdate, o_orderpriority FROM orders "
            f"WHERE o_orderkey % 997 = {self.insert_residues[i]}"
        )

    def after_merges_sql(self, k: int, n_orders: int) -> str:
        """The orders table after the first ``k`` merges, in SQL."""
        sql = f"SELECT {ORDERS_COLS} FROM orders"
        for i in range(k):
            cs = self.changeset_sql(i, n_orders)
            sql = (
                f"SELECT * FROM ({sql}) WHERE o_orderkey NOT IN "
                f"(SELECT o_orderkey FROM ({cs})) UNION ALL {cs}"
            )
        return sql

    def changeset(self, orders: DataFrame, i: int, n_orders: int) -> DataFrame:
        key = F.col("o_orderkey")
        upd = orders.filter(key % 97 == self.merge_residues[i]).withColumn(
            "o_totalprice", F.col("o_totalprice") + float(i + 1)
        )
        ins = orders.filter(key % 997 == self.insert_residues[i]).withColumn(
            "o_orderkey", key + n_orders
        )
        return upd.unionByName(ins)


def _tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


class WriteCycle:
    """One write-path cycle into a fresh directory. ``steps()`` are the
    timed calls into the layers; ``check()`` and ``stats()`` run after them,
    untimed."""

    def __init__(
        self, spark: SparkSession, data_dir: str, out_dir: str, changes: Changes, n_orders: int
    ) -> None:
        from ab_inbev_big_data_case_spark.sources.readers import table

        self.spark, self.ch, self.n = spark, changes, n_orders
        self.events = table(spark, data_dir, "events")
        self.orders = table(spark, data_dir, "orders")
        self.silver_dir = os.path.join(out_dir, "silver")
        self.gold_dir = os.path.join(out_dir, "gold")
        self.table_dir = os.path.join(out_dir, "orders_txlog")
        self.upsert_dir = os.path.join(out_dir, "orders_upsert")
        self.readback: dict[str, int] = {}
        self.table = None

    def steps(self):
        return [
            ("pipeline.run_medallion", self._medallion),
            ("txlog.create", self._create),
            *[("txlog.merge", lambda i=i: self._merge(i)) for i in range(MERGES)],
            ("txlog.delete_where", lambda: self.table.delete_where(self.ch.delete_predicate)),
            ("txlog.optimize", lambda: self.table.optimize()),
            ("txlog.snapshot", self._snapshots),
            ("writers.upsert_by_key", self._upsert_bootstrap),
            ("writers.upsert_by_key", self._upsert),
        ]

    def _medallion(self) -> None:
        from ab_inbev_big_data_case_spark.pipeline import run_medallion
        from ab_inbev_big_data_case_spark.queries.medallion import _EVENT_ORDER

        run_medallion(
            self.events,
            important_field="value",
            unique_key="event_id",
            order_by=_EVENT_ORDER,
            group_cols=["event_type", "status"],
            value_col="value",
            silver_path=self.silver_dir,
            silver_partition_cols=["event_type"],
            gold_path=self.gold_dir,
        )

    def _create(self) -> None:
        from ab_inbev_big_data_case_spark.sources.txlog import DeltaLiteTable

        self.table = DeltaLiteTable.create(
            self.spark, self.orders, self.table_dir, keys=["o_orderkey"]
        )

    def _merge(self, i: int) -> None:
        self.table.merge(self.ch.changeset(self.orders, i, self.n))

    def _snapshots(self) -> None:
        self.readback["v0"] = self.table.snapshot(version=0).count()
        self.readback["current"] = self.table.snapshot().count()

    def _upsert_bootstrap(self) -> None:
        from ab_inbev_big_data_case_spark.sources.writers import upsert_by_key

        upsert_by_key(self.spark, self.orders, self.upsert_dir, ["o_orderkey"])

    def _upsert(self) -> None:
        from ab_inbev_big_data_case_spark.sources.writers import upsert_by_key

        upsert_by_key(
            self.spark, self.ch.changeset(self.orders, 0, self.n), self.upsert_dir, ["o_orderkey"]
        )

    def check(self, oracle, full: bool) -> list[str]:
        """Readbacks against a DuckDB recomputation of the same changesets.
        ``full`` adds value-multiset checks of the two large tables."""
        from ab_inbev_big_data_case_spark.queries.medallion import _SILVER_SQL
        from ab_inbev_big_data_case_spark.registry import ORACLE

        from perfbench.oracle import mismatch

        bad = []
        gold = self.spark.read.parquet(self.gold_dir)
        why = mismatch(gold.columns, [tuple(r) for r in gold.collect()],
                       *oracle.rows(ORACLE["medallion_gold"]))
        if why:
            bad.append(f"run_medallion gold: {why}")
        n_silver = self.spark.read.parquet(self.silver_dir).count()
        if n_silver != oracle.count(_SILVER_SQL):
            bad.append(f"run_medallion silver: {n_silver} rows")
        final_sql = (
            f"SELECT * FROM ({self.ch.after_merges_sql(MERGES, self.n)}) "
            f"WHERE NOT ({self.ch.delete_predicate})"
        )
        expect = {"v0": self.n, "current": oracle.count(final_sql)}
        for k, n in expect.items():
            if self.readback.get(k) != n:
                bad.append(f"txlog snapshot {k}: {self.readback.get(k)} rows, expected {n}")
        upsert_sql = self.ch.after_merges_sql(1, self.n)
        upserted = self.spark.read.parquet(self.upsert_dir)
        if not full:
            n_up = upserted.count()
            if n_up != oracle.count(upsert_sql):
                bad.append(f"upsert_by_key: {n_up} rows")
            return bad
        for label, df, sql in (
            ("txlog snapshot", self.table.snapshot(), final_sql),
            ("upsert_by_key", upserted, upsert_sql),
        ):
            n = oracle.diff_rows(df.select(*ORDERS_COLS.split(", ")).toArrow(), sql)
            if n:
                bad.append(f"{label}: {n} rows differ from the oracle")
        return bad

    def stats(self, input_bytes: int) -> dict[str, float]:
        """File-level counters of the cycle. ``write_amp`` is bytes left on
        storage (live and superseded files, logs) per byte of source parquet
        the cycle wrote from."""
        log_b, _ = _tree_bytes(os.path.join(self.table_dir, "_delta_log"))
        table_b, _ = _tree_bytes(self.table_dir)
        w_b = w_f = 0
        for d in (self.silver_dir, self.gold_dir, self.upsert_dir):
            b, f = _tree_bytes(d)
            w_b, w_f = w_b + b, w_f + f
        rewritten = sum(
            h.get("numTargetFilesRewritten", 0)
            + h.get("numFilesRewritten", 0)
            + h.get("numFilesRemoved", 0)
            for h in self.table.history()
        )
        return {
            "txlog.files_rewritten": rewritten,
            "txlog.log_bytes": log_b,
            "writers.bytes_written_mb": w_b / 1e6,
            "writers.files_written": w_f,
            "write_amp": (table_b + w_b) / input_bytes,
        }
