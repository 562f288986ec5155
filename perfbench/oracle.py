"""DuckDB oracle over the generated tables.

Row counts and value multisets use the engine's own correctness-gate
normalisers (``tools/check_oracle.py``), so a value the gate would reject
fails here too.
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

import check_oracle  # noqa: E402


class Oracle:
    def __init__(self, data_dir: str, threads: int) -> None:
        self.con = duckdb.connect(config={"threads": threads})
        for t in check_oracle.TABLES:
            p = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(p):
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    def rows(self, sql: str) -> tuple[list[str], list[tuple]]:
        rel = self.con.sql(sql)
        return list(rel.columns), rel.fetchall()

    def count(self, sql: str) -> int:
        return self.con.sql(f"SELECT count(*) FROM ({sql})").fetchone()[0]

    def diff_rows(self, table, sql: str) -> int:
        """Rows in the multiset symmetric difference between an Arrow
        ``table`` (columns in the query's order) and the query's result."""
        self.con.register("_actual", table)
        try:
            return self.con.sql(
                f"SELECT (SELECT count(*) FROM (SELECT * FROM _actual EXCEPT ALL ({sql}))) + "
                f"(SELECT count(*) FROM (({sql}) EXCEPT ALL SELECT * FROM _actual))"
            ).fetchone()[0]
        finally:
            self.con.unregister("_actual")

    def close(self) -> None:
        self.con.close()


def mismatch(spark_cols, spark_rows, oracle_cols, oracle_rows) -> str | None:
    """None when both results hold the same columns and the same multiset
    of normalised rows, else a one-line reason."""
    if sorted(spark_cols) != sorted(oracle_cols):
        return f"columns {sorted(spark_cols)} != {sorted(oracle_cols)}"
    if len(spark_rows) != len(oracle_rows):
        return f"rows {len(spark_rows)} != {len(oracle_rows)}"
    ms = check_oracle.multiset(spark_rows, spark_cols)
    mo = check_oracle.multiset(oracle_rows, oracle_cols)
    if ms != mo:
        diff = (ms - mo) + (mo - ms)
        return f"values differ on {sum(diff.values())} rows"
    return None
