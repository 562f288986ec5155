"""Lineage cuts: the one place a plan is materialized mid-query.

``cut(df, label)`` is the engine's only ``localCheckpoint``. Every query,
operator and loop that cuts lineage calls it, so the policy (always lazy),
the job labelling and the pre-cut plan hand-off live here once.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame

#: ``(label, pre-cut physical plan text)`` sink, or None (production).
_recorder: Callable[[str, str], None] | None = None


@contextmanager
def recording(recorder: Callable[[str, str], None]) -> Iterator[None]:
    """Hand every ``cut()`` made inside the block to ``recorder`` as
    ``(label, plan)``, where ``plan`` is the physical plan the cut hides
    from the returned DataFrame's own plan (it shows only a
    ``Scan ExistingRDD`` there). Plan sweeps install one; nothing else
    does, so production pays no plan-to-string cost."""
    global _recorder
    prev, _recorder = _recorder, recorder
    try:
        yield
    finally:
        _recorder = prev


def cut(df: DataFrame, label: str) -> DataFrame:
    """``df`` with its lineage cut: a lazy ``localCheckpoint``.

    Cut only where one of these holds:

    - a subtree has two or more consumers and exchange reuse does not
      cover them (the consumers differ above a shared scan or aggregate,
      so each would re-derive it from the source);
    - loop state whose plan would otherwise grow with the round count
      (a round that references its input k times plans k^rounds copies).

    Otherwise leave the plan whole: Catalyst and AQE see across it, and a
    cut costs a planning pass. The cut is always lazy. Under AQE the
    upstream shuffle stages still run as soon as the cut is planned (each
    stage is materialized before the next is re-planned, the partial DAG
    execution of Shark, SIGMOD 2013); only the cut's last stage waits for
    the first consumer's job. An eager cut would add a count job on top.

    Jobs the cut runs carry the description ``cut:<label>``; the caller's
    description is restored afterwards and its job group is left alone, so
    per-group attribution is unchanged. Under ``recording`` the label and
    the pre-cut plan are handed to the recorder first.
    """
    if _recorder is not None:
        _recorder(label, df._jdf.queryExecution().executedPlan().toString())
    sc = df.sparkSession.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setLocalProperty("spark.job.description", f"cut:{label}")
    try:
        return df.localCheckpoint(eager=False)
    finally:
        sc.setLocalProperty("spark.job.description", prev)
