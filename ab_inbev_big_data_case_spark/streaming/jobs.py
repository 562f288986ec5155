"""Streaming job surface: sources, watermarking, stateful ops, sinks.

The boundary the reference crosses by polling Glue
(``airflow/dags/etl_api.py:189-196``) disappears in-process: a streaming
query is started and driven to completion synchronously for tests
(``processAllAvailable``), or left running under a trigger in deployment.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def _event_time_legal(dt: T.DataType) -> T.DataType:
    """Spark 4.x refuses ``withWatermark`` on TIMESTAMP_NTZ
    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE): watermarks compare event times
    across executors, which needs an instant, not a wall-clock. Parquet
    written from tz-naive fixtures carries NTZ, so the streaming source
    boundary rewrites NTZ → TIMESTAMP_LTZ in the read schema. Both types
    are raw micros on disk and the session timezone is pinned UTC
    (``session.py``), so values are bit-identical — only the watermark
    legality changes."""
    if isinstance(dt, T.TimestampNTZType):
        return T.TimestampType()
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_event_time_legal(dt.elementType), dt.containsNull)
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _event_time_legal(f.dataType), f.nullable)
                for f in dt.fields
            ]
        )
    return dt


def stream_from_parquet(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """File-based streaming source (one file = one micro-batch for tests;
    production would point at an arriving-files directory or Kafka).

    NTZ timestamp fields in ``schema`` are read as TIMESTAMP_LTZ so every
    downstream watermark consumer gets a legal event-time type (see
    :func:`_event_time_legal`)."""
    return spark.readStream.schema(_event_time_legal(schema)).parquet(path)


def with_watermark(df: DataFrame, ts_col: str, delay: str) -> DataFrame:
    """Bound state: rows later than ``delay`` behind the max event time seen
    are dropped and window state older than that is evicted — this is what
    makes unbounded streams runnable in bounded memory at scale."""
    return df.withWatermark(ts_col, delay)


def stateful_dedup(df: DataFrame, keys: list[str], ts_col: str, delay: str) -> DataFrame:
    """Streaming dedup: first-seen row per key wins (reference R5 made
    incremental).

    Uses ``dropDuplicatesWithinWatermark`` so the state store actually evicts
    entries once they age past the watermark. Plain ``withWatermark +
    dropDuplicates(keys)`` only evicts when the event-time column is part of
    the dedup keys — with keys alone the state grows without bound on a real
    stream."""
    return df.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(keys)


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "complete"):
    """Drive a streaming query over all currently-available input and stop.
    Returns the SparkSession-queryable in-memory table name."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return name


def running_count_per_key(
    df: DataFrame, key_col: str
) -> DataFrame:
    """Arbitrary stateful op via applyInPandasWithState: cumulative event
    count per key across micro-batches (the custom-stateful-operator surface,
    SURVEY.md §2.2 streaming)."""

    out_schema = T.StructType(
        [
            T.StructField(key_col, T.LongType()),
            T.StructField("n_events", T.LongType()),
        ]
    )
    state_schema = T.StructType([T.StructField("count", T.LongType())])

    def update(key, pdf_iter, state: GroupState):
        n = sum(len(pdf) for pdf in pdf_iter)
        total = (state.get[0] if state.exists else 0) + n
        state.update((total,))
        yield pd.DataFrame({key_col: [key[0]], "n_events": [total]})

    return df.groupBy(key_col).applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def stream_to_parquet_checkpointed(
    stream_df: DataFrame,
    out_path: str,
    checkpoint_path: str,
    partition_cols: list[str] | None = None,
):
    """Fault-tolerant streaming sink: checkpointed foreachBatch parquet
    writes.

    The checkpoint (WAL + source offsets) gives at-least-once batch
    delivery; writing each micro-batch into a ``batch_id=N`` subdirectory
    with overwrite mode makes replays idempotent → effectively exactly-once
    at the file level (the standard foreachBatch pattern for sinks without
    native transactional support). Downstream reads the directory tree as
    one partitioned dataset.

    Returns the started StreamingQuery; caller drives it
    (``processAllAvailable``/``awaitTermination``).
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        writer = batch_df.write.mode("overwrite")
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.parquet(f"{out_path}/batch_id={batch_id}")

    return (
        stream_df.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_path)
        .foreachBatch(write_batch)
        .start()
    )


def transform_with_state_available() -> bool:
    """True when Spark 4.x ``transformWithStateInPandas`` can actually run:
    its driver<->worker state protocol is protobuf-based, so the
    ``google.protobuf`` Python package must be importable (verified
    empirically — without it the TWS driver worker crashes with
    ImportError in StateMessage_pb2 during state-schema validation)."""
    try:
        from google.protobuf import descriptor  # noqa: F401
        from pyspark.sql.streaming.stateful_processor import (  # noqa: F401
            StatefulProcessor,
        )
        return True
    except ImportError:
        return False


def running_count_per_key_tws(df: DataFrame, key_col: str) -> DataFrame:
    """``transformWithStateInPandas`` twin of :func:`running_count_per_key`
    — the Spark 4.x arbitrary-state API (typed ValueState, timers, multiple
    state variables) replacing ``applyInPandasWithState``.

    Deployment seam like ``sources.writers.write_layer``: the container
    lacks the ``google-protobuf`` package the TWS runtime needs, so this
    raises a clear ImportError here; on a cluster with protobuf installed
    (plus ``spark.sql.streaming.stateStore.providerClass`` set to the
    RocksDB provider, which TWS requires) the same code runs as-is.
    """
    if not transform_with_state_available():
        raise ImportError(
            "transformWithStateInPandas needs the google-protobuf Python "
            "package (absent in this environment); use "
            "running_count_per_key (applyInPandasWithState) instead"
        )
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    out_schema = T.StructType(
        [
            T.StructField(key_col, T.LongType()),
            T.StructField("n_events", T.LongType()),
        ]
    )

    class RunningCount(StatefulProcessor):
        def init(self, handle) -> None:
            self._count = handle.getValueState(
                "count", T.StructType([T.StructField("c", T.LongType())])
            )

        def handleInputRows(self, key, rows, timer_values):
            n = sum(len(pdf) for pdf in rows)
            prev = self._count.get()
            total = (prev[0] if prev else 0) + n
            self._count.update((total,))
            yield pd.DataFrame({key_col: [key[0]], "n_events": [total]})

        def close(self) -> None:
            pass

    return df.groupBy(key_col).transformWithStateInPandas(
        statefulProcessor=RunningCount(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    ts_col: str,
    delay: str,
    max_gap: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join: rows pair on ``key_col`` when
    their event times are within ``max_gap`` of each other.

    Both sides carry a watermark AND the join has a time-range predicate —
    that pair of bounds is what lets Spark evict buffered rows once the
    other stream's watermark passes them; an unconstrained stream-stream
    join would buffer both streams forever. Left columns keep their names,
    right columns get an ``r_`` prefix.

    ``how='left_outer'`` emits (left, nulls) for rows that found no match
    — but only once the watermark has passed the row's entire match window
    (ts + max_gap + delay), because until then a matching right row could
    still arrive. A test driving this path must push the watermark past
    the data (e.g. one trailing non-matching row) or the unmatched rows
    stay buffered forever.
    """
    l = left.withWatermark(ts_col, delay)
    r = right.withWatermark(ts_col, delay)
    for c in right.columns:
        r = r.withColumnRenamed(c, f"r_{c}")
    return l.join(
        r,
        F.expr(
            f"{key_col} = r_{key_col} AND "
            f"r_{ts_col} >= {ts_col} - INTERVAL {max_gap} AND "
            f"r_{ts_col} <= {ts_col} + INTERVAL {max_gap}"
        ),
        how,
    )


def stream_static_join(
    stream: DataFrame,
    static_dim: DataFrame,
    on: list[str],
    how: str = "inner",
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins against the
    static dimension — the canonical streaming lookup (fact stream ×
    slowly-refreshed dim table).

    The static side needs no watermark and holds no join state: Spark
    re-plans it per micro-batch, so a broadcast hint keeps every batch
    join exchange-free (dim ships once per executor). Unlike
    stream-stream, NO buffering is involved — semantics are exactly
    per-batch ``batch ⋈ dim``, which also means the dim is re-read per
    batch and may observe dim updates between batches (the point, for a
    refreshing dimension; pin a snapshot upstream if that is unwanted).
    Stream side must be the left/preserved side: outer joins that would
    need to wait for future stream rows are not meaningful here.
    """
    return stream.join(F.broadcast(static_dim), on, how)


def stream_upsert_sink(
    stream_df: DataFrame,
    path: str,
    keys: list[str],
    order_col: str,
    checkpoint_dir: str,
):
    """Streaming keyed upsert: foreachBatch -> :func:`sources.writers.
    upsert_by_key` with keep-latest-by-``order_col`` semantics.

    Why foreachBatch: Structured Streaming's file sink is append-only; a
    keyed MERGE needs batch-side logic. foreachBatch hands each micro-batch
    to ordinary batch code, and on recovery REPLAYS the last uncommitted
    batch — so the sink body must be idempotent. ``upsert_by_key``'s
    order_col rule (an update wins only if its version >= current) makes
    replays no-ops, which is the exactly-once-effective contract
    (checkpoint tracks progress, idempotent merge absorbs duplicates).
    """

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        from ab_inbev_big_data_case_spark.sources.writers import upsert_by_key

        if batch_df.isEmpty():
            return
        upsert_by_key(
            batch_df.sparkSession, batch_df, path, keys, order_col=order_col
        )

    return (
        stream_df.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )


def stream_upsert_deltalite(
    stream_df: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    order_col: str,
    app_id: str,
):
    """Streaming keyed upsert into a delta-lite ACID table: foreachBatch →
    ``DeltaLiteTable.merge`` carrying the protocol's SetTransaction
    (``txn``) action with (app_id, batch_id).

    Exactly-once-effective the way the real Delta streaming sink is: the
    checkpoint tracks source progress, and on recovery the REPLAYED
    micro-batch hits the log's recorded (appId, version) watermark and
    merges as a no-op — idempotency lives in the transaction log, not in
    fragile sink-side ordering rules (contrast :func:`stream_upsert_sink`,
    the plain-parquet variant that relies on order_col monotonicity).

    ``app_id`` is REQUIRED and names the logical job (ADVICE r7): it must be
    STABLE across checkpoint resets (that stability is the whole recovery
    guarantee) yet UNIQUE per query writing this table — two queries sharing
    one app_id would shadow each other's batch_ids and silently skip
    batches. No default can satisfy both, so the caller chooses.

    A micro-batch can carry SEVERAL updates for one key (source files
    coalesce into one batch under availableNow): the batch is first
    reduced to its latest row per key (max ``order_col``, the table's
    merge keys from its own configuration) — MERGE semantics need
    distinct update keys.

    Scale shape: each micro-batch is one keyed window + one stats-pruned
    MERGE (only files whose footer key envelope overlaps the batch's keys
    rewrite)."""
    from pyspark.sql import Window

    from ab_inbev_big_data_case_spark.sources.txlog import DeltaLiteTable

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        t = DeltaLiteTable(batch_df.sparkSession, table_path)
        keys = [
            k
            for k in t._replay()
            .metadata["configuration"]
            .get("deltalite.keys", "")
            .split(",")
            if k
        ]
        w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc())
        latest = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        t.merge(latest, txn_app=app_id, txn_version=batch_id)

    return (
        stream_df.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )


def stream_page_hinkley(
    stream_df: DataFrame,
    global_mean_cents: float,
    delta: float = 0.005,
    lam: float = 2.0,
    state: dict | None = None,
):
    """Live Page–Hinkley drift monitor as a checkpoint-shaped foreachBatch:
    the streaming counterpart of ``queries.timeseries.page_hinkley_drift``
    (whose docstring promises exactly this — 'a production stream replaces
    the spine scan with incremental state').

    State is O(1) regardless of stream length: (i, su, m, min_m, max_ph,
    first_alarm_day, n_alarm_days) — the recurrence m_t = m_{t-1} +
    (u_t − ū_t − δ), PH_t = m_t − min_{s≤t} m_s needs only the running
    count, running Σu, running m, and running min. Here the state dict is
    driver-held (a production job persists it in the checkpoint or a
    ``transformWithState`` handle); ``global_mean_cents`` is the
    normalizer computed in a prior calibration pass, as any deployed
    monitor does (the batch query can use the in-sample mean because it
    sees all data at once).

    Each micro-batch must deliver day-complete rows in day order (one
    file per chunk with maxFilesPerTrigger=1 ON THE READER gives that
    from a file source); rows within a batch are sorted by day before
    folding. The
    per-batch collect() is day-spine-bounded — monitor state, not data
    movement.

    Exactness (bit-for-bit with the batch twin): the batch query
    quantizes u and each increment term to DECIMAL(38,8) with HALF_UP
    rounding before the exact-decimal prefix sums. This fold mirrors
    that recurrence with ``decimal.Decimal``: each double intermediate
    is quantized via ``Decimal(repr(x)).quantize(1E-8, ROUND_HALF_UP)``
    — identical to Spark's ``round(double, 8)``, which is
    ``BigDecimal.valueOf(d).setScale(8, HALF_UP)`` on the same shortest
    decimal representation — and the running sums/min/max stay exact
    decimals, so the alarm counts and first-alarm day are identities,
    not approximations (Python's float ``round()`` is half-to-even and
    would diverge on .5 ties at the 8th place). The alarm compare casts
    PH back to double first, mirroring the batch decimal>double
    comparison.

    Returns the started StreamingQuery; read results from ``state``
    (``su``/``m``/``min_m``/``max_ph`` are ``Decimal``; ``float()`` them
    for reporting)."""
    from decimal import ROUND_HALF_UP, Decimal

    q8 = Decimal("1E-8")

    def round8(x: float) -> Decimal:
        return Decimal(repr(x)).quantize(q8, rounding=ROUND_HALF_UP)

    st = state if state is not None else {}
    st.setdefault("i", 0)
    st.setdefault("su", Decimal(0))
    st.setdefault("m", Decimal(0))
    st.setdefault("min_m", Decimal(0))
    st.setdefault("max_ph", Decimal(0))
    st.setdefault("first_alarm_day", None)
    st.setdefault("n_alarm_days", 0)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        for row in batch_df.orderBy("day").collect():
            u = round8(row["cents"] / global_mean_cents)
            st["i"] += 1
            st["su"] += u
            term = round8(float(u) - float(st["su"]) / st["i"] - delta)
            st["m"] += term
            st["min_m"] = min(st["min_m"], st["m"])
            ph = st["m"] - st["min_m"]
            st["max_ph"] = max(st["max_ph"], ph)
            if float(ph) > lam:
                st["n_alarm_days"] += 1
                if st["first_alarm_day"] is None:
                    st["first_alarm_day"] = row["day"]

    return (
        stream_df.writeStream.outputMode("append").foreachBatch(fold).start()
    )
