"""Batch twins of the streaming operators (SURVEY.md §2.2 "Streaming").

Each query runs the exact window expression the streaming path uses
(``F.window`` / ``F.session_window`` behave identically on static input), so
the DuckDB oracle checks the streaming semantics in batch; the streaming
execution itself is verified by identity with these twins in
``tests/test_streaming.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ab_inbev_big_data_case_spark.functions.money import (
    cents,
    cents_sql,
    money,
    money_sql,
)
from ab_inbev_big_data_case_spark.operators.relational import dedup_deterministic
from ab_inbev_big_data_case_spark.registry import register
from ab_inbev_big_data_case_spark.sources.readers import table
from ab_inbev_big_data_case_spark.streaming.windows import (
    session_agg,
    sliding_agg,
    tumbling_agg,
)


@register(
    "tumbling_window_agg",
    oracle="""
    SELECT time_bucket(INTERVAL '1 day', ts) AS window_start,
           time_bucket(INTERVAL '1 day', ts) + INTERVAL '1 day' AS window_end,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day windows per event type."""
    e = table(spark, sf_dir, "events")
    return tumbling_agg(
        e,
        "ts",
        "1 day",
        ["event_type"],
        [
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        ],
    )


@register(
    "sliding_window_agg",
    oracle="""
    SELECT ws AS window_start,
           ws + INTERVAL '1 hour' AS window_end,
           count(*) AS n_events
    FROM (
        SELECT unnest([
            time_bucket(INTERVAL '30 minutes', ts),
            time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'
        ]) AS ws
        FROM events
    )
    GROUP BY 1, 2
    """,
)
def sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour windows every 30 minutes (each event in 2 windows)."""
    e = table(spark, sf_dir, "events")
    return sliding_agg(
        e, "ts", "1 hour", "30 minutes", [], [F.count("*").alias("n_events")]
    )


@register(
    "session_window_agg",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), numbered AS (
        SELECT *, sum(new_session) OVER (
            PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM flagged
    )
    SELECT min(ts) AS session_start,
           max(ts) + INTERVAL '30 minutes' AS session_end,
           user_id,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM numbered
    GROUP BY user_id, session_id
    """,
)
def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows per user, 30-minute gap (merge when gap < 30 min;
    session_end = last event + gap). Oracle is the classic gaps-and-islands
    formulation of the same semantics."""
    e = table(spark, sf_dir, "events")
    return session_agg(
        e,
        "ts",
        "30 minutes",
        ["user_id"],
        [
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        ],
    )


@register(
    "dedup_first_seen",
    oracle="""
    SELECT event_id, ts AS first_ts, event_type
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY event_id
            ORDER BY ts NULLS FIRST, user_id NULLS FIRST, event_type NULLS FIRST,
                     value NULLS FIRST, props NULLS FIRST
        ) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def dedup_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming stateful dedup: first-seen row per event_id
    (streaming path: withWatermark + dropDuplicates, jobs.stateful_dedup)."""
    e = table(spark, sf_dir, "events")
    first = dedup_deterministic(
        e, ["event_id"], ["ts", "user_id", "event_type", "value", "props"]
    )
    return first.select("event_id", F.col("ts").alias("first_ts"), "event_type")


@register(
    "late_data_filter",
    oracle="""
    SELECT event_id, ts, event_type
    FROM events
    WHERE ts >= (SELECT max(ts) - INTERVAL '24 hours' FROM events)
    """,
)
def late_data_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark semantics in batch: keep only rows within the allowed
    lateness horizon of the max event time seen."""
    e = table(spark, sf_dir, "events")
    horizon = e.agg(
        (F.max("ts") - F.expr("INTERVAL 24 HOURS")).alias("__horizon")
    )
    return (
        e.crossJoin(F.broadcast(horizon))
        .filter(F.col("ts") >= F.col("__horizon"))
        .select("event_id", "ts", "event_type")
    )


@register(
    "sessionize_lag_cumsum",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    )
    SELECT user_id,
           (sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS session_id,
           ts
    FROM flagged
    """,
)
def sessionize_lag_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization as an operator COMPOSITION (lag → gap flag → running
    sum), assigning a per-user session id to every event — the general
    gaps-and-islands pattern that `session_window_agg` specializes; also the
    fallback formulation when session_window isn't available."""
    from pyspark.sql import Window as W

    e = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts")
    flagged = e.select(
        "user_id",
        "ts",
        F.when(
            F.lag("ts").over(w).isNull()
            # µs precision: cast-to-long truncates to seconds and misflags
            # gaps within a second of the threshold
            | (
                F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
                >= 1800 * 1_000_000
            ),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("new_session"),
    )
    return flagged.select(
        "user_id",
        F.sum("new_session")
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("session_id"),
        "ts",
    )


@register(
    "interval_join_purchase_click",
    oracle=f"""
    SELECT p.event_id AS purchase_id,
           c.event_id AS click_id,
           p.user_id AS user_id,
           p.ts AS purchase_ts,
           c.ts AS click_ts,
           round({money_sql('p.value')}, 2)::DOUBLE AS purchase_value_r
    FROM events p JOIN events c
      ON c.user_id = p.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts >= p.ts - INTERVAL '6 hours'
     AND c.ts <= p.ts + INTERVAL '6 hours'
    """,
)
def interval_join_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the watermarked stream-stream interval join
    (``streaming.jobs.stream_stream_join``): purchases paired with same-user
    clicks whose event time lies within ±6 hours — the classic
    click-attribution join. The twin calls the STREAMING operator itself on
    static input (``withWatermark`` is optimizer-eliminated in batch), so
    the oracle checks the exact join predicate the live path runs;
    ``tests/test_streaming.py`` then asserts the live multi-batch execution
    reproduces this query row-for-row.

    Scale shape: in batch this plans as an equi-join on user_id with a
    residual time-range predicate — one keyed shuffle, no time blow-up. In
    streaming, the watermark + two-sided time bound caps buffered state at
    ~(2·gap + delay) of events per side regardless of stream length — the
    pair of bounds is what makes the operator runnable forever."""
    from ab_inbev_big_data_case_spark.streaming.jobs import stream_stream_join

    e = table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id", "value"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "ts", "user_id"
    )
    joined = stream_stream_join(
        purchases, clicks, "user_id", "ts", delay="1 hour", max_gap="6 hours"
    )
    return joined.select(
        F.col("event_id").alias("purchase_id"),
        F.col("r_event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("r_ts").alias("click_ts"),
        F.round(money(F.col("value")), 2)
        .cast("double")
        .alias("purchase_value_r"),
    )


@register(
    "interval_join_unmatched_purchases",
    oracle=f"""
    SELECT p.event_id AS purchase_id,
           p.user_id AS user_id,
           p.ts AS purchase_ts,
           round({money_sql('p.value')}, 2)::DOUBLE AS purchase_value_r
    FROM events p
    WHERE p.event_type = 'purchase'
      AND NOT EXISTS (
          SELECT 1 FROM events c
          WHERE c.event_type = 'click'
            AND c.user_id = p.user_id
            AND c.ts >= p.ts - INTERVAL '6 hours'
            AND c.ts <= p.ts + INTERVAL '6 hours'
      )
    """,
)
def interval_join_unmatched_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the LEFT OUTER watermarked stream-stream interval join:
    purchases with NO same-user click within ±6 hours — the unattributed
    set the outer join's null-emission path produces in streaming. The twin
    calls ``stream_stream_join(..., how='left_outer')`` itself on static
    input and keeps the null-right rows, so the oracle (a NOT EXISTS
    anti-join) checks exactly the rows the live path emits once the
    watermark passes each purchase's match window;
    ``tests/test_streaming.py`` drives that emission with a trailing
    watermark-pushing row and asserts identity.

    Scale shape: batch plans this as an anti-join (one keyed shuffle). In
    streaming, state is the same ~(2·gap + delay)-bounded buffer as the
    inner join, plus the null emission on watermark-driven eviction —
    the mechanism that makes outer stream joins terminate."""
    from ab_inbev_big_data_case_spark.streaming.jobs import stream_stream_join

    e = table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id", "value"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "ts", "user_id"
    )
    joined = stream_stream_join(
        purchases,
        clicks,
        "user_id",
        "ts",
        delay="1 hour",
        max_gap="6 hours",
        how="left_outer",
    )
    return joined.filter(F.col("r_event_id").isNull()).select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.round(money(F.col("value")), 2)
        .cast("double")
        .alias("purchase_value_r"),
    )


@register(
    "chained_window_daily_peak",
    oracle=f"""
    WITH hourly AS (
        SELECT time_bucket(INTERVAL '1 hour', ts) AS h,
               event_type,
               sum({cents_sql('value')})::BIGINT AS cents
        FROM events
        GROUP BY 1, 2
    )
    SELECT time_bucket(INTERVAL '1 day', h) AS day_start,
           time_bucket(INTERVAL '1 day', h) + INTERVAL '1 day' AS day_end,
           event_type,
           max(cents)::BIGINT AS peak_window_cents,
           count(*)::BIGINT AS n_active_windows
    FROM hourly
    GROUP BY 1, 2, 3
    """,
)
def chained_window_daily_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of CHAINED streaming windows (Spark 3.4+ multiple
    stateful operators): hourly revenue-cents sums per event type, rolled
    up to the daily PEAK hour — the 'busiest hour per day' dashboard
    shape that, live, runs both stateful stages in one append-mode query
    chained through ``window_time`` (see
    ``streaming.windows.chained_tumbling_peak``;
    ``tests/test_streaming.py`` drives the live two-stage path and asserts
    identity with this twin).

    Exactness: hourly sums are exact integer cents; max/count of exact
    ints is exact — no floats anywhere.

    Scale shape: two keyed aggregations, the second over the
    calendar-bounded (day × type) spine of hourly partials — the classic
    pre-aggregation rollup that makes the coarse stage cost-free at 100 TB.
    """
    from ab_inbev_big_data_case_spark.streaming.windows import (
        chained_tumbling_peak,
    )

    e = table(spark, sf_dir, "events")
    hourly_cents = F.sum(cents(F.col("value"))).cast("long")
    return chained_tumbling_peak(e, "ts", ["event_type"], hourly_cents)
