"""Event-time windowing over transcript turns.

The reference has NO windows (SURVEY.md §2.8 — pure arrival-order
processing with `WatermarkStrategy.noWatermarks()`,
UserBehaviorClickHouseSinkJob.java:65); the north rule adds
tumbling/sliding/session windows with event-time watermarks. All three
are native Spark operators (`F.window`, `F.session_window`) — hash
aggregations with map-side partial agg; no custom state code needed.

Each window count and session aggregation is defined once, here:
:func:`window_rows` and :func:`session_rows`. The batch queries project
them to ``_ms`` columns, the append-mode streams (streaming/pipeline.py)
run them over a watermarked turn stream, and the maintained views
(streaming/ivm.py) recompute them from state.

Scale notes:
- tumbling/sliding aggregate on (window, conv_id) — the window column
  widens the key space, so zipf-skew on conv_id is diluted per window;
  AQE skew handling covers the rest (plans/skew.py for the salted
  two-phase variant used when a single conv dominates a window).
- session windows keep per-key state in streaming; batch mode compiles
  to a sort-based session assignment within each conv_id partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType


def tumbling_counts(
    turns: DataFrame, size: str = "10 minutes"
) -> DataFrame:
    """Per-conv tumbling window: turn count + text-length sum (its own
    aggregation, not a projection of :func:`window_rows`: the sum)."""
    return (
        turns.groupBy(F.window("ts", size).alias("win"), "conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.length("text").cast(DecimalType(18, 2))).alias("sum_len"),
        )
        .select(
            F.unix_millis(F.col("win.start")).alias("win_start_ms"),
            F.unix_millis(F.col("win.end")).alias("win_end_ms"),
            "conv_id",
            "n_turns",
            "sum_len",
        )
    )


def window_rows(live: DataFrame, window: str, slide: str | None = None) -> DataFrame:
    """Per-conv window counts of the live turns: the tumbling view, or
    with ``slide`` the sliding one. ``F.window(ts, W, S)`` assigns each
    turn to its W/S covering windows, so a ts move leaves every window
    the turn covered and enters every window it now covers, with no
    per-membership retraction bookkeeping: the recompute stays one hash
    agg per touched conv."""
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        live.groupBy("conv_id", win.alias("win"))
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(
            "conv_id",
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "n_turns",
        )
    )


def session_rows(live: DataFrame, gap: str) -> DataFrame:
    """Turn-gap sessions of the live turns — the view append-mode
    session windows cannot maintain: a DELETED middle turn can SPLIT a
    session in two, and an update that moves a turn into a gap can
    MERGE two sessions; recompute-from-state yields the exact
    post-change sessions either way (tests/test_ivm.py). Its sink
    takes ``schema_ddl=ivm.SESSION_VIEW_DDL``."""
    return (
        live.groupBy("conv_id", F.session_window("ts", gap).alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.min("turn_idx").alias("first_turn"),
            F.max("turn_idx").alias("last_turn"),
        )
        .select(
            "conv_id",
            F.col("sw.start").alias("sess_start"),
            F.col("sw.end").alias("sess_end"),
            "n_turns",
            "first_turn",
            "last_turn",
        )
    )


def sliding_counts(
    turns: DataFrame, size: str = "10 minutes", slide: str = "5 minutes"
) -> DataFrame:
    """Per-conv sliding window counts (each row lands in size/slide
    windows — Spark expands via its internal window generator, no
    explode needed in user code): :func:`window_rows` keyed by the
    window start in epoch ms."""
    return window_rows(turns, size, slide).select(
        F.unix_millis("win_start").alias("win_start_ms"), "conv_id", "n_turns"
    )


def session_windows(
    turns: DataFrame, gap: str = "30 minutes"
) -> DataFrame:
    """Turn-gap sessionization per conv_id (north-rule requirement):
    a session extends while consecutive turns are ≤ gap apart; the
    session window spans [min ts, max ts + gap). :func:`session_rows`
    with its bounds in epoch ms."""
    return session_rows(turns, gap).select(
        F.unix_millis("sess_start").alias("sess_start_ms"),
        F.unix_millis("sess_end").alias("sess_end_ms"),
        "conv_id",
        "n_turns",
        "first_turn",
        "last_turn",
    )


def late_data_counts(
    events: DataFrame,
    size_ms: int = 600_000,
    delay_ms: int = 1_800_000,
    batch_ms: int = 600_000,
) -> DataFrame:
    """Batch twin of the streaming watermark late-drop semantics —
    oracle-checkable. The streaming form is
    streaming/pipeline.py:windowed_counts_stream, which runs
    :func:`window_rows` over a watermarked turn stream.

    Models Spark's per-microbatch watermark exactly: rows are grouped
    into arrival batches (``batch_id = floor(arrival_ms / batch_ms)``),
    the watermark seen by a batch is ``max(event ts of all PREVIOUS
    batches) − delay``, and a row is late-dropped iff its tumbling
    window has already closed (``win_end ≤ wm``) — the same rule the
    streaming state store applies. Output: per (window, conv_id) counts
    of on-time and late rows.

    Scale shape: the running max runs over the per-batch aggregate
    (one row per batch_ms of arrival time — tiny by construction, NOT
    proportional to data volume), which then broadcast-joins back to
    the events; the only data-sized exchanges are the two hash aggs.

    Input columns: conv_id, ts_ms (event time), arrival_ms (delivery
    order — the streaming analog is file-arrival order in the spool).
    """
    ev = events.withColumn(
        "batch_id", F.floor(F.col("arrival_ms") / F.lit(batch_ms))
    )
    per_batch = ev.groupBy("batch_id").agg(F.max("ts_ms").alias("mx"))
    wb = Window.orderBy("batch_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wm = per_batch.select(
        "batch_id", (F.max("mx").over(wb) - F.lit(delay_ms)).alias("wm")
    )
    win_start = (F.floor(F.col("ts_ms") / F.lit(size_ms)) * size_ms).cast(
        "long"
    )
    late = F.col("wm").isNotNull() & (win_start + size_ms <= F.col("wm"))
    return (
        ev.join(F.broadcast(wm), "batch_id")
        .groupBy(win_start.alias("win_start_ms"), F.col("conv_id"))
        .agg(
            F.sum(F.when(~late, 1).otherwise(0)).cast("bigint").alias(
                "n_on_time"
            ),
            F.sum(F.when(late, 1).otherwise(0)).cast("bigint").alias(
                "n_late"
            ),
        )
    )


def late_data_counts_sql(
    rel: str,
    size_ms: int = 600_000,
    delay_ms: int = 1_800_000,
    batch_ms: int = 600_000,
) -> str:
    """DuckDB twin of :func:`late_data_counts`. ``rel`` must project
    conv_id, ts_ms, arrival_ms."""
    return f"""
    WITH b AS (
      SELECT *, CAST(floor(arrival_ms / {batch_ms}.0) AS BIGINT) AS batch_id
      FROM ({rel})
    ),
    m AS (SELECT batch_id, max(ts_ms) AS mx FROM b GROUP BY batch_id),
    w AS (
      SELECT batch_id,
             max(mx) OVER (ORDER BY batch_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               - {delay_ms} AS wm
      FROM m
    ),
    f AS (
      SELECT b.conv_id,
             CAST(floor(b.ts_ms / {size_ms}.0) AS BIGINT) * {size_ms}
               AS win_start_ms,
             (w.wm IS NOT NULL AND
              CAST(floor(b.ts_ms / {size_ms}.0) AS BIGINT) * {size_ms}
                + {size_ms} <= w.wm) AS late
      FROM b JOIN w USING (batch_id)
    )
    SELECT win_start_ms, conv_id,
           CAST(count(*) FILTER (WHERE NOT late) AS BIGINT) AS n_on_time,
           CAST(count(*) FILTER (WHERE late) AS BIGINT) AS n_late
    FROM f GROUP BY 1, 2
    """
