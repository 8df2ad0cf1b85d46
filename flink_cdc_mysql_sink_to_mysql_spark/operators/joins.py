"""Stream-stream / turn-pairing joins.

North rule: join user-turns to assistant/tool-turns on conv_id with an
event-time bound. The reference only has a union (U1); this is the new
stateful capability, defined once here in two steps: :func:`turn_roles`
(role split) and :func:`pair_responses` (time-bounded pairing);
:func:`user_turn_responses` composes them (batch, oracle-checkable).
streaming/pipeline.py:stream_stream_join watermarks each side between
the two steps: a join's watermark is the minimum over its inputs, while
one watermark set before the split would let a leading role's turns
close the state a lagging role's replies still need.

Scale: an equi-join on conv_id with a range predicate on ts — Spark
plans a sort-merge join on conv_id partitions; the time bound prunes
state in streaming. Hot conv_ids are handled by AQE skew-join splitting
(plans/skew.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def turn_roles(
    turns: DataFrame, respond_roles: tuple[str, ...] = ("assistant", "tool")
) -> tuple[DataFrame, DataFrame]:
    """(user side, responder side) of the turns: ``u_conv, u_idx,
    u_ts`` and ``a_conv, a_idx, a_role, a_ts``."""
    u = turns.where(F.col("role") == "user").select(
        F.col("conv_id").alias("u_conv"),
        F.col("turn_idx").alias("u_idx"),
        F.col("ts").alias("u_ts"),
    )
    a = turns.where(F.col("role").isin(*respond_roles)).select(
        F.col("conv_id").alias("a_conv"),
        F.col("turn_idx").alias("a_idx"),
        F.col("role").alias("a_role"),
        F.col("ts").alias("a_ts"),
    )
    return u, a


def pair_responses(
    u: DataFrame, a: DataFrame, max_delay: str = "INTERVAL 30 MINUTES"
) -> DataFrame:
    """Pair each user-side row with every responder-side row in the
    same conversation within (u_ts, u_ts + max_delay]."""
    cond = (
        (u["u_conv"] == a["a_conv"])
        & (a["a_ts"] > u["u_ts"])
        & (a["a_ts"] <= u["u_ts"] + F.expr(max_delay))
    )
    return u.join(a, cond, "inner").select(
        F.col("u_conv").alias("conv_id"),
        "u_idx",
        "a_idx",
        "a_role",
        (F.unix_millis("a_ts") - F.unix_millis("u_ts")).alias("latency_ms"),
    )


def user_turn_responses(
    turns: DataFrame,
    max_delay: str = "INTERVAL 30 MINUTES",
    respond_roles: tuple[str, ...] = ("assistant", "tool"),
) -> DataFrame:
    """Pair each user turn with every assistant/tool turn in the same
    conversation within (u.ts, u.ts + max_delay]."""
    return pair_responses(*turn_roles(turns, respond_roles), max_delay)


def first_response(turns: DataFrame, max_delay: str = "INTERVAL 30 MINUTES") -> DataFrame:
    """The FIRST responding turn per user turn (min latency, tie-broken
    by smallest responder turn_idx) — one keyed min_by aggregation, no
    window sort."""
    pairs = user_turn_responses(turns, max_delay)
    pick = F.struct("latency_ms", "a_idx", "a_role")
    return (
        pairs.groupBy("conv_id", "u_idx")
        .agg(F.min(pick).alias("w"))
        .select(
            "conv_id",
            "u_idx",
            F.col("w.a_idx").alias("a_idx"),
            F.col("w.a_role").alias("a_role"),
            F.col("w.latency_ms").alias("latency_ms"),
        )
    )


def asof_join_backward(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    payload: list[str],
    inclusive: bool = True,
) -> DataFrame:
    """Backward as-of join: attach to each left row the right row with
    the greatest ``right_ts`` ≤ ``left_ts`` (strictly < if not
    inclusive) for the same ``key`` — the operator Spark SQL lacks
    (DuckDB spells it ASOF JOIN; the oracle uses exactly that).

    NOT a range join: composed as union → one window pass —
      1. tag right rows rank=0, left rows rank=1 (flipped if strict),
         union by name;
      2. per-key window ordered by (ts, rank) with a RUNNING rows frame
         (unbounded preceding → current): ``last(payload, ignorenulls)``
         carries the latest right payload forward;
      3. keep left rows; unmatched lefts get NULL payload.

    Scale shape: ONE shuffle on ``key`` + an in-partition sort; the
    running frame is streamed (no per-key buffering beyond the sort),
    so memory is O(1) per row. A hot key costs its own sort only —
    bounded by conversation length, never by corpus size — vs the
    pair-explosion a `l.ts >= r.ts` range join would plan. Ties on
    (key, right_ts) are pre-reduced to the max payload struct so the
    result is deterministic in both engines.

    Output: every left column, plus a ``matched`` struct of the right
    payload (NULL when no right row precedes).
    """
    r_rank, l_rank = (0, 1) if inclusive else (1, 0)
    pay = F.struct(*[F.col(c) for c in payload])
    r = (
        # NULL right_ts rows can never satisfy `right_ts <= left_ts` —
        # drop them up front. Without this, NULLs sort FIRST in the
        # window and last(__p, ignorenulls) would carry their payload
        # into every left row, diverging from ASOF-join semantics (and
        # the DuckDB oracle, whose `ON l.ts >= r.ts` rejects NULL).
        right.where(F.col(right_ts).isNotNull())
        .select(
            F.col(key).alias("__k"),
            F.col(right_ts).alias("__ts"),
            pay.alias("__p"),
        )
        .groupBy("__k", "__ts")
        .agg(F.max("__p").alias("__p"))
        .withColumn("__rk", F.lit(r_rank))
    )
    l = left.select(
        F.struct("*").alias("__l"),
        F.col(key).alias("__k"),
        F.col(left_ts).alias("__ts"),
        F.lit(l_rank).alias("__rk"),
    )
    u = l.unionByName(r, allowMissingColumns=True)
    w = (
        Window.partitionBy("__k")
        .orderBy("__ts", "__rk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        u.withColumn("matched", F.last("__p", ignorenulls=True).over(w))
        .where(F.col("__l").isNotNull())
        .select("__l.*", "matched")
    )


def asof_prev_user(turns: DataFrame) -> DataFrame:
    """Each assistant turn joined (as-of, backward, inclusive) to the
    most recent user turn at-or-before it in the same conversation;
    unmatched → −1 (the engine's NULL→−1 sink convention)."""
    a = turns.where(F.col("role") == "assistant").select(
        "conv_id", "turn_idx", "ts"
    )
    usr = turns.where(F.col("role") == "user")
    j = asof_join_backward(
        a, usr, key="conv_id", left_ts="ts", right_ts="ts",
        payload=["turn_idx", "ts"],
    )
    return j.select(
        "conv_id",
        F.col("turn_idx").alias("a_idx"),
        F.coalesce(F.col("matched.turn_idx"), F.lit(-1)).alias("u_idx"),
        F.coalesce(
            F.unix_millis("ts") - F.unix_millis("matched.ts"), F.lit(-1)
        ).cast("long").alias("gap_ms"),
    )


def asof_prev_user_sql(rel: str) -> str:
    """DuckDB oracle: native ASOF LEFT JOIN over the same tie-reduced
    user side."""
    return f"""
    WITH t AS ({rel}),
    a AS (SELECT conv_id, turn_idx, ts FROM t WHERE role = 'assistant'),
    u AS (SELECT conv_id, ts, MAX(turn_idx) AS u_turn
          FROM t WHERE role = 'user' GROUP BY conv_id, ts)
    SELECT a.conv_id, a.turn_idx AS a_idx,
           COALESCE(u.u_turn, -1) AS u_idx,
           CAST(COALESCE(epoch_ms(a.ts) - epoch_ms(u.ts), -1) AS BIGINT)
             AS gap_ms
    FROM a ASOF LEFT JOIN u
      ON a.conv_id = u.conv_id AND a.ts >= u.ts
    """
