"""SCD2 (type-2 slowly-changing-dimension) history from the changelog.

The reference pipeline materializes only the LATEST image of each row
(`MysqlSinkToMysqlJob.java` upserts, `operators/cdc.apply_changelog`
here). A training-data platform also wants the *history*: every text a
turn ever had, with its validity interval — e.g. to study assistant
edit behavior, to reproduce "the corpus as of seq S", or to audit what
a deleted turn said before deletion. This module derives that history
as one window pass over the same Debezium-shaped envelopes
(op/before/after/seq — `sources/transcripts.changelog_envelopes`):

- every non-null ``after`` image opens a version at ``seq``;
- an op='r' snapshot row that carries a pre-image (the D5 historical
  pair, `UserBehaviorDebeziumDeserializer.java:157-192`) additionally
  opens the pre-image as an EARLIER version at the same ``seq``
  (rank-ordered before the snapshot image, mirroring the 2-event
  history the reference emits for such rows);
- an op='d' closes the key's last open version without opening one.

``valid_from`` = the opening change's seq; ``valid_to`` = the next
change's seq on the same key (NULL while open); ``is_current`` = no
later change exists (so a deleted turn's final version has
``is_current = false`` with ``valid_to`` = the delete's seq).

Scale: one hash exchange on (conv_id, turn_idx) serves both window
functions (lead + row_number share the partitioning); the multi-emit
is a narrow explode. No joins, no driver state — at 10^12 turns this
is a single shuffle of (key, image) pairs, the same shape as
``apply_changelog``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_IMG_FIELDS = ("conv_id", "turn_idx", "role", "text", "tool", "ts")


def _change_row(src: str, rank: int, is_image: bool) -> "F.Column":
    """One (key, image, order) change struct from a before/after image."""
    fields = [F.col(f"{src}.{f}").alias(f) for f in _IMG_FIELDS]
    if not is_image:
        # delete marker: key + order only; image fields nulled so the
        # marker carries no payload past the lead() it exists for.
        fields = [
            F.col(f"{src}.{f}").alias(f)
            if f in ("conv_id", "turn_idx")
            else F.lit(None).cast("string" if f in ("role", "text", "tool") else "timestamp").alias(f)
            for f in _IMG_FIELDS
        ]
    return F.struct(
        *fields,
        F.col("seq").alias("valid_from"),
        F.lit(rank).cast("int").alias("rank"),
        F.lit(is_image).alias("is_image"),
    )


def scd2_history(envelopes: DataFrame) -> DataFrame:
    """All versions every (conv_id, turn_idx) ever had, with validity.

    Output: conv_id, turn_idx, version (1-based per key in change
    order), role, text, tool, ts, valid_from (seq), valid_to (next
    change's seq, NULL while open), is_current.
    """
    is_hist = (F.col("op") == "r") & F.col("before.conv_id").isNotNull()
    changes = (
        envelopes.select(
            F.explode(
                F.filter(
                    F.array(
                        F.when(is_hist, _change_row("before", 0, True)),
                        F.when(
                            F.col("after.conv_id").isNotNull(),
                            _change_row("after", 1, True),
                        ),
                        F.when(F.col("op") == "d", _change_row("before", 2, False)),
                    ),
                    lambda e: e.isNotNull(),
                )
            ).alias("ch")
        )
    ).select("ch.*")

    w = Window.partitionBy("conv_id", "turn_idx").orderBy("valid_from", "rank")
    return (
        changes.withColumn("valid_to", F.lead("valid_from").over(w))
        # closed-ness must see delete markers; lead(lit) is null only
        # at the true end of the key's change sequence
        .withColumn("open_end", F.lead(F.lit(1)).over(w).isNull())
        .where(F.col("is_image"))
        .withColumn("version", F.row_number().over(w))
        .select(
            "conv_id",
            "turn_idx",
            "version",
            "role",
            "text",
            "tool",
            F.unix_millis("ts").alias("ts_ms"),
            "valid_from",
            "valid_to",
            F.col("open_end").alias("is_current"),
        )
    )


def scd2_history_sql(mysql_changelog_sql: str, mongo_changelog_sql: str) -> str:
    """DuckDB oracle: same change-row construction over the flat SQL
    changelog twins, same (valid_from, rank) window. NULLS FIRST pins
    DuckDB's ordering to Spark's ascending-nulls-first default."""
    return f"""
WITH my AS ({mysql_changelog_sql}),
     mo AS ({mongo_changelog_sql}),
     ch AS (
       SELECT conv_id, turn_idx, role, before_text AS text, tool,
              before_ts AS ts, seq AS valid_from, 0 AS rank, TRUE AS is_image
       FROM my WHERE op = 'r' AND before_text IS NOT NULL
       UNION ALL
       SELECT conv_id, turn_idx, role, after_text, tool, ts, seq, 1, TRUE
       FROM my WHERE op != 'd'
       UNION ALL
       SELECT conv_id, turn_idx, NULL, NULL, NULL, NULL, seq, 2, FALSE
       FROM my WHERE op = 'd'
       UNION ALL
       SELECT conv_id, turn_idx, role, text, tool,
              make_timestamp(create_time_ms * 1000), create_time_ms, 1, TRUE
       FROM mo
     ),
     led AS (
       SELECT *,
              lead(valid_from) OVER w AS valid_to,
              (lead(1) OVER w IS NULL) AS is_current
       FROM ch
       WINDOW w AS (PARTITION BY conv_id, turn_idx
                    ORDER BY valid_from NULLS FIRST, rank)
     )
SELECT conv_id, turn_idx,
       CAST(row_number() OVER (PARTITION BY conv_id, turn_idx
                               ORDER BY valid_from NULLS FIRST, rank) AS INTEGER)
         AS version,
       role, text, tool, epoch_ms(ts) AS ts_ms, valid_from, valid_to, is_current
FROM led WHERE is_image
"""


def edit_churn(envelopes: DataFrame) -> DataFrame:
    """Per-conversation edit-behavior metrics from the before/after
    images: how often turns are edited and how much text each edit
    moves (Levenshtein distance + signed length delta). Covers op='u'
    AND the D5 historical pair (op='r' carrying a pre-image — an edit
    that predates the snapshot). No other query reads the before-image
    TEXT, so this pins that half of the envelope end-to-end.

    Scale: narrow filter + JVM levenshtein per edit row (edits are a
    small fraction of the feed), one hash agg on conv_id.
    """
    edits = envelopes.where(
        (F.col("op") == "u")
        | ((F.col("op") == "r") & F.col("before.conv_id").isNotNull())
    ).select(
        F.col("after.conv_id").alias("conv_id"),
        F.col("after.turn_idx").alias("turn_idx"),
        F.levenshtein("before.text", "after.text").alias("lev"),
        (
            F.length("after.text").cast("long")
            - F.length("before.text").cast("long")
        ).alias("len_delta"),
    )
    return edits.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_edits"),
        F.countDistinct("turn_idx").alias("turns_edited"),
        F.sum("lev").cast("long").alias("total_lev"),
        F.max("lev").cast("long").alias("max_lev"),
        F.sum("len_delta").alias("total_len_delta"),
    )


def edit_churn_sql(mysql_changelog_sql: str) -> str:
    """DuckDB oracle (mongo contributes no edits — insert-only dialect,
    so the mysql twin alone is the full feed's edit set)."""
    return f"""
WITH my AS ({mysql_changelog_sql}),
     ed AS (
       SELECT conv_id, turn_idx,
              levenshtein(before_text, after_text) AS lev,
              CAST(length(after_text) AS BIGINT)
                - CAST(length(before_text) AS BIGINT) AS len_delta
       FROM my
       WHERE op = 'u' OR (op = 'r' AND before_text IS NOT NULL)
     )
SELECT conv_id, COUNT(*) AS n_edits,
       COUNT(DISTINCT turn_idx) AS turns_edited,
       CAST(SUM(lev) AS BIGINT) AS total_lev,
       CAST(MAX(lev) AS BIGINT) AS max_lev,
       CAST(SUM(len_delta) AS BIGINT) AS total_len_delta
FROM ed GROUP BY conv_id
"""


def asof_snapshot(history: DataFrame, seq: int) -> DataFrame:
    """The corpus as of change-sequence ``seq``: the version of each
    key whose validity interval contains ``seq`` (time travel over the
    SCD2 table — no replay needed). A plain filter, so partition/file
    pruning on a valid_from-sorted layout applies."""
    return history.where(
        (F.col("valid_from") <= F.lit(seq))
        & (F.col("valid_to").isNull() | (F.col("valid_to") > F.lit(seq)))
    ).drop("is_current")


def asof_snapshot_sql(history_sql: str, seq: int) -> str:
    return f"""
WITH h AS ({history_sql})
SELECT conv_id, turn_idx, version, role, text, tool, ts_ms, valid_from, valid_to
FROM h
WHERE valid_from <= {seq} AND (valid_to IS NULL OR valid_to > {seq})
"""


def preference_pairs(envelopes: DataFrame, state: DataFrame) -> DataFrame:
    """DPO-style preference pairs mined from the CDC edit history: an
    assistant turn that was EDITED gives (rejected = the before-image
    text, chosen = the after-image text), prompted by the nearest
    preceding user turn. Only a changelog-native engine can produce
    this — the latest-image view has already forgotten the rejected
    side. Covers op='u' and the D5 historical pair (op='r' carrying a
    pre-image, `UserBehaviorDebeziumDeserializer.java:157-192`); a
    no-op edit (text unchanged) yields no pair.

    ``state`` is the served LWW corpus (``cdc.apply_changelog``):
    prompts come from what a curation pipeline would actually serve, so
    a user turn deleted by a later tombstone never prompts a pair
    (documented choice — "as of the edit" prompts would need an
    interval join per edit against the SCD2 table).

    Output: conv_id, turn_idx, prompt (NULL when no user turn precedes
    the edited turn), rejected, chosen, edit_seq — one row per edit
    envelope, keyed (conv_id, turn_idx, edit_seq).

    Scale: edits are a small fraction of the feed (narrow filter);
    prompts are resolved with the same union → one-window-pass shape as
    the as-of join (`joins.asof_join_backward`) — a single hash
    exchange on conv_id, no range-join explosion, no per-edit lookup.
    """
    edits = envelopes.where(
        (
            (F.col("op") == "u")
            | ((F.col("op") == "r") & F.col("before.conv_id").isNotNull())
        )
        & (F.col("after.role") == "assistant")
        & F.col("before.text").isNotNull()
        & F.col("after.text").isNotNull()
        & (F.col("before.text") != F.col("after.text"))
    ).select(
        F.col("after.conv_id").alias("conv_id"),
        F.col("after.turn_idx").alias("turn_idx"),
        F.lit(1).alias("_is_edit"),
        F.lit(None).cast("string").alias("_user_text"),
        F.col("before.text").alias("rejected"),
        F.col("after.text").alias("chosen"),
        F.col("seq").alias("edit_seq"),
    )
    users = state.where(F.col("role") == "user").select(
        "conv_id",
        "turn_idx",
        F.lit(0).alias("_is_edit"),
        F.col("text").alias("_user_text"),
        F.lit(None).cast("string").alias("rejected"),
        F.lit(None).cast("string").alias("chosen"),
        F.lit(None).cast("long").alias("edit_seq"),
    )
    # edit rows sort BEFORE user rows at equal turn_idx, so the edit's
    # running frame cannot include a user row at its own index — the
    # prompt is always STRICTLY preceding. Can't collide on this feed
    # (the edited turn is assistant-role in the served state) but
    # pinned for generic feeds where a later update could flip the
    # edited key's role to 'user' (review finding: the previous
    # ascending order included the same-index user row in the frame).
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx", F.desc("_is_edit"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        users.unionByName(edits)
        .withColumn("prompt", F.last("_user_text", ignorenulls=True).over(w))
        .where(F.col("_is_edit") == 1)
        .select("conv_id", "turn_idx", "prompt", "rejected", "chosen", "edit_seq")
    )


def preference_pairs_sql(
    mysql_changelog_sql: str, mongo_changelog_sql: str
) -> str:
    """DuckDB oracle: same LWW state reduction as CDC_APPLY_ORACLE,
    same union → window prompt resolution. Mongo contributes state
    rows (prompts) but no edits — its dialect is insert-only."""
    return f"""
WITH my AS ({mysql_changelog_sql}),
     mo AS ({mongo_changelog_sql}),
     env AS (
       SELECT op, conv_id, turn_idx, role, after_text, seq,
              CASE op WHEN 'd' THEN 3 WHEN 'u' THEN 2 WHEN 'c' THEN 1 ELSE 0 END AS op_rank
       FROM my
       UNION ALL
       SELECT 'c', conv_id, turn_idx, role, text, create_time_ms, 1
       FROM mo
     ),
     state AS (
       SELECT conv_id, turn_idx,
              max_by(op,   seq * 4 + op_rank) AS op,
              max_by(role, seq * 4 + op_rank) AS role,
              max_by(after_text, seq * 4 + op_rank) AS text
       FROM env GROUP BY conv_id, turn_idx
     ),
     edits AS (
       SELECT conv_id, turn_idx,
              before_text AS rejected, after_text AS chosen,
              seq AS edit_seq
       FROM my
       WHERE (op = 'u' OR (op = 'r' AND before_text IS NOT NULL))
         AND role = 'assistant'
         AND before_text IS NOT NULL AND after_text IS NOT NULL
         AND before_text != after_text
     ),
     tagged AS (
       SELECT conv_id, turn_idx, 0 AS is_edit, text AS user_text,
              CAST(NULL AS VARCHAR) AS rejected,
              CAST(NULL AS VARCHAR) AS chosen,
              CAST(NULL AS BIGINT) AS edit_seq
       FROM state WHERE op != 'd' AND role = 'user'
       UNION ALL
       SELECT conv_id, turn_idx, 1, NULL, rejected, chosen, edit_seq
       FROM edits
     ),
     prompted AS (
       SELECT *,
              LAST_VALUE(user_text IGNORE NULLS) OVER (
                PARTITION BY conv_id ORDER BY turn_idx, is_edit DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prompt
       FROM tagged
     )
SELECT conv_id, turn_idx, prompt, rejected, chosen, edit_seq
FROM prompted WHERE is_edit = 1
"""
