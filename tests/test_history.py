"""Semantic tests for the SCD2 changelog history (operators/history.py).

Oracle parity runs in tests/test_unregistered_oracles.py; this module
pins the semantics the hash can't explain: interval tiling, delete
closure, the D5 historical pair's same-seq version ordering, time
travel, and — the strongest invariant — that the is_current slice IS
the LWW materialized view (`cdc.apply_changelog`), row for row.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from flink_cdc_mysql_sink_to_mysql_spark.operators import cdc, history
from flink_cdc_mysql_sink_to_mysql_spark.sources.transcripts import (
    changelog_envelopes,
)
from tests.conftest import SF_CORRECT


@pytest.fixture(scope="module")
def hist(spark):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return history.scd2_history(
        changelog_envelopes(spark, SF_CORRECT)
    ).persist()


def test_versions_contiguous_and_single_current(hist):
    per_key = hist.groupBy("conv_id", "turn_idx").agg(
        F.count("*").alias("n"),
        F.max("version").alias("vmax"),
        F.min("version").alias("vmin"),
        F.sum(F.col("is_current").cast("int")).alias("n_current"),
    )
    assert per_key.where("vmin != 1 OR vmax != n").count() == 0
    assert per_key.where("n_current > 1").count() == 0


def test_intervals_tile_per_key(hist):
    """Within a key, version v's valid_to covers at least to version
    v+1's valid_from (equal unless a delete-reinsert gap intervenes —
    the generator never reinserts, so here: exactly equal)."""
    w_next = (
        hist.select("conv_id", "turn_idx", "version", "valid_from", "valid_to")
        .alias("a")
        .join(
            hist.select(
                "conv_id",
                "turn_idx",
                F.col("version").alias("nv"),
                F.col("valid_from").alias("next_from"),
            ).alias("b"),
            on=[
                F.col("a.conv_id") == F.col("b.conv_id"),
                F.col("a.turn_idx") == F.col("b.turn_idx"),
                F.col("a.version") + 1 == F.col("b.nv"),
            ],
        )
    )
    assert w_next.where("valid_to != next_from").count() == 0


def test_deleted_keys_fully_closed(hist, spark):
    env = changelog_envelopes(spark, SF_CORRECT)
    deleted = (
        env.where("op = 'd'")
        .select(
            F.col("before.conv_id").alias("conv_id"),
            F.col("before.turn_idx").alias("turn_idx"),
            F.col("seq").alias("del_seq"),
        )
        .distinct()
    )
    joined = hist.join(deleted, ["conv_id", "turn_idx"]).persist()
    assert joined.count() > 0
    # every version of a deleted key is closed; none is current; the
    # LAST version closes exactly at the delete's seq
    assert joined.where("valid_to IS NULL OR is_current").count() == 0
    last = joined.withColumn(
        "vmax",
        F.max("version").over(Window.partitionBy("conv_id", "turn_idx")),
    ).where("version = vmax")
    assert last.where("valid_to != del_seq").count() == 0
    joined.unpersist()


def test_historical_pair_same_seq_ordering(hist):
    """D5 snapshot rows carrying a pre-image yield two versions at the
    SAME valid_from, pre-image first, edit second."""
    v2 = hist.where("version = 2").select(
        "conv_id", "turn_idx", F.col("valid_from").alias("f2"),
        F.col("text").alias("t2"),
    )
    v1 = hist.where("version = 1").select(
        "conv_id", "turn_idx", F.col("valid_from").alias("f1"),
        F.col("text").alias("t1"),
    )
    pairs = v1.join(v2, ["conv_id", "turn_idx"])
    same_seq = pairs.where("f1 = f2").persist()
    assert same_seq.count() > 0
    assert (
        same_seq.where(
            (F.col("t2") != F.concat(F.col("t1"), F.lit(" [edited]")))
        ).count()
        == 0
    )
    same_seq.unpersist()


def test_current_slice_is_the_lww_view(hist, spark):
    """is_current ⇔ the row apply_changelog materializes: the SCD2
    table is a strict superset view of the reference sink's output."""
    cur = hist.where("is_current").select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts_ms"
    )
    lww = cdc.apply_changelog(changelog_envelopes(spark, SF_CORRECT)).select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "tool",
        F.unix_millis("ts").alias("ts_ms"),
    )
    assert cur.exceptAll(lww).count() == 0
    assert lww.exceptAll(cur).count() == 0


def test_edit_churn_measures_the_generator_suffix(spark):
    """Every generator edit appends exactly ' [edited]' (9 chars), so
    per-edit Levenshtein and length delta are both 9 — total_lev must
    be 9 × n_edits for every conversation, and edits must exist."""
    churn = history.edit_churn(changelog_envelopes(spark, SF_CORRECT))
    assert churn.count() > 0
    bad = churn.where(
        (F.col("total_lev") != 9 * F.col("n_edits"))
        | (F.col("total_len_delta") != 9 * F.col("n_edits"))
        | (F.col("max_lev") != 9)
    )
    assert bad.count() == 0


def test_edit_churn_oracle_sums_to_int64():
    """DuckDB sums BIGINT into HUGEINT (float64 in pandas), while Spark
    sums to int64; the oracle casts, so the two hash alike."""
    import duckdb

    from flink_cdc_mysql_sink_to_mysql_spark.sources.transcripts import (
        MYSQL_CHANGELOG_SQL,
    )
    from tests.conftest import SF_SMOKE, register_views

    con = duckdb.connect()
    register_views(con, SF_SMOKE)
    oracle = con.execute(history.edit_churn_sql(MYSQL_CHANGELOG_SQL)).df()
    assert len(oracle) > 0
    assert str(oracle["total_len_delta"].dtype) == "int64"


def test_asof_time_travel_shows_superseded_text(hist, spark):
    """Snapshotting just before an edit's valid_from returns the
    pre-edit version of that key."""
    edited = (
        hist.where("version = 2 AND valid_from > 0")
        .select("conv_id", "turn_idx", "valid_from")
        .orderBy("valid_from", "conv_id", "turn_idx")
        .first()
    )
    assert edited is not None
    seq = edited["valid_from"] - 1
    snap = history.asof_snapshot(hist, seq).where(
        (F.col("conv_id") == edited["conv_id"])
        & (F.col("turn_idx") == edited["turn_idx"])
    )
    rows = snap.collect()
    # either version 1 was already valid (shows old text) or the key
    # didn't exist yet; with valid_from strictly increasing per key and
    # v2 at valid_from, v1 must be the one visible at valid_from-1
    # UNLESS v1 shares the same seq (historical pair) — exclude those
    v1 = (
        hist.where("version = 1")
        .where(
            (F.col("conv_id") == edited["conv_id"])
            & (F.col("turn_idx") == edited["turn_idx"])
        )
        .first()
    )
    if v1["valid_from"] <= seq:
        assert len(rows) == 1 and rows[0]["version"] == 1
    else:
        assert rows == []


def test_preference_pairs_semantics(spark):
    """Pairs exist exactly for changed assistant-turn edits; rejected +
    ' [edited]' = chosen on this generator; the prompt is the nearest
    STRICTLY-preceding served user turn (or NULL when none precedes)."""
    env = changelog_envelopes(spark, SF_CORRECT)
    state = cdc.apply_changelog(env)
    pairs = history.preference_pairs(env, state).persist()
    try:
        n = pairs.count()
        assert n > 0
        # expected key set straight from the envelopes
        expected = (
            env.where(
                "(op = 'u' OR (op = 'r' AND before.conv_id IS NOT NULL)) "
                "AND after.role = 'assistant' "
                "AND before.text IS NOT NULL AND after.text IS NOT NULL "
                "AND before.text != after.text"
            )
            .select(
                F.col("after.conv_id").alias("conv_id"),
                F.col("after.turn_idx").alias("turn_idx"),
                F.col("seq").alias("edit_seq"),
            )
        )
        assert expected.count() == n
        assert (
            pairs.join(expected, ["conv_id", "turn_idx", "edit_seq"]).count()
            == n
        )
        # generator edit law: chosen = rejected + ' [edited]'
        assert (
            pairs.where(
                F.col("chosen") != F.concat(F.col("rejected"), F.lit(" [edited]"))
            ).count()
            == 0
        )
        # prompt law: equals the text of the max user turn_idx below the
        # edited turn in the served state; NULL iff no such turn
        users = state.where("role = 'user'").select(
            "conv_id",
            F.col("turn_idx").alias("u_idx"),
            F.col("text").alias("u_text"),
        )
        joined = (
            pairs.join(users, ["conv_id"], "left")
            .where(F.col("u_idx") < F.col("turn_idx"))
            .groupBy("conv_id", "turn_idx", "edit_seq", "prompt")
            .agg(F.max_by("u_text", "u_idx").alias("want"))
        )
        assert joined.where("prompt IS NULL OR prompt != want").count() == 0
        with_prompt = joined.count()
        assert (
            pairs.where("prompt IS NULL").count() == n - with_prompt
        )
    finally:
        pairs.unpersist()


def test_preference_pairs_never_prompts_with_deleted_user_turn(spark):
    """A user turn that the LWW state tombstoned must not prompt a
    pair — prompts come from the SERVED corpus (documented choice)."""
    rows = [
        # user turn 0 created then deleted; assistant turn 1 edited
        ("c", None, ("k1", 0, "user", "ask once", None), 100),
        ("d", ("k1", 0, "user", "ask once", None), None, 200),
        ("c", None, ("k1", 1, "assistant", "v1", None), 150),
        ("u", ("k1", 1, "assistant", "v1", None), ("k1", 1, "assistant", "v2", None), 300),
        # control conv: user turn survives
        ("c", None, ("k2", 0, "user", "kept ask", None), 100),
        ("c", None, ("k2", 1, "assistant", "a1", None), 150),
        ("u", ("k2", 1, "assistant", "a1", None), ("k2", 1, "assistant", "a2", None), 400),
    ]

    def img(t):
        if t is None:
            return None
        c, i, r, x, tool = t
        return (c, i, r, x, tool, None)

    env = spark.createDataFrame(
        [(op, img(b), img(a), s) for op, b, a, s in rows],
        "op string, before struct<conv_id:string,turn_idx:int,role:string,"
        "text:string,tool:string,ts:timestamp>, after struct<conv_id:string,"
        "turn_idx:int,role:string,text:string,tool:string,ts:timestamp>, "
        "seq long",
    )
    got = {
        r["conv_id"]: r["prompt"]
        for r in history.preference_pairs(env, cdc.apply_changelog(env)).collect()
    }
    assert got == {"k1": None, "k2": "kept ask"}


def test_preference_pair_prompt_is_strictly_preceding(spark):
    """Generic-feed guard: if a LATER update flips the edited key's
    role to 'user', the same-index state row must NOT become the
    edit's own prompt — prompts are strictly preceding (tie-break:
    edits sort before user rows at equal turn_idx)."""
    rows = [
        ("c", None, ("k", 1, "assistant", "a1", None, None), 100),
        # the edit that mines the pair
        ("u", ("k", 1, "assistant", "a1", None, None),
              ("k", 1, "assistant", "a2", None, None), 200),
        # later update flips the key's served role to user
        ("u", ("k", 1, "assistant", "a2", None, None),
              ("k", 1, "user", "now user text", None, None), 300),
    ]
    env = spark.createDataFrame(
        rows,
        "op string, before struct<conv_id:string,turn_idx:int,role:string,"
        "text:string,tool:string,ts:timestamp>, after struct<conv_id:string,"
        "turn_idx:int,role:string,text:string,tool:string,ts:timestamp>, "
        "seq long",
    )
    pairs = history.preference_pairs(env, cdc.apply_changelog(env)).collect()
    assert len(pairs) == 1
    assert pairs[0]["prompt"] is None  # NOT "now user text"
    assert (pairs[0]["rejected"], pairs[0]["chosen"]) == ("a1", "a2")
