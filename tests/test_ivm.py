"""Upsert/delete-aware windowed aggregates (streaming/ivm.py).

The maintained view must retract: an update that MOVES a turn across a
window boundary shifts a count between windows; a delete removes one;
an emptied conversation disappears from the view entirely. The
append-mode event-counting stream (pipeline.windowed_counts_stream)
cannot do any of that — this is the changelog-correct twin.
"""

from __future__ import annotations

import datetime as dt

import duckdb
from pyspark.sql import functions as F

from flink_cdc_mysql_sink_to_mysql_spark.sources import mysql_changelog
from flink_cdc_mysql_sink_to_mysql_spark.sources.transcripts import (
    MYSQL_CHANGELOG_SQL,
)
from flink_cdc_mysql_sink_to_mysql_spark.streaming import pipeline as pl
from flink_cdc_mysql_sink_to_mysql_spark.streaming.ivm import (
    SESSION_VIEW_DDL,
    GroupedReplaceParquetSink,
    session_state_stream,
    sessions_state_batch,
    sliding_state_batch,
    sliding_state_stream,
    windowed_state_batch,
    windowed_state_stream,
)
from flink_cdc_mysql_sink_to_mysql_spark.streaming.sink import MergeParquetSink
from tests.conftest import SF_SMOKE, register_views
from tests.util import assert_same

ENVELOPE_DDL = (
    "op string,"
    " before struct<conv_id:string,turn_idx:int,role:string,text:string,"
    "tool:string,ts:timestamp>,"
    " after struct<conv_id:string,turn_idx:int,role:string,text:string,"
    "tool:string,ts:timestamp>,"
    " source struct<db:string,table:string>, seq long"
)

T = dt.datetime(2024, 6, 1, 10, 0, 0)


def _crafted(spark):
    """Envelopes exercising exactly what append-mode windows get wrong:
    a cross-window ts move, a delete, and a fully-emptied conv."""
    s = ("db", "t")

    def turn(conv, idx, ts):
        return (conv, idx, "user", f"{conv}.{idx}", None, ts)

    rows = [
        # mv: turn inserted in window [10:00,10:10), then MOVED to [10:20,10:30)
        ("c", None, turn("mv", 1, T), s, 1),
        ("u", turn("mv", 1, T), turn("mv", 1, T + dt.timedelta(minutes=22)), s, 2),
        # mv keeps a second, unmoved turn in the first window
        ("c", None, turn("mv", 2, T + dt.timedelta(minutes=1)), s, 1),
        # del1: insert then delete one of two turns
        ("c", None, turn("del1", 1, T), s, 1),
        ("c", None, turn("del1", 2, T + dt.timedelta(minutes=2)), s, 1),
        ("d", turn("del1", 1, T), None, s, 3),
        # gone: conversation fully deleted → must vanish from the view
        ("c", None, turn("gone", 1, T), s, 1),
        ("d", turn("gone", 1, T), None, s, 2),
    ]
    return spark.createDataFrame(rows, ENVELOPE_DDL)


def _view_ms(df):
    return df.select(
        "conv_id",
        F.unix_millis("win_start").alias("win_start_ms"),
        F.unix_millis("win_end").alias("win_end_ms"),
        "n_turns",
    )


def _run(spark, env, tmp_path, n_chunks=3, window="10 minutes"):
    spool = str(tmp_path / "spool")
    pl.spool_changelog(env, spool, n_chunks=n_chunks)
    state = MergeParquetSink(str(tmp_path / "state"), n_buckets=8)
    view = GroupedReplaceParquetSink(str(tmp_path / "view"), n_buckets=8)
    windowed_state_stream(
        spark, spool, state, view, str(tmp_path / "ckpt"), window=window
    )
    return state, view


def test_view_retracts_moves_and_deletes(spark, tmp_path):
    env = _crafted(spark)
    _, view = _run(spark, env, tmp_path, n_chunks=2)
    got = {
        (r["conv_id"], r["win_start_ms"]): r["n_turns"]
        for r in _view_ms(view.read_view(spark)).collect()
    }
    t0 = int(T.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)
    min10 = 600_000
    assert got == {
        ("mv", t0): 1,           # turn 1 retracted (moved out), turn 2 stays
        ("mv", t0 + 2 * min10): 1,  # turn 1 landed two windows later
        ("del1", t0): 1,         # one of two turns deleted
    }
    # "gone" is absent entirely — its group was replaced with zero rows


def test_view_matches_batch_twin_on_changelog(spark, tmp_path):
    env = mysql_changelog(spark, SF_SMOKE).unionByName(_crafted(spark))
    _, view = _run(spark, env, tmp_path, n_chunks=4)
    assert_same(
        _view_ms(view.read_view(spark)),
        _view_ms(windowed_state_batch(env)).toPandas(),
        "ivm vs batch twin",
    )


def test_view_matches_duckdb_oracle(spark, tmp_path):
    """Independent engine check on the pure sf0.001 feed: the
    maintained view == DuckDB's window counts over the LWW state."""
    env = mysql_changelog(spark, SF_SMOKE)
    _, view = _run(spark, env, tmp_path)
    con = duckdb.connect()
    register_views(con, SF_SMOKE)
    oracle = con.sql(
        f"""
        WITH my AS ({MYSQL_CHANGELOG_SQL}),
        env AS (
          SELECT op, conv_id, turn_idx, ts, seq,
                 CASE op WHEN 'd' THEN 3 WHEN 'u' THEN 2
                         WHEN 'c' THEN 1 ELSE 0 END AS op_rank
          FROM my
        ),
        w AS (
          SELECT conv_id, turn_idx,
                 max_by(op, seq * 4 + op_rank) AS op,
                 max_by(epoch_ms(ts), seq * 4 + op_rank) AS ts_ms
          FROM env GROUP BY conv_id, turn_idx
        ),
        live AS (SELECT conv_id, ts_ms FROM w WHERE op != 'd')
        SELECT conv_id,
               CAST(floor(ts_ms / 600000) AS BIGINT) * 600000 AS win_start_ms,
               CAST(floor(ts_ms / 600000) AS BIGINT) * 600000 + 600000
                 AS win_end_ms,
               COUNT(*) AS n_turns
        FROM live GROUP BY 1, 2, 3
        """
    ).df()
    assert_same(_view_ms(view.read_view(spark)), oracle, "ivm vs duckdb")


def _run_sessions(spark, env, tmp_path, n_chunks=3, gap="30 minutes"):
    spool = str(tmp_path / "spool")
    pl.spool_changelog(env, spool, n_chunks=n_chunks)
    state = MergeParquetSink(str(tmp_path / "state"), n_buckets=8)
    view = GroupedReplaceParquetSink(
        str(tmp_path / "view"), n_buckets=8, schema_ddl=SESSION_VIEW_DDL
    )
    session_state_stream(
        spark, spool, state, view, str(tmp_path / "ckpt"), gap=gap
    )
    return state, view


def _sess_ms(df):
    return df.select(
        "conv_id",
        F.unix_millis("sess_start").alias("sess_start_ms"),
        F.unix_millis("sess_end").alias("sess_end_ms"),
        "n_turns",
        "first_turn",
        "last_turn",
    )


def test_session_view_splits_on_delete_and_merges_on_move(spark, tmp_path):
    """A deleted bridging turn SPLITS one session into two; an update
    moving a turn into a gap MERGES two sessions into one — neither is
    expressible by an append-mode session window."""
    s = ("db", "t")

    def turn(conv, idx, minutes):
        return (
            conv, idx, "user", f"{conv}.{idx}", None,
            T + dt.timedelta(minutes=minutes),
        )

    rows = [
        # split: turns at 0 / 20 / 40 min (gap 30 → ONE session),
        # then the bridging middle turn is deleted → TWO sessions
        ("c", None, turn("sp", 1, 0), s, 1),
        ("c", None, turn("sp", 2, 20), s, 1),
        ("c", None, turn("sp", 3, 40), s, 1),
        ("d", turn("sp", 2, 20), None, s, 2),
        # merge: turns at 0 and 60 min (two sessions), then a third
        # turn moves from 120 min into the gap at 30 → ONE session
        ("c", None, turn("mg", 1, 0), s, 1),
        ("c", None, turn("mg", 2, 60), s, 1),
        ("c", None, turn("mg", 3, 120), s, 1),
        ("u", turn("mg", 3, 120), turn("mg", 3, 30), s, 2),
    ]
    env = spark.createDataFrame(rows, ENVELOPE_DDL)
    _, view = _run_sessions(spark, env, tmp_path, n_chunks=2)
    got = {
        (r["conv_id"], r["sess_start_ms"]): (
            r["n_turns"], r["first_turn"], r["last_turn"],
        )
        for r in _sess_ms(view.read_view(spark)).collect()
    }
    t0 = int(T.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)
    mn = 60_000
    assert got == {
        ("sp", t0): (1, 1, 1),            # split: first fragment
        ("sp", t0 + 40 * mn): (1, 3, 3),  # split: second fragment
        ("mg", t0): (3, 1, 3),            # merge: one fused session
    }


def test_session_view_matches_batch_twin_and_oracle(spark, tmp_path):
    env = mysql_changelog(spark, SF_SMOKE)
    _, view = _run_sessions(spark, env, tmp_path)
    assert_same(
        _sess_ms(view.read_view(spark)),
        _sess_ms(sessions_state_batch(env)).toPandas(),
        "session ivm vs batch twin",
    )
    con = duckdb.connect()
    register_views(con, SF_SMOKE)
    oracle = con.sql(
        f"""
        WITH my AS ({MYSQL_CHANGELOG_SQL}),
        env AS (
          SELECT op, conv_id, turn_idx, ts, seq,
                 CASE op WHEN 'd' THEN 3 WHEN 'u' THEN 2
                         WHEN 'c' THEN 1 ELSE 0 END AS op_rank
          FROM my
        ),
        w AS (
          SELECT conv_id, turn_idx,
                 max_by(op, seq * 4 + op_rank) AS op,
                 max_by(epoch_ms(ts), seq * 4 + op_rank) AS ts_ms
          FROM env GROUP BY conv_id, turn_idx
        ),
        live AS (SELECT conv_id, turn_idx, ts_ms FROM w WHERE op != 'd'),
        m AS (SELECT *, CASE WHEN lag(ts_ms) OVER win IS NULL
                             OR ts_ms - lag(ts_ms) OVER win > 1800000
                        THEN 1 ELSE 0 END AS new_s
              FROM live WINDOW win AS (PARTITION BY conv_id
                                       ORDER BY ts_ms, turn_idx)),
        sd AS (SELECT *, SUM(new_s) OVER (PARTITION BY conv_id
                                          ORDER BY ts_ms, turn_idx
                                          ROWS UNBOUNDED PRECEDING) AS sid
               FROM m)
        SELECT conv_id, MIN(ts_ms) AS sess_start_ms,
               MAX(ts_ms) + 1800000 AS sess_end_ms,
               COUNT(*) AS n_turns, MIN(turn_idx) AS first_turn,
               MAX(turn_idx) AS last_turn
        FROM sd GROUP BY conv_id, sid
        """
    ).df()
    assert_same(_sess_ms(view.read_view(spark)), oracle, "session ivm vs duckdb")


def test_sliding_view_retracts_all_memberships(spark, tmp_path):
    """A ts move must leave EVERY window the turn covered (W/S = 2
    memberships at 10 min / 5 min) and enter every window it now
    covers; a delete retracts both memberships at once."""
    s = ("db", "t")

    def turn(conv, idx, minutes):
        return (
            conv, idx, "user", f"{conv}.{idx}", None,
            T + dt.timedelta(minutes=minutes),
        )

    rows = [
        # mv: turn at minute 7 covers windows starting 10:00 and 10:05;
        # moved to minute 21 → windows 10:15 and 10:20
        ("c", None, turn("mv", 1, 7), s, 1),
        ("u", turn("mv", 1, 7), turn("mv", 1, 21), s, 2),
        # anchor turn at minute 1 (windows 09:55 and 10:00) so the conv
        # keeps rows in the early windows
        ("c", None, turn("mv", 2, 1), s, 1),
        # del2: two turns in the same slide bucket, one deleted — both
        # covering windows drop from 2 to 1
        ("c", None, turn("del2", 1, 6), s, 1),
        ("c", None, turn("del2", 2, 8), s, 1),
        ("d", turn("del2", 1, 6), None, s, 3),
    ]
    env = spark.createDataFrame(rows, ENVELOPE_DDL)
    spool = str(tmp_path / "spool")
    pl.spool_changelog(env, spool, n_chunks=2)
    state = MergeParquetSink(str(tmp_path / "state"), n_buckets=8)
    view = GroupedReplaceParquetSink(str(tmp_path / "view"), n_buckets=8)
    sliding_state_stream(
        spark, spool, state, view, str(tmp_path / "ckpt"),
        window="10 minutes", slide="5 minutes",
    )
    got = {
        (r["conv_id"], r["win_start_ms"]): r["n_turns"]
        for r in _view_ms(view.read_view(spark)).collect()
    }
    t0 = int(T.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)
    mn = 60_000
    assert got == {
        ("mv", t0 - 5 * mn): 1,   # anchor @1: window 09:55
        ("mv", t0): 1,            # anchor @1: window 10:00 (moved turn gone)
        ("mv", t0 + 15 * mn): 1,  # moved turn @21: window 10:15
        ("mv", t0 + 20 * mn): 1,  # moved turn @21: window 10:20
        ("del2", t0): 1,          # survivor @8 only
        ("del2", t0 + 5 * mn): 1,
    }


def test_sliding_view_matches_batch_twin_and_oracle(spark, tmp_path):
    env = mysql_changelog(spark, SF_SMOKE)
    spool = str(tmp_path / "spool")
    pl.spool_changelog(env, spool, n_chunks=3)
    state = MergeParquetSink(str(tmp_path / "state"), n_buckets=8)
    view = GroupedReplaceParquetSink(str(tmp_path / "view"), n_buckets=8)
    sliding_state_stream(
        spark, spool, state, view, str(tmp_path / "ckpt"),
        window="10 minutes", slide="5 minutes",
    )
    assert_same(
        _view_ms(view.read_view(spark)),
        _view_ms(
            sliding_state_batch(env, "10 minutes", "5 minutes")
        ).toPandas(),
        "sliding ivm vs batch twin",
    )
    con = duckdb.connect()
    register_views(con, SF_SMOKE)
    # W/S = 2: each live turn belongs to the windows starting at
    # floor(ts/S)*S and floor(ts/S)*S − S
    oracle = con.sql(
        f"""
        WITH my AS ({MYSQL_CHANGELOG_SQL}),
        env AS (
          SELECT op, conv_id, turn_idx, ts, seq,
                 CASE op WHEN 'd' THEN 3 WHEN 'u' THEN 2
                         WHEN 'c' THEN 1 ELSE 0 END AS op_rank
          FROM my
        ),
        w AS (
          SELECT conv_id, turn_idx,
                 max_by(op, seq * 4 + op_rank) AS op,
                 max_by(epoch_ms(ts), seq * 4 + op_rank) AS ts_ms
          FROM env GROUP BY conv_id, turn_idx
        ),
        live AS (SELECT conv_id, ts_ms FROM w WHERE op != 'd'),
        memb AS (
          SELECT conv_id,
                 CAST(floor(ts_ms / 300000) AS BIGINT) * 300000
                   - off AS win_start_ms
          FROM live, (SELECT unnest([0, 300000]) AS off)
        )
        SELECT conv_id, win_start_ms, win_start_ms + 600000 AS win_end_ms,
               COUNT(*) AS n_turns
        FROM memb GROUP BY 1, 2
        """
    ).df()
    assert_same(_view_ms(view.read_view(spark)), oracle, "sliding ivm vs duckdb")


def test_replay_and_partial_commit_converge(spark, tmp_path):
    env = mysql_changelog(spark, SF_SMOKE).unionByName(_crafted(spark))
    expected = _view_ms(windowed_state_batch(env)).toPandas()

    # partial commit: the STATE sink already holds epoch 0 (crash hit
    # between the state commit and the view commit) — the stream must
    # replay epoch 0 as a state-skip + view-commit
    spool = str(tmp_path / "spool")
    paths = pl.spool_changelog(env, spool, n_chunks=3)
    state = MergeParquetSink(str(tmp_path / "state"), n_buckets=8)
    view = GroupedReplaceParquetSink(str(tmp_path / "view"), n_buckets=8)
    first = spark.read.schema(ENVELOPE_DDL).parquet(paths[0])
    state.merge_changelog(first, 0)

    windowed_state_stream(
        spark, spool, state, view, str(tmp_path / "ckpt")
    )
    assert_same(_view_ms(view.read_view(spark)), expected, "partial commit")

    # full replay through a fresh checkpoint: both sinks epoch-skip
    windowed_state_stream(
        spark, spool, state, view, str(tmp_path / "ckpt2")
    )
    assert_same(_view_ms(view.read_view(spark)), expected, "full replay")


def test_json_fed_view_with_dlq_and_evolved_column(spark, tmp_path):
    """One runner feeds a view from the JSON wire: malformed lines of all
    four quarantine reasons land in the DLQ, the view equals the batch
    twin over the good envelopes, the evolved ``rating`` column survives
    in the state, and a replay through a fresh checkpoint changes
    nothing and does not duplicate the DLQ."""
    from flink_cdc_mysql_sink_to_mysql_spark.operators import cdc
    from flink_cdc_mysql_sink_to_mysql_spark.sources.json_envelopes import (
        render_envelope_json,
    )
    from flink_cdc_mysql_sink_to_mysql_spark.streaming.ivm import _window_rows

    extra = {"rating": "int"}
    rating = (F.col("seq") % 7).cast("int")
    env = (
        mysql_changelog(spark, SF_SMOKE)
        .unionByName(_crafted(spark))
        .withColumn("after", F.col("after").withField("rating", rating))
        .withColumn("before", F.col("before").withField("rating", rating))
    )
    lines = [r["value"] for r in render_envelope_json(env).collect()]
    malformed = [
        ("not json {", "unparseable"),
        ('{"op":"upsert","after":{"conv_id":"x","turn_idx":1}}', "bad_op"),
        ('{"op":"c","seq":7}', "no_image"),
        ("   ", "empty_input"),
    ]
    spool = tmp_path / "spool"
    spool.mkdir()
    n_chunks = 3
    step = (len(lines) + n_chunks - 1) // n_chunks
    for i in range(n_chunks):
        part = lines[i * step : (i + 1) * step]
        # rejects mid-file: a file never ends in a blank line
        part = part[:1] + [raw for raw, _ in malformed] + part[1:]
        (spool / f"chunk-{i:03d}.json").write_text("\n".join(part) + "\n")

    state = MergeParquetSink(str(tmp_path / "state"), n_buckets=8, extra_fields=extra)
    view = GroupedReplaceParquetSink(str(tmp_path / "view"), n_buckets=8)
    dlq = str(tmp_path / "dlq")

    def drain(ckpt):
        pl.materialize_stream(
            spark, str(spool), state, str(tmp_path / ckpt), dlq_dir=dlq,
            view=(view, lambda live: _window_rows(live, "10 minutes")),
        )

    def dlq_rows():
        return sorted(map(tuple, pl.read_dlq(spark, dlq).select("_raw", "reason").collect()))

    expected_view = _view_ms(windowed_state_batch(env)).toPandas()
    expected_state = (
        cdc.apply_changelog(env, extra_image_fields=extra)
        .select("conv_id", "turn_idx", "rating")
        .toPandas()
    )
    drain("ckpt")
    assert_same(_view_ms(view.read_view(spark)), expected_view, "json view")
    assert dlq_rows() == sorted(malformed * n_chunks)
    got_state = state.snapshot(spark).select("conv_id", "turn_idx", "rating")
    assert_same(got_state, expected_state, "rated state")
    assert got_state.where(F.col("rating").isNotNull()).count() > 0

    drain("ckpt2")
    assert_same(_view_ms(view.read_view(spark)), expected_view, "replayed view")
    assert dlq_rows() == sorted(malformed * n_chunks)
    assert_same(
        state.snapshot(spark).select("conv_id", "turn_idx", "rating"),
        expected_state,
        "replayed state",
    )


def test_commit_path_builds_no_cache(spark, tmp_path, monkeypatch):
    """Neither sink caches: draining a 2-file IVM stream and a plain
    MERGE stream calls persist/cache on no DataFrame. foreachBatch runs
    in this Python process, so the patched methods (on the concrete
    DataFrame class, which overrides the abstract one's) see its calls."""
    env = mysql_changelog(spark, SF_SMOKE).unionByName(_crafted(spark))
    expected = _view_ms(windowed_state_batch(env)).toPandas()
    spool = str(tmp_path / "spool")
    pl.spool_changelog(env, spool, n_chunks=2)

    calls = []
    cls = type(env)
    for name in ("persist", "cache"):

        def counted(self, *args, _name=name, _real=getattr(cls, name), **kw):
            calls.append(_name)
            return _real(self, *args, **kw)

        monkeypatch.setattr(cls, name, counted)

    state = MergeParquetSink(str(tmp_path / "state"), n_buckets=8)
    view = GroupedReplaceParquetSink(str(tmp_path / "view"), n_buckets=8)
    windowed_state_stream(spark, spool, state, view, str(tmp_path / "ckpt"))
    plain = MergeParquetSink(str(tmp_path / "plain"), n_buckets=8)
    pl.materialize_stream(spark, spool, plain, str(tmp_path / "ckpt2"))
    assert calls == []
    assert_same(_view_ms(view.read_view(spark)), expected, "uncached view")
    assert_same(plain.snapshot(spark), state.snapshot(spark).toPandas(), "plain")


def test_view_sink_compact_vacuum_and_keeps_serving(spark, tmp_path):
    """The view sink inherits the MERGE sink's maintenance: after a
    trickled stream fragments it across version dirs, compact + vacuum
    fold and reclaim them without changing the view, and later
    replace-commits keep working (maintenance is not end-of-life)."""
    import os

    env = mysql_changelog(spark, SF_SMOKE)
    state, view = _run(spark, env, tmp_path)
    before = sorted(map(tuple, _view_ms(view.read_view(spark)).collect()))
    assert len(before) > 0
    verdirs = [d for d in os.listdir(view.root) if d.startswith("v")]
    assert len(verdirs) > 1  # fragmented: one dir per touching epoch

    out = view.compact(spark)
    assert out["compacted"]
    v = view.vacuum()
    assert len(v["removed_dirs"]) >= 1
    after = sorted(map(tuple, _view_ms(view.read_view(spark)).collect()))
    assert after == before

    # the sink still accepts replace commits after maintenance
    keys = spark.createDataFrame([("c0",)], "conv_id string")
    rows = view.read_view(spark).where(F.col("conv_id") == "c0").limit(0)
    view.replace_groups(keys, rows, epoch_id=99_999)  # full delete of c0
    assert (
        view.read_view(spark).where(F.col("conv_id") == "c0").count() == 0
    )


def test_view_crash_after_swap_keeps_the_epoch_record(spark, tmp_path):
    """A crash right after the view's manifest swap keeps the epoch's
    commit record (it is inside the swapped manifest), and the replay
    epoch-skips without writing a second one."""
    import json
    import os

    import pytest

    view = GroupedReplaceParquetSink(str(tmp_path / "view"), n_buckets=4)
    keys = spark.createDataFrame([("a",), ("b",)], "conv_id string")
    rows = spark.createDataFrame(
        [("a", T, T + dt.timedelta(minutes=10), 2)],
        "conv_id string, win_start timestamp, win_end timestamp, n_turns long",
    )
    real_commit = view._commit_manifest

    def swap_then_crash(manifest):
        real_commit(manifest)
        raise RuntimeError("crash after the manifest swap")

    view._commit_manifest = swap_then_crash
    with pytest.raises(RuntimeError, match="after the manifest swap"):
        view.replace_groups(keys, rows, epoch_id=1)
    view._commit_manifest = real_commit

    def log():
        with open(os.path.join(view.root, "_manifest.json")) as f:
            return json.load(f)["log"]

    (rec,) = log()
    assert rec["epoch"] == 1 and rec["buckets"]
    assert view.replace_groups(keys, rows, epoch_id=1).get("skipped")
    assert log() == [rec]
    assert view.read_view(spark).count() == 1
