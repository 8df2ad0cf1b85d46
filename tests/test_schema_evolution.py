"""Schema evolution end-to-end: an upstream column appears on the wire
(Debezium picks up an added table column) → the drift detector flags it
→ the parse schema widens (`parse_envelope_lines(extra_image_fields=)`)
→ the evolved column rides the envelopes, the LWW materialization, and
the exactly-once MERGE sink — with old data NULL-filled on read (the
Iceberg add-column semantic), narrowing prevented (a maintenance reopen
auto-adopts the table-owned schema), and type changes refused.
"""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from flink_cdc_mysql_sink_to_mysql_spark.operators import cdc
from flink_cdc_mysql_sink_to_mysql_spark.sources.json_envelopes import (
    parse_envelope_lines,
    schema_drift_stats,
    split_quarantine,
)
from flink_cdc_mysql_sink_to_mysql_spark.streaming.pipeline import (
    envelope_ddl,
    materialize_stream,
)
from flink_cdc_mysql_sink_to_mysql_spark.streaming.sink import MergeParquetSink

EXTRA = {"rating": "int"}
WIDE_DDL = envelope_ddl(EXTRA)


def _img(conv, idx, role, text, rating=None):
    return (conv, idx, role, text, None, None, rating)


def _env_df(spark, rows):
    return spark.createDataFrame(
        [(op, b, a, None, s) for op, b, a, s in rows], WIDE_DDL
    )


def test_apply_changelog_carries_evolved_column(spark):
    rows = [
        ("c", None, _img("k1", 0, "user", "hi"), 100),
        ("c", None, _img("k1", 1, "assistant", "v1", rating=3), 200),
        # the edit updates the rating too — LWW must pick 5
        ("u", _img("k1", 1, "assistant", "v1", 3), _img("k1", 1, "assistant", "v2", 5), 300),
    ]
    out = cdc.apply_changelog(_env_df(spark, rows), extra_image_fields=EXTRA)
    got = {(r["turn_idx"]): (r["text"], r["rating"]) for r in out.collect()}
    assert got == {0: ("hi", None), 1: ("v2", 5)}


def test_sink_widens_on_reopen_and_nullfills_old_rows(spark, tmp_path):
    root = str(tmp_path / "table")
    # epoch 1: pre-evolution writer
    pre = _env_df(
        spark,
        [
            ("c", None, _img("a", 0, "user", "old row"), 100),
            ("c", None, _img("b", 0, "user", "old row b"), 110),
        ],
    ).select("op", F.col("before").dropFields("rating").alias("before"),
             F.col("after").dropFields("rating").alias("after"), "source", "seq")
    sink0 = MergeParquetSink(root=root, n_buckets=4)
    sink0.merge_changelog(pre, 1)

    # reopen WITH the evolved column; epoch 2 carries it
    sink1 = MergeParquetSink(root=root, n_buckets=4, extra_fields=dict(EXTRA))
    post = _env_df(
        spark,
        [
            ("c", None, _img("a", 1, "assistant", "new row", rating=4), 200),
        ],
    )
    res = sink1.merge_changelog(post, 2)
    assert not res.get("skipped")

    snap = sink1.snapshot(spark)
    assert "rating" in snap.columns
    got = {
        (r["conv_id"], r["turn_idx"]): r["rating"] for r in snap.collect()
    }
    # old rows (including the UNTOUCHED bucket of conv b) read NULL
    assert got == {("a", 0): None, ("b", 0): None, ("a", 1): 4}

    # manifest records the table-owned schema
    with open(f"{root}/_manifest.json") as f:
        manifest = json.load(f)
    assert manifest["extra_fields"] == [["rating", "int"]]

    # epoch replay stays a no-op after evolution
    assert sink1.merge_changelog(post, 2).get("skipped")


def test_maintenance_reopen_adopts_stored_schema(spark, tmp_path):
    root = str(tmp_path / "table")
    sink = MergeParquetSink(root=root, n_buckets=4, extra_fields=dict(EXTRA))
    sink.merge_changelog(
        _env_df(spark, [("c", None, _img("a", 0, "user", "x", 7), 100)]), 1
    )
    # reopened WITHOUT extras (a maintenance job that doesn't know the
    # schema) — must adopt, not narrow
    plain = MergeParquetSink(root=root, n_buckets=4)
    snap = plain.snapshot(spark)
    assert [r["rating"] for r in snap.collect()] == [7]
    # compaction through the plain handle preserves the evolved column
    plain.compact(spark)
    plain.vacuum()
    snap2 = MergeParquetSink(root=root, n_buckets=4).snapshot(spark)
    assert [r["rating"] for r in snap2.collect()] == [7]
    with open(f"{root}/_manifest.json") as f:
        assert json.load(f)["extra_fields"] == [["rating", "int"]]


def test_type_conflict_refused(spark, tmp_path):
    root = str(tmp_path / "table")
    sink = MergeParquetSink(root=root, n_buckets=4, extra_fields=dict(EXTRA))
    sink.merge_changelog(
        _env_df(spark, [("c", None, _img("a", 0, "user", "x", 1), 100)]), 1
    )
    bad = MergeParquetSink(root=root, n_buckets=4, extra_fields={"rating": "string"})
    with pytest.raises(ValueError, match="immutable"):
        bad.read(spark)


def test_wire_drift_detect_then_evolve_parse(spark):
    base = {
        "op": "c",
        "after": {"conv_id": "w1", "turn_idx": 0, "role": "user", "text": "hello"},
        "seq": 1,
    }
    evolved = {
        "op": "c",
        "after": {
            "conv_id": "w1",
            "turn_idx": 1,
            "role": "assistant",
            "text": "graded",
            "rating": 9,
        },
        "seq": 2,
    }
    raw = spark.createDataFrame(
        [(json.dumps(base),), (json.dumps(evolved),)], "value string"
    )
    # 1) detection: the unknown key is visible drift
    drift = {
        (r["scope"], r["key"]): r["n"]
        for r in schema_drift_stats(raw).collect()
    }
    assert drift == {("after", "rating"): 1}
    # 2) evolution: widen the parse; the key stops being drift and the
    # value is captured losslessly
    assert schema_drift_stats(raw, extra_image_fields=EXTRA).count() == 0
    good, bad = split_quarantine(
        parse_envelope_lines(raw, extra_image_fields=EXTRA)
    )
    assert bad.count() == 0
    got = {r["after"]["turn_idx"]: r["after"]["rating"] for r in good.collect()}
    assert got == {0: None, 1: 9}


def test_streaming_materialize_with_evolved_column(spark, tmp_path):
    spool = tmp_path / "spool"
    # chunk 0: PRE-evolution spool file (no rating field at all) — the
    # widened stream schema must NULL-fill it, not choke on it
    spark.createDataFrame(
        [("c", None, ("s0", 0, "user", "legacy", None, None), None, 50)],
        envelope_ddl(),
    ).coalesce(1).write.parquet(str(spool))
    _env_df(
        spark,
        [
            ("c", None, _img("s1", 0, "user", "q"), 100),
            ("c", None, _img("s1", 1, "assistant", "a1", 2), 200),
            ("u", _img("s1", 1, "assistant", "a1", 2), _img("s1", 1, "assistant", "a2", 5), 300),
        ],
    ).coalesce(1).write.mode("append").parquet(str(spool))
    sink = MergeParquetSink(
        root=str(tmp_path / "table"), n_buckets=4, extra_fields=dict(EXTRA)
    )
    materialize_stream(
        spark,
        str(spool),
        sink,
        str(tmp_path / "ckpt"),
    )
    got = {
        (r["conv_id"], r["turn_idx"]): (r["text"], r["rating"])
        for r in sink.snapshot(spark).collect()
    }
    assert got == {
        ("s0", 0): ("legacy", None),
        ("s1", 0): ("q", None),
        ("s1", 1): ("a2", 5),
    }


def _rated(conv, idx, minute, rating):
    ts = dt.datetime(2024, 6, 1, 10, minute)
    return (conv, idx, "user", f"{conv}.{idx}", None, ts, rating)


def _ratings(sink, spark):
    return {
        (r["conv_id"], r["turn_idx"]): r["rating"]
        for r in sink.snapshot(spark).collect()
    }


def test_view_stream_keeps_evolved_column(spark, tmp_path):
    """A maintained view over an evolved state table: the stream reads
    its spool with the table's schema, so the state keeps the ratings
    instead of merging NULLs."""
    from flink_cdc_mysql_sink_to_mysql_spark.streaming.ivm import (
        GroupedReplaceParquetSink,
        windowed_state_stream,
    )

    spool = str(tmp_path / "spool")
    _env_df(
        spark,
        [
            ("c", None, _rated("v1", 0, 0, 7), 100),
            ("c", None, _rated("v1", 1, 1, 9), 200),
        ],
    ).coalesce(1).write.parquet(spool)
    state = MergeParquetSink(
        root=str(tmp_path / "state"), n_buckets=4, extra_fields=dict(EXTRA)
    )
    view = GroupedReplaceParquetSink(str(tmp_path / "view"), n_buckets=4)
    windowed_state_stream(spark, spool, state, view, str(tmp_path / "ckpt"))
    assert _ratings(state, spark) == {("v1", 0): 7, ("v1", 1): 9}
    assert [r["n_turns"] for r in view.read_view(spark).collect()] == [2]


def test_bootstrap_then_tail_keeps_evolved_column(spark, tmp_path):
    """Called the way the apply job's --bootstrap calls it (no schema
    argument), the tail must not write NULL over the ratings the
    bootstrap just committed."""
    from flink_cdc_mysql_sink_to_mysql_spark.streaming import pipeline as pl

    snapshot = _env_df(
        spark,
        [
            ("r", None, _rated("b1", 0, 0, 7), 100),
            ("r", None, _rated("b1", 1, 1, 3), 110),
        ],
    )
    spool = str(tmp_path / "spool")
    _env_df(
        spark,
        [
            ("u", _rated("b1", 0, 0, 7), _rated("b1", 0, 0, 8), 200),
            ("c", None, _rated("b1", 2, 2, 9), 210),
        ],
    ).coalesce(1).write.parquet(spool)
    sink = MergeParquetSink(
        root=str(tmp_path / "table"), n_buckets=4, extra_fields=dict(EXTRA)
    )
    pl.bootstrap_then_tail(spark, snapshot, spool, sink, str(tmp_path / "ckpt"))
    assert _ratings(sink, spark) == {("b1", 0): 8, ("b1", 1): 3, ("b1", 2): 9}


def test_union_with_mongo_nullfills_evolved_column(spark, tmp_path):
    """Both dialect feeds under an evolved schema: the mysql side
    carries the new column, the mongo collection does NOT — the union
    stays well-typed and mongo rows read NULL; a mongo collection that
    DID evolve contributes real values."""
    from flink_cdc_mysql_sink_to_mysql_spark.streaming import pipeline as pl
    from flink_cdc_mysql_sink_to_mysql_spark.streaming.pipeline import (
        mongo_ddl,
    )

    my = _env_df(
        spark, [("c", None, _img("m1", 0, "assistant", "sql side", 8), 100)]
    )
    # base-schema mongo feed (collection not evolved)
    mo_base = spark.createDataFrame(
        [("insert", (("x1",), "g1", 0, "user", "mongo side", None, (555,)))],
        mongo_ddl(),
    )
    env = cdc.union_feeds(my, mo_base, extra_image_fields=EXTRA)
    got = {
        r["after"]["conv_id"]: r["after"]["rating"] for r in env.collect()
    }
    assert got == {"m1": 8, "g1": None}

    # evolved mongo collection carries the value
    mo_wide = spark.createDataFrame(
        [("insert", (("x2",), "g2", 0, "user", "mongo wide", None, (556,), 6))],
        mongo_ddl(EXTRA),
    )
    env2 = cdc.union_feeds(my, mo_wide, extra_image_fields=EXTRA)
    got2 = {
        r["after"]["conv_id"]: r["after"]["rating"] for r in env2.collect()
    }
    assert got2 == {"m1": 8, "g2": 6}

    # end-to-end: both spools stream into an evolved sink
    my_spool, mo_spool = str(tmp_path / "my"), str(tmp_path / "mo")
    my.coalesce(1).write.parquet(my_spool)
    mo_wide.coalesce(1).write.parquet(mo_spool)
    sink = MergeParquetSink(
        root=str(tmp_path / "table"), n_buckets=4, extra_fields=dict(EXTRA)
    )
    pl.materialize_stream(
        spark,
        my_spool,
        sink,
        str(tmp_path / "ck"),
        mongo_spool_dir=mo_spool,
    )
    snap = {
        r["conv_id"]: r["rating"] for r in sink.snapshot(spark).collect()
    }
    assert snap == {"m1": 8, "g2": 6}


def test_evolved_fields_and_type_normalization(spark, tmp_path):
    """Review-finding guards: (1) a FRESH table created with a
    non-lowercase type spec must not wedge itself on the next read
    ('INT' vs 'int' false type-change); (2) `evolved_fields()` exposes
    the table-owned set to a plain reopen so the apply job can widen
    the STREAM schema from the table, not just the CLI flag — feeding
    an evolved sink from a base-schema stream would LWW NULLs over
    stored values."""
    root = str(tmp_path / "table")
    sink = MergeParquetSink(root=root, n_buckets=4, extra_fields={"rating": "INT"})
    sink.merge_changelog(
        _env_df(spark, [("c", None, _img("a", 0, "user", "x", 3), 100)]), 1
    )
    # second merge re-loads the manifest — must not raise 'immutable'
    sink.merge_changelog(
        _env_df(spark, [("c", None, _img("a", 1, "user", "y", 4), 110)]), 2
    )
    # plain maintenance reopen sees the table-owned schema
    plain = MergeParquetSink(root=root, n_buckets=4)
    assert plain.evolved_fields() == {"rating": "int"}
    # a fresh, never-committed sink reports its constructor extras
    fresh = MergeParquetSink(
        root=str(tmp_path / "new"), n_buckets=4, extra_fields={"score": "DOUBLE"}
    )
    assert fresh.evolved_fields() == {"score": "double"}


def test_json_front_door_streams_evolved_column(spark, tmp_path):
    """The WIRE path end-to-end under evolution: JSON lines carrying the
    new field stream through the front door into an evolved sink; a
    pre-evolution line NULL-fills; bad lines still quarantine."""
    from flink_cdc_mysql_sink_to_mysql_spark.streaming.pipeline import (
        materialize_stream_from_json,
        read_dlq,
    )

    lines = [
        json.dumps(
            {
                "op": "c",
                "after": {"conv_id": "j1", "turn_idx": 0, "role": "user", "text": "old wire"},
                "seq": 1,
            }
        ),
        json.dumps(
            {
                "op": "c",
                "after": {
                    "conv_id": "j1",
                    "turn_idx": 1,
                    "role": "assistant",
                    "text": "new wire",
                    "rating": 7,
                },
                "seq": 2,
            }
        ),
        "not json",
    ]
    spool = tmp_path / "spool"
    spool.mkdir()
    (spool / "chunk-000.json").write_text("\n".join(lines) + "\n")
    sink = MergeParquetSink(
        root=str(tmp_path / "table"), n_buckets=4, extra_fields=dict(EXTRA)
    )
    materialize_stream_from_json(
        spark,
        str(spool),
        sink,
        str(tmp_path / "ck"),
        dlq_dir=str(tmp_path / "dlq"),
    )
    got = {
        r["turn_idx"]: r["rating"] for r in sink.snapshot(spark).collect()
    }
    assert got == {0: None, 1: 7}
    assert read_dlq(spark, str(tmp_path / "dlq")).count() == 1


def test_replay_dlq_follows_evolved_sink_schema(spark, tmp_path):
    """Default DLQ drain parses with the TABLE's evolved schema: a
    quarantined line carrying the evolved column recovers WITH its
    value, not a NULL from a base-schema re-parse."""
    from flink_cdc_mysql_sink_to_mysql_spark.streaming.pipeline import (
        replay_dlq,
    )

    sink = MergeParquetSink(
        root=str(tmp_path / "table"), n_buckets=4, extra_fields=dict(EXTRA)
    )
    # quarantined for a bad op; the payload itself carries rating=9
    line = json.dumps(
        {
            "op": "upsert",
            "after": {
                "conv_id": "q1",
                "turn_idx": 0,
                "role": "assistant",
                "text": "rated",
                "rating": 9,
            },
            "seq": 5,
        }
    )
    dlq = tmp_path / "dlq"
    spark.createDataFrame(
        [(line, "bad_op")], "_raw string, reason string"
    ).write.parquet(str(dlq / "epoch=0"))

    def fixed(raw_df):
        from flink_cdc_mysql_sink_to_mysql_spark.sources.json_envelopes import (
            parse_envelope_lines,
        )

        patched = raw_df.select(
            F.regexp_replace("value", '"op": *"upsert"', '"op": "c"').alias(
                "value"
            )
        )
        # the fixed parser must ALSO widen — callers mirror the default
        return parse_envelope_lines(
            patched, extra_image_fields=sink.evolved_fields()
        )

    out = replay_dlq(spark, str(dlq), sink, parse_fn=fixed)
    assert out["recovered"] == 1
    got = sink.snapshot(spark).collect()
    assert [(r["conv_id"], r["rating"]) for r in got] == [("q1", 9)]


def test_equivalent_type_spellings_not_refused(spark, tmp_path):
    """'long' vs 'bigint' / 'integer' vs 'int' are the SAME Spark type;
    a reopen with the synonym spelling must not be refused as an
    immutable type change (review finding) — types compare parsed, not
    as lowercased strings."""
    root = str(tmp_path / "table")
    sink = MergeParquetSink(
        root=root, n_buckets=4, extra_fields={"score": "long", "rating": "integer"}
    )
    sink.merge_changelog(
        _env_df(spark, [("c", None, _img("a", 0, "user", "x", 3), 100)]), 1
    )
    again = MergeParquetSink(
        root=root, n_buckets=4, extra_fields={"score": "BIGINT", "rating": "int"}
    )
    assert again.read(spark).count() == 1  # no refusal
    assert again.evolved_fields() == {"score": "bigint", "rating": "int"}
    # a REAL type change still refuses
    bad = MergeParquetSink(root=root, n_buckets=4, extra_fields={"score": "string"})
    with pytest.raises(ValueError, match="immutable"):
        bad.read(spark)


def test_bad_ddl_type_fails_eagerly(spark, tmp_path):
    """A typo'd type spec raises a clear ValueError at sink OPEN time
    (constructor normalization), not a Spark parse error mid-MERGE."""
    with pytest.raises(ValueError, match="not a valid Spark DDL type"):
        MergeParquetSink(
            root=str(tmp_path / "t"), n_buckets=4, extra_fields={"x": "blabla"}
        )


def test_extra_field_cli_spec_validation():
    """jobs/changelog_apply_job._extra_field_spec: missing ':' or a bad
    type is a one-line argparse usage error naming the spec (review
    finding), and valid specs canonicalize session-free."""
    import argparse as _ap
    import importlib.util as _ilu
    import os as _os

    spec = _ilu.spec_from_file_location(
        "changelog_apply_job",
        _os.path.join(_os.path.dirname(__file__), "..", "jobs", "changelog_apply_job.py"),
    )
    mod = _ilu.module_from_spec(spec)
    spec.loader.exec_module(mod)

    assert mod._extra_field_spec("rating:int") == ("rating", "int")
    assert mod._extra_field_spec("score:LONG") == ("score", "bigint")
    assert mod._extra_field_spec("tags:array<string>") == ("tags", "array<string>")
    with pytest.raises(_ap.ArgumentTypeError, match="expected NAME:TYPE"):
        mod._extra_field_spec("rating")
    with pytest.raises(_ap.ArgumentTypeError, match="empty column name"):
        mod._extra_field_spec(":int")
    with pytest.raises(_ap.ArgumentTypeError, match="not a valid Spark DDL"):
        mod._extra_field_spec("rating:blabla")
