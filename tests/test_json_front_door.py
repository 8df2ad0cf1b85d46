"""Raw-JSON envelope front door: parse, quarantine (DLQ), round-trip.

The reference ingests JSON bytes and silently swallows anything
malformed (UserBehaviorDebeziumDeserializer.java:32-42,72-74). The
front door (sources/json_envelopes.py) must (a) be LOSSLESS for every
envelope the structured feed can represent, (b) route each malformed
line to exactly one quarantine reason without killing the stream, and
(c) keep DLQ writes exactly-once under foreachBatch replay.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from flink_cdc_mysql_sink_to_mysql_spark.operators import cdc
from flink_cdc_mysql_sink_to_mysql_spark import sources as src
from flink_cdc_mysql_sink_to_mysql_spark.sources.json_envelopes import (
    ENVELOPE_COLS,
    parse_envelope_lines,
    render_envelope_json,
    split_quarantine,
)
from flink_cdc_mysql_sink_to_mysql_spark.streaming.pipeline import (
    materialize_stream_from_json,
    read_dlq,
)
from flink_cdc_mysql_sink_to_mysql_spark.streaming.sink import MergeParquetSink
from tests.conftest import SF_SMOKE
from tests.util import assert_same


GOOD_LINE = json.dumps(
    {
        "op": "c",
        "after": {
            "conv_id": "q1",
            "turn_idx": 1,
            "role": "user",
            "text": "hello",
            "tool": None,
            "ts": "2024-01-01T00:00:00.000000Z",
        },
        "source": {"db": "transcripts", "table": "turns"},
        "seq": 1000,
    }
)

BAD_LINES = [
    ("not json at all {", "unparseable"),
    ('{"op":"c","after":{"conv_id":"x","turn_idx":"NOPE"}}', "unparseable"),
    ('{"op":"c","seq":"twelve","after":{"conv_id":"x"}}', "unparseable"),
    ("[1,2,3]", "unparseable"),
    ('{"after":{"conv_id":"x","turn_idx":1}}', "bad_op"),
    ('{"op":"upsert","after":{"conv_id":"x","turn_idx":1}}', "bad_op"),
    ('{"op":"c","seq":7}', "no_image"),
    ("", "empty_input"),
    ("   ", "empty_input"),
]


def _lines_df(spark, lines):
    return spark.createDataFrame([(x,) for x in lines], "value string")


def test_quarantine_reasons_and_conservation(spark):
    lines = [GOOD_LINE] + [raw for raw, _ in BAD_LINES]
    parsed = parse_envelope_lines(_lines_df(spark, lines))
    rows = {r["_raw"]: r["_quarantine_reason"] for r in parsed.collect()}
    assert rows[GOOD_LINE] is None
    for raw, want in BAD_LINES:
        assert rows[raw] == want, f"{raw!r} → {rows[raw]} (want {want})"
    # every input line lands on exactly one side
    good, bad = split_quarantine(parsed)
    assert good.count() + bad.count() == len(lines)
    assert good.columns == list(ENVELOPE_COLS)
    stats = {
        r["reason"]: r["count"] for r in bad.groupBy("reason").count().collect()
    }
    assert stats == {"unparseable": 4, "bad_op": 2, "no_image": 1, "empty_input": 2}


def test_strict_mode_is_reference_silent_swallow(spark):
    parsed = parse_envelope_lines(
        _lines_df(spark, [GOOD_LINE, "not json at all {"])
    )
    good, bad = split_quarantine(parsed, strict=True)
    assert bad.count() == 0  # dropped on the floor, :72-74 parity
    assert good.count() == 1


def test_wire_roundtrip_is_lossless(spark):
    """render → parse must reproduce every structured envelope exactly
    (timestamp micros included), and derivation over the wire-fed
    envelopes must match derivation over the structured feed."""
    env = src.mysql_changelog(spark, SF_SMOKE)
    parsed = parse_envelope_lines(render_envelope_json(env))
    assert parsed.where(F.col("_quarantine_reason").isNotNull()).count() == 0
    good, _ = split_quarantine(parsed)
    import pandas as pd  # noqa: F401  (assert_same uses pandas)

    direct = cdc.derive_turn_events(env)
    via_wire = cdc.derive_turn_events(good)
    assert_same(via_wire, direct.toPandas(), "json wire roundtrip")


def test_stream_with_dlq_exactly_once(spark, tmp_path):
    """End-to-end: JSON spool (with planted rejects in every chunk) →
    parse → DLQ + MERGE. Sink must equal the batch LWW materialization
    of the good envelopes; the DLQ must hold exactly the planted lines;
    a replay of the whole spool must change neither."""
    env = src.mysql_changelog(spark, SF_SMOKE)
    lines = [r["value"] for r in render_envelope_json(env).collect()]
    planted = [raw for raw, _ in BAD_LINES if raw.strip()]

    spool = tmp_path / "spool"
    spool.mkdir()
    n_chunks = 3
    chunk = (len(lines) + n_chunks - 1) // n_chunks
    for i in range(n_chunks):
        part = lines[i * chunk : (i + 1) * chunk] + planted
        (spool / f"chunk-{i:03d}.json").write_text("\n".join(part) + "\n")

    sink = MergeParquetSink(root=str(tmp_path / "table"), n_buckets=8)
    lineage = tmp_path / "lineage.jsonl"
    materialize_stream_from_json(
        spark,
        str(spool),
        sink,
        checkpoint_dir=str(tmp_path / "ckpt"),
        dlq_dir=str(tmp_path / "dlq"),
        lineage_path=str(lineage),
    )

    expected = cdc.apply_changelog(env)
    assert_same(sink.snapshot(spark), expected.toPandas(), "json stream sink")

    dlq = read_dlq(spark, str(tmp_path / "dlq"))
    assert dlq.count() == len(planted) * n_chunks
    per_reason = {
        r["reason"]: r["n"]
        for r in dlq.groupBy("reason").agg(F.count("*").alias("n")).collect()
    }
    assert per_reason == {"unparseable": 4 * n_chunks, "bad_op": 2 * n_chunks, "no_image": 1 * n_chunks}

    # observed metrics recorded the rejects per micro-batch
    recs = [json.loads(x) for x in lineage.read_text().splitlines()]
    quarantined = sum(
        int(r["observed"]["quarantined"]) for r in recs if r.get("observed")
    )
    assert quarantined == len(planted) * n_chunks

    # replay the SAME spool through a fresh checkpoint: MERGE epochs
    # no-op via the manifest, DLQ epoch dirs are overwritten in place —
    # both stay exactly-once
    before = sink.read(spark).count()
    materialize_stream_from_json(
        spark,
        str(spool),
        sink,
        checkpoint_dir=str(tmp_path / "ckpt2"),
        dlq_dir=str(tmp_path / "dlq"),
        lineage_path=None,
    )
    assert sink.read(spark).count() == before
    assert_same(sink.snapshot(spark), expected.toPandas(), "post-replay sink")
    assert read_dlq(spark, str(tmp_path / "dlq")).count() == len(planted) * n_chunks


def test_schema_drift_detector(spark):
    """Unknown wire keys (upstream schema evolution from_json silently
    ignores) must be surfaced per scope with counts; a clean feed and
    malformed lines report nothing."""
    from flink_cdc_mysql_sink_to_mysql_spark.sources.json_envelopes import (
        schema_drift_stats,
    )

    drifted = [
        # new envelope-level field + new column inside after
        '{"op":"c","transaction":{"id":1},"after":{"conv_id":"a","turn_idx":1,"new_col":5}}',
        '{"op":"u","after":{"conv_id":"b","new_col":6},"before":{"conv_id":"b","legacy":1}}',
        GOOD_LINE,          # fully known → contributes nothing
        "not json at all {",  # malformed → quarantine's business
    ]
    got = {
        (r["scope"], r["key"]): r["n"]
        for r in schema_drift_stats(_lines_df(spark, drifted)).collect()
    }
    assert got == {
        ("envelope", "transaction"): 1,
        ("after", "new_col"): 2,
        ("before", "legacy"): 1,
    }
    clean = render_envelope_json(src.mysql_changelog(spark, SF_SMOKE))
    assert schema_drift_stats(clean).count() == 0


def test_empty_file_line_semantics(spark):
    """A blank line inside a spool file is quarantined (empty_input),
    never silently skipped — counts stay conserved for audit."""
    parsed = parse_envelope_lines(_lines_df(spark, [GOOD_LINE, "", GOOD_LINE]))
    assert parsed.count() == 3
    assert (
        parsed.where(F.col("_quarantine_reason") == "empty_input").count() == 1
    )


def test_replay_dlq_recovers_after_parser_fix(spark, tmp_path):
    """Day-2 DLQ drain: a wire line rejected for an unknown op is
    recovered by a fixed parser and MERGEs into the sink; truly-bad
    rows stay; the drain is idempotent and crash-replay-safe (probed
    epoch slots + LWW idempotence)."""
    from flink_cdc_mysql_sink_to_mysql_spark.streaming.pipeline import (
        replay_dlq,
    )

    env = src.mysql_changelog(spark, SF_SMOKE)
    lines = [r["value"] for r in render_envelope_json(env).collect()]
    # corrupt the op of the HIGHEST-seq create so its absence changes
    # the final LWW table (nothing can supersede it)
    parsed_lines = [(i, json.loads(l)) for i, l in enumerate(lines)]
    vic_i, vic = max(
        ((i, d) for i, d in parsed_lines if d["op"] == "c"),
        key=lambda t: t[1]["seq"],
    )
    corrupted = dict(vic, op="upsert")
    feed = [l for i, l in enumerate(lines) if i != vic_i] + [
        json.dumps(corrupted)
    ] + ["not json at all"]

    spool = tmp_path / "spool"
    spool.mkdir()
    (spool / "chunk-000.json").write_text("\n".join(feed) + "\n")
    sink = MergeParquetSink(root=str(tmp_path / "table"), n_buckets=8)
    dlq_dir = str(tmp_path / "dlq")
    materialize_stream_from_json(
        spark, str(spool), sink, str(tmp_path / "ckpt"), dlq_dir=dlq_dir
    )
    expected = cdc.apply_changelog(env)
    assert sink.snapshot(spark).count() < expected.count()  # victim missing
    assert read_dlq(spark, dlq_dir).count() == 2

    # default parser recovers nothing; queue and sink unchanged
    out0 = replay_dlq(spark, dlq_dir, sink)
    assert out0["recovered"] == 0 and out0["still_bad"] == 2
    assert read_dlq(spark, dlq_dir).count() == 2

    def fixed_parser(raw_df):
        patched = raw_df.select(
            F.regexp_replace(
                "value", '"op": *"upsert"', '"op": "c"'
            ).alias("value")
        )
        return parse_envelope_lines(patched)

    out1 = replay_dlq(spark, dlq_dir, sink, parse_fn=fixed_parser)
    assert out1["recovered"] == 1 and out1["still_bad"] == 1
    assert_same(sink.snapshot(spark), expected.toPandas(), "post-drain sink")
    dlq_left = read_dlq(spark, dlq_dir)
    assert [r["reason"] for r in dlq_left.collect()] == ["unparseable"]

    # idempotent re-run: nothing left to recover, sink unchanged
    out2 = replay_dlq(spark, dlq_dir, sink, parse_fn=fixed_parser)
    assert out2["recovered"] == 0 and out2["still_bad"] == 1
    assert_same(sink.snapshot(spark), expected.toPandas(), "re-drain sink")

    # crash simulation: the merge committed but the rewrite was lost —
    # re-create the epoch dir with the recoverable row; the next drain
    # probes a fresh epoch slot, re-merges (LWW no-op), and re-drains
    import shutil as _sh

    epoch0 = os.path.join(dlq_dir, "epoch=0")
    _sh.rmtree(epoch0)
    spark.createDataFrame(
        [(json.dumps(corrupted), "bad_op"), ("not json at all", "unparseable")],
        "_raw string, reason string",
    ).write.mode("overwrite").parquet(epoch0)
    out3 = replay_dlq(spark, dlq_dir, sink, parse_fn=fixed_parser)
    assert out3["recovered"] == 1
    assert_same(sink.snapshot(spark), expected.toPandas(), "post-crash sink")
    assert read_dlq(spark, dlq_dir).count() == 1


def test_replay_dlq_completes_interrupted_swap(spark, tmp_path):
    """A crash BETWEEN rmtree(epoch dir) and os.replace(.rewrite) used
    to leave an orphan `epoch=N.rewrite` dir that wedged every later
    drain (int("N.rewrite") ValueError). The drain now completes the
    swap (orphan-only case) and drops stale tmps (both-dirs case)."""
    from flink_cdc_mysql_sink_to_mysql_spark.streaming.pipeline import (
        replay_dlq,
    )

    sink = MergeParquetSink(root=str(tmp_path / "table"), n_buckets=4)
    dlq_dir = tmp_path / "dlq"
    dlq_dir.mkdir()

    def _dlq_write(dirname, rows):
        spark.createDataFrame(
            rows, "_raw string, reason string"
        ).write.mode("overwrite").parquet(str(dlq_dir / dirname))

    # epoch 0 crashed after rmtree: ONLY the .rewrite dir exists,
    # holding the still-bad leftovers of a committed drain.
    _dlq_write("epoch=0.rewrite", [("still bad", "unparseable")])
    # epoch 1 crashed mid-tmp-write: both dirs exist and the tmp is
    # PARTIAL (no _SUCCESS commit marker) — the original is
    # authoritative, the garbage tmp is dropped.
    _dlq_write("epoch=1", [("not json", "unparseable"), ("also bad", "bad_op")])
    _dlq_write("epoch=1.rewrite", [("partial", "unparseable")])
    os.remove(str(dlq_dir / "epoch=1.rewrite" / "_SUCCESS"))
    # epoch 2 crashed during rmtree: both dirs exist, the tmp is
    # COMMITTED — the original may be torn, the tmp wins.
    _dlq_write("epoch=2", [("torn original", "unparseable")])
    _dlq_write("epoch=2.rewrite", [("committed leftover", "bad_op")])

    out = replay_dlq(spark, str(dlq_dir), sink)
    assert out["recovered"] == 0
    # epoch 0 swap completed (1); epoch 1 kept its 2 originals;
    # epoch 2 took the committed tmp (1)
    assert [e["still_bad"] for e in out["epochs"]] == [1, 2, 1]
    assert sorted(os.listdir(dlq_dir)) == ["epoch=0", "epoch=1", "epoch=2"]
    dlq = read_dlq(spark, str(dlq_dir))
    assert dlq.count() == 4
    assert dlq.where("_raw = 'committed leftover'").count() == 1
    assert dlq.where("_raw = 'torn original'").count() == 0

    # idempotent: a second drain sees the same stable queue
    out2 = replay_dlq(spark, str(dlq_dir), sink)
    assert out2["recovered"] == 0 and out2["still_bad"] == 4
