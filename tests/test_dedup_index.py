"""Streaming-maintained conversation-grain near-dup index
(operators/dedup.py: conv_texts / minhash_index_rows /
near_dup_pairs_from_index; the CDC runner maintains the index with
minhash_index_rows as its view recompute) — the dedup analog of
the maintained embedding index: the band index follows the CDC state
under inserts, edits, and deletes, and serving pairs from it equals the
batch pipeline. Oracle parity for the batch form runs in
tests/test_unregistered_oracles.py (DuckDB brute-force conv-grain
Jaccard).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_cdc_mysql_sink_to_mysql_spark.operators import cdc, dedup
from flink_cdc_mysql_sink_to_mysql_spark.sources.transcripts import (
    changelog_envelopes,
)
from flink_cdc_mysql_sink_to_mysql_spark.streaming import pipeline as pl
from flink_cdc_mysql_sink_to_mysql_spark.streaming.ivm import (
    GroupedReplaceParquetSink,
)
from flink_cdc_mysql_sink_to_mysql_spark.streaming.sink import MergeParquetSink
from tests.conftest import SF_SMOKE

_ENV_DDL = (
    "op string, before struct<conv_id:string,turn_idx:int,role:string,"
    "text:string,tool:string,ts:timestamp>, after struct<conv_id:string,"
    "turn_idx:int,role:string,text:string,tool:string,ts:timestamp>, "
    "seq long"
)

LONG_A = "the quick brown fox jumps over the lazy dog again and again today"
LONG_B = "the quick brown fox jumps over the lazy dog again and again tonight"
OTHER = "completely different content about databases and streaming systems"


def _env(spark, rows):
    return spark.createDataFrame(
        [(op, None, (c, i, "user", t, None, None), s) for op, c, i, t, s in rows],
        _ENV_DDL,
    )


def _pairs_set(df):
    return {(r["conv_a"], r["conv_b"]) for r in df.collect()}


def test_index_pairs_equal_batch_pipeline(spark):
    """Serving from the index ≡ running the batch conv-grain pipeline
    (same banding, same exact verify) on the real changelog corpus."""
    state = cdc.apply_changelog(changelog_envelopes(spark, SF_SMOKE)).persist()
    try:
        index = dedup.minhash_index_rows(state)
        got = dedup.near_dup_pairs_from_index(index, state)
        want = dedup.minhash_lsh_pairs(
            dedup.conv_texts(state), materialize=False
        ).select(
            F.col("doc_a").alias("conv_a"),
            F.col("doc_b").alias("conv_b"),
            "jaccard",
        )
        g = sorted(map(tuple, got.collect()))
        w = sorted(map(tuple, want.collect()))
        assert g == w
    finally:
        state.unpersist()


def test_maintained_index_follows_cdc(spark, tmp_path):
    """Insert two near-dup convs → pair appears; edit one apart → pair
    disappears; delete → bands dropped. Stream ≡ batch after each
    drain; replay is a no-op."""
    spool = str(tmp_path / "spool")
    st = MergeParquetSink(str(tmp_path / "state"), n_buckets=4)
    ix = GroupedReplaceParquetSink(
        str(tmp_path / "index"), n_buckets=4,
        schema_ddl=dedup.MINHASH_INDEX_VIEW_DDL,
    )
    ckpt = str(tmp_path / "ckpt")

    def drain():
        pl.materialize_stream(
            spark, spool, st, ckpt, view=(ix, dedup.minhash_index_rows)
        )

    # chunk 0: two near-identical convs + one distinct
    _env(
        spark,
        [
            ("c", "cA", 0, LONG_A, 100),
            ("c", "cB", 0, LONG_B, 101),
            ("c", "cC", 0, OTHER, 102),
        ],
    ).coalesce(1).write.parquet(spool)
    drain()

    def _check_stream_equals_batch():
        got = ix.read_view(spark)
        live = st.snapshot(spark)
        want = dedup.minhash_index_rows(live)
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0
        return got, live

    got, live = _check_stream_equals_batch()
    pairs = dedup.near_dup_pairs_from_index(got, live)
    assert _pairs_set(pairs) == {("cA", "cB")}

    # chunk 1: edit cB far away from cA → the pair must dissolve
    _env(
        spark, [("u", "cB", 0, OTHER + " and even more unrelated words", 200)]
    ).coalesce(1).write.mode("append").parquet(spool)
    drain()
    got, live = _check_stream_equals_batch()
    assert _pairs_set(dedup.near_dup_pairs_from_index(got, live)) == set()

    # chunk 2: delete cA entirely → its bands leave the index
    del_env = spark.createDataFrame(
        [("d", ("cA", 0, "user", LONG_A, None, None), None, 300)],
        _ENV_DDL,
    )
    del_env.coalesce(1).write.mode("append").parquet(spool)
    drain()
    got, live = _check_stream_equals_batch()
    assert got.where("conv_id = 'cA'").count() == 0

    # replay: drained spool, both sinks epoch-skip, index unchanged
    n = got.count()
    drain()
    assert ix.read_view(spark).count() == n


def test_index_size_is_corpus_independent(spark):
    """BANDS rows per conversation, regardless of transcript length —
    the property that makes the index serveable at 10^12 turns."""
    rows = [("c", "cL", i, f"turn {i} " + LONG_A, 100 + i) for i in range(40)]
    state = cdc.apply_changelog(_env(spark, rows))
    index = dedup.minhash_index_rows(state)
    assert index.count() == dedup.BANDS
    assert index.select("conv_id").distinct().count() == 1


def test_estimate_verify_agrees_on_planted_pairs(spark):
    """The estimate mode (signature-fraction Jaccard — the O(candidates)
    scale path) finds the same PLANTED high-similarity pair as exact
    verify and nothing else on well-separated data; its jaccard column
    is the K-hash estimate, within binomial noise of the exact value."""
    rows = [
        ("c", "cA", 0, LONG_A, 100),
        ("c", "cB", 0, LONG_B, 101),
        ("c", "cC", 0, OTHER, 102),
    ]
    state = cdc.apply_changelog(_env(spark, rows))
    index = dedup.minhash_index_rows(state)
    exact = dedup.near_dup_pairs_from_index(index, state).collect()
    est = dedup.near_dup_pairs_from_index(
        index, state, verify="estimate"
    ).collect()
    assert {(r["conv_a"], r["conv_b"]) for r in exact} == {("cA", "cB")}
    assert {(r["conv_a"], r["conv_b"]) for r in est} == {("cA", "cB")}
    # K=32 estimate within ~3 sigma of the exact jaccard
    j_exact = exact[0]["jaccard"]
    sigma = (j_exact * (1 - j_exact) / dedup.NUM_HASHES) ** 0.5
    assert abs(est[0]["jaccard"] - j_exact) <= 3 * sigma + 1e-9


def test_auto_verify_decision_rule():
    """'auto' verifies exactly up to the candidate bound, then
    escalates to estimate; explicit modes never switch."""
    assert dedup._resolve_verify("auto", 10, 100) == "exact"
    assert dedup._resolve_verify("auto", 100, 100) == "exact"
    assert dedup._resolve_verify("auto", 101, 100) == "estimate"
    assert dedup._resolve_verify("exact", 10**9, 100) == "exact"
    assert dedup._resolve_verify("estimate", 0, 100) == "estimate"


def test_auto_escalates_above_candidate_bound(spark):
    """The guarded default: with max_exact_candidates=0 every candidate
    set escalates, and the served pairs equal the explicit estimate
    mode — the quadratic exact path is unreachable without opting in
    (review finding: the 405 s sf10 worst case behind verify='exact')."""
    rows = [
        ("c", "cA", 0, LONG_A, 100),
        ("c", "cB", 0, LONG_B, 101),
        ("c", "cC", 0, OTHER, 102),
    ]
    state = cdc.apply_changelog(_env(spark, rows))
    index = dedup.minhash_index_rows(state)
    auto = dedup.near_dup_pairs_from_index(
        index, state, max_exact_candidates=0
    )
    est = dedup.near_dup_pairs_from_index(index, state, verify="estimate")
    a = sorted(map(tuple, auto.collect()))
    e = sorted(map(tuple, est.collect()))
    assert a == e and a  # non-empty: the planted pair survives

    # and the default bound keeps small candidate sets on the exact path
    exact = dedup.near_dup_pairs_from_index(index, state, verify="exact")
    d = dedup.near_dup_pairs_from_index(index, state)  # default auto
    assert sorted(map(tuple, d.collect())) == sorted(
        map(tuple, exact.collect())
    )


def test_resolved_verify_mode_is_surfaced(spark, caplog):
    """auto's resolution is attributable (review finding): mode_out
    reports the RESOLVED mode — which FLIPS when the candidate count
    crosses the bound — plus the candidate count, and the escalation
    emits a WARNING log line; explicit modes report themselves."""
    import logging

    rows = [
        ("c", "cA", 0, LONG_A, 100),
        ("c", "cB", 0, LONG_B, 101),
        ("c", "cC", 0, OTHER, 102),
    ]
    state = cdc.apply_changelog(_env(spark, rows))
    index = dedup.minhash_index_rows(state)

    below = {}
    dedup.near_dup_pairs_from_index(index, state, mode_out=below)
    assert below["verify"] == "exact" and below["n_candidates"] >= 1

    above = {}
    with caplog.at_level(
        logging.WARNING,
        logger="flink_cdc_mysql_sink_to_mysql_spark.operators.dedup",
    ):
        dedup.near_dup_pairs_from_index(
            index, state, max_exact_candidates=0, mode_out=above
        )
    assert above["verify"] == "estimate"  # the flip, reported
    assert any("escalated" in r.message for r in caplog.records)

    explicit = {}
    dedup.near_dup_pairs_from_index(
        index, state, verify="estimate", mode_out=explicit
    )
    assert explicit == {"verify": "estimate"}  # no count: no auto probe


def test_index_records_and_enforces_shingle_width(spark):
    """The index rows record shingle_n; serving with a different n
    refuses instead of silently verifying against a different Jaccard
    definition (review finding)."""
    import pytest

    rows = [("c", "cA", 0, LONG_A, 100), ("c", "cB", 0, LONG_B, 101)]
    state = cdc.apply_changelog(_env(spark, rows))
    index = dedup.minhash_index_rows(state, n=3)
    assert index.select("shingle_n").distinct().collect()[0][0] == 3
    with pytest.raises(ValueError, match="shingle width"):
        dedup.near_dup_pairs_from_index(index, state, n=4).collect()
