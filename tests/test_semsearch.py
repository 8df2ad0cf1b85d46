"""Semantic search over the live CDC state (operators/semsearch.py).

Oracle parity runs in tests/test_unregistered_oracles.py; here the
operator-level properties: embedder determinism/shape, query-set
boundedness, self-exclusion, rank contract, and the broadcast plan
shape that keeps the kernel O(n · q_cap)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_cdc_mysql_sink_to_mysql_spark.operators import cdc, semsearch
from flink_cdc_mysql_sink_to_mysql_spark.sources.transcripts import (
    changelog_envelopes,
)
from tests.conftest import SF_CORRECT


@pytest.fixture(scope="module")
def state(spark):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return cdc.apply_changelog(changelog_envelopes(spark, SF_CORRECT)).persist()


def test_embedding_deterministic_and_shaped(spark):
    df = spark.createDataFrame(
        [("a",), ("a",), ("b",), (None,)], "text string"
    ).select(semsearch.text_embedding(F.col("text")).alias("e"))
    rows = [r.e for r in df.collect()]
    assert rows[0] == rows[1]  # same text → same vector
    assert rows[0] != rows[2]
    assert all(len(e) == semsearch.EMB_DIM for e in rows)
    # md5 hex chars → ascii codes land in [48,57] ∪ [97,102]
    assert all(48 <= v <= 102 for e in rows for v in e)
    assert rows[3] is not None  # NULL text embeds (as empty string)


def test_search_contract(state):
    out = semsearch.search_live_state(state).persist()
    try:
        per_q = (
            out.groupBy("q_conv", "q_turn")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.collect_list("rank").alias("ranks"),
            )
            .collect()
        )
        assert 0 < len(per_q) <= semsearch.SEARCH_Q_CAP
        for r in per_q:
            assert r.n <= semsearch.SEARCH_TOPK
            assert sorted(r.ranks) == list(range(1, r.n + 1))
        # a query never returns itself
        assert (
            out.where(
                (F.col("q_conv") == F.col("conv_id"))
                & (F.col("q_turn") == F.col("turn_idx"))
            ).count()
            == 0
        )
    finally:
        out.unpersist()


def test_streaming_index_equals_batch_embed(spark, tmp_path, state):
    """The maintained embedding index, after the stream drains, equals
    a from-scratch embed of the LWW state — under inserts, edits
    (re-embed), and deletes (vector dropped); a replay is a no-op."""
    from flink_cdc_mysql_sink_to_mysql_spark.streaming import pipeline as pl
    from flink_cdc_mysql_sink_to_mysql_spark.streaming.ivm import (
        GroupedReplaceParquetSink,
    )
    from flink_cdc_mysql_sink_to_mysql_spark.streaming.sink import (
        MergeParquetSink,
    )

    env = changelog_envelopes(spark, SF_CORRECT)
    spool = str(tmp_path / "spool")
    pl.spool_changelog(env, spool, n_chunks=3)
    st = MergeParquetSink(str(tmp_path / "state"), n_buckets=8)
    ix = GroupedReplaceParquetSink(
        str(tmp_path / "index"), schema_ddl=semsearch.INDEX_VIEW_DDL
    )
    ckpt = str(tmp_path / "ckpt")
    pl.materialize_stream(
        spark, spool, st, ckpt, view=(ix, semsearch.embedding_rows)
    )

    got = ix.read_view(spark)
    want = semsearch.embedding_rows(st.snapshot(spark))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    n = got.count()
    assert n > 0
    # searching the index matches searching the state (no re-embed)
    a = semsearch.search_index(got).collect()
    b = semsearch.search_live_state(st.snapshot(spark)).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # replay: both sinks epoch-skip, index unchanged
    pl.materialize_stream(
        spark, spool, st, ckpt, view=(ix, semsearch.embedding_rows)
    )
    assert ix.read_view(spark).count() == n


def test_pruned_search_recall_floor(state):
    """IVF pruning is approximate by construction; pin a recall floor
    vs the brute kernel so a broken cell assignment can't pass as
    'approximate anyway' (the similarity.py recall-floor precedent)."""
    emb = semsearch.embedding_rows(state).persist()
    try:
        cb = semsearch.index_codebook(emb)
        brute = semsearch.search_index(emb).select(
            "q_conv", "q_turn", "conv_id", "turn_idx"
        )
        pruned = semsearch.search_index_pruned(
            semsearch.assign_cells(emb, cb), cb
        ).select("q_conv", "q_turn", "conv_id", "turn_idx")
        tot = brute.count()
        hit = pruned.intersect(brute).count()
        assert tot > 0 and hit / tot >= 0.15
    finally:
        emb.unpersist()


def test_streaming_cell_index_serves_pruned_search(spark, tmp_path, state):
    """Frozen-codebook streaming index: the cell-partitioned view after
    the drain equals batch embed+assign, and pruned search from the
    view equals pruned search recomputed from the state."""
    from flink_cdc_mysql_sink_to_mysql_spark.streaming import pipeline as pl
    from flink_cdc_mysql_sink_to_mysql_spark.streaming.ivm import (
        GroupedReplaceParquetSink,
    )
    from flink_cdc_mysql_sink_to_mysql_spark.streaming.sink import (
        MergeParquetSink,
    )

    env = changelog_envelopes(spark, SF_CORRECT)
    spool = str(tmp_path / "spool")
    pl.spool_changelog(env, spool, n_chunks=2)
    # codebook frozen BEFORE the stream (the bootstrap-trained model)
    cb = semsearch.index_codebook(
        semsearch.embedding_rows(cdc.apply_changelog(env))
    ).persist()
    st = MergeParquetSink(str(tmp_path / "state"), n_buckets=8)
    ix = GroupedReplaceParquetSink(
        str(tmp_path / "index"), schema_ddl=semsearch.INDEX_CELLS_VIEW_DDL
    )
    pl.materialize_stream(
        spark, spool, st, str(tmp_path / "ckpt"),
        view=(
            ix,
            lambda live: semsearch.assign_cells(semsearch.embedding_rows(live), cb),
        ),
    )
    got = ix.read_view(spark)
    want = semsearch.assign_cells(
        semsearch.embedding_rows(st.snapshot(spark)), cb
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    a = semsearch.search_index_pruned(got, cb).collect()
    b = semsearch.search_index_pruned(want, cb).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b)) and len(a) > 0
    cb.unpersist()


def test_search_plan_broadcasts_queries(state):
    plan = semsearch.search_live_state(state)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # per-query top-k runs as a rank-limit window, not a global sort
    assert "WindowGroupLimit" in plan


def test_search_front_door_routes_and_agrees(state, caplog):
    """semsearch.search() — the discoverable front door (round-4 review
    finding: the 26x maintained-view serve path must be reachable
    without reading BENCH) — routes to each kernel and returns results
    equal to calling that kernel directly; the one-shot fallback says
    what it costs."""
    import logging

    emb = semsearch.embedding_rows(state).persist()
    try:
        # no index → one-shot, equal to search_live_state, with the log
        with caplog.at_level(
            logging.INFO,
            logger="flink_cdc_mysql_sink_to_mysql_spark.operators.semsearch",
        ):
            a = semsearch.search(state).collect()
        assert any("one-shot" in r.message for r in caplog.records)
        assert sorted(map(tuple, a)) == sorted(
            map(tuple, semsearch.search_live_state(state).collect())
        )

        # flat index → full-scan serve (no re-embed), same answer
        b = semsearch.search(state, index=emb).collect()
        assert sorted(map(tuple, b)) == sorted(map(tuple, a))

        # cell index + codebook → the IVF-pruned kernel
        cb = semsearch.index_codebook(emb).persist()
        cells = semsearch.assign_cells(emb, cb).persist()
        try:
            c = semsearch.search(state, index=cells, codebook=cb).collect()
            want = semsearch.search_index_pruned(cells, cb).collect()
            assert sorted(map(tuple, c)) == sorted(map(tuple, want))
            # cell index WITHOUT codebook → falls back to full scan
            d = semsearch.search(state, index=cells).collect()
            assert sorted(map(tuple, d)) == sorted(map(tuple, a))
        finally:
            cb.unpersist()
            cells.unpersist()
    finally:
        emb.unpersist()
