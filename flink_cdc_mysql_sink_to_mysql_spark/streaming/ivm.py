"""Incremental view maintenance: windowed aggregates under CDC upserts.

``windowed_counts_stream`` (pipeline.py) counts EVENTS — correct for an
append-only feed, but a changelog is not append-only: an ``op='u'``
that moves a turn's ``ts`` across a window boundary must retract from
the old window and add to the new one, and an ``op='d'`` must retract
outright. Structured Streaming's windowed aggregates cannot retract in
append mode, so this module maintains the windowed view the same way
the engine maintains the transcript table: as an idempotent MERGE-style
table updated per micro-batch.

Design (the exactly-once shape that needs NO retraction arithmetic):

1. the micro-batch merges into the LWW state sink as usual — the view
   rides the one CDC runner, ``pipeline.materialize_stream(...,
   view=(view_sink, recompute))``, so it takes any of its feeds (typed
   spool, Mongo union, JSON wire with DLQ) and the table's evolved
   columns;
2. the batch's touched conversations are recomputed FROM the
   post-merge state, producing each touched conv's complete, correct
   window rows. The read is pruned to the state buckets the merge's
   commit record names (work ∝ batch footprint, not table size), so
   the view collects no bucket list of its own; a replayed epoch gets
   its logged record back from the state sink;
3. a grouped-replace commit swaps those convs' rows in the window
   table (delete-all-rows-of-key ∪ insert-recomputed), epoch-skipped
   like the state sink.

Recompute-from-state makes every epoch idempotent by construction: a
replay re-reads the same committed state and re-derives byte-identical
window rows, so crashes between the two commits converge (pinned by
tests/test_ivm.py). Incremental ±delta arithmetic would instead have
to prove each retraction applied exactly once — strictly harder, and
the reason change-data views in lakehouse engines use this same
touched-partition recompute pattern.

Scale: per micro-batch work is (touched buckets read) + (hash agg over
touched convs' turns) + (touched buckets of the window table written).
A hot conversation bounds the recompute by its own turn count; the
window table is bucketed on conv_id exactly like the state table.
Nothing is cached on the typed spool: the merge and the view commit
each re-read the micro-batch's spool files (milliseconds), and the
state bucket list comes from the merge's commit record, so an epoch
materializes no intermediate and collects the state's touched buckets
once. (A JSON batch is persisted once for its parse.)
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import pipeline as pl
from .sink import MergeParquetSink


@dataclass
class GroupedReplaceParquetSink(MergeParquetSink):
    """Keyed table with replace-by-group commits (same manifest /
    bucket / epoch-skip machinery as the MERGE sink; rows of one key
    always live in the key's hash bucket).

    ``replace_groups(keys, rows, epoch)``: atomically replace ALL rows
    of the given keys with the given rows (callers pass rows only for
    those keys — a key with no rows is a full delete).

    ``schema_ddl`` fixes the table's row type (reads of an empty /
    partial table need it); the default is the tumbling-window view.
    """

    #: row schema incl. the stored bucket column (field, not class
    #: constant: the session view and future per-key views differ)
    schema_ddl: str = (
        "conv_id string, win_start timestamp, win_end timestamp,"
        " n_turns long, bucket int"
    )

    @property
    def _SCHEMA(self) -> str:  # noqa: N802 (mirrors the parent constant)
        return self.schema_ddl

    def replace_groups(
        self, keys: DataFrame, rows: DataFrame, epoch_id: int
    ) -> dict:
        spark = rows.sparkSession
        t0 = time.time()
        manifest = self._open(spark, epoch_id)
        if manifest is None:
            return self._replayed(epoch_id)

        keys = keys.select("conv_id").distinct()
        # touched buckets come from the KEYS (a key whose recompute is
        # empty still purges its old rows, and a bucket left empty drops
        # out of the manifest)
        touched = sorted(
            r["b"] for r in keys.select(self._bucket().alias("b")).distinct().collect()
        )
        delta = rows.withColumn("bucket", self._bucket())

        current = self._read_buckets(spark, touched)
        if current is None:
            out = delta
        else:
            out = current.join(
                F.broadcast(keys), "conv_id", "left_anti"
            ).unionByName(delta)
        record = {"epoch": int(epoch_id), "buckets": touched}
        return self._commit(manifest, out, touched, record, t0, epoch_id)

    def read_view(self, spark: SparkSession) -> DataFrame:
        """Current window rows (no tombstones exist in this table)."""
        return self.read(spark).drop("bucket")


def windowed_state_batch(envelopes: DataFrame, window: str = "10 minutes") -> DataFrame:
    """Batch twin / oracle: tumbling per-conv window counts over the
    fully-materialized LWW state — what the maintained view must equal
    after the stream drains, whatever the update/delete interleaving."""
    from ..operators.cdc import apply_changelog

    return _window_rows(apply_changelog(envelopes), window)


def _window_rows(live: DataFrame, window: str, slide: str | None = None) -> DataFrame:
    # with slide, F.window(ts, W, S) multi-assigns each turn to its W/S
    # covering windows — the recompute stays one hash agg per touched conv
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


def sliding_state_batch(
    envelopes: DataFrame,
    window: str = "10 minutes",
    slide: str = "5 minutes",
) -> DataFrame:
    """Batch twin / oracle for :func:`sliding_state_stream`."""
    from ..operators.cdc import apply_changelog

    return _window_rows(apply_changelog(envelopes), window, slide)


def _session_rows(live: DataFrame, gap: str) -> DataFrame:
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


SESSION_VIEW_DDL = (
    "conv_id string, sess_start timestamp, sess_end timestamp,"
    " n_turns long, first_turn int, last_turn int, bucket int"
)


def windowed_state_stream(
    spark: SparkSession,
    spool_dir: str,
    state_sink: MergeParquetSink,
    window_sink: GroupedReplaceParquetSink,
    checkpoint_dir: str,
    window: str = "10 minutes",
    max_files_per_trigger: int | None = 1,
):
    """Tumbling-window view maintained under upserts/deletes."""
    pl.materialize_stream(
        spark, spool_dir, state_sink, checkpoint_dir,
        max_files_per_trigger=max_files_per_trigger,
        view=(window_sink, lambda live: _window_rows(live, window)),
    )
    return window_sink


def sliding_state_stream(
    spark: SparkSession,
    spool_dir: str,
    state_sink: MergeParquetSink,
    window_sink: GroupedReplaceParquetSink,
    checkpoint_dir: str,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    max_files_per_trigger: int | None = 1,
):
    """Sliding-window view maintained under upserts/deletes: a ts move
    retracts the turn from EVERY window it covered and adds it to every
    window it now covers — W/S memberships per turn, all handled by the
    same recompute-from-state commit (no per-membership retraction
    bookkeeping)."""
    pl.materialize_stream(
        spark, spool_dir, state_sink, checkpoint_dir,
        max_files_per_trigger=max_files_per_trigger,
        view=(window_sink, lambda live: _window_rows(live, window, slide)),
    )
    return window_sink


def session_state_stream(
    spark: SparkSession,
    spool_dir: str,
    state_sink: MergeParquetSink,
    session_sink: GroupedReplaceParquetSink,
    checkpoint_dir: str,
    gap: str = "30 minutes",
    max_files_per_trigger: int | None = 1,
):
    """Turn-gap sessionization maintained under upserts/deletes — the
    view append-mode session windows cannot express: a DELETED middle
    turn can SPLIT a session in two, and an update that moves a turn
    into a gap can MERGE two sessions; recompute-from-state yields the
    exact post-change sessions either way (tests/test_ivm.py).

    Construct the sink with the session schema::

        GroupedReplaceParquetSink(root, schema_ddl=SESSION_VIEW_DDL)
    """
    pl.materialize_stream(
        spark, spool_dir, state_sink, checkpoint_dir,
        max_files_per_trigger=max_files_per_trigger,
        view=(session_sink, lambda live: _session_rows(live, gap)),
    )
    return session_sink


def sessions_state_batch(envelopes: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Batch twin / oracle for :func:`session_state_stream`."""
    from ..operators.cdc import apply_changelog

    return _session_rows(apply_changelog(envelopes), gap)
