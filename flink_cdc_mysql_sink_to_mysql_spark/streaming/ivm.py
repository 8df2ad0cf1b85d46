"""Incremental view maintenance: windowed aggregates under CDC upserts.

``windowed_counts_stream`` (pipeline.py) runs ``windows.window_rows``
over a watermarked turn stream and counts EVENTS — correct for an
append-only feed, but a changelog is not append-only: an ``op='u'``
that moves a turn's ``ts`` across a window boundary must retract from
the old window and add to the new one, and an ``op='d'`` must retract
outright. Structured Streaming's windowed aggregates cannot retract in
append mode, so this module maintains the view the same way the engine
maintains the transcript table: as an idempotent MERGE-style table
updated per micro-batch, recomputed with the SAME operator
(``windows.window_rows`` / ``windows.session_rows``) over the touched
conversations' live turns.

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

The recompute is any ``live turns -> view rows`` function:
``windows.window_rows`` (tumbling/sliding) and ``windows.session_rows``,
``dedup.minhash_index_rows`` (near-dup band index) or
``semsearch.embedding_rows`` (embedding index). ``jobs/ivm_view_job.py``
runs the first three as a deployed view.

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

from ..operators.windows import window_rows
from . import pipeline as pl
from .sink import MergeParquetSink


#: view-sink schemas incl. the sink's stored bucket column: the
#: tumbling/sliding window counts and the turn-gap sessions
WINDOW_VIEW_DDL = (
    "conv_id string, win_start timestamp, win_end timestamp,"
    " n_turns long, bucket int"
)
SESSION_VIEW_DDL = (
    "conv_id string, sess_start timestamp, sess_end timestamp,"
    " n_turns long, first_turn int, last_turn int, bucket int"
)


@dataclass
class GroupedReplaceParquetSink(MergeParquetSink):
    """Keyed table with replace-by-group commits (same manifest /
    bucket / epoch-skip machinery as the MERGE sink; rows of one key
    always live in the key's hash bucket).

    ``replace_groups(keys, rows, epoch)``: atomically replace ALL rows
    of the given keys with the given rows (callers pass rows only for
    those keys — a key with no rows is a full delete).

    ``schema_ddl`` fixes the table's row type (reads of an empty /
    partial table need it); the default is the window-count view.
    """

    #: row schema incl. the stored bucket column (field, not class
    #: constant: each per-key view has its own)
    schema_ddl: str = WINDOW_VIEW_DDL

    @property
    def _SCHEMA(self) -> str:  # noqa: N802 (mirrors the parent constant)
        return self.schema_ddl

    def replace_groups(
        self, keys: DataFrame, rows: DataFrame, epoch_id: int
    ) -> dict:
        spark = rows.sparkSession
        t0 = time.time()
        manifest = self._open(epoch_id)
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

    return window_rows(apply_changelog(envelopes), window)


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
        view=(window_sink, lambda live: window_rows(live, window)),
    )
    return window_sink
