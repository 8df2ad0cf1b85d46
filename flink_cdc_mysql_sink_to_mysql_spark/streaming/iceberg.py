"""Iceberg sink path (config-selected; SURVEY.md §7 watch list).

The north rule targets an Iceberg table; this sandbox has no Iceberg
runtime jars (no network, nothing vendored), so the default sink is the
parquet MERGE shim (streaming/sink.py) with identical semantics. This
module is the real Iceberg path — same ``merge_changelog(batch,
epoch_id)`` contract — used when the session has an Iceberg catalog
configured::

    spark.sql.catalog.cdc = org.apache.iceberg.spark.SparkCatalog
    spark.sql.catalog.cdc.type = hadoop | hive | rest
    spark.sql.extensions = org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions

Swap `MergeParquetSink` for `IcebergMergeSink` in
pipeline.materialize_stream / jobs/changelog_apply_job.py and nothing
else changes (except that a maintained ``view=`` needs the parquet
state sink: its recompute reads the merge's touched buckets, which
this sink neither records nor exposes): exactly-once still rests on (a) replayable source,
(b) deterministic LWW reduction of each micro-batch, (c) an idempotent
MERGE keyed on (conv_id, turn_idx) — re-running an epoch re-applies the
same winners and converges. Iceberg's snapshot isolation additionally
makes each MERGE an atomic commit (the shim's manifest emulates this).

Semantics are IDENTICAL to the shim by construction, not by claim
(round-1 advisor found the first draft diverged at seq ties and
out-of-order replays):

- the per-batch LWW reduction is the SAME function the shim uses
  (:func:`..streaming.sink.lww_delta`) — one code path, tested once;
- the stored table carries ``ord = seq*4 + op_rank`` and the MERGE
  guards on ``s.ord > t.ord``, so the d>u>c>r tiebreak at equal seq
  survives cross-batch exactly as in the shim (a bare ``s.seq > t.seq``
  would drop a delete tying with a stored insert);
- deletes are KEPT as op='d' tombstone rows (``UPDATE SET *`` /
  ``INSERT *``), never ``WHEN MATCHED DELETE`` — so a replayed older
  insert hits the tombstone's WHEN MATCHED arm and loses on ord instead
  of resurrecting the key via WHEN NOT MATCHED. ``snapshot()`` filters
  ``op != 'd'``, same as the shim.

Without the runtime, the statement itself is still tested two ways
(tests/test_iceberg_sink.py): a golden-text test pins the clause shape,
and :func:`emulate_merge` — a DataFrame transcription of the WHEN
clauses (full-outer-join form, structurally unlike the shim's groupBy)
— is executed across multi-epoch / seq-tie / out-of-order-replay
scenarios and asserted row-identical to the shim's table.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sink import lww_delta

MERGE_COLS = [
    "conv_id", "turn_idx", "role", "text", "tool", "ts", "seq", "op", "ord",
]


def iceberg_available(spark: SparkSession, catalog: str = "cdc") -> bool:
    """True iff an Iceberg catalog is usable in this session."""
    try:
        spark.sql(f"SHOW NAMESPACES IN {catalog}")
        return True
    except Exception:
        return False


def emulate_merge(current: DataFrame, delta: DataFrame) -> DataFrame:
    """Executable specification of :meth:`IcebergMergeSink.merge_sql`.

    A literal DataFrame transcription of the MERGE statement — full
    outer join of target × (pre-reduced) source on the key, then one
    row per key chosen by the WHEN clauses:

    - matched, s.ord > t.ord → source row (UPDATE SET *)
    - matched, otherwise     → target row (no-op)
    - not matched by target  → source row (INSERT *, incl. tombstones)
    - not matched by source  → target row

    Deliberately NOT the shim's union+groupBy plan, so tests comparing
    the two exercise the clause logic through an independent path.
    Both inputs must be key-unique (the target is a table; the source
    is the lww_delta output).
    """
    t = current.select([F.col(c).alias(f"t_{c}") for c in MERGE_COLS])
    s = delta.select([F.col(c).alias(f"s_{c}") for c in MERGE_COLS])
    j = t.join(
        s,
        (F.col("t_conv_id") == F.col("s_conv_id"))
        & (F.col("t_turn_idx") == F.col("s_turn_idx")),
        "full_outer",
    )
    take_source = F.col("t_conv_id").isNull() | (
        F.col("s_conv_id").isNotNull() & (F.col("s_ord") > F.col("t_ord"))
    )
    return j.select(
        *[
            F.when(take_source, F.col(f"s_{c}"))
            .otherwise(F.col(f"t_{c}"))
            .alias(c)
            for c in MERGE_COLS
        ]
    )


@dataclass
class IcebergMergeSink:
    """Exactly-once upsert sink backed by a real Iceberg table."""

    table: str  # e.g. "cdc.db.transcript_turns"

    DDL = (
        "(conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp, seq bigint, op string, ord bigint)"
        " USING iceberg PARTITIONED BY (bucket(64, conv_id))"
    )

    def ensure_table(self, spark: SparkSession) -> None:
        spark.sql(f"CREATE TABLE IF NOT EXISTS {self.table} {self.DDL}")

    def merge_sql(self, src_view: str) -> str:
        """The MERGE statement (golden-tested; see module docstring for
        why ord-guard + tombstone-update, never DELETE)."""
        return f"""
            MERGE INTO {self.table} t
            USING {src_view} s
            ON t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx
            WHEN MATCHED AND s.ord > t.ord THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *
            """

    def merge_changelog(self, batch: DataFrame, epoch_id: int) -> dict:
        """foreachBatch body: LWW-reduce the micro-batch, then MERGE.

        The pre-MERGE reduction (shared with the parquet shim) keeps one
        winner per key so the MERGE never sees duplicate source keys
        (Iceberg rejects them), and the ord-guarded WHEN clause makes
        replays no-ops — an epoch-id table is unnecessary, idempotence
        is value-level.
        """
        spark = batch.sparkSession
        self.ensure_table(spark)
        delta = lww_delta(batch)
        view = f"_delta_{epoch_id}"
        delta.createOrReplaceTempView(view)
        try:
            spark.sql(self.merge_sql(view))
        finally:
            spark.catalog.dropTempView(view)
        return {"epoch": int(epoch_id), "table": self.table}

    def snapshot(self, spark: SparkSession) -> DataFrame:
        # drop the bookkeeping columns so the schema is identical to
        # MergeParquetSink.snapshot() — the drop-in contract consumers
        # (and the golden row tests) rely on
        return (
            spark.table(self.table)
            .where(F.col("op") != "d")
            .drop("op", "seq", "ord")
        )
