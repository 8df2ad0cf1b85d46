"""Structured-Streaming wrapper: envelope feeds → derive → sinks.

Mirrors the reference job topology (UserBehaviorClickHouseSinkJob.java:
59-97: two CDC sources → union → batched sink, 3 s checkpoints). Every
CDC path — typed, Mongo, JSON/DLQ and maintained views — is one query
run by :func:`materialize_stream`:

    readStream(JSON wire) → parse ────────────┐  iff dlq_dir
    readStream(spool) ─┬→ unionByName ────────┤  otherwise
    readStream(mongo) ─┘  (mongo_spool_dir)   │
      → observe(rows[, quarantined]) → foreachBatch, per epoch:
          [split quarantine → dlq_dir/epoch=<id>]      JSON only
          [top-N hot convs → <lineage>.hot/]           track_hot_convs
          → MERGE into the state sink (exactly-once upsert, sink.py)
          → [recompute touched convs → replace_groups]  view

The append-mode aggregates below (windowed counts, stream-stream join,
session windows) are separate queries over the typed spool.

Checkpointing: `checkpointLocation` persists source offsets + commit
log — the analog of Flink's enableCheckpointing(3000) (`:61`); restart
resumes from the last committed microbatch, and the MERGE sink's
idempotence makes the overlap harmless (exactly-once effective).

Rate control: `maxFilesPerTrigger` stands in for the reference's
batch-size/flush-interval knobs (`:84-85`).
"""

from __future__ import annotations

import json
import os
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

def image_ddl(extra_image_fields: dict[str, str] | None = None) -> str:
    """The per-image struct DDL (``struct<...>``), optionally widened
    with evolved columns — single source for every reader that needs
    the (possibly evolved) turn image type."""
    image = "conv_id:string,turn_idx:int,role:string,text:string," "tool:string,ts:timestamp"
    for name, typ in (extra_image_fields or {}).items():
        image += f",{name}:{typ}"
    return f"struct<{image}>"


def envelope_ddl(extra_image_fields: dict[str, str] | None = None) -> str:
    """The Debezium-shaped envelope DDL, optionally widened with evolved
    per-image columns (name → Spark DDL type) appended to BOTH the
    before and after structs — the schema-evolution moment for the wire
    and spool readers (upstream Debezium picking up an added table
    column). Old data NULL-fills the new field on read."""
    image = image_ddl(extra_image_fields)
    return (
        f"op string,"
        f" before {image},"
        f" after {image},"
        " source struct<db:string,table:string>,"
        " seq long"
    )


ENVELOPE_DDL = envelope_ddl()


def envelope_stream(
    spark: SparkSession,
    spool_dir: str,
    max_files_per_trigger: int | None = 1,
    extra_image_fields: dict[str, str] | None = None,
) -> DataFrame:
    """File-based streaming source of Debezium-shaped envelope rows.

    In production this is `readStream.format("iceberg")` (or Kafka with
    from_json) on the append-only changelog; the file spool keeps the
    identical plan shape in-sandbox. maxFilesPerTrigger bounds batch
    size (reference flush-batching analog). ``extra_image_fields``
    widens the image structs (schema evolution — see
    :func:`envelope_ddl`); a pre-evolution spool reads NULLs there.
    """
    reader = spark.readStream.schema(envelope_ddl(extra_image_fields))
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(spool_dir)


def console_sink(stream_df: DataFrame, num_rows: int = 20, truncate: bool = True):
    """K4 debug print sink (the reference's commented-out `.print()`,
    UserGroupClickHouseJob.java:60): start a console-format streaming
    write. Returns the StreamingQuery (caller stops/awaits it)."""
    return (
        stream_df.writeStream.format("console")
        .option("numRows", str(num_rows))
        .option("truncate", str(truncate).lower())
        .start()
    )


def dedup_envelopes(env: DataFrame, watermark_delay: str = "1 hour") -> DataFrame:
    """Drop redelivered changelog envelopes (at-least-once upstream →
    effectively-once downstream) with `dropDuplicatesWithinWatermark`.

    Identity of an envelope = (op, seq, conv_id, turn_idx) — ``seq`` is
    epoch-millis change order, unique only per key. The MERGE sink is
    already idempotent under redelivery (ord-guarded LWW), so this stage
    exists for the AGGREGATING consumers (windowed counts, cohort
    stats), where a duplicate envelope double-counts.

    Scale: state is one small key per envelope, evicted once the event
    time passes the watermark — bounded by (watermark window × ingest
    rate), not by stream history; keys hash-partition across executors.
    """
    keyed = env.select(
        "*",
        F.coalesce(F.col("after.ts"), F.col("before.ts")).alias("__event_ts"),
        F.coalesce(F.col("after.conv_id"), F.col("before.conv_id")).alias("__conv"),
        F.coalesce(F.col("after.turn_idx"), F.col("before.turn_idx")).alias("__idx"),
    )
    return (
        keyed.withWatermark("__event_ts", watermark_delay)
        .dropDuplicatesWithinWatermark(["op", "seq", "__conv", "__idx"])
        .drop("__event_ts", "__conv", "__idx")
    )


def mongo_ddl(extra_image_fields: dict[str, str] | None = None) -> str:
    """Mongo-oplog dialect DDL; ``extra_image_fields`` widens
    ``fullDocument`` the same way :func:`envelope_ddl` widens the
    Debezium images (the collection evolved upstream)."""
    doc = (
        "_id:struct<oid:string>,conv_id:string,"
        "turn_idx:int,role:string,text:string,tool:string,"
        "create_time:struct<date:long>"
    )
    for name, typ in (extra_image_fields or {}).items():
        doc += f",{name}:{typ}"
    return f"operationType string, fullDocument struct<{doc}>"


MONGO_DDL = mongo_ddl()


def mongo_envelope_stream(
    spark: SparkSession,
    spool_dir: str,
    max_files_per_trigger: int | None = 1,
    extra_image_fields: dict[str, str] | None = None,
) -> DataFrame:
    """Second dialect feed (Mongo oplog shape) as a stream — the raw
    `operationType/fullDocument` rows; normalization to the common
    envelope happens in cdc.union_feeds (U1 parity)."""
    reader = spark.readStream.schema(mongo_ddl(extra_image_fields))
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(spool_dir)


class LineageListener(StreamingQueryListener):
    """Per-microbatch lineage + row-count metrics (north rule: restarts
    resume with per-partition lineage and row-count metrics)."""

    def __init__(self, out_path: str):
        self.out_path = out_path

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        rec = {
            "batchId": p.batchId,
            "numInputRows": p.numInputRows,
            "sources": [
                {"description": s.description, "numInputRows": s.numInputRows}
                for s in p.sources
            ],
            "observed": dict(p.observedMetrics.get("engine").asDict())
            if p.observedMetrics.get("engine")
            else None,
            "durationMs": dict(p.durationMs),
        }
        with open(self.out_path, "a") as f:
            f.write(json.dumps(rec, default=str) + "\n")

    def onQueryTerminated(self, event):
        pass

    def onQueryIdle(self, event):
        pass


def materialize_stream(
    spark: SparkSession,
    spool_dir: str,
    sink,
    checkpoint_dir: str,
    *,
    max_files_per_trigger: int | None = 1,
    lineage_path: str | None = None,
    mongo_spool_dir: str | None = None,
    track_hot_convs: int | None = None,
    dlq_dir: str | None = None,
    view: tuple | None = None,
):
    """Run the changelog→table materialization as a stream, available-now
    — the one CDC runner (module docstring topology).

    Returns after the spool is drained (Trigger.AvailableNow analog of a
    bounded replay); re-invoking with the same checkpoint resumes at the
    committed offset — the kill/resume path tests/test_streaming.py pins.

    The source is the JSON wire iff ``dlq_dir`` is given. Per epoch the
    quarantined lines overwrite ``dlq_dir/epoch=<id>/`` (keyed by epoch,
    so a foreachBatch replay after a crash rewrites — never duplicates —
    the epoch's rejects: DLQ appends stay exactly-once alongside the
    MERGE's epoch-skip) and only the good envelopes go on. The observed
    metrics count the rejects per micro-batch, so lineage records how
    much of the feed was quarantined — the reference swallows these
    without a trace (UserBehaviorDebeziumDeserializer.java:72-74).

    Otherwise the source is the typed spool; with ``mongo_spool_dir``
    the second dialect feed streams in and the two are unioned (U1 —
    the reference's connect+CoMap, UserBehaviorClickHouseSinkJob.java:
    66,103-113) before the sink.

    ``track_hot_convs=N`` (opt-in) records each micro-batch's top-N
    conversations by envelope count to ``lineage_path + '.hot/'``
    (one ``epoch-<id>.json`` per micro-batch) — the ONLINE half of
    skew handling (plans/skew.py defense #4): operators watch this
    feed to decide which keys need selective salting, and an SRE
    watches it to see a hot conversation forming before it shows up as
    a straggler task. Cost: one bounded (top-N collect) agg per
    micro-batch over the persisted batch. Exactly-once by idempotent
    per-epoch overwrite (atomic tmp+rename, content deterministic from
    the batch), written BEFORE the sink commit so a crash between the
    two can only re-write an identical file on replay — never leave a
    committed epoch without its record.

    ``view=(view_sink, recompute)`` maintains a per-conversation view
    with the state (streaming/ivm.py): after the MERGE, the touched
    conversations' rows are recomputed from the post-merge state via
    ``recompute(live_turns) -> rows`` (the read pruned to the buckets
    in the merge's record and broadcast-joined to the touched keys) and
    grouped-replaced in ``view_sink``. Both commits are epoch-skipped
    and the recompute reads only committed state, so any crash/replay
    interleaving converges. Needs the parquet state sink (it reads the
    touched buckets).

    Only a JSON or hot-tracked batch is persisted; a typed batch is
    re-read from its spool files by each pass over it.
    """
    from ..operators import cdc
    from ..sources.json_envelopes import split_quarantine

    # The STREAM schema must track the TABLE's evolved set: a stream
    # parsed with a narrower schema than the table would NULL-fill the
    # evolved columns in every delta and LWW those NULLs over stored
    # values (silent data loss). The Iceberg sink has no evolved columns.
    extras = getattr(sink, "evolved_fields", lambda: None)()
    metrics = [F.count(F.lit(1)).alias("rows")]
    if dlq_dir is not None:
        if mongo_spool_dir is not None:
            raise ValueError("the Mongo feed streams from the typed spool only")
        env = json_envelope_stream(spark, spool_dir, max_files_per_trigger, extras)
        metrics.append(F.count(F.col("_quarantine_reason")).alias("quarantined"))
    else:
        env = envelope_stream(spark, spool_dir, max_files_per_trigger, extras)
        if mongo_spool_dir is not None:
            mongo = mongo_envelope_stream(
                spark, mongo_spool_dir, max_files_per_trigger, extras
            )
            env = cdc.union_feeds(env, mongo, extras)
    env = env.observe("engine", *metrics)

    conv_id = F.coalesce(F.col("after.conv_id"), F.col("before.conv_id"))
    hot_dir = (lineage_path or checkpoint_dir) + ".hot"
    persist = dlq_dir is not None or bool(track_hot_convs)

    def _epoch(batch: DataFrame, eid: int) -> None:
        if persist:
            batch = batch.persist()
        try:
            df = batch
            if dlq_dir is not None:
                df, bad = split_quarantine(batch)
                bad.write.mode("overwrite").parquet(
                    os.path.join(dlq_dir, f"epoch={eid}")
                )
            rec = os.path.join(hot_dir, f"epoch-{eid:06d}.json")
            if track_hot_convs and not os.path.exists(rec):
                top = (
                    df.groupBy(conv_id.alias("conv_id"))
                    .agg(F.count(F.lit(1)).alias("n"))
                    .orderBy(F.desc("n"), F.asc("conv_id"))
                    .limit(track_hot_convs)
                    .collect()  # bounded: ≤ track_hot_convs rows
                )
                os.makedirs(hot_dir, exist_ok=True)
                hot = {"epoch": eid, "hot": [[r["conv_id"], r["n"]] for r in top]}
                with open(rec + ".tmp", "w") as f:
                    f.write(json.dumps(hot) + "\n")
                os.replace(rec + ".tmp", rec)
            info = sink.merge_changelog(df, eid)
            if view is not None:
                view_sink, recompute = view
                keys = (
                    df.select(conv_id.alias("conv_id"))
                    .where(F.col("conv_id").isNotNull())
                    .distinct()
                )
                state = sink._read_buckets(spark, info["buckets"])
                live = (
                    state.where(F.col("op") != "d")
                    if state is not None
                    else spark.createDataFrame([], sink._SCHEMA)
                )
                rows = recompute(live.join(F.broadcast(keys), "conv_id"))
                view_sink.replace_groups(keys, rows, eid)
        finally:
            if persist:
                batch.unpersist()

    listener = None
    if lineage_path:
        listener = LineageListener(lineage_path)
        spark.streams.addListener(listener)
    try:
        q = (
            env.writeStream.foreachBatch(_epoch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if listener is not None:
            spark.streams.removeListener(listener)
    return sink


#: reserved epoch id for the batch bootstrap commit — streaming epochs
#: count up from 0, so -1 can never collide with a microbatch.
BOOTSTRAP_EPOCH = -1


def bootstrap_then_tail(
    spark: SparkSession,
    snapshot_envelopes: DataFrame,
    spool_dir: str,
    sink,
    checkpoint_dir: str,
    **stream_kwargs,
) -> dict:
    """Snapshot-then-tail start: the reference connector's two-phase
    read (MySqlSource snapshots the tables, then tails the binlog —
    UserBehaviorClickHouseSinkJob.java:39-48; snapshot rows arrive as
    op='r') expressed as one BATCH MERGE followed by the stream.

    Phase 1 commits the whole snapshot image in ONE merge under the
    reserved :data:`BOOTSTRAP_EPOCH`. That is the at-scale point: the
    sink is copy-on-write per touched bucket, so trickling an initial
    load through microbatches rewrites every bucket once per batch —
    O(table × batches) bytes — while the batch bootstrap writes each
    bucket exactly once. Phase 2 streams the changelog tail as usual.

    Correctness needs NO coordination between the phases: envelopes the
    tail re-delivers from before the snapshot point (connector overlap)
    lose to the snapshot rows — or win, if genuinely newer — purely by
    the ord = (seq, op-rank) LWW guard, and a crash between the phases
    is resume-safe because re-running the bootstrap is an epoch-replay
    no-op (the manifest already holds BOOTSTRAP_EPOCH).

    Returns the bootstrap commit's record (``skipped=True`` on a
    resume).
    """
    # the merge evaluates its batch twice; the snapshot is derived, so
    # persist it for the merge
    snapshot_envelopes = snapshot_envelopes.persist()
    try:
        info = sink.merge_changelog(snapshot_envelopes, BOOTSTRAP_EPOCH)
    finally:
        snapshot_envelopes.unpersist()
    materialize_stream(spark, spool_dir, sink, checkpoint_dir, **stream_kwargs)
    return info


def json_envelope_stream(
    spark: SparkSession,
    spool_dir: str,
    max_files_per_trigger: int | None = 1,
    extra_image_fields: dict[str, str] | None = None,
) -> DataFrame:
    """Wire-format streaming source: JSON-line files → parsed envelopes
    with ``_quarantine_reason`` (sources/json_envelopes.py front door).

    This is the production shape — a Kafka topic of Debezium JSON is
    ``readStream.format("kafka")`` + the same ``parse_envelope_lines``
    over ``CAST(value AS STRING)``; the text spool keeps the identical
    plan in-sandbox. ``extra_image_fields`` widens the parse for an
    evolved wire (schema evolution — see sources/json_envelopes.py)."""
    from ..sources.json_envelopes import parse_envelope_lines

    reader = spark.readStream
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return parse_envelope_lines(
        reader.text(spool_dir), extra_image_fields=extra_image_fields
    )


#: the JSON-wire entry point under its historical name (``dlq_dir``
#: selects the wire source)
materialize_stream_from_json = materialize_stream


def read_dlq(spark: SparkSession, dlq_dir: str) -> DataFrame:
    """All quarantined rows across epochs (raw line + reason + epoch —
    the epoch comes from the partition directory name)."""
    return (
        spark.read.option("basePath", dlq_dir)
        .schema("_raw string, reason string, epoch long")
        .parquet(os.path.join(dlq_dir, "epoch=*"))
    )


#: reserved epoch band for DLQ replay merges: source epoch ``e`` gets
#: ``-(DLQ_REPLAY_BASE + e*1000)`` with up to 1000 probe slots below
#: it (one per successive drain of the same epoch). Bands in use:
#: -1 bootstrap; -(horizon+2) retention expiry (horizons are epoch-ms
#: seqs, astronomically negative); this band starts at -10000 so none
#: collide.
DLQ_REPLAY_BASE = 10_000


def replay_dlq(spark: SparkSession, dlq_dir: str, sink, parse_fn=None) -> dict:
    """Day-2 recovery: re-parse every quarantined raw line with the
    CURRENT parser (or an explicitly fixed ``parse_fn(raw_df) ->
    parsed``) and MERGE the now-good envelopes into the sink; rows that
    still fail stay quarantined.

    Safety model: recovered envelopes are ordinary LWW rows, so the
    MERGE is CONTENT-idempotent (re-applying the same rows converges by
    ord) — the epoch here only prevents queue-drain bookkeeping races,
    not duplication. Each source epoch drains under the first unused
    slot of its reserved band (probe on epoch-skip), so a SECOND parser
    fix on a partially-drained epoch still applies instead of being
    epoch-skipped into silent row loss; only after a successful merge
    is the epoch's DLQ dir rewritten (write-then-swap) with the
    still-bad remainder. Crash between merge and rewrite: the re-run
    probes to a fresh slot and re-merges the same rows — harmless by
    LWW idempotence — then completes the rewrite.
    """
    import shutil

    from ..sources.json_envelopes import parse_envelope_lines, split_quarantine

    if parse_fn is None:
        # follow the TABLE's evolved schema (sink.evolved_fields): a
        # drain into an evolved sink must not re-parse with the base
        # schema and merge NULLs where the quarantined line carried the
        # evolved column
        extras = getattr(sink, "evolved_fields", lambda: None)()

        def parse_fn(raw_df):
            return parse_envelope_lines(raw_df, extra_image_fields=extras)

    out = {"epochs": [], "recovered": 0, "still_bad": 0}
    if not os.path.isdir(dlq_dir):
        return out
    # Recover interrupted swaps before scanning. The write sequence is
    # write tmp → rmtree(original) → os.replace, so a crash leaves one
    # of three layouts, discriminated by the tmp's Spark _SUCCESS
    # commit marker (a partial write never has one):
    #   - tmp only                → swap finished its rmtree: complete
    #     the replace (the tmp IS the committed leftovers);
    #   - both, tmp COMMITTED     → crash during/just before rmtree —
    #     the original may already be torn, the tmp is authoritative:
    #     replace the original with it (review finding: assuming the
    #     original was intact here could lose rows rmtree had removed);
    #   - both, tmp uncommitted   → crash mid-tmp-write: the original
    #     is untouched and authoritative; drop the partial tmp.
    for name in sorted(os.listdir(dlq_dir)):
        if not (name.startswith("epoch=") and name.endswith(".rewrite")):
            continue
        tmp = os.path.join(dlq_dir, name)
        target = tmp[: -len(".rewrite")]
        committed = os.path.exists(os.path.join(tmp, "_SUCCESS"))
        if not os.path.isdir(target):
            os.replace(tmp, target)
        elif committed:
            shutil.rmtree(target)
            os.replace(tmp, target)
        else:
            shutil.rmtree(tmp)
    for name in sorted(os.listdir(dlq_dir)):
        if not name.startswith("epoch=") or name.endswith(".rewrite"):
            continue
        src_epoch = int(name.split("=", 1)[1])
        path = os.path.join(dlq_dir, name)
        raw = (
            spark.read.schema("_raw string, reason string")
            .parquet(path)
            .select(F.col("_raw").alias("value"))
        )
        good, bad = split_quarantine(parse_fn(raw))
        good = good.persist()
        bad = bad.persist()
        try:
            n_good = good.count()
            n_bad = bad.count()
            if n_good:
                slot = -(DLQ_REPLAY_BASE + src_epoch * 1000)
                while sink.merge_changelog(good, slot).get("skipped"):
                    slot -= 1  # next free slot in this epoch's band
                # drain: rewrite the epoch dir with only the leftovers
                # (write-then-swap — a crash mid-rewrite must not lose
                # the still-bad rows)
                tmp = path + ".rewrite"
                bad.write.mode("overwrite").parquet(tmp)
                shutil.rmtree(path)
                os.replace(tmp, path)
            out["epochs"].append(
                {"epoch": src_epoch, "recovered": n_good, "still_bad": n_bad}
            )
            out["recovered"] += n_good
            out["still_bad"] += n_bad
        finally:
            good.unpersist()
            bad.unpersist()
    return out


def windowed_counts_stream(
    spark: SparkSession,
    spool_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    window: str = "10 minutes",
    watermark_delay: str = "30 minutes",
    slide: str | None = None,
):
    """Event-time tumbling (or, with ``slide``, sliding) counts per
    conv_id with a real watermark — late rows beyond the delay are
    dropped by the state store (the north-rule late-data semantics; the
    reference has none, SURVEY §2.8).

    Append-mode parquet output: a window only emits once its watermark
    passes — restart-safe via the checkpoint.
    """
    env = envelope_stream(spark, spool_dir)
    turns = env.where(F.col("after").isNotNull()).select(
        F.col("after.conv_id").alias("conv_id"),
        F.col("after.ts").alias("ts"),
    )
    win = (
        F.window("ts", window, slide) if slide else F.window("ts", window)
    )
    agg = (
        turns.withWatermark("ts", watermark_delay)
        .groupBy(win.alias("win"), "conv_id")
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "conv_id",
            "n_turns",
        )
    )
    q = (
        agg.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return out_dir


def stream_stream_join(
    spark: SparkSession,
    spool_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_delay: str = "INTERVAL 30 MINUTES",
    watermark_delay: str = "30 minutes",
):
    """Stateful stream-stream join: user turns ⋈ assistant/tool turns on
    conv_id with an event-time bound (the north-rule capability the
    reference lacks — it only unions, U1).

    Both sides carry watermarks, and the join's time-range predicate
    (a.ts in (u.ts, u.ts + max_delay]) lets the state store evict a
    user turn once the response-side watermark passes u.ts + max_delay —
    bounded state per conv_id regardless of stream length. Same plan as
    the batch form (operators/joins.py) so results are oracle-checkable.
    """
    env = envelope_stream(spark, spool_dir)
    turns = env.where(F.col("after").isNotNull()).select(
        F.col("after.conv_id").alias("conv_id"),
        F.col("after.turn_idx").alias("turn_idx"),
        F.col("after.role").alias("role"),
        F.col("after.ts").alias("ts"),
    )
    u = (
        turns.where(F.col("role") == "user")
        .select(
            F.col("conv_id").alias("u_conv"),
            F.col("turn_idx").alias("u_idx"),
            F.col("ts").alias("u_ts"),
        )
        .withWatermark("u_ts", watermark_delay)
    )
    a = (
        turns.where(F.col("role").isin("assistant", "tool"))
        .select(
            F.col("conv_id").alias("a_conv"),
            F.col("turn_idx").alias("a_idx"),
            F.col("role").alias("a_role"),
            F.col("ts").alias("a_ts"),
        )
        .withWatermark("a_ts", watermark_delay)
    )
    joined = u.join(
        a,
        (u["u_conv"] == a["a_conv"])
        & (a["a_ts"] > u["u_ts"])
        & (a["a_ts"] <= u["u_ts"] + F.expr(max_delay)),
        "inner",
    ).select(
        F.col("u_conv").alias("conv_id"),
        "u_idx",
        "a_idx",
        "a_role",
        (F.unix_millis("a_ts") - F.unix_millis("u_ts")).alias("latency_ms"),
    )
    q = (
        joined.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return out_dir


def session_windows_stream(
    spark: SparkSession,
    spool_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    gap: str = "30 minutes",
    watermark_delay: str = "30 minutes",
):
    """Turn-gap sessionization as a stream: `session_window(ts, gap)`
    per conv_id with a watermark — a session closes (and emits, append
    mode) once the watermark passes its end; late turns within the delay
    re-open/merge sessions, later ones are dropped (north-rule
    semantics; SURVEY §7 'session windows + upsert interplay')."""
    env = envelope_stream(spark, spool_dir)
    turns = env.where(F.col("after").isNotNull()).select(
        F.col("after.conv_id").alias("conv_id"),
        F.col("after.turn_idx").alias("turn_idx"),
        F.col("after.ts").alias("ts"),
    )
    agg = (
        turns.withWatermark("ts", watermark_delay)
        .groupBy(F.session_window("ts", gap).alias("sw"), "conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.min("turn_idx").alias("first_turn"),
            F.max("turn_idx").alias("last_turn"),
        )
        .select(
            F.col("sw.start").alias("sess_start"),
            F.col("sw.end").alias("sess_end"),
            "conv_id",
            "n_turns",
            "first_turn",
            "last_turn",
        )
    )
    q = (
        agg.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return out_dir


def spool_dataframe(df: DataFrame, spool_dir: str, name: str) -> str:
    """Append one bounded DataFrame to the spool as a single flat parquet
    file (atomic rename — the file source sees whole files only)."""
    import glob
    import shutil
    import uuid

    os.makedirs(spool_dir, exist_ok=True)
    tmp = os.path.join(spool_dir, f"_tmp-{uuid.uuid4().hex[:8]}")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    p = os.path.join(spool_dir, name)
    os.replace(part, p)
    shutil.rmtree(tmp)
    return p


def spool_changelog(
    envelopes: DataFrame, spool_dir: str, n_chunks: int = 4, order_by: str = "seq"
) -> list[str]:
    """Write a bounded changelog into the spool as n_chunks files in seq
    order — a deterministic replayable 'binlog' the stream consumes.
    Chunks split by seq range so arrival order ≈ change order (the
    reference's binlog-order delivery, parallelism-1 analog)."""
    import glob
    import shutil

    os.makedirs(spool_dir, exist_ok=True)
    df = envelopes.withColumn(
        "_chunk", F.ntile(n_chunks).over(Window.orderBy(order_by))
    )
    paths = []
    for i in range(1, n_chunks + 1):
        tmp = os.path.join(spool_dir, f"_tmp-{i:03d}")
        df.where(F.col("_chunk") == i).drop("_chunk").coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        # the file source doesn't recurse — promote the single part file
        # to a flat chunk file (spool append = atomic rename)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        p = os.path.join(spool_dir, f"chunk-{i:03d}.parquet")
        os.replace(part, p)
        shutil.rmtree(tmp)
        paths.append(p)
    return paths
