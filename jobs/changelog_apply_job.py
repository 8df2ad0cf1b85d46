#!/usr/bin/env python
"""spark-submit entrypoint: replay a transcript changelog into the
exactly-once upsert sink (the north-rule deployment shape).

Package the engine and submit::

    python -m zipfile -c /tmp/engine.zip flink_cdc_mysql_sink_to_mysql_spark
    spark-submit --master local[8] --py-files /tmp/engine.zip \
        jobs/changelog_apply_job.py \
        --sf-dir /root/testdata/sf0.001 --workdir /tmp/cdc-run

On a real cluster only ``--master`` changes (YARN/K8s); the job itself
is cluster-agnostic — no local filesystem assumptions beyond workdir
(point it at a shared mount / object store in production; the Iceberg
path swaps in for the parquet MERGE shim per SURVEY.md §7).

Re-running with the same --workdir resumes from the checkpoint and the
MERGE sink's idempotence keeps the result exactly-once (kill/resume is
pinned by tests/test_streaming.py; this job is the operational wrapper).

Prints ONE JSON summary line: rows materialized, microbatches, lineage.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from pyspark.sql import SparkSession  # noqa: E402

from flink_cdc_mysql_sink_to_mysql_spark.sources.transcripts import (  # noqa: E402
    mongo_changelog,
    mysql_changelog,
)
from flink_cdc_mysql_sink_to_mysql_spark.streaming import pipeline as pl  # noqa: E402
from flink_cdc_mysql_sink_to_mysql_spark.streaming.sink import (  # noqa: E402
    MergeParquetSink,
)


def _extra_field_spec(spec: str) -> tuple[str, str]:
    """argparse type= for --extra-field NAME:TYPE — validate the shape
    AND the DDL type eagerly, so a missing ':' or a typo'd type is a
    one-line usage error naming the bad spec, not a 'dictionary update
    sequence' ValueError or a Spark parse error deep in the MERGE
    (review finding)."""
    if ":" not in spec:
        raise argparse.ArgumentTypeError(
            f"--extra-field {spec!r}: expected NAME:TYPE (e.g. rating:int)"
        )
    name, typ = spec.split(":", 1)
    name, typ = name.strip(), typ.strip()
    if not name:
        raise argparse.ArgumentTypeError(
            f"--extra-field {spec!r}: empty column name"
        )
    from flink_cdc_mysql_sink_to_mysql_spark.streaming.sink import (
        _norm_ddl_type,
    )

    try:
        typ = _norm_ddl_type(name, typ)
    except ValueError as exc:
        raise argparse.ArgumentTypeError(str(exc)) from None
    return name, typ


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--chunks", type=int, default=4)
    ap.add_argument(
        "--n-buckets",
        type=int,
        default=32,
        help="sink hash buckets; size ≈ table_bytes / 128-256MB on a "
        "cluster (streaming/sink.py sizing note) — 32 suits the "
        "sf-scale tables this sandbox replays",
    )
    ap.add_argument(
        "--with-mongo",
        action="store_true",
        help="also stream the Mongo-dialect feed and union (U1)",
    )
    ap.add_argument(
        "--bootstrap",
        action="store_true",
        help="two-phase start (the CDC connector's snapshot-then-binlog "
        "shape): apply the op='r' snapshot image as ONE batch MERGE "
        "commit, then stream only the changelog tail — the initial "
        "load writes each sink bucket once instead of once per "
        "microbatch; overlap/resume safety comes from the ord-guarded "
        "LWW MERGE (streaming/pipeline.py:bootstrap_then_tail)",
    )
    ap.add_argument(
        "--vacuum",
        action="store_true",
        help="after the stream drains, delete sink version dirs the "
        "manifest no longer references (safe here: foreachBatch has "
        "finished, so the single-writer contract holds)",
    )
    ap.add_argument(
        "--compact",
        action="store_true",
        help="after the stream drains, fold the sink into one version "
        "dir (pair with --vacuum to reclaim the superseded dirs)",
    )
    ap.add_argument(
        "--expire-below-seq",
        type=int,
        default=None,
        help="after the stream drains, tombstone every conversation "
        "whose last change seq is strictly below this horizon "
        "(retention / right-to-erasure; runs as a horizon-derived "
        "maintenance epoch through the same exactly-once MERGE — see "
        "MergeParquetSink.expire_conversations)",
    )
    ap.add_argument(
        "--track-hot-convs",
        type=int,
        default=None,
        help="record each micro-batch's top-N conversations by envelope "
        "count to <workdir>/lineage.jsonl.hot/ (one epoch-keyed file "
        "per batch) — the online half of adaptive skew handling "
        "(plans/skew.py defense #4); exactly-once via idempotent "
        "per-epoch overwrite",
    )
    ap.add_argument(
        "--auto-compact-factor",
        type=float,
        default=None,
        help="compact only when fragmented: after the stream drains, "
        "fold the sink iff referenced files exceed FACTOR x buckets "
        "(each microbatch rewrites its touched buckets into a new "
        "version dir, so files grow ~ microbatches x touched buckets "
        "between compactions; 3-4 is a sensible cron default — "
        "unconditional --compact pays the full-table rewrite even "
        "when the sink is already tight)",
    )
    ap.add_argument(
        "--extra-field",
        action="append",
        default=None,
        type=_extra_field_spec,
        metavar="NAME:TYPE",
        help="evolve the sink schema with an added image column (e.g. "
        "rating:int) — repeatable; the table owns the evolved set "
        "(a later run without the flag auto-adopts it), old rows read "
        "NULL, type changes refuse (MergeParquetSink.extra_fields)",
    )
    args = ap.parse_args()

    spark = SparkSession.builder.appName("changelog-apply").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.sparkContext.setLogLevel("ERROR")
    if args.bootstrap:
        # the bootstrap merges the whole snapshot image in ONE commit —
        # fail fast with the exact remedy instead of OOMing mid-MERGE
        from flink_cdc_mysql_sink_to_mysql_spark.plans import heap

        heap.check_driver_heap(
            spark,
            args.sf_dir,
            job="changelog_apply_job",
            needs="the --bootstrap one-commit MERGE of the full snapshot",
        )

    spool = os.path.join(args.workdir, "spool")
    ckpt = os.path.join(args.workdir, "checkpoint")
    sink = MergeParquetSink(
        root=os.path.join(args.workdir, "sink"),
        n_buckets=args.n_buckets,
        extra_fields=dict(args.extra_field) if args.extra_field else None,
    )
    # The checkpoint commits a fixed source topology: resuming the same
    # workdir with a different --with-mongo would make Spark abort with
    # an obscure "number of streaming sources changed" — fail fast with
    # a clear message instead.
    topo_path = os.path.join(args.workdir, "topology.json")
    topo = {
        "with_mongo": bool(args.with_mongo),
        "chunks": args.chunks,
        "bootstrap": bool(args.bootstrap),
        "sf_dir": args.sf_dir,
    }
    if os.path.exists(topo_path):
        with open(topo_path) as f:
            prior_topo = json.load(f)
        # workdirs created before the flag existed ran without bootstrap
        prior_topo.setdefault("bootstrap", False)
        # ... and before sf_dir was pinned (a different --sf-dir on an
        # existing workdir would silently replay the OLD spool)
        prior_topo.setdefault("sf_dir", args.sf_dir)
        if prior_topo != topo:
            raise SystemExit(
                f"workdir {args.workdir} was created with {prior_topo}; "
                f"rerun with the same flags or use a fresh --workdir "
                f"(the streaming checkpoint pins the source topology)"
            )
    else:
        os.makedirs(args.workdir, exist_ok=True)
        with open(topo_path, "w") as f:
            json.dump(topo, f)

    def _spool_once(feed_fn, d: str, **kw) -> None:
        """Spool exactly once per workdir, crash-safe: a non-empty dir
        without the completion marker is a PARTIAL spool from a killed
        run — re-spool from scratch (deterministic input) rather than
        silently replaying a prefix of the changelog."""
        marker = d + ".complete"
        if os.path.exists(marker):
            return
        if os.path.isdir(d):
            import shutil

            shutil.rmtree(d)
        paths = pl.spool_changelog(feed_fn(spark, args.sf_dir), d, args.chunks, **kw)
        with open(marker, "w") as f:
            json.dump({"chunks": len(paths)}, f)

    if args.bootstrap:
        # tail spool excludes the snapshot image — it arrives via the
        # one-commit batch bootstrap below (overlap would also be fine:
        # the MERGE's LWW ord guard reconciles re-delivered envelopes)
        def _tail_feed(s, d):
            from pyspark.sql import functions as F

            return mysql_changelog(s, d).where(F.col("op") != "r")

        _spool_once(_tail_feed, spool)
    else:
        _spool_once(mysql_changelog, spool)
    mongo_spool = None
    if args.with_mongo:
        mongo_spool = os.path.join(args.workdir, "spool_mongo")
        _spool_once(
            mongo_changelog,
            mongo_spool,
            order_by="fullDocument.create_time.date",
        )

    def _lineage_lines(path: str) -> int:
        if not os.path.exists(path):
            return 0
        with open(path) as f:
            return sum(1 for _ in f)

    lineage = os.path.join(args.workdir, "lineage.jsonl")
    prior = _lineage_lines(lineage)
    bootstrap_info = None
    if args.bootstrap:
        from pyspark.sql import functions as F

        snapshot_env = mysql_changelog(spark, args.sf_dir).where(
            F.col("op") == "r"
        )
        bootstrap_info = pl.bootstrap_then_tail(
            spark,
            snapshot_env,
            spool,
            sink,
            ckpt,
            lineage_path=lineage,
            mongo_spool_dir=mongo_spool,
            track_hot_convs=args.track_hot_convs,
        )
    else:
        pl.materialize_stream(
            spark,
            spool,
            sink,
            ckpt,
            lineage_path=lineage,
            mongo_spool_dir=mongo_spool,
            track_hot_convs=args.track_hot_convs,
        )

    maintenance = {}
    if args.expire_below_seq is not None:
        # expiry BEFORE compaction so a paired --compact can fold the
        # fresh tombstones' version dir in the same run; the maintenance
        # epoch is horizon-derived (≤ -2, distinct from BOOTSTRAP_EPOCH),
        # so advancing the horizon on a later run always applies instead
        # of epoch-skipping
        maintenance["expiry"] = sink.expire_conversations(
            spark, args.expire_below_seq
        )
    if args.compact:
        maintenance["compact"] = sink.compact(spark)
    elif args.auto_compact_factor is not None:
        maintenance["auto_compact"] = sink.maybe_compact(
            spark, args.auto_compact_factor
        )
    if args.vacuum:
        v = sink.vacuum()
        maintenance["vacuum"] = {
            "removed_dirs": len(v["removed_dirs"]),
            "reclaimed_bytes": v["reclaimed_bytes"],
        }

    snap = sink.snapshot(spark)
    n = snap.count()
    batches = _lineage_lines(lineage) - prior
    print(
        json.dumps(
            {
                "rows_materialized": n,
                "microbatches_this_run": batches,
                "sink": sink.root,
                "checkpoint": ckpt,
                **({"bootstrap": bootstrap_info} if bootstrap_info else {}),
                **maintenance,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
