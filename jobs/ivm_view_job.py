#!/usr/bin/env python
"""spark-submit entrypoint: maintain an always-fresh windowed view of
the transcript changelog under upserts/deletes (streaming/ivm.py), in
the north-rule deployment shape.

Package the engine and submit::

    python -m zipfile -c /tmp/engine.zip flink_cdc_mysql_sink_to_mysql_spark
    spark-submit --master local[8] --py-files /tmp/engine.zip \
        jobs/ivm_view_job.py \
        --sf-dir /root/testdata/sf0.001 --workdir /tmp/ivm-run \
        --view session

Each micro-batch MERGEs the changelog into the LWW state table AND
recomputes the touched conversations' window rows into a
grouped-replace view sink — both epoch-guarded, so the pair stays
transactionally consistent and a replay is a no-op on both
(tests/test_ivm.py pins the semantics; this job is the operational
wrapper). Re-running with the same --workdir resumes from the
checkpoint.

``--check`` recomputes the view from the drained state table through
the batch twin and fails the run on any mismatch — a self-verifying
deployment (the maintained view must equal a from-scratch recompute,
whatever the update/delete interleaving was).

Prints ONE JSON summary line: state/view row counts, microbatches,
and the check verdict.
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
    mysql_changelog,
)
from flink_cdc_mysql_sink_to_mysql_spark.streaming import ivm  # noqa: E402
from flink_cdc_mysql_sink_to_mysql_spark.streaming import pipeline as pl  # noqa: E402
from flink_cdc_mysql_sink_to_mysql_spark.streaming.sink import (  # noqa: E402
    MergeParquetSink,
)

VIEWS = {
    # view kind -> (stream fn, kwargs, view-sink ddl or None for default)
    "tumbling": (ivm.windowed_state_stream, {}, None),
    "sliding": (ivm.sliding_state_stream, {}, None),
    "session": (ivm.session_state_stream, {}, ivm.SESSION_VIEW_DDL),
}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--chunks", type=int, default=4)
    ap.add_argument("--n-buckets", type=int, default=32)
    ap.add_argument(
        "--view",
        choices=sorted(VIEWS),
        default="tumbling",
        help="which maintained view to run (tumbling/sliding window "
        "counts or turn-gap sessionization)",
    )
    ap.add_argument(
        "--check",
        action="store_true",
        help="after the stream drains, recompute the view from the "
        "state table via the batch twin and fail on any mismatch",
    )
    args = ap.parse_args()

    spark = SparkSession.builder.appName("ivm-view").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.sparkContext.setLogLevel("ERROR")
    if args.check:
        # --check replays the whole spool through the batch twin and
        # exceptAlls it against the view both ways — fail fast with the
        # exact remedy instead of OOMing mid-recompute
        from flink_cdc_mysql_sink_to_mysql_spark.plans import heap

        heap.check_driver_heap(
            spark,
            os.path.join(args.sf_dir, "events.parquet"),
            job="ivm_view_job",
            needs="the --check recompute (batch-twin replay of the "
            "full spool + two exceptAll passes)",
        )

    os.makedirs(args.workdir, exist_ok=True)
    # one maintained view per workdir: the checkpoint pins the topology
    topo_path = os.path.join(args.workdir, "topology.json")
    topo = {"view": args.view, "chunks": args.chunks, "sf_dir": args.sf_dir}
    if os.path.exists(topo_path):
        with open(topo_path) as f:
            prior = json.load(f)
        if prior != topo:
            raise SystemExit(
                f"workdir {args.workdir} was created with {prior}; "
                f"rerun with the same flags or use a fresh --workdir"
            )
    else:
        with open(topo_path, "w") as f:
            json.dump(topo, f)

    spool = os.path.join(args.workdir, "spool")
    marker = spool + ".complete"
    if not os.path.exists(marker):
        pl.spool_changelog(
            mysql_changelog(spark, args.sf_dir), spool, n_chunks=args.chunks
        )
        with open(marker, "w") as f:
            f.write("ok")

    state = MergeParquetSink(
        os.path.join(args.workdir, "state"), n_buckets=args.n_buckets
    )
    stream_fn, kwargs, ddl = VIEWS[args.view]
    view_sink = (
        ivm.GroupedReplaceParquetSink(
            os.path.join(args.workdir, "view"), schema_ddl=ddl
        )
        if ddl
        else ivm.GroupedReplaceParquetSink(os.path.join(args.workdir, "view"))
    )
    stream_fn(
        spark,
        spool,
        state,
        view_sink,
        os.path.join(args.workdir, "checkpoint"),
        **kwargs,
    )

    out = {
        "view": args.view,
        "state_rows": state.snapshot(spark).count(),
        "view_rows": view_sink.read_view(spark).count(),
        "workdir": args.workdir,
    }
    if args.check:
        twin = {
            "tumbling": ivm.windowed_state_batch,
            "sliding": ivm.sliding_state_batch,
            "session": ivm.sessions_state_batch,
        }[args.view](spark.read.parquet(os.path.join(spool, "*.parquet")))
        got = view_sink.read_view(spark)
        missing = twin.exceptAll(got).count()
        extra = got.exceptAll(twin).count()
        out["check"] = {"missing": missing, "extra": extra}
        if missing or extra:
            print(json.dumps(out))
            raise SystemExit(
                f"maintained {args.view} view diverged from the batch "
                f"twin: {missing} missing / {extra} extra rows"
            )
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
