#!/usr/bin/env python
"""spark-submit entrypoint: maintain one per-conversation view of the
transcript changelog under upserts/deletes (streaming/ivm.py), in the
north-rule deployment shape. The views: tumbling or sliding window
counts, turn-gap sessions, or the MinHash-LSH near-dup band index
(operators/dedup.py).

Package the engine and submit::

    python -m zipfile -c /tmp/engine.zip flink_cdc_mysql_sink_to_mysql_spark
    spark-submit --master local[8] --py-files /tmp/engine.zip \
        jobs/ivm_view_job.py \
        --sf-dir /root/testdata/sf0.001 --workdir /tmp/ivm-run \
        --view session

Each micro-batch MERGEs the changelog into the LWW state table AND
recomputes the touched conversations' view rows into a grouped-replace
view sink (``pipeline.materialize_stream(..., view=...)``) — both
epoch-guarded, so the pair stays transactionally consistent and a
replay is a no-op on both (tests/test_ivm.py pins the semantics; this
job is the operational wrapper). Re-running with the same --workdir
resumes from the checkpoint.

``--check`` recomputes the view from scratch — the view's recompute
over ``cdc.apply_changelog`` of the whole spool — and fails the run on
any row missing or extra either way (the maintained view must equal it,
whatever the update/delete interleaving was).

``--serve-pairs`` (``--view minhash`` only) serves near-dup pairs from
the index and reports the pair count and the RESOLVED verify mode
(``--verify-mode estimate`` is the heavy-duplication scale path).

Prints ONE JSON summary line: state/view row counts, the check verdict
and the served pairs.
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

from flink_cdc_mysql_sink_to_mysql_spark.operators import cdc, dedup, windows  # noqa: E402
from flink_cdc_mysql_sink_to_mysql_spark.plans import heap  # noqa: E402
from flink_cdc_mysql_sink_to_mysql_spark.sources.transcripts import (  # noqa: E402
    mysql_changelog,
)
from flink_cdc_mysql_sink_to_mysql_spark.streaming import ivm  # noqa: E402
from flink_cdc_mysql_sink_to_mysql_spark.streaming import pipeline as pl  # noqa: E402
from flink_cdc_mysql_sink_to_mysql_spark.streaming.sink import (  # noqa: E402
    MergeParquetSink,
)

VIEWS = {
    # view kind -> (recompute(live turns) -> view rows, view-sink ddl)
    "tumbling": (
        lambda live: windows.window_rows(live, "10 minutes"),
        ivm.WINDOW_VIEW_DDL,
    ),
    "sliding": (
        lambda live: windows.window_rows(live, "10 minutes", "5 minutes"),
        ivm.WINDOW_VIEW_DDL,
    ),
    "session": (
        lambda live: windows.session_rows(live, "30 minutes"),
        ivm.SESSION_VIEW_DDL,
    ),
    "minhash": (dedup.minhash_index_rows, dedup.MINHASH_INDEX_VIEW_DDL),
}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--chunks", type=int, default=4)
    ap.add_argument(
        "--n-buckets",
        type=int,
        default=32,
        help="hash buckets of the state table and of the view table",
    )
    ap.add_argument(
        "--view",
        choices=sorted(VIEWS),
        default="tumbling",
        help="which maintained view to run (tumbling/sliding window "
        "counts, turn-gap sessions, or the near-dup band index)",
    )
    ap.add_argument(
        "--check",
        action="store_true",
        help="after the stream drains, recompute the view from the "
        "whole spool and fail on any mismatch",
    )
    ap.add_argument(
        "--serve-pairs",
        action="store_true",
        help="--view minhash: serve near-dup pairs from the index",
    )
    ap.add_argument(
        "--verify-mode",
        choices=["auto", "exact", "estimate"],
        default=None,
        help="--view minhash: pair verification — auto (default: exact "
        "up to the candidate bound, then the signature-estimate scale "
        "path), exact Jaccard always, or estimate always (see "
        "near_dup_pairs_from_index)",
    )
    args = ap.parse_args()
    if (args.serve_pairs or args.verify_mode) and args.view != "minhash":
        ap.error("--serve-pairs and --verify-mode need --view minhash")
    verify_mode = args.verify_mode or "auto"

    spark = SparkSession.builder.appName("ivm-view").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.sparkContext.setLogLevel("ERROR")
    if args.check or args.serve_pairs:
        # --check replays the whole spool through the recompute and
        # exceptAlls it against the view both ways; --serve-pairs runs
        # the band self-join + verify. Fail fast with the exact remedy
        # instead of OOMing mid-recompute.
        heap.check_driver_heap(
            spark,
            os.path.join(args.sf_dir, "events.parquet"),
            job="ivm_view_job",
            needs="the --check/--serve-pairs recompute (from-scratch "
            "recompute of the full spool + two exceptAll passes, or the "
            "band self-join)",
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
    pl.spool_changelog(
        mysql_changelog(spark, args.sf_dir), spool, n_chunks=args.chunks
    )
    state = MergeParquetSink(
        os.path.join(args.workdir, "state"), n_buckets=args.n_buckets
    )
    recompute, ddl = VIEWS[args.view]
    view_sink = ivm.GroupedReplaceParquetSink(
        os.path.join(args.workdir, "view"),
        n_buckets=args.n_buckets,
        schema_ddl=ddl,
    )
    pl.materialize_stream(
        spark,
        spool,
        state,
        os.path.join(args.workdir, "checkpoint"),
        view=(view_sink, recompute),
    )

    view = view_sink.read_view(spark)
    out = {
        "view": args.view,
        "state_rows": state.snapshot(spark).count(),
        "view_rows": view.count(),
        "workdir": args.workdir,
    }
    if args.check:
        want = recompute(cdc.apply_changelog(spark.read.parquet(spool)))
        missing = want.exceptAll(view).count()
        extra = view.exceptAll(want).count()
        out["check"] = {"missing": missing, "extra": extra}
        if missing or extra:
            print(json.dumps(out))
            raise SystemExit(
                f"maintained {args.view} view diverged from its "
                f"recompute: {missing} missing / {extra} extra rows"
            )
    if args.serve_pairs:
        mode: dict = {}
        pairs = dedup.near_dup_pairs_from_index(
            view, state.snapshot(spark), verify=verify_mode, mode_out=mode
        )
        out["pairs"] = pairs.count()
        # record the RESOLVED mode — "auto" resolves to exact/estimate
        # at the candidate bound, and the served pair semantics depend
        # on which path ran
        out["verify_mode"] = mode["verify"]
        out["verify_mode_requested"] = verify_mode
        if "n_candidates" in mode:
            out["band_candidates"] = mode["n_candidates"]
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
