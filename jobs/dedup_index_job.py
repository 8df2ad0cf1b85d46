#!/usr/bin/env python
"""spark-submit entrypoint: maintain the conversation-grain MinHash-LSH
near-dup index alongside the CDC state table (operators/dedup.py:
minhash_index_stream), in the north-rule deployment shape.

Package the engine and submit::

    python -m zipfile -c /tmp/engine.zip flink_cdc_mysql_sink_to_mysql_spark
    spark-submit --master local[8] --py-files /tmp/engine.zip \
        jobs/dedup_index_job.py \
        --sf-dir /root/testdata/sf0.001 --workdir /tmp/dedupix-run

Each micro-batch MERGEs the changelog into the LWW state table AND
re-signatures the touched conversations into a grouped-replace band
index (~100 bytes/conversation) — both epoch-guarded, replay is a
no-op on both. Re-running with the same --workdir resumes from the
checkpoint.

``--check`` rebuilds the index from the drained state through the
batch path and fails on any mismatch (the maintained index must equal
a from-scratch signature pass, whatever the edit/delete interleaving).
``--serve-pairs`` additionally serves near-dup pairs from the index
(``--verify-mode estimate`` for the heavy-duplication scale path) and
reports the pair count. Prints ONE JSON summary line.
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

from flink_cdc_mysql_sink_to_mysql_spark.operators import dedup  # noqa: E402
from flink_cdc_mysql_sink_to_mysql_spark.plans import heap  # noqa: E402
from flink_cdc_mysql_sink_to_mysql_spark.sources.transcripts import (  # noqa: E402
    mysql_changelog,
)
from flink_cdc_mysql_sink_to_mysql_spark.streaming import pipeline as pl  # noqa: E402
from flink_cdc_mysql_sink_to_mysql_spark.streaming.ivm import (  # noqa: E402
    GroupedReplaceParquetSink,
)
from flink_cdc_mysql_sink_to_mysql_spark.streaming.sink import (  # noqa: E402
    MergeParquetSink,
)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--chunks", type=int, default=4)
    ap.add_argument("--n-buckets", type=int, default=8)
    ap.add_argument("--check", action="store_true")
    ap.add_argument("--serve-pairs", action="store_true")
    ap.add_argument(
        "--verify-mode",
        choices=["auto", "exact", "estimate"],
        default="auto",
        help="pair verification: auto (default — exact up to the "
        "candidate bound, then the signature-estimate scale path), "
        "exact Jaccard always, or estimate always "
        "(see near_dup_pairs_from_index)",
    )
    args = ap.parse_args()

    spark = SparkSession.builder.appName("dedup-index").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.sparkContext.setLogLevel("ERROR")
    if args.check or args.serve_pairs:
        # the memory-sensitive paths: --check re-signatures the whole
        # drained state and exceptAlls it against the view both ways;
        # --serve-pairs runs the band self-join + verify. Fail fast
        # with the exact remedy instead of OOMing mid-recompute.
        heap.check_driver_heap(
            spark,
            os.path.join(args.sf_dir, "events.parquet"),
            job="dedup_index_job",
            needs="the --check/--serve-pairs recompute (from-scratch "
            "signature pass + two exceptAll passes over the drained "
            "state)",
        )

    spool = os.path.join(args.workdir, "spool")
    if not os.path.isdir(spool):
        pl.spool_changelog(
            mysql_changelog(spark, args.sf_dir), spool, n_chunks=args.chunks
        )
    state = MergeParquetSink(
        os.path.join(args.workdir, "state"), n_buckets=args.n_buckets
    )
    index = GroupedReplaceParquetSink(
        os.path.join(args.workdir, "index"),
        n_buckets=args.n_buckets,
        schema_ddl=dedup.MINHASH_INDEX_VIEW_DDL,
    )
    dedup.minhash_index_stream(
        spark, spool, state, index, os.path.join(args.workdir, "ck")
    )

    view = index.read_view(spark)
    out = {
        "index_rows": view.count(),
        "state_rows": state.snapshot(spark).count(),
        "workdir": args.workdir,
    }
    if args.check:
        want = dedup.minhash_index_rows(state.snapshot(spark))
        extra = view.exceptAll(want).count()
        missing = want.exceptAll(view).count()
        out["check"] = {"extra": extra, "missing": missing}
        if extra or missing:
            print(json.dumps(out))
            sys.exit(1)
    if args.serve_pairs:
        mode: dict = {}
        pairs = dedup.near_dup_pairs_from_index(
            view, state.snapshot(spark), verify=args.verify_mode,
            mode_out=mode,
        )
        out["pairs"] = pairs.count()
        # record the RESOLVED mode — "auto" resolves to exact/estimate
        # at the candidate bound, and the served pair semantics depend
        # on which path ran (review finding)
        out["verify_mode"] = mode["verify"]
        out["verify_mode_requested"] = args.verify_mode
        if "n_candidates" in mode:
            out["band_candidates"] = mode["n_candidates"]
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
