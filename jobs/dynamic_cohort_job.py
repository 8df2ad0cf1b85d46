#!/usr/bin/env python
"""spark-submit entrypoint for DYNAMIC cohort rules over the streaming
cube (streaming/cohort_stream.run_dynamic_cohorts — the Flink
broadcast-state analog; rules live in a JSON file reloaded per
micro-batch, the heavy state is the rule-independent cube).

    python -m zipfile -c /tmp/engine.zip flink_cdc_mysql_sink_to_mysql_spark
    spark-submit --master local[8] --py-files /tmp/engine.zip \
        jobs/dynamic_cohort_job.py --sf-dir /root/testdata/sf0.001 \
        --workdir /tmp/dyncohort-run --rules /tmp/rules.json

Re-running the same workdir resumes the cube checkpoint: only new spool
chunks process, and the CURRENT rule file is evaluated on the next
micro-batch — change rules between runs (or between batches) with no
state restart. `--init-rules` seeds the rule file from the reference's
two inline fixtures (UserGroupClickHouseJob.java:65-78) as a starting
point an operator then edits. Membership snapshots land under
<workdir>/members/epoch=N; ENTER/EXIT transitions derive at read time.
Prints ONE JSON summary line.
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

from flink_cdc_mysql_sink_to_mysql_spark.operators import cohort  # noqa: E402
from flink_cdc_mysql_sink_to_mysql_spark.plans import heap  # noqa: E402
from flink_cdc_mysql_sink_to_mysql_spark.sources.transcripts import (  # noqa: E402
    mysql_changelog,
)
from flink_cdc_mysql_sink_to_mysql_spark.streaming import (  # noqa: E402
    cohort_stream as cs,
)
from flink_cdc_mysql_sink_to_mysql_spark.streaming import pipeline as pl  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--rules", required=True, help="JSON rule file (see "
                    "cohort_stream.load_rules for the schema)")
    ap.add_argument("--chunks", type=int, default=4)
    ap.add_argument(
        "--init-rules",
        action="store_true",
        help="write the reference fixture rules to --rules if it does "
        "not exist yet",
    )
    ap.add_argument(
        "--now",
        default="2024-01-30 00:00:00",
        help="rule-evaluation 'today' (deterministic runs)",
    )
    ap.add_argument(
        "--snapshot-every",
        type=int,
        default=1,
        help="evaluate memberships every Nth micro-batch (the drained "
        "state always snapshots) — thin this out on long spools: each "
        "evaluation re-reads the delta history",
    )
    ap.add_argument(
        "--fold-cube",
        action="store_true",
        help="after the stream drains, fold the cube-delta history "
        "into one base dir (cohort_stream.fold_cube_deltas) — keeps "
        "current_cube reads O(cube) on a long-running workdir",
    )
    ap.add_argument(
        "--prune-members",
        type=int,
        default=None,
        metavar="KEEP",
        help="after reporting, keep only the newest KEEP membership "
        "snapshots (transition history beyond the window is forgotten "
        "— export it first if it matters)",
    )
    args = ap.parse_args()

    if args.init_rules and not os.path.exists(args.rules):
        specs = [
            {
                "id": i,
                "target": r.target,
                "is_exist": r.is_exist,
                "value_days": r.value_days,
                "sub_params": [
                    [sp.dimension, sp.operator, sp.value]
                    for sp in r.sub_params
                ],
            }
            for i, r in enumerate(cohort.REFERENCE_RULES)
        ]
        with open(args.rules, "w") as f:
            json.dump(specs, f)

    spark = SparkSession.builder.appName("dynamic-cohort").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.sparkContext.setLogLevel("ERROR")
    heap.check_driver_heap(
        spark,
        args.sf_dir,
        job="dynamic_cohort_job",
        needs="the streaming cube and the per-batch membership snapshots",
    )

    spool = os.path.join(args.workdir, "spool")
    if not os.path.isdir(spool):
        pl.spool_changelog(
            mysql_changelog(spark, args.sf_dir), spool, n_chunks=args.chunks
        )

    out = cs.run_dynamic_cohorts(
        spark,
        spool,
        args.rules,
        args.workdir,
        args.now,
        snapshot_every=args.snapshot_every,
    )
    fold = cs.fold_cube_deltas(spark, args.workdir) if args.fold_cube else None
    members = cs.read_members(spark, args.workdir)
    per_rule = (
        {
            str(r["rule_id"]): r["n"]
            for r in members.groupBy("rule_id").count()
            .withColumnRenamed("count", "n")
            .collect()
        }
        if members is not None
        else {}
    )
    transitions = cs.membership_transitions(spark, args.workdir)
    n_transitions = transitions.count()
    pruned = (
        cs.prune_member_snapshots(args.workdir, keep_last=args.prune_members)
        if args.prune_members is not None
        else None
    )
    print(
        json.dumps(
            {
                "epochs_this_run": out["epochs"],
                "rule_load_errors": out["rule_load_errors"],
                "members_per_rule": per_rule,
                "transitions": n_transitions,
                "fold": fold,
                "pruned_snapshots": pruned,
                "workdir": args.workdir,
                "rules": args.rules,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
