#!/usr/bin/env python
"""spark-submit entrypoint for the cohort pipeline (reference job 3,
`UserGroupClickHouseJob.main` — rule objects → relational cohort query →
batched id-set sink; SURVEY.md §3.2).

    python -m zipfile -c /tmp/engine.zip flink_cdc_mysql_sink_to_mysql_spark
    spark-submit --master local[8] --py-files /tmp/engine.zip \
        jobs/cohort_job.py --sf-dir /root/testdata/sf0.001 \
        --workdir /tmp/cohort-run

Evaluates the reference's two inline fixture rules (REFERENCE_RULES —
the only "source" job 3 has) over the derived turn-event table and
writes each cohort twice: as a parquet table (the Iceberg-analog) AND
through the K2/K3 external-set sink — a per-partition lifecycle-managed
client issuing ≤10k-id chunked SADDs (`UserGroupClickHouseJob.java:
144-151,154-188`; streaming/set_sink.py). Prints ONE JSON summary line.
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

from flink_cdc_mysql_sink_to_mysql_spark.operators import cdc, cohort  # noqa: E402
from flink_cdc_mysql_sink_to_mysql_spark.plans import heap  # noqa: E402
from flink_cdc_mysql_sink_to_mysql_spark.sources.transcripts import (  # noqa: E402
    mongo_changelog,
    mysql_changelog,
    transcripts,
)
from flink_cdc_mysql_sink_to_mysql_spark.streaming.set_sink import (  # noqa: E402
    sadd_sink,
)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--workdir", required=True)
    ap.add_argument(
        "--now",
        default="2024-01-30 00:00:00",
        help="rule-evaluation 'today' (deterministic runs; the reference "
        "reads the wall clock, UserGroupClickHouseJob.java:87)",
    )
    args = ap.parse_args()

    spark = SparkSession.builder.appName("cohort").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.sparkContext.setLogLevel("ERROR")
    heap.check_driver_heap(
        spark,
        args.sf_dir,
        job="cohort_job",
        needs="the cached turn events every rule scans",
    )

    env = cdc.union_feeds(
        mysql_changelog(spark, args.sf_dir), mongo_changelog(spark, args.sf_dir)
    )
    # cache: every rule below scans events twice (table write + set
    # sink) — without this the CDC derivation chain re-executes 2R times
    events = cdc.derive_turn_events(env).cache()
    members = transcripts(spark, args.sf_dir).select("conv_id").distinct()

    sizes = {}
    store_root = os.path.join(args.workdir, "set_store")
    for i, rule in enumerate(cohort.REFERENCE_RULES):
        out = cohort.evaluate_rule(members, events, rule, args.now)
        path = os.path.join(args.workdir, f"cohort_rule_{i}")
        out.write.mode("overwrite").parquet(path)
        written = spark.read.parquet(path)
        sizes[f"rule_{i}"] = written.count()
        # K2/K3 analog: lifecycle-managed per-partition client, ≤10k
        # chunked SADD into the (fake, file-backed) external set store —
        # UserGroupClickHouseJob.java:144-151,154-188. Fed from the
        # parquet just written, not the live plan (no recompute).
        sadd_sink(written, store_root, key=f"cohort:rule{i}")

    print(
        json.dumps(
            {"cohorts": sizes, "workdir": args.workdir, "set_store": store_root}
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
