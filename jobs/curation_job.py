#!/usr/bin/env python
"""spark-submit entrypoint for the training-data curation pipeline —
the end-to-end composition of the engine's LLM-pipeline operators:

    documents ─ quality filter (text_profile)
              ─ repetition gate (repetition_profile) and benchmark
                decontamination (n-gram overlap vs capped eval set)
              ─ near-dup clustering (MinHash-LSH pairs → large-star/
                small-star connected components) → keep canonicals
              ─ deterministic stratified sampling (per-lang permille)
              ─ sequence packing (sharded concat-then-chunk)
    transcripts (CDC-materialized changelog) ─ SFT (context, response)
              extraction

    python -m zipfile -c /tmp/engine.zip flink_cdc_mysql_sink_to_mysql_spark
    spark-submit --master local[8] --py-files /tmp/engine.zip \
        jobs/curation_job.py --sf-dir /root/testdata/sf0.001 \
        --workdir /tmp/curation-run

Writes each stage as parquet under --workdir and prints ONE JSON
summary line (stage row counts + packed-token totals). Every stage is
the scale-path form (LSH not O(n²), CC not label-prop, hash sampling
not random(), WindowGroupLimit-able packing shards); the per-stage
oracles live in entry_queries (dedup_clusters, sample_stratified,
pack_sequences, sft_examples).
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
from pyspark.sql import functions as F  # noqa: E402

from flink_cdc_mysql_sink_to_mysql_spark.functions import text as textfn  # noqa: E402
from flink_cdc_mysql_sink_to_mysql_spark.operators import (  # noqa: E402
    cdc,
    components,
    convquality,
    decontam,
    dedup,
    examples,
)
from flink_cdc_mysql_sink_to_mysql_spark.plans import heap  # noqa: E402
from flink_cdc_mysql_sink_to_mysql_spark.session import (  # noqa: E402
    read_parquet_repaired,
)
from flink_cdc_mysql_sink_to_mysql_spark.sources.transcripts import (  # noqa: E402
    mongo_changelog,
    mysql_changelog,
)


def run(spark: SparkSession, sf_dir: str, workdir: str) -> dict:
    docs = read_parquet_repaired(
        spark, f"{sf_dir}/documents.parquet", "doc_id"
    )
    stats: dict = {"n_docs": docs.count()}

    # 1. quality gate (pure-Column profile; integer scores)
    prof = textfn.text_profile(docs)
    quality = (
        docs.join(
            prof.where(
                (F.col("quality_score") >= 60) & (F.col("n_words") >= 20)
            ).select("doc_id"),
            "doc_id",
        )
    )
    cached = []

    def _cache(df):
        df = df.cache()
        cached.append(df)
        return df

    quality = _cache(quality)
    stats["n_quality"] = quality.count()

    # 1b. repetition gate (Gopher-style): drop highly repetitious docs.
    # Thresholds sit at ~p90/p99 of this corpus's distributions — the
    # knobs a real pipeline tunes per-source.
    rep_ok = textfn.repetition_profile(quality).where(
        (F.col("dup_word_permille") <= 700)
        & (F.col("top_bigram_permille") <= 120)
    )
    quality = _cache(quality.join(rep_ok.select("doc_id"), "doc_id"))
    stats["n_after_repetition"] = quality.count()

    # 1c. benchmark decontamination: drop docs sharing ≥2 distinct
    # n-grams with the (capped, broadcast) eval set; eval docs
    # themselves never reach the training corpus by construction.
    clean = decontam.decontaminate(quality, min_overlap=2).where(
        F.col("contaminated") == 0
    )
    # cache each gate output: every stage below re-reads its input 2-3×
    # (count + downstream joins + the LSH pair feed) — without these the
    # whole upstream chain re-executes per consumer
    quality = _cache(quality.join(clean.select("doc_id"), "doc_id"))
    stats["n_decontaminated"] = quality.count()

    # 2. near-dup clusters → canonicals only
    clusters = components.dup_clusters(
        quality, dedup.minhash_lsh_pairs(quality)
    )
    clusters.write.mode("overwrite").parquet(
        os.path.join(workdir, "dup_clusters")
    )
    canon = _cache(
        quality.join(
            clusters.where("is_canonical").select("doc_id"), "doc_id"
        )
    )
    stats["n_canonical"] = canon.count()

    # 3. deterministic per-lang rate sampling
    sampled_ids = examples.stratified_sample(canon).select("doc_id")
    sampled = canon.join(sampled_ids, "doc_id")
    stats["n_sampled"] = sampled.count()

    # 4. sequence packing, then the realized deterministic training-order
    # shuffle: seeded portable hash of the pack key → train shard +
    # order key; repartition-by-shard + sortWithinPartitions is ONE
    # shuffle realizing a reproducible global permutation (no global
    # sort, no rand()).
    packed = examples.pack_sequences(sampled)
    okey = examples.seeded_hash(
        F.concat_ws("|", "lang", "shard", "pack_id"), examples.SHUFFLE_SEED
    )
    n_train_shards = 16
    shuffled = packed.withColumn(
        "train_shard", F.pmod(okey, F.lit(n_train_shards)).cast("int")
    ).withColumn("order_key", okey)
    (
        shuffled.repartition(n_train_shards, "train_shard")
        # order_key alone is NOT a total order (every doc in a pack
        # shares the pack's key, and distinct packs can hash-collide);
        # sortWithinPartitions would order tied rows by shuffle arrival —
        # not reproducible. The pack key + pack_offset tiebreak makes the
        # permutation bit-stable across runs.
        .sortWithinPartitions(
            "order_key", "lang", "shard", "pack_id", "pack_offset"
        )
        .write.mode("overwrite")
        .parquet(os.path.join(workdir, "packed"))
    )
    agg = spark.read.parquet(os.path.join(workdir, "packed")).agg(
        F.sum("n_tokens").alias("tokens"),
        F.count_distinct("lang", "shard", "pack_id").alias("packs"),
    ).collect()[0]
    stats["total_tokens"] = int(agg["tokens"] or 0)
    stats["n_packs"] = int(agg["packs"])

    # 5. SFT examples from the CDC-materialized transcript state — the
    # changelog engine feeding the training pipeline end-to-end;
    # conversation-grain curation gate first (keep=1: balanced roles,
    # sane turn lengths, complete exchanges — operators/convquality.py)
    # BOTH dialect feeds: the mysql changelog deliberately omits every
    # turn routed to the mongo feed (sources/transcripts.py), so a
    # mysql-only apply leaves 1/7 of turns out of the SFT context
    turns = cdc.apply_changelog(
        cdc.union_feeds(
            mysql_changelog(spark, sf_dir), mongo_changelog(spark, sf_dir)
        )
    )
    kept_convs = convquality.conversation_quality(turns).where(
        F.col("keep") == 1
    )
    stats["n_convs_kept"] = kept_convs.count()
    sft = examples.sft_examples(
        turns.join(kept_convs.select("conv_id"), "conv_id")
    )
    sft.write.mode("overwrite").parquet(os.path.join(workdir, "sft"))
    stats["n_sft_examples"] = spark.read.parquet(
        os.path.join(workdir, "sft")
    ).count()
    for df in cached:
        df.unpersist()
    return stats


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--workdir", required=True)
    args = ap.parse_args()

    spark = SparkSession.builder.appName("curation").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.sparkContext.setLogLevel("ERROR")
    # measured floor: the sf10 funnel (500k docs) OOMs the spark-submit
    # default 1 GiB driver heap mid-pipeline (BENCH/BASELINE.md §2b²)
    heap.check_driver_heap(
        spark,
        os.path.join(args.sf_dir, "documents.parquet"),
        job="curation_job",
        needs="the clustering/packing funnel",
    )
    stats = run(spark, args.sf_dir, args.workdir)
    print(json.dumps({**stats, "workdir": args.workdir}))
    spark.stop()


if __name__ == "__main__":
    main()
