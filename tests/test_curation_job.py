"""End-to-end curation pipeline job (jobs/curation_job.py): quality →
dedup-clusters → sample → pack (+ SFT from the CDC-materialized state),
and the driver-heap fail-fast the spark-submit jobs share."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))

from curation_job import run  # noqa: E402

SF = "/root/testdata/sf0.001"


def test_curation_job_stage_counts_monotone(spark, tmp_path):
    stats = run(spark, SF, str(tmp_path))
    assert (
        stats["n_docs"]
        >= stats["n_quality"]
        >= stats["n_after_repetition"]
        >= stats["n_decontaminated"]
        >= stats["n_canonical"]
        >= stats["n_sampled"]
        > 0
    )
    assert stats["total_tokens"] > 0 and stats["n_packs"] > 0
    assert stats["n_convs_kept"] > 0
    assert stats["n_sft_examples"] > 0
    # artifacts written
    for sub in ("dup_clusters", "packed", "sft"):
        out = spark.read.parquet(str(tmp_path / sub))
        assert out.count() > 0
    # exactly one canonical per cluster in the persisted artifact
    cl = spark.read.parquet(str(tmp_path / "dup_clusters"))
    from pyspark.sql import functions as F

    per = cl.groupBy("cluster_id").agg(
        F.sum(F.col("is_canonical").cast("int")).alias("n")
    )
    assert per.where("n != 1").count() == 0


def test_packed_output_is_shuffled_deterministically(spark, tmp_path):
    from curation_job import run

    run(spark, SF, str(tmp_path))
    packed = spark.read.parquet(str(tmp_path / "packed"))
    assert packed.count() > 0
    # every row carries its train shard + order key, and the shard is
    # consistent with the seeded hash (replay-stable permutation)
    from pyspark.sql import functions as F
    from flink_cdc_mysql_sink_to_mysql_spark.operators import examples

    okey = examples.seeded_hash(
        F.concat_ws("|", "lang", "shard", "pack_id"), examples.SHUFFLE_SEED
    )
    bad = packed.where(
        (F.col("order_key") != okey)
        | (F.col("train_shard") != F.pmod(okey, F.lit(16)).cast("int"))
    )
    assert bad.count() == 0


def _heap_guard_exits_before_output(monkeypatch, job_main, argv, workdir):
    """Run a job's ``main`` with ``heap.check_driver_heap`` replaced by
    a spy that refuses like an undersized heap would; the job must exit
    before it writes anything. Returns the spy's (input, job) calls."""
    import pytest

    from flink_cdc_mysql_sink_to_mysql_spark.plans import heap

    calls = []

    def refuse(spark, input_path, job, needs, **bounds):
        calls.append((input_path, job))
        raise SystemExit(f"{job}: relaunch with --driver-memory 8g")

    monkeypatch.setattr(heap, "check_driver_heap", refuse)
    monkeypatch.setattr(sys, "argv", ["job", "--sf-dir", SF, *argv])
    with pytest.raises(SystemExit, match="--driver-memory 8g"):
        job_main()
    assert not os.path.exists(workdir)
    return calls


def test_driver_heap_failfast_message(spark, tmp_path, monkeypatch):
    """The curation funnel checks the driver heap against the documents
    input BEFORE it starts (the sf10 run otherwise OOMs 2 minutes in);
    the message and bounds are the shared helper's."""
    import curation_job as cj

    wd = str(tmp_path / "wd")
    calls = _heap_guard_exits_before_output(
        monkeypatch, cj.main, ["--workdir", wd], wd
    )
    assert calls == [(os.path.join(SF, "documents.parquet"), "curation_job")]


def test_cohort_job_checks_driver_heap_before_output(spark, tmp_path, monkeypatch):
    """cohort_job caches the derived events, so it fails fast on an
    undersized driver heap before any cohort is written."""
    import cohort_job

    wd = str(tmp_path / "wd")
    calls = _heap_guard_exits_before_output(
        monkeypatch, cohort_job.main, ["--workdir", wd], wd
    )
    assert calls == [(SF, "cohort_job")]


def test_shared_heap_failfast_helper(spark):
    """plans/heap.py check_driver_heap — the single-sourced fail-fast
    every memory-sensitive spark-submit job calls: undersized heap +
    large input exits with the job name and the exact --driver-memory
    remedy; an adequately sized heap or small input is a no-op; an
    unreadable input defers to its own later error."""
    import pytest

    from flink_cdc_mysql_sink_to_mysql_spark.plans import heap

    events = "/root/testdata/sf0.001/events.parquet"
    with pytest.raises(SystemExit, match=r"ivm_view_job.*--driver-memory 8g"):
        heap.check_driver_heap(
            spark,
            events,
            job="ivm_view_job",
            needs="the --check recompute",
            min_heap_bytes=1 << 60,
            large_input_bytes=1,
        )
    # big heap → no-op; small input → no-op; missing input → no-op
    heap.check_driver_heap(
        spark, events, job="j", needs="x", min_heap_bytes=1,
        large_input_bytes=1,
    )
    heap.check_driver_heap(
        spark, events, job="j", needs="x", min_heap_bytes=1 << 60,
        large_input_bytes=1 << 60,
    )
    heap.check_driver_heap(
        spark, "/nonexistent/input.parquet", job="j", needs="x",
        min_heap_bytes=1 << 60, large_input_bytes=1,
    )
