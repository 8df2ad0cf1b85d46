"""SparkSession factory tuned for the CDC engine.

Scale stance: every knob here is chosen so the same code runs unchanged on
a 1000-executor cluster — local[N] is only the test harness. AQE handles
runtime re-planning (skew joins, coalescing post-shuffle partitions);
Arrow is on because all Python-side logic is vectorized (pandas UDFs /
mapInPandas — never row-at-a-time Python, per the execution-model
constraint in BASELINE.md).
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession


def _default_driver_memory(cpus: int) -> str:
    """Heap default keyed on BOTH concurrency and host memory.

    16g only where ≥16 local task slots will share the heap AND the
    host can spare it; otherwise 8g, further halved against hosts
    smaller than 16 GiB so Python workers + page cache keep headroom.
    `SPARK_DRIVER_MEMORY` overrides unconditionally."""
    want_gb = 16 if cpus >= 16 else 8
    try:
        with open("/proc/meminfo") as fh:
            total_kb = int(
                next(ln for ln in fh if ln.startswith("MemTotal")).split()[1]
            )
        want_gb = max(2, min(want_gb, (total_kb >> 20) // 2))
    except Exception:
        pass
    return f"{want_gb}g"


def default_cpus() -> int:
    """Local task slots: ``$SPARK_GRAFT_CPUS`` if set, else the CPUs in
    this process's affinity mask (a taskset pin or cpuset narrows it)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "transcript-cdc-engine",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    - session timezone pinned to UTC: event-time semantics must not depend
      on the host zone (the reference hard-codes +08:00 only at the sink
      formatting step, UserBehaviorClickHouseSinkJob.java:77 — we replicate
      that at the sink, not in the session).
    - AQE + skew-join on: the changelog is zipf-skewed on conv_id
      (hot conversations), see plans/skew.py.
    """
    if cpus is None:
        cpus = default_cpus()
    if shuffle_partitions is None:
        # 2x cores locally; on a real cluster this would be sized to
        # ~128MB per shuffle partition at the target SF instead.
        shuffle_partitions = max(2 * cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batches of 64Ki rows: the engine's pandas-UDF schemas are
        # narrow (≤ a dozen scalar cols), so larger batches amortize the
        # JVM↔Python round-trip — measured 2.88s vs 3.57s on the
        # turn_events_pandas derivation at sf0.1 vs the 10k default.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.compression.codec", "zstd")
        # heap scales with local concurrency: 32 tasks sharing 8 GiB
        # (~250 MB/task) OOMed the sf10 dedup stages, while 16 GiB
        # completes reliably; 64 GiB measured WORSE (page-zeroing/GC).
        # 8 GiB stays the default for the ≤8-core test/scaling shapes,
        # and the wish is capped at half the HOST's memory — a
        # many-core/small-RAM container must not fail JVM startup just
        # because it advertises 32 vCPUs.
        .config(
            "spark.driver.memory",
            os.environ.get(
                "SPARK_DRIVER_MEMORY", _default_driver_memory(cpus)
            ),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.schemaInference", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


ROWS_PER_TASK = 2048  # repair granularity floor — see docstring


def read_parquet_repaired(
    spark: SparkSession, path: str, *keys: str, rows_per_task: int = ROWS_PER_TASK
) -> DataFrame:
    """Parquet read with degenerate-split repair.

    Spark parallelizes a parquet scan across files and row groups — a
    task can never split a row group. The driver testdata ships each
    table as ONE file with ONE row group (e.g. sf0.1 documents: 5000
    rows / 1 group), so every narrow pipeline over it (text profiling,
    shingling, embedding scoring) executes its entire scan STAGE on one
    core no matter the cluster size. Measured at sf1: text_quality
    11.7s on 1 task vs ~1.5s repaired.

    Repair: if the layout cannot feed half the cores (few files AND few
    row groups), hash-repartition on ``keys`` up to
    min(defaultParallelism, rows / rows_per_task) — row-count-aware so
    a tiny table is not shattered into 32 near-empty tasks (measured:
    a blanket repartition(32) added 0.3–0.7 s of exchange + task
    overhead to every CHEAP sf0.1 query while the ~2k-row tables fit in
    a couple of tasks anyway). The extra shuffle moves only this
    table's bytes and buys scan-stage parallelism; with ≥cores files
    (any real 100 TB table) the check short-circuits on file count
    alone — zero metadata reads, zero shuffle — so the scale path is
    untouched. Keys (not round-robin) keep the exchange free of the
    RoundRobinPartitioning local sort and give downstream same-key ops
    a reusable partitioning.

    The repaired frame is persist()ed (MEMORY_AND_DISK): without it,
    Catalyst pushes query filters BELOW the repartition — a filter on
    an expensive derived expression (e.g. the text-profile quality
    score, 4 regex counts) then executes in the 1-task scan stage and
    the repair buys nothing (measured: text_quality at sf1 took 15.5 s
    repaired-but-unpersisted vs 11.7 s unrepaired vs ~2 s persisted).
    An InMemoryRelation is a pushdown barrier but still serves column
    pruning from its columnar batches, and Spark's CacheManager dedups
    by logical plan, so all queries of a session share ONE
    materialization per (path, target, keys). Memory is bounded by the
    repaired table itself (this branch only fires on small/degenerate
    local tables; DISK spill backs the rest).
    """
    df = spark.read.parquet(path)
    # escape hatch (used by plan tests, which pin the AT-SCALE plan
    # shape — where this repair is a structural no-op)
    if spark.conf.get("spark.cdcengine.splitRepair", "true") != "true":
        return df
    cores = spark.sparkContext.defaultParallelism
    files = (
        [path]
        if os.path.isfile(path)
        else glob.glob(os.path.join(path, "*.parquet"))
    )
    if len(files) * 2 >= cores:
        return df
    try:
        import pyarrow.parquet as pq

        metas = [pq.ParquetFile(f).metadata for f in files]
        groups = sum(m.num_row_groups for m in metas)
        rows = sum(m.num_rows for m in metas)
    except Exception:  # non-local FS / unreadable footer: leave as-is
        return df
    target = min(cores, max(1, rows // rows_per_task))
    if groups * 2 >= target or target <= 1:
        return df
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    cols = [F.col(k) for k in keys]
    out = df.repartition(target, *cols) if cols else df.repartition(target)
    return out.persist(StorageLevel.MEMORY_AND_DISK)
