#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` (default: the
CPUs the process may run on) and prints ONE JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with a ``noop``-format write (full physical
execution, no driver collect bottleneck, no disk write skew) — the same way
a production job would be bounded by the sink, not by ``toPandas``.

Set ``SPARK_GRAFT_BENCH_SCALING=1`` to also report the changelog-apply
throughput at two parallelism levels (N and 4N cores) and the scaling
efficiency — the BASELINE.json north-rule criterion (no real cluster in
this sandbox; two local parallelism levels stand in for two cluster sizes).

A mode switch from ``MODES`` runs another sweep instead; any other
argument exits non-zero, listing the modes, before Spark starts.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from flink_cdc_mysql_sink_to_mysql_spark import entry_queries  # noqa: E402
from flink_cdc_mysql_sink_to_mysql_spark.operators import dedup  # noqa: E402
from flink_cdc_mysql_sink_to_mysql_spark.session import (  # noqa: E402
    default_cpus,
    get_spark,
)

# Every mode switch main() accepts; no switch runs the headline sweep.
MODES = (
    "--names",
    "--r3",
    "--extended",
    "--json-ingest",
    "--spooled",
    "--bootstrap-compare",
    "--skew-compare",
    "--serve-maintained",
)

# Headline set: the flagship CDC pipeline + one representative per operator
# family (events, windows, joins, cohorts, dedup, similarity, text).
HEADLINE = [
    "cdc_apply_upsert",
    "turn_events",
    "turn_events_pandas",
    "sink_rows",
    "window_tumbling",
    "window_session",
    "join_first_response",
    "cohort_exist",
    "cohort_not_exist",
    "cohort_exist_salted",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash_pairs",
    "text_quality",
    "corpus_curation",
    "ann_cosine_topk",
    "ann_cosine_topk_numpy",
    "ann_lsh_topk",
    "multimodal_features",
]


# Round-3 additions (post-BENCH_r02 registry + post-50-budget local-
# oracle ops), timed separately (`--r3`) so --extended stays
# apples-to-apples with round 2.
ROUND3 = [
    "window_late_data",
    "text_rolling_fp_cp",
    "multimodal_decode_fake",
    "multimodal_frame_sample",
    "dedup_substring",
    "vocab_rank_quality",
    "dedup_span",
    "dedup_semantic",
    "scd2_history",
    "scd2_asof",
    "edit_churn",
    "preference_pairs",
    "ann_pq_topk",
    "ann_pq_topk_adc",
    "cohort_exist_adaptive",
    "cohort_exist_cube",
    "search_live_state",
    "search_index_pruned",
    "abandoned_conversations",
    "near_dups_live_state",
]


# Round-2 additions, timed separately (`--extended`) so the headline
# total stays apples-to-apples with the round-1 driver baseline.
EXTENDED = [
    "dedup_clusters",
    "join_asof_prev_user",
    "sft_examples",
    "pack_sequences",
    "sample_stratified",
    "sample_topk",
    "token_stats",
    "text_redact_pii",
    "embedding_quantize_int8",
    "text_repetition",
    "decontam_ngram_overlap",
    "trace_tool_chains",
    "shuffle_shards",
    "sample_mixture",
    "conv_quality",
    "vocab_top_terms",
    "dedup_conversations",
]


def _force(df) -> int:
    """Execute the full plan; return row count via observed metrics-free path."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def _reps() -> int:
    return max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))


def _min_walls(targets: dict, after=None) -> dict[str, float]:
    """Per-target MIN wall over ``$SPARK_GRAFT_BENCH_REPS`` sweeps
    (default 3) — the documented BENCH protocol. A shared VM can freeze
    for 10-20 s at random (identical code swept 32.8 / 44.3 / 66.8 s
    headline on an idle host, the stall on a DIFFERENT query each run),
    so one sweep grades the hypervisor, not the plan; sweeps alternate
    across the set (1..N, 1..N, ...) so a stall cannot inflate every rep
    of one target. ``targets``: name → thunk returning the frame to
    force; ``after()`` runs after each timed target."""
    times: dict[str, float] = {}
    for _ in range(_reps()):
        for name, fn in targets.items():
            t0 = time.perf_counter()
            _force(fn())
            wall = round(time.perf_counter() - t0, 3)
            if name not in times or wall < times[name]:
                times[name] = wall
            if after is not None:
                after()
    return times


def run(sf_dir: str, cpus: int, names_list: list[str] | None = None) -> dict:
    spark = get_spark(app_name="bench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    qs = dict(entry_queries.queries())
    names = list(names_list or HEADLINE)
    # post-50-budget ops live as plain q_<name> functions (local oracle
    # sweep, tests/test_unregistered_oracles.py) — bench them the same way
    for n in names:
        if n not in qs and hasattr(entry_queries, f"q_{n}"):
            qs[n] = getattr(entry_queries, f"q_{n}")
    missing = [n for n in names if n not in qs]
    # a renamed registry entry must fail LOUDLY — silently shrinking the
    # set would read as a spurious perf win against the baseline
    assert not missing, f"bench names not in the query registry: {missing}"
    # Warm-up, excluded from timings: JVM JIT + parquet footer cache
    # (first query) and the Python worker pool (one full mapInPandas
    # pass — steady-state is what a streaming job sees: workers are
    # reused across micro-batches, spark.python.worker.reuse=true).
    qs[names[0]](spark, sf_dir).limit(1).count()
    qs["turn_events_pandas"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    # Drop the MinHash pipeline's persisted intermediates after each
    # timed query: otherwise CacheManager dedups the identical plan and
    # the min-of-N reads a warm cache hit, not the production path.
    return _min_walls(
        {n: (lambda n=n: qs[n](spark, sf_dir)) for n in names},
        after=dedup.release_persisted,
    )


def run_scaling(sf_dir: str) -> dict:
    """Changelog-apply throughput at N vs 4N cores (north-rule evidence).

    N=2 vs 4N=8 by default — the sandbox's cgroup CPU quota caps real
    parallelism near 16 cores, so 8-vs-32 would measure the quota, not
    the job (see plans/scaling.py module doc)."""
    from flink_cdc_mysql_sink_to_mysql_spark.plans.scaling import (
        measure_scaling,
    )

    return measure_scaling(sf_dir)


def run_skew_compare(cpus: int = 8, n_turns: int = 10_000_000) -> dict:
    """Direct vs blanket-salted vs adaptive (hot-key-only, full and
    sampled detection) salted aggregation on the zipf-skewed synthetic
    changelog (5% of turns in ONE hot conversation): the same cohort
    rule evaluated four ways, row-identical MEMBERSHIP asserted
    (exceptAll both directions vs the direct plan, untimed), wall
    clock per plan. Quantifies skew defense #4 (plans/skew.py):
    adaptive pays the hot-key detection scan but keeps the partial
    relation ≈ #groups rows, where blanket salting multiplies it by
    `buckets` for every cold key."""
    from flink_cdc_mysql_sink_to_mysql_spark.operators import cdc, cohort
    from flink_cdc_mysql_sink_to_mysql_spark.plans.scaling import synth_envelopes
    from flink_cdc_mysql_sink_to_mysql_spark.session import get_spark

    spark = get_spark(app_name="bench-skew", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    rule = cohort.CohortRule(
        target=1,
        is_exist=True,
        value_days=60,  # covers the whole synthetic ts range
        sub_params=(
            cohort.SubParam(2, 2, 2),  # COUNT(*) >= 2
            cohort.SubParam(1, 0, 0),  # SUM(metric) > 0
        ),
    )
    now = "2024-01-30 00:00:00"
    events = cdc.derive_turn_events(synth_envelopes(spark, n_turns)).persist()
    n_events = events.count()  # materialize once; all three plans share it

    def _count(df):
        return df.count()

    variants = {
        "direct": lambda: cohort.exist_conv_ids(events, rule, now),
        "salted_blanket": lambda: cohort.exist_conv_ids_salted(
            events, rule, now
        ),
        "adaptive_hot_only": lambda: cohort.exist_conv_ids_adaptive(
            events, rule, now
        ),
        "adaptive_sampled_detect": lambda: cohort.exist_conv_ids_adaptive(
            events, rule, now, sample_frac=0.02
        ),
    }
    _count(variants["direct"]())  # warm-up (JIT)
    times: dict[str, float] = {}
    counts: dict[str, int] = {}
    for _ in range(2):
        for name, fn in variants.items():
            t0 = time.perf_counter()
            counts[name] = _count(fn())
            wall = round(time.perf_counter() - t0, 3)
            if name not in times or wall < times[name]:
                times[name] = wall
    # row-identical MEMBERSHIP, not just cardinality: a salting bug
    # that swaps borderline convs in/out while preserving the size
    # must fail here (untimed — correctness gate, not measurement)
    direct_df = variants["direct"]().persist()
    for name, fn in variants.items():
        if name == "direct":
            continue
        other = fn()
        diff = direct_df.exceptAll(other).count() + other.exceptAll(
            direct_df
        ).count()
        assert diff == 0, f"{name} diverged from direct by {diff} rows"
    direct_df.unpersist()

    # --- closed loop (plans/skew.py defense #4, ONLINE half): run the
    # SAME zipf changelog through the materialization stream with
    # track_hot_convs=N, then evaluate the rule with hot keys taken
    # from the live `.hot/` feed — detection costs the downstream job
    # NOTHING because the stream already paid it per micro-batch.
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from flink_cdc_mysql_sink_to_mysql_spark.plans.skew import (
        hot_keys_from_feed,
    )
    from flink_cdc_mysql_sink_to_mysql_spark.streaming import pipeline as pl
    from flink_cdc_mysql_sink_to_mysql_spark.streaming.sink import (
        MergeParquetSink,
    )

    wd = tempfile.mkdtemp(prefix="skew-feed-")
    feed_info: dict = {}
    try:
        spool = os.path.join(wd, "spool")
        pl.spool_changelog(
            synth_envelopes(spark, n_turns), spool, n_chunks=4
        )
        t0 = time.perf_counter()
        pl.materialize_stream(
            spark,
            spool,
            MergeParquetSink(os.path.join(wd, "sink"), n_buckets=32),
            os.path.join(wd, "ck"),
            lineage_path=os.path.join(wd, "lineage"),
            track_hot_convs=8,
        )
        feed_info["stream_wall_s"] = round(time.perf_counter() - t0, 3)
        hot_feed = hot_keys_from_feed(
            spark, os.path.join(wd, "lineage") + ".hot", min_batches=2
        ).persist()
        feed_info["hot_keys"] = [
            [r["conv_id"], int(r["hot_count"])]
            for r in hot_feed.orderBy(F.desc("hot_count")).collect()
        ][:8]
        for _ in range(2):
            t0 = time.perf_counter()
            n = cohort.exist_conv_ids_adaptive(
                events, rule, now, hot=hot_feed
            ).count()
            wall = round(time.perf_counter() - t0, 3)
            k = "adaptive_from_stream_feed"
            if k not in times or wall < times[k]:
                times[k] = wall
            counts[k] = n
        # same correctness gate as the in-session variants
        fed = cohort.exist_conv_ids_adaptive(events, rule, now, hot=hot_feed)
        direct2 = variants["direct"]()
        diff = fed.exceptAll(direct2).count() + direct2.exceptAll(fed).count()
        assert diff == 0, f"stream-feed variant diverged by {diff} rows"
        hot_feed.unpersist()
    finally:
        shutil.rmtree(wd, ignore_errors=True)

    events.unpersist()
    assert len(set(counts.values())) == 1, counts  # same cohort, 5 plans
    return {
        "metric": "skew_compare_wall_seconds",
        "value": times,
        "unit": "sec",
        "events": n_events,
        "cohort_rows": counts["direct"],
        "stream_feed": feed_info,
        "cpus": cpus,
        "reps": 2,
    }


def run_serve_maintained(sf_dir: str, cpus: int) -> dict:
    """Serving cost FROM the streaming-maintained views (VERDICT r3
    ask #4): the amortization claim for `search_index_pruned` and
    `near_dups_live_state` is that the maintained parquet views absorb
    the embed/signature/assign cost incrementally, so SERVING pays only
    the final join/top-k. This mode builds both views via their streams
    once (timed as build_*), then times serving-only against the views,
    next to the one-shot in-session forms at the same SF for the delta.

    Serving reads the state snapshot too (the exact verify / nothing on
    the search path), so serve ≪ one-shot is the expected shape — not
    serve ≈ 0."""
    import shutil
    import tempfile

    from flink_cdc_mysql_sink_to_mysql_spark.operators import (
        cdc,
        dedup as dd,
        semsearch,
    )
    from flink_cdc_mysql_sink_to_mysql_spark.sources.transcripts import (
        mysql_changelog,
    )
    from flink_cdc_mysql_sink_to_mysql_spark.streaming import pipeline as pl
    from flink_cdc_mysql_sink_to_mysql_spark.streaming.ivm import (
        GroupedReplaceParquetSink,
    )
    from flink_cdc_mysql_sink_to_mysql_spark.streaming.sink import (
        MergeParquetSink,
    )

    spark = get_spark(app_name="bench-serve", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    wd = tempfile.mkdtemp(prefix="serve-maintained-")
    out: dict = {}
    try:
        spool = os.path.join(wd, "spool")
        pl.spool_changelog(mysql_changelog(spark, sf_dir), spool, n_chunks=4)

        # frozen codebook for the cell-partitioned embedding index —
        # trained/sampled ONCE at bootstrap in production; here from the
        # batch materialization (deterministic first-N rows)
        state_batch = cdc.apply_changelog(spark.read.parquet(spool))
        codebook = semsearch.index_codebook(
            semsearch.embedding_rows(state_batch)
        ).persist()
        codebook.count()

        # build 1: streaming-maintained cell-partitioned embedding index
        st1 = MergeParquetSink(os.path.join(wd, "state_emb"), n_buckets=32)
        emb_ix = GroupedReplaceParquetSink(
            os.path.join(wd, "emb_ix"),
            n_buckets=32,
            schema_ddl=semsearch.INDEX_CELLS_VIEW_DDL,
        )
        t0 = time.perf_counter()
        pl.materialize_stream(
            spark, spool, st1, os.path.join(wd, "ck_emb"),
            view=(
                emb_ix,
                lambda live: semsearch.assign_cells(
                    semsearch.embedding_rows(live), codebook
                ),
            ),
        )
        out["build_embedding_index_s"] = round(time.perf_counter() - t0, 3)

        # build 2: streaming-maintained minhash band index
        st2 = MergeParquetSink(os.path.join(wd, "state_band"), n_buckets=32)
        band_ix = GroupedReplaceParquetSink(
            os.path.join(wd, "band_ix"),
            n_buckets=32,
            schema_ddl=dd.MINHASH_INDEX_VIEW_DDL,
        )
        t0 = time.perf_counter()
        pl.materialize_stream(
            spark, spool, st2, os.path.join(wd, "ck_band"),
            view=(band_ix, dd.minhash_index_rows),
        )
        out["build_band_index_s"] = round(time.perf_counter() - t0, 3)

        emb_view = emb_ix.read_view(spark)
        band_view = band_ix.read_view(spark)
        state_live = st2.snapshot(spark)
        out["index_rows"] = {
            "embedding": emb_view.count(),
            "band": band_view.count(),
        }

        serves = {
            "serve_search_pruned": lambda: semsearch.search_index_pruned(
                emb_view, codebook
            ),
            "serve_search_flat": lambda: semsearch.search_index(emb_view),
            "serve_near_dup_pairs": lambda: dd.near_dup_pairs_from_index(
                band_view, state_live
            ),
        }
        # one-shot in-session forms (pay embed/signature/assign every
        # call) for the amortization delta
        qs = dict(entry_queries.queries())
        for alias, qname in (
            ("oneshot_search_pruned", "search_index_pruned"),
            ("oneshot_near_dup_pairs", "near_dups_live_state"),
        ):
            fn = qs.get(qname) or getattr(entry_queries, f"q_{qname}")
            serves[alias] = (lambda f=fn: f(spark, sf_dir))

        out["serve_s"] = _min_walls(serves)
        codebook.unpersist()
    finally:
        shutil.rmtree(wd, ignore_errors=True)
    return {
        "metric": "serve_maintained_wall_seconds",
        "value": out,
        "unit": "sec",
        "cpus": cpus,
        "sf_dir": sf_dir,
    }


def run_spooled(sf_dir: str, cpus: int) -> dict:
    """Envelope-family operator cost over a pre-spooled changelog.

    The batch queries re-derive the synthetic changelog from the events
    table on every run (row_number window + multi-emit explode) — test
    fixture scaffolding standing in for a binlog source. A production
    deployment reads the changelog directly (the streaming path already
    does: pipeline.materialize_stream consumes a spool). This mode
    measures that path for the batch operators: write
    ``changelog_envelopes`` ONCE to parquet (timed separately as
    ``spool_seconds``), then time the downstream operators reading the
    spool — derivation (Column + Arrow forms), LWW materialization, and
    the sink projection. Spooled-vs-direct parity is pinned by
    tests/test_cdc.py::test_spooled_envelopes_roundtrip_parity.
    """
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from flink_cdc_mysql_sink_to_mysql_spark.operators import cdc
    from flink_cdc_mysql_sink_to_mysql_spark.sources.transcripts import (
        changelog_envelopes,
    )

    spark = get_spark(app_name="bench-spooled", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="env-spool-")
    try:
        t0 = time.perf_counter()
        changelog_envelopes(spark, sf_dir).write.mode("overwrite").parquet(root)
        spool_s = round(time.perf_counter() - t0, 3)
        env = spark.read.parquet(root)

        def _events_proj(ev):
            return ev.select(
                "conv_id",
                "turn_idx",
                "event_kind",
                "event_name",
                "source_id",
                F.unix_millis("ts").alias("ts_ms"),
                "seq",
                F.col("metric").cast("bigint").alias("metric"),
            )

        targets = {
            "turn_events": lambda: _events_proj(cdc.derive_turn_events(env)),
            "turn_events_pandas": lambda: _events_proj(
                cdc.derive_turn_events_pandas(env)
            ),
            "cdc_apply_upsert": lambda: cdc.apply_changelog(env).select(
                "conv_id",
                "turn_idx",
                "role",
                "text",
                "tool",
                F.unix_millis("ts").alias("ts_ms"),
            ),
            "sink_rows": lambda: cdc.sink_rows(cdc.derive_turn_events(env))
            .drop("partition_id")
            .withColumn("metric", F.col("metric").cast("bigint")),
        }
        targets["turn_events"]().limit(1).count()  # warm-up (JIT, footers)
        targets["turn_events_pandas"]().write.format("noop").mode(
            "overwrite"
        ).save()  # warm the Python worker pool
        times = _min_walls(targets)
        return {
            "metric": "spooled_query_wall_seconds",
            "value": round(sum(times.values()), 3),
            "unit": "sec",
            "spool_seconds": spool_s,
            "queries": times,
            "cpus": cpus,
            "reps": _reps(),
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def run_json_ingest(sf_dir: str, cpus: int) -> dict:
    """Wire-format (JSON-lines) ingest cost — the production Kafka shape.

    Renders the dual-dialect changelog to JSON text ONCE (timed
    separately), then times the front door over the spool: parse-only
    (from_json + quarantine reasons), parse→derive (turn events), and
    parse→LWW materialization. Reported lines/s is the parse-only
    number — the marginal cost of arriving as bytes instead of as typed
    columns (sources/json_envelopes.py; round-trip parity is pinned by
    tests/test_json_front_door.py).
    """
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from flink_cdc_mysql_sink_to_mysql_spark.operators import cdc
    from flink_cdc_mysql_sink_to_mysql_spark.sources.json_envelopes import (
        parse_envelope_lines,
        render_envelope_json,
        split_quarantine,
    )
    from flink_cdc_mysql_sink_to_mysql_spark.sources.transcripts import (
        mysql_changelog,
    )

    spark = get_spark(app_name="bench-json", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="json-spool-")
    try:
        t0 = time.perf_counter()
        render_envelope_json(mysql_changelog(spark, sf_dir)).write.mode(
            "overwrite"
        ).text(root)
        spool_s = round(time.perf_counter() - t0, 3)
        raw = spark.read.text(root)
        n_lines = raw.count()

        def _good():
            good, _ = split_quarantine(parse_envelope_lines(raw))
            return good

        targets = {
            "parse_only": lambda: parse_envelope_lines(raw),
            "parse_derive": lambda: cdc.derive_turn_events(_good()),
            "parse_apply_lww": lambda: cdc.apply_changelog(_good()).select(
                "conv_id", "turn_idx", "role", "text", "tool",
                F.unix_millis("ts").alias("ts_ms"),
            ),
        }
        targets["parse_only"]().limit(1).count()  # warm-up
        times = _min_walls(targets)
        return {
            "metric": "json_ingest_lines_per_sec",
            "value": round(n_lines / times["parse_only"]),
            "unit": "lines/sec",
            "lines": n_lines,
            "spool_seconds": spool_s,
            "queries": times,
            "cpus": cpus,
            "reps": _reps(),
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def run_bootstrap_compare(
    cpus: int = 8, n_turns: int = 2_000_000, n_chunks: int = 8
) -> dict:
    """Initial-load cost: one-commit batch bootstrap vs the SAME
    envelopes trickled through the streaming MERGE in ``n_chunks``
    micro-batches (pipeline.bootstrap_then_tail rationale: the sink is
    copy-on-write per touched bucket, so a microbatched initial load
    rewrites buckets once per batch)."""
    import shutil
    import tempfile

    from flink_cdc_mysql_sink_to_mysql_spark.plans.scaling import synth_envelopes
    from flink_cdc_mysql_sink_to_mysql_spark.streaming import pipeline as pl
    from flink_cdc_mysql_sink_to_mysql_spark.streaming.sink import MergeParquetSink

    spark = get_spark(app_name="bench-bootstrap", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="bootstrap-bench-")
    try:
        env = synth_envelopes(spark, n_turns).cache()
        n_env = env.count()

        sink_b = MergeParquetSink(os.path.join(root, "t1"), n_buckets=64)
        t0 = time.perf_counter()
        sink_b.merge_changelog(env, pl.BOOTSTRAP_EPOCH)
        bootstrap_s = round(time.perf_counter() - t0, 3)

        spool = os.path.join(root, "spool")
        pl.spool_changelog(env, spool, n_chunks=n_chunks)
        sink_s = MergeParquetSink(os.path.join(root, "t2"), n_buckets=64)
        t0 = time.perf_counter()
        pl.materialize_stream(
            spark,
            spool,
            sink_s,
            os.path.join(root, "ckpt"),
            max_files_per_trigger=1,
        )
        stream_s = round(time.perf_counter() - t0, 3)
        rows_b = sink_b.snapshot(spark).count()
        rows_s = sink_s.snapshot(spark).count()
        env.unpersist()
        assert rows_b == rows_s, (rows_b, rows_s)
        return {
            "metric": "bootstrap_vs_trickle_initial_load",
            "envelopes": n_env,
            "final_rows": rows_b,
            "bootstrap_one_commit_s": bootstrap_s,
            "trickle_microbatched_s": stream_s,
            "microbatches": n_chunks,
            "speedup": round(stream_s / bootstrap_s, 2),
            "cpus": cpus,
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _check_argv(argv: list[str]) -> None:
    """Refuse any argument that is not a mode switch, before Spark
    starts: an unknown or removed mode must not fall through to the
    headline sweep."""
    args = iter(argv)
    for a in args:
        if a == "--names" and next(args, None) is None:
            sys.exit("bench.py: --names needs a comma-separated list")
        if a not in MODES:
            sys.exit(
                f"bench.py: unknown argument {a!r}; valid modes: "
                f"{' '.join(MODES)} (none: the headline sweep)"
            )


def main() -> None:
    _check_argv(sys.argv[1:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_cpus()
    m = re.search(r"sf([0-9.]+)/*$", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    if "--json-ingest" in sys.argv:
        out = run_json_ingest(sf_dir, cpus)
        out["sf"] = sf
        print(json.dumps(out))
        return

    if "--bootstrap-compare" in sys.argv:
        # SPARK_GRAFT_BOOTSTRAP_TURNS / _CHUNKS: the decade/chunk sweep
        # that evidences the trickle cost model (∝ n·(chunks+1)/2, i.e.
        # quadratic in n at FIXED batch size) vs the one-write-per-
        # bucket bootstrap (∝ n) — BENCH §2g's growth-exponent rows
        print(
            json.dumps(
                run_bootstrap_compare(
                    cpus=min(cpus, 8),
                    n_turns=int(
                        os.environ.get(
                            "SPARK_GRAFT_BOOTSTRAP_TURNS", "2000000"
                        )
                    ),
                    n_chunks=int(
                        os.environ.get("SPARK_GRAFT_BOOTSTRAP_CHUNKS", "8")
                    ),
                )
            )
        )
        return

    if "--skew-compare" in sys.argv:
        print(json.dumps(run_skew_compare(cpus=min(cpus, 8))))
        return

    if "--serve-maintained" in sys.argv:
        print(json.dumps(run_serve_maintained(sf_dir, cpus)))
        return

    if "--spooled" in sys.argv:
        out = run_spooled(sf_dir, cpus)
        out["sf"] = sf
        print(json.dumps(out))
        return

    if "--names" in sys.argv:
        # ad-hoc subset (e.g. the sf100 spot run): --names a,b,c
        label = "subset"
        names = sys.argv[sys.argv.index("--names") + 1].split(",")
    elif "--r3" in sys.argv:
        label, names = "round3", ROUND3
    elif "--extended" in sys.argv:
        label, names = "extended", EXTENDED
    else:
        label, names = "headline", None
    times = run(sf_dir, cpus, names_list=names)
    out = {
        "metric": f"{label}_query_wall_seconds",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "cpus": cpus,
        "reps": _reps(),
    }
    if label == "headline" and os.environ.get("SPARK_GRAFT_BENCH_SCALING"):
        out["scaling"] = run_scaling(sf_dir)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
