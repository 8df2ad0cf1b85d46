#!/usr/bin/env python3
"""CDC-path benchmark: one workload, one seed, one JSON result line.

Usage (from the repository root)::

    python3 perfbench/run.py --workload catchup_json --seed 1 --seconds 10 --trace 0

Workloads: ``catchup_json``, ``tail_trickle``, ``ivm_catchup`` (see
workloads.py). Inputs are generated from ``--seed`` and cached under
``.perfbench/cache/``; the run's sinks live under ``.perfbench/work/``
and are removed when it ends. ``--trace 0`` prints the end-to-end
metrics, ``--trace 1`` runs with the Spark UI on loopback and prints the
per-layer metrics (tracing.py). The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _inputs(workload: str, seed: int) -> tuple[str, dict, float]:
    """Cached inputs for (workload, seed): (dir, meta, seconds spent
    generating them now — excluded from set-up time)."""
    import gen

    sizes = hashlib.sha1(repr(gen.SIZES).encode()).hexdigest()[:8]
    out = os.path.join(STATE, "cache", f"{workload}-{seed}-{sizes}")
    meta_path = os.path.join(out, "meta.json")
    t0 = time.time()
    if not os.path.exists(meta_path):
        gen.generate(workload, seed, out)
    with open(meta_path) as f:
        return out, json.load(f), time.time() - t0


def default_cpus(nproc: int) -> int:
    """Task slots: half the CPUs. The engine's drains are chains of
    small jobs, so slots beyond two add no throughput here, while a JVM
    that keeps every vCPU busy (tasks plus its JIT, GC and the Python
    driver) is throttled by the host. Measured on a 4-vCPU VM, three
    seeds run alternately: local[2] drained IVM catch-ups 10-25% faster
    than local[4], at about a third of its CPU steal (0.6-3.6% against
    2.0-10.6%)."""
    return max(1, nproc // 2)


def _session(cpus: int, work: str, trace: bool):
    from flink_cdc_mysql_sink_to_mysql_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.local.dir": tmp,
        # GC threads sized to the task slots, not to the host's CPUs
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -XX:ParallelGCThreads={cpus}"
            f" -XX:ConcGCThreads=1 -Djava.io.tmpdir={tmp}"
        ),
    }
    if trace:
        conf.update(
            {
                "spark.ui.enabled": "true",
                "spark.ui.port": "0",
                "spark.driver.host": "127.0.0.1",
                "spark.driver.bindAddress": "127.0.0.1",
                "spark.sql.ui.retainedExecutions": "100000",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            }
        )
    spark = get_spark(app_name="perfbench", cpus=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def gc_seconds(spark) -> float:
    jvm = spark.sparkContext._jvm
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def tail_percentile(xs: list[float], beyond: int = 10) -> tuple[float, float]:
    """(q, value): the highest percentile q with at least ``beyond``
    samples above it, by nearest rank; the median when there are too
    few samples for any."""
    s = sorted(xs)
    n = len(s)
    k = n - beyond  # rank with `beyond` samples above it
    if k < (n + 1) // 2:
        return 50.0, statistics.median(s)
    return 100.0 * k / n, s[k - 1]


def end_to_end(out, setup_s: float) -> dict:
    """The metrics a user of the CDC path sees, as (value, unit).

    Throughput, CPU cost and commit latency are medians over drains: a
    catch-up drain's epochs grow by design (each rewrites every bucket
    of a larger table), so the median epoch is taken within each drain
    and the median of those across drains."""
    rates = [e / w for e, w in zip(out.envs, out.walls)]
    cpu_us = [c * 1e6 / e for c, e in zip(out.cpu, out.envs)]
    return {
        "setup_s": (setup_s, "s"),
        "env_per_s": (statistics.median(rates), "1/s"),
        "commit_p50_s": (
            statistics.median(statistics.median(c) for c in out.commits),
            "s",
        ),
        "cpu_us_per_env": (statistics.median(cpu_us), "us"),
    }


def freshness(fresh: list[float]) -> dict:
    """Trickle freshness: median and the highest percentile with at
    least ten timed epochs beyond it, with the sample count."""
    if not fresh:
        return {}
    q, tail = tail_percentile(fresh)
    return {
        "fresh_p50_s": statistics.median(fresh),
        "fresh_tail_s": tail,
        "fresh_tail_pct": q,
        "fresh_n": len(fresh),
    }


def run(args) -> dict:
    import probes
    import workloads

    nproc = _nproc()
    args.cpus = args.cpus or default_cpus(nproc)
    inputs, meta, gen_s = _inputs(args.workload, args.seed)
    work = os.path.join(STATE, "work", str(os.getpid()))
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    spark = None
    try:
        spark = _session(args.cpus, work, bool(args.trace))
        tracer = None
        hooks = None
        if args.trace:
            import tracing

            tracer = tracing.Tracer(spark)
            hooks = tracer.hooks()
        wl = workloads.WORKLOADS[args.workload](spark, inputs, meta, work, hooks)
        if args.warm_reps is not None:
            wl.warm_reps = args.warm_reps
        wl.warm()
        if hasattr(wl, "setup"):
            wl.setup()
        steal = probes.Steal()
        gc0 = gc_seconds(spark)
        with probes.RssSampler(os.getpid()) as rss:
            out = wl.measure(args.seconds)
        steal_frac = steal.frac()
        gc_s = gc_seconds(spark) - gc0
        setup_s = out.first_epoch_t - T_START - gen_s
        metrics = {}
        if out.walls:  # else every drain failed: nothing was measured
            metrics = end_to_end(out, setup_s)
            if tracer is not None:
                metrics = tracer.report(
                    args, wl, out, metrics, gc_s, steal_frac, rss.peak_mb
                )
        failed_checks = [c for c in out.checks if not c[1]]
        info = {
            "workload": args.workload,
            "seed": args.seed,
            "start": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(T_START)),
            "nproc": nproc,
            "cpus": args.cpus,
            "host.steal_frac": round(steal_frac, 4),
            # G1 grows the heap lazily, so the peak is not steady enough
            # to gate; the traced run reports it as mem.peak_rss_mb
            "peak_rss_mb": round(rss.peak_mb, 1),
            "gen_s": round(gen_s, 3),
            "timed_epochs": out.epochs,
            "warm_walls": [round(w, 3) for w in getattr(wl, "warm_walls", [])],
            "drain_walls": [round(w, 3) for w in out.walls],
            "check_s": round(out.check_s, 3),
            "drain_steal": [round(x, 4) for x in out.steal],
            "failed_share": out.failed / max(1, out.epochs),
            "failed_checks": failed_checks,
            **freshness(out.fresh),
        }
        print(json.dumps(info), flush=True)
        return {
            "correct": not failed_checks and out.failed == 0,
            "attempted": max(1, out.epochs),
            "failed": out.failed,
            "metrics": {
                k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
            },
        }
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=0, help="local[N]; default half of nproc")
    ap.add_argument(
        "--warm-reps",
        type=int,
        default=None,
        help="catch-up warm-up drains; default the workload's own",
    )
    args = ap.parse_args(argv)
    sys.path[:0] = [ROOT, HERE]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}")
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
