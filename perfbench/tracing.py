"""Traced run: spans around the engine's layer calls, Spark's REST view
of every SQL execution, job and stage, and the per-layer report.

Spans nest drain → epoch → ``sink.merge`` / ``ivm.replace`` → SQL
execution. Drain and layer spans come from hooks around the public
calls; epoch spans from the stream listener's trigger start and
``durationMs``; SQL executions from ``/api/v1/applications/<id>/sql``.
PySpark labels only ``collect`` with a Python call site, so an
execution is attributed by time containment in a layer span and by its
position there: inside ``sink.merge`` the first is the delta count, the
``collect`` the touched-bucket listing, the last the bucket write.
Spans stay in memory and are written once, when the run ends, to
``.perfbench/traces/<workload>-<seed>.jsonl``.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import statistics
import subprocess
import sys
import time
import urllib.request
from datetime import datetime

import pyarrow.parquet as pq

import workloads

#: every per-layer metric the traced run prints: (name, unit, better)
PER_LAYER = [
    ("pipeline.drain_overhead_p50_s", "s", "lower"),
    ("pipeline.nonbatch_p50_s", "s", "lower"),
    ("pipeline.epochs", "count", "higher"),
    ("json.lines", "count", "higher"),
    ("json.quarantined", "count", "lower"),
    ("json.parse_dlq_p50_s", "s", "lower"),
    ("sink.merge_p50_s", "s", "lower"),
    ("sink.delta_p50_s", "s", "lower"),
    ("sink.touched_p50_s", "s", "lower"),
    ("sink.write_p50_s", "s", "lower"),
    ("sink.driver_p50_s", "s", "lower"),
    ("sink.sql_execs_per_epoch", "count", "lower"),
    ("sink.jobs_per_epoch", "count", "lower"),
    ("sink.tasks_per_epoch", "count", "lower"),
    ("sink.rows_rewritten_per_epoch", "count", "lower"),
    ("sink.bytes_written_per_epoch", "bytes", "lower"),
    ("sink.rewrite_amp", "ratio", "lower"),
    ("sink.disk_bytes", "bytes", "lower"),
    ("sink.table_bytes", "bytes", "lower"),
    ("lww.agg_build_s", "s", "lower"),
    ("lww.spill_bytes", "bytes", "lower"),
    ("shuffle.write_bytes", "bytes", "lower"),
    ("ivm.replace_p50_s", "s", "lower"),
    ("ivm.keys_p50_s", "s", "lower"),
    ("ivm.view_rows_rewritten_per_epoch", "count", "lower"),
    ("ivm.view_buckets_rewritten_per_epoch", "count", "lower"),
    ("jvm.gc_s", "s", "lower"),
    ("spark.failed_tasks", "count", "lower"),
    ("host.steal_frac", "ratio", "lower"),
    ("mem.peak_rss_mb", "MB", "lower"),
    ("self.pipeline_share", "ratio", "lower"),
    ("self.json_share", "ratio", "lower"),
    ("self.sink_share", "ratio", "lower"),
    ("self.sink_driver_share", "ratio", "lower"),
    ("self.ivm_keys_share", "ratio", "lower"),
    ("self.ivm_replace_share", "ratio", "lower"),
    ("self.unattributed_share", "ratio", "lower"),
    ("trace.overhead_share", "ratio", "lower"),
    ("scaling.eff_1toN", "ratio", "higher"),
]

_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_UNIT_B = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _ts(s: str) -> float:
    """Spark REST / progress timestamp → epoch seconds."""
    s = s.replace("GMT", "+0000").replace("Z", "+0000")
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def metric_total(value: str) -> float:
    """Total of a SQL UI metric string: '1,234', '2.3 s', or the
    multi-line 'total (min, med, max ...)\\n12.5 MiB (...)' form; times
    in seconds, sizes in bytes."""
    line = value.strip().split("\n")[-1] if "\n" in value else value.strip()
    m = re.match(r"([\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return num * _UNIT_S.get(unit, _UNIT_B.get(unit, 1))


def covered_s(spans, lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by the union of ``spans`` (nested
    or overlapping SQL executions count once)."""
    total, cur = 0.0, lo
    for s in sorted(spans, key=lambda e: e["start"]):
        a, b = max(s["start"], cur), min(s["end"], hi)
        if b > a:
            total += b - a
            cur = b
    return total


def _p50(xs) -> float:
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else 0.0


class Tracer:
    """Records spans through :class:`workloads.Hooks` and turns them,
    with Spark's REST data, into the per-layer metrics."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[dict] = []
        self.enabled = False  # the timed section switches it per drain

    # -- spans around public calls ------------------------------------

    def _span(self, name: str, fn, *args, epoch=None):
        t0 = time.time()
        try:
            return fn(*args)
        finally:
            self.spans.append(
                {"name": name, "epoch": epoch, "start": t0, "end": time.time()}
            )

    def hooks(self) -> workloads.Hooks:
        def merge(fn, batch, epoch_id):
            if not self.enabled:
                return fn(batch, epoch_id)
            out = self._span("sink.merge", fn, batch, epoch_id, epoch=epoch_id)
            self.spans[-1]["lineage"] = out
            return out

        def replace(fn, keys, rows, epoch_id):
            if not self.enabled:
                return fn(keys, rows, epoch_id)
            out = self._span(
                "ivm.replace", fn, keys, rows, epoch_id, epoch=epoch_id
            )
            self.spans[-1]["lineage"] = out
            return out

        @contextlib.contextmanager
        def drain():
            t0 = time.time()
            yield
            if self.enabled:
                self.spans.append(
                    {"name": "drain", "start": t0, "end": time.time()}
                )

        def enable(on: bool) -> None:
            self.enabled = on

        return workloads.Hooks(
            merge=merge, replace=replace, drain=drain, enable=enable
        )

    # -- REST ----------------------------------------------------------

    def _rest(self, path: str):
        sc = self.spark.sparkContext
        url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=60) as r:
            return json.load(r)

    def _pull(self) -> tuple[list[dict], dict, dict]:
        sql = self._rest(
            "sql?details=true&planDescription=false&offset=0&length=1000000"
        )
        jobs = {j["jobId"]: j for j in self._rest("jobs")}
        stages = {
            (s["stageId"], s["attemptId"]): s for s in self._rest("stages")
        }
        for e in sql:
            e["start"] = _ts(e["submissionTime"])
            e["end"] = e["start"] + e["duration"] / 1000.0
        return sorted(sql, key=lambda e: e["start"]), jobs, stages

    # -- report --------------------------------------------------------

    def report(self, args, wl, out, metrics, gc_s, steal_frac, peak_mb):
        sql, jobs, stages = self._pull()
        epochs = self._epochs(wl, out)
        per = [self._attribute(ep, sql, jobs) for ep in epochs]
        m = self._layers(per, out, jobs, stages, sql, wl)
        m["jvm.gc_s"] = (gc_s, "s")
        m["host.steal_frac"] = (steal_frac, "ratio")
        m["mem.peak_rss_mb"] = (peak_mb, "MB")
        m.update(self._overhead(out))
        m["scaling.eff_1toN"] = (
            self._scaling(args, wl) if args.workload == "catchup_json" else 0.0,
            "ratio",
        )
        self._write(args, per)
        units = {name: unit for name, unit, _ in PER_LAYER}
        if {k: u for k, (_, u) in m.items()} != units:
            raise RuntimeError(
                f"per-layer metrics differ from PER_LAYER: {sorted(set(m) ^ set(units))}"
            )
        return m

    def _epochs(self, wl, out) -> list[dict]:
        """Epoch spans of the traced repetitions (listener progress is
        matched to merge spans by epoch id and time containment)."""
        merges = [s for s in self.spans if s["name"] == "sink.merge"]
        eps = []
        for p in wl.listener.progress:
            start = _ts(p["start"])
            end = start + p["ms"]["triggerExecution"] / 1000.0
            mine = [
                s
                for s in merges
                if s["epoch"] == p["batch"] and start <= s["start"] <= end
            ]
            if not mine:
                continue  # warm-up, or an untraced repetition
            eps.append(
                {
                    "name": "epoch",
                    "epoch": p["batch"],
                    "start": start,
                    "end": end,
                    "ms": p["ms"],
                    "observed": p["observed"],
                    "merge": mine[0],
                    "replace": next(
                        (
                            s
                            for s in self.spans
                            if s["name"] == "ivm.replace"
                            and s["epoch"] == p["batch"]
                            and start <= s["start"] <= end
                        ),
                        None,
                    ),
                }
            )
        return eps

    def _attribute(self, ep: dict, sql: list[dict], jobs: dict) -> dict:
        """Per-epoch times by layer, from containment in layer spans."""
        mg, rp = ep["merge"], ep["replace"]
        inside = [e for e in sql if ep["start"] <= e["start"] <= ep["end"]]
        in_merge = [e for e in inside if mg["start"] <= e["start"] <= mg["end"]]
        before = [e for e in inside if e["start"] < mg["start"]]
        after = [
            e
            for e in inside
            if e["start"] > mg["end"] and (rp is None or e["start"] < rp["start"])
        ]
        # a merge runs three executions in order: the delta count, the
        # touched-bucket collect, the partitioned write
        named = {"delta": None, "touched": None, "write": None}
        if in_merge:
            named["delta"], named["write"] = in_merge[0], in_merge[-1]
        if len(in_merge) >= 3:
            named["touched"] = in_merge[1]
        merge_s = mg["end"] - mg["start"]
        sql_merge_s = covered_s(in_merge, mg["start"], mg["end"])
        replace_s = rp["end"] - rp["start"] if rp else 0.0
        keys_s = covered_s(after, mg["end"], rp["start"] if rp else ep["end"])
        pre_s = covered_s(before, ep["start"], mg["start"])
        trig = ep["ms"]["triggerExecution"] / 1000.0
        nonbatch = trig - ep["ms"].get("addBatch", 0) / 1000.0
        job_ids = [
            j
            for e in in_merge
            for j in e.get("successJobIds", []) + e.get("failedJobIds", [])
        ]
        return {
            "epoch": ep["epoch"],
            "trigger_s": trig,
            "nonbatch_s": nonbatch,
            "merge_s": merge_s,
            "sink_sql_s": sql_merge_s,
            "sink_driver_s": merge_s - sql_merge_s,
            **{
                f"{k}_s": (v["duration"] / 1000.0 if v else None)
                for k, v in named.items()
            },
            "pre_s": pre_s,
            "keys_s": keys_s,
            "replace_s": replace_s,
            "unattributed_s": trig - nonbatch - pre_s - merge_s - keys_s - replace_s,
            "sql_execs": len(in_merge),
            "jobs": len(job_ids),
            "tasks": sum(jobs[j]["numTasks"] for j in job_ids if j in jobs),
            "job_ids": job_ids,
            "sql_ids": [e["id"] for e in in_merge],
            "lineage": mg.get("lineage") or {},
            "view_lineage": (rp or {}).get("lineage") or {},
            "observed": ep["observed"],
        }

    def _layers(self, per, out, jobs, stages, sql, wl) -> dict:
        m: dict[str, tuple[float, str]] = {}
        drains = [s for s in self.spans if s["name"] == "drain"]
        commits = [s for s in self.spans if s["name"] in ("sink.merge", "ivm.replace")]
        over = []
        for d in drains:
            # drain wall minus its commits (the merges, and the view
            # replaces on ivm_catchup)
            inner = sum(
                s["end"] - s["start"]
                for s in commits
                if d["start"] <= s["start"] <= d["end"]
            )
            over.append(d["end"] - d["start"] - inner)
        m["pipeline.drain_overhead_p50_s"] = (_p50(over), "s")
        m["pipeline.nonbatch_p50_s"] = (_p50(p["nonbatch_s"] for p in per), "s")
        m["pipeline.epochs"] = (len(per), "count")
        is_json = wl.name == "catchup_json"
        m["json.lines"] = (
            sum(p["observed"].get("rows", 0) for p in per) if is_json else 0,
            "count",
        )
        m["json.quarantined"] = (
            sum(p["observed"].get("quarantined", 0) for p in per), "count"
        )
        # before the merge, the JSON drain writes its dead letters, which
        # materializes the persisted parse
        m["json.parse_dlq_p50_s"] = (
            _p50(p["pre_s"] for p in per) if is_json else 0.0, "s"
        )
        for k in ("merge", "delta", "touched", "write"):
            m[f"sink.{k}_p50_s"] = (_p50(p[f"{k}_s"] for p in per), "s")
        m["sink.driver_p50_s"] = (_p50(p["sink_driver_s"] for p in per), "s")
        m["sink.sql_execs_per_epoch"] = (_p50(p["sql_execs"] for p in per), "count")
        m["sink.jobs_per_epoch"] = (_p50(p["jobs"] for p in per), "count")
        m["sink.tasks_per_epoch"] = (_p50(p["tasks"] for p in per), "count")
        rew, byt, vrows = self._footers(out)
        m["sink.rows_rewritten_per_epoch"] = (_p50(rew), "count")
        m["sink.bytes_written_per_epoch"] = (_p50(byt), "bytes")
        delta_rows = _p50(p["lineage"].get("delta_rows") for p in per)
        m["sink.rewrite_amp"] = (_p50(rew) / delta_rows if delta_rows else 0.0, "ratio")
        disk, table = self._table_bytes(out)
        m["sink.disk_bytes"] = (disk, "bytes")
        m["sink.table_bytes"] = (table, "bytes")
        agg, spill, shuf = [], [], []
        by_id = {e["id"]: e for e in sql}
        for p in per:
            a = s = 0.0
            for i in p["sql_ids"]:
                for node in by_id[i].get("nodes", []):
                    for mt in node.get("metrics", []):
                        # the LWW max_by runs as a hash or a sort
                        # aggregate: its build is the hash build or the sort
                        if mt["name"] in ("time in aggregation build", "sort time"):
                            a += metric_total(mt["value"])
                        elif mt["name"] == "spill size":
                            s += metric_total(mt["value"])
            agg.append(a)
            spill.append(s)
            stage_ids = {
                sid for j in p["job_ids"] if j in jobs for sid in jobs[j]["stageIds"]
            }
            shuf.append(
                sum(
                    st.get("shuffleWriteBytes", 0)
                    for (sid, _), st in stages.items()
                    if sid in stage_ids
                )
            )
        m["lww.agg_build_s"] = (_p50(agg), "s")
        m["lww.spill_bytes"] = (_p50(spill), "bytes")
        m["shuffle.write_bytes"] = (_p50(shuf), "bytes")
        m["ivm.replace_p50_s"] = (_p50(p["replace_s"] for p in per), "s")
        m["ivm.keys_p50_s"] = (_p50(p["keys_s"] for p in per), "s")
        m["ivm.view_rows_rewritten_per_epoch"] = (_p50(vrows), "count")
        m["ivm.view_buckets_rewritten_per_epoch"] = (
            _p50(len(p["view_lineage"].get("buckets", [])) for p in per), "count"
        )
        m["spark.failed_tasks"] = (
            sum(st.get("numFailedTasks", 0) for st in stages.values()), "count"
        )
        trig = sum(p["trigger_s"] for p in per)
        for p in per:
            p["json_s"] = p["pre_s"] if is_json else 0.0
            p["pipeline_s"] = p["nonbatch_s"] + (0.0 if is_json else p["pre_s"])
        for layer, key in (
            ("pipeline", "pipeline_s"),
            ("json", "json_s"),
            ("sink", "merge_s"),
            ("ivm_keys", "keys_s"),
            ("ivm_replace", "replace_s"),
            ("unattributed", "unattributed_s"),
        ):
            m[f"self.{layer}_share"] = (
                sum(p[key] for p in per) / trig if trig else 0.0, "ratio"
            )
        m["self.sink_driver_share"] = (
            sum(p["sink_driver_s"] for p in per) / trig if trig else 0.0, "ratio"
        )
        return m

    def _footers(self, out):
        """Rows and bytes in the version dirs each traced epoch wrote
        (sink and view), from parquet footers and file sizes."""
        rew, byt, vrows = [], [], []
        for d in out.sinks:
            for sub, rows_acc in (("sink", rew), ("state", rew), ("view", vrows)):
                root = os.path.join(d, sub)
                if not os.path.isdir(root):
                    continue
                for name in sorted(os.listdir(root)):
                    if not re.match(r"^v\d+-\d+$", name):
                        continue
                    n = b = 0
                    for dirpath, _, files in os.walk(os.path.join(root, name)):
                        for f in files:
                            if f.endswith(".parquet"):
                                path = os.path.join(dirpath, f)
                                n += pq.ParquetFile(path).metadata.num_rows
                                b += os.path.getsize(path)
                    rows_acc.append(n)
                    if sub != "view":
                        byt.append(b)
        return rew, byt, vrows

    def _table_bytes(self, out) -> tuple[float, float]:
        """(all bytes under the last traced sink, bytes its manifest
        references) — superseded copy-on-write versions stay on disk."""
        if not out.sinks:
            return 0.0, 0.0
        for sub in ("sink", "state"):
            root = os.path.join(out.sinks[-1], sub)
            if os.path.isdir(root):
                break
        disk = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(root)
            for f in fs
        )
        with open(os.path.join(root, "_manifest.json")) as f:
            rels = json.load(f)["buckets"].values()
        table = sum(
            os.path.getsize(os.path.join(dp, f))
            for r in rels
            for dp, _, fs in os.walk(os.path.join(root, r))
            for f in fs
        )
        return float(disk), float(table)

    def _overhead(self, out) -> dict:
        """Span recording alternates by drain (see workloads); its cost
        is the median, over recorded drains with an unrecorded drain on
        each side, of the drain's wall over its neighbours' mean. The
        neighbours bracket it, so the drains' warm-up drift mostly
        cancels. The UI server is on for all drains, so its own cost is
        not in this."""
        w, t = out.walls, out.traced
        ratios = [
            w[i] / ((w[i - 1] + w[i + 1]) / 2)
            for i in range(1, len(w) - 1)
            if t[i] and not t[i - 1] and not t[i + 1]
        ]
        if not ratios:
            return {"trace.overhead_share": (0.0, "ratio")}
        return {"trace.overhead_share": (_p50(ratios) - 1.0, "ratio")}

    def _scaling(self, args, wl) -> float:
        """North-rule efficiency on the real path, (rate at local[n]) /
        (n × rate at local[1]), n the run's task slots, from each side's
        first catch-up drain in a fresh JVM: this run's first warm-up
        drain, and a child pinned to one core by taskset that drains
        once with no warm-up. Both legs are cold, so the one-core leg
        stays short enough for the run's time limit."""
        n = args.cpus
        cold_n = wl.meta["main"]["envelopes"] / wl.warm_walls[0]
        cmd = [
            "taskset", "-c", str(min(os.sched_getaffinity(0))),
            sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", "0", "--trace", "0", "--cpus", "1", "--warm-reps", "0",
        ]
        r = subprocess.run(cmd, capture_output=True, text=True, timeout=120)
        if r.returncode != 0:
            print(f"one-core leg failed:\n{r.stderr[-2000:]}", file=sys.stderr)
            return 0.0
        one = json.loads(r.stdout.strip().splitlines()[-1])["metrics"]["env_per_s"]
        return cold_n / (n * one["value"])

    def _write(self, args, per) -> None:
        """All spans, then each traced epoch's layer times, one JSON
        object a line."""
        out_dir = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            ".perfbench",
            "traces",
        )
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{args.workload}-{args.seed}.jsonl")
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")
            for p in per:
                f.write(json.dumps({"name": "epoch.layers", **p}, default=str) + "\n")
