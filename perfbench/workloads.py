"""The three ways the CDC path is used, timed from outside through the
engine's public calls.

- ``catchup_json``: a JSON-line changelog drains into an empty sink
  through ``materialize_stream_from_json``, one file per epoch.
- ``tail_trickle``: a preloaded sink takes one small typed-parquet epoch
  per ``materialize_stream`` availableNow drain, in a closed loop.
- ``ivm_catchup``: a typed-parquet changelog drains through
  ``ivm.windowed_state_stream`` (state sink + tumbling-window view).

A catch-up is repeated on a fresh sink at least ``min_drains`` times
and until the measured time is used up; every repetition does
identical work, and the run reports medians over repetitions. Every
repetition and every trickle run is checked against the generator's
expected state.

``tail_trickle`` runs on demand only: with its warm-up and 256-bucket
epochs a run takes about a minute, which the time budget for the
benchmark's repeated runs does not leave room for, so BENCHMARK.json
does not list it.
"""

from __future__ import annotations

import os
import shutil
import time
from collections import Counter
from dataclasses import dataclass, field

import gen
import probes
from flink_cdc_mysql_sink_to_mysql_spark.streaming import ivm
from flink_cdc_mysql_sink_to_mysql_spark.streaming import pipeline as pl
from flink_cdc_mysql_sink_to_mysql_spark.streaming.sink import (
    MANIFEST,
    MergeParquetSink,
)

#: catch-up sinks: every epoch rewrites every bucket of the growing
#: table, so the count sets how many files each commit lists and writes
#: (warm three-epoch IVM drains at local[4] on a 4-vCPU VM: ~6 s at 4
#: buckets, ~8 s at 8 and 12-16 s at 32, where they also spread ±15%
#: against ±5%)
CATCHUP_BUCKETS = 4

VIEW_COLS = ["conv_id", "win_start", "win_end", "n_turns"]


@dataclass
class Hooks:
    """Optional callbacks the traced run installs around layer calls;
    the untraced run leaves them empty."""

    merge: object = None  # wraps MergeParquetSink.merge_changelog
    replace: object = None  # wraps GroupedReplaceParquetSink.replace_groups
    drain: object = None  # context manager factory around one drain
    enable: object = None  # switches span recording on/off

    def recording(self, on: bool) -> bool:
        """Turn span recording on or off for the next drain; returns
        whether it is on."""
        if self.enable is None:
            return False
        self.enable(on)
        return on


class _HookedSink(MergeParquetSink):
    """The MERGE sink with its commit call routed through ``hooks``."""

    hooks: Hooks = None

    def merge_changelog(self, batch, epoch_id):
        if self.hooks and self.hooks.merge:
            return self.hooks.merge(super().merge_changelog, batch, epoch_id)
        return super().merge_changelog(batch, epoch_id)


class _HookedView(ivm.GroupedReplaceParquetSink):
    """The IVM view sink with its commit call routed through ``hooks``."""

    hooks: Hooks = None

    def replace_groups(self, keys, rows, epoch_id):
        if self.hooks and self.hooks.replace:
            return self.hooks.replace(super().replace_groups, keys, rows, epoch_id)
        return super().replace_groups(keys, rows, epoch_id)


def _sink(cls, root: str, hooks: Hooks | None, n_buckets: int = 256):
    s = cls(root, n_buckets=n_buckets)
    s.hooks = hooks
    return s


def _commit_s(progress: list[dict]) -> list[float]:
    return [p["ms"]["triggerExecution"] / 1000.0 for p in progress]


def _recorded(i: int) -> bool:
    """Whether drain ``i`` of a traced run records spans: off, on, off,
    on, ... so each recorded drain is bracketed by unrecorded ones (the
    tracer compares it with their mean)."""
    return i % 2 == 1


@dataclass
class Outcome:
    """What a workload's timed section measured, plus its checks."""

    walls: list[float] = field(default_factory=list)  # per drain
    envs: list[int] = field(default_factory=list)  # envelopes per drain
    commits: list[list[float]] = field(default_factory=list)  # per drain
    steal: list[float] = field(default_factory=list)  # per drain
    epochs: int = 0
    failed: int = 0
    checks: list[tuple[str, bool, str]] = field(default_factory=list)
    fresh: list[float] = field(default_factory=list)
    traced: list[bool] = field(default_factory=list)  # per drain
    cpu: list[float] = field(default_factory=list)  # CPU s per drain
    check_s: float = 0.0  # untimed correctness checks
    first_epoch_t: float = 0.0
    sinks: list[str] = field(default_factory=list)  # kept for the trace

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append((name, bool(ok), detail))


class Workload:
    name = ""

    def __init__(self, spark, inputs: str, meta: dict, work: str, hooks=None):
        self.spark, self.inputs, self.meta = spark, inputs, meta
        self.work, self.hooks = work, hooks or Hooks()
        self.listener = probes.PhaseListener()
        spark.streams.addListener(self.listener)
        self._n = 0

    def fresh_dir(self) -> str:
        self._n += 1
        d = os.path.join(self.work, f"d{self._n:04d}")
        os.makedirs(d)
        return d

    def _drain(self, fn) -> None:
        if self.hooks.drain:
            with self.hooks.drain():
                fn()
        else:
            fn()


class _Catchup(Workload):
    """Shared repetition loop of the two catch-ups."""

    def drain(self, spool: str, d: str) -> tuple:
        """Drain ``spool`` into fresh sinks under ``d``; returns them."""
        raise NotImplementedError

    def check_rep(self, part: str, d: str, sinks, out: Outcome) -> bool:
        raise NotImplementedError

    #: full catch-ups into throwaway sinks before timing: a fresh JVM's
    #: first drain is ~3x slower than a warm one, and the next two still
    #: shed JIT cost (three-epoch drains at local[4] on a 4-vCPU VM, IVM:
    #: 20.0, 7.2, 6.4, 6.0, 6.1 s; JSON: 19.2, 6.8, 6.2, 5.6, 5.7 s; the
    #: two-epoch drains at local[2] follow the same curve). The JSON
    #: run's spread (IQR/median over seeds) of env_per_s fell from 0.17
    #: with one warm-up drain (ten seeds) to 0.05 with two (five seeds)
    warm_reps = 2

    #: timed drains per run, at least. A run reports medians over
    #: drains, so one slow drain (a host steal episode, a late JIT
    #: compile) does not move it; and a fixed count keeps those medians
    #: at the same place on the warm-up slope in fast and slow runs
    #: (a time limit alone gave fast runs more, later, cheaper drains).
    #: Four: with three, IVM drains of one run still spread up to ±20%
    #: and its env_per_s spread 0.15 over ten seeds
    min_drains = 4

    def warm(self) -> None:
        self.warm_walls = []
        for _ in range(self.warm_reps):
            d = self.fresh_dir()
            t0 = time.perf_counter()
            self.drain(os.path.join(self.inputs, "main", "spool"), d)
            self.warm_walls.append(time.perf_counter() - t0)
            shutil.rmtree(d)

    def measure(self, seconds: float) -> Outcome:
        """Repeat the catch-up until ``seconds`` of drains are measured,
        and at least ``min_drains`` of them (one when ``seconds`` is 0);
        a traced run records spans on every second one."""
        out = Outcome()
        spool = os.path.join(self.inputs, "main", "spool")
        n_files = len(self.meta["main"]["files"])
        pid = os.getpid()
        min_reps = self.min_drains if seconds > 0 else 1
        while len(out.walls) < min_reps or sum(out.walls) < seconds:
            traced = self.hooks.recording(_recorded(len(out.walls)))
            d = self.fresh_dir()
            n0 = len(self.listener.progress)
            c0 = probes.tree_cpu_s(pid)
            steal = probes.Steal()
            t0 = time.perf_counter()
            if not out.first_epoch_t:
                out.first_epoch_t = time.time()
            try:
                sinks = self.drain(spool, d)
            except Exception as exc:  # a failed drain counts, never drops
                out.failed += n_files
                out.epochs += n_files
                out.check("drain", False, repr(exc)[:300])
                break
            out.walls.append(time.perf_counter() - t0)
            out.steal.append(steal.frac())
            out.traced.append(traced)
            out.cpu.append(probes.tree_cpu_s(pid) - c0)
            out.envs.append(self.meta["main"]["envelopes"])
            out.epochs += n_files
            self.listener.wait_for(n0 + n_files)
            out.commits.append(_commit_s(self.listener.progress[n0:]))
            t_check = time.perf_counter()
            ok = self.check_rep("main", d, sinks, out)
            out.check_s += time.perf_counter() - t_check
            if not ok:
                out.failed += n_files
            if traced:
                out.sinks.append(d)
            else:
                shutil.rmtree(d)
        return out


def _snapshot_check(
    spark, sink, part_dir: str, n_files: int, out: Outcome, tag: str
) -> bool:
    """The sink's live rows must match the generator's expected state
    after the first ``n_files`` files: count and checksum."""
    exp_rows, exp_sum = gen.load_expected(part_dir, n_files)
    got = sink.snapshot(spark).select("conv_id", "turn_idx", "text").toPandas()
    ok_rows = len(got) == exp_rows
    ok_sum = gen.checksum(got) == exp_sum
    out.check(f"{tag}.live_rows", ok_rows, f"{len(got)} vs {exp_rows}")
    out.check(f"{tag}.checksum", ok_sum, f"{gen.checksum(got)} vs {exp_sum}")
    return ok_rows and ok_sum


def _dlq_check(got: list[tuple[str, str]], injected: list, out: Outcome) -> bool:
    """Dead-letter rows and reasons must equal the injected lines."""
    ok = sorted(got) == sorted(tuple(x) for x in injected)
    out.check("dlq.rows_reasons", ok, f"{len(got)} vs {len(injected)} rows")
    return ok


class CatchupJson(_Catchup):
    name = "catchup_json"

    def drain(self, spool, d):
        sink = _sink(
            _HookedSink, os.path.join(d, "sink"), self.hooks, CATCHUP_BUCKETS
        )
        self._drain(
            lambda: pl.materialize_stream_from_json(
                self.spark,
                spool,
                sink,
                os.path.join(d, "ckpt"),
                dlq_dir=os.path.join(d, "dlq"),
                max_files_per_trigger=1,
            )
        )
        return (sink,)

    def check_rep(self, part, d, sinks, out) -> bool:
        ok = _snapshot_check(
            self.spark, sinks[0], os.path.join(self.inputs, part),
            len(self.meta[part]["files"]), out, "sink",
        )
        dlq = pl.read_dlq(self.spark, os.path.join(d, "dlq")).select("_raw", "reason")
        got = [(r["_raw"], r["reason"]) for r in dlq.collect()]
        return _dlq_check(got, self.meta[part]["dlq"], out) and ok


class IvmCatchup(_Catchup):
    name = "ivm_catchup"

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self._want: dict[str, Counter] = {}

    def drain(self, spool, d):
        state = _sink(
            _HookedSink, os.path.join(d, "state"), self.hooks, CATCHUP_BUCKETS
        )
        view = _sink(
            _HookedView, os.path.join(d, "view"), self.hooks, CATCHUP_BUCKETS
        )
        self._drain(
            lambda: ivm.windowed_state_stream(
                self.spark, spool, state, view, os.path.join(d, "ckpt")
            )
        )
        return (state, view)

    def check_rep(self, part, d, sinks, out) -> bool:
        state, view = sinks
        ok = _snapshot_check(
            self.spark, state, os.path.join(self.inputs, part),
            len(self.meta[part]["files"]), out, "state",
        )
        rows = view.read_view(self.spark).select(VIEW_COLS).collect()
        got = Counter(map(tuple, rows))
        want = self._want_view(part)
        diff = sum(((got - want) + (want - got)).values())
        out.check("view.equals_batch", diff == 0, f"{diff} differing rows")
        return ok and diff == 0

    def _want_view(self, part: str) -> Counter:
        """``windowed_state_batch`` over the whole spool, as a multiset
        of rows; every repetition drains the same spool, so it is
        computed once a run."""
        if part not in self._want:
            env = self.spark.read.schema(pl.ENVELOPE_DDL).parquet(
                os.path.join(self.inputs, part, "spool")
            )
            rows = ivm.windowed_state_batch(env).select(VIEW_COLS).collect()
            self._want[part] = Counter(map(tuple, rows))
        return self._want[part]


class TailTrickle(Workload):
    name = "tail_trickle"

    def _bootstrap(self, part: str):
        d = self.fresh_dir()
        sink = _sink(_HookedSink, os.path.join(d, "sink"), self.hooks)
        base = self.spark.read.schema(pl.ENVELOPE_DDL).parquet(
            os.path.join(self.inputs, part, "base.parquet")
        )
        sink.merge_changelog(base, pl.BOOTSTRAP_EPOCH)
        return d, sink

    def _epoch(self, part: str, i: int, d: str, sink) -> tuple[float, float]:
        """Spool epoch file ``i`` by atomic rename, drain it; returns
        (drain wall, freshness)."""
        spool = os.path.join(d, "spool")
        os.makedirs(spool, exist_ok=True)
        name = self.meta[part]["files"][i]
        tmp = os.path.join(spool, "_" + name)
        shutil.copyfile(os.path.join(self.inputs, part, name), tmp)
        t0 = time.perf_counter()
        t_ren = time.time()
        os.replace(tmp, os.path.join(spool, name))
        self._drain(
            lambda: pl.materialize_stream(
                self.spark, spool, sink, os.path.join(d, "ckpt")
            )
        )
        wall = time.perf_counter() - t0
        return wall, os.stat(os.path.join(sink.root, MANIFEST)).st_mtime - t_ren

    def warm(self) -> None:
        d, sink = self._bootstrap("warm")
        for i in range(len(self.meta["warm"]["files"])):
            self._epoch("warm", i, d, sink)
        shutil.rmtree(d)

    def setup(self):
        """The bootstrap commit of the measured sink (part of set-up)."""
        self.d, self.sink = self._bootstrap("main")

    def measure(self, seconds: float) -> Outcome:
        out = Outcome()
        pid = os.getpid()
        files = self.meta["main"]["files"]
        n0 = len(self.listener.progress)
        for i in range(len(files)):
            if sum(out.walls) >= seconds:
                break
            if not out.first_epoch_t:
                out.first_epoch_t = time.time()
            out.epochs += 1
            traced = self.hooks.recording(_recorded(i))
            steal = probes.Steal()
            c0 = probes.tree_cpu_s(pid)
            try:
                wall, fresh = self._epoch("main", i, self.d, self.sink)
            except Exception as exc:  # a failed epoch counts, never drops
                out.failed += 1
                out.check(f"epoch{i}", False, repr(exc)[:300])
                break
            out.walls.append(wall)
            out.cpu.append(probes.tree_cpu_s(pid) - c0)
            out.steal.append(steal.frac())
            out.traced.append(traced)
            out.fresh.append(fresh)
            out.envs.append(self.meta["main"]["envelopes_per_file"][i])
        self.listener.wait_for(n0 + len(out.walls))
        out.commits = [[c] for c in _commit_s(self.listener.progress[n0:])]
        ok = _snapshot_check(
            self.spark, self.sink, os.path.join(self.inputs, "main"),
            len(out.walls), out, "sink",
        )
        if not ok:
            out.failed += len(out.walls)
        if self.hooks.enable:
            out.sinks.append(self.d)
        return out


WORKLOADS = {w.name: w for w in (CatchupJson, TailTrickle, IvmCatchup)}
