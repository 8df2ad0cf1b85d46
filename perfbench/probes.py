"""Host and process probes read from /proc: CPU steal, process-tree CPU
and summed RSS, plus the stream listener that records trigger phases."""

from __future__ import annotations

import os
import threading

from pyspark.sql.streaming import StreamingQueryListener

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already inside user, so the total stops at steal
    return vals[7], sum(vals[:8])


class Steal:
    """Share of host CPU time stolen by the hypervisor over an interval."""

    def __init__(self) -> None:
        self.s0, self.t0 = cpu_times()

    def frac(self) -> float:
        s1, t1 = cpu_times()
        return (s1 - self.s0) / max(1, t1 - self.t0)


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces: fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """user+sys CPU seconds of the process tree under ``root``,
    including reaped children (folded into their parents' c-times)."""
    total = 0
    for pid in tree_pids(root):
        st = _stat(pid)
        if st is not None:
            total += sum(int(v) for v in st[11:15])
    return total / _TICK


def descendants_rss_mb(root: int) -> float:
    """Summed RSS of the live descendants of ``root``."""
    total = 0
    for pid in tree_pids(root)[1:]:
        st = _stat(pid)
        if st is not None:
            total += int(st[21])
    return total * _PAGE / 2**20


class RssSampler:
    """Samples the summed RSS of the descendants of ``root`` (the JVM
    and its Python workers) on a thread and keeps the peak. Use as a
    context manager around the measured section."""

    def __init__(self, root: int, period_s: float = 0.5) -> None:
        self.root, self.period_s, self.peak_mb = root, period_s, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, descendants_rss_mb(self.root))
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class PhaseListener(StreamingQueryListener):
    """Keeps every micro-batch's ``durationMs`` with its wall timestamp
    (progress events arrive asynchronously; :meth:`wait_for` blocks
    until the expected count arrived)."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self._cv = threading.Condition()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        if p.numInputRows == 0 and "addBatch" not in p.durationMs:
            return  # idle/no-data trigger: no epoch ran
        obs = p.observedMetrics.get("engine")
        with self._cv:
            self.progress.append(
                {
                    "query": str(p.id),
                    "batch": p.batchId,
                    "rows": p.numInputRows,
                    "start": p.timestamp,
                    "ms": dict(p.durationMs),
                    "observed": obs.asDict() if obs is not None else {},
                }
            )
            self._cv.notify_all()

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def wait_for(self, n: int, timeout_s: float = 30.0) -> None:
        with self._cv:
            self._cv.wait_for(lambda: len(self.progress) >= n, timeout_s)
