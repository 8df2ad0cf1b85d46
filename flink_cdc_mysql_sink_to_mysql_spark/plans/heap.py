"""Driver-heap fail-fast for spark-submit entrypoints.

In-code ``spark.driver.memory`` cannot resize a JVM that is already
up, so a job launched without ``--driver-memory`` on a large input
OOMs minutes into its funnel with an opaque executor stack. Every
memory-sensitive entrypoint (jobs/curation_job.py,
jobs/dynamic_cohort_job.py, the ``--bootstrap`` one-commit snapshot
MERGE of jobs/changelog_apply_job.py, and the ``--check`` recompute
paths of jobs/dedup_index_job.py and jobs/ivm_view_job.py) instead
compares the LIVE JVM max heap (what -Xmx actually granted) against
the input size up front and refuses with the exact remedy before any
work starts.

The reference has no analog (its jobs are parallelism-1 JVMs with
fixed Flink task-manager memory); this is operational hardening the
round-3/4 reviews asked to be applied uniformly.
"""

from __future__ import annotations

import os

MIN_DRIVER_HEAP_BYTES = 3 * 1024**3
LARGE_INPUT_BYTES = 256 * 1024**2


def input_size_bytes(path: str) -> int | None:
    """Bytes under ``path`` (file or directory); None when unreadable —
    an unreadable input should fail later with its own error, not
    masquerade as a heap problem."""
    try:
        if os.path.isdir(path):
            return sum(
                os.path.getsize(os.path.join(r, f))
                for r, _, fs in os.walk(path)
                for f in fs
            )
        return os.path.getsize(path)
    except OSError:
        return None


def check_driver_heap(
    spark,
    input_path: str,
    job: str,
    needs: str,
    min_heap_bytes: int = MIN_DRIVER_HEAP_BYTES,
    large_input_bytes: int = LARGE_INPUT_BYTES,
) -> None:
    """Raise SystemExit naming ``--driver-memory`` when ``input_path``
    is large but the live driver heap is small. ``needs`` names the
    heavy phase so the message says WHY the heap matters for this job.
    """
    input_bytes = input_size_bytes(input_path)
    if input_bytes is None:
        return
    max_heap = int(
        spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
    )
    if input_bytes >= large_input_bytes and max_heap < min_heap_bytes:
        raise SystemExit(
            f"{job}: driver heap is {max_heap / 1024**3:.1f} GiB but the "
            f"input ({input_bytes / 1024**2:.0f} MiB) needs more for "
            f"{needs} — relaunch with `spark-submit --driver-memory 8g "
            "...` (in-code spark.driver.memory cannot resize a running "
            "JVM)"
        )
