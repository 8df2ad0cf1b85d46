"""The one local-parallelism default shared by get_spark and bench.py."""

from __future__ import annotations

import bench
from flink_cdc_mysql_sink_to_mysql_spark import session


def test_default_cpus_env_else_affinity(monkeypatch):
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: {0, 2, 5})
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session.default_cpus() == 3
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "")
    assert session.default_cpus() == 3
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "7")
    assert session.default_cpus() == 7
    assert bench.default_cpus is session.default_cpus
