"""Tests of the benchmark itself: seeded generation, the metric
contract with BENCHMARK.json, and the correctness checks.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

SMALL = gen.Sizes(
    catchup_turns=600,
    catchup_epochs=2,
    warm_turns=500,
    trickle_base_turns=600,
    trickle_epochs=3,
    trickle_warm_epochs=2,
)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs
    )


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_generator_is_deterministic_per_seed(tmp_path, workload):
    a = gen.generate(workload, 7, str(tmp_path / "a"), SMALL)
    b = gen.generate(workload, 7, str(tmp_path / "b"), SMALL)
    c = gen.generate(workload, 8, str(tmp_path / "c"), SMALL)
    assert a == b
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert gen.load_expected(str(tmp_path / "a" / "main"), 2) == gen.load_expected(
        str(tmp_path / "b" / "main"), 2
    )
    assert gen.load_expected(str(tmp_path / "a" / "main"), 2) != gen.load_expected(
        str(tmp_path / "c" / "main"), 2
    )


def test_json_changelog_injects_known_malformed_lines(tmp_path):
    meta = gen.generate("catchup_json", 3, str(tmp_path), SMALL)["main"]
    spool = tmp_path / "main" / "spool"
    lines = [
        ln
        for name in meta["files"]
        for ln in (spool / name).read_text().split("\n")[:-1]
    ]
    assert len(lines) == meta["lines"]
    bad = dict(meta["dlq"])
    assert {r for _, r in meta["dlq"]} == set(gen.MALFORMED_KINDS)
    good = [ln for ln in lines if ln not in bad]
    assert len(good) == meta["envelopes"]
    for ln in good:
        assert json.loads(ln)["op"] in gen.OP_RANK


def test_expected_state_is_last_writer_wins():
    env = pd.DataFrame(
        {
            "op": ["c", "u", "c", "d", "r", "c"],
            "conv_id": ["a", "a", "b", "b", "c", "c"],
            "turn_idx": [1, 1, 2, 2, 3, 3],
            "text": ["x", "x [edited]", "y", None, "old", "new"],
            "seq": [10, 20, 10, 30, 5, 5],
        }
    )
    got = gen.expected_state(env).sort_values("conv_id")
    assert got["text"].tolist() == ["x [edited]", "new"]  # d wins; c > r at a tie


def test_end_to_end_metrics_match_benchmark_json():
    out = workloads.Outcome(
        walls=[2.0, 4.0],
        envs=[100, 100],
        commits=[[0.5, 0.7, 0.9], [0.6, 0.8, 1.0]],
        cpu=[0.4, 0.6],
    )
    m = run.end_to_end(out, 12.0)
    spec = {e["name"]: e["unit"] for e in _spec()["end_to_end"]}
    assert {k: u for k, (_, u) in m.items()} == spec
    assert m["env_per_s"][0] == pytest.approx(37.5)
    assert m["commit_p50_s"][0] == pytest.approx(0.75)
    assert m["cpu_us_per_env"][0] == pytest.approx(5000.0)
    assert all(v > 0 for v, _ in m.values())


def test_per_layer_metrics_match_benchmark_json():
    spec = {(e["name"], e["unit"], e["better"]) for e in _spec()["per_layer"]}
    assert spec == set(tracing.PER_LAYER)


def test_spec_names_workloads_the_runner_knows():
    spec = _spec()
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
    assert any(e["name"] == "setup_s" for e in spec["end_to_end"])


def test_tail_percentile_needs_ten_samples_beyond():
    xs = [float(i) for i in range(1, 41)]
    q, v = run.tail_percentile(xs)
    assert (q, v) == (75.0, 30.0)
    assert sum(x > v for x in xs) == 10
    assert run.tail_percentile(xs[:12]) == (50.0, 6.5)


def test_sql_metric_totals():
    assert tracing.metric_total("1,234") == 1234
    assert tracing.metric_total("total (min, med, max)\n2.5 s (1 ms, 2 ms, 3 ms)") == 2.5
    assert tracing.metric_total("total (min, med, max)\n12 ms (0 ms)") == pytest.approx(0.012)
    assert tracing.metric_total("3.0 KiB") == 3072


def test_covered_time_counts_overlap_once():
    spans = [{"start": 0.0, "end": 2.0}, {"start": 1.0, "end": 3.0}, {"start": 5.0, "end": 9.0}]
    assert tracing.covered_s(spans, 0.0, 6.0) == pytest.approx(4.0)


class _Frame:
    def __init__(self, df):
        self.df = df

    def select(self, *cols):
        return _Frame(self.df[list(cols)])

    def toPandas(self):
        return self.df


class _Sink:
    def __init__(self, df):
        self.df = df

    def snapshot(self, spark):
        return _Frame(self.df)


def test_snapshot_check_fails_on_tampered_expectation(tmp_path):
    gen.generate("ivm_catchup", 5, str(tmp_path), SMALL)
    part = str(tmp_path / "main")
    log = pd.read_pickle(os.path.join(part, "log.pkl"))
    live = gen.expected_state(log)
    out = workloads.Outcome()
    assert workloads._snapshot_check(None, _Sink(live), part, 2, out, "sink")
    assert all(ok for _, ok, _ in out.checks)

    tampered = live.copy()
    tampered.loc[0, "text"] = tampered.loc[0, "text"] + "!"
    out = workloads.Outcome()
    assert not workloads._snapshot_check(None, _Sink(tampered), part, 2, out, "sink")
    assert [name for name, ok, _ in out.checks if not ok] == ["sink.checksum"]

    out = workloads.Outcome()
    assert not workloads._snapshot_check(None, _Sink(live.iloc[1:]), part, 2, out, "sink")
    assert {name for name, ok, _ in out.checks if not ok} == {
        "sink.live_rows",
        "sink.checksum",
    }


def test_dlq_check_fails_on_tampered_reason(tmp_path):
    meta = gen.generate("catchup_json", 4, str(tmp_path), SMALL)["main"]
    got = [tuple(x) for x in reversed(meta["dlq"])]
    assert workloads._dlq_check(got, meta["dlq"], workloads.Outcome())
    raw, reason = got[0]
    other = next(k for k in gen.MALFORMED_KINDS if k != reason)
    out = workloads.Outcome()
    assert not workloads._dlq_check([(raw, other), *got[1:]], meta["dlq"], out)
    assert not workloads._dlq_check(got[1:], meta["dlq"], workloads.Outcome())
    assert out.checks[0][:2] == ("dlq.rows_reasons", False)
