"""Dynamic cohort rules over the rule-independent cube — the Flink
broadcast-state pattern, Structured-Streaming-first: the heavy state
(the (conv, kind, day) cube) is rule-independent; rules live in a file
reloaded per micro-batch, so a rule change lands on the next batch with
no state restart. Oracle parity for the cube evaluation runs in
tests/test_unregistered_oracles.py (same DuckDB oracle as cohort_exist).
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from flink_cdc_mysql_sink_to_mysql_spark.operators import cdc, cohort
from flink_cdc_mysql_sink_to_mysql_spark.sources.transcripts import (
    mysql_changelog,
)
from flink_cdc_mysql_sink_to_mysql_spark.streaming import cohort_stream as cs
from tests.conftest import SF_SMOKE

NOW = "2024-02-01 00:00:00"


def _ids(df):
    return {r["conv_id"] for r in df.collect()}


def test_cube_evaluation_matches_direct_for_all_reference_rules(spark):
    events = cdc.derive_turn_events(mysql_changelog(spark, SF_SMOKE))
    events = events.persist()
    try:
        cube = cohort.events_cube(events).persist()
        members = events.select("conv_id").distinct()
        extra = (
            # unmapped target (quirk) with HAVING over all 3 dims
            cohort.CohortRule(
                target=4,
                is_exist=True,
                value_days=60,
                sub_params=(
                    cohort.SubParam(1, 2, 10),
                    cohort.SubParam(2, 0, 1),
                    cohort.SubParam(3, 3, 500),
                ),
            ),
        )
        for rule in (*cohort.REFERENCE_RULES, *extra):
            want = _ids(cohort.evaluate_rule(members, events, rule, NOW))
            got_exist = _ids(
                cohort.exist_conv_ids_from_cube(cube, rule, NOW)
            )
            if rule.is_exist:
                assert got_exist == want, rule
            else:
                got = _ids(
                    members.join(
                        cohort.exist_conv_ids_from_cube(cube, rule, NOW),
                        "conv_id",
                        "left_anti",
                    )
                )
                assert got == want, rule
        # the set evaluator agrees rule-by-rule
        both = cohort.evaluate_rules_cube(
            cube, members, list(cohort.REFERENCE_RULES), NOW
        )
        for rid, rule in enumerate(cohort.REFERENCE_RULES):
            assert _ids(both.where(F.col("rule_id") == rid)) == _ids(
                cohort.evaluate_rule(members, events, rule, NOW)
            )
    finally:
        events.unpersist()


def _write_rules(path, rules):
    specs = [
        {
            "id": i,
            "target": r.target,
            "is_exist": r.is_exist,
            "value_days": r.value_days,
            "sub_params": [
                [sp.dimension, sp.operator, sp.value] for sp in r.sub_params
            ],
        }
        for i, r in enumerate(rules)
    ]
    path.write_text(json.dumps(specs))


def test_rule_change_lands_on_next_microbatch(spark, tmp_path):
    env = mysql_changelog(spark, SF_SMOKE).orderBy("seq").limit(600).persist()
    spool = tmp_path / "spool"
    half = env.limit(300)
    rest = env.subtract(half)
    half.coalesce(1).write.mode("overwrite").parquet(str(spool))

    rules_path = tmp_path / "rules.json"
    rule_loose = cohort.CohortRule(target=4, is_exist=True, value_days=3650)
    _write_rules(rules_path, [rule_loose])

    wd = str(tmp_path / "wd")
    out1 = cs.run_dynamic_cohorts(
        spark, str(spool), str(rules_path), wd, NOW
    )
    assert out1["epochs"]
    m1 = cs.read_members(spark, wd)
    n_loose = m1.count()
    assert n_loose > 0  # everything seen so far is a member

    # operator ships a STRICTER rule set (adds a HAVING) + new data lands
    rule_strict = cohort.CohortRule(
        target=4,
        is_exist=True,
        value_days=3650,
        sub_params=(cohort.SubParam(2, 2, 50),),  # COUNT(*) >= 50
    )
    _write_rules(rules_path, [rule_loose, rule_strict])
    rest.coalesce(1).write.mode("append").parquet(str(spool))

    out2 = cs.run_dynamic_cohorts(
        spark, str(spool), str(rules_path), wd, NOW
    )
    assert out2["epochs"]  # resumed and processed the new chunk
    m2 = cs.read_members(spark, wd).persist()
    try:
        # rule 0 still evaluated; rule 1 appears without any state reset
        rids = {r["rule_id"] for r in m2.select("rule_id").distinct().collect()}
        assert rids == {0, 1}
        # batch ground truth over the FULL feed
        events = cdc.derive_turn_events(env)
        members = events.select("conv_id").distinct()
        want0 = _ids(cohort.evaluate_rule(members, events, rule_loose, NOW))
        want1 = _ids(cohort.evaluate_rule(members, events, rule_strict, NOW))
        assert _ids(m2.where("rule_id = 0")) == want0
        assert _ids(m2.where("rule_id = 1")) == want1
        assert len(want1) < len(want0)  # the HAVING actually bites
    finally:
        m2.unpersist()
        env.unpersist()

    # transitions: convs that appeared in later epochs ENTER; the strict
    # rule's first appearance enters at its first evaluated epoch
    tr = cs.membership_transitions(spark, wd)
    assert tr.where("change = 'enter'").count() > 0
    assert tr.where("rule_id = 1 AND change = 'exit'").count() == 0

    # replay with a drained spool: no new epochs, snapshots unchanged
    before = _ids(cs.read_members(spark, wd))
    out3 = cs.run_dynamic_cohorts(spark, str(spool), str(rules_path), wd, NOW)
    assert out3["epochs"] == []
    assert _ids(cs.read_members(spark, wd)) == before


def test_streamed_cube_equals_batch_cube(spark, tmp_path):
    env = mysql_changelog(spark, SF_SMOKE).orderBy("seq").limit(400)
    spool = tmp_path / "spool"
    env.coalesce(2).write.mode("overwrite").parquet(str(spool))
    rules_path = tmp_path / "rules.json"
    _write_rules(rules_path, [cohort.CohortRule(4, True, 3650)])
    wd = str(tmp_path / "wd")
    cs.run_dynamic_cohorts(spark, str(spool), str(rules_path), wd, NOW)

    _assert_cube_equals_batch(cs.read_cube(spark, wd), env)


def _assert_cube_equals_batch(got, env):
    want = cohort.events_cube(cdc.derive_turn_events(env))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_rule_file_hazards_and_fold(spark, tmp_path):
    """Operator-facing robustness: an EMPTY rule file yields an empty
    snapshot (not a crash); a TORN rule file falls back to the last
    good set; stable ids survive a rule deletion without remapping;
    compacting the cube table does not change the served cube."""
    env = mysql_changelog(spark, SF_SMOKE).orderBy("seq").limit(300)
    spool = tmp_path / "spool"
    env.repartition(3).write.mode("overwrite").parquet(str(spool))
    rules_path = tmp_path / "rules.json"
    wd = str(tmp_path / "wd")

    # 1) empty rule set: runs clean, snapshot empty
    rules_path.write_text("[]")
    out = cs.run_dynamic_cohorts(spark, str(spool), str(rules_path), wd, NOW)
    assert out["rule_load_errors"] == 0
    assert cs.read_members(spark, wd).count() == 0

    # 2) stable ids: rule with explicit id 7 keeps identity
    rules_path.write_text(
        json.dumps([{"id": 7, "target": 4, "is_exist": True, "value_days": 3650}])
    )
    rules = cs.load_rules(str(rules_path))
    assert list(rules) == [7]

    # 3) torn file: fallback to last good — new data still processes
    env2 = mysql_changelog(spark, SF_SMOKE).orderBy("seq", ascending=False).limit(50)
    env2.coalesce(1).write.mode("append").parquet(str(spool))
    rules_path.write_text('[{"id": 7, "target": 4,')  # torn write
    out2 = cs.run_dynamic_cohorts(spark, str(spool), str(rules_path), wd, NOW)
    assert out2["epochs"]
    assert out2["rule_load_errors"] >= 1
    # last good set was EMPTY (from step 1's run) → snapshot still empty
    assert cs.read_members(spark, wd).count() == 0

    # 4) fold: compaction + vacuum leave the served cube identical
    before = sorted(map(tuple, cs.read_cube(spark, wd).collect()))
    assert _compact_cube(spark, wd)["compacted"]
    assert sorted(map(tuple, cs.read_cube(spark, wd).collect())) == before


def _compact_cube(spark, wd):
    """The cube table's own maintenance: one compacted version, older
    versions vacuumed."""
    sink = cs._cube_sink(wd)
    res = sink.compact(spark)
    sink.vacuum()
    return res


def test_prune_member_snapshots(spark, tmp_path):
    env = mysql_changelog(spark, SF_SMOKE).orderBy("seq").limit(300)
    spool = tmp_path / "spool"
    env.repartition(3).write.mode("overwrite").parquet(str(spool))
    rules_path = tmp_path / "rules.json"
    _write_rules(rules_path, [cohort.CohortRule(4, True, 3650)])
    wd = str(tmp_path / "wd")
    cs.run_dynamic_cohorts(spark, str(spool), str(rules_path), wd, NOW)
    assert len(cs._member_epochs(wd)) == 3
    latest = _ids(cs.read_members(spark, wd))
    out = cs.prune_member_snapshots(wd, keep_last=1)
    assert out == {"kept": 1, "pruned": 2}
    assert _ids(cs.read_members(spark, wd)) == latest  # latest survives
    # transitions still work over the reduced window
    assert cs.membership_transitions(spark, wd).count() >= 0


def test_fold_then_resume_keeps_cube_correct(spark, tmp_path):
    """Compacting the cube table between stream invocations must not
    perturb a later resume: new epochs add to the compacted cells and
    the served cube still equals the batch cube of the FULL feed."""
    env = mysql_changelog(spark, SF_SMOKE).orderBy("seq").limit(400).persist()
    first, rest = env.limit(250), env.subtract(env.limit(250))
    spool = tmp_path / "spool"
    first.repartition(2).write.mode("overwrite").parquet(str(spool))
    rules_path = tmp_path / "rules.json"
    _write_rules(rules_path, [cohort.CohortRule(4, True, 3650)])
    wd = str(tmp_path / "wd")

    cs.run_dynamic_cohorts(spark, str(spool), str(rules_path), wd, NOW)
    assert _compact_cube(spark, wd)["compacted"]

    rest.coalesce(1).write.mode("append").parquet(str(spool))
    out = cs.run_dynamic_cohorts(spark, str(spool), str(rules_path), wd, NOW)
    assert out["epochs"]  # resumed past the compaction
    _assert_cube_equals_batch(cs.read_cube(spark, wd), env)
    env.unpersist()


def test_torn_first_load_falls_back_to_persisted_lastgood(spark, tmp_path):
    """A NEW spark-submit run that opens on a torn rules file must serve
    the set persisted by the last successful load (workdir
    rules_lastgood.json) — not evaluate an empty rule set and snapshot
    zero members, which membership_transitions would read as a
    fabricated mass EXIT (review finding)."""
    env = mysql_changelog(spark, SF_SMOKE).orderBy("seq").limit(300)
    spool = tmp_path / "spool"
    env.repartition(2).write.mode("overwrite").parquet(str(spool))
    rules_path = tmp_path / "rules.json"
    _write_rules(rules_path, [cohort.CohortRule(4, True, 3650)])
    wd = str(tmp_path / "wd")

    out = cs.run_dynamic_cohorts(spark, str(spool), str(rules_path), wd, NOW)
    assert out["rule_load_errors"] == 0
    good = _ids(cs.read_members(spark, wd))
    assert good  # the loose rule matches conversations

    # simulate: process restart (fresh state dict) + torn file + new data
    env2 = mysql_changelog(spark, SF_SMOKE).orderBy(
        "seq", ascending=False
    ).limit(50)
    env2.coalesce(1).write.mode("append").parquet(str(spool))
    rules_path.write_text('[{"id": 0, "target": 4,')  # torn write
    out2 = cs.run_dynamic_cohorts(spark, str(spool), str(rules_path), wd, NOW)
    assert out2["rule_load_errors"] >= 1
    # last-good set served: membership is a superset of the prior run's
    # (new turns only ADD under this loose exist-rule), never empty
    now_ids = _ids(cs.read_members(spark, wd))
    assert now_ids >= good
    # and no fabricated mass EXIT in the transition history
    trans = cs.membership_transitions(spark, wd)
    assert trans.where(F.col("change") == "exit").count() == 0


def test_torn_first_load_no_lastgood_keeps_prior_snapshot(spark, tmp_path):
    """No last-good file available either (deleted) → the run must keep
    the previous epoch's snapshot rather than overwrite with zero
    members."""
    import os

    env = mysql_changelog(spark, SF_SMOKE).orderBy("seq").limit(300)
    spool = tmp_path / "spool"
    env.repartition(2).write.mode("overwrite").parquet(str(spool))
    rules_path = tmp_path / "rules.json"
    _write_rules(rules_path, [cohort.CohortRule(4, True, 3650)])
    wd = str(tmp_path / "wd")
    cs.run_dynamic_cohorts(spark, str(spool), str(rules_path), wd, NOW)
    good = _ids(cs.read_members(spark, wd))
    assert good

    os.remove(os.path.join(wd, "rules_lastgood.json"))
    env2 = mysql_changelog(spark, SF_SMOKE).orderBy(
        "seq", ascending=False
    ).limit(50)
    env2.coalesce(1).write.mode("append").parquet(str(spool))
    rules_path.write_text("{not json")
    out = cs.run_dynamic_cohorts(spark, str(spool), str(rules_path), wd, NOW)
    assert out["rule_load_errors"] >= 1
    # prior snapshot retained — latest members are the ones from the
    # good run, not an empty overwrite
    assert _ids(cs.read_members(spark, wd)) == good


def test_crash_between_cube_commit_and_snapshot_replays_once(
    spark, tmp_path, monkeypatch
):
    """A crash after the last epoch's cube commit and before its member
    snapshot: the re-run replays that epoch, the manifest's epoch skip
    keeps the additive commit from landing twice (cnt not doubled), and
    the snapshot is rewritten from the committed cube."""
    import os

    import pytest

    env = mysql_changelog(spark, SF_SMOKE).orderBy("seq").limit(300).persist()
    spool = tmp_path / "spool"
    env.repartition(3).write.mode("overwrite").parquet(str(spool))
    rules = [
        cohort.CohortRule(4, True, 3650),
        cohort.CohortRule(4, True, 3650, (cohort.SubParam(2, 2, 20),)),
    ]
    rules_path = tmp_path / "rules.json"
    _write_rules(rules_path, rules)
    wd = str(tmp_path / "wd")

    real, calls = cohort.evaluate_rules_cube, []

    def crash_on_third(*args, **kwargs):
        calls.append(1)
        if len(calls) == 3:
            raise RuntimeError("injected crash before the snapshot")
        return real(*args, **kwargs)

    monkeypatch.setattr(cohort, "evaluate_rules_cube", crash_on_third)
    with pytest.raises(Exception, match="injected crash"):
        cs.run_dynamic_cohorts(spark, str(spool), str(rules_path), wd, NOW)
    manifest_path = os.path.join(wd, "cube", "_manifest.json")
    with open(manifest_path) as f:
        assert json.load(f)["epochs"] == [0, 1, 2]  # epoch 2's cube landed
    assert cs._member_epochs(wd) == [0, 1]  # ... and its snapshot did not

    out = cs.run_dynamic_cohorts(spark, str(spool), str(rules_path), wd, NOW)
    assert out["epochs"] == [2]  # Spark re-ran the uncommitted batch
    try:
        _assert_cube_equals_batch(cs.read_cube(spark, wd), env)
        events = cdc.derive_turn_events(env)
        members = events.select("conv_id").distinct()
        got = cs.read_members(spark, wd)
        for rid, rule in enumerate(rules):
            want = _ids(cohort.evaluate_rule(members, events, rule, NOW))
            assert _ids(got.where(F.col("rule_id") == rid)) == want
    finally:
        env.unpersist()
    with open(manifest_path) as f:
        assert [r["epoch"] for r in json.load(f)["log"]] == [0, 1, 2]
    # one copy of the cube: the checkpoint keeps only source offsets
    assert sorted(os.listdir(wd)) == [
        "checkpoint", "cube", "members", "rules_lastgood.json"
    ]
    assert not os.path.exists(os.path.join(wd, "checkpoint", "state"))
