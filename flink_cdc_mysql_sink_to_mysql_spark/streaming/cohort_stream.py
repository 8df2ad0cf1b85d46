"""Continuously-maintained cohorts (streaming form of reference job 3).

The reference evaluates cohort rules as one-shot pull queries against
the sink table (`UserGroupClickHouseJob.java:83-96`). Here the stream
maintains the rule-INDEPENDENT (conv_id, event_kind, day) cube of
:func:`cohort.events_cube` and evaluates any rule set over it per
micro-batch — the Flink broadcast-state pattern, with the rules in a
file reloaded every batch instead of a broadcast control stream.

The cube lives once: in a :class:`GroupedReplaceParquetSink` table
under ``<workdir>/cube``, bucketed on conv_id. Each micro-batch
aggregates its own events statelessly, adds the stored cells of the
conversations it touched (sum+sum, cnt+cnt, max of max), and commits
those conversations' rows through ``replace_groups``. There is no
Structured Streaming state store (the checkpoint holds only source
offsets) and no delta history to fold; the table's ``compact`` and
``vacuum`` are its maintenance.

Exactly-once: the commit is additive, so it relies on the manifest's
epoch skip — a replayed epoch finds its id committed and adds nothing.
Spark re-runs only the last uncommitted batch, which is always inside
the manifest's epoch window, so the checkpoint and the cube table are
a pair: move or delete them together. The membership snapshot of epoch
N is read from the committed cube inside the same ``foreachBatch``, so
a crash between the cube commit and the snapshot replays the epoch,
skips the commit and rewrites the snapshot.

Scale: per micro-batch work is the batch's cube aggregation, a read of
the cube for the touched conversations' cells and the snapshot's rule
evaluation, which touches the compact cube (|convs| × |kinds| × |active
days| rows), never the event history.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import cdc, cohort
from .ivm import GroupedReplaceParquetSink
from .pipeline import envelope_stream

#: the cube table's row type: events_cube's columns plus the stored bucket
CUBE_DDL = (
    "conv_id string, event_kind int, day timestamp,"
    " sum_metric decimal(28,2), cnt bigint, max_metric decimal(18,2),"
    " bucket int"
)
#: buckets of a NEW cube table (the table owns the value afterwards;
#: ``compact(new_n_buckets=)`` re-buckets a grown one). The snapshot
#: reads the whole cube every batch anyway, and at the sf0.001 cube
#: (904 cells, ~30 KB) each extra bucket file is fixed cost: the
#: dynamic-cohort tests ran 133 s at 2 against 150-200 s at 1 and
#: 147-154 s at 8 (4 vCPUs).
CUBE_BUCKETS = 2
_CELL = ("conv_id", "event_kind", "day")


def load_rules(path: str) -> dict[int, cohort.CohortRule]:
    """Rule file → ``{stable_id: CohortRule}``. Format: a JSON array of
    ``{"id": int?, "target": int, "is_exist": bool, "value_days": int,
    "sub_params": [[dimension, operator, value], ...]}`` — the
    UserGroupParam/SubParam wire shape (UserGroupClickHouseJob.java:
    65-78) as data instead of code, so operators ship rule changes
    without a deploy.

    ``id`` defaults to the position for back-compat, but give rules
    EXPLICIT ids in a file that will ever be edited: with positional
    ids, deleting rule 0 renumbers every survivor and the transition
    history reads as a mass exit/enter that never happened (review
    finding). Write the file with an atomic rename (tmp + mv) — it is
    re-read per micro-batch; :func:`write_rules` does."""
    with open(path) as f:
        specs = json.load(f)
    out: dict[int, cohort.CohortRule] = {}
    for i, s in enumerate(specs):
        rid = int(s.get("id", i))
        if rid in out:
            raise ValueError(f"duplicate rule id {rid} in {path}")
        out[rid] = cohort.CohortRule(
            target=s["target"],
            is_exist=s["is_exist"],
            value_days=s["value_days"],
            sub_params=tuple(
                cohort.SubParam(*sp) for sp in s.get("sub_params", ())
            ),
        )
    return out


def write_rules(path: str, rules: dict[int, cohort.CohortRule]) -> None:
    """``{stable_id: CohortRule}`` → the wire shape :func:`load_rules`
    parses, written atomically (tmp + os.replace)."""
    specs = [
        {
            "id": rid,
            "target": r.target,
            "is_exist": r.is_exist,
            "value_days": r.value_days,
            "sub_params": [
                [sp.dimension, sp.operator, sp.value] for sp in r.sub_params
            ],
        }
        for rid, r in rules.items()
    ]
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(specs, f)
    os.replace(tmp, path)


def members_dir(workdir: str) -> str:
    return os.path.join(workdir, "members")


def _cube_sink(workdir: str) -> GroupedReplaceParquetSink:
    return GroupedReplaceParquetSink(
        os.path.join(workdir, "cube"), n_buckets=CUBE_BUCKETS, schema_ddl=CUBE_DDL
    )


def read_cube(spark: SparkSession, workdir: str) -> DataFrame:
    """The committed cube: one row per (conv_id, event_kind, day) cell."""
    return _cube_sink(workdir).read_view(spark)


def _add_cells(stored: DataFrame, delta: DataFrame) -> DataFrame:
    """``stored`` ⊕ ``delta`` per cube cell: each DIMENSIONS partial
    re-aggregates algebraically (sum+sum, cnt+cnt, max of max), cast
    back to the stored type (a decimal sum widens its precision)."""
    types = dict(stored.dtypes)
    parts = [
        cohort._dim_cube_col(d).cast(types[partial]).alias(partial)
        for d, (_, _, partial) in cohort.DIMENSIONS.items()
    ]
    return stored.unionByName(delta).groupBy(*_CELL).agg(*parts)


def run_dynamic_cohorts(
    spark: SparkSession,
    spool_dir: str,
    rules_path: str,
    workdir: str,
    now: str,
) -> dict:
    """Drain the envelope spool into the cube table and, per micro-batch,
    RELOAD the rule file and write an epoch-keyed membership snapshot
    evaluated on the committed cube. A rule change lands on the next
    micro-batch — the visibility Flink's broadcast control stream
    gives — and costs nothing: the cube is rule-independent, so there
    is no state restart, re-aggregation or checkpoint migration.

    A torn/unparseable rule file (an operator saving non-atomically
    mid-batch) falls back to the last good rule set instead of killing
    the stream; if no rules ever loaded, the snapshot is empty.

    Returns {"epochs": [...], "last_members": int, "rule_load_errors": n}.
    """
    ckpt = os.path.join(workdir, "checkpoint")
    cube = _cube_sink(workdir)
    mdir = members_dir(workdir)
    lastgood = os.path.join(workdir, "rules_lastgood.json")
    seen: list[int] = []
    state = {"rules": {}, "loaded_once": False, "errors": 0}

    def _rules() -> dict:
        try:
            state["rules"] = load_rules(rules_path)
            state["loaded_once"] = True
            # persist the PARSED set, not a copy of the raw file: a
            # non-atomic writer can tear rules_path between our parse
            # and a copy (TOCTOU), so last-good is by
            # construction the set that actually loaded
            try:
                write_rules(lastgood, state["rules"])
            except OSError:
                pass  # best-effort: the in-run fallback still works
        except (OSError, ValueError):
            # torn write or bad edit: keep serving the last good set
            state["errors"] += 1
            if not state["loaded_once"] and os.path.exists(lastgood):
                # fresh run whose FIRST load is torn: fall back to the
                # persisted last-good set instead of evaluating an empty
                # rule set (which would snapshot zero members and read
                # as a fabricated mass EXIT in membership_transitions)
                try:
                    state["rules"] = load_rules(lastgood)
                    state["loaded_once"] = True
                except (OSError, ValueError):
                    pass
        return state["rules"]

    def _snapshot(eid: int) -> None:
        rules = _rules()
        if not state["loaded_once"] and _member_epochs(workdir):
            # no rule set EVER loaded (current file torn, no/bad
            # last-good) but prior snapshots exist: keep the previous
            # epoch's snapshot rather than overwrite with zero members
            return
        cur = cube.read_view(spark)
        members = cur.select("conv_id").distinct()
        out = cohort.evaluate_rules_cube(cur, members, rules, now)
        out.write.mode("overwrite").parquet(os.path.join(mdir, f"epoch={eid}"))

    def _batch(events: DataFrame, epoch_id: int) -> None:
        eid = int(epoch_id)
        delta = cohort.events_cube(events)
        keys = delta.select("conv_id").distinct()
        stored = cube.read_view(spark).join(
            F.broadcast(keys), "conv_id", "left_semi"
        )
        # a replayed epoch is skipped by the manifest: adds nothing twice
        cube.replace_groups(keys, _add_cells(stored, delta), eid)
        _snapshot(eid)
        seen.append(eid)

    # the derivation is a stateless map, planned once on the stream; the
    # cube aggregation runs per batch, so the stream keeps no state
    q = (
        cdc.derive_turn_events(envelope_stream(spark, spool_dir))
        .writeStream.foreachBatch(_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    last = read_members(spark, workdir)
    return {
        "epochs": seen,
        "last_members": last.count() if last is not None else 0,
        "rule_load_errors": state["errors"],
    }


def _member_epochs(workdir: str) -> list[int]:
    mdir = members_dir(workdir)
    if not os.path.isdir(mdir):
        return []
    return sorted(
        int(n.split("=", 1)[1])
        for n in os.listdir(mdir)
        if n.startswith("epoch=")
    )


def read_members(
    spark: SparkSession, workdir: str, epoch: int | None = None
) -> DataFrame | None:
    """The membership snapshot at ``epoch`` (default: latest)."""
    epochs = _member_epochs(workdir)
    if not epochs:
        return None
    eid = epochs[-1] if epoch is None else epoch
    return spark.read.parquet(os.path.join(members_dir(workdir), f"epoch={eid}"))


def membership_transitions(spark: SparkSession, workdir: str) -> DataFrame:
    """ENTER/EXIT changelog across the recorded snapshots: for every
    (rule_id, conv_id) that appears in, or disappears from, consecutive
    epochs, one row (epoch, rule_id, conv_id, change ∈ {enter, exit}).
    Computed AT READ TIME from the idempotent snapshots — the stream
    never carries cross-epoch state, so replays cannot corrupt the
    transition history (recomputing it is free and deterministic)."""
    epochs = _member_epochs(workdir)
    if not epochs:
        return spark.createDataFrame(
            [], "epoch int, rule_id int, conv_id string, change string"
        )
    frames = [
        spark.read.parquet(os.path.join(members_dir(workdir), f"epoch={e}"))
        .select(F.lit(e).alias("epoch"), "rule_id", "conv_id")
        for e in epochs
    ]
    from functools import reduce as _reduce

    snaps = _reduce(lambda a, b: a.unionByName(b), frames)
    # membership interval per key → enter at first epoch present, exit
    # at the epoch AFTER the last one present (if any snapshot follows)
    epochs_df = F.array(*[F.lit(e) for e in epochs])
    spans = snaps.groupBy("rule_id", "conv_id").agg(
        F.collect_set("epoch").alias("present")
    )
    # one pass over each key's presence set vs the global epoch list:
    # a key enters at e if present(e) and not present(prev(e)); exits
    # at e if not present(e) and present(prev(e))
    exploded = spans.select(
        "rule_id",
        "conv_id",
        F.posexplode(epochs_df).alias("pos", "epoch"),
        F.col("present"),
    )
    has = F.array_contains(F.col("present"), F.col("epoch"))
    prev_e = F.element_at(epochs_df, F.col("pos"))  # 1-based = previous
    had = F.when(
        F.col("pos") > 0, F.array_contains(F.col("present"), prev_e)
    ).otherwise(F.lit(False))
    return (
        exploded.withColumn(
            "change",
            F.when(has & ~had, F.lit("enter")).when(
                ~has & had, F.lit("exit")
            ),
        )
        .where(F.col("change").isNotNull())
        .select("epoch", "rule_id", "conv_id", "change")
    )


def prune_member_snapshots(workdir: str, keep_last: int = 8) -> dict:
    """Bound the membership-snapshot history: keep the newest
    ``keep_last`` epoch dirs, delete the rest. Transitions older than
    the retained window are forgotten — run after
    :func:`membership_transitions` has been consumed (alerting,
    audit export) if the full history matters. The LATEST snapshot
    (what :func:`read_members` serves) is always kept."""
    import shutil

    epochs = _member_epochs(workdir)
    drop = epochs[:-keep_last] if keep_last > 0 else epochs[:-1]
    for e in drop:
        shutil.rmtree(os.path.join(members_dir(workdir), f"epoch={e}"))
    return {"kept": len(epochs) - len(drop), "pruned": len(drop)}
