"""MERGE sink table maintenance: vacuum (superseded/torn version-dir
GC) and compaction (bucket-file folding, optional tombstone pruning).

The copy-on-write MERGE (streaming/sink.py) never deletes data files —
only the manifest pointer moves — so a long-running stream grows disk
without bound and fragments each bucket across one small file per
touching epoch. These are the Iceberg expire_snapshots /
rewrite_data_files analogs for the parquet shim.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest
from pyspark.sql import functions as F

from flink_cdc_mysql_sink_to_mysql_spark.streaming.sink import (
    MergeParquetSink,
)

_ENV_SCHEMA = (
    "op string, after struct<conv_id:string,turn_idx:int,role:string,"
    "text:string,tool:string,ts:timestamp>,"
    " before struct<conv_id:string,turn_idx:int,role:string,text:string,"
    "tool:string,ts:timestamp>, seq long"
)


def env_batch(spark, rows):
    """rows: (op, conv_id, turn_idx, text, seq). op='d' carries the key
    in `before` with a NULL after-image, like a Debezium delete."""

    def img(cid, ti, tx):
        return {
            "conv_id": cid,
            "turn_idx": ti,
            "role": "user",
            "text": tx,
            "tool": None,
            "ts": dt.datetime(2024, 1, 1),
        }

    data = [
        (
            op,
            None if op == "d" else img(cid, ti, tx),
            img(cid, ti, tx) if op == "d" else None,
            seq,
        )
        for op, cid, ti, tx, seq in rows
    ]
    return spark.createDataFrame(data, _ENV_SCHEMA)


def snap_rows(spark, sink):
    return sorted(
        map(tuple, sink.snapshot(spark).select("conv_id", "turn_idx", "text").collect())
    )


def verdirs(root):
    return sorted(
        d for d in os.listdir(root) if d.startswith("v") and os.path.isdir(os.path.join(root, d))
    )


def test_vacuum_reclaims_superseded_versions(spark, tmp_path):
    root = str(tmp_path / "tbl")
    sink = MergeParquetSink(root, n_buckets=4)
    # 5 epochs all touching the same keys: every commit supersedes the
    # previous version dirs entirely
    for e in range(5):
        sink.merge_changelog(
            env_batch(spark, [("c", f"c{i}", 0, f"v{e}", e) for i in range(8)]),
            epoch_id=e,
        )
    before = snap_rows(spark, sink)
    assert len(verdirs(root)) == 5

    dry = sink.vacuum(dry_run=True)
    assert dry["dry_run"] and len(verdirs(root)) == 5  # nothing deleted
    assert dry["reclaimed_bytes"] > 0

    out = sink.vacuum()
    assert out["removed_dirs"] == dry["removed_dirs"]
    assert out["reclaimed_bytes"] == dry["reclaimed_bytes"]
    # only manifest-referenced dirs remain, and the table is intact
    manifest = json.load(open(os.path.join(root, "_manifest.json")))
    live = {rel.split("/", 1)[0] for rel in manifest["buckets"].values()}
    assert set(verdirs(root)) == live
    # the run is logged in the manifest, without a version bump
    assert manifest["log"][-1]["removed_dirs"] == out["removed_dirs"]
    assert manifest["log"][-1]["version"] == manifest["version"] == 5
    assert snap_rows(spark, sink) == before
    # idempotent: second vacuum finds nothing
    assert sink.vacuum()["removed_dirs"] == []


def test_vacuum_removes_torn_commit_dir(spark, tmp_path):
    """A crash between the data write and the manifest swap leaves a
    fully-written but never-referenced version dir; vacuum reclaims it
    without touching live data (single-writer contract: no merge in
    flight)."""
    root = str(tmp_path / "tbl")
    sink = MergeParquetSink(root, n_buckets=4)
    sink.merge_changelog(
        env_batch(spark, [("c", f"c{i}", 0, "x", 1) for i in range(8)]), 0
    )
    before = snap_rows(spark, sink)

    torn = os.path.join(root, "v99-7", "pb=0")
    os.makedirs(torn)
    with open(os.path.join(torn, "part-torn.parquet"), "wb") as f:
        f.write(b"\x00" * 128)

    out = sink.vacuum()
    assert "v99-7" in out["removed_dirs"]
    assert not os.path.exists(os.path.join(root, "v99-7"))
    assert snap_rows(spark, sink) == before


def test_vacuum_removes_orphaned_manifest_temp(spark, tmp_path):
    """A crash between the temp write and the swap of a manifest commit
    leaves a ``tmp*.manifest``. Under vacuum's single-writer contract no
    swap is in flight, so the file is an orphan: vacuum removes it and
    counts its bytes, and the live manifest is untouched."""
    root = str(tmp_path / "tbl")
    sink = MergeParquetSink(root, n_buckets=4)
    sink.merge_changelog(
        env_batch(spark, [("c", f"c{i}", 0, "x", 1) for i in range(8)]), 0
    )
    before = snap_rows(spark, sink)
    orphan = os.path.join(root, "tmpabc.manifest")
    with open(orphan, "w") as f:
        f.write('{"version": 99, "buckets": {}}')
    size = os.path.getsize(orphan)

    dry = sink.vacuum(dry_run=True)
    assert dry["reclaimed_bytes"] == size and os.path.exists(orphan)
    out = sink.vacuum()
    assert out["reclaimed_bytes"] == size
    assert not os.path.exists(orphan)
    assert os.path.exists(os.path.join(root, "_manifest.json"))
    assert snap_rows(spark, sink) == before


def test_compact_folds_files_and_preserves_table(spark, tmp_path):
    root = str(tmp_path / "tbl")
    sink = MergeParquetSink(root, n_buckets=2)
    # 6 trickle epochs, disjoint keys: both buckets accumulate one file
    # per touching epoch across 6 version dirs
    for e in range(6):
        sink.merge_changelog(
            env_batch(
                spark, [("c", f"c{e}_{i}", 0, f"t{e}", e) for i in range(6)]
            ),
            epoch_id=e,
        )
    before = snap_rows(spark, sink)
    # each bucket's pointer sits in the version dir of the last epoch
    # that touched it: live data is scattered across dirs, and EVERY
    # superseded rewrite is still on disk
    manifest = json.load(open(os.path.join(root, "_manifest.json")))
    assert len(verdirs(root)) == 6
    assert sink.file_stats()["referenced_files"] == 2  # 1 file/bucket

    out = sink.compact(spark)
    assert out["compacted"] and out["buckets_rewritten"] == 2
    after = sink.file_stats()
    assert after["referenced_files"] == after["buckets"] == 2
    # all pointers now in the single compaction dir
    manifest = json.load(open(os.path.join(root, "_manifest.json")))
    assert {r.split("/", 1)[0] for r in manifest["buckets"].values()} == {
        f"v{out['version']}-compact"
    }
    assert snap_rows(spark, sink) == before

    # vacuum now reclaims every pre-compaction dir; table still reads
    sink.vacuum()
    assert verdirs(root) == [f"v{out['version']}-compact"]
    assert snap_rows(spark, sink) == before

    # merges keep working after compact+vacuum, and epoch bookkeeping
    # survived: replaying a committed epoch is still a no-op
    assert sink.merge_changelog(
        env_batch(spark, [("c", "c0_0", 0, "ZZ", 99)]), epoch_id=3
    ).get("skipped")
    sink.merge_changelog(
        env_batch(spark, [("c", "c0_0", 0, "new", 99)]), epoch_id=10
    )
    assert ("c0_0", 0, "new") in snap_rows(spark, sink)


def test_maybe_compact_gates_on_fragmentation(spark, tmp_path):
    """Threshold policy (the job's --auto-compact-factor): compaction
    runs only when referenced files exceed factor x buckets, so a cron
    maintenance pass is a cheap stat call on a tight table."""
    sink = MergeParquetSink(str(tmp_path / "tbl"), n_buckets=2)
    for e in range(4):
        sink.merge_changelog(
            env_batch(
                spark, [("c", f"c{e}_{i}", 0, f"t{e}", e) for i in range(6)]
            ),
            epoch_id=e,
        )
    before = snap_rows(spark, sink)
    files0 = sink.file_stats()["referenced_files"]

    # tight table under a generous factor: decision recorded, no rewrite
    out = sink.maybe_compact(spark, factor=float(files0))
    assert out["compacted"] is False and "compact" not in out
    assert sink.file_stats()["referenced_files"] == files0

    # fragmented relative to a sub-1 factor: full compact runs
    out = sink.maybe_compact(spark, factor=0.4)
    assert out["compacted"] is True and out["compact"]["compacted"]
    after = sink.file_stats()
    assert after["referenced_files"] == after["buckets"]
    assert snap_rows(spark, sink) == before


def test_compact_tombstone_pruning_respects_horizon(spark, tmp_path):
    root = str(tmp_path / "tbl")
    sink = MergeParquetSink(root, n_buckets=2)
    sink.merge_changelog(
        env_batch(
            spark,
            [("c", "a", 0, "keep", 1), ("c", "b", 0, "del-old", 2), ("c", "g", 0, "del-new", 3)],
        ),
        0,
    )
    sink.merge_changelog(
        env_batch(spark, [("d", "b", 0, "del-old", 10), ("d", "g", 0, "del-new", 50)]), 1
    )
    assert snap_rows(spark, sink) == [("a", 0, "keep")]
    # default compact keeps ALL tombstones (unconditional exactly-once)
    sink.compact(spark)
    tomb = sink.read(spark).where(F.col("op") == "d")
    assert {r.conv_id for r in tomb.collect()} == {"b", "g"}

    # prune below seq=20: b's tombstone (seq 10) goes, g's (seq 50) stays
    out = sink.compact(spark, prune_tombstones_below_seq=20)
    assert out["pruned_below_seq"] == 20
    tomb = sink.read(spark).where(F.col("op") == "d")
    assert {r.conv_id for r in tomb.collect()} == {"g"}
    assert snap_rows(spark, sink) == [("a", 0, "keep")]  # live rows untouched

    # the documented trade: a replay BELOW the horizon can now
    # resurrect b (caller promised the source can't produce it); a
    # replay of g's older write still loses to g's kept tombstone
    sink.merge_changelog(
        env_batch(spark, [("c", "g", 0, "del-new", 3)]), epoch_id=20
    )
    assert snap_rows(spark, sink) == [("a", 0, "keep")]


def test_compact_rebuckets_growing_table(spark, tmp_path):
    """n_buckets is table-owned and immutable across resume (the merge
    guard), so a full compaction rewrite is the one safe moment to
    resize a grown table. After rebucketing, merges under the new base
    keep exactly-once semantics: updates to pre-rebucket keys land on
    their (re-hashed) stored copies, never beside them."""
    root = str(tmp_path / "tbl")
    sink = MergeParquetSink(root, n_buckets=2)
    sink.merge_changelog(
        env_batch(spark, [("c", f"c{i}", 0, "v1", 1) for i in range(40)]), 0
    )
    before = snap_rows(spark, sink)

    out = sink.compact(spark, new_n_buckets=16)
    assert out["n_buckets"] == 16
    assert snap_rows(spark, sink) == before
    # stored bucket column is consistent with the new base everywhere
    bad = (
        sink.read(spark)
        .where(
            F.col("bucket")
            != F.pmod(F.xxhash64("conv_id"), F.lit(16)).cast("int")
        )
        .count()
    )
    assert bad == 0

    # a RESUMED handle adopts the new table-owned base and updates the
    # old keys in place — no duplicate (conv_id, turn_idx) pairs
    resumed = MergeParquetSink(root, n_buckets=2)
    resumed.merge_changelog(
        env_batch(spark, [("c", f"c{i}", 0, "v2", 2) for i in range(40)]), 1
    )
    assert resumed.n_buckets == 16
    snap = resumed.snapshot(spark)
    assert snap.count() == 40
    assert snap.where("text != 'v2'").count() == 0


# -- retention expiry ---------------------------------------------------


def test_expiry_tombstones_only_stale_conversations(spark, tmp_path):
    sink = MergeParquetSink(str(tmp_path / "t"), n_buckets=8)
    sink.merge_changelog(
        env_batch(
            spark,
            [
                ("c", "old", 0, "a", 100),
                ("c", "old", 1, "b", 120),
                ("c", "edge", 0, "e", 500),   # max seq == horizon → kept
                ("c", "fresh", 0, "x", 100),  # old turn ...
                ("u", "fresh", 0, "x2", 900),  # ... but recent activity
            ],
        ),
        0,
    )
    out = sink.expire_conversations(spark, older_than_seq=500, epoch_id=-1)
    assert out["expired_below_seq"] == 500 and out["delta_rows"] == 2
    assert snap_rows(spark, sink) == [
        ("edge", 0, "e"),
        ("fresh", 0, "x2"),
    ]
    # tombstones (not physical deletes) at horizon-1, so a legitimate
    # write at EXACTLY the horizon seq still outranks them
    dead = (
        sink.read(spark)
        .where("op = 'd'")
        .select("conv_id", "turn_idx", "seq")
        .collect()
    )
    assert sorted((r[0], r[1], r[2]) for r in dead) == [
        ("old", 0, 499),
        ("old", 1, 499),
    ]
    # boundary: a genuine insert at seq == horizon re-creates the key
    sink.merge_changelog(env_batch(spark, [("c", "old", 0, "back", 500)]), 1)
    assert ("old", 0, "back") in snap_rows(spark, sink)


def test_expiry_is_idempotent_and_replay_safe(spark, tmp_path):
    sink = MergeParquetSink(str(tmp_path / "t"), n_buckets=8)
    sink.merge_changelog(
        env_batch(spark, [("c", "old", 0, "a", 10), ("c", "new", 0, "n", 990)]),
        0,
    )
    sink.expire_conversations(spark, 500)
    before = snap_rows(spark, sink)
    # same-horizon replay: derived epoch matches → skipped outright
    again = sink.expire_conversations(spark, 500)
    assert again.get("skipped") is True
    # fresh-epoch rerun: converges (nothing left below the horizon)
    sink.expire_conversations(spark, 500, epoch_id=-9999)
    assert snap_rows(spark, sink) == before == [("new", 0, "n")]


def test_expiry_horizon_advances_and_coexists_with_bootstrap(spark, tmp_path):
    """Recurring retention: each new horizon derives a DISTINCT
    maintenance epoch, so the second run is applied, not epoch-skipped —
    and neither collides with the reserved bootstrap epoch (-1)."""
    from flink_cdc_mysql_sink_to_mysql_spark.streaming.pipeline import (
        BOOTSTRAP_EPOCH,
    )

    sink = MergeParquetSink(str(tmp_path / "t"), n_buckets=8)
    # simulate a bootstrap-born sink: the snapshot epoch is -1
    sink.merge_changelog(
        env_batch(
            spark,
            [("r", "a", 0, "x", 100), ("r", "b", 0, "y", 700), ("r", "c", 0, "z", 1200)],
        ),
        BOOTSTRAP_EPOCH,
    )
    out1 = sink.expire_conversations(spark, 500)
    assert not out1.get("skipped") and out1["delta_rows"] == 1
    assert snap_rows(spark, sink) == [("b", 0, "y"), ("c", 0, "z")]
    # a week later the horizon advances — must APPLY, not skip
    out2 = sink.expire_conversations(spark, 900)
    assert not out2.get("skipped") and out2["delta_rows"] == 1
    assert snap_rows(spark, sink) == [("c", 0, "z")]


def test_expired_key_resurrects_on_newer_write_and_reclaims(spark, tmp_path):
    sink = MergeParquetSink(str(tmp_path / "t"), n_buckets=8)
    sink.merge_changelog(env_batch(spark, [("c", "old", 0, "a", 10)]), 0)
    sink.expire_conversations(spark, 500, epoch_id=-1)
    assert snap_rows(spark, sink) == []
    # an out-of-order replay BELOW the horizon must NOT resurrect
    sink.merge_changelog(env_batch(spark, [("c", "old", 0, "a", 10)]), 1)
    assert snap_rows(spark, sink) == []
    # a genuine write at/after the horizon re-creates the key (LWW)
    sink.merge_changelog(env_batch(spark, [("c", "old", 0, "a2", 700)]), 2)
    assert snap_rows(spark, sink) == [("old", 0, "a2")]
    # physical reclaim: once upstream retention passed the horizon,
    # compact prunes the (now-superseded or stale) tombstone rows
    sink.expire_conversations(spark, 600, epoch_id=-3)  # no-op: active
    sink.compact(spark, prune_tombstones_below_seq=501)
    assert sink.read(spark).where("op = 'd' AND seq < 501").count() == 0
    assert snap_rows(spark, sink) == [("old", 0, "a2")]


def _log_of(root):
    with open(os.path.join(root, "_manifest.json")) as f:
        return json.load(f)["log"]


def test_crash_after_swap_keeps_the_epoch_record(spark, tmp_path):
    """A crash right after the manifest swap must not lose the epoch's
    commit record: the record is inside the swapped manifest, and the
    replay epoch-skips without writing a second one."""
    root = str(tmp_path / "tbl")
    sink = MergeParquetSink(root, n_buckets=4)
    batch = env_batch(spark, [("c", f"c{i}", 0, "x", 1) for i in range(8)])
    real_commit = sink._commit_manifest

    def swap_then_crash(manifest):
        real_commit(manifest)
        raise RuntimeError("crash after the manifest swap")

    sink._commit_manifest = swap_then_crash
    with pytest.raises(RuntimeError, match="after the manifest swap"):
        sink.merge_changelog(batch, epoch_id=1)
    sink._commit_manifest = real_commit

    (rec,) = _log_of(root)
    assert rec["epoch"] == 1 and rec["delta_rows"] == 8
    assert sink.merge_changelog(batch, epoch_id=1).get("skipped")
    assert _log_of(root) == [rec]


def test_epoch_trim_keeps_reserved_epochs(spark, tmp_path):
    """The epoch window trims stream epochs (ids >= 0) only: after 1000
    stream epochs, a bootstrap replay (reserved epoch -1) still skips
    instead of re-merging the whole snapshot image."""
    root = str(tmp_path / "tbl")
    sink = MergeParquetSink(root, n_buckets=4)
    snapshot = env_batch(spark, [("r", f"c{i}", 0, "snap", 1) for i in range(8)])
    assert not sink.merge_changelog(snapshot, -1).get("skipped")
    mpath = os.path.join(root, "_manifest.json")
    with open(mpath) as f:
        manifest = json.load(f)
    manifest["epochs"] = [-1, *range(1000)]
    with open(mpath, "w") as f:
        json.dump(manifest, f)

    sink.merge_changelog(env_batch(spark, [("u", "c0", 0, "tail", 2)]), 1000)
    with open(mpath) as f:
        epochs = json.load(f)["epochs"]
    assert epochs == [-1, *range(1, 1001)]
    assert sink.merge_changelog(snapshot, -1).get("skipped")


def test_replay_returns_the_logged_record(spark, tmp_path):
    """A replayed epoch returns its logged record, marked skipped; with
    no record in the manifest (written before records moved into it)
    the replay names every stored bucket, a superset of the epoch's."""
    root = str(tmp_path / "tbl")
    sink = MergeParquetSink(root, n_buckets=4)
    one = env_batch(spark, [("c", "c0", 0, "x", 1)])
    first = sink.merge_changelog(one, 3)
    again = sink.merge_changelog(one, 3)
    assert not first.get("skipped") and again["skipped"] is True
    assert again["buckets"] == first["buckets"]
    assert {k: v for k, v in again.items() if k != "skipped"} == first

    sink.merge_changelog(
        env_batch(spark, [("c", f"c{i}", 0, "y", 2) for i in range(1, 16)]), 4
    )
    mpath = os.path.join(root, "_manifest.json")
    with open(mpath) as f:
        manifest = json.load(f)
    del manifest["log"]
    with open(mpath, "w") as f:
        json.dump(manifest, f)
    stored = sorted(int(b) for b in manifest["buckets"])
    assert len(stored) > len(first["buckets"])
    replay = sink.merge_changelog(one, 3)
    assert replay == {"epoch": 3, "buckets": stored, "skipped": True}


def test_commit_refuses_rows_outside_touched_buckets(spark, tmp_path):
    """The touched list and the written rows come from two evaluations
    of the batch; a write that lands in a bucket outside the touched
    list fails before the swap instead of losing those rows, and vacuum
    reclaims the orphan version dir."""
    import time

    root = str(tmp_path / "tbl")
    sink = MergeParquetSink(root, n_buckets=8)
    sink.merge_changelog(env_batch(spark, [("c", "a", 0, "x", 1)]), 0)
    mpath = os.path.join(root, "_manifest.json")
    with open(mpath, "rb") as f:
        before = f.read()

    rows = sink.read(spark).withColumn("bucket", F.lit(5))
    manifest = sink._open(spark, 1)
    with pytest.raises(RuntimeError, match="outside the touched set"):
        sink._commit(manifest, rows, [1], {"epoch": 1}, time.time(), 1)
    with open(mpath, "rb") as f:
        assert f.read() == before
    assert verdirs(root) == ["v1-0", "v2-1"]
    assert sink.vacuum()["removed_dirs"] == ["v2-1"]
    assert snap_rows(spark, sink) == [("a", 0, "x")]
