"""Idempotent exactly-once MERGE upsert sink.

The reference's sink is an at-least-once batched JDBC INSERT
(UserBehaviorClickHouseSinkJob.java:67-95 — batch 1000, flush 200 ms,
5 retries, dedup delegated to the ClickHouse table engine). The north
rule upgrades this to an **exactly-once upsert**: replayable source +
deterministic derivation + idempotent MERGE keyed on the natural key
(conv_id, turn_idx).

This module is a storage shim with Iceberg MERGE semantics over plain
parquet (the sandbox has no Iceberg jars — SURVEY.md §7 "hard parts").
Layout:

    root/
      _manifest.json          # {"version": 3, "epochs": [..., 5],
                              #  "buckets": {"17": "v3-5/pb=17"},
                              #  "log": [..., {"epoch": 5, "version": 3,
                              #           "buckets": [17], ...}], ...}
      v3-5/pb=17/part-*.parquet   # one versioned dir per commit

- rows are hash-bucketed on conv_id (pmod(xxhash64(conv_id), n_buckets));
  a MERGE only rewrites buckets the batch touches — the same
  copy-on-write scoping Iceberg gets from partition pruning. The bucket
  id is STORED as a data column (and mirrored into the `pb=` partition
  dir), so reads never recompute it.
- the manifest swap is a single atomic os.replace: readers see either
  the old or the new snapshot, never a torn one. Each commit's record
  (epoch, buckets, rows, wall time) is in the manifest it swaps in, so
  a snapshot and its record land in one atomic write.
- MERGE itself is last-writer-wins on ord = seq*4 + op_rank: replaying
  any suffix of the changelog (foreachBatch re-runs after failure) is a
  provable no-op, which is what turns at-least-once delivery into an
  exactly-once table.

**Sizing n_buckets (write amplification).** A touched bucket is
rewritten IN FULL, so per-batch commit cost is
``touched × (file_overhead + table_bytes / n_buckets)``. A batch
touching K distinct conv_ids touches ≤ min(K, n_buckets) buckets:

- **trickle batches** (K ≪ table keys — the steady-state stream):
  rewrite bytes = K × table/n_buckets, so MORE buckets ⇒ cheaper
  commits, linearly. Measured on a 2M-row table, 428-row batch over 8
  convs: 3.5 s at n_buckets=32 → 1.8 s at 256; perfbench's
  ``tail_trickle`` workload measures this regime (``sink.merge_p50_s``,
  ``sink.rewrite_amp``). With n_buckets ≲ K every micro-batch rewrites
  the whole table — cost ∝ table size.
- **bulk replay** (every batch touches all buckets, e.g. backfill):
  rewrite bytes = table size regardless; extra buckets only add
  per-file overhead. Measured: the sf0.1 full-replay stream runs
  18.4 s at n_buckets=32 vs 29.1 s at 256 (98k-row table — buckets of
  a few KB are pure overhead).

Rule: n_buckets ≈ table_bytes / target_bucket_bytes, with
target_bucket_bytes ≈ 128–256 MB on a cluster (a few MB locally) —
i.e. size buckets so per-file fixed cost is amortized, and let the
trickle case profit from the smallest buckets that clears that bar.
The class default (256) is the cluster stance; small-SF jobs and tests
pass an explicit n_buckets (jobs/changelog_apply_job.py --n-buckets).

At cluster scale the same algorithm runs with n_buckets sized so each
bucket is a few hundred MB; the per-batch work is (read touched
buckets) + (hash agg) + (write touched buckets) — all distributed, no
driver-side row handling.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import tempfile
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.transcripts import _TURN_T

MANIFEST = "_manifest.json"
#: stream epoch ids (≥ 0) the manifest remembers for the epoch skip
EPOCH_WINDOW = 1000

# every commit writes one version directory: v{version}-{tag} where tag
# is the merge epoch id or "compact"; vacuum removes unreferenced names
# matching this, plus manifest temp files (tmp*.manifest) a crash left
# between mkstemp and the swap — never the manifest itself
_VERDIR_RE = re.compile(r"^v\d+-")


# Spark DDL synonym → simpleString() spelling, for canonicalizing type
# specs when no SparkSession is up yet (argparse time). With a session,
# _norm_ddl_type uses Spark's own parser, whose simpleString() agrees
# with this table by construction.
_DDL_ATOMIC_CANON = {
    "byte": "tinyint", "tinyint": "tinyint",
    "short": "smallint", "smallint": "smallint",
    "int": "int", "integer": "int",
    "long": "bigint", "bigint": "bigint",
    "float": "float", "real": "float",
    "double": "double",
    "string": "string",
    "boolean": "boolean",
    "binary": "binary",
    "date": "date",
    "timestamp": "timestamp",
    "timestamp_ntz": "timestamp_ntz",
    "timestamp_ltz": "timestamp",  # simpleString() of TimestampType
    "void": "void",
    "variant": "variant",
    "decimal": "decimal(10,0)", "dec": "decimal(10,0)",
    "numeric": "decimal(10,0)",
}
# parametric / nested spellings we can't canonicalize without Spark's
# parser — passed through lowered; the session-time path settles them.
# `interval ...` covers the day-time/year-month unit forms ("interval
# day to second" etc.) so CLI validation is never stricter than the
# session-time parser it fronts (review finding).
_DDL_COMPLEX_RE = re.compile(
    r"^(decimal|dec|numeric)\s*\(|^(array|map|struct)\s*<|^(char|varchar)\s*\("
    r"|^interval(\s|$)"
)


def _norm_ddl_type(name: str, typ: str) -> str:
    """Canonicalize an evolved-column DDL type ('long' / 'BIGINT' /
    'bigint' → 'bigint') so equivalent spellings never read as an
    immutable type CHANGE, and a typo fails eagerly at open time
    instead of as a parse error deep inside a MERGE (review finding).
    Uses Spark's parser when a session is active; a pure-Python synonym
    table otherwise (argparse time, pre-session)."""
    from pyspark.errors import PySparkRuntimeError
    from pyspark.sql.types import _parse_datatype_string

    try:
        return _parse_datatype_string(typ).simpleString()
    except PySparkRuntimeError:
        # no active session (e.g. CLI validation before spark-submit's
        # session exists): canonicalize atomics, pass nested through
        low = typ.strip().lower()
        if low in _DDL_ATOMIC_CANON:
            return _DDL_ATOMIC_CANON[low]
        if _DDL_COMPLEX_RE.match(low):
            return low
        raise ValueError(
            f"extra field {name!r}: {typ!r} is not a valid Spark DDL type"
        ) from None
    except Exception as exc:  # ParseException subclasses vary by version
        raise ValueError(
            f"extra field {name!r}: {typ!r} is not a valid Spark DDL type"
        ) from exc


def ord_expr():
    """Cross-batch LWW total order — THE single-sourced expression from
    operators/cdc.py (seq wins, then d > u > c > r at a seq tie); both
    sinks and the batch materialization must never drift apart."""
    from ..operators.cdc import lww_ord

    return lww_ord()


def envelope_rows(
    batch: DataFrame, extra_fields: dict[str, str] | None = None
) -> DataFrame:
    """Debezium-shaped envelope batch → flat sink rows (NOT key-unique)
    with the ord column. Shared by the parquet shim and the Iceberg
    sink so both reduce batches with identical semantics.

    ``extra_fields`` (name → Spark DDL type) projects evolved image
    columns out of the ``after`` struct; a batch whose envelope schema
    predates an extra (the struct lacks the field — e.g. the
    synthesized expiry tombstones, or a pre-evolution spool replay)
    NULL-fills it, which is exactly the Iceberg add-column read
    semantic."""
    after_names = set(batch.schema["after"].dataType.names)
    extras = [
        (
            F.col(f"after.{name}")
            if name in after_names
            else F.lit(None)
        )
        .cast(typ)
        .alias(name)
        for name, typ in (extra_fields or {}).items()
    ]
    return (
        batch.select(
            F.coalesce(F.col("after.conv_id"), F.col("before.conv_id")).alias(
                "conv_id"
            ),
            F.coalesce(F.col("after.turn_idx"), F.col("before.turn_idx"))
            .cast("int")
            .alias("turn_idx"),
            F.col("after.role").alias("role"),
            F.col("after.text").alias("text"),
            F.col("after.tool").alias("tool"),
            F.col("after.ts").alias("ts"),
            *extras,
            F.col("seq").cast("long").alias("seq"),
            F.col("op"),
        )
        .where(F.col("conv_id").isNotNull())
        .withColumn("ord", ord_expr())
    )


def lww_winners(rows: DataFrame) -> DataFrame:
    """One winner per (conv_id, turn_idx) by max ord — a single hash
    aggregation with map-side partial agg (no window sort). Delete
    winners are KEPT as op='d' tombstones: an out-of-order replay of an
    older insert can never resurrect a deleted key, because the
    tombstone's ord still outranks it."""
    payload = [c for c in rows.columns if c not in ("conv_id", "turn_idx")]
    return (
        rows.groupBy("conv_id", "turn_idx")
        .agg(F.max_by(F.struct(*payload), "ord").alias("w"))
        .select("conv_id", "turn_idx", "w.*")
    )


def lww_delta(batch: DataFrame) -> DataFrame:
    """Envelope micro-batch → key-unique LWW winners (incl. ord) — the
    MERGE source both sink implementations use."""
    return lww_winners(envelope_rows(batch))


@dataclass
class MergeParquetSink:
    """MERGE INTO-style upsert table keyed on (conv_id, turn_idx).

    **Schema evolution** (Iceberg add-column analog): ``extra_fields``
    (ordered name → Spark DDL type) appends evolved image columns to
    the sink schema. The TABLE owns its schema the same way it owns
    n_buckets: the manifest records the evolved set, reopening with
    fewer/no extras auto-adopts the stored ones (so maintenance jobs
    never silently drop a column), reopening with MORE is the widening
    moment (recorded at the next commit), and a type conflict refuses.
    Widening is schema-on-read: committed buckets are never rewritten —
    the explicit read schema NULL-fills the new column in old files —
    and only buckets touched after the evolution carry it physically."""

    root: str
    n_buckets: int = 256
    extra_fields: dict[str, str] | None = None

    def __post_init__(self) -> None:
        # normalize type specs up front: without this, a FRESH table
        # created with {'rating': 'INT'} commits the raw spelling into
        # the manifest and the very next _sync_extra_fields compares
        # 'int' != 'INT' and refuses as a type change (review finding)
        if self.extra_fields:
            self.extra_fields = {
                name: _norm_ddl_type(name, typ)
                for name, typ in self.extra_fields.items()
            }

    def evolved_fields(self) -> dict[str, str] | None:
        """The table-owned evolved column set: constructor extras merged
        with whatever the manifest recorded (adoption — never narrower
        than the table). Use this, not the raw constructor value, to
        widen UPSTREAM readers (envelope_stream / parse): a stream fed
        with a narrower schema than the table would NULL-fill evolved
        columns in its deltas and LWW those NULLs over stored values."""
        self._load_manifest()
        return dict(self.extra_fields) if self.extra_fields else None

    # -- manifest ----------------------------------------------------------
    def _manifest_path(self) -> str:
        return os.path.join(self.root, MANIFEST)

    def _load_manifest(self) -> dict:
        try:
            with open(self._manifest_path()) as f:
                manifest = json.load(f)
        except FileNotFoundError:
            return {"version": 0, "epochs": [], "buckets": {}}
        self._sync_extra_fields(manifest)
        return manifest

    def _sync_extra_fields(self, manifest: dict) -> None:
        """Reconcile the constructor's ``extra_fields`` with the
        table-owned set in the manifest: adopt stored columns the
        constructor omitted (a maintenance reopen must never narrow the
        schema), keep constructor-only columns as a pending widening,
        refuse a type conflict. Mutates ``self.extra_fields`` only —
        the manifest is updated at commit time (merge/compact)."""
        stored = dict(manifest.get("extra_fields") or [])
        mine = dict(self.extra_fields or {})
        for name, typ in stored.items():
            # compare PARSED types, not spellings: 'long' ≡ 'bigint',
            # 'int' ≡ 'integer' — equivalent spellings must not be
            # refused as an immutable type change (review finding)
            if name in mine and _norm_ddl_type(name, mine[name]) != (
                _norm_ddl_type(name, typ)
            ):
                raise ValueError(
                    f"extra field {name!r}: table has type {typ!r} but the "
                    f"sink was opened with {mine[name]!r}; evolved column "
                    "types are immutable (add a NEW column instead)"
                )
        # stored first (their physical order is already on disk), then
        # any new constructor columns in declaration order
        merged = {n: _norm_ddl_type(n, t) for n, t in stored.items()}
        for name, typ in mine.items():
            merged.setdefault(name, _norm_ddl_type(name, typ))
        self.extra_fields = merged or None

    def _commit_manifest(self, manifest: dict) -> None:
        os.makedirs(self.root, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".manifest")
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path())  # atomic snapshot swap

    # -- read --------------------------------------------------------------
    _BASE_SCHEMA = (
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp, seq long, op string, ord long,"
        " bucket int"
    )

    @property
    def _SCHEMA(self) -> str:
        """Read schema = base + evolved columns. Parquet columns match
        by NAME, so appending extras at the end reads every file
        generation correctly: pre-evolution files NULL-fill them."""
        extras = "".join(
            f", {name} {typ}" for name, typ in (self.extra_fields or {}).items()
        )
        return self._BASE_SCHEMA + extras

    def read(self, spark: SparkSession) -> DataFrame:
        """Current snapshot as a DataFrame (empty if never committed)."""
        manifest = self._load_manifest()
        return self._read_paths(spark, list(manifest["buckets"].values()))

    def _read_paths(self, spark: SparkSession, rels: list[str]) -> DataFrame:
        if not rels:
            return spark.createDataFrame([], self._SCHEMA)
        files = [os.path.join(self.root, r) for r in rels]
        return spark.read.schema(self._SCHEMA).parquet(*files)

    def _read_buckets(self, spark: SparkSession, buckets: list[int]) -> DataFrame | None:
        manifest = self._load_manifest()
        rels = [
            manifest["buckets"][str(b)]
            for b in buckets
            if str(b) in manifest["buckets"]
        ]
        if not rels:
            return None
        return self._read_paths(spark, rels)

    # -- copy-on-write commit ----------------------------------------------
    def _bucket(self):
        """The bucket of a row: pmod(xxhash64(conv_id), n_buckets)."""
        return F.pmod(F.xxhash64("conv_id"), F.lit(self.n_buckets)).cast("int")

    def _open(self, epoch_id: int | None) -> dict | None:
        """First half of every copy-on-write commit (MERGE, group
        replace, compact): load the manifest and pin the table-owned
        n_buckets and evolved schema. Returns None when ``epoch_id`` is
        already committed (exact epoch replay — foreachBatch restart)."""
        manifest = self._load_manifest()
        if epoch_id in manifest["epochs"]:
            return None
        # The TABLE owns n_buckets: the constructor value applies only at
        # creation; on resume the stored value wins. Otherwise a restart
        # with a different n_buckets hashes deltas mod the wrong base and
        # stale rows survive in never-reloaded buckets (silent duplicate
        # keys — the exactly-once invariant breaks without any error).
        stored = manifest.get("n_buckets")
        if stored is None and manifest["buckets"]:
            # committed buckets with no recorded base: adopting the
            # constructor value blind is the violation described above
            raise ValueError(
                f"manifest at {self._manifest_path()} holds buckets but no "
                "n_buckets; the table's bucket base is unknown, so it "
                "cannot be resumed"
            )
        if stored is not None:
            self.n_buckets = stored
        manifest["n_buckets"] = self.n_buckets
        if self.extra_fields:
            # commit the (possibly widened) table-owned schema
            manifest["extra_fields"] = list(self.extra_fields.items())
        return manifest

    def _commit(
        self,
        manifest: dict,
        rows: DataFrame,
        touched: list[int],
        record: dict,
        t0: float,
        epoch_id: int | None = None,
    ) -> dict:
        """Second half of every copy-on-write commit: write ``rows`` into
        one new version dir, point each touched bucket at its ``pb=`` dir
        there (or drop it when none was written: all its rows deleted or
        pruned), bump the version, add ``epoch_id`` (None for compact),
        log ``record`` and swap. The record is inside the manifest it
        swaps in: a crash before the swap leaves neither, after it both.

        The epoch window keeps every reserved id (< 0: bootstrap, expiry,
        DLQ replay) and the newest ``EPOCH_WINDOW`` stream ids. Replaying
        a stream epoch older than the window re-applies it. That is safe
        for the LWW state sink (re-merging rows it already holds is a
        no-op) and for a view recomputed from committed state (a
        re-replace rewrites the keys' current rows), but NOT for an
        additive table such as the cohort cube, whose re-applied epoch
        would count its cells twice. The cube is safe because Spark
        re-runs only the last uncommitted batch of its checkpoint, and
        that batch is always inside the window: the checkpoint and the
        table are a pair, moved, reset or deleted together.
        """
        version = manifest["version"] + 1
        verdir = f"v{version}-{'compact' if epoch_id is None else epoch_id}"
        path = os.path.join(self.root, verdir)
        # ONE distributed write for all touched buckets (commit cost ∝
        # touched × table/n_buckets, see module docstring); repartition
        # on the stored bucket column → one file per pb= dir
        rows.withColumn("pb", F.col("bucket")).repartition("pb").write.partitionBy(
            "pb"
        ).mode("overwrite").parquet(path)
        written = {n.split("=", 1)[1] for n in os.listdir(path) if n.startswith("pb=")}
        stray = written - set(map(str, touched))
        if stray:
            # the manifest would never point at these rows; refuse before
            # the swap (vacuum reclaims the unreferenced version dir)
            raise RuntimeError(
                f"commit of {verdir} wrote buckets {sorted(map(int, stray))} "
                f"outside the touched set {touched}"
            )
        for b in map(str, touched):
            if b in written:
                manifest["buckets"][b] = f"{verdir}/pb={b}"
            else:
                manifest["buckets"].pop(b, None)
        manifest["version"] = version
        if epoch_id is not None:
            epochs = sorted(set(manifest["epochs"]) | {epoch_id})
            stream = [e for e in epochs if e >= 0]
            manifest["epochs"] = [e for e in epochs if e < 0] + stream[-EPOCH_WINDOW:]
        record = {
            **record,
            "version": version,
            "buckets_rewritten": len(written),
            "wall_s": round(time.time() - t0, 3),
        }
        self._log(manifest, record)
        self._commit_manifest(manifest)
        return record

    @staticmethod
    def _log(manifest: dict, record: dict) -> None:
        """Append ``record`` to the manifest's ``log``. A record stays
        while its epoch is in the epoch window or it is among the last
        ``EPOCH_WINDOW`` versions (compact and vacuum carry no epoch)."""
        keep, floor = set(manifest["epochs"]), manifest["version"] - EPOCH_WINDOW
        manifest["log"] = [
            r
            for r in manifest.get("log", [])
            if r.get("epoch") in keep or r["version"] > floor
        ] + [record]

    # -- merge -------------------------------------------------------------
    def merge_changelog(self, batch: DataFrame, epoch_id: int) -> dict:
        """MERGE a micro-batch of envelope rows into the table.

        WHEN MATCHED AND newer → UPDATE (tombstone for op='d');
        WHEN NOT MATCHED → INSERT — expressed as a keyed LWW
        hash-aggregation over (current ∪ delta), restricted to the
        buckets the delta touches.

        Idempotent: re-running any epoch (or any overlap of epochs)
        converges to the same snapshot because winners are chosen by
        ord = (seq, op_rank), never by arrival time. Returns the epoch's
        record {epoch, buckets, delta_rows, version, buckets_rewritten,
        wall_s}, the same dict the commit stores in the manifest log. A
        replay of a committed epoch returns that logged record with
        ``skipped: True``; a committed epoch without a logged record
        raises.

        Nothing is cached: ``batch`` is evaluated twice, once by the
        touched-bucket collect and once by the write. A caller whose
        batch is costly to recompute persists it around this call.
        """
        spark = batch.sparkSession
        t0 = time.time()
        manifest = self._open(epoch_id)
        if manifest is None:
            return self._replayed(epoch_id)

        delta = envelope_rows(batch, self.extra_fields)
        delta = delta.withColumn("bucket", self._bucket())
        # one job yields both the delta's row count and its touched buckets
        counts = {
            r["bucket"]: r["count"] for r in delta.groupBy("bucket").count().collect()
        }
        touched = sorted(counts)

        # bucket is a stored column — touched buckets load without
        # recomputing the hash
        current = self._read_buckets(spark, touched)
        merged_src = delta if current is None else current.unionByName(delta)
        record = {
            "epoch": int(epoch_id),
            "buckets": touched,
            "delta_rows": int(sum(counts.values())),
        }
        return self._commit(
            manifest, lww_winners(merged_src), touched, record, t0, epoch_id
        )

    def _replayed(self, epoch_id: int) -> dict:
        """The record of an already-committed epoch, marked skipped."""
        manifest = self._load_manifest()
        for r in reversed(manifest.get("log", [])):
            if r.get("epoch") == epoch_id:
                return {**r, "skipped": True}
        raise ValueError(
            f"epoch {epoch_id} is committed in {self._manifest_path()} "
            "but its log holds no record of it"
        )

    # -- maintenance ---------------------------------------------------------
    def vacuum(self, dry_run: bool = False) -> dict:
        """Delete version directories the current manifest no longer
        references (Iceberg's expire_snapshots/remove_orphan_files analog
        — the copy-on-write MERGE leaves every superseded bucket rewrite
        on disk forever otherwise, unbounded growth on a long stream).

        Unreferenced covers both superseded commits AND torn commits
        (crash between the parquet write and the manifest swap — the
        manifest never pointed at them, cf. test_torn_commit_recovers).
        A ``tmp*.manifest`` left by a crash before the manifest swap is
        removed too; its bytes count in ``reclaimed_bytes``.

        Single-writer contract: call between micro-batches (foreachBatch
        is serial per query) or offline — never concurrently with an
        in-flight merge/compact, whose new version dir is unreferenced
        until its manifest swap lands. Readers holding a pre-vacuum
        DataFrame may lose files under them (same trade Iceberg's
        expire_snapshots makes); re-read after vacuuming.
        """
        manifest = self._load_manifest()
        live = {rel.split("/", 1)[0] for rel in manifest["buckets"].values()}
        removed, reclaimed = [], 0
        try:
            names = sorted(os.listdir(self.root))
        except FileNotFoundError:
            names = []
        for name in names:
            path = os.path.join(self.root, name)
            if name.startswith("tmp") and name.endswith(".manifest"):
                # an orphaned manifest temp: no swap is in flight
                # under the single-writer contract
                reclaimed += os.path.getsize(path)
                if not dry_run:
                    os.remove(path)
                continue
            if not _VERDIR_RE.match(name) or name in live:
                continue
            if not os.path.isdir(path):
                continue
            for dirpath, _dirs, files in os.walk(path):
                reclaimed += sum(
                    os.path.getsize(os.path.join(dirpath, f)) for f in files
                )
            removed.append(name)
            if not dry_run:
                shutil.rmtree(path)
        out = {
            "removed_dirs": removed,
            "reclaimed_bytes": int(reclaimed),
            "live_dirs": len(live),
            "dry_run": bool(dry_run),
        }
        if not dry_run and removed:
            # logged without a version bump: vacuum changes no snapshot
            self._log(manifest, {"version": manifest["version"], **out})
            self._commit_manifest(manifest)
        return out

    def compact(
        self,
        spark: SparkSession,
        prune_tombstones_below_seq: int | None = None,
        new_n_buckets: int | None = None,
    ) -> dict:
        """Rewrite the whole table into one fresh version directory
        (Iceberg's rewrite_data_files analog). A steady trickle stream
        scatters the live buckets across one version dir per epoch that
        last touched each; compaction folds them into a single dir and
        lets :meth:`vacuum` reclaim everything older.

        ``prune_tombstones_below_seq``: additionally drop op='d'
        tombstone ROWS with ``seq`` strictly below the given horizon.
        Tombstones exist to outrank out-of-order replays of older
        writes (lww_winners docstring); pruning one is safe ONLY when
        the source can no longer replay envelopes below that seq (e.g.
        binlog/spool retention already dropped them). The caller owns
        that guarantee — pass None (default) to keep exactly-once
        robustness unconditional.

        ``new_n_buckets``: re-bucket the table to a new base. n_buckets
        is table-owned and normally immutable (resume guard above), but
        a growing table eventually violates the sizing rule in the
        module docstring (bucket_bytes = table/n_buckets keeps rising
        ⇒ trickle commits keep rewriting more bytes). A full rewrite is
        the one safe moment to change the base: every row is re-hashed
        and the manifest swaps atomically to the new layout, so the
        exactly-once invariant (delta under base B always reloads the
        bucket holding any stale copy) holds again immediately.

        Same single-writer contract as :meth:`vacuum`. Epoch bookkeeping
        is untouched: replays of already-committed epochs stay no-ops.
        """
        t0 = time.time()
        manifest = self._open(None)
        if not manifest["buckets"]:
            return {"compacted": False, "reason": "empty table"}
        table = self._read_paths(spark, list(manifest["buckets"].values()))
        if prune_tombstones_below_seq is not None:
            table = table.where(
                (F.col("op") != "d")
                | (F.col("seq") >= F.lit(int(prune_tombstones_below_seq)))
            )
        if new_n_buckets is not None:
            self.n_buckets = int(new_n_buckets)
            manifest["n_buckets"] = self.n_buckets
            table = table.withColumn("bucket", self._bucket())
        record = {
            "compacted": True,
            "n_buckets": self.n_buckets,
            "pruned_below_seq": prune_tombstones_below_seq,
        }
        # every stored bucket and every bucket of the (new) base: those
        # that write no dir (all rows pruned tombstones) leave the manifest
        touched = {int(b) for b in manifest["buckets"]} | set(range(self.n_buckets))
        return self._commit(manifest, table, sorted(touched), record, t0)

    def expire_conversations(
        self, spark: SparkSession, older_than_seq: int, epoch_id: int | None = None
    ) -> dict:
        """Retention / right-to-erasure expiry: tombstone every LIVE
        turn of every conversation whose last change (max ``seq`` over
        ALL of its rows, deletes included — any change counts as
        activity) is strictly below ``older_than_seq``.

        Implemented as synthesized op='d' envelopes at
        ``seq = older_than_seq - 1`` pushed through the normal
        :meth:`merge_changelog`, so the expiry is an ordinary epoch:
        idempotent under replay (epoch-skip), totally ordered against
        racing CDC traffic by the same LWW ord (every expired LIVE row
        has seq ≤ horizon-1 and op-rank < delete-rank, so the tombstone
        wins; a legitimate write at seq ≥ horizon has a strictly higher
        ord and re-creates the key — CDC-consistent resurrection, not a
        bug; horizon-1, not horizon, so a write at EXACTLY the horizon
        seq is not swallowed), and physically reclaimed later by
        ``compact(prune_tombstones_below_seq=older_than_seq + 1)`` +
        :meth:`vacuum` once the upstream can no longer replay below the
        horizon.

        ``epoch_id`` defaults to ``-(older_than_seq + 2)``: a distinct
        maintenance epoch per horizon inside the reserved negative range
        (≤ -2; the bootstrap epoch is -1), so advancing the horizon
        always applies while a replay of the SAME horizon epoch-skips —
        which is semantically a no-op anyway, since a conversation's max
        seq only grows and can never fall back under an already-applied
        horizon. Callers overriding it own uniqueness vs the stream's
        epochs (use the negative range).

        Scale: one table scan (conv-grain partial-agg + semi join),
        persisted for the merge's two passes; everything after is ∝
        expired keys. No driver-side key list.
        """
        if epoch_id is None:
            epoch_id = -(int(older_than_seq) + 2)
        turn_t = _TURN_T
        cur = self.read(spark)
        expired = (
            cur.groupBy("conv_id")
            .agg(F.max("seq").alias("last_seq"))
            .where(F.col("last_seq") < F.lit(older_than_seq))
            .select("conv_id")
        )
        batch = (
            cur.where(F.col("op") != "d")
            .join(expired, "conv_id", "left_semi")
            .select(
                F.lit("d").alias("op"),
                F.struct(
                    F.col("conv_id"),
                    F.col("turn_idx").cast("int").alias("turn_idx"),
                    F.lit(None).cast("string").alias("role"),
                    F.lit(None).cast("string").alias("text"),
                    F.lit(None).cast("string").alias("tool"),
                    F.lit(None).cast("timestamp").alias("ts"),
                ).alias("before"),
                F.lit(None).cast(turn_t).alias("after"),
                F.lit(older_than_seq - 1).cast("long").alias("seq"),
            )
        )
        batch = batch.persist()
        try:
            result = self.merge_changelog(batch, epoch_id)
        finally:
            batch.unpersist()
        result["expired_below_seq"] = int(older_than_seq)
        return result

    def file_stats(self) -> dict:
        """Referenced file count/bytes per the current manifest. Each
        commit writes one file per touched bucket, so files == buckets
        after every commit and no fragmentation gate can fire; kept as
        the sink's on-disk size read for per-epoch state-size metrics."""
        manifest = self._load_manifest()
        n_files = total = 0
        for rel in manifest["buckets"].values():
            d = os.path.join(self.root, rel)
            if not os.path.isdir(d):
                continue
            for f in os.listdir(d):
                if f.endswith(".parquet"):
                    n_files += 1
                    total += os.path.getsize(os.path.join(d, f))
        return {
            "referenced_files": n_files,
            "referenced_bytes": int(total),
            "buckets": len(manifest["buckets"]),
            "version": manifest["version"],
        }

    # -- materialized view -------------------------------------------------
    def snapshot(self, spark: SparkSession) -> DataFrame:
        """Live rows only (tombstones filtered)."""
        return (
            self.read(spark)
            .where(F.col("op") != "d")
            .drop("op", "seq", "ord", "bucket")
        )
