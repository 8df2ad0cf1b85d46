"""Seeded input generator for the CDC-path benchmark.

Builds Debezium-shaped changelogs with numpy/pandas and writes them as
the wire formats the engine consumes: JSON lines (the Kafka shape) and
typed parquet (the spool shape). It never calls the engine, so the
program under test receives only generated files.

Op mix, per base turn: 5% land in one hot conversation, the base op is
``r`` (snapshot read) for 5% and ``c`` otherwise, 10% get a later ``u``
(text edited, seq + 60 s) and 2% a later ``d`` (seq + 120 s).

The expected final state is computed here by the same last-writer-wins
rule the engine documents (max ord = seq*4 + rank, d > u > c > r), and
compared through an order-independent checksum over
(conv_id, turn_idx, text).
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

T0_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
ROLES = np.array(["user", "assistant", "tool", "system"], dtype=object)
OP_RANK = {"r": 0, "c": 1, "u": 2, "d": 3}
SOURCE = {"db": "transcripts", "table": "turns"}

_IMAGE = pa.struct(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)
ENVELOPE_SCHEMA = pa.schema(
    [
        ("op", pa.string()),
        ("before", _IMAGE),
        ("after", _IMAGE),
        ("source", pa.struct([("db", pa.string()), ("table", pa.string())])),
        ("seq", pa.int64()),
    ]
)

#: malformed-line kinds and the quarantine reason the front door gives them
MALFORMED_KINDS = ("unparseable", "bad_op", "no_image", "empty_input")


def base_turns(
    rng: np.random.Generator, n_turns: int, n_convs: int, id0: int = 0
) -> pd.DataFrame:
    """``n_turns`` distinct turns over ``n_convs`` conversations (+ the
    hot one); turn_idx is a global id, so keys never collide."""
    ids = np.arange(id0, id0 + n_turns, dtype=np.int64)
    conv = rng.integers(0, n_convs, n_turns)
    hot = rng.random(n_turns) < 0.05
    conv_id = np.where(hot, "hot", np.char.add("c", conv.astype(str)))
    role = ROLES[rng.integers(0, 4, n_turns)]
    words = rng.integers(0, 1 << 30, n_turns)
    text = np.char.add(
        np.char.add("turn text ", ids.astype(str)),
        np.char.add(" w", words.astype(str)),
    )
    tool = np.where(
        role == "tool", np.char.add("tool_", (ids % 7).astype(str)), None
    )
    ts_ms = T0_MS + ids * 100 + rng.integers(0, 100, n_turns)
    return pd.DataFrame(
        {
            "conv_id": conv_id.astype(object),
            "turn_idx": ids.astype(np.int32),
            "role": role,
            "text": text.astype(object),
            "tool": tool.astype(object),
            "ts_ms": ts_ms,
        }
    )


def changelog(rng: np.random.Generator, turns: pd.DataFrame) -> pd.DataFrame:
    """Envelopes for ``turns``: one r/c each, plus 10% u and 2% d.

    Columns: op, conv_id, turn_idx, role, text (after image; NaN for d),
    b_text (before image text; NaN for r/c), tool, ts_ms, seq."""
    n = len(turns)
    base = turns.assign(
        op=np.where(rng.random(n) < 0.05, "r", "c").astype(object),
        b_text=None,
        seq=turns["ts_ms"].to_numpy(),
    )
    up = turns[rng.random(n) < 0.10]
    upd = up.assign(
        op="u",
        b_text=up["text"],
        text=up["text"] + " [edited]",
        seq=up["ts_ms"].to_numpy() + 60_000,
    )
    de = turns[rng.random(n) < 0.02]
    dele = de.assign(
        op="d", b_text=de["text"], text=None, seq=de["ts_ms"].to_numpy() + 120_000
    )
    out = pd.concat([base, upd, dele], ignore_index=True)
    out = out.sort_values(["seq", "conv_id", "turn_idx"], kind="stable")
    return out.reset_index(drop=True)


def expected_state(env: pd.DataFrame) -> pd.DataFrame:
    """Live (conv_id, turn_idx, text) rows after last-writer-wins."""
    ordv = env["seq"].to_numpy() * 4 + env["op"].map(OP_RANK).to_numpy()
    win = (
        env.assign(_ord=ordv)
        .sort_values("_ord", kind="stable")
        .drop_duplicates(["conv_id", "turn_idx"], keep="last")
    )
    live = win[win["op"] != "d"]
    return live[["conv_id", "turn_idx", "text"]].reset_index(drop=True)


def checksum(df: pd.DataFrame) -> str:
    """Order-independent checksum of (conv_id, turn_idx, text) rows:
    the wrap-around sum of per-row 64-bit hashes, with the row count."""
    if len(df) == 0:
        return "0:0"
    rows = pd.DataFrame(
        {
            "conv_id": df["conv_id"].astype(object).to_numpy(),
            "turn_idx": df["turn_idx"].astype(np.int64).to_numpy(),
            "text": df["text"].astype(object).to_numpy(),
        }
    )
    h = pd.util.hash_pandas_object(rows, index=False).to_numpy(np.uint64)
    return f"{len(df)}:{int(h.sum(dtype=np.uint64)):016x}"


# -- wire formats --------------------------------------------------------


def _image(env: pd.DataFrame, text_col: str, present: np.ndarray) -> pa.StructArray:
    ts = pa.array(env["ts_ms"].to_numpy() * 1000, pa.int64()).cast(
        pa.timestamp("us", tz="UTC")
    )
    return pa.StructArray.from_arrays(
        [
            pa.array(env["conv_id"].to_numpy(), pa.string()),
            pa.array(env["turn_idx"].to_numpy(), pa.int32()),
            pa.array(env["role"].to_numpy(), pa.string()),
            pa.array(env[text_col].to_numpy(), pa.string()),
            pa.array(env["tool"].to_numpy(), pa.string()),
            ts,
        ],
        fields=list(_IMAGE),
        mask=pa.array(~present),
    )


def to_arrow(env: pd.DataFrame) -> pa.Table:
    ops = env["op"].to_numpy()
    n = len(env)
    source = pa.StructArray.from_arrays(
        [pa.array(["transcripts"] * n), pa.array(["turns"] * n)],
        fields=list(ENVELOPE_SCHEMA.field("source").type),
    )
    return pa.Table.from_arrays(
        [
            pa.array(ops, pa.string()),
            _image(env, "b_text", np.isin(ops, ["u", "d"])),
            _image(env, "text", ops != "d"),
            source,
            pa.array(env["seq"].to_numpy(), pa.int64()),
        ],
        schema=ENVELOPE_SCHEMA,
    )


def _ts_text(ms: int) -> str:
    sec, milli = divmod(int(ms), 1000)
    return (
        pd.Timestamp(sec, unit="s").strftime("%Y-%m-%dT%H:%M:%S")
        + f".{milli * 1000:06d}Z"
    )


def json_lines(env: pd.DataFrame) -> list[str]:
    """Envelopes as wire lines, shaped like the engine's renderer
    (absent images omitted, micros-precision ``Z`` timestamps)."""
    out = []
    for r in env.itertuples(index=False):
        img = {
            "conv_id": r.conv_id,
            "turn_idx": int(r.turn_idx),
            "role": r.role,
        }
        tail = {"ts": _ts_text(r.ts_ms)}
        if r.tool is not None:
            tail = {"tool": r.tool, **tail}
        rec = {"op": r.op}
        if r.op in ("u", "d"):
            rec["before"] = {**img, "text": r.b_text, **tail}
        if r.op != "d":
            rec["after"] = {**img, "text": r.text, **tail}
        rec["source"] = SOURCE
        rec["seq"] = int(r.seq)
        out.append(json.dumps(rec, separators=(",", ":")))
    return out


def malformed(kind: str, good_line: str, k: int) -> str:
    """A rejected wire line of ``kind`` derived from a good line."""
    if kind == "unparseable":
        return good_line[: len(good_line) // 2]
    if kind == "bad_op":
        return good_line.replace('{"op":"', '{"op":"x', 1)
    if kind == "no_image":
        rec = {"op": "c", "source": SOURCE, "seq": k}
        return json.dumps(rec, separators=(",", ":"))
    return " " * (1 + k % 3)  # empty_input


def inject_malformed(
    rng: np.random.Generator, lines: list[str], share: float = 0.005
) -> tuple[list[str], list[tuple[str, str]]]:
    """Insert ``share`` extra malformed lines at seeded positions (never
    last, so no file ends in a blank line). Returns the new lines and
    the expected dead-letter (raw, reason) pairs."""
    n_bad = max(len(MALFORMED_KINDS), int(round(len(lines) * share)))
    pos = set(rng.choice(len(lines) - 1, size=n_bad, replace=False).tolist())
    out, dlq = [], []
    for i, line in enumerate(lines):
        out.append(line)
        if i in pos:
            kind = MALFORMED_KINDS[len(dlq) % len(MALFORMED_KINDS)]
            bad = malformed(kind, line, len(dlq))
            out.append(bad)
            dlq.append((bad, kind))
    return out, dlq


# -- workload inputs -----------------------------------------------------


@dataclass(frozen=True)
class Sizes:
    """Input sizes, fixed per workload so every seed does equal work."""

    catchup_turns: int = 16_000  # one catch-up changelog (~18k envelopes)
    # two epochs of ~9k: per-epoch fixed costs (~2 s of query, listing
    # and job scheduling) weigh less than in three of ~6k, and a run's
    # drains fit its time limit
    catchup_epochs: int = 2
    warm_turns: int = 4_000  # the throwaway warm-up trickle sink's base
    trickle_base_turns: int = 60_000
    trickle_epoch_convs: int = 8
    trickle_turns_per_conv: int = 40
    trickle_warm_epochs: int = 8
    trickle_epochs: int = 60  # more than a timed run can commit


SIZES = Sizes()


def _split(env: pd.DataFrame, n: int) -> list[pd.DataFrame]:
    """``n`` consecutive seq-ordered chunks (arrival ≈ change order)."""
    bounds = np.linspace(0, len(env), n + 1).astype(int)
    return [env.iloc[a:b] for a, b in zip(bounds[:-1], bounds[1:])]


def _write_parquet(env: pd.DataFrame, path: str) -> None:
    tmp = os.path.join(os.path.dirname(path), "_" + os.path.basename(path))
    pq.write_table(to_arrow(env), tmp)
    os.replace(tmp, path)


def _save_log(parts: list[pd.DataFrame], out: str) -> None:
    """The flat changelog, tagged with the file index each envelope is
    in (-1 = bootstrap base), for the expected-state check."""
    log = pd.concat(
        [p.assign(file=i - 1) for i, p in enumerate(parts)], ignore_index=True
    )
    log.to_pickle(os.path.join(out, "log.pkl"))


def load_expected(out: str, n_files: int) -> tuple[int, str]:
    """(live rows, checksum) after the base and the first ``n_files``."""
    log = pd.read_pickle(os.path.join(out, "log.pkl"))
    exp = expected_state(log[log["file"] < n_files])
    return len(exp), checksum(exp)


def _catchup(rng, turns_n: int, n_files: int, out: str, fmt: str, id0: int) -> dict:
    """A catch-up changelog of ``turns_n`` turns (50 a conversation) in
    ``n_files`` seq-ordered files of JSON lines or typed parquet."""
    turns = base_turns(rng, turns_n, max(1, turns_n // 50), id0)
    env = changelog(rng, turns)
    spool = os.path.join(out, "spool")
    os.makedirs(spool)
    parts = _split(env, n_files)
    meta = {"envelopes": len(env), "files": [], "dlq": [], "lines": 0}
    for i, part in enumerate(parts):
        name = f"epoch-{i:04d}.{fmt}"
        if fmt == "json":
            lines, dlq = inject_malformed(rng, json_lines(part))
            with open(os.path.join(spool, "_" + name), "w") as f:
                f.write("\n".join(lines) + "\n")
            os.replace(os.path.join(spool, "_" + name), os.path.join(spool, name))
            meta["dlq"] += dlq
            meta["lines"] += len(lines)
        else:
            _write_parquet(part, os.path.join(spool, name))
        meta["files"].append(name)
    _save_log([env.iloc[:0], *parts], out)
    return meta


def _trickle_epochs(rng, turns: pd.DataFrame, sizes: Sizes, n: int, id0: int):
    """``n`` small epochs; each touches ``trickle_epoch_convs``
    conversations: ``trickle_turns_per_conv`` new turns for each, and
    edits/deletes of a quarter as many of its existing turns. Every
    epoch's seqs come after everything earlier."""
    by_conv = turns.groupby("conv_id").indices
    convs = np.array(sorted(c for c in by_conv if c != "hot"), dtype=object)
    m, k = sizes.trickle_epoch_convs, sizes.trickle_turns_per_conv
    picks = [rng.choice(len(convs), m, replace=False) for _ in range(n)]
    new = base_turns(rng, n * m * k, 1, id0).assign(
        conv_id=np.repeat(convs[np.concatenate(picks)], k),
        _epoch=np.repeat(np.arange(n), m * k),
    )
    old = []
    for e, pick in enumerate(picks):
        for c in convs[pick]:
            rows = by_conv[c]
            take = rng.choice(len(rows), min(len(rows), k // 4), replace=False)
            old.append(turns.iloc[rows[take]].assign(_epoch=e))
    env = changelog(rng, pd.concat([new, *old], ignore_index=True))
    e = env["_epoch"].to_numpy()
    seq0 = int(turns["ts_ms"].max()) + 3_600_000
    env["seq"] = seq0 + e * 10**9 + (
        env["seq"] - env.groupby("_epoch")["seq"].transform("min")
    )
    env = env.sort_values(["seq", "conv_id", "turn_idx"], kind="stable")
    return [g.drop(columns="_epoch") for _, g in env.groupby("_epoch", sort=True)]


def _trickle(rng, base_n: int, n_files: int, sizes: Sizes, out: str, id0: int) -> dict:
    """A bootstrap changelog of ``base_n`` turns, then ``n_files``
    small epoch files."""
    turns = base_turns(rng, base_n, max(1, base_n // 50), id0)
    base = changelog(rng, turns)
    os.makedirs(out)
    _write_parquet(base, os.path.join(out, "base.parquet"))
    epochs = _trickle_epochs(rng, turns, sizes, n_files, id0 + base_n)
    meta = {"base_envelopes": len(base), "files": [], "envelopes_per_file": []}
    for i, env in enumerate(epochs):
        name = f"epoch-{i:04d}.parquet"
        _write_parquet(env, os.path.join(out, name))
        meta["files"].append(name)
        meta["envelopes_per_file"].append(len(env))
    _save_log([base, *epochs], out)
    return meta


def generate(workload: str, seed: int, out: str, sizes: Sizes = SIZES) -> dict:
    """Write the inputs of ``workload`` at ``seed`` under ``out`` and
    return their metadata (file names, injected dead letters). ``main``
    feeds the timed section; the trickle's ``warm`` part feeds its
    throwaway warm-up sink (a catch-up warms up on ``main`` itself)."""
    rng = np.random.default_rng([seed, sum(map(ord, workload))])
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    s = sizes
    if workload in ("catchup_json", "ivm_catchup"):
        fmt = "json" if workload == "catchup_json" else "parquet"
        meta = {
            "main": _catchup(
                rng, s.catchup_turns, s.catchup_epochs, f"{out}/main", fmt, 0
            ),
        }
    elif workload == "tail_trickle":
        meta = {
            "warm": _trickle(
                rng, s.warm_turns, s.trickle_warm_epochs, s, f"{out}/warm", 10**9
            ),
            "main": _trickle(
                rng, s.trickle_base_turns, s.trickle_epochs, s, f"{out}/main", 0
            ),
        }
    else:
        raise ValueError(f"unknown workload {workload!r}")
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump(meta, f)
    return meta
