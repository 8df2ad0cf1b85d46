"""Raw-JSON envelope front door (wire format → typed envelopes + DLQ).

The reference's actual ingest boundary is bytes → Kafka-Connect
JsonConverter → fastjson object (`UserBehaviorDebeziumDeserializer.java:
32-42`), with a per-record try/catch that SILENTLY swallows anything
malformed (`:72-74`): unparseable bytes, type-coercion failures
(fastjson's lenient getters throw on e.g. a non-numeric int field), and
NPEs from absent structure all vanish without a trace.

This module re-expresses that boundary Spark-first and production-grade:

- :func:`parse_envelope_lines` — one vectorized, JVM-side ``from_json``
  pass (PERMISSIVE + ``columnNameOfCorruptRecord``) over JSON-line rows,
  annotating each with a ``_quarantine_reason`` instead of dropping it.
- :func:`split_quarantine` — routes good rows (exact common-envelope
  schema, byte-identical semantics to the structured feed) apart from a
  dead-letter frame carrying the raw line + reason, so a production
  stream can count, inspect, and replay its rejects — the observable
  upgrade of the reference's silent swallow. ``strict=True`` restores
  the reference's drop-on-the-floor behavior exactly.
- :func:`render_envelope_json` — the inverse (typed envelopes → wire
  lines) used by tests/benches to prove lossless round-trip parity.

Quarantine reasons are deliberately LIMITED to states the structured
feed cannot even represent; anything representable flows through so the
downstream null/op semantics (D9 null-timestamp drops, unknown-role
drops — all pinned by oracle) stay single-sourced in operators/cdc.py:

- ``empty_input``   — null/blank line (JsonConverter would throw).
- ``unparseable``   — malformed JSON or a type-coercion failure
  (``_corrupt`` set; fastjson getters would throw → reference drop).
- ``bad_op``        — ``op`` absent or outside {c,u,r,d}: the envelope
  contract itself is broken (the structured feed's column is total).
- ``no_image``      — neither ``before`` nor ``after`` present: no row
  payload at all (every reference handler dereferences one of them).

Scale: the whole path is Column expressions inside whole-stage codegen —
no Python touches a row; JSON parse cost is one pass per line and the
quarantine split is a cached filter pair per micro-batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..streaming.pipeline import ENVELOPE_DDL, envelope_ddl

#: from_json schema = envelope + the PERMISSIVE corrupt-record capture
#: column (Spark populates it for malformed JSON AND for type-coercion
#: failures, leaving it NULL for merely-missing fields — pinned by
#: tests/test_json_front_door.py).
_CORRUPT = "_corrupt"
ENVELOPE_JSON_DDL = ENVELOPE_DDL + f", {_CORRUPT} string"

#: to_json/from_json both default to millisecond precision; the
#: transcript ``ts`` carries microseconds, so the wire format pins a
#: micros-preserving timestamp rendering (round-trip parity is tested).
WIRE_OPTIONS = {"timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"}

_PARSE_OPTIONS = {
    "mode": "PERMISSIVE",
    "columnNameOfCorruptRecord": _CORRUPT,
    **WIRE_OPTIONS,
}

#: ops the changelog contract admits (c=insert, u=update, r=snapshot
#: read, d=delete — SURVEY.md §1.1; the reference consumes c/u/r and
#: ignores d, which is a DERIVATION rule, not an ingest rule).
VALID_OPS = ("c", "u", "r", "d")

ENVELOPE_COLS = ("op", "before", "after", "source", "seq")


def parse_envelope_lines(
    raw: DataFrame,
    value_col: str = "value",
    extra_image_fields: dict[str, str] | None = None,
) -> DataFrame:
    """JSON-line rows → typed envelope columns + ``_quarantine_reason``.

    Input: any DataFrame with a string column ``value_col`` (the shape
    ``spark.read.text`` / ``readStream.text`` / a Kafka ``value`` cast
    produce). Output columns: ``_raw`` (the original line), the five
    common-envelope columns, and ``_quarantine_reason`` (NULL = good).

    One ``from_json`` per line; the reason ladder is evaluated in
    severity order so each reject carries its FIRST failure.

    Plan note: the parse is forced through an ``explode(array(...))``
    Generate barrier. Without it, Catalyst's per-field JSON schema
    pruning (OptimizeCsvJsonExprs) rewrites every downstream field
    reference into its OWN ``from_json(value, pruned_schema)`` — a win
    when a query touches 1–2 fields, but this front door consumes the
    whole envelope, so the optimized plan tokenized each line 6× (parse
    throughput at sf10 dropped ~3×). The Generate stops the project
    collapse, keeping exactly ONE full parse per line; its per-row cost
    is negligible and it introduces no shuffle (plan pinned by
    tests/test_plans.py::test_json_front_door_parses_once).
    """
    ddl = (
        ENVELOPE_JSON_DDL
        if not extra_image_fields
        # schema evolution: widen the image structs so an added
        # upstream column is CAPTURED instead of silently ignored
        # (pair with schema_drift_stats, which detects it first)
        else envelope_ddl(extra_image_fields) + f", {_CORRUPT} string"
    )
    e = F.from_json(F.col(value_col), ddl, _PARSE_OPTIONS)
    parsed = raw.select(
        F.col(value_col).alias("_raw"), e.alias("_e0")
    ).select(
        "_raw", F.explode(F.array("_e0")).alias("_e")
    ).select(
        "_raw",
        F.col("_e.op").alias("op"),
        F.col("_e.before").alias("before"),
        F.col("_e.after").alias("after"),
        F.col("_e.source").alias("source"),
        F.col("_e.seq").alias("seq"),
        F.when(
            F.col("_raw").isNull() | (F.trim(F.col("_raw")) == ""),
            F.lit("empty_input"),
        )
        .when(F.col(f"_e.{_CORRUPT}").isNotNull(), F.lit("unparseable"))
        .when(
            # NULL op must land here too: ~isin on NULL is NULL (no fire)
            F.col("_e.op").isNull() | ~F.col("_e.op").isin(*VALID_OPS),
            F.lit("bad_op"),
        )
        .when(
            F.col("_e.before").isNull() & F.col("_e.after").isNull(),
            F.lit("no_image"),
        )
        .alias("_quarantine_reason"),
    )
    return parsed


def split_quarantine(
    parsed: DataFrame, strict: bool = False
) -> tuple[DataFrame, DataFrame]:
    """(good envelopes, dead-letter rows) from a parsed frame.

    Good rows carry exactly the common-envelope schema (drop-in for the
    structured feed). The dead-letter frame keeps the raw line + reason
    for inspection/replay. ``strict=True`` is reference-parity mode: the
    rejects are dropped on the floor (`UserBehaviorDebeziumDeserializer
    .java:72-74`) and the returned quarantine frame is empty.
    """
    reason = F.col("_quarantine_reason")
    good = parsed.where(reason.isNull()).select(*ENVELOPE_COLS)
    bad = parsed.where(reason.isNotNull()).select(
        "_raw", reason.alias("reason")
    )
    if strict:
        bad = bad.limit(0)
    return good, bad


#: keys the fixed parse schema knows, per scope — anything else on the
#: wire is upstream schema drift that from_json would silently ignore
KNOWN_KEYS = {
    "envelope": set(ENVELOPE_COLS),
    "before": {"conv_id", "turn_idx", "role", "text", "tool", "ts"},
    "after": {"conv_id", "turn_idx", "role", "text", "tool", "ts"},
    "source": {"db", "table"},
}


def schema_drift_stats(
    raw: DataFrame,
    value_col: str = "value",
    extra_image_fields: dict[str, str] | None = None,
) -> DataFrame:
    """Unknown-key census over a wire feed: (scope, key, n) for every
    JSON key present on the wire but absent from the parse schema.

    ``from_json`` with a fixed schema IGNORES unknown keys, so upstream
    schema evolution (Debezium picking up an added table column, a new
    envelope field like ``transaction``) is silently dropped by the
    front door. This diagnostic makes drift visible so the operator
    knows when to evolve the schema — the loop closes by passing the
    detected image fields as ``extra_image_fields`` to
    :func:`parse_envelope_lines` and the sink (they stop counting as
    drift here once passed). Run it on a sample or a recent window, not
    the hot path (it re-tokenizes each line once per nested scope).
    Malformed lines yield NULL key arrays and drop out — they are the
    quarantine's business, not drift.

    All Column expressions (json_object_keys / get_json_object), one
    explode per scope, one hash aggregate — distributable as-is.
    """
    scopes = {
        "envelope": F.json_object_keys(F.col(value_col)),
        "before": F.json_object_keys(
            F.get_json_object(F.col(value_col), "$.before")
        ),
        "after": F.json_object_keys(
            F.get_json_object(F.col(value_col), "$.after")
        ),
        "source": F.json_object_keys(
            F.get_json_object(F.col(value_col), "$.source")
        ),
    }
    # ONE scan: per-scope key arrays → (scope, key) structs → one
    # flatten + explode (a 4-way union would re-read every line 4×).
    # The closure must stay single-arg: a 2-arg lambda is transform's
    # (element, index) form and the index would shadow the scope.
    def _tagger(scope: str):
        return lambda k: F.struct(F.lit(scope).alias("scope"), k.alias("key"))

    pairs = F.flatten(
        F.array(
            *[
                F.transform(
                    F.coalesce(keys, F.array().cast("array<string>")),
                    _tagger(scope),
                )
                for scope, keys in scopes.items()
            ]
        )
    )
    allkeys = raw.select(F.explode(pairs).alias("p")).select("p.*")
    known_keys = {
        scope: keys
        | (
            set(extra_image_fields or {})
            if scope in ("before", "after")
            else set()
        )
        for scope, keys in KNOWN_KEYS.items()
    }
    known = F.create_map(
        *[
            x
            for scope, keys in sorted(known_keys.items())
            for key in sorted(keys)
            for x in (F.lit(f"{scope}\x00{key}"), F.lit(1))
        ]
    )
    return (
        allkeys.where(
            F.element_at(
                known, F.concat_ws("\x00", F.col("scope"), F.col("key"))
            ).isNull()
        )
        .groupBy("scope", "key")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def render_envelope_json(envelopes: DataFrame) -> DataFrame:
    """Typed envelopes → wire-format JSON lines (``value`` string).

    ``ignoreNullFields`` stays ON (Debezium omits absent images), which
    is exactly why round-trip parity holds: a NULL ``before`` renders as
    an absent key and parses back to NULL.
    """
    return envelopes.select(
        F.to_json(
            F.struct(*[F.col(c) for c in ENVELOPE_COLS]), WIRE_OPTIONS
        ).alias("value")
    )
