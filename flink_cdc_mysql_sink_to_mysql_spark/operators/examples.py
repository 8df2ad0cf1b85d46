"""Training-example assembly over transcripts & documents.

The ops a large-scale LLM training-data pipeline runs downstream of
cleaning/dedup — assembling model-ready examples. All pure Column
logic (whole-stage codegen; no UDFs), each with an exact DuckDB oracle.

- :func:`sft_examples` — SFT (context, response) extraction: for every
  assistant turn, the concatenated window of the preceding k turns is
  the context, the turn text is the response. One partitioned window
  per conversation — scale-safe (state ∝ k turns per key).
- :func:`pack_sequences` — GPT-style concat-then-chunk sequence
  packing: documents are concatenated in deterministic order within a
  (lang, shard) stream and chunked into fixed token budgets; a doc's
  pack is the block its first token lands in. Window cumsum per shard;
  shard count scales with the cluster, so no global sort exists.
- :func:`stratified_sample` — deterministic per-stratum rate sampling
  (e.g. upsample rare languages) keyed on a portable md5 hash of
  doc_id, so every engine/run draws the identical sample.

Reference note: none of these exist in the reference (it has no
windows or sampling at all, SURVEY.md §2.5); they are north-rule /
training-pipeline extensions like dedup/similarity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import words, _sql_words

CTX_TURNS = 4  # SFT context window (turns)
PACK_BUDGET = 512  # tokens per packed block
PACK_SHARDS = 16  # packing streams per language (≫ executors at scale)


# -- portable doc_id hash (md5 hex → int, identical in DuckDB) -----------

def _id_hash(doc_id: Column) -> Column:
    return F.conv(
        F.substring(F.md5(doc_id.cast("string")), 1, 8), 16, 10
    ).cast("long")


def _id_hash_sql(doc_id: str) -> str:
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(CAST({doc_id} AS VARCHAR)), {i}, 1)) - 1)"
        f" * {16 ** (8 - i)}"
        for i in range(1, 9)
    )
    return f"({terms})"


# -- 1. SFT example extraction -------------------------------------------

def sft_examples(turns: DataFrame, ctx_turns: int = CTX_TURNS) -> DataFrame:
    """(context, response) pairs: one example per assistant turn with at
    least one context turn; context = the preceding ≤ctx_turns turns as
    'role: text' lines. Per-conversation window — partition-parallel,
    bounded frame, no global sort."""
    line = F.concat(F.col("role"), F.lit(": "), F.coalesce("text", F.lit("")))
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(-ctx_turns, -1)
    )
    ctx = F.array_join(F.collect_list(line).over(w), "\n")
    n_ctx = F.count(F.lit(1)).over(w)
    return (
        turns.select(
            "conv_id",
            "turn_idx",
            "role",
            "text",
            ctx.alias("context"),
            n_ctx.cast("int").alias("n_context_turns"),
        )
        .where(
            (F.col("role") == "assistant")
            & F.col("text").isNotNull()
            & (F.col("n_context_turns") > 0)
        )
        .select(
            "conv_id",
            "turn_idx",
            "context",
            F.col("text").alias("response"),
            "n_context_turns",
        )
    )


def sft_examples_sql(rel: str, ctx_turns: int = CTX_TURNS) -> str:
    return f"""
    SELECT conv_id, turn_idx, context, text AS response, n_context_turns
    FROM (
      SELECT conv_id, turn_idx, role, text,
             string_agg(role || ': ' || COALESCE(text, ''), chr(10))
               OVER w AS context,
             CAST(COUNT(*) OVER w AS INTEGER) AS n_context_turns
      FROM ({rel})
      WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx
                   ROWS BETWEEN {ctx_turns} PRECEDING AND 1 PRECEDING)
    )
    WHERE role = 'assistant' AND text IS NOT NULL AND n_context_turns > 0
    """


# -- 2. sequence packing (concat-then-chunk) ------------------------------

def pack_sequences(
    docs: DataFrame,
    budget: int = PACK_BUDGET,
    shards: int = PACK_SHARDS,
) -> DataFrame:
    """Assign each doc its packed-block id: docs are concatenated in
    (lang, shard, doc_id) order and chunked every ``budget`` tokens
    (whitespace tokens here; swap the counter for a BPE count column).
    A doc belongs to the block containing its first token; offset is
    its start within that block.

    Scale shape: ONE window cumsum per (lang, shard) partition — shard
    is a deterministic hash of doc_id, so parallelism = langs × shards
    and no stream ever needs a global sort. At 100 TB raise ``shards``
    (each shard is an independent packing stream, like one writer task
    of a distributed tokenizer)."""
    n_tok = F.size(words(F.col("text")))
    shard = F.pmod(_id_hash(F.col("doc_id")), F.lit(shards)).cast("int")
    base = docs.select(
        "doc_id", "lang", shard.alias("shard"), n_tok.alias("n_tokens")
    )
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return base.select(
        "doc_id",
        "lang",
        "shard",
        "n_tokens",
        F.floor(cum_before / budget).cast("long").alias("pack_id"),
        (cum_before % budget).cast("long").alias("pack_offset"),
    )


def pack_sequences_sql(
    rel: str, budget: int = PACK_BUDGET, shards: int = PACK_SHARDS
) -> str:
    return f"""
    SELECT doc_id, lang, shard, n_tokens,
           CAST(floor(cum_before / {budget}) AS BIGINT) AS pack_id,
           CAST(cum_before % {budget} AS BIGINT) AS pack_offset
    FROM (
      SELECT doc_id, lang, shard, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
               PARTITION BY lang, shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM (
        SELECT doc_id, lang,
               CAST({_id_hash_sql('doc_id')} % {shards} AS INTEGER) AS shard,
               CAST(len({_sql_words()}) AS INTEGER) AS n_tokens
        FROM ({rel})
      )
    )
    """


# -- 3. deterministic stratified sampling ---------------------------------

DEFAULT_RATES = {"en": 300}
DEFAULT_PERMILLE = 100


def stratified_sample(
    docs: DataFrame,
    rates: dict[str, int] | None = None,
    default_permille: int = DEFAULT_PERMILLE,
) -> DataFrame:
    """Keep each doc with a per-stratum (lang) rate in permille, decided
    by a portable hash of doc_id — deterministic across engines, runs,
    and partitionings (idempotent under replay, like everything in the
    exactly-once path). Narrow map + filter: scan-pruned, no shuffle."""
    rates = DEFAULT_RATES if rates is None else rates
    rate = F.lit(default_permille)
    for lang, pm in sorted(rates.items()):
        rate = F.when(F.col("lang") == lang, F.lit(pm)).otherwise(rate)
    bucket = F.pmod(_id_hash(F.col("doc_id")), F.lit(1000))
    return docs.select(
        "doc_id", "lang", bucket.cast("int").alias("sample_bucket")
    ).where(bucket < rate)


def stratified_sample_sql(
    rel: str,
    rates: dict[str, int] | None = None,
    default_permille: int = DEFAULT_PERMILLE,
) -> str:
    rates = DEFAULT_RATES if rates is None else rates
    arms = " ".join(
        f"WHEN lang = '{lang}' THEN {pm}" for lang, pm in sorted(rates.items())
    )
    return f"""
    SELECT doc_id, lang,
           CAST({_id_hash_sql('doc_id')} % 1000 AS INTEGER) AS sample_bucket
    FROM ({rel})
    WHERE {_id_hash_sql('doc_id')} % 1000
          < (CASE {arms} ELSE {default_permille} END)
    """


# -- 4. per-stratum fixed-size deterministic sample ------------------------

TOPK_PER_STRATUM = 50


def stratified_topk(docs: DataFrame, k: int = TOPK_PER_STRATUM) -> DataFrame:
    """Exactly-k docs per stratum (lang), chosen by portable-hash order
    (deterministic across engines/runs; tie-broken by doc_id). The
    fixed-size complement to :func:`stratified_sample`'s rate form —
    'give me 10k eval docs per language', replay-identical.

    Scale: the rn<=k filter plans as WindowGroupLimit — each map task
    keeps only its local top-k BEFORE the shuffle, so the exchange
    carries O(k × partitions), not the stratum; asserted in
    tests/test_plans.py."""
    h = _id_hash(F.col("doc_id"))
    w = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        docs.select("doc_id", "lang", F.row_number().over(w).alias("rank"))
        .where(F.col("rank") <= k)
    )


def stratified_topk_sql(rel: str, k: int = TOPK_PER_STRATUM) -> str:
    return f"""
    SELECT doc_id, lang, CAST(rank AS INTEGER) AS rank
    FROM (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY {_id_hash_sql('doc_id')} ASC,
                                         doc_id ASC) AS rank
      FROM ({rel})
    ) WHERE rank <= {k}
    """


# -- 5. deterministic global shuffle (training-order randomization) --------

SHUFFLE_SHARDS = 64
SHUFFLE_SEED = 17


def seeded_hash(doc_id: Column, seed: int) -> Column:
    """Portable seeded hash of any key column: md5 of 'seed:key', first
    8 hex digits as int — identical in DuckDB (same construction as
    _id_hash). Public: jobs reuse it for pack-level shuffle keys."""
    return F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.lit(str(seed)), doc_id.cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")


def seeded_hash_sql(doc_id: str, seed: int) -> str:
    md5 = f"md5('{seed}:' || CAST({doc_id} AS VARCHAR))"
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr({md5}, {i}, 1)) - 1)"
        f" * {16 ** (8 - i)}"
        for i in range(1, 9)
    )
    return f"({terms})"


def shuffle_shards(
    docs: DataFrame,
    n_shards: int = SHUFFLE_SHARDS,
    seed: int = SHUFFLE_SEED,
) -> DataFrame:
    """Deterministic training-order shuffle: every doc gets a shard and
    an order key from a seeded portable hash. Writing the result
    `repartition(shard).sortWithinPartitions(order_key)` realizes a
    reproducible global permutation with ONE shuffle whose partitions
    are uniform by construction (hash of a hash) — no global sort, no
    `rand()` (replay-stable under retries, unlike nondeterministic
    sampling at 1000-executor scale). Changing the seed re-permutes;
    same seed is bit-identical across engines/runs/partitionings."""
    h = seeded_hash(F.col("doc_id"), seed)
    return docs.select(
        "doc_id",
        F.pmod(h, F.lit(n_shards)).cast("int").alias("shard"),
        h.alias("order_key"),
    )


def shuffle_shards_sql(
    rel: str, n_shards: int = SHUFFLE_SHARDS, seed: int = SHUFFLE_SEED
) -> str:
    h = seeded_hash_sql("doc_id", seed)
    return f"""
    SELECT doc_id,
           CAST({h} % {n_shards} AS INTEGER) AS shard,
           CAST({h} AS BIGINT) AS order_key
    FROM {rel}
    """


# -- 6. token-budget mixture sampling (data-mixture construction) ----------

MIX_SHARES = {"en": 500, "es": 200, "fr": 200, "de": 100}  # permille of budget
MIX_BUDGET_TOKENS = 20_000  # n_chars proxy at test scale


def mixture_sample(
    docs: DataFrame,
    shares: dict[str, int] | None = None,
    budget: int = MIX_BUDGET_TOKENS,
) -> DataFrame:
    """Build a training mixture hitting per-language token-share targets:
    each language is down-sampled (never up-) to ≈ budget·share/1000
    tokens via the deterministic hash-bucket filter.

    Two-pass plan: (1) per-lang token totals — a 4-row aggregate; (2)
    broadcast the per-lang acceptance rate and filter. At 100 TB pass 1
    is a map-side-combined agg producing O(langs) rows and pass 2 is a
    narrow filter — nothing scales with the corpus but the scan.
    Integer arithmetic throughout (floor-div) — cross-engine exact."""
    shares = MIX_SHARES if shares is None else shares
    share_col = F.lit(0)
    for lang, pm in sorted(shares.items()):
        share_col = F.when(F.col("lang") == lang, F.lit(pm)).otherwise(share_col)

    # Languages outside the mixture spec are dropped entirely (inner
    # join below); rate = floor(budget·share/lang_tokens) permille,
    # capped at 1000 (down-sampling only — upsampling is a repeat-epoch
    # decision, not a filter).
    totals = (
        docs.where(F.col("lang").isin(*sorted(shares)))
        .groupBy("lang")
        .agg(F.sum("n_chars").alias("lang_tokens"))
        .select(
            "lang",
            F.least(
                F.lit(1000),
                F.floor(
                    F.lit(budget).cast("bigint")
                    * share_col.cast("bigint")
                    / F.col("lang_tokens")
                ),
            )
            .cast("int")
            .alias("rate_permille"),
        )
    )
    bucket = F.pmod(_id_hash(F.col("doc_id")), F.lit(1000))
    return (
        docs.join(F.broadcast(totals), "lang")
        .where(bucket < F.col("rate_permille"))
        .select("doc_id", "lang", "rate_permille")
    )


def mixture_sample_sql(
    rel: str,
    shares: dict[str, int] | None = None,
    budget: int = MIX_BUDGET_TOKENS,
) -> str:
    shares = MIX_SHARES if shares is None else shares
    langs = ", ".join(f"'{lg}'" for lg in sorted(shares))
    arms = " ".join(
        f"WHEN lang = '{lang}' THEN {pm}" for lang, pm in sorted(shares.items())
    )
    return f"""
    WITH totals AS (
      SELECT lang,
             CAST(LEAST(1000, floor(
               {budget}::BIGINT * (CASE {arms} ELSE 0 END)::BIGINT
               / sum(n_chars)
             )) AS INTEGER) AS rate_permille
      FROM {rel} WHERE lang IN ({langs}) GROUP BY lang
    )
    SELECT doc_id, lang, rate_permille
    FROM {rel} JOIN totals USING (lang)
    WHERE {_id_hash_sql('doc_id')} % 1000 < rate_permille
    """

