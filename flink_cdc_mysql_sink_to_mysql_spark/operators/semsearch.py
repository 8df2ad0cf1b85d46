"""Semantic search over the LIVE CDC state — the A+B bridge.

The north rule grafts a streaming CDC engine (axis A) onto an
LLM-transcript corpus with embedding workloads (axis B); this module
closes the loop: embed the corpus the changelog has materialized
RIGHT NOW (`cdc.apply_changelog` → LWW state) and serve top-k cosine
search over it with the same broadcast-query kernel as the ANN stack.
Against the reference (a sink-to-MySQL CDC pipe with no search
surface) this is pure extension — the "query the maintained table"
analog of its downstream consumers.

**The embedder is a deterministic stand-in, not a model** (the
sandbox ships no embedding model): dim-16 vector of
``ascii(substr(md5(text), i, 1))`` — engine-portable (md5/ascii exist
verbatim in Spark AND DuckDB, so the oracle gate checks real parity),
cheap (one md5 per turn, narrow projection), and obviously
non-semantic. A real encoder drops in as an Arrow-batched
``pandas_udf(array<float>)`` with nothing downstream changing — the
same gated-stub pattern as `operators/multimodal.py`'s decode.

Scale shape: embedding is a narrow per-row projection over the state
(no shuffle beyond apply_changelog's one agg); the query side is a
fixed ≤ Q_CAP set (deterministic filter → tiny global sort → limit —
bounded regardless of corpus size, the round-2 ANN lesson) joined by
broadcast; per-query top-k is one window pass (WindowGroupLimit),
O(n · Q_CAP) total with no candidate explosion.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import DOT_SQL, dot_fold, norm_fold

EMB_DIM = 16
SEARCH_TOPK = 5
#: queries: first-turn texts of conv_ids ending in '0', first Q_CAP in
#: conv_id order — deterministic, bounded, expressible in both engines
SEARCH_Q_CAP = 16
INDEX_CELLS = 64
SEARCH_NPROBE = 2


def text_embedding(col: Column, dim: int = EMB_DIM) -> Column:
    """Deterministic text → array<double> (see module doc). md5 hex is
    32 chars; dim ≤ 32 ascii codes of the prefix."""
    h = F.md5(F.coalesce(col, F.lit("")))
    return F.array(
        *[F.ascii(F.substring(h, i + 1, 1)).cast("double") for i in range(dim)]
    )


def _embedding_sql(col: str, dim: int = EMB_DIM) -> str:
    parts = ", ".join(
        f"CAST(ascii(substr(md5(coalesce({col}, '')), {i + 1}, 1)) AS DOUBLE)"
        for i in range(dim)
    )
    return f"[{parts}]"


def _rank_topk(scored: DataFrame, topk: int) -> DataFrame:
    """The single-sourced output contract of every search kernel here:
    per-query rank by (cos DESC, conv_id ASC, turn_idx ASC) — the
    tie-break the DuckDB twins mirror via :func:`_ranked_tail_sql` —
    cut at ``topk``, fixed column order."""
    w = Window.partitionBy("q_conv", "q_turn").orderBy(
        F.col("cos").desc(), F.col("conv_id").asc(), F.col("turn_idx").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= topk)
        .select(
            "q_conv",
            "q_turn",
            "conv_id",
            "turn_idx",
            "cos",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def _ranked_tail_sql(topk: int) -> str:
    """SQL twin of :func:`_rank_topk`, to append after a ``scored``
    CTE with columns (q_conv, q_turn, conv_id, turn_idx, cos)."""
    return f""",
    ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY q_conv, q_turn
               ORDER BY cos DESC, conv_id ASC, turn_idx ASC) AS rank
      FROM scored
    )
    SELECT q_conv, q_turn, conv_id, turn_idx, cos,
           CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= {topk}
    """


def embedding_rows(state: DataFrame) -> DataFrame:
    """LWW state → the embedding-index row form (conv_id, turn_idx,
    emb, nrm): a narrow per-row projection, shared by the batch search
    and the streaming-maintained index (:func:`embedding_index_stream`)
    so both populate identical rows."""
    return state.select(
        "conv_id",
        "turn_idx",
        text_embedding(F.col("text")).alias("emb"),
    ).withColumn("nrm", norm_fold(F.col("emb")))


#: sink schema for the maintained index view (incl. the sink's stored
#: bucket column, like SESSION_VIEW_DDL)
INDEX_VIEW_DDL = (
    "conv_id string, turn_idx int, emb array<double>, nrm double,"
    " bucket int"
)


def embedding_index_stream(
    spark,
    spool_dir: str,
    state_sink,
    index_sink,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = 1,
    codebook: DataFrame | None = None,
):
    """Streaming-maintained embedding index: per micro-batch, MERGE the
    changelog into the state table and re-embed ONLY the touched
    conversations into a grouped-replace index view — edits re-embed,
    deletes drop the vector, replays are epoch-skipped on both sinks
    (the IVM machinery of streaming/ivm.py, with embedding as the
    per-conv recompute). :func:`search_index` then serves top-k without
    re-embedding the corpus; after any drained stream the index equals
    ``embedding_rows(state)`` exactly (tests/test_semsearch.py).

    Construct the sink with ``GroupedReplaceParquetSink(root,
    schema_ddl=INDEX_VIEW_DDL)`` — or, with a FROZEN ``codebook``
    (:func:`index_codebook` / a trained equivalent, sampled ONCE at
    bootstrap), ``schema_ddl=INDEX_CELLS_VIEW_DDL``: each touched
    vector is then also cell-assigned against the constant broadcast
    codebook and :func:`search_index_pruned` serves nprobe-pruned
    top-k from the view.
    """
    from ..streaming.pipeline import materialize_stream

    recompute = (
        embedding_rows
        if codebook is None
        else (lambda live: assign_cells(embedding_rows(live), codebook))
    )
    materialize_stream(
        spark, spool_dir, state_sink, checkpoint_dir,
        max_files_per_trigger=max_files_per_trigger,
        view=(index_sink, recompute),
    )
    return index_sink


def search(
    state: DataFrame,
    index: DataFrame | None = None,
    codebook: DataFrame | None = None,
    topk: int = SEARCH_TOPK,
    q_cap: int = SEARCH_Q_CAP,
    nprobe: int = SEARCH_NPROBE,
) -> DataFrame:
    """THE search front door — routes to the cheapest kernel the caller
    has materialized, so the maintained-view serve path (measured 26×
    cheaper than one-shot at sf10, 2.2 s vs 57.7 s — BENCH §2i) is
    reachable without knowing the kernel zoo:

    - ``index`` carrying a ``cell`` column + ``codebook`` (the frozen
      bootstrap codebook the stream assigned against) → IVF-pruned
      serve (:func:`search_index_pruned`) — the scale path.
    - ``index`` without cells (or without its codebook) → full-scan
      serve over the pre-embedded rows (:func:`search_index`) — skips
      the corpus re-embed.
    - no ``index`` → one-shot embed + scan of the live state
      (:func:`search_live_state`), with a log line noting what it
      costs relative to maintaining a view
      (:func:`embedding_index_stream`).

    All three return the identical (q_conv, q_turn, conv_id, turn_idx,
    cos, rank) contract; flat-vs-one-shot equality is pinned in
    tests/test_semsearch.py."""
    import logging

    log = logging.getLogger(__name__)
    if index is not None:
        if "cell" in index.columns and codebook is not None:
            return search_index_pruned(index, codebook, topk, q_cap, nprobe)
        if "cell" in index.columns:
            log.info(
                "semsearch.search: cell-partitioned index supplied without "
                "its codebook — serving the full-scan kernel (pass the "
                "frozen bootstrap codebook to get the IVF-pruned serve)"
            )
        elif codebook is not None:
            log.info(
                "semsearch.search: codebook supplied but the index has no "
                "'cell' column (flat INDEX_VIEW_DDL build?) — serving the "
                "full-scan kernel; rebuild the index with codebook= on "
                "embedding_index_stream to get the IVF-pruned serve"
            )
        return search_index(
            index.select("conv_id", "turn_idx", "emb", "nrm"), topk, q_cap
        )
    log.info(
        "semsearch.search: no maintained index supplied — one-shot "
        "embed+scan of the full state (measured 26x the maintained-view "
        "serve at sf10; maintain one with embedding_index_stream and "
        "pass its read_view here)"
    )
    return search_live_state(state, topk, q_cap)


def search_live_state(
    state: DataFrame,
    topk: int = SEARCH_TOPK,
    q_cap: int = SEARCH_Q_CAP,
) -> DataFrame:
    """Top-k cosine neighbors for each query turn over the materialized
    corpus. ``state`` is the LWW state (conv_id, turn_idx, text, …).
    Returns (q_conv, q_turn, conv_id, turn_idx, cos, rank)."""
    return search_index(embedding_rows(state), topk, q_cap)


def search_index(
    emb: DataFrame,
    topk: int = SEARCH_TOPK,
    q_cap: int = SEARCH_Q_CAP,
) -> DataFrame:
    """Top-k over pre-embedded index rows (conv_id, turn_idx, emb, nrm)
    — e.g. the view :func:`embedding_index_stream` maintains — skipping
    the embed pass entirely."""
    q = F.broadcast(
        emb.where((F.col("turn_idx") == 0) & F.col("conv_id").endswith("0"))
        .orderBy("conv_id")
        .limit(q_cap)
        .select(
            F.col("conv_id").alias("q_conv"),
            F.col("turn_idx").alias("q_turn"),
            F.col("emb").alias("q_emb"),
            F.col("nrm").alias("q_nrm"),
        )
    )
    scored = q.join(
        emb,
        (F.col("q_conv") != F.col("conv_id"))
        | (F.col("q_turn") != F.col("turn_idx")),
    ).select(
        "q_conv",
        "q_turn",
        "conv_id",
        "turn_idx",
        F.try_divide(
            dot_fold(F.col("q_emb"), F.col("emb")),
            F.col("q_nrm") * F.col("nrm"),
        ).alias("cos"),
    )
    return _rank_topk(scored, topk)


#: sink schema for the cell-partitioned (IVF-pruned) index view
INDEX_CELLS_VIEW_DDL = (
    "conv_id string, turn_idx int, emb array<double>, nrm double,"
    " cell int, bucket int"
)


def index_codebook(emb: DataFrame, n_cells: int = INDEX_CELLS) -> DataFrame:
    """Deterministic corpus-sample codebook: the first ``n_cells``
    index rows in (conv_id, turn_idx) order, numbered 1..n. The same
    oracle-expressible sampling trick as similarity.ivf_centroids —
    production swaps in k-means (`similarity.ivf_centroids_kmeans`
    pattern) with nothing downstream changing. For the STREAMING
    index the codebook must be FROZEN (trained/sampled once at
    bootstrap and passed in): cells are only comparable when every
    vector was assigned against the same centroids."""
    from pyspark.sql import Window as W

    cb = emb.orderBy("conv_id", "turn_idx").limit(n_cells)
    return cb.select(
        F.row_number()
        .over(W.orderBy("conv_id", "turn_idx"))
        .cast("int")
        .alias("cid"),
        F.col("emb").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )


def assign_cells(emb: DataFrame, codebook: DataFrame) -> DataFrame:
    """Nearest-centroid (max cosine, ties → smallest cid) cell per
    index row — broadcast join against the constant codebook,
    O(n · n_cells). The argmax is a max_by AGGREGATION, not a
    row_number window: the broadcast join leaves each row's n_cells
    scored copies co-located, so the partial aggregate reduces
    n·n_cells rows to n BEFORE any exchange — the window form
    shuffled every scored copy WITH its embedding payload (the same
    fix as similarity.ivf_assign). Ordering struct reproduces
    (ccos DESC NULLS LAST, cid ASC) exactly: cosines ≥ -1, so NULL
    (zero-norm under try_divide) coalesces to -2.0 below every real
    score, and -cid breaks ties toward the smallest cid."""
    scored = emb.join(F.broadcast(codebook)).select(
        "conv_id",
        "turn_idx",
        "emb",
        "nrm",
        "cid",
        F.try_divide(
            dot_fold(F.col("emb"), F.col("c_emb")),
            F.col("nrm") * F.col("c_nrm"),
        ).alias("ccos"),
    )
    ord_s = F.struct(
        F.coalesce(F.col("ccos"), F.lit(-2.0)).alias("c"),
        (-F.col("cid")).alias("nc"),
    )
    return (
        scored.groupBy("conv_id", "turn_idx")
        .agg(F.max_by(F.struct("emb", "nrm", "cid"), ord_s).alias("w"))
        .select(
            "conv_id", "turn_idx", "w.emb", "w.nrm",
            F.col("w.cid").alias("cell"),
        )
    )


def search_index_pruned(
    emb_cells: DataFrame,
    codebook: DataFrame,
    topk: int = SEARCH_TOPK,
    q_cap: int = SEARCH_Q_CAP,
    nprobe: int = SEARCH_NPROBE,
) -> DataFrame:
    """IVF-pruned top-k over a cell-partitioned index: each query
    probes its ``nprobe`` nearest cells and scores ONLY those cells'
    vectors — O(q_cap · n/n_cells · nprobe) scoring instead of
    O(q_cap · n). Approximate by construction (a neighbor in an
    unprobed cell is unseen — the standard IVF recall trade, measured
    in tests); the DuckDB twin replicates the same pruned semantics so
    parity is exact."""
    from pyspark.sql import Window as W

    q_base = F.broadcast(
        emb_cells.where(
            (F.col("turn_idx") == 0) & F.col("conv_id").endswith("0")
        )
        .orderBy("conv_id")
        .limit(q_cap)
        .select(
            F.col("conv_id").alias("q_conv"),
            F.col("turn_idx").alias("q_turn"),
            F.col("emb").alias("q_emb"),
            F.col("nrm").alias("q_nrm"),
        )
    )
    qc = q_base.join(F.broadcast(codebook)).select(
        "q_conv",
        "q_turn",
        "q_emb",
        "q_nrm",
        "cid",
        F.try_divide(
            dot_fold(F.col("q_emb"), F.col("c_emb")),
            F.col("q_nrm") * F.col("c_nrm"),
        ).alias("ccos"),
    )
    wq = W.partitionBy("q_conv", "q_turn").orderBy(
        F.col("ccos").desc(), F.col("cid").asc()
    )
    probes = F.broadcast(
        qc.withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= nprobe)
        .select("q_conv", "q_turn", "q_emb", "q_nrm", F.col("cid").alias("cell"))
    )
    scored = probes.join(emb_cells, "cell").where(
        (F.col("q_conv") != F.col("conv_id"))
        | (F.col("q_turn") != F.col("turn_idx"))
    ).select(
        "q_conv",
        "q_turn",
        "conv_id",
        "turn_idx",
        F.try_divide(
            dot_fold(F.col("q_emb"), F.col("emb")),
            F.col("q_nrm") * F.col("nrm"),
        ).alias("cos"),
    )
    return _rank_topk(scored, topk)


def search_index_pruned_sql(
    state_rel: str,
    topk: int = SEARCH_TOPK,
    q_cap: int = SEARCH_Q_CAP,
    nprobe: int = SEARCH_NPROBE,
    n_cells: int = INDEX_CELLS,
) -> str:
    """DuckDB twin of embed → codebook-sample → assign → pruned
    search, all from the state relation."""
    e = _embedding_sql("text")
    ccos = (
        f"({DOT_SQL.format(a='v.emb', b='c.c_emb')})"
        f" / (v.nrm * c.c_nrm)"
    )
    qcos = (
        f"({DOT_SQL.format(a='q.emb', b='c.c_emb')})"
        f" / (q.nrm * c.c_nrm)"
    )
    dot = DOT_SQL.format(a="p.q_emb", b="v.emb")
    return f"""
    WITH st AS ({state_rel}),
    nemb AS (
      SELECT conv_id, turn_idx, emb,
             sqrt({DOT_SQL.format(a="emb", b="emb")}) AS nrm
      FROM (SELECT conv_id, turn_idx, {e} AS emb FROM st)
    ),
    cb AS (
      SELECT CAST(row_number() OVER (ORDER BY conv_id, turn_idx) AS INTEGER) AS cid,
             emb AS c_emb, nrm AS c_nrm
      FROM (SELECT * FROM nemb ORDER BY conv_id, turn_idx LIMIT {n_cells})
    ),
    cells AS (
      SELECT conv_id, turn_idx, emb, nrm, cid AS cell FROM (
        SELECT v.*, c.cid,
               row_number() OVER (PARTITION BY v.conv_id, v.turn_idx
                                  ORDER BY {ccos} DESC, c.cid ASC) AS rn
        FROM nemb v, cb c
      ) WHERE rn = 1
    ),
    q AS (
      SELECT conv_id AS q_conv, turn_idx AS q_turn, emb, nrm
      FROM cells
      WHERE turn_idx = 0 AND conv_id LIKE '%0'
      ORDER BY conv_id LIMIT {q_cap}
    ),
    probes AS (
      SELECT q_conv, q_turn, q_emb, q_nrm, cid AS cell FROM (
        SELECT q.q_conv, q.q_turn, q.emb AS q_emb, q.nrm AS q_nrm, c.cid,
               row_number() OVER (PARTITION BY q.q_conv, q.q_turn
                                  ORDER BY {qcos} DESC, c.cid ASC) AS rn
        FROM q, cb c
      ) WHERE rn <= {nprobe}
    ),
    scored AS (
      SELECT p.q_conv, p.q_turn, v.conv_id, v.turn_idx,
             ({dot}) / (p.q_nrm * v.nrm) AS cos
      FROM probes p JOIN cells v ON p.cell = v.cell
      WHERE p.q_conv != v.conv_id OR p.q_turn != v.turn_idx
    ){_ranked_tail_sql(topk)}"""


def search_live_state_sql(
    state_rel: str,
    topk: int = SEARCH_TOPK,
    q_cap: int = SEARCH_Q_CAP,
) -> str:
    """DuckDB twin: same embedder, same fold order, same tiebreak.
    ``state_rel`` is a SQL relation producing the LWW state
    (conv_id, turn_idx, text)."""
    e = _embedding_sql("text")
    dot = DOT_SQL.format(a="q.emb", b="c.emb")
    return f"""
    WITH st AS ({state_rel}),
    emb AS (
      SELECT conv_id, turn_idx, {e} AS emb FROM st
    ),
    nemb AS (
      SELECT conv_id, turn_idx, emb,
             sqrt({DOT_SQL.format(a="emb", b="emb")}) AS nrm
      FROM emb
    ),
    q AS (
      SELECT conv_id AS q_conv, turn_idx AS q_turn, emb, nrm
      FROM nemb
      WHERE turn_idx = 0 AND conv_id LIKE '%0'
      ORDER BY conv_id LIMIT {q_cap}
    ),
    scored AS (
      SELECT q.q_conv, q.q_turn, c.conv_id, c.turn_idx,
             ({dot}) / (q.nrm * c.nrm) AS cos
      FROM q JOIN nemb c
        ON q.q_conv != c.conv_id OR q.q_turn != c.turn_idx
    ){_ranked_tail_sql(topk)}"""
