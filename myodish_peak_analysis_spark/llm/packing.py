"""Sequence packing for LLM training: concatenate documents in a
deterministic order and split the token stream into fixed-capacity
training chunks ("concat-and-chunk", the standard GPT-style batch
prep). A document that straddles a chunk boundary is split; the output
is one row per (document × chunk) span, which is exactly the manifest a
downstream tokenizer/writer needs to emit packed sequences.

Spark-first design: token counts are a pure projection; the running
offset is ONE window cumsum per shard (``source``); the span explosion
is a ``sequence()`` + ``explode`` — no UDFs, no driver loops, and every
value is integer arithmetic so the DuckDB oracle is bit-identical.

Scale notes (100 TB): the cumsum window serializes per shard, so shard
cardinality bounds parallelism. Real pipelines pack within
``(source, shard)`` where ``shard = pmod(hash(doc_id), N)`` — pass
``shard_mod`` to enable that here; chunks never cross shard boundaries
(each shard is an independent token stream), so the result is still a
valid packing. State per task is O(1): a window cumsum streams
row-by-row; the explode multiplies rows only for straddling documents
(at most ``1 + n_tok/capacity`` spans per doc).

The reference library has no packing operator; this is part of the
LLM-training-data extension surface required by the build brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .text import _TOKENS

#: Default training-sequence capacity in whitespace tokens. Small enough
#: that the synthetic ~50-token documents straddle boundaries (the
#: interesting case), realistic in shape (power of two).
PACK_CAPACITY = 128


def pack_chunks(
    docs: DataFrame,
    capacity: int = PACK_CAPACITY,
    shard_col: str = "source",
    shard_mod: int | None = None,
) -> DataFrame:
    """Manifest of (shard, chunk_id, doc_id, begin_tok, end_tok) spans
    packing each shard's documents (ordered by ``doc_id``) into
    ``capacity``-token chunks.

    ``begin_tok``/``end_tok`` are doc-local half-open token offsets; a
    doc spanning k boundaries emits k+1 rows. ``shard_mod`` splits each
    source into ``pmod(doc_id * 2654435761, shard_mod)`` sub-shards for
    unbounded parallelism at scale (chunks don't cross sub-shards).
    """
    shard = F.col(shard_col)
    if shard_mod is not None:
        # xxhash64, not doc_id * large-constant: the multiply overflows
        # BIGINT (ANSI crash) once doc_id exceeds ~3.5e9 — i.e. exactly
        # at the corpus sizes shard_mod exists for.
        shard = F.concat_ws(
            "/", shard, F.pmod(F.xxhash64("doc_id"), F.lit(shard_mod))
        )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cap = F.lit(capacity).cast("long")
    return (
        docs.select(
            shard.alias("shard"),
            "doc_id",
            F.expr(f"size({_TOKENS})").cast("long").alias("n_tok"),
        )
        .withColumn("start_off", F.coalesce(F.sum("n_tok").over(w), F.lit(0)))
        .withColumn("end_off", F.col("start_off") + F.col("n_tok"))
        .select(
            "shard",
            "doc_id",
            "start_off",
            "end_off",
            F.explode(
                F.sequence(
                    F.expr("start_off DIV " + str(capacity)),
                    F.expr(f"(end_off - 1) DIV {capacity}"),
                )
            ).alias("chunk_id"),
        )
        .select(
            "shard",
            "chunk_id",
            "doc_id",
            (F.greatest(F.col("chunk_id") * cap, F.col("start_off")) - F.col("start_off")).alias(
                "begin_tok"
            ),
            (F.least((F.col("chunk_id") + 1) * cap, F.col("end_off")) - F.col("start_off")).alias(
                "end_tok"
            ),
        )
    )


def packing_stats(
    docs: DataFrame,
    capacity: int = PACK_CAPACITY,
    shard_col: str = "source",
    shard_mod: int | None = None,
) -> DataFrame:
    """Per-shard packing summary: chunk count, token count, and padding
    waste (tokens of dead space in the final partial chunk). Pure
    aggregate over :func:`pack_chunks` — one shuffle by shard. Takes the
    same sharding parameters so the stats describe the SAME packing."""
    spans = pack_chunks(
        docs, capacity=capacity, shard_col=shard_col, shard_mod=shard_mod
    )
    return spans.groupBy("shard").agg(
        (F.max("chunk_id") + 1).alias("n_chunks"),
        F.sum(F.col("end_tok") - F.col("begin_tok")).alias("n_tokens"),
        (
            (F.max("chunk_id") + 1) * F.lit(capacity).cast("long")
            - F.sum(F.col("end_tok") - F.col("begin_tok"))
        ).alias("waste_tokens"),
    )


def pack_chunks_sql(capacity: int = PACK_CAPACITY) -> str:
    """DuckDB oracle: identical integer arithmetic over the same window."""
    return f"""
    WITH offs AS (
        SELECT source AS shard, doc_id,
               len(string_split(text, ' '))::BIGINT AS n_tok,
               CAST(COALESCE(SUM(len(string_split(text, ' '))::BIGINT) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS start_off -- SUM(BIGINT) is HUGEINT in DuckDB
        FROM documents
    )
    SELECT shard, t.chunk_id, doc_id,
           GREATEST(t.chunk_id * {capacity}, start_off) - start_off AS begin_tok,
           LEAST((t.chunk_id + 1) * {capacity}, start_off + n_tok) - start_off AS end_tok
    FROM offs
    CROSS JOIN UNNEST(generate_series(
        CAST(start_off // {capacity} AS BIGINT),
        CAST((start_off + n_tok - 1) // {capacity} AS BIGINT))) AS t(chunk_id)
    """


def packing_stats_sql(capacity: int = PACK_CAPACITY) -> str:
    return f"""
    WITH spans AS ({pack_chunks_sql(capacity)})
    SELECT shard,
           CAST(MAX(chunk_id) + 1 AS BIGINT) AS n_chunks,
           CAST(SUM(end_tok - begin_tok) AS BIGINT) AS n_tokens,
           CAST((MAX(chunk_id) + 1) * {capacity} - SUM(end_tok - begin_tok) AS BIGINT)
               AS waste_tokens
    FROM spans GROUP BY shard
    """


#: Default retrieval-chunking geometry: 32-token windows advancing 24
#: tokens (25% overlap) — small enough that the synthetic ~50-token
#: documents produce multiple overlapping chunks.
CHUNK_SIZE = 32
CHUNK_STRIDE = 24


def chunk_overlap(
    docs: DataFrame, size: int = CHUNK_SIZE, stride: int = CHUNK_STRIDE
) -> DataFrame:
    """Sliding-window document chunking WITH overlap — the RAG/embedding
    prep counterpart of :func:`pack_chunks` (which concatenates and
    never overlaps). One chunk starts every ``stride`` tokens while a
    full window fits, plus one final shorter chunk covering the tail if
    tokens remain past the last full window — so every token lands in
    at least one chunk and consecutive chunks share ``size - stride``
    tokens of context.

    Output: (doc_id, chunk_idx, text_chunk, n_tokens) — ``chunk_idx``
    is the 0-based window index, ``n_tokens`` < ``size`` only on a
    final tail chunk.

    Scale: pure map-side ``sequence()`` + ``slice()`` + ``explode`` —
    no shuffle, no UDF; output rows ≈ corpus tokens / stride. The
    DuckDB mirror (:func:`chunk_overlap_sql`) is the same integer
    arithmetic.
    """
    if not (0 < stride <= size):
        raise ValueError(f"need 0 < stride ({stride}) <= size ({size})")
    toks = _TOKENS
    n = f"size({toks})"
    # last full-window start: floor((n - size) / stride) * stride; the
    # tail chunk starts one stride later when tokens remain past the
    # last full window (or the doc is shorter than one window).
    starts = (
        f"CASE WHEN {n} <= {size} THEN array(0) "
        f"WHEN (({n} - {size}) % {stride}) = 0 "
        f"THEN sequence(0, {n} - {size}, {stride}) "
        f"ELSE sequence(0, (({n} - {size}) div {stride} + 1) * {stride}, {stride}) "
        f"END"
    )
    return (
        docs.selectExpr("doc_id", f"{toks} AS _tk", f"{starts} AS _starts")
        .selectExpr("doc_id", "_tk", "posexplode(_starts) AS (chunk_idx, _s)")
        .selectExpr(
            "doc_id",
            "chunk_idx",
            f"array_join(slice(_tk, _s + 1, {size}), ' ') AS text_chunk",
            f"CAST(size(slice(_tk, _s + 1, {size})) AS BIGINT) AS n_tokens",
        )
    )


def chunk_overlap_sql(size: int = CHUNK_SIZE, stride: int = CHUNK_STRIDE) -> str:
    """DuckDB mirror: same starts, same slices, 1-based list_slice on
    both engines."""
    tk = "string_split(text, ' ')"
    return f"""
    WITH base AS (
        SELECT doc_id, {tk} AS tk, len({tk}) AS n FROM documents
    ),
    starts AS (
        SELECT doc_id, tk,
               unnest(CASE
                   WHEN n <= {size} THEN [0]
                   WHEN ((n - {size}) % {stride}) = 0
                       THEN range(0, n - {size} + 1, {stride})
                   ELSE range(0, ((n - {size}) // {stride} + 1) * {stride} + 1,
                              {stride})
               END) AS s
        FROM base
    ),
    idx AS (
        SELECT doc_id, tk, s,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s) - 1 AS chunk_idx
        FROM starts
    )
    SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
           array_to_string(list_slice(tk, s + 1, s + {size}), ' ') AS text_chunk,
           len(list_slice(tk, s + 1, s + {size}))::BIGINT AS n_tokens
    FROM idx
    """
