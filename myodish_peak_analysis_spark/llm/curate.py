"""End-to-end corpus curation: the composition a real training-data
pipeline runs nightly — exact dedup, quality scoring, and Gopher-style
rule filtering in ONE lazy plan, producing the surviving document set.

Composition shape (quality/Gopher stages reuse the individually-
oracle-checked operators from :mod:`.text`; the dedup stage is the
window formulation of :func:`.dedup.exact_dedup`'s keeper rule,
inlined so no keeper-table join is needed):

1. canonical pick — keep the lowest ``doc_id`` per ``md5(text)`` group
   (one hash-partition window; no join against a keeper table needed);
2. quality gate — integer-exact composite score ≥ ``min_quality``;
3. Gopher rules — word-count / word-length / symbol / repetition caps.

Scale notes (100 TB): one shuffle by ``md5(text)`` for the canonical
window, then doc_id-aligned joins of projections of the SAME scan —
Catalyst plans the score and rule branches as co-partitioned shuffles
on ``doc_id``. No branch carries ``text`` past its projection, so
shuffle payload is metadata-sized. The whole thing is a filter: output
≤ input, never wider.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .text import with_gopher_quality, with_quality_score

#: Default quality-score floor for the curated set. The score is exact
#: (integer 1e-7 units / 1e7), so the threshold compare is portable.
MIN_QUALITY = 0.55


def curated_corpus(docs: DataFrame, min_quality: float = MIN_QUALITY) -> DataFrame:
    """Surviving documents after dedup + quality + Gopher filtering,
    with the scores that justified each keep."""
    w = Window.partitionBy("text_hash")
    canonical = (
        docs.withColumn("text_hash", F.md5("text"))
        .withColumn("min_doc", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("min_doc"))
        .select("doc_id", "lang", "source", "n_chars")
    )
    quality = with_quality_score(docs)
    gopher = with_gopher_quality(docs).select(
        "doc_id", F.col("keep").alias("gopher_keep")
    )
    return (
        canonical.join(quality, "doc_id")
        .join(gopher, "doc_id")
        .filter((F.col("quality_score") >= F.lit(min_quality)) & F.col("gopher_keep"))
        .select("doc_id", "lang", "source", "n_chars", "quality_score")
    )


def curated_corpus_sql(min_quality: float = MIN_QUALITY) -> str:
    """DuckDB oracle: the same three gates as one SQL statement, built
    on the same integer-exact score formulation."""
    from .oracle import ORACLES

    return f"""
    WITH canonical AS (
        SELECT doc_id, lang, source, n_chars
        FROM (
            SELECT doc_id, lang, source, n_chars,
                   MIN(doc_id) OVER (PARTITION BY md5(text)) AS min_doc
            FROM documents
        ) t WHERE doc_id = min_doc
    ),
    quality AS ({ORACLES["quality_score"]}),
    gopher AS ({ORACLES["gopher_quality"]})
    SELECT c.doc_id, c.lang, c.source, c.n_chars, q.quality_score
    FROM canonical c
    JOIN quality q USING (doc_id)
    JOIN gopher g USING (doc_id)
    WHERE q.quality_score >= {min_quality} AND g.keep
    """


def training_corpus_manifest(
    docs: DataFrame,
    keep_permille: int = 700,
    test_permille: int = 100,
    val_permille: int = 100,
    capacity: int = 128,
) -> DataFrame:
    """THE END-TO-END PIPELINE as one composed Catalyst plan — what a
    nightly training-data build actually materializes (the dedup
    stage pins its multiply-consumed candidate caches with bounded
    eager counts — the minhash_pairs race note — so calling this
    triggers those jobs; the returned frame itself stays lazy):

    1. near-dup canonicalization (:func:`.dedup.canonical_corpus`:
       banded MinHash-LSH → verified edges → connected components →
       longest-member representative per family);
    2. per-source quality pruning (keep the top ``keep_permille``/1000
       canonical docs by the integer-exact quality score);
    3. leakage-safe TRAIN selection (the :func:`.sampling.
       leakage_safe_split` hash on the family's cluster_id — held-out
       families never contribute a training chunk);
    4. sequence packing (:func:`.packing.pack_chunks`: concat-and-
       chunk span manifest at ``capacity`` tokens per chunk).

    Output: (shard, chunk_id, doc_id, begin_tok, end_tok) — the span
    manifest a tokenizer/writer consumes to emit packed training
    sequences. Every stage reuses an individually-oracle-checked
    operator, and the composition itself is hash-checked end-to-end
    against the chained DuckDB mirror.

    Scale: the dedup machinery dominates (measured decades in
    docs/PLANS.md); pruning adds one per-source rank window over the
    canonical survivors, the split is a map-side hash, and packing is
    one cumsum window per source shard (pass ``shard_mod`` through
    :func:`.packing.pack_chunks` directly at production shard counts).
    """
    from .dedup import canonical_corpus

    canon = canonical_corpus(docs).select("doc_id", "cluster_id", "source")
    return _manifest_tail(
        docs,
        canon,
        with_quality_score(docs),
        keep_permille,
        test_permille,
        val_permille,
        capacity,
    )


def _manifest_tail(
    docs: DataFrame,
    canon: DataFrame,
    quality: DataFrame,
    keep_permille: int,
    test_permille: int,
    val_permille: int,
    capacity: int,
) -> DataFrame:
    """Stages 2-4 of the manifest (per-source prune → leakage-safe
    split → packing), shared verbatim by the full rebuild and the
    incremental path so the two can never drift. ``canon`` is
    (doc_id, cluster_id, source) representatives; ``quality`` is
    (doc_id, quality_score)."""
    from .packing import pack_chunks
    from .sampling import HASH_MULTIPLIER

    w = Window.partitionBy("source").orderBy(
        F.col("quality_score").desc(), F.col("doc_id").asc()
    )
    ranked = (
        canon.join(quality, "doc_id")
        .withColumn("src_rank", F.row_number().over(w))
        .withColumn(
            "src_n", F.count(F.lit(1)).over(Window.partitionBy("source"))
        )
    )
    kept = ranked.filter(
        F.col("src_rank")
        <= F.ceil(F.col("src_n") * F.lit(keep_permille) / F.lit(1000.0))
    )
    bucket = (
        F.col("cluster_id") % F.lit(1000) * F.lit(HASH_MULTIPLIER)
    ) % F.lit(1000)
    train = kept.filter(bucket >= test_permille + val_permille).select("doc_id")
    train_docs = docs.join(train, "doc_id")
    return pack_chunks(train_docs, capacity=capacity)


def training_corpus_manifest_sql(
    canonical_corpus_sql: str,
    quality_score_sql: str,
    hash_multiplier: int,
    keep_permille: int = 700,
    test_permille: int = 100,
    val_permille: int = 100,
    capacity: int = 128,
) -> str:
    """DuckDB mirror: the canonical-corpus and quality-score oracles as
    CTEs, the same rank/hash arithmetic, and pack_chunks' span
    formula over the surviving train docs."""
    cut = test_permille + val_permille
    return f"""
    WITH canon AS ({canonical_corpus_sql}),
    q AS ({quality_score_sql}),
    ranked AS (
        SELECT canon.doc_id, canon.cluster_id, canon.source,
               q.quality_score,
               ROW_NUMBER() OVER (PARTITION BY canon.source
                                  ORDER BY q.quality_score DESC,
                                           canon.doc_id ASC) AS src_rank,
               COUNT(*) OVER (PARTITION BY canon.source) AS src_n
        FROM canon JOIN q USING (doc_id)
    ),
    kept AS (
        SELECT * FROM ranked
        WHERE src_rank <= CEIL(src_n * {keep_permille} / 1000.0)
    ),
    train AS (
        SELECT doc_id FROM kept
        WHERE (cluster_id % 1000 * {hash_multiplier}) % 1000 >= {cut}
    ),
    td AS (
        SELECT d.source AS shard, d.doc_id,
               len(string_split(d.text, ' '))::BIGINT AS n_tok
        FROM documents d JOIN train USING (doc_id)
    ),
    offs AS (
        SELECT shard, doc_id, n_tok,
               CAST(COALESCE(SUM(n_tok) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS start_off
        FROM td
    )
    SELECT shard, t.chunk_id, doc_id,
           GREATEST(t.chunk_id * {capacity}, start_off) - start_off
               AS begin_tok,
           LEAST((t.chunk_id + 1) * {capacity}, start_off + n_tok)
               - start_off AS end_tok
    FROM offs
    CROSS JOIN UNNEST(generate_series(
        CAST(start_off // {capacity} AS BIGINT),
        CAST((start_off + n_tok - 1) // {capacity} AS BIGINT))) AS t(chunk_id)
    """


def manifest_prefit_state(docs: DataFrame) -> dict:
    """The per-document artifacts a nightly manifest build should
    KEEP between snapshots — everything whose cost is proportional to
    corpus size rather than diff size (round 13, VERDICT r12 ask #3):

    - ``digests``: (doc_id, text_md5) — decides tomorrow's diff
      without rescanning yesterday's text;
    - ``bands``: (doc_id, band, band_key) MinHash-LSH band keys (the
      :func:`.dedup.corpus_band_index` asset, per-doc deterministic);
    - ``quality``: (doc_id, quality_score) — per-doc deterministic;
    - ``edges``: (doc_id_a, doc_id_b, jaccard) verified near-dup pairs
      (:func:`.dedup.neardup_verified`) — an edge between two docs
      whose text didn't change cannot change.

    Each frame is persisted and materialized (at 100 TB: bucketed
    tables — digests/quality by doc_id, bands by (band, band_key), the
    shuffle-free layout every nightly probe then reuses)."""
    from pyspark import StorageLevel

    from .dedup import (
        minhash_band_keys,
        minhash_signatures,
        neardup_verified,
    )

    state = {
        "digests": docs.select(
            "doc_id", F.md5(F.encode("text", "UTF-8")).alias("text_md5")
        ),
        "bands": minhash_band_keys(minhash_signatures(docs)),
        "quality": with_quality_score(docs),
        "edges": neardup_verified(docs),
    }
    for df in state.values():
        df.persist(StorageLevel.MEMORY_AND_DISK).count()
    return state


def release_manifest_state(state: dict) -> None:
    """Unpersist every frame of a :func:`manifest_prefit_state`."""
    for df in state.values():
        df.unpersist()


def incremental_corpus_manifest(
    new_docs: DataFrame,
    state: dict,
    keep_permille: int = 700,
    test_permille: int = 100,
    val_permille: int = 100,
    capacity: int = 128,
) -> DataFrame:
    """:func:`training_corpus_manifest` recomputed on a NEW snapshot
    while paying per-document cost only for the docs that CHANGED —
    the actual 100 TB operating mode: at crawl cadence the diff is a
    small fraction of the corpus, and the expensive per-doc stages
    (shingling + MinHash signatures, quality scoring, candidate
    verification) should cost O(|diff|), not O(|corpus|).

    OUTPUT EQUALITY is the contract: identical rows to
    ``training_corpus_manifest(new_docs)`` (the registered
    ``incremental_manifest`` query pins it against the full-rebuild
    DuckDB oracle on the diffed snapshot; tests pin it Spark-vs-Spark
    too). That holds because every carried artifact is a deterministic
    function of a doc's text alone (digest, band keys, quality) or of
    an UNCHANGED pair's texts (verified edges), while the genuinely
    global stages — connected components over the edge set, the
    canonical-representative window, per-source rank, split, packing —
    are recomputed every run but are metadata-sized (they never touch
    text except the final packing scan of the surviving train docs).

    Stage shape:

    1. diff via digest join (16-byte hashes, never text);
    2. fresh band keys + quality for added/modified docs only;
    3. candidate pairs = fresh keys ⋈ (carried ∪ fresh) keys — the
       :func:`.dedup.incremental_neardup` probe shape, new×all only;
    4. exact-Jaccard verify on those candidates only (token arrays
       fetched by id for just the candidate partners);
    5. edges = carried edges with BOTH endpoints unchanged ∪ fresh
       verified edges; components via the large-star/small-star
       contraction (:func:`.dedup.star_components` — output-identical
       to the label-prop route, O(log^2 n) rounds);
    6. the shared :func:`_manifest_tail`.
    """
    from pyspark import StorageLevel

    from .dedup import (
        _jaccard_verified,
        minhash_band_keys,
        minhash_signatures,
        star_components,
    )
    from .params import NEARDUP_MIN_JACCARD

    new_dig = new_docs.select(
        "doc_id", F.md5(F.encode("text", "UTF-8")).alias("_nh")
    )
    # persisted BY DESIGN (package cache contract, session.release_
    # caches): `unchanged` feeds FIVE downstream branches (changed,
    # carried bands, both carried-edge endpoints, carried quality) and
    # `fresh_bands` BOTH sides of the candidate join — unpersisted,
    # each consumer re-runs the digest diff (a full-corpus md5 scan)
    # resp. the shingle+signature pipeline over the diff, exactly the
    # double-subplan cost minhash_pairs' persist already removes from
    # the rebuild path. Measured at 500k docs/10% diff: 49.7 s -> the
    # docs/PLANS.md round-13 row; without these the incremental path
    # LOSES to the rebuild above ~5% diff. Both frames are metadata-
    # sized (doc_id keys; 4 band rows per changed doc).
    unchanged = (
        state["digests"]
        .join(new_dig, "doc_id")
        .filter(F.col("text_md5").eqNullSafe(F.col("_nh")))
        .select("doc_id")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    changed = new_docs.join(unchanged, "doc_id", "left_anti")

    fresh_bands = minhash_band_keys(minhash_signatures(changed)).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # ONE eager count pins BOTH caches (optimization round 14, fewer
    # driver actions): inside this job `unchanged` has a single
    # consumer (the anti-join above — no sibling-stage race, so the
    # persist fills exactly once), and every later consumer of either
    # frame reads the warm cache. The former separate unchanged.count()
    # was a redundant ~0.3 s action per nightly run.
    fresh_bands.count()  # eager: both candidate-join sides
    carried_bands = state["bands"].join(unchanged, "doc_id")
    all_bands = carried_bands.unionByName(fresh_bands)
    cand = (
        fresh_bands.select(
            F.col("doc_id").alias("_fid"), "band", "band_key"
        )
        .join(
            all_bands.select(
                F.col("doc_id").alias("_oid"), "band", "band_key"
            ),
            ["band", "band_key"],
        )
        .filter(F.col("_fid") != F.col("_oid"))
        .select(
            F.least("_fid", "_oid").alias("doc_id_a"),
            F.greatest("_fid", "_oid").alias("doc_id_b"),
        )
        .distinct()
    )
    fresh_edges = _jaccard_verified(cand, new_docs, NEARDUP_MIN_JACCARD)
    carried_edges = (
        state["edges"]
        .join(unchanged.withColumnRenamed("doc_id", "doc_id_a"), "doc_id_a")
        .join(unchanged.withColumnRenamed("doc_id", "doc_id_b"), "doc_id_b")
        .select("doc_id_a", "doc_id_b", "jaccard")
    )
    edges = carried_edges.unionByName(fresh_edges)

    clusters = star_components(
        edges.select(
            F.col("doc_id_a").alias("src"), F.col("doc_id_b").alias("dst")
        ),
        new_docs.select("doc_id"),
    )
    scored = new_docs.join(clusters, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    canon = (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select("doc_id", "cluster_id", "source")
    )
    quality = (
        state["quality"]
        .join(unchanged, "doc_id")
        .unionByName(with_quality_score(changed))
    )
    return _manifest_tail(
        new_docs,
        canon,
        quality,
        keep_permille,
        test_permille,
        val_permille,
        capacity,
    )


def corpus_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """``(doc_id, change)`` between two corpus snapshots — the
    incremental-pipeline primitive that decides what a nightly run
    actually has to process: ``added`` docs enter dedup/scoring
    (``incremental_neardup``'s batch side), ``removed`` ones retire
    from indexes, ``modified`` ones do both; unchanged docs (the
    overwhelming majority at crawl cadence) are excluded and never
    touch a downstream stage.

    Scale shape: both sides are projected to ``(doc_id, md5)`` BEFORE
    the full-outer join, so the doc_id-keyed shuffle carries 16-byte
    digests, never text — on 100 TB snapshots this is two narrow
    column scans plus one metadata-sized join; store snapshots
    bucketed by doc_id and the shuffle disappears entirely. Content
    equality via md5 (engine-portable, collision-safe at corpus
    scale) rather than text compare keeps it that way."""
    # presence rides explicit flags, NOT hash-nullness: md5(NULL text)
    # is NULL, so inferring presence from the digest would misclassify
    # every NULL-text doc as 'added' forever (self-review round 12);
    # the null-safe digest compare likewise treats NULL text as a
    # comparable content state instead of poisoning the CASE.
    o = old.select(
        "doc_id",
        F.md5(F.encode("text", "UTF-8")).alias("_oh"),
        F.lit(True).alias("_in_old"),
    )
    n = new.select(
        "doc_id",
        F.md5(F.encode("text", "UTF-8")).alias("_nh"),
        F.lit(True).alias("_in_new"),
    )
    j = o.join(n, "doc_id", "full_outer")
    return (
        j.select(
            "doc_id",
            F.when(F.col("_in_old").isNull(), F.lit("added"))
            .when(F.col("_in_new").isNull(), F.lit("removed"))
            .when(
                ~F.col("_oh").eqNullSafe(F.col("_nh")), F.lit("modified")
            )
            .alias("change"),
        )
        .filter(F.col("change").isNotNull())
    )
