"""Deduplication operators over the ``documents`` table: exact hash
dedup, MinHash-LSH near-dup candidate pairs, SimHash signatures, and
exact n-gram Jaccard.

100 TB designs (and what must NEVER happen at scale):

* Exact dedup: hash-groupBy — one shuffle keyed by md5(text); skew-free
  (hash keys are uniform), map-side combinable.
* MinHash: a per-row fold over the doc's own shingle array (map-only,
  no shuffle; PERMS longs/doc) → banded signature keys →
  ``(band, band_key)`` bucket join. Candidate pairs only ever form
  WITHIN a bucket — never an all-pairs cross join. Expected bucket sizes
  are O(duplicate-cluster size); a pathological hot bucket is capped by
  AQE skew-join splitting.
* SimHash: explode tokens × bits, two partial-aggregate stages — all
  map-side combinable; output one 48-bit signature per doc. Hamming-near
  pairs come from banding the signature exactly like MinHash.
* Exact Jaccard is the *verifier* that runs on LSH candidates, not a
  discovery mechanism; the deterministic sample here exists so the
  operator itself is oracle-checkable without an all-pairs join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .params import (
    MINHASH_BANDS,
    MINHASH_COEFFS,
    MINHASH_PRIME,
    MINHASH_ROWS,
    NEARDUP_MIN_JACCARD,
    SHINGLE_K,
    SIMHASH_BITS,
)
from .text import _TOKENS, word_ngrams


def _jaccard_expr(toks_a: str, toks_b: str):
    """Exact distinct-token Jaccard of two (already-distinct) token
    array columns — shared by the sampled and the LSH-verified variants
    so thresholds/tokenization can never diverge between them. Both
    inputs are distinct, so the size of their ``array_intersect`` is
    the shared-token count."""
    inter = F.expr(f"size(array_intersect({toks_a}, {toks_b}))")
    return inter.cast("double") / (
        F.expr(f"size({toks_a})") + F.expr(f"size({toks_b})") - inter
    )


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact duplicate groups by md5(text): keeper = lowest doc_id."""
    return (
        docs.select("doc_id", F.md5("text").alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def with_minhash_signatures(docs: DataFrame) -> DataFrame:
    """Append sig_0..sig_{PERMS-1} to each row: sig_j = min over the
    row's distinct SHINGLE_K-token shingles of (a_j*h + b_j) mod PRIME,
    h = the shingle's md5 prefix. The min is a higher-order fold over
    the row's own shingle array, so the operator is map-only: no
    shuffle, no aggregation state, and therefore streaming-safe. Input
    columns are preserved, so stream metadata (ts, tokens) rides along.
    Docs with < SHINGLE_K tokens (or NULL text) have no shingle and are
    dropped. ``tests/test_llm.py`` keeps the explode + groupBy-min form
    as the reference and checks the two row for row."""
    k = SHINGLE_K
    sh = f"array_distinct({word_ngrams(k)})"
    hs = (
        f"transform({sh}, s -> "
        f"CAST(conv(substring(md5(s), 1, 7), 16, 10) AS BIGINT))"
    )
    out = docs.filter(F.expr(f"size({_TOKENS}) >= {k}")).withColumn(
        "_hs", F.expr(hs)
    )
    for j, (a, b) in enumerate(MINHASH_COEFFS):
        out = out.withColumn(
            f"sig_{j}",
            F.expr(
                f"array_min(transform(_hs, h -> "
                f"({a}L * h + {b}L) % {MINHASH_PRIME}L))"
            ),
        )
    return out.drop("_hs")


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, sig_0..sig_{PERMS-1}): :func:`with_minhash_signatures`
    projected to the key. One row per input row — ``doc_id`` is the
    ``documents`` key, so a corpus that repeats an id gets one row per
    copy. Documents with < SHINGLE_K tokens are excluded (no
    shingles)."""
    return with_minhash_signatures(docs.select("doc_id", "text")).drop("text")


def band_structs() -> list:
    """Per-row (band, band_key) struct columns derived from the
    sig_0..sig_{PERMS-1} signature columns — the SINGLE definition of
    the banding scheme, shared by :func:`minhash_band_keys` and the
    streaming gate (`streaming.peaks.streaming_neardup_gate`) so the
    two can never probe each other with incompatible keys."""
    bands = []
    for b in range(MINHASH_BANDS):
        cols = [f"sig_{b * MINHASH_ROWS + r}" for r in range(MINHASH_ROWS)]
        key = F.md5(F.concat_ws(",", *[F.col(c).cast("string") for c in cols]))
        bands.append(F.struct(F.lit(b).alias("band"), key.alias("band_key")))
    return bands


def minhash_band_keys(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, band_key) — band_key = md5 of the band's signature
    slice; equal keys put docs in the same LSH bucket."""
    return sigs.select(
        "doc_id", F.explode(F.array(*band_structs())).alias("bk")
    ).select("doc_id", "bk.band", "bk.band_key")


def minhash_pairs(docs: DataFrame) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any LSH band bucket.
    The join is per-bucket (groupBy band+key), never all-pairs.

    The band-key frame is cached before the self-join: the two join
    sides are the same MinHash pipeline, and without the cache each
    side executes the full shingle+signature subplan (AQE broadcasts
    one side, so there is no shuffle-exchange reuse to share it —
    measured 2x the pipeline cost at sf0.1). The cache is 4 rows/doc
    of (id, band, hash) — O(corpus rows), spill-safe MEMORY_AND_DISK;
    lifetime per the package cache contract
    (:func:`...session.release_caches`)."""
    from pyspark import StorageLevel

    keys = minhash_band_keys(minhash_signatures(docs)).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # materialize EAGERLY: the two self-join sides are submitted as
    # concurrent stages, and whether they share one exchange is
    # exchange-reuse luck — when reuse misses, both sides re-shuffle
    # the (then-cold) cache and the whole signature subplan runs
    # twice (observed: a duplicated 2M-record band-key exchange and a
    # 60 s vs 26 s edge build on identical inputs, docs/PLANS.md
    # "Round-13"). One bounded count pins the cache warm before
    # either side consumes it.
    keys.count()
    a, b = keys.alias("a"), keys.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .distinct()
    )


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """48-bit SimHash over distinct whitespace tokens (weight 1)."""
    toks = docs.select(
        "doc_id",
        F.explode(F.expr(f"array_distinct({_TOKENS})")).alias("tok"),
    ).withColumn(
        "h", F.conv(F.substring(F.md5("tok"), 1, 12), 16, 10).cast("long")
    )
    bits = toks.select(
        "doc_id",
        "h",
        F.explode(F.expr(f"sequence(0, {SIMHASH_BITS - 1})")).alias("b"),
    )
    per_bit = bits.groupBy("doc_id", "b").agg(
        F.sum(
            F.when(F.expr("(shiftright(h, b) & 1) = 1"), 1).otherwise(-1)
        ).alias("s")
    )
    return per_bit.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("s") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), b)")).otherwise(
                F.lit(0)
            )
        ).alias("simhash")
    )


def _candidate_tokens(cand: DataFrame, docs: DataFrame) -> DataFrame:
    """(doc_id_a, doc_id_b, toks_a, toks_b): each candidate pair with
    both members' distinct-token arrays — the verify input shared by
    :func:`neardup_verified`, :func:`containment_pairs` and the
    incremental manifest.

    Tokens are computed AFTER a semi-join against the candidate-member
    ids (round 13): tokenizing before the pair join ran
    split+array_distinct over the ENTIRE corpus once per join side to
    verify a near-dup-rate-sized candidate set. With the join-first
    shape the full scans only read/hash doc_id against the
    broadcastable id list, and tokenization touches candidate members
    alone.

    ``cand`` and the token frame are persisted (candidate-sized,
    package cache contract, :func:`...session.release_caches`) and
    pinned with an eager count each: the id list and both verify joins
    consume ``cand``, both verify joins consume the tokens, and those
    consumers launch as concurrent stages. On an exchange-reuse miss a
    cold cache is computed once per consumer (the race
    :func:`minhash_pairs` notes for its band keys); one bounded count
    fills it before any of them reads it."""
    from pyspark import StorageLevel

    cand = cand.persist(StorageLevel.MEMORY_AND_DISK)
    cand.count()
    ids = (
        cand.select(F.col("doc_id_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_id_b").alias("doc_id")))
        .distinct()
    )
    t = (
        docs.join(ids, "doc_id")
        .select("doc_id", F.expr(f"array_distinct({_TOKENS})").alias("toks"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    t.count()
    return cand.join(
        t.select(F.col("doc_id").alias("doc_id_a"), F.col("toks").alias("toks_a")),
        "doc_id_a",
    ).join(
        t.select(F.col("doc_id").alias("doc_id_b"), F.col("toks").alias("toks_b")),
        "doc_id_b",
    )


def _jaccard_verified(
    cand: DataFrame, docs: DataFrame, min_jaccard: float
) -> DataFrame:
    """(doc_id_a, doc_id_b, jaccard) of the candidate pairs whose exact
    distinct-token Jaccard reaches ``min_jaccard``."""
    jac = F.round(_jaccard_expr("toks_a", "toks_b"), 6).alias("jaccard")
    return (
        _candidate_tokens(cand, docs)
        .select("doc_id_a", "doc_id_b", jac)
        .filter(F.col("jaccard") >= min_jaccard)
    )


def neardup_verified(
    docs: DataFrame, min_jaccard: float = NEARDUP_MIN_JACCARD
) -> DataFrame:
    """The production near-dup pipeline: MinHash-LSH candidates verified
    by exact distinct-token Jaccard. Candidates come only from band
    buckets (O(cluster size) join), the exact check touches only those
    pairs — never all-pairs. Building the frame runs the eager cache
    pins of :func:`minhash_pairs` and :func:`_candidate_tokens`."""
    return _jaccard_verified(minhash_pairs(docs), docs, min_jaccard)


def levenshtein_neardup(
    docs: DataFrame, max_rel_dist: float = 0.5
) -> DataFrame:
    """Edit-distance verification of the LSH candidates — the CHARACTER-
    level near-dup check (catches token-preserving edits Jaccard is
    blind to: reorderings score high on Jaccard but far on edit
    distance, small in-word typos score the reverse). Same scale shape
    as :func:`neardup_verified`: candidates only from band buckets, the
    O(len_a·len_b) DP runs per candidate pair (JVM built-in
    ``levenshtein``, identical unit-cost DP in DuckDB) — never
    all-pairs, which matters 100× more here than for Jaccard since the
    per-pair check is quadratic in document length.

    Output: (doc_id_a, doc_id_b, lev_dist, rel_dist) for pairs with
    ``rel_dist = lev / max(len_a, len_b) <= max_rel_dist``.

    At 100 TB: cap document length into the DP (pre-truncate to a
    prefix, or route long docs through the token-level check) — the
    candidate count is bounded by the bands, but a single 1 MB×1 MB
    pair is 10¹² DP cells.
    """
    cand = minhash_pairs(docs)
    t = docs.select("doc_id", "text")
    j = (
        cand.join(
            t.select(
                F.col("doc_id").alias("doc_id_a"), F.col("text").alias("text_a")
            ),
            "doc_id_a",
        )
        .join(
            t.select(
                F.col("doc_id").alias("doc_id_b"), F.col("text").alias("text_b")
            ),
            "doc_id_b",
        )
        .withColumn("lev_dist", F.levenshtein("text_a", "text_b").cast("long"))
        .withColumn(
            "rel_dist",
            F.round(
                F.col("lev_dist")
                / F.greatest(F.length("text_a"), F.length("text_b")),
                6,
            ),
        )
    )
    return j.filter(F.col("rel_dist") <= max_rel_dist).select(
        "doc_id_a", "doc_id_b", "lev_dist", "rel_dist"
    )


def containment_pairs(
    docs: DataFrame, min_containment: float = 0.5
) -> DataFrame:
    """Asymmetric CONTAINMENT verification of the LSH candidates:
    ``|A∩B| / |A|`` and ``|A∩B| / |B|`` over distinct token sets
    (Broder's containment measure, the resemblance companion — public).
    Jaccard misses subset relations: a tweet quoted inside a long
    article scores near-zero Jaccard but containment ≈ 1 on the short
    side — exactly the quote-inclusion/boilerplate-embedding case a
    training-corpus dedup wants to catch.

    Candidate generation CANNOT be MinHash-LSH here: banded MinHash is
    calibrated for resemblance, so a low-Jaccard subset pair almost
    never collides in any band. Candidates instead come from shared
    WINNOWED FINGERPRINTS (:func:`..text.doc_fingerprints` — local
    substring hashes, which a contained quote shares with its host by
    construction); the join is keyed on the fingerprint value (sparse
    per doc), never all-pairs, with hot boilerplate fingerprints
    handled by AQE skew splitting.

    Output: pairs where max(containment_a, containment_b) >=
    ``min_containment``, with both directed scores.
    """
    from pyspark import StorageLevel

    from .text import doc_fingerprints

    # persisted for the same reason minhash_pairs persists its band
    # keys: AQE broadcasts one side of the self-join, so without the
    # cache both sides execute the full winnowing subplan.
    fps = doc_fingerprints(docs).persist(StorageLevel.MEMORY_AND_DISK)
    fps.count()  # eager: both self-join sides must hit the cache
    fa, fb = fps.alias("fa"), fps.alias("fb")
    cand = (
        fa.join(
            fb,
            (F.col("fa.fingerprint") == F.col("fb.fingerprint"))
            & (F.col("fa.doc_id") < F.col("fb.doc_id")),
        )
        .select(
            F.col("fa.doc_id").alias("doc_id_a"),
            F.col("fb.doc_id").alias("doc_id_b"),
        )
        .distinct()
    )
    inter = F.expr("size(array_intersect(toks_a, toks_b))").cast("double")
    j = (
        _candidate_tokens(cand, docs)
        .withColumn("_inter", inter)
        .select(
            "doc_id_a",
            "doc_id_b",
            F.round(F.col("_inter") / F.expr("size(toks_a)"), 6).alias(
                "containment_a"
            ),
            F.round(F.col("_inter") / F.expr("size(toks_b)"), 6).alias(
                "containment_b"
            ),
        )
    )
    return j.filter(
        F.greatest("containment_a", "containment_b") >= min_containment
    )


#: Observability for the iterative clustering routes (round 8): after
#: each :func:`dedup_clusters` / :func:`star_components` call this maps
#: "label" / "star" to the number of rounds the last run took to reach
#: fixpoint. The 100 TB claim for these operators rests on the round
#: count staying flat as the corpus grows (diameter-bound for label
#: prop, O(log^2 n) for star) — the scaling harness
#: (tools/bench_scaling.py --family docs) records it per decade so a
#: convergence blow-up shows up in the measurement, not just in wall
#: time. Driver-local, last-call-wins: purely diagnostic.
CONVERGENCE_ROUNDS: dict[str, int] = {}


def star_components(edges: DataFrame, nodes: DataFrame, max_iters: int = 64) -> DataFrame:
    """Connected components by alternating large-star/small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", public) — the 100 TB form of :func:`dedup_clusters`:
    converges in O(log^2 n) rounds regardless of component DIAMETER,
    where plain min-label propagation needs diameter-many rounds (a
    chain of pairwise near-dups — common for boilerplate families —
    makes the diameter linear in the family size).

    ``edges``: (src, dst) undirected pairs in any orientation;
    ``nodes``: one ``doc_id`` per vertex. Returns (doc_id, cluster_id)
    with cluster_id = the component's minimum doc_id — IDENTICAL output
    to the label-propagation route (tests assert it).

    Each round is two vocab-of-edges-sized keyed shuffles (a groupBy-min
    and a join back — no collect_list, so a hub's neighbor set never
    materializes in one task), and edge count never grows: large-star
    re-points every above-min neighbor at the local min, small-star
    contracts the below-min fringe. Per-round driver work is one
    convergence count — O(log^2 n) actions total, vs O(diameter) for
    label propagation.

    Lineage: each round references the previous edge frame ~6 times
    (symmetrize ×2, two join-backs, a union), so the LOGICAL plan grows
    exponentially with rounds even under cache() — the round output is
    therefore ``localCheckpoint``-ed (materialize + truncate lineage;
    on a real cluster use ``spark.sparkContext.setCheckpointDir`` +
    ``checkpoint()`` for executor-loss-safe truncation).
    """
    # lazy checkpoint + count = ONE job per materialization
    # (optimization round 14): eager localCheckpoint ran its own job
    # and the convergence count ran another; the lazy mark lets the
    # count trigger persist + lineage truncation in the same job. Safe
    # here because each lazily-marked frame's FIRST consumer is the
    # single-subtree count job (no sibling-stage race on a cold cache);
    # every multi-consumer read (sym's two branches, exceptAll) happens
    # after that materialization.
    canon = (
        edges.select(
            F.greatest("src", "dst").alias("hi"), F.least("src", "dst").alias("lo")
        )
        .filter(F.col("hi") != F.col("lo"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    canon_cnt = canon.count()
    converged = False
    for _round in range(max_iters):
        # large-star: for each u, point every neighbor v > u at
        # m = min(neighbors(u) ∪ {u}). Symmetrize, group-min, join.
        sym = canon.select(F.col("hi").alias("u"), F.col("lo").alias("v")).union(
            canon.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.select("u", F.least("mn", "u").alias("m"))
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
            .filter(F.col("hi") != F.col("lo"))
            .distinct()
        )
        # small-star: for each u, connect its smaller neighbors (and u)
        # to their minimum. Smaller-neighbor sets are exactly the lo
        # side of the canonical orientation.
        smins = large.groupBy("hi").agg(F.min("lo").alias("m"))
        small = (
            large.join(smins, "hi")
            .select(F.col("lo").alias("v"), "m")
            .union(smins.select(F.col("hi").alias("v"), "m"))
            .filter(F.col("v") != F.col("m"))
            .select(F.greatest("v", "m").alias("hi"), F.least("v", "m").alias("lo"))
            .distinct()
            .localCheckpoint(eager=False)  # materialized by cnt below
        )
        # convergence = same edge SET; counts are carried across
        # rounds (this round's small.count() is next round's
        # canon.count()), saving one driver action per round, and the
        # exceptAll only runs when counts already agree (equal-size
        # sets are equal iff the difference is empty)
        cnt = small.count()
        same = cnt == canon_cnt and small.exceptAll(canon).isEmpty()
        canon_cnt = cnt
        canon = small
        if same:
            converged = True
            CONVERGENCE_ROUNDS["star"] = _round + 1
            break
    if not converged:
        raise RuntimeError(
            f"star_components did not converge within {max_iters} rounds"
        )
    # At convergence every component is a star rooted at its minimum:
    # non-roots appear exactly once as hi, roots/isolated nodes never.
    roots = canon.groupBy("hi").agg(F.min("lo").alias("_root"))
    out = (
        nodes.select("doc_id")
        .join(roots, nodes.doc_id == roots.hi, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("_root"), F.col("doc_id")).alias("cluster_id"),
        )
    )
    return out


def dedup_clusters(docs: DataFrame, max_iters: int = 64) -> DataFrame:
    """Connected components over the verified near-dup graph: every doc
    gets a ``cluster_id`` = the smallest doc_id reachable through
    near-dup edges (itself if it has none). The canonical "keep one per
    cluster" step of a dedup pipeline.

    Implementation: min-label propagation to FIXPOINT, restricted to
    the EDGE-TOUCHED SUBGRAPH — a doc with no near-dup edge can never
    change its label, so the per-round joins run over only the nodes
    that appear in some pair (a tiny fraction of the corpus: near-dup
    rate × 2) and the untouched remainder gets ``cluster_id = doc_id``
    through one final left join. At 100 TB this is the difference
    between shuffling the corpus per round and shuffling the near-dup
    subgraph per round. Each round joins labels across edges and keeps
    the elementwise min, carrying the previous label so convergence is
    read off the SAME cached frame (no extra per-round join); the loop
    runs until no label changes (cluster diameters are 2-3 for
    near-dup graphs in practice; ``max_iters`` is a runaway backstop,
    and converging within it is required for the oracle contract — the
    DuckDB mirror computes the exact transitive closure). The edge set
    is computed ONCE and cached (it contains the whole MinHash+Jaccard
    subplan); per-round labels are unpersisted as soon as the next
    round materializes. At 100 TB, or when components can chain, run
    :func:`star_components` on :func:`neardup_verified`'s edges instead
    (large-star/small-star, O(log^2 n) rounds independent of component
    diameter): it returns the identical (doc_id, cluster_id) frame.
    Measured head-to-head at sf0.1 (docs/PLANS.md): label-prop ~2.3 s,
    star ~2.3 s at diameter <= 3 — the star route's advantage is the
    round COUNT bound on deep graphs, not per-round cost.
    """
    pairs = neardup_verified(docs)
    # Lineage discipline (optimization round 13): every per-round frame
    # is localCheckpoint-ed, not cache()-d, matching star_components.
    # cache() shares COMPUTATION but not the LOGICAL PLAN — each round's
    # stepped plan still nests every previous round's plan plus the
    # whole MinHash+verify subtree, so Catalyst re-analyzed a plan that
    # doubled per round on every action (the per-round convergence
    # count, then the final output join). Measured at sf0.1: rounds ran
    # 2.5 s / 5.0 s and the final join 3.7 s under cache();
    # 0.7 / 0.5 / 0.45 s checkpointed — all driver-side planning, no
    # executor work difference. At 100 TB the effect is strictly worse
    # (the verify subtree is bigger and rounds scale with diameter).
    # Truncation point one: `edges` cuts the verify subtree out of
    # every per-round plan. Storage: checkpoint blocks are near-dup-
    # SUBGRAPH-sized (two longs per label row), spill-safe, released
    # with the session; the per-round unpersist bookkeeping the cache()
    # form needed no longer applies (checkpoint blocks have no public
    # release API — same accepted trade as star_components, bounded by
    # the 2-5 real convergence rounds). Cluster deployments should use
    # reliable .checkpoint() (see the deployment note below).
    # `edges` is lazily marked (optimization round 14): its first
    # consumer is the `labels` checkpoint job, where it appears exactly
    # once — the eager edges job was a redundant driver action. The
    # `labels` checkpoint stays EAGER: round 1 consumes it from TWO
    # sibling subtrees (neighbor_min and the stepped join), and on a
    # real cluster a cold lazily-marked cache under sibling stages can
    # compute twice (the minhash_pairs race, checkpoint flavor).
    edges = (
        pairs.select(F.col("doc_id_a").alias("src"), F.col("doc_id_b").alias("dst"))
        .union(
            pairs.select(
                F.col("doc_id_b").alias("src"), F.col("doc_id_a").alias("dst")
            )
        )
        .localCheckpoint(eager=False)
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .select("doc_id", F.col("doc_id").alias("cluster_id"))
        .localCheckpoint()
    )
    converged = False
    for _round in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges.src == labels.doc_id)
            .groupBy("dst")
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        # carry the old label through so the convergence check reads
        # the one checkpointed frame instead of re-joining old vs new
        stepped = (
            labels.join(neighbor_min, labels.doc_id == neighbor_min.dst, "left")
            .select(
                "doc_id",
                F.col("cluster_id").alias("_old"),
                F.least(
                    F.col("cluster_id"),
                    F.coalesce(F.col("nbr_min"), F.col("cluster_id")),
                ).alias("cluster_id"),
            )
            # lazy: the convergence count below is the single-subtree
            # first consumer, so checkpoint + count fuse into one job
            # (optimization round 14); next round's two sibling reads
            # hit the then-warm blocks.
            .localCheckpoint(eager=False)
        )
        changed = stepped.filter(F.col("cluster_id") != F.col("_old")).count()
        labels = stepped.select("doc_id", "cluster_id")
        if changed == 0:
            converged = True
            CONVERGENCE_ROUNDS["label"] = _round + 1
            break
    if not converged:
        raise RuntimeError(
            f"dedup_clusters did not converge within {max_iters} rounds — "
            "pathological near-dup chain; raise max_iters or switch to the "
            "large-star/small-star formulation"
        )
    # `labels` is already a projection of the last round's checkpointed
    # frame, so the returned plan is self-contained (a clearCache()
    # before execution cannot trigger the O(2^rounds) unrolled
    # recompute the cache() formulation risked).
    #
    # Cluster-deployment note: localCheckpoint trades fault tolerance
    # for speed — the checkpointed blocks live only on executors, so
    # on a real cluster a lost executor makes the result
    # unrecomputable (the lineage it would replay was just cut). For
    # a 1000-executor run, point spark.checkpoint.dir at durable
    # storage and use reliable `.checkpoint()` here instead (same
    # lineage-truncation effect, storage-backed); docs/SCALE.md
    # carries the deployment guidance.
    out = (
        docs.select("doc_id")
        .join(labels.withColumnRenamed("cluster_id", "_cl"), "doc_id", "left")
        .select(
            "doc_id", F.coalesce(F.col("_cl"), F.col("doc_id")).alias("cluster_id")
        )
    )
    return out


def jaccard_pairs(docs: DataFrame, mod: int = 20, min_jaccard: float = 0.05) -> DataFrame:
    """Exact distinct-token Jaccard over a deterministic pair sample
    (doc_id equivalence classes mod ``mod``). In production the pair set
    comes from :func:`minhash_pairs`; the sample keeps the operator
    oracle-checkable without an all-pairs join."""
    t = docs.select(
        "doc_id", F.expr(f"array_distinct({_TOKENS})").alias("toks")
    )
    a, b = t.alias("a"), t.alias("b")
    jac = _jaccard_expr("a.toks", "b.toks")
    return (
        a.join(
            b,
            (F.col("a.doc_id") % mod == F.col("b.doc_id") % mod)
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            F.round(jac, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


def blocklist_filter(docs: DataFrame, blocklist: DataFrame) -> DataFrame:
    """Remove documents whose content hash appears in a blocklist — the
    standard "known-bad content" gate (CSAM/spam/benchmark hash lists)
    every production corpus passes through.

    ``blocklist`` is a one-column (``text_hash``) table. It is ALWAYS
    the broadcast side of a LEFT ANTI join: blocklists are measured in
    millions of hashes (MBs) while the corpus is measured in TBs, so the
    corpus is never shuffled — the filter runs entirely in the scan
    stage of each corpus partition.
    """
    keyed = docs.withColumn("_bl_hash", F.md5("text"))
    return (
        keyed.join(
            F.broadcast(blocklist.select(F.col("text_hash").alias("_bl_hash"))),
            "_bl_hash",
            "left_anti",
        )
        .drop("_bl_hash")
    )


def blocklist_filter_bloom(
    docs: DataFrame, blocklist: DataFrame, m: int = 1 << 20
) -> DataFrame:
    """Scale variant of :func:`blocklist_filter` for blocklists too big
    to broadcast whole: a compact BUCKET-SET gate (a k=1 Bloom filter —
    the distinct ``xxhash64(hash) mod m`` buckets of the blocklist,
    ints, ~1/4 the bytes of the md5 strings and collapsing under
    distinct) is broadcast to every corpus partition; rows whose bucket
    misses are DEFINITELY clean and never shuffle. Only bucket-positive
    rows (true hits + ~|corpus|·|blocklist|/m false positives) proceed
    to the exact anti-join, which may now shuffle both its small sides
    instead of broadcasting millions of hashes.

    The output is EXACT — identical to :func:`blocklist_filter` for
    every ``m`` (false positives are removed by the verify join), so
    the oracle is shared. The corpus projection is read by both
    branches; at 100 TB persist it (or accept two scans — both beat
    shuffling the full corpus by content hash, which is what a plain
    shuffle anti join would do).
    """
    keyed = docs.withColumn("_bl_hash", F.md5("text")).withColumn(
        "_bkt", F.pmod(F.xxhash64("_bl_hash"), F.lit(m))
    )
    buckets = (
        blocklist.select(
            F.pmod(F.xxhash64("text_hash"), F.lit(m)).alias("_bkt")
        ).distinct()
    )
    clean = keyed.join(F.broadcast(buckets), "_bkt", "left_anti")
    maybe = keyed.join(F.broadcast(buckets), "_bkt", "leftsemi")
    verified = maybe.join(
        blocklist.select(F.col("text_hash").alias("_bl_hash")),
        "_bl_hash",
        "left_anti",
    )
    return clean.unionByName(verified).drop("_bl_hash", "_bkt")


def corpus_band_index(corpus: DataFrame) -> DataFrame:
    """Materialize the corpus's MinHash band keys as a persisted index
    frame — the cross-batch asset :func:`incremental_neardup`'s
    docstring promises: maintain this once per ingest (at 100 TB, as a
    bucketed table on (band, band_key)) and probe it with every new
    batch instead of recomputing corpus signatures per call. Returns
    (corpus_doc_id, band, band_key), persisted and materialized."""
    from pyspark import StorageLevel

    idx = (
        minhash_band_keys(minhash_signatures(corpus))
        .select(F.col("doc_id").alias("corpus_doc_id"), "band", "band_key")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    idx.count()
    return idx


def incremental_neardup(
    new_docs: DataFrame,
    corpus: DataFrame,
    min_jaccard: float = NEARDUP_MIN_JACCARD,
    corpus_index: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric near-dup: screen an incoming batch against the
    EXISTING corpus without re-running global dedup — the daily-crawl
    gate of a production pipeline (is today's batch a near-copy of
    anything already ingested?).

    Same banded MinHash-LSH machinery as :func:`neardup_verified`, but
    the bucket join is new×corpus only (never corpus×corpus — at 100 TB
    the corpus band keys are a MATERIALIZED index maintained across
    batches; the new batch's keys are computed fresh and are the small
    probing side). The exact Jaccard verify touches candidate pairs
    only. Output: (new_doc_id, corpus_doc_id, jaccard ≥ min_jaccard).

    ``corpus_index``: a prematerialized :func:`corpus_band_index` —
    the fit-once/probe-many overload (same pattern as the prefit ANN
    index): successive daily batches skip the corpus-side MinHash
    recompute entirely, paying only their own keys + the band join.
    """
    new_keys = minhash_band_keys(minhash_signatures(new_docs)).select(
        F.col("doc_id").alias("new_doc_id"), "band", "band_key"
    )
    corpus_keys = (
        corpus_index
        if corpus_index is not None
        else minhash_band_keys(minhash_signatures(corpus)).select(
            F.col("doc_id").alias("corpus_doc_id"), "band", "band_key"
        )
    )
    from pyspark import StorageLevel

    cand = (
        new_keys.join(corpus_keys, ["band", "band_key"])
        .select("new_doc_id", "corpus_doc_id")
        .distinct()
    ).persist(StorageLevel.MEMORY_AND_DISK)
    cand.count()  # eager: id-list + verify joins (minhash_pairs note)
    # the corpus side tokenizes AFTER a semi-join against the
    # candidate ids (round 13): without it, verifying a batch-sized
    # candidate set ran split+array_distinct over the ENTIRE corpus —
    # the exact O(|corpus|) stage this operator's O(batch) contract
    # forbids. The batch side is already batch-sized.
    t_new = new_docs.select(
        F.col("doc_id").alias("new_doc_id"),
        F.expr(f"array_distinct({_TOKENS})").alias("toks_a"),
    )
    corp_ids = cand.select(
        F.col("corpus_doc_id").alias("doc_id")
    ).distinct()
    t_corp = corpus.join(corp_ids, "doc_id").select(
        F.col("doc_id").alias("corpus_doc_id"),
        F.expr(f"array_distinct({_TOKENS})").alias("toks_b"),
    )
    j = cand.join(t_new, "new_doc_id").join(t_corp, "corpus_doc_id")
    jac = _jaccard_expr("toks_a", "toks_b")
    return (
        j.select(
            "new_doc_id", "corpus_doc_id", F.round(jac, 6).alias("jaccard")
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


def hybrid_neardup(
    docs: DataFrame,
    emb: DataFrame,
    min_jaccard: float = 0.2,
    cosine_threshold: float = 0.2,
) -> DataFrame:
    """Lexical×semantic near-dup: MinHash-LSH candidate pairs verified
    by exact Jaccard, then ENRICHED with the embedding cosine of the
    pair (documents ⋈ embeddings on doc_id = vec_id) — the cross-modal
    check a production dedup uses to separate true near-dups (high
    lexical AND semantic similarity) from template collisions (shared
    boilerplate tokens, unrelated content: high Jaccard, low cosine).
    Output: (doc_id_a, doc_id_b, jaccard, cosine, semantic_match).

    Scale: candidates come only from LSH buckets (never all-pairs);
    the embedding enrichment is two id-keyed joins carrying one vector
    per side for CANDIDATE PAIRS only — the corpus-wide embedding
    table is never paired with itself.
    """
    from .similarity import _dot, _with_norm

    pairs = neardup_verified(docs, min_jaccard=min_jaccard)
    e = _with_norm(emb).select("vec_id", "embedding", "_norm")
    ea = e.select(
        F.col("vec_id").alias("doc_id_a"),
        F.col("embedding").alias("emb_a"),
        F.col("_norm").alias("norm_a"),
    )
    eb = e.select(
        F.col("vec_id").alias("doc_id_b"),
        F.col("embedding").alias("emb_b"),
        F.col("_norm").alias("norm_b"),
    )
    cos = F.round(
        _dot("emb_a", "emb_b") / (F.col("norm_a") * F.col("norm_b")), 6
    )
    # materialize the rounded cosine ONCE and derive the boolean from
    # the materialized column — semantically identical, but the plan no
    # longer relies on codegen subexpression elimination to avoid
    # computing the O(dim) dot product twice per candidate pair.
    return (
        pairs.join(ea, "doc_id_a")
        .join(eb, "doc_id_b")
        .withColumn("cosine", cos)
        .select(
            "doc_id_a",
            "doc_id_b",
            "jaccard",
            "cosine",
            (F.col("cosine") >= F.lit(cosine_threshold)).alias("semantic_match"),
        )
    )


def canonical_corpus(docs: DataFrame) -> DataFrame:
    """The dedup pipeline's FINAL materialization: one representative
    per connected near-dup cluster — the longest document (ties → the
    lowest doc_id), singletons kept as-is. This is the step that turns
    the cluster report into the training corpus: near-dup families
    collapse to their most complete member instead of the arbitrary
    lowest-id member.

    Scale: one window ranked per cluster_id over (corpus ⋈ clusters) —
    cluster cardinality is near-dup family size (tiny), so no window
    partition can outgrow a task; everything upstream is the bucketed
    LSH machinery of :func:`dedup_clusters` (whose result is
    localCheckpoint-ed, so this plan is one join + one window over a
    self-contained frame).
    """
    from pyspark.sql import Window

    clusters = dedup_clusters(docs)
    scored = docs.join(clusters, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select("doc_id", "cluster_id", "lang", "source", "n_chars")
    )


def dedup_report(docs: DataFrame) -> DataFrame:
    """One-row corpus dedup PROFILE — the executive summary a curation
    run logs before and after: document count, exact-distinct texts,
    exact-dup surplus, near-dup family stats (count of multi-member
    families, docs inside them, largest family) from
    :func:`dedup_clusters`' connected components.

    Scale: one md5-keyed aggregate + the banded cluster machinery
    (measured decades in docs/PLANS.md) + two tiny rollups broadcast
    into a single row; nothing here adds a new heavy stage.
    """
    exact = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_distinct_texts"),
    ).withColumn(
        "exact_dup_docs", F.col("n_docs") - F.col("n_distinct_texts")
    )
    sizes = (
        dedup_clusters(docs)
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("_sz"))
    )
    fam = sizes.agg(
        F.sum(F.when(F.col("_sz") > 1, 1).otherwise(0))
        .cast("long")
        .alias("neardup_families"),
        F.sum(F.when(F.col("_sz") > 1, F.col("_sz")).otherwise(0))
        .cast("long")
        .alias("neardup_family_docs"),
        F.max("_sz").cast("long").alias("largest_family"),
    )
    return exact.crossJoin(F.broadcast(fam))


def dedup_report_sql(dedup_clusters_sql: str) -> str:
    """DuckDB mirror: the clusters recursive CTE as a subquery plus the
    same two rollups."""
    return f"""
    WITH cl AS ({dedup_clusters_sql}),
    sizes AS (SELECT cluster_id, COUNT(*) AS sz FROM cl GROUP BY cluster_id),
    fam AS (
        SELECT CAST(SUM(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS neardup_families,
               CAST(SUM(CASE WHEN sz > 1 THEN sz ELSE 0 END) AS BIGINT)
                   AS neardup_family_docs,
               CAST(MAX(sz) AS BIGINT) AS largest_family
        FROM sizes
    ),
    ex AS (
        SELECT COUNT(*)::BIGINT AS n_docs,
               COUNT(DISTINCT md5(text))::BIGINT AS n_distinct_texts
        FROM documents
    )
    SELECT n_docs, n_distinct_texts,
           n_docs - n_distinct_texts AS exact_dup_docs,
           neardup_families, neardup_family_docs, largest_family
    FROM ex CROSS JOIN fam
    """
