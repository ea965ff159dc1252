"""Similarity search over the ``embeddings`` table (``array<float>``):
brute-force cosine top-k as the correctness baseline and a
random-hyperplane LSH-bucketed variant as the scale path.

100 TB design: the brute-force route is O(Q·N) and exists only as the
oracle baseline / final re-ranker. The LSH route buckets every vector by
the sign pattern of ``LSH_PLANES`` fixed hyperplane projections; search
joins query and candidates ON the bucket key — a hash join keyed by
bucket, never a cross join. Plane count grows with log2(N) to keep
buckets bounded — derived in code by ``params.lsh_planes_for(N)`` and
threaded through every bucketed entry point as ``n_planes`` (or
``n_planes="auto"`` to count N and derive it); the fixed
``LSH_PLANES`` default remains the oracle-mirrored deterministic path.
Raising the count strictly refines buckets (bucket bits are a prefix),
so recall only moves through the documented knob: multi-probe
(flipping low-margin bits). The search-side dot products are
``zip_with``+``aggregate`` higher-order functions (JVM-side, no UDF);
the k-means fits (IVF centroids, PQ codebooks) share one Lloyd loop,
:func:`_lloyd_fit`, which assigns with the NumPy kernels of
:mod:`.lloyd` (one ``mapInArrow`` step per assign, bit-identical to the
same folds in Spark SQL).

Ranking determinism: cosine is quantized to 6 dp BEFORE ranking in both
engines, then tie-broken by vec_id, so cross-engine FP drift (~1e-15)
can never reorder the top-k.
"""

from __future__ import annotations

import functools
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, Row, functions as F
from pyspark.sql.window import Window

from . import lloyd
from .params import (
    ANN_LSH_TOPK,
    ANN_QUERY_MOD,
    ANN_TOPK,
    KMEANS_CLUSTERS,
    LSH_PLANES,
    PQ_MAX_DTABLE_ROWS,
    kmeans_clusters_for,
    lsh_plane_weights,
    lsh_planes_for,
    spark_array_lit,
)


def _dot(a: str, b: str) -> F.Column:
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def embedding_norms(emb: DataFrame) -> DataFrame:
    return emb.select(
        "vec_id",
        "label",
        F.size("embedding").alias("dim"),
        F.round(F.sqrt(_dot("embedding", "embedding")), 6).alias("norm"),
    )


def _with_norm(emb: DataFrame) -> DataFrame:
    return emb.withColumn("_norm", F.sqrt(_dot("embedding", "embedding")))


def _query_side(frame: DataFrame, *extra: F.Column, prefix: str = "q") -> DataFrame:
    """(query_id, <prefix>_emb, <prefix>_norm, *extra) from a
    (vec_id, embedding, _norm) frame — the query side every cosine
    route ranks its candidates against."""
    return frame.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias(f"{prefix}_emb"),
        F.col("_norm").alias(f"{prefix}_norm"),
        *extra,
    )


def _candidate_side(frame: DataFrame) -> DataFrame:
    """(vec_id, c_emb, c_norm): the exact vectors a re-rank joins back
    onto its candidate ids."""
    return frame.select(
        "vec_id",
        F.col("embedding").alias("c_emb"),
        F.col("_norm").alias("c_norm"),
    )


def _cosine_rank(
    pairs: DataFrame,
    k: int,
    c_emb: str = "embedding",
    c_norm: str = "_norm",
    prefix: str = "q",
) -> DataFrame:
    """The final stage of every cosine route: (query_id, vec_id,
    cosine, rank) for each query's ``k`` best candidates. ``pairs``
    carries the query side's ``<prefix>_emb``/``<prefix>_norm`` and the
    candidate side's ``c_emb``/``c_norm``. The cosine is quantized to
    6 dp before ranking and ties go to the lowest vec_id (the module
    docstring's determinism contract)."""
    cos = F.round(
        _dot(f"{prefix}_emb", c_emb)
        / (F.col(f"{prefix}_norm") * F.col(c_norm)),
        6,
    )
    return (
        pairs.select("query_id", "vec_id", cos.alias("cosine"))
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("cosine").desc(), F.col("vec_id")
                )
            ),
        )
        .filter(F.col("rank") <= k)
    )


def cosine_topk(emb: DataFrame, k: int = ANN_TOPK, query_mod: int = ANN_QUERY_MOD) -> DataFrame:
    """Brute-force cosine top-k of every query (vec_id % query_mod == 0)
    against all other vectors. Queries are the broadcast side."""
    base = _with_norm(emb)
    q = _query_side(base.filter(F.col("vec_id") % query_mod == 0))
    c = base.select("vec_id", "embedding", "_norm")
    joined = c.crossJoin(F.broadcast(q)).filter(F.col("vec_id") != F.col("query_id"))
    return _cosine_rank(joined, k)


def _resolve_planes(emb: DataFrame, n_planes: int | str | None) -> int:
    """``None`` → the deterministic oracle default; ``"auto"`` → derive
    from N (one metadata-cheap count); an int → as given. The count is
    the only action, and only in auto mode."""
    if n_planes is None:
        return LSH_PLANES
    if n_planes == "auto":
        return lsh_planes_for(emb.count())
    return int(n_planes)


def _resolve_clusters(emb: DataFrame, n_clusters: int | str | None) -> int:
    """k-means twin of :func:`_resolve_planes`: ``None`` → the
    deterministic oracle default (KMEANS_CLUSTERS); ``"auto"`` → k ≈ √N
    via ``params.kmeans_clusters_for`` (one metadata-cheap count — the
    only action, and only in auto mode); an int → as given."""
    if n_clusters is None:
        return KMEANS_CLUSTERS
    if n_clusters == "auto":
        return kmeans_clusters_for(emb.count())
    return int(n_clusters)


#: Scan fraction the ``nprobe="auto"`` dial holds: anchored at the
#: oracle default's coverage (nprobe=2 of the sf0.1 auto-k=44 lists).
#: The round-8 recall decades (docs/PLANS.md "ANN recall across the
#: decades") measured WHY this must scale with nlist: at fixed
#: nprobe=2 the scanned corpus fraction shrinks ×√10 per decade
#: (auto-k grows √N) and recall@10 collapses 0.242→0.163→0.120, while
#: constant coverage holds SQ8 recall flat-to-rising at flat cost.
AUTO_NPROBE_FRACTION = 2 / 44


def _resolve_nprobe(nprobe: "int | str", cents: DataFrame) -> int:
    """``"auto"`` → hold :data:`AUTO_NPROBE_FRACTION` of the posting
    lists (≥2); an int passes through. The centroid frame is a k-row
    literal/cached table, so the count in auto mode is a cheap action;
    int mode (every registered oracle query) stays action-free."""
    if isinstance(nprobe, str):
        # loud parameter error HERE, not int()'s bare ValueError five
        # frames deep in plan construction (ADVICE r8)
        if nprobe != "auto":
            raise ValueError(
                f"nprobe must be an int or 'auto', got {nprobe!r}"
            )
        return max(2, round(cents.count() * AUTO_NPROBE_FRACTION))
    return int(nprobe)


#: ``shortlist="auto"`` anchor: the oracle defaults' ratio of ADC
#: shortlist to retrieved candidates (shortlist=20 over nprobe=2 ×
#: k=5). The round-8 recall decades measured WHY the shortlist must
#: scale with the probe budget: with nprobe="auto" widening coverage
#: as the corpus grows, a FIXED shortlist=20 strands the recovered
#: candidates before the exact re-rank (recall pinned at the ADC
#: plateau); the dial-by-dial decomposition found shortlist≈600 at the
#: 2M-vector point (nprobe=64, k≤10) recovers the probe ceiling —
#: exactly this anchor's 2·nprobe·k.
AUTO_SHORTLIST_PER_PROBE_K = 20 / (2 * ANN_LSH_TOPK)


def _resolve_shortlist(shortlist: "int | str", nprobe: int, k: int) -> int:
    """``"auto"`` → ``2·nprobe·k`` (floored at the oracle default 20);
    an int passes through. ``nprobe`` must already be resolved (pass
    :func:`_resolve_nprobe`'s result), so auto-shortlist composes with
    auto-nprobe: constant scan coverage ⇒ proportionally wider exact
    re-rank. Pure arithmetic — no action on either path."""
    if isinstance(shortlist, str):
        if shortlist != "auto":
            raise ValueError(
                f"shortlist must be an int or 'auto', got {shortlist!r}"
            )
        return max(20, round(AUTO_SHORTLIST_PER_PROBE_K * nprobe * k))
    return int(shortlist)


def lsh_bucket_col(n_planes: int = LSH_PLANES) -> F.Column:
    """Bucket id = sign bits of the deterministic hyperplane
    projections. Plane p's weights depend only on p, so buckets for a
    larger ``n_planes`` strictly refine the smaller ones (prefix bits)."""
    bucket = F.lit(0)
    for p, weights in enumerate(lsh_plane_weights(n_planes)):
        proj = _dot("embedding", spark_array_lit(weights))
        bucket = bucket + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket.cast("long")


def lsh_buckets(emb: DataFrame, n_planes: int | str | None = None) -> DataFrame:
    p = _resolve_planes(emb, n_planes)
    return emb.select("vec_id", lsh_bucket_col(p).alias("bucket"))


def _literal_df(spark, rows, schema: str) -> DataFrame:
    """A model-sized literal table as ONE partition. Plain
    ``createDataFrame(rows)`` parallelizes local rows into
    defaultParallelism pickled slices, so every consumer job (the
    search probes' broadcast builds) schedules ~cores near-empty
    Python-fed tasks; a ``coalesce(1)`` on top is WORSE — it funnels
    all those slices sequentially through one Python worker (measured
    round 14: 5.1 s vs 0.56 s per final assign at sf0.1). One slice at
    parallelize time is both correct and cheap, and stays correct at
    cluster scale: these frames are k/m·k rows by construction
    (VERDICT r13 ask #5 — model-sized frames AQE cannot see)."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema
    )


def _list_rows(values) -> "lloyd.Rows":
    """:class:`lloyd.Rows` of collected arrays (None for a NULL array
    or element)."""
    import pyarrow as pa

    return lloyd.dense_rows(pa.array(values, pa.list_(pa.float64())))


def _doubles(col) -> tuple:
    """(values with NaN for NULL, NULL mask) of an Arrow or Python
    sequence of doubles."""
    import numpy as np
    import pyarrow as pa

    col = pa.array(col, pa.float64()) if isinstance(col, list) else col
    return (
        col.to_numpy(zero_copy_only=False).astype(np.float64),
        col.is_null().to_numpy(zero_copy_only=False),
    )


def _centroid_assign(vecs: DataFrame, cent_rows) -> DataFrame:
    """Nearest centroid per vector by cosine: (vec_id, embedding,
    _norm, centroid_id) over the collected centroid rows (k×dim values,
    already on the driver from the Lloyd round's collect). One
    ``mapInArrow`` step runs :func:`lloyd.cosine_argmax` per Arrow
    batch: the cosine is the fold of :func:`_dot` over ``_norm *
    c_norm``, quantized to 9 dp as Spark's ``ROUND`` does, and ties go
    to the LOWEST centroid_id, bit-identical to the Spark SQL argmax
    that tests/test_similarity.py keeps as the reference. No exchange:
    the assign is map-only, so each Lloyd round shuffles only the
    metadata-sized centroid update. An empty centroid set (empty fit
    corpus) assigns no rows, so the fit entry points' empty-corpus
    errors fire."""
    import numpy as np
    import pyarrow as pa

    rows = sorted(cent_rows, key=lambda r: r["centroid_id"])
    ids = np.array([r["centroid_id"] for r in rows], dtype=np.int32)
    cents = _list_rows([r["c_emb"] for r in rows])
    c_norm = _doubles([r["c_norm"] for r in rows])
    ansi = vecs.sparkSession.conf.get("spark.sql.ansi.enabled") == "true"

    def assign(batches):
        for b in batches:
            if len(ids) and b.num_rows:
                best = lloyd.cosine_argmax(
                    lloyd.dense_rows(b.column("embedding")),
                    *_doubles(b.column("_norm")),
                    cents,
                    *c_norm,
                    ansi=ansi,
                )
                yield b.append_column("centroid_id", pa.array(ids[best]))

    return vecs.select("vec_id", "embedding", "_norm").mapInArrow(
        assign, "vec_id bigint, embedding array<float>, _norm double, centroid_id int"
    )


def ivf_index(
    emb: DataFrame,
    k: int | str | None = None,
    iters: int = 3,
    fit_sample_mod: int | None = None,
) -> DataFrame:
    """IVF coarse quantizer: deterministic k-means (init = the k lowest
    vec_ids, ``iters`` fixed Lloyd rounds) → (vec_id, centroid_id)
    posting lists. ``k=None`` → the deterministic oracle default;
    ``k="auto"`` → k ≈ √N via ``params.kmeans_clusters_for`` (the
    SemDeDup-style scale path — fixed k makes each posting list grow
    linearly with N).

    Scale shape: the fit is :func:`_lloyd_fit` — each round's k
    centroids are collected to the driver (exactly what Spark MLlib's
    KMeans does) — k × dim doubles, not data — and shipped to a
    map-only assign kernel; the centroid update is one shuffle keyed by
    (centroid, dim) with map-side partial sums. At 100 TB run the update
    on a uniform sample (``fit_sample_mod``) — the quantizer only needs
    cluster geometry, not every point.
    """
    ((assigned, _),) = _lloyd_fit(
        emb, _ivf_quantizer(emb, _resolve_clusters(emb, k), iters),
        fit_sample_mod=fit_sample_mod,
    )
    return assigned.select("vec_id", "centroid_id")


class _Quantizer(NamedTuple):
    """One quantizer of a :func:`_lloyd_fit`: ``source`` is the cached
    corpus in ``assign``'s input shape; ``sub``/``vec`` read a row's
    sub_id and its vector as array<double>; ``cents`` is the schema of
    the centroid table, whose rows ``assign`` reads."""

    source: DataFrame
    assign: Callable[[DataFrame, list], DataFrame]
    sub: F.Column
    vec: F.Column
    cents: str
    k: int
    iters: int


def _ivf_quantizer(emb: DataFrame, k: int, iters: int) -> _Quantizer:
    """IVF: cosine k-means over the whole vectors (sub_id 0). The float
    means are carried as exact doubles, so ``c_norm`` is the fold
    :func:`_dot` takes over the float centroid, bit for bit."""
    return _Quantizer(
        _with_norm(emb).select("vec_id", "embedding", "_norm").cache(),
        _centroid_assign,
        F.lit(0),
        F.col("embedding").cast("array<double>"),
        "centroid_id int, c_emb array<float>, c_norm double",
        k,
        iters,
    )


def _lloyd_fit(
    emb: DataFrame, *quantizers: _Quantizer, fit_sample_mod: int | None = None
) -> list[tuple[DataFrame, DataFrame]]:
    """Deterministic k-means of one or more quantizers of ``emb`` in ONE
    Lloyd loop; returns each quantizer's (final assignment of its whole
    source, centroid table as a one-partition driver literal).

    Init: the source rows of the ``k`` lowest vec_ids, numbered 1..k in
    vec_id order per sub_id. Round r re-assigns each quantizer with
    r < iters; the outputs are tagged with the quantizer's index ``q``
    and unioned, ONE means update casts the means through FLOAT
    (absorbs sum-order drift between engines), and ONE collect brings
    the (q, sub_id, centroid_id, c, c_norm) rows (k × dim values per
    quantizer, as MLlib's KMeans collects) to the driver, split by q.
    So a fit runs 1 + max(iters) collects, the quantizers' stages of a
    round run side by side, and each round's plan stays flat.

    ``fit_sample_mod=s`` runs the init and rounds on the deterministic
    ``vec_id % s == 0`` sample (a quantizer needs cluster GEOMETRY, not
    every point); the final assignment still covers the full corpus.
    The sources stay cached: the final assignments are lazy and their
    full-corpus pass still reads them (``session.release_caches``)."""
    if fit_sample_mod:
        emb = emb.filter(F.col("vec_id") % fit_sample_mod == 0)
    fits = [
        q.source.filter(F.col("vec_id") % fit_sample_mod == 0).cache()
        if fit_sample_mod else q.source
        for q in quantizers
    ]
    rows: list = [None] * len(quantizers)

    def tagged(frames: dict) -> DataFrame:
        return functools.reduce(DataFrame.union, [
            f.select(
                F.lit(i).cast("tinyint").alias("q"),
                quantizers[i].sub.alias("sub_id"),
                "centroid_id",
                quantizers[i].vec.alias("c"),
            )
            for i, f in frames.items()
        ])

    def collect(cents: DataFrame, live) -> None:
        got = cents.withColumn("c_norm", F.sqrt(_dot("c", "c"))).collect()
        got.sort(key=lambda r: (r["sub_id"], r["centroid_id"]))
        for i in live:
            names = [f.split()[0] for f in quantizers[i].cents.split(", ")]
            row = Row(*names)  # the table's names; its c_emb is c
            rows[i] = [
                row(*(r["c" if n == "c_emb" else n] for n in names))
                for r in got if r["q"] == i
            ]

    frames = {
        i: fit.join(
            F.broadcast(emb.orderBy("vec_id").limit(q.k).select("vec_id")), "vec_id"
        ).withColumnRenamed("vec_id", "centroid_id")
        for i, (q, fit) in enumerate(zip(quantizers, fits))
    }
    # the init rows carry their vec_id as centroid_id until numbered
    collect(tagged(frames).withColumn("centroid_id", F.row_number().over(
        Window.partitionBy("q", "sub_id").orderBy("centroid_id")
    )), frames)
    for r in range(max(q.iters for q in quantizers)):
        frames = {
            i: q.assign(fit, rows[i])
            for i, (q, fit) in enumerate(zip(quantizers, fits)) if r < q.iters
        }
        means = (
            tagged(frames)
            .select("q", "sub_id", "centroid_id", F.posexplode("c").alias("dim", "x"))
            .groupBy("q", "sub_id", "centroid_id", "dim")
            .agg(F.avg("x").alias("m"))
            .groupBy("q", "sub_id", "centroid_id")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("_sm"))
            .select("q", "sub_id", "centroid_id", F.expr(
                "transform(_sm, s -> CAST(CAST(s.m AS FLOAT) AS DOUBLE))"
            ).alias("c"))
        )
        collect(means, frames)
    return [
        (q.assign(q.source, cents), _literal_df(emb.sparkSession, cents, q.cents))
        for q, cents in zip(quantizers, rows)
    ]


def _probe(q: DataFrame, cents: DataFrame, nprobe: int, *keep: str) -> DataFrame:
    """(query_id, *keep, centroid_id) for each query's ``nprobe``
    nearest coarse centroids — the first stage of every IVF route.
    ``q`` is a :func:`_query_side` frame; it is ranked against the
    broadcast centroid table by cosine quantized to 9 dp, ties to the
    lowest centroid_id (the fit's assignment contract)."""
    return (
        q.crossJoin(F.broadcast(cents))
        .withColumn(
            "_cos",
            F.round(_dot("q_emb", "c_emb") / (F.col("q_norm") * F.col("c_norm")), 9),
        )
        .withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("_cos").desc(), F.col("centroid_id")
                )
            ),
        )
        .filter(F.col("_rk") <= nprobe)
        .select("query_id", *keep, "centroid_id")
    )


def ivf_topk(
    emb: DataFrame,
    k: int = ANN_LSH_TOPK,
    query_mod: int = ANN_QUERY_MOD,
    n_clusters: int | str | None = None,
    nprobe: "int | str" = 2,
    fit_sample_mod: int | None = None,
    index: "IvfPqIndex | None" = None,
) -> DataFrame:
    """IVF ANN: search only the members of the query's ``nprobe``
    nearest coarse clusters — the candidate join is keyed on
    centroid_id (posting-list lookup), never a cross join.
    ``n_clusters``: None → deterministic oracle default, "auto" → √N
    (bounds posting-list length as N grows), int → as given.
    ``index``: a prefit :class:`IvfPqIndex` — only its IVF half
    (members/cents) is used; skips the Lloyd fit."""
    if index is not None:
        members, cents = index.members, index.cents
    else:
        ((members, cents),) = _lloyd_fit(
            emb, _ivf_quantizer(emb, _resolve_clusters(emb, n_clusters), 3),
            fit_sample_mod=fit_sample_mod,
        )
    nprobe = _resolve_nprobe(nprobe, cents)
    members = members.cache()
    q = _query_side(members.filter(F.col("vec_id") % query_mod == 0))
    cand = (
        _probe(q, cents, nprobe, "q_emb", "q_norm")
        .join(members, "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    return _cosine_rank(cand, k)


def embedding_neardup(
    emb: DataFrame,
    threshold: float = 0.4,
    n_planes: int | str | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, candidates restricted to a
    shared LSH bucket (the dedup-by-embedding flavor of the ANN index:
    the join is keyed on the bucket, never a cross join). Pass
    ``n_planes="auto"`` (or an explicit count) at scale: plane count
    then grows with log2(N) via ``params.lsh_planes_for``, keeping the
    within-bucket candidate join bounded; the default stays the
    oracle-mirrored fixed-plane path. More planes strictly refine
    buckets, so the auto pair set is a subset of the default's —
    multi-probe is the recall knob if that subset is too tight."""
    p = _resolve_planes(emb, n_planes)
    base = _with_norm(emb).withColumn("bucket", lsh_bucket_col(p))
    a = base.select(
        F.col("vec_id").alias("vec_id_a"),
        F.col("embedding").alias("emb_a"),
        F.col("_norm").alias("norm_a"),
        "bucket",
    )
    b = base.select(
        F.col("vec_id").alias("vec_id_b"),
        F.col("embedding").alias("emb_b"),
        F.col("_norm").alias("norm_b"),
        F.col("bucket").alias("bucket_b"),
    )
    joined = a.join(
        b,
        (F.col("bucket") == F.col("bucket_b"))
        & (F.col("vec_id_a") < F.col("vec_id_b")),
    )
    cos = F.round(
        _dot("emb_a", "emb_b") / (F.col("norm_a") * F.col("norm_b")), 6
    )
    return joined.select("vec_id_a", "vec_id_b", cos.alias("cosine")).filter(
        F.col("cosine") >= threshold
    )


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.4,
    n_clusters: int | str | None = None,
    iters: int = 3,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication", public): cluster the embeddings with the same
    deterministic k-means coarse quantizer as the IVF index, then
    compare vectors ONLY within their cluster — pairs with cosine ≥
    ``threshold`` are semantic duplicates (keep min(vec_id), drop the
    rest, exactly like the MinHash route's keeper rule).

    Scale: the candidate join is keyed on ``centroid_id`` — never a
    cross join — and cluster count grows with N (SemDeDup uses
    sqrt-ish k), bounding within-cluster quadratic work the same way
    LSH bucket count does for :func:`embedding_neardup`. The two
    routes are complementary signals: LSH buckets approximate angular
    locality with fixed planes; k-means clusters adapt to the actual
    embedding distribution.

    ``n_clusters``: None → deterministic oracle default, "auto" → √N
    via ``params.kmeans_clusters_for``, int → as given.
    """
    ((members, _),) = _lloyd_fit(
        emb, _ivf_quantizer(emb, _resolve_clusters(emb, n_clusters), iters)
    )
    a = members.select(
        "centroid_id",
        F.col("vec_id").alias("vec_id_a"),
        F.col("embedding").alias("emb_a"),
        F.col("_norm").alias("norm_a"),
    )
    b = members.select(
        F.col("centroid_id").alias("centroid_b"),
        F.col("vec_id").alias("vec_id_b"),
        F.col("embedding").alias("emb_b"),
        F.col("_norm").alias("norm_b"),
    )
    joined = a.join(
        b,
        (F.col("centroid_id") == F.col("centroid_b"))
        & (F.col("vec_id_a") < F.col("vec_id_b")),
    )
    cos = F.round(_dot("emb_a", "emb_b") / (F.col("norm_a") * F.col("norm_b")), 6)
    return (
        joined.select(
            F.col("centroid_id").cast("long").alias("centroid_id"),
            "vec_id_a",
            "vec_id_b",
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def lsh_topk(
    emb: DataFrame,
    k: int = ANN_LSH_TOPK,
    query_mod: int = ANN_QUERY_MOD,
    n_planes: int | str | None = None,
    multi_probe: int = 0,
) -> DataFrame:
    """ANN top-k: exact cosine, but only among candidates sharing the
    query's LSH bucket — the join is keyed ON the bucket. ``n_planes``
    as in :func:`embedding_neardup`: "auto" derives log2(N) planes so
    bucket population stays bounded at scale.

    ``multi_probe`` is THE recall knob (Lv et al. 2007, "Multi-probe
    LSH", public): ``multi_probe=1`` additionally probes every bucket
    at Hamming distance 1 from the query's own (each of the ``p`` sign
    bits flipped once), so a near neighbor that landed just across one
    hyperplane is still found. Cost shape is unchanged — the query
    side explodes to ``p+1`` probe rows per query (still broadcast;
    queries are the small side) and the join stays keyed on the bucket;
    probe buckets are distinct values, so no candidate pair is produced
    twice. Recall strictly grows with the probe radius while candidate
    volume grows only additively (one extra bucket per flipped bit),
    which is why multi-probe beats lowering the plane count: fewer
    planes would grow EVERY bucket multiplicatively. Radius > 1 probes
    all masks of popcount <= multi_probe (combinatorial — keep <= 2).
    The oracle mirrors the deterministic single-probe default."""
    p = _resolve_planes(emb, n_planes)
    base = _with_norm(emb).withColumn("bucket", lsh_bucket_col(p))
    q = _query_side(
        base.filter(F.col("vec_id") % query_mod == 0),
        F.col("bucket").alias("q_bucket"),
    )
    if multi_probe:
        from itertools import combinations

        masks = [0] + [
            sum(1 << b for b in bits)
            for r in range(1, multi_probe + 1)
            for bits in combinations(range(p), r)
        ]
        q = q.withColumn(
            "q_bucket",
            F.explode(
                F.array(
                    *[
                        F.col("q_bucket").bitwiseXOR(F.lit(mask)).cast("long")
                        for mask in masks
                    ]
                )
            ),
        )
    c = base.select("vec_id", "embedding", "_norm", "bucket")
    joined = c.join(
        F.broadcast(q),
        (F.col("bucket") == F.col("q_bucket")) & (F.col("vec_id") != F.col("query_id")),
    )
    return _cosine_rank(joined, k)


def _floor_q(col: F.Column, dp: int) -> F.Column:
    """Half-up quantizer for NON-NEGATIVE doubles via
    floor(x·10^dp + 0.5)/10^dp. Unlike ``F.round`` (Java BigDecimal
    HALF_UP on the shortest-decimal representation) vs DuckDB ``ROUND``
    (on the binary double), this computes the identical IEEE ops in
    both engines, so half-boundary doubles can never disagree — the
    same trick ``gap_fill_interpolate`` uses, applied to every PQ
    distance. Non-negative inputs only (floor+0.5 is half-toward-+inf,
    which differs from HALF_UP for negatives; squared L2 is >= 0)."""
    s = 10.0 ** dp
    return F.floor(col * F.lit(s) + F.lit(0.5)) / F.lit(s)


def _pq_code_argmin(source: DataFrame, cent_rows) -> DataFrame:
    """Nearest PQ centroid per (vec, sub) row over the collected
    codebook: ``source`` carries (vec_id, sub_id, se) and the output
    appends (centroid_id, _d). One ``mapInArrow`` step runs
    :func:`lloyd.l2_argmin` per sub_id in each Arrow batch: the
    distance is :func:`_sub_l2sq`'s fold and floor-based 9-dp half-up
    quantizer, ties to the lowest centroid_id, bit-identical to the
    Spark SQL argmin that tests/test_similarity.py keeps as the
    reference, with no exchange. A source row whose sub_id has no
    codebook entry is DROPPED, as an inner join on sub_id would drop
    it; unreachable while fit sampling covers all sub_ids. Shared by the
    Lloyd rounds and the final assignment of :func:`_lloyd_fit` and the
    frozen-codebook batch encode of :func:`ivf_pq_append`."""
    import numpy as np
    import pyarrow as pa

    by_sub: dict = {}
    for r in sorted(cent_rows, key=lambda r: (r["sub_id"], r["centroid_id"])):
        by_sub.setdefault(int(r["sub_id"]), []).append(r)
    books = {
        s: (
            np.array([r["centroid_id"] for r in rows], dtype=np.int32),
            _list_rows([r["c"] for r in rows]),
        )
        for s, rows in by_sub.items()
    }

    def assign(batches):
        for b in batches:
            sub = b.column("sub_id")
            valid = sub.is_valid().to_numpy(zero_copy_only=False)
            sub = sub.fill_null(0).to_numpy(zero_copy_only=False)
            x = lloyd.dense_rows(b.column("se"))
            keep = np.zeros(b.num_rows, dtype=bool)
            code = np.zeros(b.num_rows, dtype=np.int32)
            dist = np.zeros(b.num_rows)
            dist_null = np.zeros(b.num_rows, dtype=bool)
            for s, (ids, book) in books.items():
                at = np.flatnonzero(valid & (sub == s))
                best, dist[at], dist_null[at] = lloyd.l2_argmin(
                    lloyd.Rows(x.vals[at], x.lens[at], x.null[at]), book
                )
                code[at] = ids[best]
                keep[at] = True
            if keep.any():
                out = b.filter(pa.array(keep))
                out = out.append_column("centroid_id", pa.array(code[keep]))
                yield out.append_column(
                    "_d", pa.array(dist[keep], mask=dist_null[keep])
                )

    return source.select("vec_id", "sub_id", "se").mapInArrow(
        assign,
        "vec_id bigint, sub_id int, se array<double>, centroid_id int, _d double",
    )


def _sub_l2sq(a: str, b: str) -> F.Column:
    """Squared L2 distance between two double arrays — quantized to
    9 dp (floor-based half-up, see :func:`_floor_q`) before ranking so
    engine FP drift can't reorder assignments (same contract as the
    cosine quantizers above)."""
    return _floor_q(
        F.expr(
            f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
            f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        ),
        9,
    )


def pq_codes(
    emb: DataFrame, m: int = 4, k: int = 16, iters: int = 2
) -> DataFrame:
    """Product quantization (Jégou et al. 2011, public): split each
    D-dim embedding into ``m`` contiguous subvectors, learn a
    deterministic k-means codebook of ``k`` centroids per subspace
    (init = the subvectors of the ``k`` lowest vec_ids, ``iters`` fixed
    Lloyd rounds, squared-L2 assignment), and emit each vector's code
    word — ``m`` small integers replacing D floats (64-dim float →
    4 bytes at m=4/k=16: a 64× memory cut for ANN candidate storage).

    Output: (vec_id, codes — the m centroid ids ordered by subspace,
    joined as a ','-string so the row is hashable by the driver's
    order-insensitive compare —, qerr = total squared quantization
    error, rounded).

    Scale shape: the fit is :func:`_lloyd_fit`, the loop the IVF
    quantizer runs too — per round the m·k centroids are collected and
    shipped to a map-only assign kernel keyed on ``sub_id`` (the MLlib
    pattern); the codebook update is one shuffle keyed by (sub,
    centroid, dim) with map-side partial sums. At 100 TB fit the
    codebook on a uniform sample and apply assignment to the full data
    — quantizer geometry doesn't need every point.

    D must be divisible by ``m`` — checked against the first row's
    dimension (one cheap action; the fit collects centroids anyway), a
    ragged tail would otherwise be SILENTLY dropped from every code
    word by the slice arithmetic, identically in both engines, so the
    oracle could never catch it.
    Determinism: distances quantized to 9 dp with centroid-id
    tie-break; per-dim means cast through FLOAT (absorbs sum-order
    drift between engines) — mirrored exactly by the DuckDB oracle.
    """
    ((final, _),) = _lloyd_fit(emb, _pq_quantizer(emb, m, k, iters))
    return final.groupBy("vec_id").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(sub_id, "
            "centroid_id))), s -> CAST(s.centroid_id AS STRING)), ',')"
        ).alias("codes"),
        _floor_q(F.sum("_d"), 6).alias("qerr"),
    )


def _pq_subvectors(emb: DataFrame, m: int, expect_dim: int | None = None) -> DataFrame:
    """(vec_id, sub_id, se): the m contiguous double-cast subvectors.

    ``expect_dim`` embeds a per-row guard that raises on any row whose
    dimension differs — ragged corpora fail LOUDLY during the normal
    pass instead of silently dropping trailing dims, at zero extra
    scans (the r5-review replacement for the full-table min/max agg)."""
    dsub = f"(size(embedding) DIV {m})"
    guard = (
        f"IF(size(embedding) = {expect_dim}, embedding, "
        f"raise_error(concat('PQ: ragged embedding dim ', size(embedding), "
        f"' != {expect_dim}')))"
        if expect_dim is not None
        else "embedding"
    )
    return emb.withColumn("_emb", F.expr(guard)).select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s + 1).alias("sub_id"),
                        F.expr(
                            f"transform(slice(_emb, {s} * {dsub} + 1, "
                            f"{dsub}), x -> CAST(x AS DOUBLE))"
                        ).alias("se"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("_s"),
    ).select("vec_id", "_s.sub_id", "_s.se")


def _pq_quantizer(
    emb: DataFrame, m: int, k: int, iters: int, dim: int | None = None
) -> _Quantizer:
    """PQ (:func:`pq_codes`): squared-L2 k-means per subspace (one
    codebook per sub_id) over the m subvectors. Callers that know the
    embedding ``dim`` pass it so the divisibility check costs no
    action."""
    # dim discovery is one O(1) first(); a PER-ROW raise_error guard in
    # _pq_subvectors enforces it, with no full-table scan
    if dim is None:
        row = emb.select(F.size("embedding").alias("d")).first()
        dim = None if row is None or row["d"] is None else int(row["d"])
    if dim is not None and dim % m != 0:
        raise ValueError(
            f"embedding dim {dim} not divisible by m={m}: the "
            "slice arithmetic would silently drop the trailing dims "
            "from every subspace"
        )
    return _Quantizer(
        _pq_subvectors(emb, m, expect_dim=dim).cache(),
        _pq_code_argmin,
        F.col("sub_id"),
        F.col("se"),
        "sub_id int, centroid_id int, c array<double>",
        k,
        iters,
    )


def pq_topk(
    emb: DataFrame,
    k: int = ANN_LSH_TOPK,
    query_mod: int = ANN_QUERY_MOD,
    m: int = 4,
    n_centroids: int = 16,
    iters: int = 2,
) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k: rank every candidate against
    each query by the sum of per-subspace distances between the QUERY'S
    EXACT subvectors and the CANDIDATE'S CODEBOOK CENTROIDS — the
    candidate side is touched only through its m-integer code word,
    never its floats (Jégou et al. 2011's ADC).

    Scale shape: per query the m·k-entry distance table is one
    broadcast-codebook join over the query's m subvector rows; the scan
    is then a join of the (vec_id, sub_id, centroid_id) code table
    against the distance table KEYED ON (sub_id, centroid_id) — integer
    keys, no floats on the candidate side — followed by a map-side
    combinable (query, vec) sum and a distributed top-k. Per-candidate
    work is m lookups + adds vs D multiplies for brute cosine. At
    100 TB compose with the IVF coarse quantizer (:func:`ivf_topk`)
    so each query's code scan covers only ``nprobe`` posting lists
    instead of all N codes.

    Use as a SHORTLIST generator, not a final ranker: quantization
    noise at practical (m, k) makes ADC rank-5 precision poor while
    shortlist containment stays high (measured on clustered synth:
    recall@5 ≈ 0.2 but 72% of the brute top-5 inside the ADC top-20 —
    same numbers from a NumPy replication of the identical algorithm,
    i.e. inherent PQ coarseness, not implementation loss). Feed the
    top-``k`` shortlist to an exact re-rank (:func:`cosine_topk`
    restricted to shortlist members) exactly as IVF+PQ systems do.

    Determinism: table entries quantized to 9 dp, the ADC sum to 6 dp
    (both floor-based half-up, engine-agnostic) — mirrored by the
    DuckDB oracle.
    """
    ((final, cents),) = _lloyd_fit(emb, _pq_quantizer(emb, m, n_centroids, iters))
    codes = final.select("vec_id", "sub_id", "centroid_id")
    queries = emb.filter(F.col("vec_id") % query_mod == 0)
    _check_dtable_bound(queries, m, n_centroids)
    qsub = _pq_subvectors(queries, m).select(
        F.col("vec_id").alias("query_id"), "sub_id", "se"
    )
    dtable = qsub.join(F.broadcast(cents), "sub_id").select(
        "query_id",
        "sub_id",
        "centroid_id",
        _sub_l2sq("se", "c").alias("_qd"),
    )
    # The (sub_id, centroid_id) key space is intentionally tiny (m·k
    # values), so a SHUFFLE join here would hash N·m code rows onto
    # m·k keys — pathological skew by construction. The distance table
    # is therefore explicitly broadcast (Q·m·k rows, ~30 B each): ADC
    # is a map-side table lookup over the code scan, which is the whole
    # point of the algorithm. At 100 TB keep Q bounded per pass (batch
    # the query set) so the table stays broadcastable.
    scored = (
        codes.join(F.broadcast(dtable), ["sub_id", "centroid_id"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(_floor_q(F.sum("_qd"), 6).alias("adc_dist"))
    )
    return (
        scored.withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("adc_dist").asc(), F.col("vec_id").asc()
                )
            ),
        )
        .filter(F.col("rank") <= k)
    )


def pq_rerank_topk(
    emb: DataFrame,
    k: int = ANN_LSH_TOPK,
    shortlist: "int | str" = 20,
    query_mod: int = ANN_QUERY_MOD,
    m: int = 4,
    n_centroids: int = 16,
    iters: int = 2,
) -> DataFrame:
    """The full production PQ pattern: ADC shortlist → EXACT cosine
    re-rank. :func:`pq_topk` generates each query's ``shortlist``
    candidates touching only integer code words; this joins the exact
    embeddings back for ONLY those shortlist pairs (Q·shortlist rows,
    not Q·N) and ranks by true cosine.

    Scale: the expensive exact math runs on Q·shortlist pairs — the
    candidate corpus is never scanned with floats. The embedding
    join-back is keyed on vec_id (and query_id), co-partitioned or
    broadcast by AQE. Determinism: cosine quantized to 6 dp, vec_id
    tie-break, as everywhere in this module.
    """
    # no probe dial on the flat-PQ route (ADC scans every code), so
    # "auto" anchors at the oracle-default probe budget: 2·2·k = 4k,
    # floored at 20 — the same resolver, nprobe pinned to its default.
    shortlist = _resolve_shortlist(shortlist, 2, k)
    sl = pq_topk(
        emb,
        k=shortlist,
        query_mod=query_mod,
        m=m,
        n_centroids=n_centroids,
        iters=iters,
    ).select("query_id", "vec_id")
    base = _with_norm(emb)
    joined = sl.join(_candidate_side(base), "vec_id").join(
        _query_side(base), "query_id"
    )
    return _cosine_rank(joined, k, "c_emb", "c_norm")


def _check_dtable_bound(
    queries: DataFrame, m: int, n_centroids: int, max_rows: int = PQ_MAX_DTABLE_ROWS
) -> int:
    """Enforce (not just document) the "batch the query set" contract:
    the ADC distance table has Q·m·n_centroids rows and is ALWAYS
    broadcast — a shuffle join on its tiny (sub, centroid) key space
    would be pathological skew by construction — so an unbounded query
    population would push the broadcast past executor memory and fail
    the job late and confusingly. One cheap count on the
    filter-pushdown query scan; raises with the batching remedy when
    the table would exceed ``max_rows`` (~30 B/row: the default bound
    is ~1.5 GB, inside Spark's 8 GB broadcast hard cap with headroom)."""
    q_n = queries.count()
    rows = q_n * m * n_centroids
    if rows > max_rows:
        raise ValueError(
            f"ADC distance table would have {rows} rows "
            f"({q_n} queries x m={m} x k={n_centroids}) — past the "
            f"broadcastable bound {max_rows}. Batch the query set "
            "(run pq_topk/ivf_pq_topk per query shard) instead."
        )
    return q_n


class IvfPqIndex(NamedTuple):
    """A fitted IVF×PQ index — fit ONCE, search many times.

    Production reuse shape (VERDICT r5 "What's wrong #3"): the fits are
    the dominant cost of a composed search (the Lloyd rounds,
    driver-roundtrip-bound), but they depend only on the corpus — not
    on the query set — so a caller running query batch after query
    batch should amortize them. :func:`fit_ivf_pq_index` materializes
    the four fitted frames (members/codes cached and counted, the two
    centroid tables already driver-literal), and
    :func:`ivf_pq_topk(..., index=...)` skips straight to the
    probe→ADC→re-rank stages. On a cluster the same frames would be
    written once as parquet and read per batch."""

    members: DataFrame  # (vec_id, embedding, _norm, centroid_id)
    cents: DataFrame  # IVF centroids as a driver-literal table
    codes: DataFrame  # (vec_id, sub_id, code_id) PQ code words
    pq_cents: DataFrame  # PQ codebook as a driver-literal table
    m: int
    n_centroids: int
    # cached frames this index privately owns beyond members/codes —
    # :func:`ivf_pq_append` stacks its per-batch cached frames here so
    # :meth:`unpersist` can release them (ADVICE r10: the appended
    # index's members/codes are LAZY unions, so unpersisting them is a
    # no-op and the per-batch caches would otherwise leak across reps
    # of a long-lived session).
    owned: tuple = ()
    # rows ingested since the FIT (the mass dial of :func:`needs_refit`).
    # ``None`` means "derive from the in-session append chain" (the sum
    # of the per-batch frames in ``owned`` — exact for any chain built
    # by :func:`ivf_pq_append` in this session). A
    # :func:`load_ivf_pq_index`-loaded index has an EMPTY chain, so the
    # count is persisted in the meta table and restored here explicitly
    # (VERDICT r11 ask #3: before this field, a loaded appended index
    # silently reported appended_rows=0 and the mass dial went blind
    # unless the caller tracked ingest externally).
    appended: "int | None" = None

    def unpersist(self) -> None:
        """Release every cached frame this index holds: the fit-time
        members/codes caches plus any append-time per-batch caches in
        ``owned``. Safe on lazy unions (no-op) and safe to call twice.
        Long-lived sessions that append repeatedly (the daily-batch
        posture; bench reps) MUST call this on the superseded index or
        the per-batch caches accumulate unboundedly."""
        for df in (self.members, self.codes, *self.owned):
            try:
                df.unpersist()
            except Exception:
                pass


def _resolve_pq_m(
    m: "int | str", n_centroids: int, n_vectors: int, dim: int | None
) -> int:
    """m-budget check for a PQ fit (VERDICT r8 ask #3, measured rule:
    docs/PLANS.md "ANN recall across the decades"). A code space of
    ``n_centroids**m`` distinct words smaller than the corpus forces
    ADC rank collisions no shortlist can undo — at 200k vectors the
    m=4 (16⁴ = 65 536) recall plateaued at 0.274 against a 0.463 probe
    ceiling for EVERY shortlist, while m=16 reached 97% of the ceiling.

    An int ``m`` passes through, warning loudly when it is ADC-bound
    for ``n_vectors`` (pilot corpora fit silently; the production-size
    corpus trips the warning before the index is built). ``"auto"``
    picks the smallest divisor of ``dim`` whose code space covers the
    corpus — the budget FLOOR, not the optimum (the measured recovery
    point used m=16; callers chasing the last recall points should
    still size m by measurement)."""
    if isinstance(m, str):
        if m != "auto":
            raise ValueError(f"m must be an int or 'auto', got {m!r}")
        if dim is None:
            raise ValueError("m='auto' needs the embedding dim")
        for cand in range(1, dim + 1):
            if dim % cand == 0 and n_centroids**cand >= n_vectors:
                return cand
        return dim
    m = int(m)
    if n_centroids**m < n_vectors:
        import warnings

        warnings.warn(
            f"PQ m={m} is ADC-bound for this corpus: {n_centroids}^{m} "
            f"= {n_centroids ** m} code words < {n_vectors} vectors, so "
            "ADC distances collide and recall plateaus below the probe "
            "ceiling regardless of shortlist (measured: m=4 caps "
            "recall@10 at 0.274 vs a 0.463 ceiling at 200k vectors; "
            "m=16 reaches 97% of it). Pass m='auto' or a larger "
            "divisor of the embedding dim.",
            RuntimeWarning,
            stacklevel=3,
        )
    return m


def recommend_quantizer(
    n_vectors: int,
    dim: int,
    memory_budget_bytes: "int | None" = None,
    n_centroids: int = 16,
) -> dict:
    """Pick the candidate-storage route for an IVF-composed ANN serve —
    the shipped-as-code form of the round-9 measurement (docs/SCALE.md
    "Recall at the 1000× serving point"): **wherever 1 byte/dim fits
    the memory budget, IVF×SQ8 dominates IVF×PQ on BOTH recall and
    serving cost** (ceiling-lossless 0.583 vs 0.538 recall@10, 46 s vs
    140 s per 40-query batch at 2M vectors), because SQ8 needs no
    codebook fit and its in-list ranking is near-exact, so the whole
    shortlist/re-rank recovery machinery PQ needs never runs. PQ keeps
    the regime it was built for: corpora whose ``N·dim`` bytes exceed
    the budget and need 16-64× compression.

    Pure arithmetic (no Spark action): callers size production routes
    from counts they already track, the same pattern as the
    :func:`_resolve_pq_m` budget check. Returns a dict with

    - ``route``: ``"sq8"`` or ``"pq"``;
    - ``bytes``: estimated candidate-storage bytes for that route
      (SQ8: N·dim codes + the 8·dim broadcast scale vector; PQ: N·m
      code bytes + the 8·dim·n_centroids codebook);
    - ``m``: the recommended PQ code width (None for sq8) — the
      :func:`_resolve_pq_m` "auto" floor, bumped until the code bytes
      fit the budget is impossible to satisfy below, in which case the
      smallest corpus-covering width is returned with ``fits=False``;
    - ``fits``: whether ``bytes`` <= the budget (always True when no
      budget is given — the caller asked only for the dominance rule);
    - ``reason``: one sentence for logs/ops review.

    ``memory_budget_bytes=None`` means "unconstrained": SQ8 wins by
    the dominance rule above.
    """
    if n_vectors < 0 or dim <= 0:
        raise ValueError(
            f"recommend_quantizer: need n_vectors >= 0 and dim > 0, "
            f"got n_vectors={n_vectors}, dim={dim}"
        )
    sq8_bytes = n_vectors * dim + 8 * dim
    if memory_budget_bytes is None or sq8_bytes <= memory_budget_bytes:
        return {
            "route": "sq8",
            "bytes": sq8_bytes,
            "m": None,
            "fits": True,
            "reason": (
                f"SQ8 candidate storage ({sq8_bytes} B = N*dim + scale "
                "vector) fits the budget; measured at 2M vectors "
                "(docs/SCALE.md): IVF*SQ8 is ceiling-lossless at ~3x "
                "lower serving cost than IVF*PQ, so PQ's extra "
                "compression buys nothing here"
            ),
        }
    # PQ regime: start from the recall floor (code space covers the
    # corpus) and verify the code bytes fit; wider m only costs MORE
    # memory, so if the floor doesn't fit nothing above it does —
    # report the floor honestly with fits=False instead of silently
    # under-sizing m below the ADC bound.
    m = _resolve_pq_m("auto", n_centroids, n_vectors, dim)
    pq_bytes = n_vectors * m + 8 * dim * n_centroids
    fits = pq_bytes <= memory_budget_bytes
    return {
        "route": "pq",
        "bytes": pq_bytes,
        "m": m,
        "fits": fits,
        "reason": (
            f"N*dim = {n_vectors * dim} B exceeds the budget "
            f"{memory_budget_bytes} B — the memory-bound regime PQ was "
            f"built for; m={m} is the smallest dim-divisor whose "
            f"{n_centroids}^m code space covers {n_vectors} vectors"
            + ("" if fits else
               f" — but even its {pq_bytes} B code storage exceeds the "
               "budget: shard the corpus or raise the budget")
        ),
    }


def _corpus_shape(
    emb: DataFrame, n_clusters: int | str | None
) -> tuple[int, "int | None", "int | None"]:
    """(IVF list count, corpus size, embedding dim) for an IVF×PQ fit,
    from at most one count and one O(1) ``first()``: the size is the
    auto-k resolver's count (None unless ``n_clusters="auto"``), and the
    dim probe is shared with :func:`_pq_quantizer`'s divisibility check. Dim is
    None on an empty corpus."""
    if n_clusters == "auto":
        n_vectors = emb.count()
        k_ivf = kmeans_clusters_for(n_vectors)
    else:
        k_ivf = _resolve_clusters(emb, n_clusters)
        n_vectors = None
    row = emb.select(F.size("embedding").alias("d")).first()
    dim = None if row is None or row["d"] is None else int(row["d"])
    return k_ivf, n_vectors, dim


def _fit_ivf_pq(
    emb: DataFrame,
    k_ivf: int,
    dim: "int | None",
    ivf_iters: int,
    m: int,
    n_centroids: int,
    pq_iters: int,
    fit_sample_mod: int | None,
) -> IvfPqIndex:
    """Both quantizer fits of an IVF×PQ index, LAZY: members and codes
    are returned unmaterialized. :func:`fit_ivf_pq_index` caches and
    counts them; ``ivf_pq_topk(index=None)`` searches them directly, so
    the inline search and the prefit one run the same fit. The two
    quantizers are independent (coarse IVF over the full vectors, PQ
    codebooks over the subvectors) and fit in one Lloyd loop."""
    (members, cents), (final, pq_cents) = _lloyd_fit(
        emb,
        _ivf_quantizer(emb, k_ivf, ivf_iters),
        _pq_quantizer(emb, m, n_centroids, pq_iters, dim),
        fit_sample_mod=fit_sample_mod,
    )
    codes = final.select(
        "vec_id", "sub_id", F.col("centroid_id").alias("code_id")
    )
    return IvfPqIndex(members, cents, codes, pq_cents, m, n_centroids)


def fit_ivf_pq_index(
    emb: DataFrame,
    n_clusters: int | str | None = None,
    ivf_iters: int = 3,
    m: "int | str" = 4,
    n_centroids: int = 16,
    pq_iters: int = 2,
    fit_sample_mod: int | None = None,
    memory_budget_bytes: "int | None" = None,
) -> IvfPqIndex:
    """Run both fits of :func:`ivf_pq_topk` and materialize the
    results; identical parameters produce an identical index, so a
    prefit search returns exactly what the fit-inline search returns
    (pinned by tests/test_r6_ops.py).

    Budget ``m`` (PQ code width) for the TARGET corpus, not the pilot
    corpus — measured round 8 (docs/PLANS.md "ANN recall across the
    decades"): at 200k vectors the default m=4 is ADC-bound (recall@10
    plateaus at 0.274 against a 0.463 probe ceiling no matter the
    shortlist), m=16 reaches 97% of the ceiling at effectively
    unchanged serving cost. The oracle default stays m=4 (hash-pinned);
    production fits at 100k+ vectors should pass m=8..16. Pair with
    nprobe scaled ∝ nlist at search time (constant scan fraction) —
    fixed dials lose recall ×√10 per corpus decade.

    Round 9: the budget rule is ENFORCED — an int ``m`` whose
    ``n_centroids**m`` code space is smaller than the corpus warns
    loudly at fit time, and ``m="auto"`` resolves the smallest
    dim-divisor that covers it (:func:`_resolve_pq_m`).

    Round 10: pass ``memory_budget_bytes`` to get the SQ8-dominance
    check (:func:`recommend_quantizer`) — when 1 byte/dim fits the
    budget, a loud RuntimeWarning says IVF×SQ8 beats the index being
    fitted on BOTH recall and serving cost (the round-9 2M-vector
    measurement) before the Lloyd rounds spend anything. Default None
    keeps the fit warning-free (the oracle-pinned path)."""
    k_ivf, n_vectors, dim = _corpus_shape(emb, n_clusters)
    # ADVICE r9: m='auto' on an empty corpus used to die with a bare
    # TypeError; every m now gets this named error before any fit runs
    if dim is None:
        raise ValueError(
            "fit_ivf_pq_index: empty embedding corpus — nothing to fit"
        )
    if n_vectors is None:
        n_vectors = emb.count()
    if memory_budget_bytes is not None:
        rec = recommend_quantizer(
            n_vectors, dim, memory_budget_bytes, n_centroids
        )
        if rec["route"] == "sq8":
            import warnings

            warnings.warn(
                "fit_ivf_pq_index: " + rec["reason"] + " — consider "
                "ivf_sq8_topk over this IVF*PQ index (the IVF half of "
                "the returned index drives it via index=).",
                RuntimeWarning,
                stacklevel=2,
            )
    m = _resolve_pq_m(m, n_centroids, n_vectors, dim)
    index = _fit_ivf_pq(
        emb, k_ivf, dim, ivf_iters, m, n_centroids, pq_iters, fit_sample_mod
    )
    index.members.cache().count()
    index.codes.cache().count()
    return index


def refit_ivf_pq_index(
    index: IvfPqIndex,
    n_clusters: int | str | None = "auto",
    release_old: bool = True,
    **fit_kwargs,
) -> IvfPqIndex:
    """Refit an append-grown index on its FULL current corpus — the
    action :func:`needs_refit` recommends, closing the ops loop::

        if needs_refit(idx)["refit"]:
            idx = refit_ivf_pq_index(idx)

    Reads (vec_id, embedding) back off the index's posting lists (the
    corpus-side cache plus the per-batch append caches — no source
    re-scan) and runs the normal :func:`fit_ivf_pq_index`, so centroids
    and codebooks are re-derived from the distribution that now
    includes the appended mass. Measured at the 10× drifted corpus
    (docs/SCALE.md "Refit path vs cold fit at 10×"): this path has NO
    wall-time or recall advantage over calling :func:`fit_ivf_pq_index`
    on the grown source frame directly — both build the same index.
    Its value is OPERATIONAL: it needs no path back to the original
    source, so a restarted serving job holding only the index can
    refit, and an object-store corpus is not re-scanned. When the
    grown source frame is at hand, either route is equally good. ``m``/``n_centroids`` default to the
    OLD index's values (pass overrides via ``fit_kwargs``) while
    ``n_clusters`` defaults to ``"auto"`` — the corpus GREW, so nlist
    should be re-sized ≈ √N rather than frozen at the old fit's count.
    ``release_old=True`` unpersists the caches the superseded index
    OWNS once the new fit is materialized (the fit actions inside
    ``fit_ivf_pq_index`` complete before the release, so nothing
    recomputes): its fit-time members/codes if it is a plain fit
    index, plus the whole per-batch append chain if it grew via
    :func:`ivf_pq_append`. One deliberate boundary: an appended
    index's members/codes are lazy unions over its BASE index's
    caches, which this index does not own — callers that still hold
    the base handle (the ``fit_ivf_pq_index`` return, or
    ``AnnIngestor._base``) release it themselves when the refit
    replaces the whole lineage."""
    corpus = index.members.select("vec_id", "embedding")
    fit_kwargs.setdefault("m", index.m)
    fit_kwargs.setdefault("n_centroids", index.n_centroids)
    new = fit_ivf_pq_index(corpus, n_clusters=n_clusters, **fit_kwargs)
    if release_old:
        index.unpersist()
    return new


def save_ivf_pq_index(index: IvfPqIndex, path: str) -> None:
    """Persist a fitted index as four parquet tables + a 1-row meta
    table — the cluster-native reuse shape the :class:`IvfPqIndex`
    docstring promises ("written once as parquet and read per batch"):
    a nightly fit job writes the index; any number of serving jobs
    (or a restarted cluster) :func:`load_ivf_pq_index` it without
    refitting. Everything goes through Spark writers, so ``path`` may
    be any Hadoop-compatible URI (HDFS/S3/local). At real scale write
    ``members`` with ``partitionBy("centroid_id")`` so a probe-
    restricted read prunes posting-list partitions at the scan; kept
    plain here because the harness corpora have sub-second scans."""
    index.members.write.mode("overwrite").parquet(f"{path}/members")
    index.cents.write.mode("overwrite").parquet(f"{path}/cents")
    index.codes.write.mode("overwrite").parquet(f"{path}/codes")
    index.pq_cents.write.mode("overwrite").parquet(f"{path}/pq_cents")
    spark = index.members.sparkSession
    # appended-since-fit mass rides the meta row (VERDICT r11 ask #3):
    # the written members table is the UNION of fit corpus + appends,
    # indistinguishable after a load, so without this column a loaded
    # index would report appended_rows=0 to needs_refit's mass dial.
    appended = (
        index.appended
        if index.appended is not None
        else sum(df.count() for df in index.owned if "embedding" in df.columns)
    )
    spark.createDataFrame(
        [(index.m, index.n_centroids, appended)],
        "m int, n_centroids int, appended_rows long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")


def load_ivf_pq_index(spark, path: str) -> IvfPqIndex:
    """Read an index written by :func:`save_ivf_pq_index`. The loaded
    index is search-identical to the fitted one (pinned by test):
    ``members``/``codes`` are cached+counted exactly as the fit leaves
    them, and the two centroid tables stay small broadcast-side frames.
    The meta row restores ``appended``-since-fit, so
    :func:`index_health` / :func:`needs_refit` reproduce the pre-save
    verdict with no external bookkeeping (pinned by
    tests/test_r12_guards.py). Indexes written before the meta column
    existed load with ``appended=0`` — the pre-r12 behavior."""
    md = spark.read.parquet(f"{path}/meta").first().asDict()
    members = spark.read.parquet(f"{path}/members").cache()
    members.count()
    codes = spark.read.parquet(f"{path}/codes").cache()
    codes.count()
    return IvfPqIndex(
        members,
        spark.read.parquet(f"{path}/cents"),
        codes,
        spark.read.parquet(f"{path}/pq_cents"),
        int(md["m"]),
        int(md["n_centroids"]),
        appended=int(md.get("appended_rows") or 0),
    )


def ivf_pq_append(
    index: IvfPqIndex, new_emb: DataFrame, check_duplicates: bool = True
) -> IvfPqIndex:
    """Append new vectors to a prefit index WITHOUT refitting — the
    between-refits ingest path (FAISS ``add`` semantics; the batch twin
    of ``incremental_neardup``'s daily-crawl posture): each new vector
    is assigned to its nearest FROZEN coarse centroid (the fit's cosine
    assign, :func:`_centroid_assign`) and encoded against the FROZEN
    per-subspace PQ codebooks (the fit's L2 assign,
    :func:`_pq_code_argmin`),
    then unioned into the posting lists and code table. Searches over
    the appended index therefore return EXACTLY what an index whose fit
    had produced these centroids/codebooks over (corpus ∪ new) would —
    pinned by the ``ann_serve_appended`` oracle and by the batch-split
    associativity test. Centroid/codebook quality degrades as appended
    mass shifts the true distribution; refit on snapshot cadence (the
    documented ``fit_dup_gram_stats``/``fit_dsir_logratio`` posture).

    Scale: assignment and encoding are map-only kernel passes over the
    batch (no exchange); the corpus-side frames are reused as-is, so a
    daily batch pays O(batch), not O(corpus). Duplicate vec_ids would silently
    shadow posting-list rows, so they are refused loudly — that check
    is the one corpus-touching step (a narrow vec_id scan of the
    cached members, no shuffle); ingest pipelines whose ids are fresh
    by construction (monotonic counters, snapshot offsets) pass
    ``check_duplicates=False`` to make the append touch the corpus
    frames not at all. Measured decade (docs/PLANS.md "Index append"):
    the appended-serve row tracks plain ann_serve with a sub-linear
    delta (+1.7 s at a 20k corpus, +2.4 s at 200k — linear-in-corpus
    would be ~10x, not 1.5x).
    """
    cent_rows = index.cents.collect()
    # the index's embedding dim, read off the already-collected coarse
    # centroids (free — no corpus touch): a batch whose dim differs
    # would otherwise yield null-padded zip_with distances and silently
    # wrong codes (ADVICE r10); fail loudly like fit_ivf_pq_index does.
    index_dim = len(cent_rows[0].c_emb)
    # Lifecycle guards, BATCHED into one driver action (optimization
    # round 14, VERDICT r13 ask #1): the cross-corpus shadow probe, the
    # in-batch shadow probe (ADVICE r10) and the dim/NULL probe
    # (ADVICE r11/r12) used to run as three sequential ~0.3-0.5 s
    # actions; unioned into ONE tagged limit-1 frame they run as
    # concurrent stages of a single job — per-guard error specificity
    # is preserved by inspecting the collected tags, and every guard
    # still fires BEFORE anything is cached (the cached-frame-leak
    # prevention the dim probe exists for). Each probe stays a narrow
    # vec_id/size projection; the per-row raise_error guard in
    # _pq_subvectors remains as defense in depth.
    # NULL embeddings must fail the dim probe too (ADVICE r12): for a
    # NULL embedding size() is NULL, `size != index_dim` is NULL, and
    # the row would otherwise be DROPPED from the probe.
    probes = []
    if check_duplicates:
        probes.append(
            new_emb.select("vec_id")
            .join(index.members.select("vec_id"), "vec_id")
            .limit(1)
            .select(
                F.lit("shadow").alias("check"),
                F.lit(None).cast("int").alias("d"),
            )
        )
        probes.append(
            new_emb.groupBy("vec_id")
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .select(
                F.lit("in_batch").alias("check"),
                F.lit(None).cast("int").alias("d"),
            )
        )
    probes.append(
        new_emb.filter(
            F.col("embedding").isNull()
            | (F.size("embedding") != index_dim)
        )
        .limit(1)
        .select(
            F.lit("bad_dim").alias("check"),
            F.size("embedding").alias("d"),
        )
    )
    p = probes[0]
    for extra in probes[1:]:
        p = p.unionByName(extra)
    violations = {r["check"]: r for r in p.collect()}
    if "shadow" in violations:
        raise ValueError(
            "ivf_pq_append: new_emb shares vec_ids with the index "
            "corpus — appending would shadow existing posting-list "
            "rows; re-key the batch or dedup first"
        )
    if "in_batch" in violations:
        raise ValueError(
            "ivf_pq_append: new_emb contains duplicate vec_ids "
            "within the batch — appending would create shadowed "
            "posting-list rows; dedup the batch first"
        )
    if "bad_dim" in violations:
        d = violations["bad_dim"]["d"]
        got = "NULL" if d is None else d
        raise ValueError(
            f"ivf_pq_append: batch embedding dim {got} != index "
            f"dim {index_dim} — assignment and PQ encoding against the "
            "frozen centroids/codebooks would be silently wrong"
        )
    new_members = _centroid_assign(_with_norm(new_emb), cent_rows).cache()
    n_new = new_members.count()  # materialize ONLY the batch side — O(batch)
    # the union stays a lazy view over two cached frames: re-caching it
    # would copy the whole corpus-side members again, an O(corpus) pass
    # that made the first cut of this function scale with the index
    # instead of the batch (measured: +1.5 s at 10x vs +2.1 s at 100x
    # before the fix)
    members = index.members.unionByName(new_members)
    subs = _pq_subvectors(new_emb, index.m, expect_dim=index_dim)
    new_codes = _pq_code_argmin(subs, index.pq_cents.collect()).select(
        "vec_id", "sub_id", F.col("centroid_id").alias("code_id")
    )
    new_codes = new_codes.cache()
    new_codes.count()
    codes = index.codes.unionByName(new_codes)
    return IvfPqIndex(
        members,
        index.cents,
        codes,
        index.pq_cents,
        index.m,
        index.n_centroids,
        # stack this batch's caches on the parent's so unpersist() on
        # the newest index releases the whole append chain (the parent
        # fit-time caches stay live: unpersisting the lazy unions above
        # them is a Spark no-op on the underlying cached frames).
        owned=index.owned + (new_members, new_codes),
        # a base with an EXPLICIT appended count (a loaded index) keeps
        # it running — its pre-save appends are invisible to the owned
        # chain; an in-session base stays on chain derivation (None).
        appended=(
            index.appended + n_new if index.appended is not None else None
        ),
    )


def index_health(index: IvfPqIndex, appended_rows: "int | None" = None) -> dict:
    """Index-health statistics for the refit decision (VERDICT r10 ask
    #3): :func:`ivf_pq_append` keeps centroids/codebooks FROZEN, so as
    appended mass grows the coarse quantizer drifts off the true data
    distribution and recall decays silently — these are the numbers an
    ops loop watches to catch that before it costs recall.

    One small aggregation (``groupBy(centroid_id).count()`` over the
    cached members — k output rows, one shuffle of pre-aggregated
    partials) plus counts of the already-cached per-batch append frames;
    never a corpus-wide collect. Returns a dict with

    - ``n_vectors``: total posting-list rows (corpus + appended);
    - ``appended_rows``: rows ingested since the fit — the index's own
      persisted count when it has one (a
      :func:`load_ivf_pq_index`-loaded index restores it from the meta
      table and :func:`ivf_pq_append` keeps it running), else derived
      from the in-session append chain (``owned``); pass
      ``appended_rows=`` to override with an externally-tracked count
      (e.g. ``streaming.AnnIngestor.appended``);
    - ``appended_fraction``: appended_rows / n_vectors;
    - ``n_lists`` / ``empty_lists``: coarse posting lists total/empty;
    - ``max_list`` / ``mean_list`` / ``imbalance``: the largest list,
      the mean over non-empty lists, and their ratio — a frozen-centroid
      index ingesting drifted data funnels the new mass into few lists,
      so imbalance rising above the fit-time value is the drift smell
      (measured: docs/SCALE.md "Append-without-refit recall decay").
    """
    sizes = (
        index.members.groupBy("centroid_id").count().collect()
    )
    counts = [r["count"] for r in sizes]
    n_vectors = sum(counts)
    if appended_rows is None:
        # precedence: caller override > the index's persisted count
        # (set by load_ivf_pq_index and kept running by ivf_pq_append)
        # > in-session append-chain derivation.
        if index.appended is not None:
            appended_rows = index.appended
        else:
            appended_rows = sum(
                df.count() for df in index.owned if "embedding" in df.columns
            )
    mean_list = n_vectors / len(counts) if counts else 0.0
    max_list = max(counts) if counts else 0
    nlist = index.cents.count()  # driver-literal frame: nlist rows
    return {
        "n_vectors": n_vectors,
        "appended_rows": appended_rows,
        "appended_fraction": (
            appended_rows / n_vectors if n_vectors else 0.0
        ),
        "n_lists": nlist,
        "empty_lists": nlist - len(counts),
        "max_list": max_list,
        "mean_list": mean_list,
        "imbalance": (max_list / mean_list) if mean_list else 0.0,
    }


def needs_refit(
    index: IvfPqIndex,
    appended_rows: "int | None" = None,
    max_appended_fraction: float = 0.35,
    max_imbalance: float = 3.0,
    health: "dict | None" = None,
    baseline_imbalance: "float | None" = None,
) -> dict:
    """Decide whether an append-grown index should be refit — the
    shipped-as-code form of the round-11 measurement (docs/SCALE.md
    "Append-without-refit recall decay"), in the
    :func:`recommend_quantizer` style. What the measurement says the
    two dials are FOR: same-distribution appends are cheap (the
    appended-vs-refit recall@10 gap stayed inside the ±0.04 noise band
    even with appended mass equal to the original corpus), so the
    mass dial defaults loose (0.35) and guards slow staleness;
    DRIFTED appends announce themselves through posting-list
    imbalance long before recall visibly decays (a +1.0 mean-shift at
    just 9% of index mass drove imbalance 1.24 → 3.78; 33% → 10.9),
    so the imbalance dial (3.0, ~2.5× the measured fit-time band) is
    the EARLY tripwire — and it must be early, because past ~1/3
    drifted mass both the appended AND a refit index collapse (0.11
    recall@10): refit before the drifted mass dominates, and re-dial
    m/nprobe for genuine domain shifts (:func:`recommend_quantizer`).

    Returns a dict with ``refit`` (bool), ``reasons`` (list of
    sentences, empty when healthy), and ``health`` (the
    :func:`index_health` stats the verdict was derived from). Pass
    ``health=`` to reuse stats you already computed; pass
    ``appended_rows=`` for externally-tracked ingest counts
    (:class:`..streaming.peaks.AnnIngestor`). Thresholds are dials:
    an ops loop serving recall-critical traffic tightens them, a
    cost-bound one loosens them — the measured curve is the map.

    ``baseline_imbalance``: the fit-time imbalance, if the caller
    captured it (``AnnIngestor`` does). The absolute ``max_imbalance``
    default is calibrated to the harness corpora's 1.2–1.3 fit-time
    band; a naturally-skewed corpus (Zipfian clusters) can sit well
    above 3.0 when perfectly healthy, so when a baseline is provided
    the imbalance dial trips RELATIVE to it (ratio > ``max_imbalance``
    × baseline / measured-band-midpoint is overcomplicated — the rule
    is simply ``imbalance > max_imbalance * baseline / 1.25``, i.e.
    the same 2.4× margin over fit-time the absolute default encodes).
    The 10× validation showed the drift signal GROWS with nlist (9.4×
    at 9% drifted mass with ~100 lists vs 3.8× with ~30), so the
    relative dial only gets more sensitive at scale, never less.
    """
    h = health if health is not None else index_health(
        index, appended_rows=appended_rows
    )
    reasons = []
    if h["appended_fraction"] > max_appended_fraction:
        reasons.append(
            f"appended mass is {h['appended_fraction']:.0%} of the index "
            f"(> {max_appended_fraction:.0%}): the frozen "
            "centroids/codebooks no longer describe the data they "
            "quantize — measured recall gap vs a refit index widens "
            "with appended fraction (docs/SCALE.md)"
        )
    imb_limit = (
        max_imbalance
        if baseline_imbalance is None
        else max_imbalance * baseline_imbalance / 1.25
    )
    if h["imbalance"] > imb_limit:
        reasons.append(
            f"posting-list imbalance {h['imbalance']:.1f}x mean "
            f"(> {imb_limit:.1f}x"
            + (
                f", {max_imbalance:.1f}x scaled by the fit-time "
                f"baseline {baseline_imbalance:.2f}"
                if baseline_imbalance is not None
                else ""
            )
            + "): appended mass is funneling into few lists, so nprobe "
            "scans lose coverage per probe and skewed lists dominate "
            "ADC cost"
        )
    return {"refit": bool(reasons), "reasons": reasons, "health": h}


def ivf_pq_topk(
    emb: DataFrame,
    k: int = ANN_LSH_TOPK,
    shortlist: "int | str" = 20,
    query_mod: int = ANN_QUERY_MOD,
    n_clusters: int | str | None = None,
    nprobe: "int | str" = 2,
    ivf_iters: int = 3,
    m: int = 4,
    n_centroids: int = 16,
    pq_iters: int = 2,
    fit_sample_mod: int | None = None,
    index: IvfPqIndex | None = None,
) -> DataFrame:
    """The composed IVF×PQ search — the operator a 100 TB user actually
    calls (the FAISS ``IVFx,PQy`` production pattern, Jégou et al.
    2011, public): the IVF coarse quantizer restricts each query to its
    ``nprobe`` nearest posting lists, PQ ADC ranks ONLY those lists'
    members through their m-integer code words, and the ``shortlist``
    best get an exact-cosine re-rank.

    Scale shape, stage by stage:
      1. coarse quantizer (:func:`ivf_index` internals): broadcast
         k-centroid assignment, one keyed shuffle per Lloyd round;
      2. posting-list restriction: the (query, centroid) probe set
         joins the member list KEYED ON centroid_id — each query scans
         nprobe/k of the corpus instead of all N;
      3. ADC: the Q·m·n_centroids distance table is broadcast
         (bounded by :func:`_check_dtable_bound`); candidate codes are
         joined on integer (sub, centroid) keys — candidates are never
         touched as floats;
      4. exact re-rank: true cosine over Q·shortlist pairs only.
    Versus :func:`pq_topk` alone, the code scan shrinks from all N
    codes to the probed posting lists; versus :func:`ivf_topk` alone,
    the in-list ranking touches 4-byte code words instead of D floats.

    Determinism mirrors the components exactly (probe cosine 9 dp +
    centroid-id tie-break, floor-quantized ADC distances, final cosine
    6 dp + vec_id tie-break), so the chained DuckDB oracle
    (``llm.oracle.ivf_pq_topk_sql``) hash-matches.

    ``index``: a prefit :class:`IvfPqIndex` — skips both Lloyd fits
    (the dominant per-call cost) so repeated query batches against one
    corpus pay only probe→ADC→re-rank; ``m``/``n_centroids`` are taken
    from the index and the fit parameters are ignored. Without it the
    search fits through the same helper :func:`fit_ivf_pq_index`
    materializes, left lazy, so both modes return the same rows.
    """
    if index is None:
        k_ivf, _, dim = _corpus_shape(emb, n_clusters)
        index = _fit_ivf_pq(
            emb, k_ivf, dim, ivf_iters, m, n_centroids, pq_iters,
            fit_sample_mod,
        )
    q = _query_side(index.members.filter(F.col("vec_id") % query_mod == 0))
    return _search_ivf_pq(
        index,
        emb.filter(F.col("vec_id") % query_mod == 0),
        q,
        _with_norm(emb),
        k,
        shortlist,
        nprobe,
        exclude_self=True,
    )


def _adc_shortlist(
    cand: DataFrame, q_vecs: DataFrame, index: IvfPqIndex, shortlist: int
) -> DataFrame:
    """(query_id, vec_id) of each query's ``shortlist`` best candidates
    by PQ asymmetric distance. ``cand`` holds (query_id, vec_id) pairs;
    ``q_vecs`` is the raw (vec_id, embedding) query batch. The
    Q·m·n_centroids distance table is broadcast (the :func:`pq_topk`
    skew note) and candidates are touched only through their integer
    (sub_id, code_id) keys."""
    qsub = _pq_subvectors(q_vecs, index.m).select(
        F.col("vec_id").alias("query_id"), "sub_id", "se"
    )
    dtable = qsub.join(F.broadcast(index.pq_cents), "sub_id").select(
        "query_id",
        "sub_id",
        F.col("centroid_id").alias("code_id"),
        _sub_l2sq("se", "c").alias("_qd"),
    )
    scored = (
        cand.join(index.codes, "vec_id")
        .join(F.broadcast(dtable), ["query_id", "sub_id", "code_id"])
        .groupBy("query_id", "vec_id")
        .agg(_floor_q(F.sum("_qd"), 6).alias("adc_dist"))
    )
    return (
        scored.withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("adc_dist").asc(), F.col("vec_id").asc()
                )
            ),
        )
        .filter(F.col("_rk") <= shortlist)
        .select("query_id", "vec_id")
    )


def _search_ivf_pq(
    index: IvfPqIndex,
    q_vecs: DataFrame,
    q: DataFrame,
    cand_vecs: DataFrame,
    k: int,
    shortlist: "int | str",
    nprobe: "int | str",
    exclude_self: bool,
) -> DataFrame:
    """The search stages :func:`ivf_pq_topk` and :func:`ivf_pq_search`
    share: coarse probe → posting-list restriction → ADC shortlist →
    exact re-rank. ``q_vecs`` is the raw (vec_id, embedding) query
    batch: it builds the ADC table, and the table bound counts it (a
    cheap scan, where counting ``q`` would force the IVF assignment).
    ``q`` is its :func:`_query_side` frame, and ``cand_vecs`` the
    normed (vec_id, embedding, _norm) frame the re-rank reads exact
    candidate vectors from. ``exclude_self`` drops each query's own row
    (corpus queries); external queries keep an exact-duplicate hit."""
    _check_dtable_bound(q_vecs, index.m, index.n_centroids)
    nprobe = _resolve_nprobe(nprobe, index.cents)
    shortlist = _resolve_shortlist(shortlist, nprobe, k)
    # posting-list restriction: candidate ids only — no floats
    cand = _probe(q, index.cents, nprobe).join(
        index.members.select("centroid_id", "vec_id"), "centroid_id"
    )
    if exclude_self:
        cand = cand.filter(F.col("vec_id") != F.col("query_id"))
    sl = _adc_shortlist(
        cand.select("query_id", "vec_id"), q_vecs, index, shortlist
    )
    joined = sl.join(_candidate_side(cand_vecs), "vec_id").join(q, "query_id")
    return _cosine_rank(joined, k, "c_emb", "c_norm")


def ivf_pq_search(
    queries: DataFrame,
    index: IvfPqIndex,
    k: int = ANN_LSH_TOPK,
    shortlist: "int | str" = 20,
    nprobe: "int | str" = 2,
) -> DataFrame:
    """Serve an ARBITRARY query batch against a prefit IVF×PQ index —
    the missing half of the serving story: :func:`ivf_pq_topk` draws
    its queries from the corpus itself (the all-pairs-style analysis
    workload), while a production caller holds query vectors that are
    NOT corpus members (user requests, fresh documents). ``queries``
    is ``(query_id, embedding)``; the result is the same
    ``(query_id, vec_id, cosine, rank)`` contract as the corpus-query
    routes, WITHOUT the self-match exclusion (an external query has no
    self row; when a query does coincide with a corpus vector, the
    exact-duplicate hit at cosine 1.0 is real information).

    The stages are shared with :func:`ivf_pq_topk` (one search body) —
    probe (broadcast centroids) → posting-list restriction (keyed join,
    nprobe/k of the corpus) → broadcast-ADC over integer codes → exact
    re-rank on the shortlist — so every 100 TB property documented
    there carries over; the ADC table bound is enforced on the query
    batch. With ``nprobe >= n_clusters`` and ``shortlist >= N`` the
    probe covers the whole corpus and the result is EXACTLY brute-force
    cosine top-k (pinned by test), which is the recall dial a caller
    tunes down for scale.

    Streaming serving: wrap per-micro-batch via
    ``streaming.peaks.make_ann_serve_fn`` (foreachBatch — the
    idiomatic Structured Streaming pattern for query serving, since
    the probe rank + ADC aggregation + final rank are three stateful
    steps no single append-mode streaming plan can express)."""
    q_vecs = queries.select(F.col("query_id").alias("vec_id"), "embedding")
    return _search_ivf_pq(
        index,
        q_vecs,
        _query_side(_with_norm(q_vecs)),
        index.members,
        k,
        shortlist,
        nprobe,
        exclude_self=False,
    )


def _sq8_coded(emb: DataFrame) -> DataFrame:
    """(vec_id, codes array<int>, _scales array<double>): per-dimension
    symmetric int8 scalar quantization — code = clamp(floor(x·127/s +
    0.5), ±127) with s = corpus max |x| of that dimension. floor(+0.5)
    is the engine-portable half-up quantizer (`_floor_q` note); s = 0
    (a constant-zero dimension) codes to 0."""
    dims = emb.select("vec_id", F.posexplode("embedding").alias("dim", "x"))
    scales = dims.groupBy("dim").agg(
        F.max(F.abs(F.col("x").cast("double"))).alias("s")
    )
    s_arr = scales.agg(
        F.array_sort(F.collect_list(F.struct("dim", "s"))).alias("_ss")
    ).select(F.expr("transform(_ss, t -> t.s)").alias("_scales"))
    return emb.crossJoin(F.broadcast(s_arr)).select(
        "vec_id",
        F.expr(
            "zip_with(embedding, _scales, (x, s) -> CAST(GREATEST(-127D, "
            "LEAST(127D, CASE WHEN s = 0D THEN 0D "
            "ELSE floor(CAST(x AS DOUBLE) * 127D / s + 0.5D) END)) AS INT))"
        ).alias("codes"),
        "_scales",
    )


def _sq8_candidates(emb: DataFrame) -> DataFrame:
    """(vec_id, xhat, _cnorm): the SQ8-reconstructed candidates
    (code·s/127) and their norms, the candidate side of both SQ8
    searches."""
    return (
        _sq8_coded(emb)
        .select(
            "vec_id",
            F.expr(
                "zip_with(codes, _scales, (c, s) -> CAST(c AS DOUBLE) * s / 127D)"
            ).alias("xhat"),
        )
        .withColumn("_cnorm", F.sqrt(_dot("xhat", "xhat")))
    )


def sq8_codes(emb: DataFrame) -> DataFrame:
    """Scalar int8 quantization codes, exploded to (vec_id, dim, code)
    — the FAISS ``SQ8`` storage pattern (public): 1 byte/dim instead
    of 4 (float32), with one broadcast D-double scale vector shared by
    the whole corpus. The quantization is a zero-shuffle map pass after
    ONE per-dim max aggregation (map-side combined, D rows out).

    Complements PQ on the memory axis: SQ8 is 4× compression with
    near-exact recall and no codebook fit (no Lloyd rounds, fully
    deterministic); PQ is 16-64× with a fitted codebook and ADC
    machinery. Production rule of thumb: SQ8 when memory budget allows
    N bytes·D, PQ below that."""
    return _sq8_coded(emb).select(
        "vec_id", F.posexplode("codes").alias("dim", "code")
    )


def sq8_topk(
    emb: DataFrame, k: int = ANN_LSH_TOPK, query_mod: int = ANN_QUERY_MOD
) -> DataFrame:
    """Asymmetric SQ8 search: float queries against RECONSTRUCTED
    (code·s/127) candidates — the int8-compressed twin of
    :func:`cosine_topk` (same broadcast-query brute scan, 4× less
    candidate memory traffic, recall ≈ 1 at int8 granularity —
    pinned by tests/test_r6_ops.py). Deterministic: integer codes +
    fixed-order fold dot products, so the DuckDB mirror hash-matches."""
    cand = _sq8_candidates(emb)
    q = _query_side(_with_norm(emb).filter(F.col("vec_id") % query_mod == 0))
    joined = cand.crossJoin(F.broadcast(q)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    return _cosine_rank(joined, k, "xhat", "_cnorm")


def ivf_sq8_topk(
    emb: DataFrame,
    k: int = ANN_LSH_TOPK,
    query_mod: int = ANN_QUERY_MOD,
    n_clusters: int | str | None = None,
    nprobe: "int | str" = 2,
    index: "IvfPqIndex | None" = None,
) -> DataFrame:
    """The OTHER composed FAISS production pattern — ``IVFx,SQ8``:
    posting-list restriction by the coarse quantizer, then in-list
    scoring against int8-reconstructed candidates. Versus
    :func:`ivf_pq_topk` this trades compression (4× vs 16-64×) for a
    fit-free code path (no PQ Lloyd rounds, no ADC table) and
    near-exact in-list ranking (SQ8 recall ≈ 1), so no exact re-rank
    stage is needed. ``index=`` reuses a prefit :class:`IvfPqIndex`'s
    IVF half.

    Scale shape: the broadcast-centroid probe and centroid-keyed
    posting-list join of :func:`ivf_topk`, with candidates touched as
    int8 codes + the broadcast D-double scale vector instead of D
    floats.

    Between-refits ingest (round 11): an :func:`ivf_pq_append`-grown
    index serves SQ8 directly — pass the GROWN corpus as ``emb`` and
    the appended index as ``index=`` (pinned by test): the posting
    lists carry the appended vectors and the SQ8 codes/scales are
    derived from the passed frame, so nothing in the SQ8 half goes
    stale. Caveat for stored-code deployments (real warehouses persist
    the int8 codes instead of re-deriving them): the per-dim scale
    vector is fit-time state, and appended values beyond the fitted
    max |x| CLIP at ±127 — drifted ingest with growing magnitudes is
    another reason the :func:`needs_refit` dials exist."""
    if index is not None:
        members, cents = index.members, index.cents
    else:
        ((members, cents),) = _lloyd_fit(
            emb, _ivf_quantizer(emb, _resolve_clusters(emb, n_clusters), 3)
        )
    nprobe = _resolve_nprobe(nprobe, cents)
    q = _query_side(members.filter(F.col("vec_id") % query_mod == 0))
    cand = (
        _probe(q, cents, nprobe, "q_emb", "q_norm")
        .join(members.select("centroid_id", "vec_id"), "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    return _cosine_rank(
        cand.join(_sq8_candidates(emb), "vec_id"), k, "xhat", "_cnorm"
    )


def _rp_coef_sql(i: str, j: str) -> str:
    """Deterministic Achlioptas sparse-projection coefficient in
    {+1, -1, 0} with weights {1/6, 1/6, 2/3} (Achlioptas 2003,
    "Database-friendly random projections" — public), derived from a
    multiplicative hash of the (input-dim, output-dim) pair. Pure
    non-negative BIGINT arithmetic, so Spark and DuckDB evaluate it
    bit-identically (no engine-specific RNG, no negative-modulo
    divergence)."""
    h = f"(({i}) * 2654435761 + ({j}) * 40503) % 1000003"
    return (
        f"CASE WHEN ({h}) % 6 = 0 THEN 1 "
        f"WHEN ({h}) % 6 = 1 THEN -1 ELSE 0 END"
    )


def _rp_sums(emb: DataFrame, d_out: int) -> DataFrame:
    """(vec_id, _s0.._s{d_out-1}) — the exact BIGINT micro-unit
    projection sums shared by :func:`rp_project` (long format) and
    :func:`_rp_float_embedding` (array format).

    Empty input → empty output with the right schema (no first()-crash);
    a per-row raise_error guard rejects ragged dimensions loudly (rows
    SHORTER than the probed dim would otherwise throw an opaque array
    index error; LONGER rows would silently drop trailing dims)."""
    row = emb.select(F.size("embedding").alias("d")).first()
    if row is None or row["d"] is None:
        schema = "vec_id long, " + ", ".join(
            f"_s{j} long" for j in range(d_out)
        )
        return emb.sparkSession.createDataFrame([], schema)
    dim = int(row["d"])
    micro = (
        f"transform(IF(size(embedding) = {dim}, embedding, "
        f"raise_error(concat('rp_project: ragged embedding dim ', "
        f"size(embedding), ' != {dim}'))), x -> "
        "CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))"
    )
    sums = [
        f"aggregate(sequence(0, {dim - 1}), CAST(0 AS BIGINT), "
        f"(acc, i) -> acc + _micro[i] * ({_rp_coef_sql('i', str(j))}))"
        f" AS _s{j}"
        for j in range(d_out)
    ]
    return emb.selectExpr("vec_id", f"{micro} AS _micro").selectExpr(
        "vec_id", *sums
    )


def _rp_float_embedding(emb: DataFrame, d_out: int) -> DataFrame:
    """(vec_id, embedding array<float>) of the projected vectors —
    micro-exact doubles cast once to FLOAT, so both engines hold
    bit-identical float32 values and everything downstream (norms,
    cosines, k-means) sees the same numbers."""
    arr = ", ".join(f"CAST(_s{j} / 1e6 AS FLOAT)" for j in range(d_out))
    return _rp_sums(emb, d_out).selectExpr(
        "vec_id", f"array({arr}) AS embedding"
    )


def rp_project(emb: DataFrame, d_out: int = 8) -> DataFrame:
    """Sparse random projection of the embedding column to ``d_out``
    dims — the cheap dimensionality reduction run ahead of clustering /
    LSH at corpus scale (Johnson–Lindenstrauss: pairwise distances are
    preserved within (1±ε) for d_out = O(log N / ε²)).

    Exactness contract: embeddings are quantized once to integer
    micro-units (the floor-based half-up trick — float→double is exact,
    so both engines round the same doubles), projected with the
    {+1,-1,0} coefficients in pure BIGINT arithmetic (order-insensitive
    exact sums), and divided back once at the end. Output rows
    (vec_id, out_dim, value) are hash-exact across engines.

    Scale: map-only — a per-row HOF loop of d_out × dim multiply-adds
    inside whole-stage codegen; no shuffle, no explode, no UDF. The
    coefficient "matrix" is a closed-form expression, so nothing is
    broadcast and executors share no state. At 100 TB this is the
    operator that makes IVF fits / LSH bucketing affordable: k-means on
    8 dims costs 1/8th of 64, and the projection itself is one pass.
    """
    projected = (
        _rp_sums(emb, d_out)
        .selectExpr(
            "vec_id",
            f"stack({d_out}, "
            + ", ".join(f"CAST({j} AS BIGINT), _s{j}" for j in range(d_out))
            + ") AS (out_dim, _sum_micro)",
        )
    )
    return projected.select(
        "vec_id",
        "out_dim",
        (F.col("_sum_micro") / F.lit(1e6)).alias("value"),
    )


def rp_project_sql(d_out: int = 8) -> str:
    """DuckDB mirror of :func:`rp_project`: same micro-quantization,
    same closed-form coefficients, same exact BIGINT sums. The oracle
    explodes (dim × d_out) rows per vector — fine at oracle scale; the
    Spark side stays map-only."""
    coef = _rp_coef_sql("t.i - 1", "j.out_dim")
    return f"""
    WITH m AS (
        SELECT vec_id,
               list_transform(embedding, x ->
                   CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5)
                        AS BIGINT)) AS micro
        FROM embeddings
    ),
    t AS (
        SELECT vec_id, unnest(micro) AS v,
               generate_subscripts(micro, 1) AS i
        FROM m
    )
    SELECT t.vec_id,
           CAST(j.out_dim AS BIGINT) AS out_dim,
           CAST(SUM(t.v * ({coef})) AS BIGINT) / 1e6 AS value
    FROM t CROSS JOIN (SELECT unnest(range({d_out})) AS out_dim) j
    GROUP BY t.vec_id, j.out_dim
    """


def rp_ivf_topk(
    emb: DataFrame,
    k: int = ANN_LSH_TOPK,
    query_mod: int = ANN_QUERY_MOD,
    n_clusters: int = 8,
    nprobe: "int | str" = 2,
    d_out: int = 8,
    iters: int = 3,
) -> DataFrame:
    """The composed RP×IVF search the scale notes promise: the coarse
    quantizer (k-means fit, centroid probing, posting lists) runs
    entirely in the ``d_out``-dimensional random projection — every fit
    iteration and probe costs D/d_out of the full-dimension IVF — and
    only the final ranking touches the original vectors, as an exact
    cosine re-rank over the probed posting lists.

    Exactness contract: the projected vectors are micro-exact doubles
    cast once to FLOAT (bit-identical across engines), so the Lloyd
    fit, probe ranking (9 dp + centroid tie-break) and membership are
    deterministic; the re-rank is the same 6 dp + vec_id ranking every
    ANN operator here uses. Output schema matches :func:`ivf_topk`.

    Scale: the JL guarantee is about GEOMETRY — nearest-centroid
    structure survives projection — so recall loss lives only in the
    posting-list restriction (tunable via nprobe), while fit cost
    drops 8× at d_out=8/D=64 and the probe crossJoin touches 8-float
    rows. Candidates never move: the posting-list join carries ids.
    """
    proj = _rp_float_embedding(emb, d_out)
    ((members, cents),) = _lloyd_fit(proj, _ivf_quantizer(proj, n_clusters, iters))
    nprobe = _resolve_nprobe(nprobe, cents)
    q = _query_side(members.filter(F.col("vec_id") % query_mod == 0))
    cand = (
        _probe(q, cents, nprobe)
        .join(members.select("centroid_id", "vec_id"), "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )
    # the re-rank reads the ORIGINAL vectors, not the projected ones
    base = _with_norm(emb)
    qorig = _query_side(
        base.filter(F.col("vec_id") % query_mod == 0), prefix="qo"
    )
    joined = cand.join(_candidate_side(base), "vec_id").join(qorig, "query_id")
    return _cosine_rank(joined, k, "c_emb", "c_norm", prefix="qo")


def prototype_outliers(
    emb: DataFrame, k: int = 5
) -> DataFrame:
    """Label-prototype outlier report (the "confident-learning" style
    curation screen): each label's prototype is the per-dimension mean
    of its members; the k members LEAST similar to their own label's
    prototype are the mislabeled-example candidates a curation pass
    sends to review. Output: (label, vec_id, cosine, rank) with rank 1
    = farthest from prototype.

    Determinism contract: per-dim means are cast through FLOAT exactly
    like the k-means centroid updates (absorbing engine AVG sum-order
    drift), cosines are quantized to 6 dp with vec_id tie-break before
    ranking — the proven Lloyd-oracle pattern, so the DuckDB mirror is
    exact.

    Scale: one (label, dim) keyed aggregate with map-side partial sums
    (labels × dim rows — tiny), prototypes broadcast back, one window
    per label. No iteration: a prototype is a single closed-form pass,
    which is why this runs where a clustering fit would be overkill.
    """
    dims = emb.select(
        "label", "vec_id", F.posexplode("embedding").alias("dim", "x")
    )
    protos = (
        dims.groupBy("label", "dim")
        .agg(F.avg("x").alias("m"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("_sm"))
        .select(
            "label",
            F.expr(
                "transform(_sm, s -> CAST(CAST(s.m AS FLOAT) AS DOUBLE))"
            ).alias("p_emb"),
        )
        .withColumn("p_norm", F.sqrt(_dot("p_emb", "p_emb")))
    )
    base = _with_norm(emb)
    joined = base.join(F.broadcast(protos), "label")
    cos = F.round(
        _dot("embedding", "p_emb") / (F.col("_norm") * F.col("p_norm")), 6
    )
    return (
        joined.select("label", "vec_id", cos.alias("cosine"))
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("label").orderBy(
                    F.col("cosine").asc(), F.col("vec_id").asc()
                )
            ),
        )
        .filter(F.col("rank") <= k)
    )


def prototype_outliers_sql(k: int = 5) -> str:
    """DuckDB mirror of :func:`prototype_outliers` — same FLOAT-cast
    per-dim means, same 6 dp + vec_id ranking."""
    return f"""
    WITH dims AS (
        SELECT label, vec_id, d.dim AS dim, embedding[d.dim] AS x
        FROM embeddings
        CROSS JOIN UNNEST(generate_series(1, CAST(len(embedding) AS BIGINT)))
            AS d(dim)
    ),
    protos AS (
        SELECT label, list(CAST(CAST(m AS FLOAT) AS DOUBLE) ORDER BY dim)
                   AS p_emb
        FROM (SELECT label, dim, AVG(CAST(x AS DOUBLE)) AS m
              FROM dims GROUP BY label, dim) s
        GROUP BY label
    ),
    pn AS (
        SELECT label, p_emb, sqrt(list_dot_product(p_emb, p_emb)) AS p_norm
        FROM protos
    ),
    scored AS (
        SELECT e.label, e.vec_id,
               ROUND(list_dot_product(e.embedding::DOUBLE[], p.p_emb)
                     / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                              e.embedding::DOUBLE[]))
                        * p.p_norm), 6) AS cosine
        FROM embeddings e JOIN pn p USING (label)
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY label
                                     ORDER BY cosine ASC, vec_id ASC) AS rank
        FROM scored
    )
    SELECT label, vec_id, cosine, rank FROM ranked WHERE rank <= {k}
    """
