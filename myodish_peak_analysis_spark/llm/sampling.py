"""Dataset-composition operators for training-data pipelines:
deterministic stratified sampling and per-source mixture weights.

A 100 TB corpus is never trained on verbatim — pipelines downsample
overrepresented strata (language, source/domain) and compute per-source
resampling weights so the final mixture matches a target distribution.
Both operators here are single-pass, shuffle-light, and — unlike
``df.sample()`` — fully deterministic and reproducible across engines
and runs, which is what makes them oracle-checkable.

Scale notes:

* :func:`stratified_sample` is a pure filter (no shuffle at all): the
  keep/drop decision is a multiplicative-hash of the stable ``doc_id``,
  so re-running on a grown corpus keeps exactly the rows it kept
  before (reservoir/Bernoulli samplers don't). The hash is plain
  64-bit integer arithmetic so the DuckDB oracle computes the identical
  value — no engine-specific hash function involved.
* :func:`mixture_weights` is two map-side-combined aggregates (one per
  source — O(sources) shuffle rows) plus a 1-row broadcast of the
  corpus totals. The weight divides exact integers, so it is
  bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .text import word_ngrams

#: Knuth's multiplicative hash constant (2654435761 = 2^32 * phi^-1,
#: public domain — TAOCP vol. 3 §6.4); doc_id * C % 1000 is a cheap,
#: well-mixed per-mille bucket that any SQL engine evaluates identically.
HASH_MULTIPLIER = 2654435761

#: Default per-mille keep rates per language: downsample the dominant
#: 'en' stratum, keep the long tail at a higher rate (the usual
#: rebalancing direction for a web corpus).
DEFAULT_RATES_PER_MILLE = {"en": 200, "*": 600}


def _permille_bucket() -> F.Column:
    # (doc_id * C) % 1000 computed mod-first — identical value by modular
    # arithmetic, but (doc_id % 1000) * C never overflows BIGINT, which
    # the full-width product does (ANSI crash) once doc_id > ~3.5e9.
    return (F.col("doc_id") % F.lit(1000) * F.lit(HASH_MULTIPLIER)) % F.lit(1000)


def keep_condition(
    rates_per_mille: dict[str, int] | None = None, stratum_col: str = "lang"
) -> F.Column:
    """The stratified-sampling keep/drop predicate as a reusable Column —
    a pure filter (zero shuffle, zero joins) that any pipeline stage can
    apply to a full document frame."""
    rates = dict(rates_per_mille or DEFAULT_RATES_PER_MILLE)
    default = rates.pop("*", 0)
    rate = F.lit(default)
    for stratum, permille in sorted(rates.items()):
        rate = F.when(F.col(stratum_col) == stratum, F.lit(permille)).otherwise(rate)
    return _permille_bucket() < rate


def stratified_sample(
    docs: DataFrame,
    rates_per_mille: dict[str, int] | None = None,
    stratum_col: str = "lang",
) -> DataFrame:
    """Keep each document iff its deterministic per-mille bucket
    (``doc_id * 2654435761 % 1000``) falls below its stratum's keep
    rate. Returns the surviving rows with their bucket, so downstream
    stages can re-stratify without recomputing the hash."""
    return (
        docs.withColumn("permille", _permille_bucket().cast("long"))
        .filter(keep_condition(rates_per_mille, stratum_col))
        .select("doc_id", stratum_col, "source", "permille")
    )


def stratified_sample_sql(
    rates_per_mille: dict[str, int] | None = None, stratum_col: str = "lang"
) -> str:
    """DuckDB mirror of :func:`stratified_sample` (same rate table)."""
    rates = dict(rates_per_mille or DEFAULT_RATES_PER_MILLE)
    default = rates.pop("*", 0)
    whens = " ".join(
        f"WHEN {stratum_col} = '{s}' THEN {p}" for s, p in sorted(rates.items())
    )
    return f"""
    SELECT doc_id, {stratum_col}, source,
           (doc_id % 1000 * {HASH_MULTIPLIER}) % 1000 AS permille
    FROM documents
    WHERE (doc_id % 1000 * {HASH_MULTIPLIER}) % 1000
          < (CASE {whens} ELSE {default} END)
    """


def mixture_weights(docs: DataFrame, group_col: str = "source") -> DataFrame:
    """Per-source resampling weight toward a uniform mixture:
    ``weight = total_chars / (n_sources * src_chars)`` — >1 means the
    source must be upsampled, <1 downsampled. All inputs to the final
    division are exact integers, so the double result is bit-identical
    in any IEEE engine."""
    per_src = docs.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("src_chars"),
    )
    totals = per_src.agg(
        F.sum("src_chars").alias("_total"),
        F.count(F.lit(1)).alias("_nsrc"),
    )
    return (
        per_src.crossJoin(F.broadcast(totals))
        .select(
            group_col,
            "n_docs",
            "src_chars",
            (
                F.col("_total").cast("double")
                / (F.col("_nsrc") * F.col("src_chars")).cast("double")
            ).alias("weight"),
        )
    )


def mixture_weights_sql(group_col: str = "source") -> str:
    """DuckDB mirror of :func:`mixture_weights`."""
    return f"""
    WITH per_src AS (
        SELECT {group_col}, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS src_chars
        FROM documents GROUP BY {group_col}
    ),
    totals AS (
        SELECT CAST(SUM(src_chars) AS BIGINT) AS _total,
               COUNT(*) AS _nsrc
        FROM per_src
    )
    SELECT {group_col}, n_docs, src_chars,
           CAST(_total AS DOUBLE) / CAST(_nsrc * src_chars AS DOUBLE) AS weight
    FROM per_src, totals
    """


def training_order(docs: DataFrame, seed: int = 0, n_shards: int = 8) -> DataFrame:
    """Deterministic, reproducible corpus shuffle for training epochs:
    every doc gets a pseudo-random ``shard`` and an in-shard ``pos``,
    both pure functions of ``(doc_id, seed)`` — rerunning with the same
    seed reproduces the exact order on any cluster size; bumping the
    seed reshuffles for the next epoch.

    The permutation key is ``md5(doc_id || ':' || seed)`` — chosen over
    the engine-native hashes (Spark xxhash64 vs DuckDB hash differ)
    because md5 is bit-identical everywhere, so the order is
    oracle-checkable. Shard = the first four hex NIBBLES of the hash
    decoded to a 16-bit integer (``instr('0123456789abcdef', ch) - 1``
    per char — portable to any engine with instr/substr, no hex-cast
    needed), mod ``n_shards``. 16 bits of hash entropy keep shards
    balanced for any n_shards into the thousands, and exactly uniform
    for power-of-two shard counts. (Ascii arithmetic on the raw chars
    is NOT balanced: 256 ≡ 0 mod 2^k collapses the first char's
    contribution, and hex ascii codes cover only 16 values.)

    Scale: one exchange on ``shard`` + an in-partition sort of 32-char
    keys. Shards are hash-balanced, so per-shard sort memory is
    corpus/n_shards — raise ``n_shards`` with data (the same lever as
    ``pack_chunks``'s shard_mod, and the two compose: feed this order
    into packing for shuffled-then-packed training manifests).
    """
    from pyspark.sql.window import Window

    h = F.md5(F.concat_ws(":", F.col("doc_id").cast("string"), F.lit(str(seed))))
    ranked = docs.select("doc_id", h.alias("_h")).withColumn(
        "shard", F.expr(_shard_expr(int(n_shards))).cast("long")
    )
    w = Window.partitionBy("shard").orderBy("_h", "doc_id")
    return ranked.select(
        "doc_id", "shard", F.row_number().over(w).cast("long").alias("pos")
    ).orderBy("shard", "pos")


def _shard_expr(n_shards: int) -> str:
    """SQL expression (valid in both Spark SQL and DuckDB) decoding the
    first 4 hex nibbles of ``_h`` to a 16-bit int, mod ``n_shards``."""
    nib = [
        f"(instr('0123456789abcdef', substr(_h, {i}, 1)) - 1)" for i in (1, 2, 3, 4)
    ]
    return (
        f"({nib[0]} * 4096 + {nib[1]} * 256 + {nib[2]} * 16 + {nib[3]})"
        f" % {int(n_shards)}"
    )


def training_order_sql(seed: int = 0, n_shards: int = 8) -> str:
    """DuckDB mirror of :func:`training_order` (same md5 permutation)."""
    return f"""
    WITH h AS (
        SELECT doc_id,
               md5(CAST(doc_id AS VARCHAR) || ':' || '{seed}') AS _h
        FROM documents
    ),
    s AS (
        SELECT doc_id, _h,
               {_shard_expr(int(n_shards))} AS shard
        FROM h
    )
    SELECT doc_id, CAST(shard AS BIGINT) AS shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY _h, doc_id)
                AS BIGINT) AS pos
    FROM s
    ORDER BY shard, pos
    """


def temperature_weights(docs: DataFrame, group_col: str = "source") -> DataFrame:
    """Temperature-flattened sampling mixture (the multilingual-LM
    recipe — Conneau & Lample 2019, public): sampling probability
    q_i ∝ p_i^τ with τ=0.5 (square-root sampling), which upweights
    small sources without drowning large ones. Output per source:
    the natural share ``p``, the flattened share ``q``, and
    ``boost = q/p`` (the resampling factor a data loader applies).

    Exactness: p is a division of exact BIGINTs; p^0.5 is ``sqrt`` —
    correctly-rounded IEEE in every engine (why τ is FIXED at 0.5 for
    the oracle-checked entry: general ``pow`` is libm-dependent);
    each sqrt is quantized to integer parts-per-billion BEFORE the
    normalizing sum, so the denominator is an exact integer and no
    cross-engine float-sum ordering exists anywhere.
    """
    per_src = docs.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("src_chars"),
    )
    totals = per_src.agg(F.sum("src_chars").alias("_total"))
    scored = per_src.crossJoin(F.broadcast(totals)).withColumn(
        "p", F.col("src_chars").cast("double") / F.col("_total")
    )
    r_ppb = F.floor(F.sqrt("p") * F.lit(1e9) + F.lit(0.5)).cast("long")
    scored = scored.withColumn("_r", r_ppb)
    denom = scored.agg(F.sum("_r").alias("_rsum"))
    return (
        scored.crossJoin(F.broadcast(denom))
        .select(
            group_col,
            "n_docs",
            "src_chars",
            "p",
            (F.col("_r").cast("double") / F.col("_rsum")).alias("q"),
            (
                (F.col("_r").cast("double") / F.col("_rsum")) / F.col("p")
            ).alias("boost"),
        )
    )


def temperature_weights_sql(group_col: str = "source") -> str:
    """DuckDB mirror of :func:`temperature_weights` (τ=0.5)."""
    return f"""
    WITH per_src AS (
        SELECT {group_col}, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS src_chars
        FROM documents GROUP BY {group_col}
    ),
    totals AS (SELECT CAST(SUM(src_chars) AS BIGINT) AS _total FROM per_src),
    scored AS (
        SELECT {group_col}, n_docs, src_chars,
               CAST(src_chars AS DOUBLE) / _total AS p,
               CAST(floor(sqrt(CAST(src_chars AS DOUBLE) / _total) * 1e9
                          + 0.5) AS BIGINT) AS _r
        FROM per_src, totals
    ),
    denom AS (SELECT CAST(SUM(_r) AS BIGINT) AS _rsum FROM scored)
    SELECT {group_col}, n_docs, src_chars, p,
           CAST(_r AS DOUBLE) / _rsum AS q,
           (CAST(_r AS DOUBLE) / _rsum) / p AS boost
    FROM scored, denom
    """


def leakage_safe_split(
    docs: "DataFrame",
    test_permille: int = 100,
    val_permille: int = 100,
) -> "DataFrame":
    """Train/val/test assignment keyed by the NEAR-DUP CLUSTER, not
    the document: every member of a connected near-dup family hashes
    to the same split, so a training document can never leak a
    near-duplicate of a held-out document across the boundary (Lee et
    al. 2022 measured exactly this train→test contamination from
    per-document splits on un-deduplicated corpora).

    The split hash is the package's Knuth-multiplier permille bucket
    (``cluster_id % 1000 * 2654435761 % 1000`` — deterministic,
    engine-portable) applied to :func:`..dedup.dedup_clusters`' min-id
    cluster label: buckets below ``test_permille`` → 'test', next
    ``val_permille`` → 'val', rest → 'train'. Singleton documents are
    their own cluster, so corpus-level split fractions approach the
    requested permilles as dup rate falls.

    Scale: dedup_clusters' banded machinery (measured decades in
    PLANS.md) plus one map-side hash+CASE — the split itself adds no
    shuffle beyond the cluster join.
    """
    from .dedup import dedup_clusters

    clusters = dedup_clusters(docs)
    bucket = (
        F.col("cluster_id") % F.lit(1000) * F.lit(HASH_MULTIPLIER)
    ) % F.lit(1000)
    return (
        docs.select("doc_id")
        .join(clusters, "doc_id")
        .withColumn("permille", bucket.cast("long"))
        .withColumn(
            "split",
            F.when(F.col("permille") < test_permille, F.lit("test"))
            .when(
                F.col("permille") < test_permille + val_permille, F.lit("val")
            )
            .otherwise(F.lit("train")),
        )
        .select("doc_id", "cluster_id", "permille", "split")
    )


def leakage_safe_split_sql(
    dedup_clusters_sql: str,
    test_permille: int = 100,
    val_permille: int = 100,
) -> str:
    """DuckDB mirror: the dedup_clusters recursive-CTE oracle as a
    subquery plus the same hash+CASE arithmetic."""
    return f"""
    WITH cl AS ({dedup_clusters_sql})
    SELECT doc_id, cluster_id,
           CAST((cluster_id % 1000 * {HASH_MULTIPLIER}) % 1000 AS BIGINT)
               AS permille,
           CASE
               WHEN (cluster_id % 1000 * {HASH_MULTIPLIER}) % 1000
                    < {test_permille} THEN 'test'
               WHEN (cluster_id % 1000 * {HASH_MULTIPLIER}) % 1000
                    < {test_permille + val_permille} THEN 'val'
               ELSE 'train'
           END AS split
    FROM cl
    """


# --- DSIR: data selection via importance resampling -------------------------
#
# Xie et al., "Data Selection for Language Models via Importance
# Resampling" (NeurIPS 2023, public): featurize every document as
# hashed n-gram (unigram + word-bigram) counts, fit bag-of-words
# models on a small TARGET corpus and on the RAW pool, score each raw
# document with the log importance ratio sum_b n_b * (ln p_target(b) -
# ln p_raw(b)), then resample via Gumbel top-k. Beyond-reference op
# (the LLM-pipeline mandate); everything below derives from the paper
# and the PySpark API.
#
# Determinism contract (the package standard, see text.token_entropy):
# every ln is quantized to integer 1e-6 units with the engine-portable
# floor trick floor(x*1e6 + 0.5), all downstream sums are BIGINT, so
# aggregation order can never move a result; the bucket hash is the
# md5-hex-prefix integer both engines compute identically.

_DSIR_TK = "split(text, ' ')"

#: unigrams ++ word-bigrams of the whitespace tokens (counts, not
#: distinct — DSIR features are bag-of-ngram COUNTS). Single-token
#: docs contribute their unigram only (slice(tk,1,0) is the typed
#: empty array; sequence(1,0) would count DOWN in Spark).
_DSIR_GRAMS = (
    f"concat({_DSIR_TK}, "
    f"CASE WHEN size({_DSIR_TK}) >= 2 THEN {word_ngrams(2)} "
    f"ELSE slice({_DSIR_TK}, 1, 0) END)"
)


def _ln_micro(col: F.Column) -> F.Column:
    """floor(ln(x)*1e6 + 0.5) as BIGINT — the quantized-log brick."""
    return F.floor(F.log(col) * F.lit(1e6) + F.lit(0.5)).cast("long")


def _dsir_doc_buckets(
    docs: "DataFrame", n_buckets: int, with_source: bool = True
) -> "DataFrame":
    """(doc_id[, source], bucket, n): per-doc hashed n-gram bucket
    counts. ``with_source=False`` is the serve-time shape — scoring
    against a prefit model needs only ``(doc_id, text)``, so streaming
    batches without a ``source`` column score fine (source is
    functionally dependent on doc_id, so the counts are identical).

    Scale: one explode into ~2x token count rows (map-only), one
    map-side-combinable count keyed (doc_id, bucket) — per-doc feature
    state is bounded by min(doc grams, n_buckets), no global state.
    """
    keys = ["doc_id", "source"] if with_source else ["doc_id"]
    bucket = (
        F.conv(F.substring(F.md5("gram"), 1, 7), 16, 10).cast("long")
        % F.lit(n_buckets)
    )
    return (
        docs.select(*keys, F.explode(F.expr(_DSIR_GRAMS)).alias("gram"))
        .select(*keys, bucket.alias("bucket"))
        .groupBy(*keys, "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def dsir_bucket_logratio(
    doc_buckets: "DataFrame", target_source: str, n_buckets: int
) -> "DataFrame":
    """Per-bucket Laplace-smoothed log importance ratio, micro-quantized:
    lr_micro(b) = q(ln(c_t+1)) - q(ln(N_t+B)) - q(ln(c_r+1)) + q(ln(N_r+B)).

    ALL n_buckets rows are emitted, not just buckets the fit corpus
    touched: an out-of-vocabulary serve-time gram must score the
    Laplace default ratio (c_t = c_r = 0), not silently vanish from
    the inner join — the bias a sparse fit would otherwise inject into
    every streaming/prefit score. The frame also carries the
    ``fit_n_buckets`` constant so scorers can verify a prefit model
    was fitted with the bucket count they hash with.

    Scale: a second aggregation down to <= B rows (map-side partial,
    B-bounded combiner state), a B-row densifying join, and a 1-row
    totals broadcast — the fitted "model" is an exactly-B-row frame,
    broadcast to every scorer.
    """
    is_t = F.col("source") == F.lit(target_source)
    per_bucket = doc_buckets.groupBy("bucket").agg(
        F.sum(F.when(is_t, F.col("n")).otherwise(F.lit(0)))
        .cast("long")
        .alias("c_t"),
        F.sum(F.when(~is_t, F.col("n")).otherwise(F.lit(0)))
        .cast("long")
        .alias("c_r"),
    )
    all_buckets = doc_buckets.sparkSession.range(n_buckets).select(
        F.col("id").cast("long").alias("bucket")
    )
    dense = (
        all_buckets.join(per_bucket, "bucket", "left")
        .select(
            "bucket",
            F.coalesce(F.col("c_t"), F.lit(0)).cast("long").alias("c_t"),
            F.coalesce(F.col("c_r"), F.lit(0)).cast("long").alias("c_r"),
        )
    )
    totals = dense.agg(
        F.sum("c_t").cast("long").alias("n_t"),
        F.sum("c_r").cast("long").alias("n_r"),
    )
    lr = (
        _ln_micro(F.col("c_t") + F.lit(1))
        - _ln_micro(F.col("n_t") + F.lit(n_buckets))
        - _ln_micro(F.col("c_r") + F.lit(1))
        + _ln_micro(F.col("n_r") + F.lit(n_buckets))
    )
    # loud, not silent (the tf-idf overflow-guard convention), on BOTH
    # sides: an empty target slice (n_t=0) means the "model" is pure
    # Laplace noise; an empty pool (n_r=0, e.g. the pool accidentally
    # scoped to only target docs) means every weight ranks against a
    # uniform pool instead of the intended target-vs-pool ratio. Name
    # the mistake instead of returning plausible-looking numbers; the
    # branches test corpus totals, so they are free on healthy corpora.
    guarded = (
        F.when(
            F.col("n_t") <= 0,
            F.expr(
                "raise_error('DSIR_EMPTY_TARGET: target_source matched no "
                "document grams — the target model is empty; check the "
                "target_source value against the corpus source column')"
            ).cast("long"),
        )
        .when(
            F.col("n_r") <= 0,
            F.expr(
                "raise_error('DSIR_EMPTY_POOL: every document gram belongs "
                "to target_source — the pool model is empty; score against "
                "a corpus that contains non-target documents')"
            ).cast("long"),
        )
        .otherwise(lr)
    )
    return dense.crossJoin(F.broadcast(totals)).select(
        "bucket",
        "c_t",
        "c_r",
        guarded.alias("lr_micro"),
        F.lit(n_buckets).cast("long").alias("fit_n_buckets"),
    )


def fit_dsir_logratio(
    docs: "DataFrame",
    target_source: str = "src0",
    n_buckets: int | None = None,
) -> "DataFrame":
    """Fit the DSIR model ONCE: the <= n_buckets-row
    (bucket, c_t, c_r, lr_micro) log-ratio table. The fit-once /
    serve-forever half of the package's prefit pattern
    (:func:`..text.fit_dup_gram_stats`, ``fit_ivf_pq_index``): persist
    or write this tiny frame to parquet, then score any number of
    corpus batches by passing it as ``logratio=`` to
    :func:`dsir_logweights` / :func:`dsir_resample` — the serve path
    is then ONE explode pass + a broadcast join, the 100 TB shape
    (the inline fit re-derives the model per call: 3 passes over the
    exploded grams, fine for the oracle, wasteful as a daily batch).
    MEASURED at 5M docs (docs/PLANS.md "DSIR decades"): the prefit
    serve holds ~34k docs/s flat from 500k to 5M (145.3 s at 5M) vs
    593.7 s for the fit-inline path — 4.1× cheaper per batch.

    Contract: scorers must hash with the SAME ``n_buckets`` the model
    was fitted with (the ``fit_dup_gram_stats`` gram/min_count
    contract) — the model frame carries ``fit_n_buckets`` and the
    scorer raises DSIR_BUCKET_MISMATCH on first use if they differ.
    The frame has exactly n_buckets rows: out-of-vocabulary serve-time
    grams score the Laplace default ratio instead of being dropped."""
    from .params import DSIR_BUCKETS

    nb = DSIR_BUCKETS if n_buckets is None else n_buckets
    db = _dsir_doc_buckets(docs, nb)
    model = dsir_bucket_logratio(db, target_source, nb).cache()
    model.count()  # materialize: the fit IS the expensive pass
    return model


def _dsir_w_micro(
    docs: "DataFrame",
    target_source: str,
    n_buckets: int,
    logratio: "DataFrame | None" = None,
) -> "DataFrame":
    """(doc_id, w_micro, n_grams) for EVERY input doc — the integer
    core shared by :func:`dsir_logweights` and :func:`dsir_resample`.

    Scale: doc-bucket features join the broadcast <= B-row log-ratio
    table (no shuffle on the big side beyond the feature groupBy),
    then one doc-keyed map-combinable sum. Docs whose text produced no
    grams keep weight 0 via the left join.
    """
    db = _dsir_doc_buckets(docs, n_buckets, with_source=logratio is None)
    if logratio is None:
        # inline fit: `db` feeds BOTH the model aggregation and the
        # scoring join, and the model side sits under a broadcast —
        # unpersisted, the explode + (doc, bucket) groupBy pipeline
        # executed twice per query (optimization round 13). Persisted
        # + pinned eagerly (the concurrent-consumer race note in
        # dedup.minhash_pairs); rows are bounded by
        # Σ min(doc grams, n_buckets) — the doc-feature frame, not the
        # gram explosion. Prefit serving (logratio given) has ONE
        # consumer, so persisting there would only add a pass.
        from pyspark import StorageLevel

        db = db.persist(StorageLevel.MEMORY_AND_DISK)
        db.count()
    if logratio is not None and "fit_n_buckets" in logratio.columns:
        # zero-action mismatch guard: a prefit model hashed with a
        # different bucket count would join grams to wrong-bucket
        # ratios and return silently wrong scores. The model carries
        # its fit_n_buckets constant; any joined row with a different
        # value raises on first use (no extra Spark action — the check
        # rides the existing scoring projection).
        lr_guarded = F.when(
            F.col("fit_n_buckets") == F.lit(n_buckets), F.col("lr_micro")
        ).otherwise(
            F.expr(
                "raise_error(concat('DSIR_BUCKET_MISMATCH: model fitted "
                "with n_buckets=', fit_n_buckets, ' but scoring hashes "
                f"with n_buckets={n_buckets}; refit or pass the fit''s "
                "n_buckets to the scorer'))"
            ).cast("long")
        )
        lr = logratio.select("bucket", lr_guarded.alias("lr_micro"))
    elif logratio is not None:
        lr = logratio
    else:
        lr = dsir_bucket_logratio(db, target_source, n_buckets)
    w = (
        db.join(F.broadcast(lr.select("bucket", "lr_micro")), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("n") * F.col("lr_micro")).cast("long").alias("w_micro"),
            F.sum("n").cast("long").alias("n_grams"),
        )
    )
    return docs.select("doc_id").join(w, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("w_micro"), F.lit(0)).cast("long").alias("w_micro"),
        F.coalesce(F.col("n_grams"), F.lit(0)).cast("long").alias("n_grams"),
    )


def dsir_logweights(
    docs: "DataFrame",
    target_source: str = "src0",
    n_buckets: int | None = None,
    logratio: "DataFrame | None" = None,
) -> "DataFrame":
    """Per-document DSIR log importance weight of the raw pool toward
    the ``target_source`` slice: (doc_id, n_grams, logw). Positive =
    more target-like than the pool average under the hashed-ngram
    bag-of-words models.

    100 TB shape: the "fit" is two bounded aggregations (doc-keyed
    features, then <= n_buckets rows); scoring is a broadcast join +
    one doc-keyed sum. Nothing global beyond the <= B-row model —
    exactly how DSIR was run at CommonCrawl scale in the paper.
    """
    from .params import DSIR_BUCKETS

    nb = DSIR_BUCKETS if n_buckets is None else n_buckets
    w = _dsir_w_micro(docs, target_source, nb, logratio=logratio)
    return w.select(
        "doc_id",
        "n_grams",
        (F.col("w_micro").cast("double") / F.lit(1e6)).alias("logw"),
    )


def dsir_resample(
    docs: "DataFrame",
    k: int | None = None,
    target_source: str = "src0",
    n_buckets: int | None = None,
    logratio: "DataFrame | None" = None,
) -> "DataFrame":
    """Gumbel top-k importance resample (the paper's sampling-without-
    replacement trick): key = logw + Gumbel(0,1), take the k largest.
    The Gumbel noise is DETERMINISTIC — u = (md5-prefix(doc_id)+1) /
    (16^7+1), g = -ln(-ln(u)) — so the sample is reproducible and
    oracle-checkable; micro-quantized like every other log here.

    Returns (doc_id, logw, sample_key), k rows. Scale: the weight plan
    above plus one map-side key expression; top-k compiles to
    TakeOrderedAndProject — no global sort materializes.
    """
    from .params import DSIR_BUCKETS, DSIR_SAMPLE_K

    kk = DSIR_SAMPLE_K if k is None else k
    nb = DSIR_BUCKETS if n_buckets is None else n_buckets
    w = _dsir_w_micro(docs, target_source, nb, logratio=logratio)
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 7), 16, 10
    ).cast("long")
    u = (h + F.lit(1)).cast("double") / F.lit(268435457.0)  # (0, 1)
    g_micro = F.floor(-F.log(-F.log(u)) * F.lit(1e6) + F.lit(0.5)).cast("long")
    keyed = w.select(
        "doc_id",
        "w_micro",
        (F.col("w_micro") + g_micro).alias("_key_micro"),
    )
    return (
        keyed.orderBy(F.col("_key_micro").desc(), "doc_id")
        .limit(kk)
        .select(
            "doc_id",
            (F.col("w_micro").cast("double") / F.lit(1e6)).alias("logw"),
            (F.col("_key_micro").cast("double") / F.lit(1e6)).alias("sample_key"),
        )
    )


def _dsir_core_sql(
    target_source: str, n_buckets: int, rel: str = "documents"
) -> str:
    """Shared DuckDB CTE chain ending in wfull(doc_id, w_micro, n_grams).
    ``rel`` is the relation the model fits on AND scores — pass a CTE
    name to run DSIR over a restricted pool (the curated composition)."""
    b = n_buckets
    return f"""
    tk AS (
        SELECT doc_id, source, string_split(text, ' ') AS tk FROM {rel}
    ),
    grams AS (
        SELECT doc_id, source, unnest(tk) AS gram FROM tk
        UNION ALL
        SELECT doc_id, source,
               unnest(list_transform(range(1, len(tk)),
                      i -> array_to_string(tk[i:i+1], ' '))) AS gram
        FROM tk
    ),
    db AS (
        SELECT doc_id, source, bucket, COUNT(*)::BIGINT AS n
        FROM (
            SELECT doc_id, source,
                   ('0x' || substr(md5(gram), 1, 7))::BIGINT % {b} AS bucket
            FROM grams
        ) g GROUP BY doc_id, source, bucket
    ),
    pb AS (
        SELECT bucket,
               CAST(SUM(CASE WHEN source = '{target_source}' THEN n ELSE 0 END)
                    AS BIGINT) AS c_t,
               CAST(SUM(CASE WHEN source <> '{target_source}' THEN n ELSE 0 END)
                    AS BIGINT) AS c_r
        FROM db GROUP BY bucket
    ),
    tot AS (
        SELECT CAST(SUM(c_t) AS BIGINT) AS n_t,
               CAST(SUM(c_r) AS BIGINT) AS n_r FROM pb
    ),
    lr AS (
        SELECT bucket,
               CAST(floor(ln(c_t + 1) * 1e6 + 0.5) AS BIGINT)
             - CAST(floor(ln(n_t + {b}) * 1e6 + 0.5) AS BIGINT)
             - CAST(floor(ln(c_r + 1) * 1e6 + 0.5) AS BIGINT)
             + CAST(floor(ln(n_r + {b}) * 1e6 + 0.5) AS BIGINT) AS lr_micro
        FROM pb, tot
    ),
    w AS (
        SELECT db.doc_id,
               CAST(SUM(db.n * lr.lr_micro) AS BIGINT) AS w_micro,
               CAST(SUM(db.n) AS BIGINT) AS n_grams
        FROM db JOIN lr USING (bucket)
        GROUP BY db.doc_id
    ),
    wfull AS (
        SELECT d.doc_id,
               COALESCE(w.w_micro, 0) AS w_micro,
               COALESCE(w.n_grams, 0) AS n_grams
        FROM {rel} d LEFT JOIN w ON d.doc_id = w.doc_id
    )
    """


def dsir_logweights_sql(
    target_source: str = "src0", n_buckets: int | None = None
) -> str:
    """DuckDB mirror of :func:`dsir_logweights` — identical
    quantize-then-exact-sum formulation."""
    from .params import DSIR_BUCKETS

    nb = DSIR_BUCKETS if n_buckets is None else n_buckets
    return f"""
    WITH {_dsir_core_sql(target_source, nb)}
    SELECT doc_id, n_grams,
           CAST(w_micro AS DOUBLE) / 1e6 AS logw
    FROM wfull
    """


def dsir_resample_sql(
    k: int | None = None,
    target_source: str = "src0",
    n_buckets: int | None = None,
    rel: str = "documents",
    prelude: str = "",
) -> str:
    """DuckDB mirror of :func:`dsir_resample`. ``prelude`` prepends
    extra CTEs (e.g. the curated pool) ahead of the core chain;
    ``rel`` points the chain at one of them."""
    from .params import DSIR_BUCKETS, DSIR_SAMPLE_K

    kk = DSIR_SAMPLE_K if k is None else k
    nb = DSIR_BUCKETS if n_buckets is None else n_buckets
    return f"""
    WITH {prelude}{_dsir_core_sql(target_source, nb, rel=rel)},
    keyed AS (
        SELECT doc_id, w_micro,
               w_micro + CAST(floor(-ln(-ln(
                   (('0x' || substr(md5(doc_id::VARCHAR), 1, 7))::BIGINT + 1)
                   / 268435457.0)) * 1e6 + 0.5) AS BIGINT) AS key_micro
        FROM wfull
    )
    SELECT doc_id,
           CAST(w_micro AS DOUBLE) / 1e6 AS logw,
           CAST(key_micro AS DOUBLE) / 1e6 AS sample_key
    FROM keyed
    ORDER BY key_micro DESC, doc_id
    LIMIT {kk}
    """
