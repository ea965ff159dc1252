"""Round-10 consolidation: SQ8-vs-PQ route recommendation as code and
the artifact-derived rotation generator.

- VERDICT r9 ask #5: ``recommend_quantizer`` ships the round-9
  measurement (IVF×SQ8 dominates IVF×PQ on recall AND serving cost
  wherever 1 byte/dim fits memory — docs/SCALE.md "Recall at the 1000×
  serving point") as a pure-arithmetic route helper, plus the
  ``fit_ivf_pq_index(memory_budget_bytes=...)`` warning twin.
- VERDICT r9 ask #1: the driver-verification head is now DERIVED from
  the committed CORRECTNESS artifacts (``_compute_rotation``), so a
  landed driver round re-rotates the head instead of reddening pytest;
  these tests pin the generator's edge cases against synthetic
  artifact states (the live-artifact check stays in
  test_entry_contract.py).
"""

import warnings

import pytest

SF001 = "/root/testdata/sf0.001"


# --- recommend_quantizer -------------------------------------------------


def test_recommend_quantizer_sq8_when_budget_fits():
    from myodish_peak_analysis_spark.llm import similarity as S

    rec = S.recommend_quantizer(2_000_000, 64, 200_000_000)
    assert rec["route"] == "sq8"
    assert rec["fits"] is True
    assert rec["m"] is None
    # N*dim + the 8*dim scale vector
    assert rec["bytes"] == 2_000_000 * 64 + 8 * 64


def test_recommend_quantizer_sq8_when_unconstrained():
    from myodish_peak_analysis_spark.llm import similarity as S

    rec = S.recommend_quantizer(10**9, 1024, None)
    assert rec["route"] == "sq8" and rec["fits"] is True


def test_recommend_quantizer_pq_when_memory_bound():
    from myodish_peak_analysis_spark.llm import similarity as S

    # 2M x 64 = 128 MB of SQ8 codes; a 32 MB budget forces PQ. The
    # recall floor for 2M vectors at k=16 is 16^m >= 2e6 -> m=6, but 6
    # does not divide 64, so the smallest covering divisor is m=8.
    rec = S.recommend_quantizer(2_000_000, 64, 32_000_000)
    assert rec["route"] == "pq"
    assert rec["m"] == 8
    assert rec["bytes"] == 2_000_000 * 8 + 8 * 64 * 16
    assert rec["fits"] is True


def test_recommend_quantizer_reports_unfittable_floor():
    from myodish_peak_analysis_spark.llm import similarity as S

    # budget below even the m-floor code bytes: report the floor with
    # fits=False instead of silently under-sizing m below the ADC bound
    rec = S.recommend_quantizer(2_000_000, 64, 1_000_000)
    assert rec["route"] == "pq" and rec["fits"] is False
    assert rec["m"] == 8
    assert "shard" in rec["reason"]


def test_recommend_quantizer_validates_inputs():
    from myodish_peak_analysis_spark.llm import similarity as S

    with pytest.raises(ValueError, match="dim > 0"):
        S.recommend_quantizer(100, 0, None)
    with pytest.raises(ValueError, match="n_vectors >= 0"):
        S.recommend_quantizer(-1, 64, None)


def test_fit_ivf_pq_index_warns_when_sq8_dominates(spark):
    """The warning twin: a budget that fits 1 byte/dim makes the PQ fit
    announce the measured-better route before spending Lloyd rounds."""
    from myodish_peak_analysis_spark.llm import similarity as S
    from myodish_peak_analysis_spark.schema import read_table

    emb = read_table(spark, SF001, "embeddings")
    with pytest.warns(RuntimeWarning, match="ivf_sq8_topk"):
        S.fit_ivf_pq_index(
            emb, n_clusters=4, memory_budget_bytes=10**9
        )


def test_fit_ivf_pq_index_budget_default_is_silent(spark):
    """Default memory_budget_bytes=None: no route warning — the
    oracle-pinned fits stay byte-identical and warning-free."""
    from myodish_peak_analysis_spark.llm import similarity as S
    from myodish_peak_analysis_spark.schema import read_table

    emb = read_table(spark, SF001, "embeddings")
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        S.fit_ivf_pq_index(emb, n_clusters=4)


def test_fit_ivf_pq_index_raises_loudly_on_empty_corpus(spark):
    """ADVICE r9: m='auto' on an empty corpus used to die with a bare
    TypeError (None[0]); now a named ValueError for every m."""
    from pyspark.sql import functions as F

    from myodish_peak_analysis_spark.llm import similarity as S
    from myodish_peak_analysis_spark.schema import read_table

    empty = read_table(spark, SF001, "embeddings").filter(F.lit(False))
    with pytest.raises(ValueError, match="empty embedding corpus"):
        S.fit_ivf_pq_index(empty, n_clusters=4, m="auto")


# --- fit_dup_gram_stats (fit-once span-cut stats) -------------------------


def test_dup_spans_scoped_prefit_equals_inline(spark):
    """Prefit stats change WHERE the dup-gram frame comes from, never a
    value: scoped rewrite with fit_dup_gram_stats == the inline op, for
    two different scopes off one fit (the amortization contract)."""
    from pyspark.sql import functions as F

    from myodish_peak_analysis_spark.llm import text
    from myodish_peak_analysis_spark.schema import read_table

    docs = read_table(spark, "/root/testdata/sf0.01", "documents")
    stats = text.fit_dup_gram_stats(docs)
    for mod in (4, 7):
        scope = docs.filter(F.col("doc_id") % mod == 0).select("doc_id")
        inline = text.remove_dup_spans_scoped(docs, scope)
        prefit = text.remove_dup_spans_scoped(docs, scope, dup_grams=stats)
        assert sorted(map(tuple, inline.collect())) == sorted(
            map(tuple, prefit.collect())
        )


def test_fit_dup_gram_stats_parquet_roundtrip(spark, tmp_path):
    """The docstring's cluster posture — write the fitted frame once
    per corpus snapshot, read it per scope batch — must be
    search-identical to the in-session frame (the save/load_ivf_pq_index
    precedent)."""
    from pyspark.sql import functions as F

    from myodish_peak_analysis_spark.llm import text
    from myodish_peak_analysis_spark.schema import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    stats = text.fit_dup_gram_stats(docs)
    path = str(tmp_path / "dup_gram_stats")
    stats.write.parquet(path)
    loaded = spark.read.parquet(path)
    scope = docs.filter(F.col("doc_id") % 3 == 0).select("doc_id")
    live = text.remove_dup_spans_scoped(docs, scope, dup_grams=stats)
    via_parquet = text.remove_dup_spans_scoped(docs, scope, dup_grams=loaded)
    assert sorted(map(tuple, live.collect())) == sorted(
        map(tuple, via_parquet.collect())
    )


def test_fit_dup_gram_stats_equals_full_op_grams(spark):
    """The fitted frame is exactly the duplicated-gram set the full
    remove_dup_spans derives internally: round-tripping it through the
    scoped op with scope = ALL docs reproduces the full rewrite."""
    from myodish_peak_analysis_spark.llm import text
    from myodish_peak_analysis_spark.schema import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    stats = text.fit_dup_gram_stats(docs)
    full = text.remove_dup_spans(docs)
    via_fit = text.remove_dup_spans_scoped(
        docs, docs.select("doc_id"), dup_grams=stats
    )
    assert sorted(map(tuple, full.collect())) == sorted(
        map(tuple, via_fit.collect())
    )


# --- the rotation generator ----------------------------------------------


def _entry():
    import importlib.util
    import os
    import sys

    if "__spark_entry__" in sys.modules:
        return sys.modules["__spark_entry__"]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(root, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules["__spark_entry__"] = mod
    spec.loader.exec_module(mod)
    return mod


def test_compute_rotation_fresh_clone_uses_registry_order(monkeypatch):
    mod = _entry()
    monkeypatch.setattr(mod, "_newest_driver_rows", lambda: ({}, 0))
    names = [f"q{i:03d}" for i in range(60)]
    head, tail = mod._compute_rotation(names)
    assert head == names[:50] and tail == names[50:]


def test_compute_rotation_overflowing_backlog_fills_head_entirely(monkeypatch):
    mod = _entry()
    names = [f"s{i:02d}" for i in range(70)]
    monkeypatch.setattr(mod, "_newest_driver_rows", lambda: ({}, 5))
    head, tail = mod._compute_rotation(names)
    assert len(head) == 50 and len(tail) == 20
    # never-verified rows sort oldest-first by (round=0, name)
    assert head == sorted(names)[:50]


# --- DSIR importance resampling (round-10 addition) -----------------------


def _docs(spark):
    from myodish_peak_analysis_spark.schema import read_table

    return read_table(spark, "/root/testdata/sf0.01", "documents")


def test_dsir_weights_separate_target_from_pool(spark):
    """The whole point of DSIR: documents from the target source must
    score higher on average than the pool (they ARE the distribution
    the model was fit on)."""
    from pyspark.sql import functions as F

    from myodish_peak_analysis_spark.llm import sampling as S

    docs = _docs(spark)
    w = S.dsir_logweights(docs, target_source="src0").join(
        docs.select("doc_id", "source"), "doc_id"
    )
    rows = (
        w.groupBy(F.col("source") == "src0")
        .agg(F.avg("logw").alias("m"))
        .collect()
    )
    means = {r[0]: r["m"] for r in rows}
    # measured gap at sf0.01 is ~16 nats (-2.9 vs -19.2); any real
    # separation clears 5 — equality would mean the model learned nothing
    assert means[True] > means[False] + 5.0


def test_dsir_weights_cover_every_doc(spark):
    from myodish_peak_analysis_spark.llm import sampling as S

    docs = _docs(spark)
    w = S.dsir_logweights(docs)
    assert w.count() == docs.count()
    assert w.filter("n_grams <= 0").count() == 0  # corpus has no empty docs


def test_dsir_resample_is_subset_with_k_rows(spark):
    from myodish_peak_analysis_spark.llm import sampling as S

    docs = _docs(spark)
    sample = S.dsir_resample(docs, k=40)
    assert sample.count() == 40
    ids = {r.doc_id for r in sample.select("doc_id").collect()}
    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    assert ids <= all_ids
    # the Gumbel key must dominate-but-follow the weight: every sampled
    # row's key is its logw plus a finite perturbation
    for r in sample.collect():
        assert r.sample_key == pytest.approx(r.logw, abs=25.0)


def test_dsir_resample_prefers_high_weight_docs(spark):
    """Gumbel top-k with k = 20% of corpus must over-select target-like
    docs: the mean logw of the sample exceeds the corpus mean."""
    from pyspark.sql import functions as F

    from myodish_peak_analysis_spark.llm import sampling as S

    docs = _docs(spark)
    corpus_mean = (
        S.dsir_logweights(docs).agg(F.avg("logw")).collect()[0][0]
    )
    sample_mean = (
        S.dsir_resample(docs, k=100).agg(F.avg("logw")).collect()[0][0]
    )
    assert sample_mean > corpus_mean


def test_dsir_bigram_features_present(spark):
    """Single-token docs contribute exactly 1 gram; an n-token doc
    contributes 2n-1 (n unigrams + n-1 bigrams) — pins the feature
    definition the oracle mirrors."""
    from pyspark.sql import functions as F

    from myodish_peak_analysis_spark.llm import sampling as S

    docs = _docs(spark)
    w = S.dsir_logweights(docs).join(
        docs.select(
            "doc_id", F.size(F.split("text", " ")).alias("n_tok")
        ),
        "doc_id",
    )
    bad = w.filter(
        F.col("n_grams")
        != F.when(F.col("n_tok") >= 2, 2 * F.col("n_tok") - 1).otherwise(
            F.col("n_tok")
        )
    )
    assert bad.count() == 0


def test_dsir_prefit_model_equals_inline(spark):
    """fit_dsir_logratio + logratio= must reproduce the inline fit
    bit-for-bit — the prefit pattern's contract (same as
    dup_spans_scoped_prefit)."""
    from myodish_peak_analysis_spark.llm import sampling as S

    docs = _docs(spark)
    model = S.fit_dsir_logratio(docs)
    inline = sorted(map(tuple, S.dsir_logweights(docs).collect()))
    prefit = sorted(
        map(tuple, S.dsir_logweights(docs, logratio=model).collect())
    )
    assert inline == prefit
    sample_inline = sorted(map(tuple, S.dsir_resample(docs, k=30).collect()))
    sample_prefit = sorted(
        map(tuple, S.dsir_resample(docs, k=30, logratio=model).collect())
    )
    assert sample_inline == sample_prefit


def test_dsir_curated_sample_draws_from_curated_pool(spark):
    """The composed query's sample must be a subset of the curated
    survivors (quality gates run BEFORE target-relevance selection)."""
    from myodish_peak_analysis_spark.llm import curate
    from myodish_peak_analysis_spark.llm import sampling as S

    docs = _docs(spark)
    kept = curate.curated_corpus(docs).select("doc_id")
    pool = docs.join(kept, "doc_id")
    sample = S.dsir_resample(pool, k=50)
    kept_ids = {r.doc_id for r in kept.collect()}
    sample_ids = {r.doc_id for r in sample.collect()}
    assert sample_ids <= kept_ids and len(sample_ids) == 50


def test_dsir_raises_loudly_on_empty_target(spark):
    """A target_source matching no documents must raise a named error
    (the tf-idf overflow-guard convention), not return Laplace-noise
    weights that look plausible."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from myodish_peak_analysis_spark.llm import sampling as S

    docs = _docs(spark)
    with pytest.raises(SparkRuntimeException, match="DSIR_EMPTY_TARGET"):
        S.dsir_logweights(docs, target_source="no_such_source").collect()


def test_dsir_raises_loudly_on_empty_pool(spark):
    """The symmetric guard: a pool scoped to ONLY target docs must
    raise DSIR_EMPTY_POOL, not rank against a uniform Laplace pool."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from myodish_peak_analysis_spark.llm import sampling as S

    docs = _docs(spark).filter("source = 'src0'")
    with pytest.raises(SparkRuntimeException, match="DSIR_EMPTY_POOL"):
        S.dsir_logweights(docs, target_source="src0").collect()


def test_dsir_bucket_mismatch_raises(spark):
    """A prefit model fitted with a different n_buckets must raise on
    first use instead of joining grams to wrong-bucket ratios."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from myodish_peak_analysis_spark.llm import sampling as S

    docs = _docs(spark)
    model = S.fit_dsir_logratio(docs, n_buckets=64)
    with pytest.raises(SparkRuntimeException, match="DSIR_BUCKET_MISMATCH"):
        S.dsir_logweights(docs, n_buckets=256, logratio=model).collect()


def test_dsir_oov_grams_score_laplace_default_not_dropped(spark):
    """Serve-time grams hashing to buckets the fit corpus never touched
    must score the model's Laplace default row (dense B-row model), so
    n_grams keeps the 2n-1 invariant and logw carries the default
    ratio — they must NOT vanish from the inner join."""
    from pyspark.sql import functions as F

    from myodish_peak_analysis_spark.llm import sampling as S

    docs = _docs(spark)
    # tiny fit corpus + small B would still cover most buckets, so fit
    # on 6 docs at the default B: most buckets stay untouched by the
    # fit (doc_id % 97 keeps the slice source-mixed — %100 would select
    # only src0 docs and correctly trip the DSIR_EMPTY_POOL guard)
    from myodish_peak_analysis_spark.llm.params import DSIR_BUCKETS

    fit_docs = docs.filter("doc_id % 97 = 0")
    model = S.fit_dsir_logratio(fit_docs)
    assert model.count() == DSIR_BUCKETS  # dense: every bucket has a row
    # score OOV-heavy docs (disjoint from the fit slice)
    serve = docs.filter("doc_id % 100 = 7").select("doc_id", "text")
    w = S.dsir_logweights(serve, logratio=model).join(
        serve.select(
            "doc_id", F.size(F.split("text", " ")).alias("n_tok")
        ),
        "doc_id",
    )
    bad = w.filter(
        F.col("n_grams")
        != F.when(F.col("n_tok") >= 2, 2 * F.col("n_tok") - 1).otherwise(
            F.col("n_tok")
        )
    )
    assert bad.count() == 0  # every gram scored, none dropped


def test_newest_driver_rows_skips_stray_glob_matches(monkeypatch, tmp_path):
    """A file matching the CORRECTNESS_r*.json glob but not the
    _r<digits>.json regex (a .bak sibling, a retry copy) must be
    skipped like a truncated artifact — not crash module import with
    AttributeError on m.group."""
    import glob as glob_mod
    import json

    import __spark_entry__ as e

    good = tmp_path / "CORRECTNESS_r3.json"
    good.write_text(json.dumps({"some_query": {}}))
    stray = tmp_path / "CORRECTNESS_r3_retry.json"
    stray.write_text("{}")
    monkeypatch.setattr(
        glob_mod, "glob", lambda pat: [str(stray), str(good)]
    )
    newest, latest = e._newest_driver_rows()
    assert latest == 3 and newest == {"some_query": 3}


# --- ivf_pq_append (between-refits ingest) ---------------------------------


def _emb01(spark):
    from myodish_peak_analysis_spark.schema import read_table

    return read_table(spark, "/root/testdata/sf0.01", "embeddings")


def test_ivf_pq_append_batch_split_associativity(spark):
    """Appending in two batches must equal appending the union in one —
    the daily-ingest contract (assignments depend only on the frozen
    centroids/codebooks, never on co-appended vectors)."""
    from pyspark.sql import functions as F

    from myodish_peak_analysis_spark.llm import similarity as S

    emb = _emb01(spark)
    corpus = emb.filter(F.col("vec_id") % 10 > 4)
    a = emb.filter(F.col("vec_id") % 10 == 0)
    b = emb.filter(F.col("vec_id") % 10 == 1)
    idx = S.fit_ivf_pq_index(corpus)
    two_step = S.ivf_pq_append(S.ivf_pq_append(idx, a), b)
    one_step = S.ivf_pq_append(idx, a.unionByName(b))
    qs = emb.filter(F.col("vec_id") % 200 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    r2 = sorted(map(tuple, S.ivf_pq_search(qs, two_step).collect()))
    r1 = sorted(map(tuple, S.ivf_pq_search(qs, one_step).collect()))
    assert r2 == r1


def test_ivf_pq_append_makes_new_vectors_findable(spark):
    """A query equal to an appended vector must return it at rank 1
    with cosine 1.0 (its own probe centroid is its assigned centroid,
    so the self row is always a candidate; exact re-rank tops it)."""
    from pyspark.sql import functions as F

    from myodish_peak_analysis_spark.llm import similarity as S

    emb = _emb01(spark)
    idx = S.fit_ivf_pq_index(emb.filter(F.col("vec_id") % 10 != 3))
    new = emb.filter(F.col("vec_id") % 10 == 3)
    idx2 = S.ivf_pq_append(idx, new)
    qv = new.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    top = (
        S.ivf_pq_search(qv, idx2)
        .filter("rank = 1")
        .select("query_id", "vec_id", "cosine")
        .collect()
    )
    assert len(top) == 3
    for r in top:
        assert r.vec_id == r.query_id and r.cosine == 1.0


def test_ivf_pq_append_refuses_duplicate_vec_ids(spark):
    from pyspark.sql import functions as F

    from myodish_peak_analysis_spark.llm import similarity as S

    emb = _emb01(spark)
    corpus = emb.filter(F.col("vec_id") % 10 != 3)
    idx = S.fit_ivf_pq_index(corpus)
    with pytest.raises(ValueError, match="shares vec_ids"):
        S.ivf_pq_append(idx, corpus.limit(1))
