"""Round-9 consolidation: budget dials as code + candidates-tier ops.

- VERDICT r8 ask #3: ``shortlist="auto"`` (scales with nprobe×k,
  anchored at the oracle defaults like AUTO_NPROBE_FRACTION) and the
  m-budget check in ``fit_ivf_pq_index`` (warn when the PQ code space
  is smaller than the corpus; ``m="auto"`` resolves the floor) —
  resolved budgets pinned at 1×/100×/1000× corpus sizes, int/default
  paths bit-identical.
- VERDICT r8 ask #5: ``tfidf_verify`` / ``remove_dup_spans_scoped``
  equal their full-corpus ops restricted to the candidate set — the
  5M-doc "run the verifier tier on MinHash candidates" posture as
  code, not prose.
- ADVICE r8: loud parameter errors for non-'auto' strings; the tf-idf
  DECIMAL(18,0) operand bound enforced with raise_error instead of a
  silent non-ANSI NULL; episodic ABF1 ``allow_trailing`` opt-out.
"""

import struct

import numpy as np
import pytest

from tests.test_r8_guards import _shingle_corpus


SF001 = "/root/testdata/sf0.01"


# --- shortlist="auto" ---------------------------------------------------


def test_shortlist_auto_resolution_decades():
    """Budget pins: the anchor reproduces the oracle default at oracle
    scale and scales 2·nprobe·k through the measured decades — at the
    2M-vector serving point (auto-k=1414 → nprobe=64, k=5) it lands on
    640, the r8 dial sweep's ≈600 recovery point."""
    from myodish_peak_analysis_spark.llm import similarity as S

    assert S._resolve_shortlist(37, 99, 10) == 37  # int passthrough
    # 1×: oracle defaults (nprobe=2, k=5) → exactly the oracle 20
    assert S._resolve_shortlist("auto", 2, 5) == 20
    # 100× emb (200k vecs): auto-k=447 → nprobe=20 → 200
    assert S._resolve_shortlist("auto", 20, 5) == 200
    # 1000× emb (2M vecs): auto-k=1414 → nprobe=64 → 640 ≈ the
    # measured shortlist=600 probe-ceiling recovery
    assert S._resolve_shortlist("auto", 64, 5) == 640
    # floor: tiny budgets never drop below the oracle default
    assert S._resolve_shortlist("auto", 2, 1) == 20


def test_auto_string_dials_raise_loudly():
    """ADVICE r8: a typo'd dial names the parameter and the accepted
    values instead of int()'s bare ValueError deep in plan
    construction."""
    from myodish_peak_analysis_spark.llm import similarity as S

    with pytest.raises(ValueError, match="nprobe must be an int or 'auto'"):
        S._resolve_nprobe("Auto", None)
    with pytest.raises(ValueError, match="nprobe must be an int or 'auto'"):
        S._resolve_nprobe("2x", None)
    with pytest.raises(ValueError, match="shortlist must be an int or 'auto'"):
        S._resolve_shortlist("AUTO", 2, 5)
    with pytest.raises(ValueError, match="m must be an int or 'auto'"):
        S._resolve_pq_m("wide", 16, 100, 64)


def test_shortlist_auto_parity_on_oracle_corpus(spark):
    """At oracle scale the auto shortlist resolves to the default 20,
    so the int/default and "auto" paths must be bit-identical — the
    same contract test_nprobe_auto_resolution_and_parity pins for
    dial 1."""
    from myodish_peak_analysis_spark.llm import similarity as S
    from myodish_peak_analysis_spark.schema import read_table

    emb = read_table(spark, SF001, "embeddings")
    fixed = S.ivf_pq_topk(emb, shortlist=20).collect()
    auto = S.ivf_pq_topk(emb, shortlist="auto").collect()
    assert sorted(map(tuple, auto)) == sorted(map(tuple, fixed))
    assert len(fixed) > 0


# --- m-budget check ------------------------------------------------------


def test_pq_m_budget_resolution_decades():
    """Resolved m pinned at the measured corpus sizes: the oracle
    corpus (500 vecs, dim 64) needs m=4 — exactly the hash-pinned
    oracle default — and the 100×/1000× corpora (200k / 2M) need m=8,
    the floor under the measured "m=4 is ADC-bound by 200k" rule."""
    from myodish_peak_analysis_spark.llm import similarity as S

    assert S._resolve_pq_m("auto", 16, 500, 64) == 4  # 1×: oracle m
    assert S._resolve_pq_m("auto", 16, 200_000, 64) == 8  # 100×
    assert S._resolve_pq_m("auto", 16, 2_000_000, 64) == 8  # 1000×
    assert S._resolve_pq_m("auto", 16, 65_536, 64) == 4  # 16^4 boundary
    assert S._resolve_pq_m("auto", 16, 65_537, 64) == 8
    # int passthrough, silent when the code space covers the corpus
    assert S._resolve_pq_m(4, 16, 65_536, None) == 4
    # ADC-bound int m warns loudly (the 200k pilot-to-production trap)
    with pytest.warns(RuntimeWarning, match="ADC-bound"):
        assert S._resolve_pq_m(4, 16, 200_000, None) == 4


def test_fit_ivf_pq_index_warns_when_adc_bound(spark):
    from myodish_peak_analysis_spark.llm import similarity as S
    from myodish_peak_analysis_spark.schema import read_table

    emb = read_table(spark, SF001, "embeddings")  # 500 vectors
    # 4^2 = 16 code words < 500 vectors → ADC-bound, must warn
    with pytest.warns(RuntimeWarning, match="ADC-bound"):
        S.fit_ivf_pq_index(emb, n_clusters=4, m=2, n_centroids=4)


def test_fit_m_auto_matches_oracle_default_fit(spark):
    """m="auto" resolves to the oracle default m=4 on the oracle
    corpus, so a prefit search through the auto-budgeted index is
    bit-identical to the default index — and to the fit-inline route
    the driver hash-checks."""
    from myodish_peak_analysis_spark.llm import similarity as S
    from myodish_peak_analysis_spark.schema import read_table

    emb = read_table(spark, SF001, "embeddings")
    idx_auto = S.fit_ivf_pq_index(emb, m="auto")
    assert idx_auto.m == 4
    got = S.ivf_pq_topk(emb, index=idx_auto).collect()
    want = S.ivf_pq_topk(emb).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(want) > 0


# --- tf-idf overflow guard (raise_error, not silent NULL) ---------------


def test_tfidf_weight_overflow_raises_loudly(spark, monkeypatch):
    """ADVICE r8: past the DECIMAL(18,0) operand bound the op must
    fail with TFIDF_W_OVERFLOW, not silently NULL the weight out of
    the accumulators. A real >1e10-token doc can't be materialized in
    a test, so shrink the bound instead — the guard reads it at call
    time."""
    from myodish_peak_analysis_spark.llm import text as T

    texts = _shingle_corpus(seed=3)
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    monkeypatch.setattr(T, "_TFIDF_W_BOUND", 10)
    with pytest.raises(Exception, match="TFIDF_W_OVERFLOW"):
        # n_docs large → idf numerator at the cap → w ≫ 10
        T.tfidf_cosine_pairs(docs, min_cosine=0.0, n_docs=10**9).count()


def test_tfidf_guard_is_transparent_below_bound(spark):
    """The guard must not perturb in-bound results: same pairs and
    cosines as the r8-pinned values (the full property tests in
    test_r8_guards re-cover the adversarial-N path)."""
    from myodish_peak_analysis_spark.llm.text import tfidf_cosine_pairs

    texts = _shingle_corpus(seed=7)
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    rows = tfidf_cosine_pairs(docs, min_cosine=0.0, min_shared=1).collect()
    assert len(rows) > 0
    assert all(r.cosine is not None for r in rows)


# --- tfidf_verify == full op restricted to candidates --------------------


def test_tfidf_verify_equals_restriction(spark):
    """The candidates-tier contract: for ANY candidate frame —
    duplicated, reversed, self-paired — tfidf_verify equals
    tfidf_cosine_pairs inner-restricted to the normalized pairs;
    weights/df/N come from the full corpus, so scores never move."""
    from myodish_peak_analysis_spark.llm.text import (
        tfidf_cosine_pairs,
        tfidf_verify,
    )

    texts = _shingle_corpus(seed=11, n_docs=30)
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    full = {
        (r.doc_a, r.doc_b): (r.shared_terms, r.cosine)
        for r in tfidf_cosine_pairs(docs, min_cosine=0.0, min_shared=1).collect()
    }
    assert len(full) > 2
    keys = sorted(full)
    # half the true pairs (some reversed, one duplicated, one self)
    cand_rows = [keys[i] for i in range(0, len(keys), 2)]
    cand_rows += [(b, a) for (a, b) in cand_rows[:2]]  # reversed dups
    cand_rows += [(5, 5), (0, 999)]  # self-pair + absent doc
    pairs = spark.createDataFrame(cand_rows, "doc_id_a long, doc_id_b long")
    got = {
        (r.doc_a, r.doc_b): (r.shared_terms, r.cosine)
        for r in tfidf_verify(docs, pairs, min_cosine=0.0, min_shared=1).collect()
    }
    want = {k: full[k] for k in set(keys[::2]) if k in full}
    assert got == want


def test_tfidf_verify_on_minhash_candidates(spark):
    """The registered-query composition (the documented 100 TB
    posture): MinHash-LSH candidates → tf-idf verification. Every
    scored pair is a candidate pair, and each equals the full op's
    row for that pair."""
    from myodish_peak_analysis_spark.llm.dedup import minhash_pairs
    from myodish_peak_analysis_spark.llm.text import (
        tfidf_cosine_pairs,
        tfidf_verify,
    )
    from myodish_peak_analysis_spark.schema import read_table

    docs = read_table(spark, SF001, "documents")
    cand = minhash_pairs(docs)
    got = {
        (r.doc_a, r.doc_b): (r.shared_terms, r.cosine)
        for r in tfidf_verify(docs, cand).collect()
    }
    assert len(got) > 0
    cand_set = {(r.doc_id_a, r.doc_id_b) for r in cand.collect()}
    assert set(got) <= cand_set
    full = {
        (r.doc_a, r.doc_b): (r.shared_terms, r.cosine)
        for r in tfidf_cosine_pairs(docs).collect()
    }
    for k, v in got.items():
        assert full[k] == v


# --- remove_dup_spans_scoped == full op restricted to scope --------------


def test_remove_dup_spans_scoped_equals_restriction(spark):
    from myodish_peak_analysis_spark.llm.text import (
        remove_dup_spans,
        remove_dup_spans_scoped,
    )
    from myodish_peak_analysis_spark.schema import read_table
    from pyspark.sql import functions as F

    docs = read_table(spark, SF001, "documents")
    scope = docs.filter(F.col("doc_id") % 4 == 0).select("doc_id")
    got = sorted(
        map(tuple, remove_dup_spans_scoped(docs, scope).collect())
    )
    want = sorted(
        map(
            tuple,
            remove_dup_spans(docs)
            .filter(F.col("doc_id") % 4 == 0)
            .collect(),
        )
    )
    assert got == want and len(got) > 0


def test_scoped_span_stats_stay_global(spark):
    """A scoped doc whose ONLY duplicate partner lies OUTSIDE the
    scope must still be cut — the dup-gram signal is a corpus
    statistic, not a scope statistic (the trap a naive "filter first"
    implementation falls into)."""
    from myodish_peak_analysis_spark.llm.text import remove_dup_spans_scoped

    span = "a b c d e f g h"  # one 8-gram, shared by docs 0 and 1
    docs = spark.createDataFrame(
        [
            (0, span + " unique0 tail0 end0"),
            (1, span + " unique1 tail1 end1"),
            (2, "nothing shared here at all beyond these words ok"),
        ],
        "doc_id long, text string",
    )
    scope = docs.sparkSession.createDataFrame([(0,)], "doc_id long")
    rows = remove_dup_spans_scoped(docs, scope).collect()
    assert len(rows) == 1 and rows[0].doc_id == 0
    # the duplicated span (partner OUT of scope) was still removed
    assert rows[0].n_tokens_removed == 8
    assert rows[0].clean_text == "unique0 tail0 end0"


# --- episodic ABF1 allow_trailing opt-out --------------------------------


def test_abf1_allow_trailing_truncates_with_warning(tmp_path):
    from myodish_peak_analysis_spark.sources.abf import (
        read_abf1_sweeps,
        write_abf1_int16,
    )

    rng = np.random.default_rng(11)
    data = rng.uniform(-2, 2, size=(240, 2))
    path = str(tmp_path / "epi.abf")
    write_abf1_int16(path, data, 500.0, episodes=4)
    raw = bytearray(open(path, "rb").read())
    struct.pack_into("<i", raw, 138, 60)  # 4 × 30 rows = 120 < 240
    bad = tmp_path / "trail.abf"
    bad.write_bytes(bytes(raw))

    # default posture unchanged: loud refusal
    with pytest.raises(ValueError, match="trailing samples"):
        read_abf1_sweeps(str(bad))
    # opt-out: whole episodes kept, tail dropped, warning names the count
    with pytest.warns(RuntimeWarning, match="truncating 120 trailing rows"):
        sweeps, rate = read_abf1_sweeps(str(bad), allow_trailing=True)
    assert len(sweeps) == 4
    assert all(len(ch) == 30 for sw in sweeps for ch in sw)
    # the kept samples are bit-identical to the intact file's prefix
    ok, _ = read_abf1_sweeps(path)
    np.testing.assert_array_equal(
        sweeps[0][0]["signal_value"].to_numpy(),
        ok[0][0]["signal_value"].to_numpy()[:30],
    )
    # an OVERSIZED product stays fatal even with the opt-out
    struct.pack_into("<i", raw, 138, 400)
    worse = tmp_path / "oversized.abf"
    worse.write_bytes(bytes(raw))
    with pytest.raises(ValueError, match="exceeds it"):
        read_abf1_sweeps(str(worse), allow_trailing=True)
