"""Round-8 consolidation guards.

- VERDICT r7 ask #3: the tfidf_cosine_pairs weight-overflow guard is
  CODE now (idf-numerator cap + DECIMAL accumulators), property-tested
  at adversarial corpus sizes where the old BIGINT math provably
  overflowed int64.
- ADVICE r7: AVI dwStreams truncation guard, AVIF zero-body pitm
  bounds, episodic ABF1 trailing-sample refusal.
"""

import math
import struct

import numpy as np
import pytest


# --- tfidf overflow guard ---------------------------------------------


def _exact_tfidf_pairs(texts, n_docs, max_df=100, min_shared=2, gram=3):
    """Python-bigint mirror of tfidf_cosine_pairs (exact integers all
    the way; one float division + round at the end)."""
    from myodish_peak_analysis_spark.llm.text import TFIDF_N_CAP

    n_idf = min(n_docs, TFIDF_N_CAP)
    tf: dict = {}
    for doc_id, text in texts:
        toks = text.split(" ")
        for i in range(len(toks) - gram + 1):
            term = " ".join(toks[i : i + gram])
            if term:
                tf[(doc_id, term)] = tf.get((doc_id, term), 0) + 1
    df: dict = {}
    for (_, term), _c in tf.items():
        df[term] = df.get(term, 0) + 1
    w = {
        (d, t): c * (n_idf // df[t])
        for (d, t), c in tf.items()
        if df[t] <= max_df
    }
    norms: dict = {}
    for (d, _), ww in w.items():
        norms[d] = norms.get(d, 0) + ww * ww
    dots: dict = {}
    shared: dict = {}
    by_term: dict = {}
    for (d, t), ww in w.items():
        by_term.setdefault(t, []).append((d, ww))
    for t, posts in by_term.items():
        for i in range(len(posts)):
            for j in range(len(posts)):
                a, wa = posts[i]
                b, wb = posts[j]
                if a < b:
                    dots[(a, b)] = dots.get((a, b), 0) + wa * wb
                    shared[(a, b)] = shared.get((a, b), 0) + 1
    out = {}
    for (a, b), dot in dots.items():
        if shared[(a, b)] < min_shared:
            continue
        cos = dot / (math.sqrt(float(norms[a])) * math.sqrt(float(norms[b])))
        out[(a, b)] = (shared[(a, b)], cos)
    return out


def _shingle_corpus(seed: int, n_docs: int = 24):
    """Docs sharing rare 3-shingles in clusters so pruned-space cosine
    has real mass; vocab kept tiny so df varies 1..n_docs."""
    rng = np.random.default_rng(seed)
    vocab = [f"w{i}" for i in range(9)]
    texts = []
    for d in range(n_docs):
        base = list(rng.choice(vocab, size=14))
        if d % 3 == 0:  # near-dup cluster: shared rare tail
            base[-6:] = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]
        texts.append((d, " ".join(base)))
    return texts


@pytest.mark.parametrize("n_docs_global", [5_000_000_000, 987_654_321_123])
def test_tfidf_cap_exact_at_adversarial_n(spark, n_docs_global):
    """At N >= 1e9 the pre-r8 BIGINT weights overflow int64 (df=1 =>
    w = tf*(N DIV 1), w*w > 9.2e18); the capped DECIMAL path must stay
    exact — no nulls, every cosine in (0, 1], values matching a
    Python-bigint mirror of the same formula."""
    from myodish_peak_analysis_spark.llm.text import (
        TFIDF_N_CAP,
        tfidf_cosine_pairs,
    )

    texts = _shingle_corpus(seed=n_docs_global % 97)
    # the adversarial premise: uncapped weights WOULD overflow
    assert (n_docs_global // 1) ** 2 > 2**63 - 1
    assert n_docs_global > TFIDF_N_CAP

    docs = spark.createDataFrame(texts, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): (r.shared_terms, r.cosine)
        for r in tfidf_cosine_pairs(
            docs, min_cosine=0.0, min_shared=1, n_docs=n_docs_global
        ).collect()
    }
    want = _exact_tfidf_pairs(texts, n_docs_global, min_shared=1)
    assert set(got) == set(want)
    for k, (sh, cos) in got.items():
        assert cos is not None  # DECIMAL overflow would null out
        assert 0.0 < cos <= 1.0 + 1e-9
        assert sh == want[k][0]
        assert cos == pytest.approx(round(want[k][1], 6), abs=2e-6)


def test_tfidf_default_path_unchanged_and_cap_is_noop_below_1e8(spark):
    """Harness-scale regression: without n_docs the result equals the
    Python mirror at N = count(docs) — the LEAST(N, cap) is a no-op and
    DECIMAL sums of small ints equal the old BIGINT sums exactly."""
    from myodish_peak_analysis_spark.llm.text import tfidf_cosine_pairs

    texts = _shingle_corpus(seed=7)
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): (r.shared_terms, r.cosine)
        for r in tfidf_cosine_pairs(docs, min_cosine=0.0, min_shared=1).collect()
    }
    want = _exact_tfidf_pairs(texts, len(texts), min_shared=1)
    assert set(got) == set(want)
    for k, (sh, cos) in got.items():
        assert sh == want[k][0]
        assert cos == pytest.approx(round(want[k][1], 6), abs=2e-6)


# --- nprobe="auto" (constant-coverage dial, round 8) -------------------


def test_nprobe_auto_resolution_and_parity(spark):
    """"auto" holds AUTO_NPROBE_FRACTION of the posting lists (the
    oracle anchor: 2 of 44), so it resolves to the oracle default at
    oracle scale (results identical) and grows with nlist — codifying
    the round-8 recall-decade finding that fixed nprobe loses recall
    ×√10 per corpus decade."""
    from myodish_peak_analysis_spark.llm import similarity as S
    from myodish_peak_analysis_spark.schema import read_table

    assert S._resolve_nprobe(7, spark.range(3)) == 7  # int passthrough
    assert S._resolve_nprobe("auto", spark.range(44)) == 2  # the anchor
    assert S._resolve_nprobe("auto", spark.range(447)) == 20  # 100× emb
    assert S._resolve_nprobe("auto", spark.range(4)) == 2  # floor

    emb = read_table(spark, "/root/testdata/sf0.01", "embeddings")
    fixed = S.ivf_topk(emb, n_clusters=16, nprobe=2).collect()
    auto = S.ivf_topk(emb, n_clusters=16, nprobe="auto").collect()
    assert sorted(map(tuple, auto)) == sorted(map(tuple, fixed))
    assert len(fixed) > 0


# --- ADVICE r7 parser edge cases ---------------------------------------


def _box(typ: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + typ + body


def _ispe(w: int, h: int) -> bytes:
    return _box(b"ispe", b"\x00" * 4 + struct.pack(">II", w, h))


def test_avi_truncated_inside_dwstreams_returns_none():
    from tests.test_r7_ops import _minimal_avi

    from myodish_peak_analysis_spark.llm.multimodal import _parse_avi_duration

    full = _minimal_avi()
    # avih fields start at j=24; dwStreams occupies j+32..j+36 = 56..60
    assert _parse_avi_duration(full[:60]) == (10.0, 2)  # exactly enough
    # cut INSIDE dwStreams: pre-r8 the j+32 guard admitted this and a
    # 2-byte slice yielded a bogus stream count; now -> None
    assert _parse_avi_duration(full[:58]) is None
    assert _parse_avi_duration(full[:57]) is None


def test_avif_zero_body_pitm_at_buffer_end_degrades_to_fallback():
    from myodish_peak_analysis_spark.llm.multimodal import _parse_image_header

    ftyp = _box(b"ftyp", b"avif" + b"\x00" * 4 + b"avifmif1")
    ipco = _box(b"ipco", _ispe(1920, 1080) + _ispe(320, 240))
    # pitm with EMPTY body as the LAST box: s2 == e2 == len(payload);
    # pre-r8 payload[s2] raised IndexError inside the worker
    meta = _box(b"meta", b"\x00" * 4 + _box(b"iprp", ipco) + _box(b"pitm", b""))
    payload = ftyp + meta
    # degrade-to-fallback (largest-area ispe), not a crash
    assert _parse_image_header(payload) == (1920, 1080)
    # truncated v0 pitm (version byte present, id missing) also degrades
    meta2 = _box(
        b"meta", b"\x00" * 4 + _box(b"iprp", ipco) + _box(b"pitm", b"\x00" * 4)
    )
    assert _parse_image_header(ftyp + meta2) == (1920, 1080)


def test_convergence_rounds_observability(spark):
    """dedup_clusters/star_components publish the last run's
    rounds-to-converge — the scaling harness's per-decade evidence that
    the iterative routes stay round-bounded as the corpus grows."""
    from pyspark.sql import functions as F

    from myodish_peak_analysis_spark.llm import dedup

    texts = [
        (i, "alpha beta gamma delta eps zeta eta theta " + f"tail{i % 3}")
        for i in range(30)
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    dedup.CONVERGENCE_ROUNDS.clear()
    lab = dedup.dedup_clusters(docs)
    lab.count()
    assert dedup.CONVERGENCE_ROUNDS.get("label", 0) >= 1
    star = dedup.star_components(
        dedup.neardup_verified(docs).select(
            F.col("doc_id_a").alias("src"), F.col("doc_id_b").alias("dst")
        ),
        docs.select("doc_id"),
    )
    assert dedup.CONVERGENCE_ROUNDS.get("star", 0) >= 1
    # the two routes agree (existing contract, re-checked post-hook)
    assert sorted(map(tuple, lab.collect())) == sorted(
        map(tuple, star.collect())
    )


def test_abf1_episodic_trailing_samples_refused(tmp_path):
    from myodish_peak_analysis_spark.sources.abf import (
        read_abf1_sweeps,
        write_abf1_int16,
    )

    rng = np.random.default_rng(11)
    data = rng.uniform(-2, 2, size=(240, 2))
    path = str(tmp_path / "epi.abf")
    write_abf1_int16(path, data, 500.0, episodes=4)
    ok, _ = read_abf1_sweeps(path)
    assert len(ok) == 4

    # shrink lNumSamplesPerEpisode to 60 (still a multiple of nchan=2):
    # 4 episodes x 30 rows = 120 < 240 rows -> trailing data the split
    # would silently drop; must refuse loudly
    raw = bytearray(open(path, "rb").read())
    struct.pack_into("<i", raw, 138, 60)
    bad = tmp_path / "trail.abf"
    bad.write_bytes(bytes(raw))
    with pytest.raises(ValueError, match="trailing samples"):
        read_abf1_sweeps(str(bad))
