"""LLM-pipeline operator tests on constructed documents/embeddings
with known ground truth."""

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from myodish_peak_analysis_spark.llm import dedup, multimodal, similarity, text
from myodish_peak_analysis_spark.llm.params import (
    MINHASH_COEFFS,
    MINHASH_PERMS,
    MINHASH_PRIME,
    SHINGLE_K,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, base + " with a tiny tail"),  # near-dup of 0
        (3, "completely different words about spark window functions here"),
        (4, "too short"),  # < 3 tokens excluded from shingle ops
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups_duplicates(docs):
    out = {r.keeper_doc_id: r.n_copies for r in dedup.exact_dedup(docs).collect()}
    assert out[0] == 2  # docs 0 and 1 collapse
    assert out[2] == 1 and out[3] == 1


def test_minhash_identical_docs_share_signature(docs):
    sigs = {r.doc_id: tuple(r)[1:] for r in dedup.minhash_signatures(docs).collect()}
    assert sigs[0] == sigs[1]
    assert sigs[0] != sigs[3]
    assert 4 not in sigs  # too short for shingles


def minhash_signatures_reference(docs):
    """The explode + groupBy-min MinHash that the map-only fold
    replaced: one row per shingle, hashed, then 16 ``min`` aggregates
    per ``doc_id``."""
    k = SHINGLE_K
    sh = (
        docs.filter(F.expr(f"size(split(text, ' ')) >= {k}"))
        .select(
            "doc_id",
            F.explode(F.expr(f"array_distinct({text.word_ngrams(k)})")).alias("shingle"),
        )
        .withColumn("h", F.conv(F.substring(F.md5("shingle"), 1, 7), 16, 10).cast("long"))
    )
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(f"sig_{j}")
        for j, (a, b) in enumerate(MINHASH_COEFFS)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def jaccard_reference(toks_a: str, toks_b: str):
    """The ``filter`` / ``array_contains`` Jaccard that
    ``dedup._jaccard_expr`` replaced."""
    inter = F.expr(f"size(filter({toks_a}, x -> array_contains({toks_b}, x)))")
    return inter.cast("double") / (
        F.expr(f"size({toks_a})") + F.expr(f"size({toks_b})") - inter
    )


# a small vocabulary, so shingles repeat inside and across documents;
# "" is the token a double space splits out
_VOCAB = ["a", "b", "the", "é", "straße", "日本", "🙂", ""]


@st.composite
def _minhash_docs(draw):
    texts = st.one_of(
        st.lists(st.sampled_from(_VOCAB), max_size=9).map(" ".join),
        st.sampled_from(["", "a b", "日本 語", None]),
    )
    return [(i, draw(texts)) for i in range(draw(st.integers(1, 12)))]


def _sig_rows(df):
    cols = ["doc_id"] + [f"sig_{j}" for j in range(MINHASH_PERMS)]
    return sorted(tuple(r) for r in df.select(*cols).collect())


@given(_minhash_docs())
@settings(max_examples=25, deadline=None)
def test_minhash_signatures_match_reference(spark, rows):
    """``minhash_signatures`` and ``with_minhash_signatures`` equal the
    explode + groupBy reference row for row on docs shorter than
    SHINGLE_K tokens, repeated shingles, empty and NULL text and
    non-ASCII tokens."""
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    want = _sig_rows(minhash_signatures_reference(docs))
    assert _sig_rows(dedup.minhash_signatures(docs)) == want
    assert _sig_rows(dedup.with_minhash_signatures(docs)) == want


_distinct_tokens = st.one_of(st.lists(st.sampled_from(_VOCAB), unique=True), st.none())


@given(
    st.lists(
        st.tuples(_distinct_tokens, _distinct_tokens).filter(lambda p: p != ([], [])),
        min_size=1,
        max_size=12,
    )
)
@settings(max_examples=25, deadline=None)
def test_jaccard_expr_matches_reference(spark, pairs):
    """``_jaccard_expr`` (``array_intersect``) equals the ``filter`` /
    ``array_contains`` reference on distinct token arrays, empty and
    NULL ones included. Both empty (0 / 0) cannot occur: the split of a
    non-NULL text has at least one token."""
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
        "i int, toks_a array<string>, toks_b array<string>",
    )
    got = df.select(
        "i",
        dedup._jaccard_expr("toks_a", "toks_b").alias("j"),
        jaccard_reference("toks_a", "toks_b").alias("ref"),
    ).collect()
    assert all(r.j == r.ref for r in got), got


def test_minhash_pairs_finds_duplicates(docs):
    pairs = {(r.doc_id_a, r.doc_id_b) for r in dedup.minhash_pairs(docs).collect()}
    assert (0, 1) in pairs
    assert not any(3 in p for p in pairs)


def test_simhash_identical_equal_different_differ(docs):
    sh = {r.doc_id: r.simhash for r in dedup.simhash_signatures(docs).collect()}
    assert sh[0] == sh[1]
    assert sh[0] != sh[3]


def test_jaccard_identical_is_one(docs):
    out = {
        (r.doc_id_a, r.doc_id_b): r.jaccard
        for r in dedup.jaccard_pairs(docs, mod=1).collect()
    }
    assert out[(0, 1)] == pytest.approx(1.0)
    assert out[(0, 2)] > 0.5  # near-dup
    assert out.get((0, 3), 0.0) < 0.2


def test_fingerprints_exclude_short_docs(docs):
    out = dedup if False else text.doc_fingerprints(docs)
    ids = {r.doc_id for r in out.collect()}
    assert 4 not in ids and 0 in ids
    # identical docs -> identical fingerprint sets
    fps = text.doc_fingerprints(docs).collect()
    s0 = {r.fingerprint for r in fps if r.doc_id == 0}
    s1 = {r.fingerprint for r in fps if r.doc_id == 1}
    assert s0 == s1 and len(s0) > 0


def test_dedup_clusters_transitive(spark):
    # a~b and b~c near-dups (but a,c also similar) -> one cluster {a,b,c}
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (10, base),
        (11, base + " lambda"),
        (12, base + " lambda mu"),
        (13, "unrelated totally different content about nothing shared at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.cluster_id for r in dedup.dedup_clusters(docs).collect()}
    assert out[10] == out[11] == out[12] == 10
    assert out[13] == 13


def test_fidelity_nondefault_params_no_crash(spark):
    # ADVICE r1 item 5: non-default window combos used to break length
    # restoration and crash; now they NaN-fill and run.
    from myodish_peak_analysis_spark.operators.fidelity import fidelity_peaks
    from myodish_peak_analysis_spark.schema import signal_frame

    sig = signal_frame(spark, "/root/testdata/sf0.001", n_channels=1)
    out = fidelity_peaks(sig, window_size=351, aux_smoothing=51).collect()
    assert isinstance(out, list)  # no IndexError / broadcast ValueError


def test_text_stats_hand_computed(spark):
    d = spark.createDataFrame([(0, "the cat sat!")], "doc_id long, text string")
    r = text.with_text_stats(d).collect()[0]
    assert r.n_words == 3
    assert r.n_distinct_words == 3
    assert r.stopword_ratio == pytest.approx(1 / 3, abs=1e-6)
    assert r.punct_ratio == pytest.approx(1 / 12, abs=1e-6)


def test_lang_id_marker_words(spark):
    d = spark.createDataFrame(
        [
            (0, "el perro de la casa que ladra y corre en los campos"),
            (1, "the dog and the cat of the house in a field"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.pred_lang for r in text.with_lang_id(d.withColumn("lang", F.lit("x"))).collect()}
    assert out[0] == "es" and out[1] == "en"


@pytest.fixture(scope="module")
def emb(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.9, 0.1, 0.0, 0.0], 0),  # closest to 0
        (2, [0.0, 1.0, 0.0, 0.0], 1),
        (3, [0.0, 0.0, 1.0, 0.0], 1),
        (50, [-1.0, 0.0, 0.0, 0.0], 2),  # second query (50 % 50 == 0)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_embedding_norms(emb):
    out = {r.vec_id: r.norm for r in similarity.embedding_norms(emb).collect()}
    assert out[0] == pytest.approx(1.0)
    assert out[1] == pytest.approx((0.81 + 0.01) ** 0.5, abs=1e-6)


def test_cosine_topk_ranks_known_neighbor_first(emb):
    out = similarity.cosine_topk(emb, k=2).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append((r.rank, r.vec_id, r.cosine))
    top_q0 = sorted(by_q[0])[0]
    assert top_q0[1] == 1  # vec 1 is the nearest to vec 0
    assert 0 not in [v for _, v, _ in by_q[0]]  # self excluded


def test_ivf_index_clusters_similar_vectors_together(spark):
    # Two tight direction clusters -> same centroid per cluster.
    rows = []
    for i in range(8):
        rows.append((i, [1.0, 0.01 * i, 0.0, 0.0], 0))
    for i in range(8, 16):
        rows.append((i, [0.0, 0.01 * i, 1.0, 0.0], 1))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    idx = {r.vec_id: r.centroid_id for r in similarity.ivf_index(emb, k=2, iters=3).collect()}
    assert len({idx[i] for i in range(8)}) == 1
    assert len({idx[i] for i in range(8, 16)}) == 1
    assert idx[0] != idx[8]


def test_ivf_topk_recall_vs_brute(spark):
    import random

    rnd = random.Random(3)
    rows = [
        (i, [rnd.gauss(0, 1) for _ in range(8)], 0) for i in range(120)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    brute = {}
    for r in similarity.cosine_topk(emb, k=5, query_mod=50).collect():
        brute.setdefault(r.query_id, set()).add(r.vec_id)
    ivf = {}
    for r in similarity.ivf_topk(emb, k=5, query_mod=50, n_clusters=4, nprobe=2).collect():
        ivf.setdefault(r.query_id, set()).add(r.vec_id)
    # probing half the clusters: expect decent (not perfect) recall
    recalls = [len(brute[q] & ivf.get(q, set())) / 5 for q in brute]
    assert sum(recalls) / len(recalls) >= 0.4


def test_lsh_topk_cosines_agree_with_brute(emb):
    brute = {
        (r.query_id, r.vec_id): r.cosine
        for r in similarity.cosine_topk(emb, k=4).collect()
    }
    for r in similarity.lsh_topk(emb, k=4).collect():
        key = (r.query_id, r.vec_id)
        if key in brute:
            assert r.cosine == pytest.approx(brute[key])


def test_multimodal_image_metadata_fake(spark):
    rows = [(0, "image", bytearray(b"payload-A"), "s"), (1, "image", bytearray(b"B"), "s"),
            (2, "audio", bytearray(b"C" * 32000), "s")]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    out = {r.media_id: r for r in multimodal.image_metadata(media, fake=True).collect()}
    assert set(out) == {0, 1}
    assert out[0].n_bytes == 9 and 1 <= out[0].width <= 1920
    audio = multimodal.audio_metadata(media, fake=True).collect()
    assert audio[0].duration_s == pytest.approx(2.0)


def test_multimodal_strict_mode_raises():
    with pytest.raises(NotImplementedError):
        multimodal._decode_image_impl(b"x", fake=False)


def test_multimodal_frame_sampling_fake(spark):
    rows = [(0, "video", bytearray(b"F" * 640), "s")]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    frames = multimodal.sample_frames(media, every_n=2, fake=True).collect()
    assert len(frames) == 5  # 640//64 = 10 frames, every 2nd
    assert len({r.frame_hash for r in frames}) == 5


def test_pack_chunks_hand_computed(spark):
    from myodish_peak_analysis_spark.llm import packing

    rows = [
        (0, "a b c", "A"),   # 3 tokens, offsets [0, 3)
        (1, "d e f", "A"),   # 3 tokens, [3, 6) — straddles the cap=4 boundary
        (2, "g", "A"),       # 1 token,  [6, 7)
        (3, "x y", "B"),     # separate shard restarts offsets
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {
        (r.shard, r.chunk_id, r.doc_id): (r.begin_tok, r.end_tok)
        for r in packing.pack_chunks(docs, capacity=4).collect()
    }
    assert out == {
        ("A", 0, 0): (0, 3),
        ("A", 0, 1): (0, 1),  # first token of doc 1 fills chunk 0
        ("A", 1, 1): (1, 3),  # rest spills into chunk 1
        ("A", 1, 2): (0, 1),
        ("B", 0, 3): (0, 2),
    }
    stats = {r.shard: r for r in packing.packing_stats(docs, capacity=4).collect()}
    assert (stats["A"].n_chunks, stats["A"].n_tokens, stats["A"].waste_tokens) == (2, 7, 1)
    assert (stats["B"].n_chunks, stats["B"].n_tokens, stats["B"].waste_tokens) == (1, 2, 2)


def test_pack_chunks_spans_reassemble_documents(spark):
    from myodish_peak_analysis_spark.llm import packing

    rows = [(i, " ".join(f"w{i}t{j}" for j in range(i + 1)), f"s{i % 2}") for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    spans = packing.pack_chunks(docs, capacity=7).collect()
    # every document's spans are contiguous, start at 0, and cover n_tok
    by_doc = {}
    for r in spans:
        by_doc.setdefault(r.doc_id, []).append((r.chunk_id, r.begin_tok, r.end_tok))
    for i in range(20):
        parts = sorted(by_doc[i])
        assert parts[0][1] == 0 and parts[-1][2] == i + 1
        for (c0, _, e0), (c1, b1, _) in zip(parts, parts[1:]):
            assert c1 == c0 + 1 and b1 == e0
    # chunk occupancy: every chunk except each shard's last holds exactly `capacity`
    chunk_fill = {}
    for r in spans:
        chunk_fill[(r.shard, r.chunk_id)] = chunk_fill.get((r.shard, r.chunk_id), 0) + (
            r.end_tok - r.begin_tok
        )
    last = {s: max(c for (s2, c) in chunk_fill if s2 == s) for (s, _) in chunk_fill}
    for (s, c), fill in chunk_fill.items():
        assert fill == 7 or c == last[s]


def test_curated_corpus_gates(spark):
    from myodish_peak_analysis_spark.llm import curate

    good = "the quick brown fox jumps over the lazy dog"
    rows = [
        (0, good, "en", "web", len(good)),
        (1, good, "en", "web", len(good)),          # exact dup — dropped
        (2, "too short", "en", "web", 9),           # fails Gopher word count
        (3, good + " indeed", "en", "books", 52),   # unique, passes
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    kept = curate.curated_corpus(docs).collect()
    assert {r.doc_id for r in kept} == {0, 3}
    assert all(r.quality_score >= curate.MIN_QUALITY for r in kept)


def test_unigram_logprob_hand_computed(spark):
    # corpus: a=2, b=2, c=1 -> N=5; log2(2)=1, log2(1)=0
    docs = spark.createDataFrame(
        [(0, "a a b"), (1, "b c")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in text.with_unigram_logprob(docs).collect()}
    import math

    l5 = math.log2(5)
    assert out[0].n_tokens == 3
    assert out[0].avg_logprob == pytest.approx(round(3 / 3 - l5, 6))
    assert out[1].n_tokens == 2
    assert out[1].avg_logprob == pytest.approx(round(1 / 2 - l5, 6))
    # more-typical text scores higher
    assert out[0].avg_logprob > out[1].avg_logprob


def test_blocklist_filter_anti_join(spark):
    docs = spark.createDataFrame(
        [(0, "keep me"), (1, "drop me"), (2, "drop me"), (3, "also keep")],
        "doc_id long, text string",
    )
    bl = spark.createDataFrame([("drop me",)], "t string").select(
        F.md5("t").alias("text_hash")
    )
    out = dedup.blocklist_filter(docs, bl)
    assert {r.doc_id for r in out.collect()} == {0, 3}  # both copies blocked
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan and "Broadcast" in plan  # corpus never shuffles


def test_inverted_index_postings(spark):
    docs = spark.createDataFrame(
        [(3, "a b"), (1, "a c a"), (2, "b d")], "doc_id long, text string"
    )
    out = {r.term: r for r in text.inverted_index(docs, min_df=1).collect()}
    assert out["a"].postings == "1,3" and out["a"].df == 2  # sorted, deduped
    assert out["b"].postings == "2,3"
    assert out["c"].df == 1
    # min_df trims the tail
    kept = {r.term for r in text.inverted_index(docs, min_df=2).collect()}
    assert kept == {"a", "b"}


def test_term_cooccurrence_lift(spark):
    docs = spark.createDataFrame(
        [
            (0, "spark query engine"),
            (1, "spark query planner"),
            (2, "spark query engine"),
            (3, "pandas loop"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r.term_a, r.term_b): r
        for r in text.term_cooccurrence(
            docs, min_df=2, max_df_ratio=1.0, min_pair=2
        ).collect()
    }
    # spark df=3, query df=3, engine df=2; n_docs=4
    r = out[("query", "spark")]
    assert r.n_both == 3 and r.lift_ppm == 3 * 4 * 1_000_000 // (3 * 3)
    r = out[("engine", "spark")]
    assert r.n_both == 2 and r.lift_ppm == 2 * 4 * 1_000_000 // (2 * 3)
    # 'loop'/'pandas' df=1 -> below min_df, never appear
    assert not any("pandas" in k for k in out)


def test_corpus_pipeline_chains_lazily(spark):
    from myodish_peak_analysis_spark.llm.pipeline import CorpusPipeline

    good = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [(i, good + f" tail{i}", "en", "web", 50) for i in range(20)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    bl = spark.createDataFrame([(good + " tail0",)], "t string").select(
        F.md5("t").alias("text_hash")
    )
    # blocklist -> sample -> pack: manifest only for surviving docs
    manifest = (
        CorpusPipeline(docs)
        .blocklist(bl)
        .sample({"en": 1000})  # keep-all rate: deterministic, no-op here
        .pack(capacity=16)
    )
    kept = {r.doc_id for r in manifest.select("doc_id").distinct().collect()}
    assert 0 not in kept and len(kept) == 19
    # curate() terminal reporting view keeps the scored survivors
    curated = CorpusPipeline(docs).curate().df
    assert curated.count() == 20 and "quality_score" in curated.columns


def test_lm_quality_buckets_equal_bands(spark):
    rows = [(i, " ".join(["common"] * 5 + [f"rare{i}"] * i)) for i in range(9)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.bucket for r in text.lm_quality_buckets(docs).collect()}
    from collections import Counter

    sizes = Counter(out.values())
    assert sizes == {0: 3, 1: 3, 2: 3}  # 9 docs -> three equal bands
    # buckets must follow the actual LM-score ordering exactly
    scores = {
        r.doc_id: r.avg_logprob
        for r in text.with_unigram_logprob(docs).collect()
    }
    order = sorted(scores, key=lambda d: (-scores[d], d))
    for rank, d in enumerate(order):
        assert out[d] == rank * 3 // 9, (d, rank)


def test_bigram_logprob_hand_computed(spark):
    docs = spark.createDataFrame(
        [(0, "a b a b"), (1, "a b c"), (2, "x")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in text.with_bigram_logprob(docs).collect()}
    # corpus bigrams: (a,b)x3, (b,a)x1, (b,c)x1; contexts: a->3, b->2
    # doc 0: lp = [0, log2(1/2), 0] -> avg -1/3
    assert out[0].n_bigrams == 3
    assert out[0].avg_bigram_logprob == pytest.approx(-0.333333)
    # doc 1: lp = [0, log2(1/2)] -> avg -0.5
    assert out[1].avg_bigram_logprob == pytest.approx(-0.5)
    assert 2 not in out  # single-token doc has no bigrams


def test_lm_quality_buckets_approx_matches_exact(spark):
    # 60 docs with distinct scores: the tight-rel_err sketch must put
    # (nearly) every doc in the same band as the exact global rank.
    rows = [
        (i, " ".join(["common"] * 5 + [f"rare{i}"] * (i % 20)))
        for i in range(60)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {r.doc_id: r.bucket for r in text.lm_quality_buckets(docs).collect()}
    approx = {
        r.doc_id: r.bucket
        for r in text.lm_quality_buckets(docs, approx=True, rel_err=0.001).collect()
    }
    assert set(approx) == set(exact)
    agree = sum(1 for d in exact if exact[d] == approx[d]) / len(exact)
    assert agree >= 0.9, agree
    # bands ordered by score in both routes: higher score -> lower bucket
    scores = {
        r.doc_id: r.avg_logprob for r in text.with_unigram_logprob(docs).collect()
    }
    for a in exact:
        for b in exact:
            if scores[a] > scores[b]:
                assert approx[a] <= approx[b]


def test_lsh_planes_scale_with_n():
    from myodish_peak_analysis_spark.llm.params import (
        LSH_PLANES,
        lsh_plane_weights,
        lsh_planes_for,
    )

    assert lsh_planes_for(500) == LSH_PLANES  # small N floors at default
    assert lsh_planes_for(1 << 20) > lsh_planes_for(1 << 10) >= LSH_PLANES
    # expected bucket population stays bounded at the derived count
    for n in (1 << 10, 1 << 20, 1 << 30):
        assert n / (1 << lsh_planes_for(n)) <= 32
    # plane p depends only on p: larger counts extend, never rewrite
    w8 = lsh_plane_weights(8)
    assert w8[:LSH_PLANES] == lsh_plane_weights(LSH_PLANES)


def test_kmeans_clusters_scale_with_n():
    from myodish_peak_analysis_spark.llm.params import (
        KMEANS_CLUSTERS,
        kmeans_clusters_for,
    )

    assert kmeans_clusters_for(0) == KMEANS_CLUSTERS
    assert kmeans_clusters_for(256) == KMEANS_CLUSTERS  # floors at default
    assert kmeans_clusters_for(1 << 20) == 1 << 10  # k = sqrt(N)
    assert (
        kmeans_clusters_for(1 << 20)
        > kmeans_clusters_for(1 << 12)
        >= KMEANS_CLUSTERS
    )


def test_ivf_and_semantic_dedup_auto_clusters(spark):
    """n_clusters='auto' derives k ≈ √N (>16 on a 10×-the-oracle synth
    set) and both operators stay well-formed: IVF top-k keeps high recall
    vs brute force, semantic-dedup pairs all meet the threshold and are
    a plausible subset of the all-pairs truth."""
    import random

    from myodish_peak_analysis_spark.llm.params import kmeans_clusters_for

    rnd = random.Random(11)
    # 20 well-separated anchor directions, 40 vectors near each -> 800
    anchors = [[rnd.gauss(0, 1) for _ in range(8)] for _ in range(20)]
    rows = []
    for i in range(800):
        a = anchors[i % 20]
        rows.append((i, [x + rnd.gauss(0, 0.05) for x in a], 0))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    k_auto = kmeans_clusters_for(800)
    assert k_auto == 28  # isqrt(800): genuinely larger than the fixed 16

    idx = similarity.ivf_index(emb, k="auto").collect()
    assert len(idx) == 800
    assert len({r.centroid_id for r in idx}) > 16  # auto-k took effect

    brute = {
        (r.query_id, r.vec_id)
        for r in similarity.cosine_topk(emb, k=5).collect()
    }
    ivf = {
        (r.query_id, r.vec_id)
        for r in similarity.ivf_topk(emb, n_clusters="auto", nprobe=2).collect()
    }
    assert len(ivf & brute) / len(brute) >= 0.8  # recall holds under auto-k

    pairs = similarity.semantic_dedup(emb, threshold=0.9, n_clusters="auto").collect()
    assert pairs and all(r.cosine >= 0.9 for r in pairs)
    assert all(r.vec_id_a < r.vec_id_b for r in pairs)


def test_embedding_neardup_more_planes_refines_pairs(spark):
    import random

    rnd = random.Random(7)
    rows = [
        (i, [rnd.gauss(0, 1) for _ in range(8)], 0) for i in range(80)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    base = {
        (r.vec_id_a, r.vec_id_b)
        for r in similarity.embedding_neardup(emb, threshold=0.0).collect()
    }
    finer = {
        (r.vec_id_a, r.vec_id_b)
        for r in similarity.embedding_neardup(
            emb, threshold=0.0, n_planes=6
        ).collect()
    }
    auto = {
        (r.vec_id_a, r.vec_id_b)
        for r in similarity.embedding_neardup(
            emb, threshold=0.0, n_planes="auto"
        ).collect()
    }
    # bucket bits are a prefix: more planes can only REMOVE candidates
    assert finer <= base
    # 80 vectors: auto resolves to the default plane count -> same pairs
    assert auto == base


def test_star_components_match_label_propagation(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (10, base),
        (11, base + " lambda"),
        (12, base + " lambda mu"),
        (13, "unrelated totally different content about nothing shared at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    label = {
        r.doc_id: r.cluster_id for r in dedup.dedup_clusters(docs).collect()
    }
    edges = dedup.neardup_verified(docs).select(
        F.col("doc_id_a").alias("src"), F.col("doc_id_b").alias("dst")
    )
    star = {
        r.doc_id: r.cluster_id
        for r in dedup.star_components(edges, docs.select("doc_id")).collect()
    }
    assert star == label


def test_star_components_long_chain(spark):
    # a 12-node path: diameter 11 — label propagation needs ~11 rounds,
    # star contraction collapses it in O(log^2 n); output must still be
    # min-of-component everywhere, isolated node stays its own cluster.
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 111)], "src long, dst long"
    )
    nodes = spark.createDataFrame(
        [(i,) for i in range(100, 112)] + [(999,)], "doc_id long"
    )
    out = {
        r.doc_id: r.cluster_id
        for r in dedup.star_components(edges, nodes).collect()
    }
    assert all(out[i] == 100 for i in range(100, 112))
    assert out[999] == 999


def _has_module(name: str) -> bool:
    import importlib.util

    return importlib.util.find_spec(name) is not None


@pytest.mark.skipif(
    not _has_module("PIL"),
    reason="Pillow not installed (requirements-extra.txt) — real image "
    "codec path exercised only with the deterministic fake here",
)
def test_multimodal_real_image_codec(spark):
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (32, 17)).save(buf, format="PNG")
    media = spark.createDataFrame(
        [(0, "image", bytearray(buf.getvalue()), "s")], multimodal.MEDIA_SCHEMA
    )
    out = multimodal.image_metadata(media, fake=False).collect()
    assert (out[0].width, out[0].height) == (32, 17)


@pytest.mark.skipif(
    not _has_module("soundfile"),
    reason="soundfile not installed (requirements-extra.txt) — real audio "
    "codec path exercised only with the deterministic fake here",
)
def test_multimodal_real_audio_codec(spark):
    import io

    import numpy as np
    import soundfile

    buf = io.BytesIO()
    soundfile.write(buf, np.zeros(8000), 16000, format="WAV")
    media = spark.createDataFrame(
        [(0, "audio", bytearray(buf.getvalue()), "s")], multimodal.MEDIA_SCHEMA
    )
    out = multimodal.audio_metadata(media, fake=False).collect()
    assert out[0].duration_s == pytest.approx(0.5)
    assert out[0].sample_rate == 16000


def test_lm_scorers_plan_has_no_term_window_exchange(spark):
    """The r2 scale fix: term frequencies are a map-side-combined
    groupBy broadcast-joined back, never a count window partitioned by
    raw term (one task per stopword). Pin the plan shape."""
    docs = spark.createDataFrame(
        [(i, "the quick brown fox the the") for i in range(8)],
        "doc_id long, text string",
    )
    for fn in (text.with_unigram_logprob, text.with_bigram_logprob):
        plan = fn(docs)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, fn.__name__
        assert "Window" not in plan, fn.__name__


def test_sketch_profile_tolerances(spark):
    """HLL++ cardinalities within rsd-scaled error of exact counts;
    quantile sketch within its rank-accuracy bound; determinism across
    two evaluations."""
    from myodish_peak_analysis_spark.llm import sketches
    from myodish_peak_analysis_spark.schema import read_table

    docs = read_table(spark, "/root/testdata/sf0.01", "documents")
    prof = sketches.sketch_profile(docs, rsd=0.01).collect()[0]

    exact_tokens = (
        docs.selectExpr("explode(split(text, ' ')) AS t").select("t").distinct().count()
    )
    exact_texts = docs.selectExpr("md5(text) AS h").distinct().count()
    assert abs(prof.approx_distinct_tokens - exact_tokens) <= 0.05 * exact_tokens
    assert abs(prof.approx_distinct_texts - exact_texts) <= 0.05 * exact_texts
    assert prof.n_docs == docs.count()

    exact_p50 = docs.selectExpr(
        "percentile(n_chars, 0.5) AS p"
    ).collect()[0].p
    assert abs(prof.p50_chars - exact_p50) <= 0.05 * exact_p50
    assert prof.p50_chars <= prof.p90_chars <= prof.p99_chars

    again = sketches.sketch_profile(docs, rsd=0.01).collect()[0]
    assert again.asDict() == prof.asDict()  # sketches are deterministic

    per_src = sketches.per_source_sketches(docs).collect()
    assert len(per_src) == docs.select("source").distinct().count()


def test_training_order_is_seeded_permutation(spark):
    from myodish_peak_analysis_spark.llm import sampling
    from myodish_peak_analysis_spark.schema import read_table

    docs = read_table(spark, "/root/testdata/sf0.01", "documents")
    a = sampling.training_order(docs, seed=0, n_shards=4).collect()
    b = sampling.training_order(docs, seed=0, n_shards=4).collect()
    assert a == b  # reproducible
    assert {r.doc_id for r in a} == {r.doc_id for r in docs.select("doc_id").collect()}
    # pos is contiguous 1..n within each shard
    by_shard = {}
    for r in a:
        by_shard.setdefault(r.shard, []).append(r.pos)
    assert set(by_shard) == {0, 1, 2, 3}
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    # a different seed produces a different permutation
    c = sampling.training_order(docs, seed=1, n_shards=4).collect()
    assert [r.doc_id for r in c] != [r.doc_id for r in a]


def test_training_order_shards_are_balanced(spark):
    """The shard key uses 16 bits of md5 entropy — every shard must be
    populated even at n_shards=32 (the old 2-char ascii derivation left
    half of 32 shards permanently empty), and counts must be within a
    loose uniformity band."""
    from myodish_peak_analysis_spark.llm import sampling
    from myodish_peak_analysis_spark.schema import read_table

    docs = read_table(spark, "/root/testdata/sf0.01", "documents")
    n = docs.count()
    rows = sampling.training_order(docs, seed=0, n_shards=32).collect()
    counts = {}
    for r in rows:
        counts[r.shard] = counts.get(r.shard, 0) + 1
    assert set(counts) == set(range(32))  # no permanently-empty shard
    expected = n / 32
    assert max(counts.values()) < 3 * expected  # no 3x-hot shard


def test_repetition_profile_hand_computed(spark):
    d = spark.createDataFrame(
        [
            # "a b a b a" -> 2-grams: [a b, b a, a b, b a]; struct-max
            # tie (2,"a b") vs (2,"b a") -> "b a" (lexicographically
            # larger). 3-grams: [a b a, b a b, a b a] -> "a b a" x2.
            (0, "a b a b a"),
            # shorter than 3 words -> only the n=2 row
            (1, "x y"),
            # single word -> no rows at all
            (2, "solo"),
        ],
        "doc_id long, text string",
    )
    rows = {
        (r.doc_id, r.n): r for r in text.repetition_profile(d).collect()
    }
    assert set(rows) == {(0, 2), (0, 3), (1, 2)}
    r02 = rows[(0, 2)]
    assert (r02.top_gram, r02.n_occurrences) == ("b a", 2)
    assert r02.top_gram_char_frac == pytest.approx(2 * 3 / 9, abs=1e-6)
    r03 = rows[(0, 3)]
    assert (r03.top_gram, r03.n_occurrences) == ("a b a", 2)
    assert r03.top_gram_char_frac == pytest.approx(2 * 5 / 9, abs=1e-6)
    assert (rows[(1, 2)].top_gram, rows[(1, 2)].n_occurrences) == ("x y", 1)


def test_pq_codes_shape_and_duplicate_invariance(spark):
    import numpy as np

    from myodish_peak_analysis_spark.llm import similarity

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(40, 8)).astype("float32")
    vecs[25] = vecs[3]  # exact duplicate must get the identical code word
    rows = [(i, v.tolist()) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in similarity.pq_codes(emb, m=4, k=4, iters=2).collect()}
    assert len(out) == 40
    for r in out.values():
        codes = [int(c) for c in r.codes.split(",")]
        assert len(codes) == 4
        assert all(1 <= c <= 4 for c in codes)
        assert r.qerr >= 0.0
    assert out[25].codes == out[3].codes
    assert out[25].qerr == out[3].qerr


def test_pq_topk_duplicate_of_query_ranks_first(spark):
    import numpy as np

    from myodish_peak_analysis_spark.llm import similarity

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(30, 8)).astype("float32")
    vecs[7] = vecs[0]  # vec 0 is a query (0 % 10 == 0); 7 is its twin
    rows = [(i, v.tolist()) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.pq_topk(
        emb, k=3, query_mod=10, m=4, n_centroids=4, iters=2
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    # a duplicate shares the query's per-subspace argmin codes, so its
    # ADC distance is the minimum possible -> rank 1
    top0 = min(by_q[0], key=lambda r: r.rank)
    assert top0.vec_id == 7
    for q, rows_ in by_q.items():
        assert len(rows_) == 3
        assert all(r.vec_id != q for r in rows_)


def test_pq_adc_shortlist_contains_brute_topk(spark):
    """ADC is a shortlist generator, not a final ranker (Jégou et al.
    use it to feed an exact re-rank): assert the brute-force cosine
    top-5 is substantially contained in the ADC top-20 shortlist. A
    NumPy replication of the identical algorithm scores 0.72 here;
    anything far below signals an implementation bug rather than
    quantization coarseness."""
    import numpy as np

    from myodish_peak_analysis_spark.llm import similarity

    rng = np.random.default_rng(3)
    centers = rng.normal(size=(10, 16)) * 4
    vecs = np.vstack(
        [c + rng.normal(size=(30, 16)) * 0.5 for c in centers]
    ).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    perm = rng.permutation(len(vecs))
    rows = [(int(i), vecs[j].tolist()) for i, j in enumerate(perm)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    shortlist = similarity.pq_topk(
        emb, k=20, query_mod=30, m=4, n_centroids=8, iters=2
    ).collect()
    brute = similarity.cosine_topk(emb, k=5, query_mod=30).collect()
    sl, bt = {}, {}
    for r in shortlist:
        sl.setdefault(r.query_id, set()).add(r.vec_id)
    for r in brute:
        bt.setdefault(r.query_id, set()).add(r.vec_id)
    containment = [len(sl[q] & bt[q]) / 5 for q in bt]
    assert sum(containment) / len(containment) >= 0.5


def test_pq_rerank_orders_by_exact_cosine(spark):
    import numpy as np

    from myodish_peak_analysis_spark.llm import similarity

    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(40, 8)).astype("float32")
    rows = [(i, v.tolist()) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.pq_rerank_topk(
        emb, k=3, shortlist=10, query_mod=20, m=4, n_centroids=4, iters=2
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows_ in by_q.items():
        rows_.sort(key=lambda r: r.rank)
        assert len(rows_) == 3
        # ranked by true cosine, descending, self excluded
        cosines = [r.cosine for r in rows_]
        assert cosines == sorted(cosines, reverse=True)
        assert all(r.vec_id != q for r in rows_)


def test_encode_token_ids_vocab_rank_and_oov(spark):
    d = spark.createDataFrame(
        [
            (0, "b a a c"),
            (1, "a b zz"),
        ],
        "doc_id long, text string",
    )
    # counts: a=3, b=2, c=1, zz=1 -> vocab_size=3 keeps a(1) b(2) c(3)
    # (count desc, token asc tie-break puts c before zz); zz is OOV -> 0
    out = {r.doc_id: r for r in text.encode_token_ids(d, vocab_size=3).collect()}
    assert out[0].token_ids == "2 1 1 3"
    assert out[0].n_tokens == 4 and out[0].n_oov == 0
    assert out[1].token_ids == "1 2 0"
    assert out[1].n_tokens == 3 and out[1].n_oov == 1


def test_ivf_pq_topk_recall_vs_brute(spark):
    """The composed IVF×PQ operator: coarse probe restricts to nprobe
    posting lists, ADC shortlists over integer codes, exact re-rank.
    On clustered data where each query's true neighbors share its
    cluster, recall@5 vs brute should be high — the coarse quantizer
    probes the right list and the exact re-rank fixes ADC coarseness."""
    import numpy as np

    from myodish_peak_analysis_spark.llm import similarity

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(4, 16)) * 4
    vecs = np.vstack(
        [c + rng.normal(size=(30, 16)) * 0.3 for c in centers]
    ).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    perm = rng.permutation(len(vecs))
    rows = [(int(i), vecs[j].tolist()) for i, j in enumerate(perm)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    brute, comp = {}, {}
    for r in similarity.cosine_topk(emb, k=5, query_mod=30).collect():
        brute.setdefault(r.query_id, set()).add(r.vec_id)
    out = similarity.ivf_pq_topk(
        emb, k=5, shortlist=15, query_mod=30, n_clusters=4, nprobe=2,
        m=4, n_centroids=8,
    ).collect()
    for r in out:
        comp.setdefault(r.query_id, []).append(r)
    for q, rows_ in comp.items():
        rows_.sort(key=lambda r: r.rank)
        assert all(r.vec_id != q for r in rows_)
        cosines = [r.cosine for r in rows_]
        assert cosines == sorted(cosines, reverse=True)  # exact re-rank order
    recalls = [
        len(brute[q] & {r.vec_id for r in comp.get(q, [])}) / 5 for q in brute
    ]
    assert sum(recalls) / len(recalls) >= 0.6


def test_ivf_pq_topk_never_leaves_probed_lists(spark):
    """Every result member must come from the query's nprobe probed
    posting lists — the posting-list restriction is the scale
    contract, so assert it directly."""
    import numpy as np

    from myodish_peak_analysis_spark.llm import similarity

    rng = np.random.default_rng(13)
    vecs = rng.normal(size=(60, 8)).astype("float32")
    rows = [(i, v.tolist()) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    members = {
        r.vec_id: r.centroid_id
        for r in similarity.ivf_index(emb, k=4, iters=3).collect()
    }
    out = similarity.ivf_pq_topk(
        emb, k=5, shortlist=10, query_mod=20, n_clusters=4, nprobe=2,
        m=4, n_centroids=4,
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, set()).add(members[r.vec_id])
    for q, cents in by_q.items():
        assert len(cents) <= 2  # at most nprobe distinct posting lists


def test_multi_probe_lsh_recall_beats_single_probe(spark):
    """multi_probe=1 probes every Hamming-1 bucket: its candidate set
    strictly contains the single-probe set, so recall vs brute can
    only improve — and on random gaussians with 16 buckets it must
    actually find strictly more of the brute top-k (the flipped-bit
    neighbors single-probe misses)."""
    import random

    from myodish_peak_analysis_spark.llm import similarity

    rnd = random.Random(23)
    # full EMBEDDING_DIM vectors: the deterministic hyperplanes have 64
    # weights, so shorter vectors would degenerate every bucket to 0.
    rows = [(i, [rnd.gauss(0, 1) for _ in range(64)], 0) for i in range(150)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    brute, single, multi = {}, {}, {}
    for r in similarity.cosine_topk(emb, k=5, query_mod=50).collect():
        brute.setdefault(r.query_id, set()).add(r.vec_id)
    for r in similarity.lsh_topk(emb, k=5, query_mod=50).collect():
        single.setdefault(r.query_id, set()).add(r.vec_id)
    for r in similarity.lsh_topk(emb, k=5, query_mod=50, multi_probe=1).collect():
        multi.setdefault(r.query_id, set()).add(r.vec_id)
    rec_s = sum(len(brute[q] & single.get(q, set())) for q in brute)
    rec_m = sum(len(brute[q] & multi.get(q, set())) for q in brute)
    assert rec_m > rec_s  # strictly better on this fixture
    # the single-probe result for any query is a subset of the
    # multi-probe CANDIDATES, so every single-probe hit that survives
    # ranking stays at least as good: recall is monotone in the radius.


def test_pq_ragged_embedding_dims_rejected(spark):
    from myodish_peak_analysis_spark.llm import similarity

    rows = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [1.0, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # the guard is a PER-ROW raise_error inside the subvector pass (no
    # extra validation scan), so it surfaces as a Spark job failure at
    # action time, not a driver-side ValueError
    with pytest.raises(Exception, match="ragged"):
        similarity.pq_codes(emb, m=2, k=2, iters=1).collect()
    # the m-divisibility check stays driver-side (O(1) first())
    uniform = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="not divisible"):
        similarity.pq_codes(uniform, m=2, k=2, iters=1)


def test_pq_dtable_bound_enforced(spark):
    from myodish_peak_analysis_spark.llm import similarity

    rows = [(i, [1.0, 0.0]) for i in range(10)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="Batch the query set"):
        similarity._check_dtable_bound(emb, m=4, n_centroids=16, max_rows=100)
    # under the bound: returns the query count
    assert similarity._check_dtable_bound(emb, m=2, n_centroids=2, max_rows=100) == 10


def test_real_image_decode_stdlib_formats(spark):
    """REAL (not fake) image decode through the distributed mapInPandas
    path for the stdlib-parseable formats — no Pillow needed."""
    import struct

    from myodish_peak_analysis_spark.llm.multimodal import (
        MEDIA_SCHEMA,
        image_metadata,
    )

    def png(w, h):
        ihdr = struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00"
        return (
            b"\x89PNG\r\n\x1a\n"
            + struct.pack(">I", 13) + b"IHDR" + ihdr + b"\x00" * 4
        )

    def bmp(w, h):
        # BITMAPINFOHEADER: DIB size 40 at offset 14, int32 dims
        return (
            b"BM" + b"\x00" * 12
            + struct.pack("<I", 40)
            + struct.pack("<ii", w, h) + b"\x00" * 20
        )

    def bmp_core(w, h):
        # legacy BITMAPCOREHEADER: DIB size 12, uint16 dims (r5 review:
        # the int32 misparse returned silently wrong dims for these)
        return (
            b"BM" + b"\x00" * 12
            + struct.pack("<I", 12)
            + struct.pack("<HH", w, h) + b"\x00" * 20
        )

    ppm = b"P6\n# comment\n640 480\n255\n" + b"\x00" * 8
    rows = [
        (1, "image", bytearray(png(800, 600)), "s"),
        (2, "image", bytearray(bmp(320, 200)), "s"),
        (3, "image", bytearray(ppm), "s"),
        (4, "image", bytearray(bmp_core(10, 20)), "s"),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {
        r.media_id: (r.width, r.height)
        for r in image_metadata(media, fake=False).collect()
    }
    assert out == {1: (800, 600), 2: (320, 200), 3: (640, 480), 4: (10, 20)}


def test_real_audio_decode_wav(spark):
    """REAL WAV decode through the distributed path — pure RIFF parse,
    no soundfile needed."""
    import struct

    from myodish_peak_analysis_spark.llm.multimodal import (
        MEDIA_SCHEMA,
        audio_metadata,
    )

    rate, seconds, channels, width = 16000, 2, 1, 2
    n = rate * seconds * channels * width
    byte_rate = rate * channels * width
    fmt = struct.pack("<HHIIHH", 1, channels, rate, byte_rate,
                      channels * width, 8 * width)
    full = (
        b"RIFF" + struct.pack("<I", 36 + n) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + fmt
        + b"data" + struct.pack("<I", n) + b"\x00" * n
    )
    # round 6 (ADVICE): truncated body reports the SURVIVING duration
    # (clamped to actual payload), not the header's declared length
    truncated = full[: 44 + 16]
    media = spark.createDataFrame(
        [(7, "audio", bytearray(full), "s"),
         (8, "audio", bytearray(truncated), "s")],
        MEDIA_SCHEMA,
    )
    rows = {r.media_id: r for r in audio_metadata(media, fake=False).collect()}
    assert (rows[7].duration_s, rows[7].sample_rate) == (2.0, 16000)
    assert (rows[8].duration_s, rows[8].sample_rate) == (16 / byte_rate, 16000)
