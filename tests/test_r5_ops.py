"""Round-5 operators: TPC-H Q10/Q22 shapes, cross-doc duplicated-span
coverage, and sparse random projection."""

import numpy as np
from pyspark.sql import functions as F


def test_top_loss_customers_revenue_and_ranking(spark):
    from myodish_peak_analysis_spark.operators.relational import (
        top_loss_customers,
    )

    customer = spark.createDataFrame(
        [(1, "Alice", 0, 10.0), (2, "Bob", 1, 20.0), (3, "Cara", 0, 30.0)],
        "c_custkey long, c_name string, c_nationkey long, c_acctbal double",
    )
    orders = spark.createDataFrame(
        [
            (100, 1, "1996-02-01"),
            (200, 2, "1996-03-01"),
            (300, 3, "1995-01-01"),  # outside window -> excluded
        ],
        "o_orderkey long, o_custkey long, o_orderdate string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp_ntz"))
    lineitem = spark.createDataFrame(
        [
            (100, "R", 100.0, 0.10),   # 100 * 0.9 = 90 lost
            (100, "N", 500.0, 0.00),   # not returned -> ignored
            (200, "R", 50.0, 0.00),    # 50 lost
            (300, "R", 999.0, 0.00),   # order outside window
        ],
        "l_orderkey long, l_returnflag string, l_extendedprice double,"
        " l_discount double",
    )
    nation = spark.createDataFrame(
        [(0, "FRANCE"), (1, "KENYA")], "n_nationkey long, n_name string"
    )
    rows = top_loss_customers(
        customer, orders, lineitem, nation,
        date_from="1996-01-01", date_to="1996-07-01", k=10,
    ).collect()
    assert [(r.c_custkey, r.n_name, r.revenue_lost) for r in rows] == [
        (1, "FRANCE", 90.0),
        (2, "KENYA", 50.0),
    ]


def test_idle_customer_balance_cohort_and_anti_join(spark):
    from myodish_peak_analysis_spark.operators.relational import (
        idle_customer_balance,
    )

    customer = spark.createDataFrame(
        [
            # BUILDING cohort: positive balances 100, 300 -> avg 200
            (1, "BUILDING", 100.0),   # below avg -> excluded
            (2, "BUILDING", 300.0),   # above avg, no urgent order -> kept
            (3, "BUILDING", -50.0),   # negative: not in avg, below -> out
            # MACHINERY cohort: avg 80
            (4, "MACHINERY", 80.0),   # equal avg (not >) -> excluded
            (5, "MACHINERY", 90.0),   # above avg BUT has urgent order
            # segment not in list -> ignored entirely
            (6, "HOUSEHOLD", 999.0),
        ],
        "c_custkey long, c_mktsegment string, c_acctbal double",
    ).selectExpr("c_custkey", "c_mktsegment", "c_acctbal")
    customer = customer.withColumn(
        "c_acctbal", customer.c_acctbal.cast("double")
    )
    orders = spark.createDataFrame(
        [(10, 5, "1-URGENT"), (11, 2, "5-LOW")],
        "o_orderkey long, o_custkey long, o_orderpriority string",
    )
    # MACHINERY avg over positives = (80+90)/2 = 85 -> cust 5 above but
    # urgent-buyer; cust 4 below. BUILDING avg = 200 -> cust 2 kept.
    rows = idle_customer_balance(customer, orders).collect()
    assert [(r.c_mktsegment, r.n_customers, r.total_balance) for r in rows] == [
        ("BUILDING", 1, 300.0)
    ]


def test_dup_span_fraction_interval_union(spark):
    from myodish_peak_analysis_spark.llm.text import dup_span_fraction

    docs = spark.createDataFrame(
        [
            # docs 1 and 2 share the 4-token prefix -> duplicated
            # 3-grams at positions 1 and 2; union covers tokens 1..4.
            (1, "a b c d e f"),
            (2, "a b c d x y"),
            # doc 3 shares nothing (all unique tokens)
            (3, "p q r s t u"),
            # doc 4 too short for a 3-gram window
            (4, "zz"),
            # docs 5/6: duplicated 3-grams at positions 1 and 5 (gap >=
            # gram -> two disjoint windows, coverage 6 of 7)
            (5, "m n o Z1 m n o"),
            (6, "m n o Z2 m n o"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.n_tokens, r.dup_tokens, r.dup_frac)
        for r in dup_span_fraction(docs, gram=3, min_count=2).collect()
    }
    assert out[1] == (6, 4, 4 / 6)
    assert out[2] == (6, 4, 4 / 6)
    assert out[3] == (6, 0, 0.0)
    assert out[4] == (1, 0, 0.0)
    # doc 5: dup positions {1, 5} ("m n o" occurs 4x corpus-wide);
    # "n o Z1" etc. are unique. min(3, 5-1)=3 + first 3 -> 6 tokens.
    assert out[5] == (7, 6, 6 / 7)
    assert out[6] == (7, 6, 6 / 7)


def test_dup_span_fraction_overlapping_windows(spark):
    from myodish_peak_analysis_spark.llm.text import dup_span_fraction

    # Duplicated 3-gram positions 1 and 3 overlap (gap 2 < gram):
    # coverage = 3 + min(3, 2) = 5, not 6.
    docs = spark.createDataFrame(
        [
            (1, "a b c a b c x"),
            (2, "a b c a b Q Q"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.dup_tokens, r.n_tokens)
        for r in dup_span_fraction(docs, gram=3, min_count=2).collect()
    }
    # doc1 dup 3-grams: "a b c"(pos1, also pos4 in doc1? "a b c" at 1
    # and 4 -> count>=2 alone), "b c a"(1x each.. appears doc1 pos2,
    # doc2 pos2 -> 2x), "c a b"(doc1 pos3, doc2 pos3 -> 2x),
    # "a b c" doc1 pos4. doc1 dup positions {1,2,3,4} -> coverage
    # 3+1+1+1=6 on 7 tokens.
    assert out[1] == (6, 7)
    # doc2 dup positions: "a b c"(pos1), "b c a"(pos2), "c a b"(pos3)
    # -> {1,2,3} -> 3+1+1 = 5 of 7.
    assert out[2] == (5, 7)


def test_rp_project_deterministic_and_map_only(spark):
    from myodish_peak_analysis_spark.llm.similarity import rp_project
    from myodish_peak_analysis_spark.schema import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    out = rp_project(emb, d_out=8)
    # map-only: no shuffle anywhere in the plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    rows = out.collect()
    n = emb.count()
    assert len(rows) == n * 8
    again = {(r.vec_id, r.out_dim): r.value for r in rp_project(emb, d_out=8).collect()}
    first = {(r.vec_id, r.out_dim): r.value for r in rows}
    assert first == again
    # at least one nonzero projection per vector (64 dims, 1/3 nonzero
    # coefs -> all-zero output is astronomically unlikely and would
    # indicate the coefficient hash degenerated)
    nonzero_vecs = {k[0] for k, v in first.items() if v != 0.0}
    assert len(nonzero_vecs) == n


def test_rp_project_matches_numpy_model(spark):
    """Pin the coefficient function + integer arithmetic against an
    independent NumPy evaluation of the same closed form."""
    from myodish_peak_analysis_spark.llm.similarity import rp_project

    emb = spark.createDataFrame(
        [(0, [0.5, -0.25, 1.0, 0.125]), (7, [1e-7, 2.5, -3.5, 0.0])],
        "vec_id long, embedding array<float>",
    )
    got = {
        (r.vec_id, r.out_dim): r.value
        for r in rp_project(emb, d_out=3).collect()
    }

    def coef(i, j):
        m = ((i * 2654435761 + j * 40503) % 1000003) % 6
        return 1 if m == 0 else (-1 if m == 1 else 0)

    for vid, vec in [(0, [0.5, -0.25, 1.0, 0.125]), (7, [1e-7, 2.5, -3.5, 0.0])]:
        micro = [int(np.floor(float(np.float32(x)) * 1e6 + 0.5)) for x in vec]
        for j in range(3):
            want = sum(m * coef(i, j) for i, m in enumerate(micro)) / 1e6
            assert got[(vid, j)] == want


def test_bpe_merge_fold_ltr_semantics(spark):
    """The fold must implement LEFT-TO-RIGHT non-overlapping merging:
    'a a a' with rule (a,a) -> [a+a, a] (never [a, a+a])."""
    from myodish_peak_analysis_spark.llm.bpe import _merge_apply_expr

    df = spark.createDataFrame(
        [("a a a",), ("a a a a",), ("x a a y",), ("a",), ("b a",)],
        "text string",
    ).selectExpr(
        "text", _merge_apply_expr("split(text, ' ')", "a", "a") + " AS out"
    )
    got = {r.text: r.out for r in df.collect()}
    assert got["a a a"] == ["a+a", "a"]
    assert got["a a a a"] == ["a+a", "a+a"]
    assert got["x a a y"] == ["x", "a+a", "y"]
    assert got["a"] == ["a"]
    assert got["b a"] == ["b", "a"]


def test_bpe_vocab_and_encode_small_corpus(spark):
    from myodish_peak_analysis_spark.llm.bpe import bpe_encode, bpe_vocab

    docs = spark.createDataFrame(
        [
            (1, "big cat big cat big cat"),
            (2, "big cat dog"),
            (3, "dog dog dog"),
        ],
        "doc_id long, text string",
    )
    # round 1: (big,cat) x4 wins; round 2 candidates on the merged
    # corpus: (big+cat, big+cat) x1 in doc1... pairs of doc1 after
    # merge: [big+cat, big+cat, big+cat] -> (big+cat,big+cat) x2;
    # doc2 [big+cat, dog] -> 1; doc3 (dog,dog) x2. Tie 2 vs 2 ->
    # lexicographic: 'big+cat' < 'dog' -> (big+cat, big+cat).
    # batch_merges=1 pinned: this fixture's round-2 rule CONSUMES
    # round 1's merged token, the exact case batched selection defers
    # to the next recount (asserted below) — classic semantics are
    # what this test pins (round 13: the trainer default is batched).
    vocab = [
        (r.merge_rank, r.left_tok, r.right_tok, r.n_pairs)
        for r in bpe_vocab(docs, n_merges=2, batch_merges=1).collect()
    ]
    assert vocab[0] == (1, "big", "cat", 4)
    assert vocab[1] == (2, "big+cat", "big+cat", 2)
    enc = {
        r.doc_id: (r.text_bpe, r.n_tokens)
        for r in bpe_encode(docs, n_merges=2, batch_merges=1).collect()
    }
    assert enc[1] == ("big+cat+big+cat big+cat", 2)
    assert enc[2] == ("big+cat dog", 2)
    assert enc[3] == ("dog dog dog", 3)
    # the batched DEFAULT diverges here by design: (big+cat,big+cat)
    # only exists after round 1 applies, so the one-recount batch takes
    # the disjoint (dog,dog) x2 instead — the documented batching
    # semantics of _select_noninterfering.
    batched = [
        (r.merge_rank, r.left_tok, r.right_tok, r.n_pairs)
        for r in bpe_vocab(docs, n_merges=2).collect()
    ]
    assert batched[0] == (1, "big", "cat", 4)
    assert batched[1] == (2, "dog", "dog", 2)
    spark.catalog.clearCache()


def test_bpe_spark_matches_duckdb_string_model(spark):
    """Cross-model pin at sf0.001: the Spark array fold and the DuckDB
    doubled-space string replace are the same algorithm."""
    import duckdb

    from myodish_peak_analysis_spark.llm.bpe import bpe_encode, bpe_encode_sql
    from myodish_peak_analysis_spark.schema import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    got = {
        r.doc_id: (r.text_bpe, r.n_tokens)
        for r in bpe_encode(docs, n_merges=3).collect()
    }
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM"
        " '/root/testdata/sf0.001/documents.parquet'"
    )
    want = {
        int(d): (t, int(n))
        for d, t, n in con.sql(bpe_encode_sql(n_merges=3)).fetchall()
    }
    assert got == want
    spark.catalog.clearCache()


def test_blocklist_filter_bloom_exactness(spark):
    """The bloom gate must be invisible in the result: identical to the
    plain broadcast anti-join for any bucket count, including m=4 where
    false positives are guaranteed."""
    from myodish_peak_analysis_spark.llm.dedup import (
        blocklist_filter,
        blocklist_filter_bloom,
    )

    docs = spark.createDataFrame(
        [(i, f"doc number {i}") for i in range(40)],
        "doc_id long, text string",
    )
    bad = docs.filter("doc_id % 7 = 0").selectExpr("md5(text) AS text_hash")
    want = sorted(r.doc_id for r in blocklist_filter(docs, bad).collect())
    for m in (4, 1 << 20):
        got = sorted(
            r.doc_id for r in blocklist_filter_bloom(docs, bad, m=m).collect()
        )
        assert got == want, f"m={m}"
    assert want == [i for i in range(40) if i % 7 != 0]


def test_bpe_apply_chained_rules_and_map_only(spark):
    from myodish_peak_analysis_spark.llm.bpe import bpe_apply

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b a b c")],
        "doc_id long, text string",
    )
    # rule 2 consumes rule 1's output: (a,b) -> a+b, then (a+b, c)
    out = {
        r.doc_id: (r.text_bpe, r.n_tokens)
        for r in bpe_apply(docs, [("a", "b"), ("a+b", "c")]).collect()
    }
    assert out[1] == ("a+b+c d", 2)
    assert out[2] == ("a+b a+b+c", 2)
    # serving path is map-only: no shuffle in the plan
    plan = (
        bpe_apply(docs, [("a", "b")])._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_incremental_neardup_vs_symmetric(spark):
    """Batch-vs-corpus pairs must be exactly the symmetric verified
    pairs that straddle the split (restricted to its candidates)."""
    from myodish_peak_analysis_spark.llm.dedup import (
        incremental_neardup,
        neardup_verified,
    )
    from myodish_peak_analysis_spark.schema import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    new_docs = docs.filter("doc_id % 10 = 0")
    corpus = docs.filter("doc_id % 10 != 0")
    inc = {
        (r.new_doc_id, r.corpus_doc_id): r.jaccard
        for r in incremental_neardup(new_docs, corpus).collect()
    }
    # symmetric run over the full corpus, restricted to straddling pairs
    sym = {}
    for r in neardup_verified(docs).collect():
        a, b = r.doc_id_a, r.doc_id_b
        if (a % 10 == 0) != (b % 10 == 0):
            n, c = (a, b) if a % 10 == 0 else (b, a)
            sym[(n, c)] = r.jaccard
    assert inc == sym
    # no self-pairs, sides disjoint
    assert all(n % 10 == 0 and c % 10 != 0 for n, c in inc)


def test_forecast_revenue_change_pushdown_and_values(spark):
    from myodish_peak_analysis_spark.operators.relational import (
        forecast_revenue_change,
    )
    from myodish_peak_analysis_spark.schema import read_table

    li = spark.createDataFrame(
        [
            ("1996-06-01", 0.06, 10.0, 100.0),   # kept: 100*0.06 = 6.0
            ("1996-06-01", 0.04, 10.0, 100.0),   # discount below band
            ("1996-06-01", 0.06, 30.0, 100.0),   # quantity too high
            ("1995-06-01", 0.06, 10.0, 100.0),   # before window
            ("1996-06-01", 0.07, 1.0, 50.0),     # kept: 50*0.07 = 3.5
        ],
        "l_shipdate string, l_discount double, l_quantity double,"
        " l_extendedprice double",
    ).withColumn("l_shipdate", F.col("l_shipdate").cast("timestamp_ntz"))
    row = forecast_revenue_change(li).collect()[0]
    assert (row.revenue, row.n_lines) == (9.5, 2)
    # every predicate must reach the parquet scan on real data
    df = forecast_revenue_change(
        read_table(spark, "/root/testdata/sf0.001", "lineitem")
    )
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert frag in pushed


def test_token_entropy_known_values(spark):
    from myodish_peak_analysis_spark.llm.text import token_entropy

    docs = spark.createDataFrame(
        [
            (1, "a a a a"),          # one symbol -> H = 0
            (2, "a b c d"),          # uniform over 4 -> H = 2 bits
            (3, "a a b b c c d d"),  # uniform over 4 -> H = 2 bits
            (4, "a a a b"),          # H = 2 - (3*log2(3))/4 = 0.811278
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.n_tokens, r.n_distinct, r.entropy)
        for r in token_entropy(docs).collect()
    }
    assert out[1] == (4, 1, 0.0)
    assert out[2] == (4, 4, 2.0)
    assert out[3] == (8, 4, 2.0)
    assert out[4] == (4, 2, 0.811278)


def test_rp_ivf_topk_recall_vs_brute(spark):
    """Coarse search in the 8-dim projection must keep reasonable
    top-1 recall against brute force — the JL geometry claim."""
    from myodish_peak_analysis_spark.llm.similarity import (
        cosine_topk,
        rp_ivf_topk,
    )
    from myodish_peak_analysis_spark.schema import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    brute = {
        r.query_id: r.vec_id
        for r in cosine_topk(emb, k=1).collect()
    }
    got = {
        r.query_id: r.vec_id
        for r in rp_ivf_topk(emb, k=1, nprobe=4).collect()
    }
    assert set(got) == set(brute)  # every query answered
    recall = sum(got[q] == v for q, v in brute.items()) / len(brute)
    # nprobe=4 of 8 clusters scans ~half the corpus through the
    # projected quantizer; top-1 recall collapses only if the
    # projection destroyed neighborhood structure
    assert recall >= 0.6, recall
    spark.catalog.clearCache()


def test_hybrid_neardup_separates_template_collisions(spark):
    from myodish_peak_analysis_spark.llm.dedup import hybrid_neardup

    # docs 1/2: true near-dups (shared text, aligned embeddings);
    # docs 3/4: template collision (same boilerplate tokens, but
    # orthogonal embeddings -> semantic_match False).
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            (1, shared + " one"),
            (2, shared + " two"),
            (3, shared + " three"),
            (4, shared + " four"),
        ],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.9, 0.1, 0.0, 0.0]),
            (3, [0.0, 0.0, 1.0, 0.0]),
            (4, [0.0, 0.0, 0.0, 1.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    out = {
        (r.doc_id_a, r.doc_id_b): (r.jaccard, r.cosine, r.semantic_match)
        for r in hybrid_neardup(docs, emb, min_jaccard=0.2).collect()
    }
    # all pairs share 8 of 9 distinct tokens -> all lexical near-dups
    assert len(out) == 6
    assert out[(1, 2)][2] is True        # aligned embeddings
    assert out[(3, 4)][2] is False       # orthogonal embeddings
    assert out[(1, 3)][2] is False
    assert abs(out[(1, 2)][0] - 8 / 10) < 1e-9


def test_bpe_pair_exhaustion_parity(spark):
    """When merges exhaust before n_merges rounds, Spark breaks out of
    the loop; the SQL mirror's remaining rounds must become identity
    (r5 review: bare scalar subqueries over the empty round table
    produced NULL and wiped every doc)."""
    import duckdb

    from myodish_peak_analysis_spark.llm.bpe import (
        bpe_encode,
        bpe_encode_sql,
        bpe_vocab,
    )

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b")], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.text_bpe, r.n_tokens)
        for r in bpe_encode(docs, n_merges=4).collect()
    }
    assert got == {1: ("a+b", 1), 2: ("a+b", 1)}
    assert bpe_vocab(docs, n_merges=4).count() == 1
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        "(VALUES (1, 'a b'), (2, 'a b')) t(doc_id, text)"
    )
    want = {
        int(d): (t, int(n))
        for d, t, n in con.sql(bpe_encode_sql(n_merges=4)).fetchall()
    }
    assert got == want
    spark.catalog.clearCache()


def test_canonical_corpus_keeps_longest_per_cluster(spark):
    from myodish_peak_analysis_spark.llm.dedup import (
        canonical_corpus,
        dedup_clusters,
    )
    from myodish_peak_analysis_spark.schema import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    kept = {r.doc_id: r.cluster_id for r in canonical_corpus(docs).collect()}
    clusters = {}
    for r in dedup_clusters(docs).collect():
        clusters.setdefault(r.cluster_id, []).append(r.doc_id)
    lens = {r.doc_id: r.n_chars for r in docs.select("doc_id", "n_chars").collect()}
    # exactly one keeper per cluster, and it is the longest member
    # (ties -> lowest doc_id)
    assert len(kept) == len(clusters)
    for cid, members in clusters.items():
        best = sorted(members, key=lambda d: (-lens[d], d))[0]
        assert kept.get(best) == cid, (cid, members, best)
    spark.catalog.clearCache()


def test_prototype_outliers_flags_the_odd_one(spark):
    from myodish_peak_analysis_spark.llm.similarity import prototype_outliers

    emb = spark.createDataFrame(
        [
            # label 0 clusters near +x; vec 3 points near -x (mislabeled)
            (0, 0, [1.0, 0.0]),
            (1, 0, [0.9, 0.1]),
            (2, 0, [1.0, 0.1]),
            (3, 0, [-1.0, 0.05]),
            # label 1: two aligned members
            (10, 1, [0.0, 1.0]),
            (11, 1, [0.1, 1.0]),
        ],
        "vec_id long, label int, embedding array<float>",
    )
    out = {
        (r.label, r.rank): r.vec_id
        for r in prototype_outliers(emb, k=1).collect()
    }
    assert out[(0, 1)] == 3  # the flipped vector is label 0's worst fit
    assert out[(1, 1)] in (10, 11)


def test_temperature_weights_flattens_toward_uniform(spark):
    from myodish_peak_analysis_spark.llm.sampling import temperature_weights

    docs = spark.createDataFrame(
        [(i, "big", 900) for i in range(9)]
        + [(100, "small", 100)],
        "doc_id long, source string, n_chars long",
    )
    out = {r.source: (r.p, r.q, r.boost) for r in temperature_weights(docs).collect()}
    # big: p=0.9878..., small: p=0.0122...; sqrt flattening must boost
    # the small source above its natural share and shrink the big one
    assert out["small"][1] > out["small"][0]
    assert out["big"][1] < out["big"][0]
    assert out["small"][2] > 1.0 > out["big"][2]
    # q sums to 1 (integer-ppb normalization)
    assert abs(out["small"][1] + out["big"][1] - 1.0) < 1e-9


def test_top_supplier_revenue_surfaces_ties(spark):
    from myodish_peak_analysis_spark.operators.relational import (
        top_supplier_revenue,
    )

    li = spark.createDataFrame(
        [
            (1, "1996-02-01", 100.0, 0.0),
            (2, "1996-02-01", 100.0, 0.0),   # tie with supplier 1
            (3, "1996-02-01", 50.0, 0.0),
            (1, "1995-01-01", 999.0, 0.0),   # outside window
        ],
        "l_suppkey long, l_shipdate string, l_extendedprice double,"
        " l_discount double",
    ).withColumn("l_shipdate", F.col("l_shipdate").cast("timestamp_ntz"))
    supp = spark.createDataFrame(
        [(1, "S1"), (2, "S2"), (3, "S3")], "s_suppkey long, s_name string"
    )
    rows = top_supplier_revenue(li, supp).collect()
    assert [(r.s_suppkey, r.total_revenue) for r in rows] == [
        (1, 100.0),
        (2, 100.0),
    ]
