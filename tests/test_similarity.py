"""Unit tests for the ANN fits: the Lloyd-assign kernels (``llm.lloyd``,
run by ``llm.similarity._centroid_assign`` and ``_pq_code_argmin``) and
the one Lloyd loop that runs them (``_lloyd_fit``). The kernels'
reference is the Spark SQL form of each assign, the
higher-order-function argmax the fits evaluated before the kernels
replaced it; it is kept here, as ``extrema_flags_sql`` is kept for the
peaks flags, and Spark evaluates it. The loop's references are the
one-quantizer fits and the DuckDB oracle's unrolled k-means.
"""

from __future__ import annotations

import math
from fractions import Fraction

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from myodish_peak_analysis_spark.llm import lloyd
from tests.conftest import SF01


# --- the Spark SQL reference ------------------------------------------


def _double_sql(v) -> str:
    if v is None:
        return "CAST(NULL AS DOUBLE)"
    v = float(v)
    if math.isnan(v):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(v):
        return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
    return f"{v!r}D"


def _array_sql(values) -> str:
    if values is None:
        return "CAST(NULL AS ARRAY<DOUBLE>)"
    if not values:
        return "CAST(array() AS ARRAY<DOUBLE>)"
    return "array(" + ",".join(_double_sql(v) for v in values) + ")"


def cosine_argmax_sql(cents) -> str:
    """Nearest centroid of ``embedding`` (with ``_norm``) by cosine
    rounded to 9 dp, ties to the lowest centroid_id; ``cents`` is a list
    of (centroid_id, c_emb, c_norm)."""
    structs = [
        f"named_struct('c', round(aggregate(zip_with(embedding, "
        f"{_array_sql(emb)}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) / (_norm * {_double_sql(norm)}), 9), "
        f"'nid', {-cid}, 'centroid_id', {cid})"
        for cid, emb, norm in cents
    ]
    return f"array_max(array({','.join(structs)})).centroid_id"


def l2_argmin_sql(book) -> str:
    """(d, i) struct of the nearest codebook entry of ``se`` by squared
    L2 quantized by floor(d * 1e9 + 0.5) / 1e9, ties to the lowest
    centroid_id; ``book`` maps sub_id to a list of (centroid_id, c)."""
    branches = []
    for s, entries in sorted(book.items()):
        structs = [
            f"named_struct('d', floor(aggregate(zip_with(se, {_array_sql(c)}, "
            f"(x, y) -> (x - y) * (x - y)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) "
            f"* 1000000000.0D + 0.5D) / 1000000000.0D, 'i', {cid})"
            for cid, c in entries
        ]
        branches.append(f"WHEN sub_id = {s} THEN array_min(array({','.join(structs)}))")
    return f"CASE {' '.join(branches)} END"


def _cosine_kernel(rows, cents):
    """centroid_id per (vec_id, embedding, _norm) row from the kernel,
    called in-process on the same values."""
    ordered = sorted(cents, key=lambda c: c[0])
    x = lloyd.dense_rows(pa.array([r[1] for r in rows], pa.list_(pa.float32())))
    xn = pa.array([r[2] for r in rows], pa.float64())
    c = lloyd.dense_rows(pa.array([e for _, e, _ in ordered], pa.list_(pa.float64())))
    cn = pa.array([n for _, _, n in ordered], pa.float64())
    best = lloyd.cosine_argmax(
        x,
        xn.to_numpy(zero_copy_only=False),
        xn.is_null().to_numpy(zero_copy_only=False),
        c,
        cn.to_numpy(zero_copy_only=False),
        cn.is_null().to_numpy(zero_copy_only=False),
    )
    return [ordered[i][0] for i in best]


# --- Spark ROUND(x, 9) ------------------------------------------------------


def _half_boundary_doubles(rng, n):
    """Doubles nearest to, and up to two ulps either side of, random
    9-dp half boundaries (n + 0.5) * 1e-9, both signs."""
    out = []
    for m in rng.integers(0, 2 * 10**9, n):
        v = float(Fraction(2 * int(m) + 1, 2 * 10**9))
        for _ in range(2):
            v = math.nextafter(v, -math.inf)
        for _ in range(5):
            out += [v, -v]
            v = math.nextafter(v, math.inf)
    return out


def test_spark_round9_matches_spark_round(spark):
    """``lloyd.spark_round9`` equals Spark's ``ROUND(v, 9)`` bit for bit
    on doubles around 9-dp half boundaries, on float32 products, on
    powers of two (where JDK 17's ``Double.toString`` prints more than
    the shortest digits) and across magnitudes, subnormals included."""
    rng = np.random.default_rng(5)
    vals = _half_boundary_doubles(rng, 2000)
    vals += [2.0**e for e in range(-60, 4)]
    vals += list(rng.uniform(-1, 1, 2000))
    vals += list(rng.uniform(-1, 1, 500) * 10.0 ** rng.integers(-12, 12, 500))
    x = rng.uniform(-1, 1, (2, 1000)).astype(np.float32).astype(np.float64)
    vals += list(x[0] * x[1])
    vals += [5e-324, 2.5e-320, 1e-310, -0.0, 0.0, 1.0, 12345.0, 1.5e300]
    vals += [math.nan, math.inf, -math.inf]
    df = spark.createDataFrame([(float(v),) for v in vals], "v double")
    got = df.select("v", F.round("v", 9).alias("r")).collect()
    for row in got:
        mine = lloyd.spark_round9(row["v"])
        assert (math.isnan(mine) and math.isnan(row["r"])) or (
            mine == row["r"] and math.copysign(1, mine) == math.copysign(1, row["r"])
        ), (row["v"], row["r"], mine)


# --- IVF cosine argmax --------------------------------------------------------


def _on_grid(num: int, den: int) -> float:
    return float(Fraction(num, den))


@st.composite
def _cosine_case(draw):
    """Rows and centroids built from a per-case pool: a 9-dp half
    boundary (n + 0.5) * 1e-9 and the grid point (n + 1) * 1e-9 it
    rounds up to. A centroid is mostly a pool value v with two
    companions: 1.0 and -1.0, whose sum with v is exact only in some
    orders, so two such centroids with the same v rank by the fold's
    order; or two zeros, so v itself ties or rounds against the others.
    Unit rows and unit norms make the cosine that sum. The rest are
    arbitrary values with NULL arrays and elements, NaN, ±0.0 and
    ragged lengths."""
    # v in [0.1, 0.5): v - 1.0 drops bits of v, so (v - 1.0) + 1.0 != v;
    # n even: rounding half-even would round the half down
    n = 2 * draw(st.integers(5 * 10**7, 25 * 10**7 - 1))
    pool = [_on_grid(2 * n + 1, 2 * 10**9), _on_grid(n + 1, 10**9)]
    dim = draw(st.sampled_from([3, 3, 3, 1, 2]))
    v = st.sampled_from(pool)
    # arbitrary values stay below v, so they do not always win
    c_value = st.one_of(v, st.sampled_from([-0.0, math.nan]), st.floats(-0.03, 0.03), st.none())
    x_value = st.one_of(
        st.sampled_from([1.0, -1.0, 0.0, -0.0, math.nan]),
        st.floats(-2, 2, width=32),
        st.none(),
    )

    def around(*companions):
        return st.tuples(v, *map(st.just, companions[: dim - 1])).flatmap(st.permutations)

    cancelling = around(1.0, -1.0)
    cent = st.one_of(
        cancelling,
        cancelling,
        cancelling,
        around(0.0, 0.0),
        st.lists(c_value, min_size=dim, max_size=dim),
        st.lists(c_value, min_size=0, max_size=dim + 1),  # ragged
        st.none(),
    )
    ones = st.just([1.0] * dim)
    vec = st.one_of(
        ones,
        ones,
        st.lists(x_value, min_size=dim, max_size=dim),
        st.lists(x_value, min_size=0, max_size=dim + 1),
        st.none(),
    )
    norm = st.sampled_from([1.0] * 8 + [0.5, 2.0, math.nan, None])
    k = draw(st.integers(2, 10))
    ids = draw(st.permutations(range(1, k + 1)))
    cents = [(cid, draw(cent), draw(norm)) for cid in ids]
    rows = [(i, draw(vec), draw(norm)) for i in range(draw(st.integers(1, 10)))]
    return rows, cents


# Centroid 1's cosine with both rows is the double nearest to
# 0.1234567885, which lies below the half but rounds HALF_UP on its Java
# digits to 0.123456789, tying centroid 2: the lower id wins. Rounding
# half-even, rounding the exact binary value or breaking the tie to the
# higher id picks centroid 2 for both rows. The second row sums
# 1.0 - 1.0 + 0.1234567885 exactly only in dimension order; the reverse
# order lands at 0.12345678849999997 and picks centroid 2.
_ORDER_HALF_UP_TIE = (
    [(1, [0.0, 0.0, 1.0], 1.0), (2, [1.0, 1.0, 1.0], 1.0)],
    [(2, [0.0, 0.0, 0.123456789], 1.0), (1, [1.0, -1.0, 0.1234567885], 1.0)],
)


@given(_cosine_case())
@example(_ORDER_HALF_UP_TIE)
@settings(max_examples=60, deadline=None)
def test_cosine_argmax_matches_sql_reference(spark, case):
    """The IVF kernel picks the centroid the Spark SQL argmax picks on
    random rows and centroids with NULL embeddings and elements, NaN,
    ±0.0, ragged rows, NaN centroid values, cosines on a 9-dp half
    boundary, sums whose value depends on the fold's order, and exact
    ties."""
    rows, cents = case
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>, _norm double")
    want = [
        r["centroid_id"]
        for r in df.select("vec_id", F.expr(cosine_argmax_sql(cents)).alias("centroid_id"))
        .orderBy("vec_id")
        .collect()
    ]
    assert _cosine_kernel(rows, cents) == want


def test_cosine_argmax_shortlist_keeps_the_exact_fold(spark):
    """Centroids whose BLAS cosines differ from the fold's by rounding
    alone: the shortlist must hand the decision to the sequential fold.
    Each row is a permutation of large and small terms, so the fold and
    BLAS sum them in different orders."""
    rng = np.random.default_rng(11)
    dim, k = 48, 40
    base = rng.normal(size=dim).astype(np.float32)
    cents = []
    for cid in range(1, k + 1):
        c = base + rng.normal(scale=1e-7, size=dim).astype(np.float32)
        c = c.astype(np.float64)
        cents.append((cid, [float(v) for v in c], float(np.sqrt(c @ c))))
    rows = []
    for i in range(200):
        x = (base * rng.choice([1e-3, 1.0, 1e3], size=dim)).astype(np.float32)
        x64 = x.astype(np.float64)
        rows.append((i, [float(v) for v in x], float(np.sqrt(x64 @ x64))))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>, _norm double")
    want = [
        r["centroid_id"]
        for r in df.select("vec_id", F.expr(cosine_argmax_sql(cents)).alias("centroid_id"))
        .orderBy("vec_id")
        .collect()
    ]
    assert _cosine_kernel(rows, cents) == want


def test_centroid_assign_matches_sql_reference(spark):
    """``_centroid_assign`` (the mapInArrow step the fits run) agrees
    with the Spark SQL argmax vector for vector on the sf0.01
    embeddings against 80 centroids, the k where the BLAS shortlist
    does most of the pruning."""
    from pyspark.sql.window import Window

    from myodish_peak_analysis_spark.llm import similarity as S
    from myodish_peak_analysis_spark.schema import read_table

    emb = read_table(spark, SF01, "embeddings")
    vecs = S._with_norm(emb).select("vec_id", "embedding", "_norm").cache()
    rows = (
        vecs.orderBy("vec_id")
        .limit(80)
        .select(
            F.row_number().over(Window.orderBy("vec_id")).alias("centroid_id"),
            F.col("embedding").alias("c_emb"),
            F.col("_norm").alias("c_norm"),
        )
        .collect()
    )
    want = dict(
        vecs.select(
            "vec_id",
            F.expr(
                cosine_argmax_sql([(r["centroid_id"], r["c_emb"], r["c_norm"]) for r in rows])
            ).alias("c"),
        ).collect()
    )
    got = dict(S._centroid_assign(vecs, rows).select("vec_id", "centroid_id").collect())
    vecs.unpersist()
    assert got == want and len(got) == emb.count()


def test_centroid_assign_zero_norm_follows_ansi_mode(spark):
    """A zero ``_norm * c_norm`` under a non-NULL dot product: with ANSI
    mode on, Spark's division raises DIVIDE_BY_ZERO and so does the
    kernel; with it off, the cosine is NULL (below every number) in
    both."""
    from myodish_peak_analysis_spark.llm import similarity as S

    vecs = spark.createDataFrame(
        [(1, [0.0, 0.0], 0.0), (2, [1.0, 0.0], 1.0), (3, [0.0, 1.0], 1.0)],
        "vec_id bigint, embedding array<float>, _norm double",
    )
    cents = [(1, [1.0, 0.0], 1.0), (2, [0.0, 1.0], 0.0)]
    cent_rows = [{"centroid_id": c, "c_emb": e, "c_norm": n} for c, e, n in cents]

    def sql():  # the division's ANSI mode is fixed when the plan is built
        return vecs.select("vec_id", F.expr(cosine_argmax_sql(cents)).alias("centroid_id"))

    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        sql().collect()
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        S._centroid_assign(vecs, cent_rows).collect()
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        want = sorted(map(tuple, sql().collect()))
        got = sorted(
            map(tuple, S._centroid_assign(vecs, cent_rows).select("vec_id", "centroid_id").collect())
        )
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert got == want == [(1, 1), (2, 1), (3, 1)]


# --- PQ squared-L2 argmin --------------------------------------------------------


_se_value = st.one_of(
    st.floats(-4, 4, width=64),
    st.sampled_from([0.0, -0.0, 0.5, 1.0, math.nan, math.inf, 1e200]),
    st.none(),
)


@st.composite
def _l2_case(draw):
    sdim = draw(st.integers(1, 3))
    vec = st.one_of(
        st.lists(_se_value, min_size=sdim, max_size=sdim),
        st.lists(_se_value, min_size=0, max_size=sdim + 1),
        st.none(),
    )
    book = {}
    for s in (1, 2):
        k = draw(st.integers(1, 4))
        ids = draw(st.permutations(range(1, k + 1)))
        book[s] = [(cid, draw(vec)) for cid in ids]
    rows = [
        (i, draw(st.sampled_from([1, 2, 3])), draw(vec))
        for i in range(draw(st.integers(1, 8)))
    ]
    return rows, book


@given(_l2_case())
@settings(max_examples=60, deadline=None)
def test_pq_code_argmin_matches_sql_reference(spark, case):
    """``_pq_code_argmin`` returns the (centroid_id, _d) the Spark SQL
    argmin returns, on random subvectors and codebooks with NULL arrays
    and elements, NaN, infinities, overflowing squares, ragged rows and
    ties; rows of sub_id 3 (no codebook) are dropped by both."""
    from myodish_peak_analysis_spark.llm import similarity as S

    rows, book = case
    source = spark.createDataFrame(rows, "vec_id bigint, sub_id int, se array<double>")
    sql = l2_argmin_sql({s: sorted(e) for s, e in book.items()})
    want = sorted(
        (r["vec_id"], r["_b"]["i"], r["_b"]["d"])
        for r in source.filter(F.col("sub_id").isin(sorted(book)))
        .select("vec_id", F.expr(sql).alias("_b"))
        .collect()
    )
    cent_rows = [
        {"sub_id": s, "centroid_id": cid, "c": c} for s, e in book.items() for cid, c in e
    ]
    got = sorted(
        (r["vec_id"], r["centroid_id"], r["_d"])
        for r in S._pq_code_argmin(source, cent_rows).collect()
    )
    assert got == want


def test_pq_code_argmin_matches_sql_reference_on_embeddings(spark):
    """The codes of the sf0.01 subvectors against a 16-entry codebook
    per subspace equal the Spark SQL argmin's, distances included."""
    from myodish_peak_analysis_spark.llm import similarity as S
    from myodish_peak_analysis_spark.schema import read_table

    emb = read_table(spark, SF01, "embeddings")
    subs = S._pq_subvectors(emb, 4).cache()
    low = [r["vec_id"] for r in emb.orderBy("vec_id").limit(16).collect()]
    cent_rows = [
        {"sub_id": r["sub_id"], "centroid_id": low.index(r["vec_id"]) + 1, "c": r["se"]}
        for r in subs.filter(F.col("vec_id").isin(low)).collect()
    ]
    book: dict = {}
    for r in cent_rows:
        book.setdefault(r["sub_id"], []).append((r["centroid_id"], r["c"]))
    sql = l2_argmin_sql({s: sorted(e) for s, e in book.items()})
    want = sorted(
        (r["vec_id"], r["sub_id"], r["_b"]["i"], r["_b"]["d"])
        for r in subs.select("vec_id", "sub_id", F.expr(sql).alias("_b")).collect()
    )
    got = sorted(
        (r["vec_id"], r["sub_id"], r["centroid_id"], r["_d"])
        for r in S._pq_code_argmin(subs, cent_rows).collect()
    )
    subs.unpersist()
    assert got == want and len(got) == 4 * emb.count()


def test_pq_code_argmin_drops_sub_id_missing_from_codebook(spark):
    """A source row whose sub_id has no codebook entry is dropped, as
    a broadcast inner join on sub_id drops it; covered rows get the
    nearest centroid, ties to the lowest centroid_id."""
    from myodish_peak_analysis_spark.llm import similarity as S

    source = spark.createDataFrame(
        [
            (1, 1, [0.0, 0.0]),
            (2, 1, [1.0, 1.0]),
            (3, 1, [0.5, 0.5]),  # equidistant: ties to centroid 1
            (1, 2, [0.0, 0.0]),  # sub_id 2 has no codebook entry
            (2, 2, [9.0, 9.0]),
        ],
        "vec_id bigint, sub_id int, se array<double>",
    )
    cent_rows = [
        {"sub_id": 1, "centroid_id": 2, "c": [1.0, 1.0]},
        {"sub_id": 1, "centroid_id": 1, "c": [0.0, 0.0]},
    ]
    out = S._pq_code_argmin(source, cent_rows)
    got = sorted(
        (r["vec_id"], r["sub_id"], r["centroid_id"], r["_d"]) for r in out.collect()
    )
    assert got == [(1, 1, 1, 0.0), (2, 1, 2, 0.0), (3, 1, 1, 0.5)]
    assert out.filter(F.col("sub_id") == 2).count() == 0


# --- the Lloyd loop (one init, one means update, one collect a round) --


def _fit_rows(fits):
    """Sorted rows of each (assignment, centroid table) pair, floats as
    exact hex strings: assignments as (vec_id, sub_id, centroid_id)."""

    def exact(v):
        if isinstance(v, float):
            return v.hex()
        if isinstance(v, list):
            return tuple(exact(x) for x in v)
        return v

    out = []
    for final, cents in fits:
        sub = "sub_id" if "sub_id" in final.columns else F.lit(0)
        out.append((
            sorted(map(tuple, final.select("vec_id", sub, "centroid_id").collect())),
            sorted(tuple(exact(x) for x in r) for r in cents.collect()),
        ))
    return out


def _duckdb_oracle(sql: str) -> list:
    import duckdb

    from tests.conftest import SF001

    con = duckdb.connect()
    con.sql(f"CREATE VIEW embeddings AS SELECT * FROM '{SF001}/embeddings.parquet'")
    return sorted(con.sql(sql).fetchall())


@pytest.mark.parametrize(
    "ivf_iters, pq_iters, fit_sample_mod",
    [(3, 2, None), (1, 2, None), (3, 2, 3)],
)
def test_joint_lloyd_fit_equals_single_quantizer_fits(
    spark, ivf_iters, pq_iters, fit_sample_mod
):
    """The two-quantizer fit (IVF k=8 and PQ m=4 k=16 in one loop, one
    collect a round) returns bit for bit what each quantizer's own fit
    returns: members and IVF centroids equal the IVF fit's, codes and
    codebooks the PQ fit's. Without sampling, both also equal the
    DuckDB oracle's unrolled k-means with the same round counts, so an
    off-by-one in the rounds fails even when the loop runs it for every
    fit alike."""
    from myodish_peak_analysis_spark.llm import oracle as O, similarity as S
    from myodish_peak_analysis_spark.schema import read_table
    from tests.conftest import SF001

    emb = read_table(spark, SF001, "embeddings")

    def ivf():
        return S._ivf_quantizer(emb, 8, ivf_iters)

    def pq():
        return S._pq_quantizer(emb, 4, 16, pq_iters)

    joint = _fit_rows(S._lloyd_fit(emb, ivf(), pq(), fit_sample_mod=fit_sample_mod))
    single = _fit_rows(
        S._lloyd_fit(emb, ivf(), fit_sample_mod=fit_sample_mod)
        + S._lloyd_fit(emb, pq(), fit_sample_mod=fit_sample_mod)
    )
    assert joint[0] == single[0]
    assert joint[1] == single[1]
    if fit_sample_mod is None:
        base = f"WITH {O._BASE_CTE}, "
        members = _duckdb_oracle(
            base + O._kmeans_member_ctes(8, ivf_iters)
            + " SELECT vec_id, 0, CAST(centroid_id AS INT) FROM members"
        )
        codes = _duckdb_oracle(
            base + O._pq_member_ctes(4, 16, pq_iters)
            + " SELECT vec_id, sub_id, centroid_id FROM pq_members"
        )
        assert joint[0][0] == members
        assert joint[1][0] == codes
    spark.catalog.clearCache()


def test_pq_fit_threaded_dim_matches_discovered(spark):
    """fit_ivf_pq_index threads the embedding dim into _pq_quantizer so
    the divisibility check runs no extra action; the threaded fit must
    be code-identical to the self-discovering one."""
    from myodish_peak_analysis_spark.llm.similarity import _lloyd_fit, _pq_quantizer
    from myodish_peak_analysis_spark.schema import read_table
    from tests.conftest import SF001

    emb = read_table(spark, SF001, "embeddings")
    d = len(emb.select("embedding").first()[0])
    ((base, _),) = _lloyd_fit(emb, _pq_quantizer(emb, m=4, k=8, iters=1))
    ((threaded, _),) = _lloyd_fit(emb, _pq_quantizer(emb, m=4, k=8, iters=1, dim=d))
    cols = ["vec_id", "sub_id", "centroid_id"]
    assert sorted(map(tuple, base.select(*cols).collect())) == sorted(
        map(tuple, threaded.select(*cols).collect())
    )


def test_pq_fit_rejects_indivisible_threaded_dim(spark):
    from myodish_peak_analysis_spark.llm.similarity import _pq_quantizer
    from myodish_peak_analysis_spark.schema import read_table
    from tests.conftest import SF001

    emb = read_table(spark, SF001, "embeddings")
    with pytest.raises(ValueError, match="not divisible"):
        _pq_quantizer(emb, m=5, k=8, iters=1, dim=64)


def test_pq_fit_sample_mod_assigns_full_corpus(spark):
    from myodish_peak_analysis_spark.llm.similarity import _lloyd_fit, _pq_quantizer
    from myodish_peak_analysis_spark.schema import read_table
    from tests.conftest import SF001

    emb = read_table(spark, SF001, "embeddings")
    ((final, cents),) = _lloyd_fit(
        emb, _pq_quantizer(emb, m=4, k=8, iters=1), fit_sample_mod=3
    )
    n = emb.count()
    # every vector coded in every subspace, codebook ids in range
    assert final.count() == n * 4
    ids = {r.centroid_id for r in final.select("centroid_id").distinct().collect()}
    assert ids <= set(range(1, 9))
    spark.catalog.clearCache()


def test_ivf_fit_sample_mod_recall(spark):
    """The sampled Lloyd fit must (a) assign EVERY corpus vector, and
    (b) keep IVF top-1 recall vs brute force close to the full fit's."""
    from myodish_peak_analysis_spark.llm.similarity import (
        cosine_topk,
        ivf_index,
        ivf_topk,
    )
    from myodish_peak_analysis_spark.schema import read_table
    from tests.conftest import SF001

    emb = read_table(spark, SF001, "embeddings")
    n = emb.count()
    assigned = ivf_index(emb, k=8, fit_sample_mod=3)
    assert assigned.count() == n  # full corpus assigned
    assert assigned.select("centroid_id").distinct().count() > 1

    def top1(df):
        return {
            r.query_id: r.vec_id for r in df.filter("rank = 1").collect()
        }

    brute = top1(cosine_topk(emb, k=1))
    sampled = top1(ivf_topk(emb, k=1, n_clusters=8, fit_sample_mod=3))
    full = top1(ivf_topk(emb, k=1, n_clusters=8))
    recall_sampled = sum(sampled.get(q) == v for q, v in brute.items()) / len(brute)
    recall_full = sum(full.get(q) == v for q, v in brute.items()) / len(brute)
    # sampled fit loses little geometry: stay within 0.25 of full fit
    assert recall_sampled >= recall_full - 0.25
    spark.catalog.clearCache()
