"""Unit tests for the literal and codebook helpers under the ANN fits in
``llm.similarity``: the SQL double literals the Lloyd assigns embed,
and the PQ argmin's handling of a sub_id its codebook does not cover.
"""

from __future__ import annotations

import math
import struct

from pyspark.sql import functions as F


def _bits(v: float) -> bytes:
    return struct.pack(">d", v)


def test_double_sql_lit_non_finite_values_parse(spark):
    """NaN and ±Infinity centroid values must become literals Spark
    parses (``repr`` would emit nan/inf tokens the parser rejects) and
    evaluate to the same non-finite doubles."""
    from myodish_peak_analysis_spark.llm import similarity as S

    lits = [S._double_sql_lit(v) for v in (math.nan, math.inf, -math.inf)]
    row = spark.sql(
        "SELECT " + ", ".join(f"{lit} AS v{i}" for i, lit in enumerate(lits))
    ).first()
    assert math.isnan(row["v0"])
    assert row["v1"] == math.inf
    assert row["v2"] == -math.inf


def test_array_sql_lit_round_trips_finite_doubles_bit_identically(spark):
    """A finite double survives the SQL array literal with every bit
    intact, next to non-finite neighbours in the same array."""
    from myodish_peak_analysis_spark.llm import similarity as S

    finite = [
        0.1,
        1 / 3,
        -2.5e-8,
        5e-324,  # smallest subnormal
        1.7976931348623157e308,  # largest finite
        123456789.123456789,
        float.fromhex("0x1.fffffffffffffp-1"),
        float(struct.unpack(">f", struct.pack(">f", 0.7))[0]),  # a float32
    ]
    values = finite + [math.nan, math.inf, -math.inf]
    got = spark.sql(f"SELECT {S._array_sql_lit(values)} AS a").first()["a"]
    assert len(got) == len(values)
    assert [_bits(v) for v in got[: len(finite)]] == [_bits(v) for v in finite]
    assert math.isnan(got[-3])
    assert got[-2:] == [math.inf, -math.inf]


def test_pq_code_argmin_drops_sub_id_missing_from_codebook(spark):
    """A source row whose sub_id has no codebook entry is dropped, as
    the broadcast inner join of the reduce form drops it; covered rows
    get the nearest centroid, ties to the lowest centroid_id."""
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
    cdf = spark.createDataFrame(
        [(r["sub_id"], r["centroid_id"], r["c"]) for r in cent_rows],
        "sub_id int, centroid_id int, c array<double>",
    )
    reduced = S._pq_code_reduce(source, cdf).select(
        "vec_id", "sub_id", "centroid_id", "_d"
    )
    assert sorted(tuple(r) for r in reduced.collect()) == got
    assert out.filter(F.col("sub_id") == 2).count() == 0
