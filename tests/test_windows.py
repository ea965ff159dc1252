"""Extrema-flag unit tests on hand-computed frames (plateau midpoints,
channel edges)."""

from pyspark.sql import functions as F

from myodish_peak_analysis_spark.operators.windows import with_extrema_flags


def _flags(spark, values):
    rows = [(0, i, float(v)) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, "channel_id long, sample_idx long, signal_value double")
    out = with_extrema_flags(df).orderBy("sample_idx").collect()
    return (
        [r.sample_idx for r in out if r.is_peak],
        [r.sample_idx for r in out if r.is_valley],
    )


def test_simple_peak_and_valley(spark):
    peaks, valleys = _flags(spark, [0, 2, 0, 3, 0])
    assert peaks == [1, 3]
    assert valleys == [2]


def test_plateau_midpoint_flagged(spark):
    peaks, _ = _flags(spark, [0, 1, 1, 1, 0])
    assert peaks == [2]


def test_even_plateau_floors_midpoint(spark):
    peaks, _ = _flags(spark, [0, 1, 1, 0])
    assert peaks == [1]  # (1+2) DIV 2


def test_channel_edges_never_flagged(spark):
    peaks, valleys = _flags(spark, [5, 1, 4])
    assert peaks == [] and valleys == [1]


def test_multi_channel_independence(spark):
    rows = [(c, i, float(v)) for c in (0, 1) for i, v in enumerate([0, 2, 0])]
    df = spark.createDataFrame(rows, "channel_id long, sample_idx long, signal_value double")
    out = with_extrema_flags(df).filter(F.col("is_peak")).collect()
    assert sorted((r.channel_id, r.sample_idx) for r in out) == [(0, 1), (1, 1)]


def test_gapped_or_shifted_index_flags_in_index_order(spark):
    """The flags read no taps: a shifted or gapped sample_idx is flagged
    in sample_idx order (a plateau whose midpoint falls in a gap flags
    nothing) instead of raising GAPPED_SIGNAL_INDEX."""
    from myodish_peak_analysis_spark.operators.peaks import naive_peaks

    vals = [0, 2, 0, 3, 3, 0, 1, 1, 1, 5, 4, 4, 6]
    cases = {
        (7, 8, 9, 10, 11, 12, 13, 14, 15, 16, 17, 18, 19): ([8, 10, 16], [9, 12, 17]),
        (0, 1, 3, 4, 5, 8, 9, 10, 12, 13, 15, 16, 20): ([1, 4, 13], [3, 8, 15]),
        (0, 2, 4, 6, 7, 9, 11, 12, 13, 15, 17, 20, 21): ([2, 6, 15], [4, 9]),
    }
    for idx, (peaks, valleys) in cases.items():
        rows = [(0, i, float(v), i / 100.0) for i, v in zip(idx, vals)]
        df = spark.createDataFrame(
            rows,
            "channel_id long, sample_idx long, signal_value double, time_index double",
        ).orderBy(F.col("sample_idx").desc())
        out = with_extrema_flags(df).collect()
        assert sorted(r.sample_idx for r in out if r.is_peak) == peaks
        assert sorted(r.sample_idx for r in out if r.is_valley) == valleys
        assert sorted(r.peak_idx for r in naive_peaks(df).collect()) == peaks
