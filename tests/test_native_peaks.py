"""Per-channel constrained peak finder vs the NumPy sigproc kernels.

The sigproc kernels are themselves golden-matched to the reference's
SciPy usage (tests/test_sigproc.py), so equality here pins
operators/native_peaks.py to /root/reference/peak_detection.py:251
semantics — plateau midpoints, greedy distance suppression, wlen-bounded
prominence bases, and interpolated widths at rel_height — and to the
engine's one plateau rule (windows.extrema_flags) beside NULL rows.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from myodish_peak_analysis_spark.functions import sigproc
from myodish_peak_analysis_spark.operators.native_peaks import native_find_peaks
from myodish_peak_analysis_spark.operators.windows import with_extrema_flags


def _frame(spark, channels: dict[int, np.ndarray]):
    pdf = pd.concat(
        pd.DataFrame(
            {
                "channel_id": ch,
                "sample_idx": np.arange(y.size, dtype=np.int64),
                "smooth": y,
            }
        )
        for ch, y in channels.items()
    )
    return spark.createDataFrame(pdf)


def _signals(seed: int = 7, n_channels: int = 6) -> dict[int, np.ndarray]:
    rng = np.random.default_rng(seed)
    out = {}
    for ch in range(n_channels):
        n = int(rng.integers(50, 2500))
        y = np.cumsum(rng.normal(0, 1, n)) + 3 * np.sin(np.arange(n) / 25.0)
        if ch % 2 == 0:
            y = np.round(y, 1)  # quantize → plateaus
        out[ch] = y
    return out


@pytest.mark.parametrize(
    "kwargs",
    [
        dict(distance=20, prominence=None, width=None),
        dict(distance=20, prominence=0.3, width=None),
        dict(distance=None, prominence=0.3, width=1.0),
        dict(distance=None, prominence=None, width=1.0),
        dict(distance=20, prominence=0.3, width=1.0),
        dict(distance=None, prominence=None, width=None),
    ],
)
def test_native_find_peaks_matches_numpy(spark, kwargs):
    channels = _signals()
    got = (
        native_find_peaks(_frame(spark, channels), rel_height=0.3, wlen=250, **kwargs)
        .toPandas()
        .sort_values(["channel_id", "peak_idx"])
    )
    for ch, y in channels.items():
        exp = sigproc.find_peaks(y, rel_height=0.3, wlen=250, **kwargs)
        sub = got[got.channel_id == ch].peak_idx.to_numpy()
        assert np.array_equal(sub, exp), f"channel {ch}: {kwargs}"


def test_prominence_and_width_values_match_numpy(spark):
    channels = _signals(seed=11, n_channels=3)
    got = (
        native_find_peaks(
            _frame(spark, channels), distance=20, prominence=0.3, width=1.0
        )
        .toPandas()
        .sort_values(["channel_id", "peak_idx"])
    )
    for ch, y in channels.items():
        cand, _, _ = sigproc.local_maxima_plateau(y)
        keep = sigproc._select_by_distance(cand, y[cand], 20)
        peaks = cand[keep]
        proms, lb, rb = sigproc.peak_prominences(y, peaks, 250)
        widths = sigproc.peak_widths(y, peaks, 0.3, proms, lb, rb)
        mask = (proms >= 0.3) & (widths >= 1.0)
        sub = got[got.channel_id == ch]
        assert np.array_equal(sub.peak_idx.to_numpy(), peaks[mask])
        assert list(map(float.hex, sub.prominence)) == list(
            map(float.hex, proms[mask])
        )
        assert list(map(float.hex, sub.width)) == list(map(float.hex, widths[mask]))


def test_unbounded_wlen(spark):
    channels = _signals(seed=3, n_channels=2)
    got = (
        native_find_peaks(
            _frame(spark, channels),
            distance=None,
            prominence=0.5,
            width=None,
            wlen=None,
        )
        .toPandas()
        .sort_values(["channel_id", "peak_idx"])
    )
    for ch, y in channels.items():
        exp = sigproc.find_peaks(y, prominence=0.5)
        sub = got[got.channel_id == ch].peak_idx.to_numpy()
        assert np.array_equal(sub, exp), f"channel {ch}"


def test_validation_mirrors_scipy(spark):
    df = _frame(spark, {0: np.arange(10.0)})
    with pytest.raises(ValueError, match="distance"):
        native_find_peaks(df, distance=0)
    with pytest.raises(ValueError, match="wlen"):
        native_find_peaks(df, wlen=1)


def test_edge_case_battery(spark):
    """Adversarial channel shapes in one frame: plateaus at borders,
    priority ties inside the distance radius, monotones, constants."""
    cases = {
        0: np.full(30, 5.0),                     # constant — no peaks
        1: np.arange(30, dtype=float),           # monotone up
        2: np.arange(30, dtype=float)[::-1],     # monotone down
        3: np.array([0, 3, 3, 3, 0, 1, 0] * 5, dtype=float),  # plateaus
        4: np.array([0.0] * 10 + [7, 7] + [0.0] * 10),  # even plateau
        5: np.array([0, 5, 0, 5, 0, 5, 0], dtype=float),  # ties within 20
        6: np.array([1, 9, 1], dtype=float),     # peak at idx 1 (n=3)
        7: np.concatenate([[9.0], np.zeros(10), [8.0, 9.0]]),  # border highs
        8: np.array([0, 1, 2, 3, 2, 1, 0, 1, 2, 3, 2, 1, 0] * 4, float),
    }
    got = (
        native_find_peaks(
            _frame(spark, cases), distance=3, prominence=0.5, width=1.0,
            rel_height=0.5, wlen=7,
        )
        .toPandas()
        .sort_values(["channel_id", "peak_idx"])
    )
    for ch, y in cases.items():
        exp = sigproc.find_peaks(
            y, distance=3, prominence=0.5, width=1.0, rel_height=0.5, wlen=7
        )
        sub = got[got.channel_id == ch].peak_idx.to_numpy()
        assert np.array_equal(sub, exp), f"channel {ch}: got {sub} exp {exp}"


def _nullable_frame(spark, values):
    return spark.createDataFrame(
        [(0, i, v) for i, v in enumerate(values)],
        "channel_id long, sample_idx long, smooth double",
    )


def test_null_neighbour_disqualifies_like_extrema_flags(spark):
    """A run beside a NULL row is no candidate: the finder keeps exactly
    the rows ``with_extrema_flags`` flags (index 4 sits right after the
    NULL and is not a peak)."""
    df = _nullable_frame(spark, [0.0, 5.0, 1.0, None, 3.0, 2.0, 0.0])
    got = native_find_peaks(df, distance=None, prominence=None, width=None)
    flagged = with_extrema_flags(df, value_col="smooth").filter("is_peak")
    assert [r.peak_idx for r in got.collect()] == [1]
    assert [r.sample_idx for r in flagged.collect()] == [1]


def test_null_row_stops_the_base_walk(spark):
    """A NULL row ends a prominence base walk as a higher sample does.
    The peak at 9 (3.0) walks left to the NULL at 6, so its left base is
    the 2.0 at 7: prominence 1.0, width 0.9 < 1. Walks past the NULLs
    would reach the 0.0 at each end (prominence 3.0, width 2.7) and keep
    it.
    The NULL at 21 joins the run of 20 (extrema_flags), which stays a
    candidate but has prominence 0."""
    vals = [0, 1, 2, 1.5, 0.2, 1.0, None, 2.0, 2.5, 3.0, 2.0, 1.0, 0.5, 1.4,
            1.2, 0.8, 1.9, 2.6, 2.2, 1.8, 2.9, None, 1.0, 0.1, 0.0]
    df = _nullable_frame(spark, [None if v is None else float(v) for v in vals])
    proms = {
        r.peak_idx: r.prominence
        for r in native_find_peaks(
            df, distance=None, prominence=0.0, width=None
        ).collect()
    }
    assert proms[9] == 1.0 and proms[20] == 0.0
    kept = native_find_peaks(df, distance=None, prominence=0.3, width=1.0)
    assert sorted(r.peak_idx for r in kept.collect()) == [2, 13]


def _signal(spark, n=400, channels=2, gap_at=None, dup_at=None):
    rows = []
    for ch in range(channels):
        rng = np.random.default_rng(ch + 1)
        vals = np.cumsum(rng.uniform(-1, 1, size=n))
        for i in range(n):
            if gap_at is not None and ch == channels - 1 and i == gap_at:
                continue
            rows.append((ch, i, float(vals[i])))
        if dup_at is not None and ch == 0:
            rows.append((ch, dup_at, float(vals[dup_at]) + 0.5))
    return spark.createDataFrame(
        rows, "channel_id long, sample_idx long, smooth double"
    )


def test_native_find_peaks_rejects_gapped_index(spark):
    dense = _signal(spark)
    assert native_find_peaks(dense).count() > 0

    gapped = _signal(spark, gap_at=200)  # e.g. a pre-filtered frame
    with pytest.raises(Exception, match="GAPPED_SIGNAL_INDEX"):
        native_find_peaks(gapped).count()
    # the error names the offending channel and jump
    with pytest.raises(Exception, match="channel_id=1 jumps 199 -> 201"):
        native_find_peaks(gapped).count()

    duped = _signal(spark, dup_at=50)
    with pytest.raises(Exception, match="GAPPED_SIGNAL_INDEX"):
        native_find_peaks(duped).count()


def test_native_find_peaks_accepts_reindexed_frame(spark):
    """Re-indexing a filtered frame with row_number is the documented
    fix and runs clean through the dense-index check."""
    gapped = _signal(spark, gap_at=200)
    reindexed = gapped.withColumn(
        "sample_idx",
        F.row_number().over(
            Window.partitionBy("channel_id").orderBy("sample_idx")
        )
        - 1,
    )
    assert native_find_peaks(reindexed).count() > 0
