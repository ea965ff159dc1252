"""Unit tests for the NumPy signal kernels (SciPy re-implementations,
SURVEY.md §5 item 4): hand-computed frames, documented SciPy semantics."""

import numpy as np
import pytest

from myodish_peak_analysis_spark.functions.sigproc import (
    find_peaks,
    local_maxima_plateau,
    peak_prominences,
    savgol_coeffs,
    savgol_filter_nearest,
    shifted_add_fold,
)


def test_savgol_coeffs_sum_to_one_and_symmetric():
    c = savgol_coeffs(51, 7)
    assert abs(c.sum() - 1.0) < 1e-12
    assert np.allclose(c, c[::-1], atol=1e-12)


def test_savgol_reproduces_low_degree_polynomials():
    # An SG filter of polyorder p passes any degree-<=p polynomial through
    # unchanged on interior samples.
    x = np.arange(100, dtype=float)
    y = 2.0 + 0.5 * x - 0.03 * x**2 + 0.001 * x**3
    out = savgol_filter_nearest(y, 7, 3)
    assert np.allclose(out[3:-3], y[3:-3], atol=1e-8)


def test_savgol_constant_signal_is_identity():
    y = np.full(50, 3.25)
    assert np.allclose(savgol_filter_nearest(y, 11, 2), y, atol=1e-12)


def test_plateau_midpoint():
    y = np.array([0.0, 1.0, 1.0, 1.0, 0.0])
    mids, lefts, rights = local_maxima_plateau(y)
    assert list(mids) == [2] and list(lefts) == [1] and list(rights) == [3]


def test_edges_never_flagged():
    y = np.array([5.0, 1.0, 4.0])
    mids, _, _ = local_maxima_plateau(y)
    assert mids.size == 0


def test_distance_suppression_keeps_higher_peak():
    y = np.array([0.0, 3.0, 0.0, 4.0, 0.0])
    assert list(find_peaks(y, distance=3)) == [3]
    assert list(find_peaks(y, distance=2)) == [1, 3]


def test_distance_rounds_up_like_scipy():
    # SciPy applies np.ceil to a non-integer distance: 2.5 acts as 3.
    y = np.array([0.0, 3.0, 0.0, 4.0, 0.0])
    assert list(find_peaks(y, distance=2.5)) == [3]


def test_wlen_below_two_raises():
    y = np.array([0.0, 1.0, 0.0, 2.0, 0.0])
    with pytest.raises(ValueError):
        find_peaks(y, prominence=0.1, wlen=1)


def test_prominence_filters_small_peaks():
    y = np.array([0.0, 5.0, 4.0, 4.4, 0.0])
    # peak at 1: prominence 5; peak at 3: bounded by valley 4.0 -> 0.4
    assert list(find_peaks(y, prominence=1.0)) == [1]
    assert list(find_peaks(y, prominence=0.3)) == [1, 3]


def test_prominence_wlen_limits_search():
    # Far-away higher ground is invisible inside a small wlen window.
    y = np.array([10.0, 0.0, 1.0, 0.5, 1.0, 0.0, 10.0])
    proms_full, _, _ = peak_prominences(y, np.array([2]), None)
    proms_win, _, _ = peak_prominences(y, np.array([2]), 3)
    assert proms_full[0] == 1.0  # base = min walk until higher sample
    assert proms_win[0] <= proms_full[0]


def test_width_filters_narrow_peaks():
    narrow = np.array([0.0, 0.0, 5.0, 0.0, 0.0])
    wide = np.array([0.0, 4.0, 5.0, 4.0, 0.0])
    assert find_peaks(narrow, prominence=0.1, width=2).size == 0
    assert list(find_peaks(wide, prominence=0.1, width=2)) == [2]


@pytest.mark.parametrize("start", [None, 0.0])
def test_shifted_add_fold_equals_sequential_loop(start):
    """Every output is summed in tap order, bit for bit like a per-row
    Python loop; NaN propagates; only the fold start decides the sign of
    an all-(-0.0) sum."""
    rng = np.random.default_rng(3)
    x = rng.normal(size=120)
    x[40] = np.nan
    c = savgol_coeffs(21, 4)
    got = shifted_add_fold(x, c, start=start)
    assert got.size == x.size - c.size + 1
    for i in range(got.size):
        acc = x[i] * c[0] if start is None else start + x[i] * c[0]
        for k in range(1, c.size):
            acc = acc + x[i + k] * c[k]
        assert (np.isnan(acc) and np.isnan(got[i])) or got[i].hex() == acc.hex()
    neg = np.full(3, -0.0)
    one = np.ones(1)
    assert np.signbit(shifted_add_fold(neg, one, start=start)).all() == (start is None)
