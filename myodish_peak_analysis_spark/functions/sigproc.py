"""NumPy signal-processing kernels (no SciPy in this environment).

These re-implement, from the public algorithm descriptions, the two SciPy
routines the reference library leans on:

* ``savgol_coeffs`` / ``savgol_filter_nearest`` — Savitzky–Golay smoothing
  (least-squares local polynomial fit; classic published algorithm).
  Matches ``scipy.signal.savgol_filter(..., mode='nearest')`` semantics
  used at ``/root/reference/peak_detection.py:109,167,192``.
* ``find_peaks`` — local-maxima detection with plateau-midpoint handling
  and the ``distance`` / ``prominence`` (with ``wlen``) / ``width`` (at
  ``rel_height``) conditions, matching the documented behaviour of
  ``scipy.signal.find_peaks`` used at
  ``/root/reference/peak_detection.py:95,153,251,296``.
* ``constrain_peaks`` — those conditions applied to any candidate list
  (the native route's come from ``operators.windows.extrema_flags``).

Everything here is plain NumPy so it can run inside Arrow-batched pandas
UDFs on executors (the per-channel "fidelity route" of SURVEY.md §2.3/2.4).
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "savgol_coeffs",
    "shifted_add_fold",
    "savgol_filter_nearest",
    "local_maxima_plateau",
    "peak_prominences",
    "peak_widths",
    "constrain_peaks",
    "find_peaks",
]


def savgol_coeffs(window_length: int, polyorder: int) -> np.ndarray:
    """Symmetric Savitzky–Golay smoothing weights (evaluation at center).

    Returns ``c`` such that ``smoothed[i] = sum_k c[k] * y[i - half + k]``
    where ``half = window_length // 2``. Derived by least squares: fit a
    polynomial of degree ``polyorder`` to the window, evaluate at 0.
    """
    if window_length % 2 != 1:
        raise ValueError("window_length must be odd")
    if polyorder >= window_length:
        raise ValueError("polyorder must be less than window_length")
    half = window_length // 2
    pos = np.arange(-half, half + 1, dtype=np.float64)
    # Design matrix: rows are window positions, columns are powers 0..p.
    a = np.vander(pos, polyorder + 1, increasing=True)
    # Value of the LS fit at x=0 is the 0th fitted coefficient:
    # p_hat = pinv(A) @ y, smoothed = p_hat[0] -> weights = pinv(A)[0].
    return np.linalg.pinv(a)[0]


def shifted_add_fold(
    xpad: np.ndarray, coeffs: np.ndarray, start: float | None = None
) -> np.ndarray:
    """FIR correlation ``out[i] = sum_k coeffs[k] * xpad[i + k]`` as a
    shifted-add fold over the whole array, ``len(xpad) - len(coeffs) + 1``
    outputs at once.

    Every output is summed in the same order a sequential per-row loop
    would use, ``k = 0, 1, ..., len(coeffs) - 1``, so the result is
    bit-identical to a left-to-right fold (np.convolve and np.dot promise
    no order). ``start=None`` starts each sum from its first term;
    ``start=0.0`` starts from ``0.0``, as an ``aggregate(..., 0.0, ...)``
    fold does. The two differ only in the sign of an all-zero sum
    (``0.0 + -0.0`` is ``0.0``). NaN propagates like any IEEE sum.
    """
    xpad = np.asarray(xpad, dtype=np.float64)
    n = xpad.size - coeffs.size + 1
    if n <= 0:
        return np.empty(0)
    acc = xpad[:n] * coeffs[0]
    if start is not None:
        acc = start + acc
    term = np.empty(n)
    for k in range(1, coeffs.size):
        np.multiply(xpad[k : k + n], coeffs[k], out=term)
        acc += term
    return acc


def savgol_filter_nearest(
    y: np.ndarray, window_length: int, polyorder: int
) -> np.ndarray:
    """Savitzky–Golay filter with 'nearest' boundary extension.

    Pads both ends with the boundary *value* repeated ``half`` times
    (scipy's ``mode='nearest'``) and applies the FIR smoothing weights.
    NaNs propagate through the convolution exactly as in the FIR sum.
    """
    y = np.asarray(y, dtype=np.float64)
    c = savgol_coeffs(window_length, polyorder)
    half = window_length // 2
    if y.size == 0:
        return y.copy()
    ypad = np.concatenate([np.full(half, y[0]), y, np.full(half, y[-1])])
    return shifted_add_fold(ypad, c)


def local_maxima_plateau(y: np.ndarray):
    """Strict local maxima with plateau handling (midpoint reported).

    A maximum is a sample (or flat plateau) strictly greater than the
    immediately preceding sample and strictly greater than the first
    differing sample after it. For a plateau the midpoint
    ``(left_edge + right_edge) // 2`` is reported — the documented
    behaviour of SciPy's ``_local_maxima_1d``.

    Returns (midpoints, left_edges, right_edges) as int arrays.
    """
    y = np.asarray(y, dtype=np.float64)
    mids, lefts, rights = [], [], []
    i = 1
    i_max = y.size - 1
    while i < i_max:
        if y[i - 1] < y[i]:
            i_ahead = i + 1
            while i_ahead < i_max and y[i_ahead] == y[i]:
                i_ahead += 1
            if y[i_ahead] < y[i]:
                left = i
                right = i_ahead - 1
                mids.append((left + right) // 2)
                lefts.append(left)
                rights.append(right)
                i = i_ahead
        i += 1
    return (
        np.asarray(mids, dtype=np.intp),
        np.asarray(lefts, dtype=np.intp),
        np.asarray(rights, dtype=np.intp),
    )


def _select_by_distance(peaks: np.ndarray, priority: np.ndarray, distance: int):
    """Greedy distance suppression: keep higher-priority peaks first,
    remove any peak closer than ``distance`` samples to a kept one."""
    n = peaks.size
    keep = np.ones(n, dtype=bool)
    # Highest priority last in argsort; iterate descending priority.
    # kind="stable" pins the equal-value order to ascending index, so
    # reversed iteration processes equal values RIGHT-FIRST — the same
    # total order as (value DESC, position DESC), which is what the
    # recursive-CTE oracle pins, what the streaming compact() taint
    # step assumes, and what SciPy's own _select_by_peak_distance uses
    # (it also argsorts with kind='stable'). The default unstable
    # introsort gave an arbitrary equal-value order (r5 review).
    for j in np.argsort(priority, kind="stable")[::-1]:
        if not keep[j]:
            continue
        k = j - 1
        while k >= 0 and peaks[j] - peaks[k] < distance:
            keep[k] = False
            k -= 1
        k = j + 1
        while k < n and peaks[k] - peaks[j] < distance:
            keep[k] = False
            k += 1
    return keep


def peak_prominences(y: np.ndarray, peaks: np.ndarray, wlen: int | None = None):
    """Topographic prominence of each peak, optionally windowed by wlen.

    For each peak: walk left/right until a strictly higher sample or the
    (wlen-limited) border; the base on each side is the minimum in the
    traversed stretch; prominence = height − max(left_min, right_min).
    """
    y = np.asarray(y, dtype=np.float64)
    n = y.size
    proms = np.empty(peaks.size, dtype=np.float64)
    left_bases = np.empty(peaks.size, dtype=np.intp)
    right_bases = np.empty(peaks.size, dtype=np.intp)
    if wlen is not None:
        if wlen <= 1:
            # SciPy's _arg_wlen_as_expected accepts any value > 1
            # (ceiling it), raising only for <= 1; match exactly.
            raise ValueError(f"`wlen` must be larger than 1, got {wlen}")
        # Documented: wlen is rounded up to the next odd integer.
        wlen = int(np.ceil(wlen))
        if wlen % 2 == 0:
            wlen += 1
        half_wlen = wlen // 2
    else:
        half_wlen = None
    for p, peak in enumerate(peaks):
        i_min = 0
        i_max = n - 1
        if half_wlen is not None:
            i_min = max(peak - half_wlen, i_min)
            i_max = min(peak + half_wlen, i_max)
        # Left stretch.
        i = peak
        left_min = y[peak]
        left_bases[p] = peak
        while i_min <= i and y[i] <= y[peak]:
            if y[i] < left_min:
                left_min = y[i]
                left_bases[p] = i
            i -= 1
        # Right stretch.
        i = peak
        right_min = y[peak]
        right_bases[p] = peak
        while i <= i_max and y[i] <= y[peak]:
            if y[i] < right_min:
                right_min = y[i]
                right_bases[p] = i
            i += 1
        proms[p] = y[peak] - max(left_min, right_min)
    return proms, left_bases, right_bases


def peak_widths(
    y: np.ndarray,
    peaks: np.ndarray,
    rel_height: float,
    proms: np.ndarray,
    left_bases: np.ndarray,
    right_bases: np.ndarray,
    origin: int = 0,
):
    """Peak widths at a relative height, with linear interpolation.

    Evaluation height per peak = height − rel_height * prominence; the
    width is the distance between the interpolated crossings of that
    height on each side, searched within the prominence bases. The
    crossings are placed at ``origin`` + their index in ``y``: a slice
    of a channel passes its first sample's index, so its widths round
    as the whole channel's do.
    """
    y = np.asarray(y, dtype=np.float64)
    widths = np.empty(peaks.size, dtype=np.float64)
    for p, peak in enumerate(peaks):
        h = y[peak] - proms[p] * rel_height
        # Left intersection point.
        i = peak
        i_min = left_bases[p]
        while i_min < i and h < y[i]:
            i -= 1
        left_ip = float(i + origin)
        if y[i] < h:
            left_ip += (h - y[i]) / (y[i + 1] - y[i])
        # Right intersection point.
        i = peak
        i_max = right_bases[p]
        while i < i_max and h < y[i]:
            i += 1
        right_ip = float(i + origin)
        if y[i] < h:
            right_ip -= (h - y[i]) / (y[i - 1] - y[i])
        widths[p] = right_ip - left_ip
    return widths


def constrain_peaks(
    y: np.ndarray,
    peaks: np.ndarray,
    distance: int | None,
    prominence: float | None,
    width: float | None,
    rel_height: float,
    wlen: int | None,
) -> tuple[np.ndarray, np.ndarray | None, np.ndarray | None]:
    """The candidate maxima ``peaks`` (ascending) that pass the
    distance / prominence / width conditions, in SciPy's order: distance
    → prominence → width. Returns (peaks, prominences, widths) of the
    survivors; prominences are None unless prominence or width was
    requested (the width needs them), widths None unless width was."""
    y = np.asarray(y, dtype=np.float64)
    if distance is not None and peaks.size:
        # SciPy rounds a non-integer distance UP (np.ceil), keeping the
        # suppression at least as strict as requested.
        keep = _select_by_distance(peaks, y[peaks], int(np.ceil(distance)))
        peaks = peaks[keep]
    proms = widths = None
    if prominence is not None or width is not None:
        proms, left_bases, right_bases = peak_prominences(y, peaks, wlen)
        if prominence is not None:
            keep = proms >= prominence
            peaks, proms = peaks[keep], proms[keep]
            left_bases, right_bases = left_bases[keep], right_bases[keep]
    if width is not None:
        widths = peak_widths(y, peaks, rel_height, proms, left_bases, right_bases)
        keep = widths >= width
        peaks, proms, widths = peaks[keep], proms[keep], widths[keep]
    return peaks, proms, widths


def find_peaks(
    y: np.ndarray,
    distance: int | None = None,
    prominence: float | None = None,
    width: float | None = None,
    rel_height: float = 0.5,
    wlen: int | None = None,
) -> np.ndarray:
    """Local maxima subject to distance/prominence/width conditions:
    plateau maxima (:func:`local_maxima_plateau`), then
    :func:`constrain_peaks`. Returns the indices (plateau midpoints) of
    the surviving peaks."""
    if distance is not None and distance < 1:
        # SciPy validates distance up front, before looking for maxima.
        raise ValueError("`distance` must be greater or equal to 1")
    peaks, _, _ = local_maxima_plateau(y)
    return constrain_peaks(y, peaks, distance, prominence, width, rel_height, wlen)[0]
