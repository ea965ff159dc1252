"""Exact-fidelity per-channel pipeline as a grouped-map pandas UDF.

The spark-native operators (:mod:`.smooth`, :mod:`.envelopes`) deviate
from the reference at channel edges (clamp vs block padding, truncated
tail frames). This module reproduces the reference pipeline *exactly* —
including its padding arithmetic and NaN propagation — one channel at a
time inside ``applyInPandas``:

    df.groupBy("channel_id").applyInPandas(...)

Scaling contract (SURVEY.md §7): channels are independent, so this is
embarrassingly parallel across executors; a single channel must fit in
one executor's memory — the honest bound for sequential-by-nature
algorithms (SG edge fidelity, greedy distance suppression, prominence).
Arrow batches move the data; all math is vectorized NumPy.

Reference tracing (each function cites the lines it reproduces):
* smooth:      /root/reference/peak_detection.py:172-197
* envelopes:   /root/reference/peak_detection.py:56-169
* diastolic:   /root/reference/peak_detection.py:200-218
* detect:      /root/reference/peak_detection.py:221-264
* attributes:  /root/reference/peak_analysis.py:46-121
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from ..functions.sigproc import (
    find_peaks,
    local_maxima_plateau,
    savgol_filter_nearest,
)
from ..schema import DEFAULT_FS

PEAK_SCHEMA = StructType(
    [
        StructField("channel_id", LongType()),
        StructField("peak_idx", LongType()),
        StructField("timestamp", DoubleType()),
        StructField("peak_value", DoubleType()),
        StructField("baseline_value", DoubleType()),
        StructField("force", DoubleType()),
        StructField("time_to_peak", DoubleType()),
        StructField("time_to_relaxation", DoubleType()),
        StructField("duration", DoubleType()),
    ]
)

SIGNAL_COLS_SCHEMA = StructType(
    [
        StructField("channel_id", LongType()),
        StructField("sample_idx", LongType()),
        StructField("time_index", DoubleType()),
        StructField("signal_value", DoubleType()),
        StructField("smooth", DoubleType()),
        StructField("baseline", DoubleType()),
        StructField("ceiling", DoubleType()),
        StructField("diastolic", DoubleType()),
    ]
)


def smooth_signal_ref(y: np.ndarray, window: int = 51, poly: int = 7) -> np.ndarray:
    """Block-duplicate pad + SG(nearest) + strip (peak_detection.py:185-197)."""
    half = window // 2
    ypad = np.concatenate([y[:half], y, y[-half:]])
    return savgol_filter_nearest(ypad, window, poly)[half:-half]


def _frame_extrema_envelope(y: np.ndarray, kind: str, window: int) -> np.ndarray:
    """Raw rolling envelope over frame-interior extrema.

    Equivalent to the reference's per-frame ``find_peaks`` loop
    (peak_detection.py:92-100, 149-159) but O(n): a frame ``y[i:i+window]``
    sees a global extremum iff its plateau lies strictly inside —
    ``left >= i+1 and right <= i+window-2``.
    """
    n = y.size
    m = n - window
    if m <= 0:
        # Channel shorter than the frame: the reference would crash on
        # such input (empty raw envelope indexed downstream); the engine
        # defines the envelope as empty here and the callers NaN-fill.
        return np.empty(0)
    sign = 1.0 if kind == "peak" else -1.0
    mids, lefts, rights = local_maxima_plateau(sign * y)
    vals = y[mids]
    masked = np.full(n, np.nan)
    simple = lefts == rights
    masked[mids[simple]] = vals[simple]
    width = window - 2
    roll = pd.Series(masked).rolling(width, min_periods=1)
    trail = (roll.max() if kind == "peak" else roll.min()).to_numpy()
    # frame i covers offsets [i+1, i+window-2] == trailing window ending i+window-2
    env = trail[width:width + m].copy()
    # Plateau extrema (rare): exact frame-membership interval update.
    for left, right, v in zip(lefts[~simple], rights[~simple], vals[~simple]):
        a = max(0, right - width)
        b = min(m - 1, left - 1)
        if a <= b:
            seg = env[a : b + 1]
            env[a : b + 1] = np.fmax(seg, v) if kind == "peak" else np.fmin(seg, v)
    return env


def envelope_ref(
    y: np.ndarray,
    kind: str,
    window: int = 350,
    smoothing_window: int = 301,
    polyorder: int = 3,
) -> np.ndarray:
    """Raw envelope + block pad + SG(nearest), returned UNstripped —
    the reference's length-restoring padding trick (peak_detection.py:
    103-111, 161-169; SURVEY.md §2.3 notes it only restores length for
    the default parameters)."""
    raw = _frame_extrema_envelope(y, kind, window)
    padding = max(window, smoothing_window) // 2
    padded = np.concatenate([raw[:padding], raw, raw[-padding:]])
    return savgol_filter_nearest(padded, smoothing_window, polyorder)


def detect_peaks_ref(
    smooth: np.ndarray,
    baseline: np.ndarray,
    ceiling: np.ndarray,
    rel_height: float = 0.3,
    prominence: float = 0.3,
    width: float = 1,
    threshold: float = 0.7,
    min_distance: int = 20,
    wlen: int = 250,
) -> np.ndarray:
    """Constrained find_peaks + envelope threshold filter
    (peak_detection.py:251-260). NaN envelope keeps the peak (NumPy
    ``NaN < x`` is False — quirk preserved)."""
    peaks = find_peaks(
        smooth,
        distance=min_distance,
        prominence=prominence,
        width=width,
        rel_height=rel_height,
        wlen=wlen,
    )
    if peaks.size == 0:
        return peaks
    line = (ceiling[peaks] - baseline[peaks]) * threshold + baseline[peaks]
    with np.errstate(invalid="ignore"):
        drop = smooth[peaks] < line
    return peaks[~drop]


def _crossing_attributes(
    peaks: np.ndarray,
    smooth: np.ndarray,
    diastolic: np.ndarray,
    fs: float,
    dia_len: int | None = None,
):
    """TTP/TTR/duration via the as-of crossing formulation
    (peak_analysis.py:79-119; derivation in operators/attributes.py).

    The reference walk stops at the first sample whose *side* differs from
    the side at the peak, where side = ``smooth >= dia`` (TTP) /
    ``smooth <= dia`` (TTR) and NumPy NaN comparisons are False — so a
    NaN row lands on the False side and terminates a True-side walk. The
    complements are therefore ``~ge`` / ``~le`` (which include NaN rows),
    NOT ``lt`` / ``gt``.

    ``dia_len`` replicates the reference's extra edge guard
    ``peak_idx >= len(diastolic) - 2`` (peak_analysis.py:71), which only
    differs from ``n - 2`` under non-default parameter combinations that
    break the padding length-restoration.
    """
    n = smooth.size
    if dia_len is None:
        dia_len = n
    idx = np.arange(n, dtype=np.float64)
    with np.errstate(invalid="ignore"):
        ge = smooth >= diastolic
        le = smooth <= diastolic

    def running_last(cond):
        x = np.where(cond, idx, np.nan)
        return pd.Series(x).ffill().shift(1).to_numpy()

    def running_first(cond):
        x = np.where(cond, idx, np.nan)
        return pd.Series(x).bfill().shift(-1).to_numpy()

    last_ge_true, last_ge_false = running_last(ge), running_last(~ge)
    first_le_true, first_le_false = running_first(le), running_first(~le)

    ttp = np.full(peaks.size, np.nan)
    ttr = np.full(peaks.size, np.nan)
    for k, p in enumerate(peaks):
        if p == 0 or p >= n - 2 or p >= dia_len - 2:
            continue
        j = last_ge_false[p] if ge[p] else last_ge_true[p]
        if np.isnan(j):
            j = 0.0
        ttp[k] = (p - j) / fs
        jr = first_le_false[p] if le[p] else first_le_true[p]
        if not np.isnan(jr) and jr != n - 1:
            ttr[k] = (jr - p) / fs
    duration = ttp + ttr
    return ttp, ttr, duration


def _fit_to(a: np.ndarray, n: int) -> np.ndarray:
    """Pad with NaN / trim so envelope vectors align with the n signal
    rows. For the reference defaults the padding arithmetic already gives
    length n (when the channel is long enough); this guard makes the
    engine behavior total — short channels and non-default parameter
    combinations yield NaN tails instead of IndexError/broadcast crashes
    (the reference itself would crash or misalign on such input)."""
    out = np.full(n, np.nan)
    k = min(n, a.size)
    out[:k] = a[:k]
    return out


def _signal_columns(y: np.ndarray, params: dict):
    """smooth → envelopes → diastolic of one channel, each aligned on its
    n rows, plus the length the reference's unfitted envelopes share
    (its ``len(diastolic)``)."""
    n = y.size
    smooth = smooth_signal_ref(y, params["smooth_window"], params["smooth_poly"])
    baseline_raw = envelope_ref(
        smooth, "valley", params["window_size"], params["aux_smoothing"], params["aux_poly"]
    )
    ceiling_raw = envelope_ref(
        smooth, "peak", params["window_size"], params["aux_smoothing"], params["aux_poly"]
    )
    dia_len = min(baseline_raw.size, ceiling_raw.size)
    baseline = _fit_to(baseline_raw, n)
    ceiling = _fit_to(ceiling_raw, n)
    diastolic = baseline + params["relative_to_baseline"] * (ceiling - baseline)
    return smooth, baseline, ceiling, diastolic, dia_len


def _analyze_channel(pdf: pd.DataFrame, params: dict) -> pd.DataFrame:
    pdf = pdf.sort_values("sample_idx")
    y = pdf["signal_value"].to_numpy(dtype=np.float64)
    t = pdf["time_index"].to_numpy(dtype=np.float64)
    smooth, baseline, ceiling, diastolic, dia_len = _signal_columns(y, params)
    peaks = detect_peaks_ref(
        smooth,
        baseline,
        ceiling,
        rel_height=params["rel_height"],
        prominence=params["prominence"],
        width=params["width"],
        threshold=params["threshold"],
        min_distance=params["min_distance"],
        wlen=params["wlen"],
    )
    ttp, ttr, duration = _crossing_attributes(
        peaks, smooth, diastolic, params["fs"], dia_len=dia_len
    )
    ch = int(pdf["channel_id"].iloc[0])
    return pd.DataFrame(
        {
            "channel_id": np.full(peaks.size, ch, dtype=np.int64),
            "peak_idx": peaks.astype(np.int64),
            "timestamp": t[peaks],
            "peak_value": smooth[peaks],
            "baseline_value": baseline[peaks],
            "force": smooth[peaks] - baseline[peaks],
            "time_to_peak": ttp,
            "time_to_relaxation": ttr,
            "duration": duration,
        }
    )


DEFAULT_PARAMS = dict(
    smooth_window=51,
    smooth_poly=7,
    window_size=350,
    aux_smoothing=301,
    aux_poly=3,
    relative_to_baseline=0.1,
    rel_height=0.3,
    prominence=0.3,
    width=1,
    threshold=0.7,
    min_distance=20,
    wlen=250,
    fs=DEFAULT_FS,
)  # the reference's constructor defaults, peak_detection.py:12-18


def fidelity_peaks(signal: DataFrame, **overrides) -> DataFrame:
    """Full reference-exact pipeline; returns the peaks+attributes table."""
    params = {**DEFAULT_PARAMS, **overrides}

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return _analyze_channel(pdf, params)

    return signal.groupBy("channel_id").applyInPandas(fn, PEAK_SCHEMA)


def fidelity_signal_columns(signal: DataFrame, **overrides) -> DataFrame:
    """Reference-exact derived columns (smooth/baseline/ceiling/diastolic)
    aligned on the signal rows — the fidelity analogue of the spark-native
    withColumn pipeline; useful for golden diffing the two routes."""
    params = {**DEFAULT_PARAMS, **overrides}

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("sample_idx")
        y = pdf["signal_value"].to_numpy(dtype=np.float64)
        smooth, baseline, ceiling, dia, _ = _signal_columns(y, params)
        return pd.DataFrame(
            {
                "channel_id": pdf["channel_id"].to_numpy(),
                "sample_idx": pdf["sample_idx"].to_numpy(),
                "time_index": pdf["time_index"].to_numpy(),
                "signal_value": y,
                "smooth": smooth,
                "baseline": baseline,
                "ceiling": ceiling,
                "diastolic": dia,
            }
        )

    return signal.groupBy("channel_id").applyInPandas(fn, SIGNAL_COLS_SCHEMA)
