"""Rolling floor/ceiling envelopes + diastolic reference (SURVEY.md §2.3, T2).

Reference semantics (``/root/reference/peak_detection.py:56-169``): for each
position ``i`` up to ``m = n - window``, look at the forward frame
``y[i : i+window]``; the floor is the min over the frame's interior local
minima, the ceiling the max over its interior local maxima; frames with no
extremum yield NaN. The truncated length-``m`` series ``raw`` is then
block-padded with ``pad = max(window, smoothing_window)//2`` copies of its
head/tail — ``padded = concat(raw[:pad], raw, raw[-pad:])`` — and
SG-smoothed (301/3, mode='nearest') WITHOUT stripping, so for the defaults
(``2*pad == window``) the output has exactly length ``n`` again but is a
*shifted* view: ``out[j]`` smooths ``raw[j-pad]`` for interior ``j``.

A frame extremum of ``y[i:i+w]`` is exactly a global per-channel extremum
whose plateau lies strictly inside the frame (``i+1 <= j <= i+w-2``), so
``raw`` is a conditional rolling min/max over the plateau-midpoint flags
of :func:`.windows.extrema_flags`. Expanding ``padded[j]`` gives three
zones, each that rolling aggregate at a different offset:

    j < pad:            padded[j] = raw[j]       -> frame [j+1,     j+w-2]
    pad <= j < m+pad:   padded[j] = raw[j-pad]   -> frame [j+1-pad, j+w-2-pad]
    j >= m+pad:         padded[j] = raw[j-2pad]  -> frame [j+1-2pad, j+w-2-2pad]

:func:`smoothed_envelope` builds ``padded`` per channel in NumPy and runs
the 301-tap SG smooth as :func:`..functions.sigproc.shifted_add_fold` from
``0.0``, in a :func:`.windows.map_channels` step (:func:`envelope_step`)
that ``PeakPipeline.envelopes`` runs in one call with the FIR smooth and
the flags. The aggregates follow Spark SQL's rules, which the DuckDB
oracle (:func:`smoothed_envelopes_sql_cte`) mirrors: ``max`` treats NaN
as the largest value, ``min`` ignores NaN unless the frame holds nothing
else, and a frame with no extremum is NULL. NULL and NaN both poison the
smooth, and a poisoned output is NULL, never NaN.

A kernel rather than Spark SQL: as window expressions the smooth is a
±150-row ``collect_list`` window per envelope folded by a
``zip_with``/``aggregate`` higher-order function, and the window buffer
alone was most of the pipeline's envelope stage.

Channels shorter than ``window + pad`` rows yield NULL envelopes (the
reference itself misbehaves below that length: its padding arithmetic
needs ``m >= pad``). The native route requires ``2*pad == window`` (true
for the reference defaults 350/301); other combinations break the
reference's own length-restoration trick — use the fidelity route for
those.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DoubleType, StructField

from ..functions.sigproc import savgol_coeffs, shifted_add_fold
from .windows import Step, channel_window, column_values, extrema_step, map_channels
from .windows import require_dense, with_extrema_flags

DEFAULT_WINDOW = 350  # aux_window_size, /root/reference/peak_detection.py:15
DEFAULT_SMOOTH = 301  # aux_smoothing_window
DEFAULT_POLY = 3  # aux_polyorder
DEFAULT_REL = 0.1  # relative_to_baseline, /root/reference/peak_detection.py:16

#: output column -> (flag column, extremum kind) of each envelope
ENVELOPES = {"baseline": ("is_valley", "valley"), "ceiling": ("is_peak", "peak")}


def with_raw_envelopes(
    df: DataFrame,
    value_col: str = "smooth",
    window_size: int = DEFAULT_WINDOW,
    floor_col: str = "floor_raw",
    ceil_col: str = "ceil_raw",
    flags_present: bool = False,
) -> DataFrame:
    """Conditional rolling min/max over the forward frame interior —
    the reference's pre-padding ``raw`` envelope evaluated at every row
    (only rows with ``sample_idx <= n - window - 1`` carry reference
    semantics; later rows see a truncated frame)."""
    if not flags_present:
        df = with_extrema_flags(df, value_col=value_col)
    w = channel_window().rowsBetween(1, window_size - 2)
    v = F.col(value_col)
    return df.withColumn(
        floor_col, F.min(F.when(F.col("is_valley"), v)).over(w)
    ).withColumn(ceil_col, F.max(F.when(F.col("is_peak"), v)).over(w))


def raw_envelope(
    x: np.ndarray,
    is_null: np.ndarray,
    flag: np.ndarray,
    kind: str,
    window_size: int,
    m: int,
) -> np.ndarray:
    """:func:`with_raw_envelopes`' floor (``kind="valley"``) or ceiling
    (``kind="peak"``) at rows ``0..m-1`` of a channel, from its is_valley
    or is_peak ``flag``, with NaN where Spark gives NULL or NaN. Row
    ``i`` aggregates the flagged rows ``[i+1, i+window_size-2]``, so
    ``m`` must leave that frame inside the channel."""
    hi = window_size - 2
    nan = flag & ~is_null & np.isnan(x)
    v = np.where(flag & ~is_null & ~nan, x, np.nan)[1:]
    roll = pd.Series(v).rolling(hi, min_periods=1)
    # raw[i] is the trailing window ending at v[i+hi-1]
    raw = (roll.max() if kind == "peak" else roll.min()).to_numpy()[hi - 1 : hi - 1 + m]
    if kind == "peak":
        n_nan = np.concatenate([[0], np.cumsum(nan[1:])])
        raw[n_nan[hi : hi + m] > n_nan[:m]] = np.nan
    return raw


def smoothed_envelope(
    x: np.ndarray,
    is_null: np.ndarray,
    flag: np.ndarray,
    kind: str,
    window_size: int,
    coeffs: np.ndarray,
) -> np.ndarray:
    """One padded + SG-smoothed envelope of a channel of ``n >= window +
    pad`` rows, with NaN where the output is NULL. ``x``/``is_null`` are
    the smoothed signal, ``flag`` its is_peak (``kind="peak"``) or
    is_valley flags."""
    n, half = x.size, coeffs.size // 2
    pad, m = window_size // 2, x.size - window_size
    raw = raw_envelope(x, is_null, flag, kind, window_size, m)
    padded = np.concatenate([raw[:pad], raw, raw[m - pad :]])
    ypad = np.concatenate(
        [np.full(half, padded[0]), padded, np.full(half, padded[n - 1])]
    )
    return shifted_add_fold(ypad, coeffs, start=0.0)


def envelope_step(
    value_col: str, window_size: int, smoothing_window_length: int, polyorder: int
) -> Step:
    """baseline/ceiling from ``value_col`` and its is_valley/is_peak flags."""
    pad = max(window_size, smoothing_window_length) // 2
    if 2 * pad != window_size:
        raise ValueError(
            "native envelope route requires 2*max(window,smooth)//2 == window "
            f"(got window={window_size}, smooth={smoothing_window_length}); "
            "use operators.fidelity for non-default parameters"
        )
    coeffs = savgol_coeffs(smoothing_window_length, polyorder)

    def kernel(t: pa.Table) -> dict[str, pa.Array]:
        require_dense(t)
        if t.num_rows < window_size + pad:
            return {c: pa.nulls(t.num_rows, pa.float64()) for c in ENVELOPES}
        x, null = column_values(t, value_col)
        out = {}
        for name, (flag_col, kind) in ENVELOPES.items():
            flag = t.column(flag_col).fill_null(False).to_numpy()
            env = smoothed_envelope(x, null, flag, kind, window_size, coeffs)
            out[name] = pa.array(env, mask=np.isnan(env))
        return out

    return Step(kernel, tuple(StructField(c, DoubleType()) for c in ENVELOPES))


def with_smoothed_envelopes(
    df: DataFrame,
    value_col: str = "smooth",
    window_size: int = DEFAULT_WINDOW,
    smoothing_window_length: int = DEFAULT_SMOOTH,
    polyorder: int = DEFAULT_POLY,
    flags_present: bool = False,
) -> DataFrame:
    """baseline/ceiling = the reference's padded + SG-smoothed envelopes
    (defaults 350/301/3, the reference's ``peak_detection.py:15``),
    reproduced exactly — including the ~``pad``-sample shift its padding
    introduces for interior rows (see module docstring). The flags are
    computed in the same call unless ``flags_present``."""
    flags = () if flags_present else (extrema_step(value_col),)
    step = envelope_step(value_col, window_size, smoothing_window_length, polyorder)
    return map_channels(df, *flags, step)


def with_diastolic(
    df: DataFrame,
    baseline_col: str = "baseline",
    ceiling_col: str = "ceiling",
    out_col: str = "diastolic",
    relative_to_baseline: float = DEFAULT_REL,
) -> DataFrame:
    """diastolic = baseline + r*(ceiling-baseline)
    (``/root/reference/peak_detection.py:216``)."""
    return df.withColumn(
        out_col,
        F.col(baseline_col)
        + F.lit(float(relative_to_baseline)) * (F.col(ceiling_col) - F.col(baseline_col)),
    )


# --- DuckDB oracle builders ------------------------------------------------

def raw_envelopes_sql_cte(
    src_flagged: str,
    value_col: str = "smooth",
    window_size: int = DEFAULT_WINDOW,
) -> str:
    """CTE ending in ``enveloped`` = flagged src + floor_raw/ceil_raw."""
    hi = window_size - 2
    return f"""
    enveloped AS (
        SELECT *,
               MIN(CASE WHEN is_valley THEN {value_col} END)
                   OVER (PARTITION BY channel_id ORDER BY sample_idx
                         ROWS BETWEEN 1 FOLLOWING AND {hi} FOLLOWING) AS floor_raw,
               MAX(CASE WHEN is_peak THEN {value_col} END)
                   OVER (PARTITION BY channel_id ORDER BY sample_idx
                         ROWS BETWEEN 1 FOLLOWING AND {hi} FOLLOWING) AS ceil_raw
        FROM {src_flagged}
    )
    """


def _frame_sql(lo: int, hi: int) -> str:
    def b(k: int) -> str:
        if k < 0:
            return f"{-k} PRECEDING"
        if k == 0:
            return "CURRENT ROW"
        return f"{k} FOLLOWING"

    return (
        f"OVER (PARTITION BY channel_id ORDER BY sample_idx "
        f"ROWS BETWEEN {b(lo)} AND {b(hi)})"
    )


def _coeffs_sql_lit(smoothing_window_length: int, polyorder: int) -> str:
    coeffs = savgol_coeffs(smoothing_window_length, polyorder)
    return "[" + ", ".join(repr(float(c)) for c in coeffs) + "]::DOUBLE[]"


def smoothed_envelopes_sql_cte(
    src_flagged: str,
    value_col: str = "smooth",
    window_size: int = DEFAULT_WINDOW,
    smoothing_window_length: int = DEFAULT_SMOOTH,
    polyorder: int = DEFAULT_POLY,
) -> str:
    """CTE chain ending in ``envsmooth`` with baseline/ceiling columns,
    computing what :func:`with_smoothed_envelopes` computes, in SQL:
    the three zones as framed MIN/MAX windows, NaN-sentinel values
    collected by a windowed ``list()`` (frame order, NULLs preserved as
    NaN), nearest-clamp edge repair via ``list_transform(range(missing),
    …)`` repeats, and one ``list_dot_product`` against the coefficient
    literal — 2 window expressions total instead of 602 lag/lead terms
    (which were both a binder-recursion hazard and a memory hog in
    DuckDB)."""
    pad = max(window_size, smoothing_window_length) // 2
    hi = window_size - 2
    min_n = window_size + pad
    half = smoothing_window_length // 2
    coeffs = _coeffs_sql_lit(smoothing_window_length, polyorder)

    def zones(agg: str, flag: str) -> tuple[str, str, str]:
        e = f"{agg}(CASE WHEN {flag} THEN {value_col} END)"
        return (
            f"{e} {_frame_sql(1, hi)}",
            f"{e} {_frame_sql(1 - pad, hi - pad)}",
            f"{e} {_frame_sql(1 - 2 * pad, hi - 2 * pad)}",
        )

    fa, fb, fc = zones("MIN", "is_valley")
    ca, cb, cc = zones("MAX", "is_peak")

    def full_arr(prefix: str) -> str:
        return (
            f"list_concat(list_concat("
            f"list_transform(range(greatest(0, {half} - sample_idx)), i -> {prefix}first), "
            f"{prefix}arr), "
            f"list_transform(range(greatest(0, sample_idx + {half} - _max_idx)), i -> {prefix}last))"
        )

    def out_expr(prefix: str) -> str:
        dot = f"list_dot_product({full_arr(prefix)}, {coeffs})"
        return f"CASE WHEN isnan({dot}) THEN NULL ELSE {dot} END"

    return f"""
    envzones AS (
        SELECT *,
               COUNT(*) OVER (PARTITION BY channel_id) AS _n,
               MAX(sample_idx) OVER (PARTITION BY channel_id) AS _max_idx,
               {fa} AS _fza, {fb} AS _fzb, {fc} AS _fzc,
               {ca} AS _cza, {cb} AS _czb, {cc} AS _czc
        FROM {src_flagged}
    ),
    envpad AS (
        SELECT * EXCLUDE (_fza, _fzb, _fzc, _cza, _czb, _czc),
               COALESCE(CASE WHEN _n < {min_n} THEN NULL
                    WHEN sample_idx < {pad} THEN _fza
                    WHEN sample_idx < _n - {window_size} + {pad} THEN _fzb
                    ELSE _fzc END, 'NaN'::DOUBLE) AS _fpad,
               COALESCE(CASE WHEN _n < {min_n} THEN NULL
                    WHEN sample_idx < {pad} THEN _cza
                    WHEN sample_idx < _n - {window_size} + {pad} THEN _czb
                    ELSE _czc END, 'NaN'::DOUBLE) AS _cpad
        FROM envzones
    ),
    envarr AS (
        SELECT *,
               list(_fpad) OVER wfr AS _farr,
               list(_cpad) OVER wfr AS _carr,
               first_value(_fpad) OVER wh AS _ffirst,
               last_value(_fpad) OVER wt AS _flast,
               first_value(_cpad) OVER wh AS _cfirst,
               last_value(_cpad) OVER wt AS _clast
        FROM envpad
        WINDOW wfr AS (PARTITION BY channel_id ORDER BY sample_idx
                       ROWS BETWEEN {half} PRECEDING AND {half} FOLLOWING),
               wh AS (PARTITION BY channel_id ORDER BY sample_idx),
               wt AS (PARTITION BY channel_id ORDER BY sample_idx
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    ),
    envsmooth AS (
        SELECT * EXCLUDE (_n, _max_idx, _fpad, _cpad, _farr, _carr,
                          _ffirst, _flast, _cfirst, _clast),
               {out_expr('_f')} AS baseline,
               {out_expr('_c')} AS ceiling
        FROM envarr
    )
    """
