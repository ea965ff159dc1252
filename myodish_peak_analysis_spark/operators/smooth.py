"""Savitzky–Golay smoothing as a per-channel NumPy fold.

The reference smooths with ``scipy.signal.savgol_filter(..., mode='nearest')``
after duplicating the first/last ``window//2`` samples as padding
(``/root/reference/peak_detection.py:185-197``). Writing the padded array as
``ypad = concat(y[:h], y, y[-h:])`` (h = window//2) and expanding the
stripped convolution gives, for output row ``j`` and tap offset
``d in [-h, h]``:

    value read = y[j+d]        if 0 <= j+d < n       (interior)
                 y[j+d+h]      if j+d < 0            (head: block pad)
                 y[j+d-h]      if j+d >= n           (tail: block pad)

(the 'nearest' extension of ``ypad`` is never consulted for the stripped
outputs), so the EXACT reference smooth — edges included — is the FIR
correlation of ``ypad`` with the SG weights. It runs once per channel as
a :func:`.windows.map_channels` step (:func:`fir_smooth_step`) folded by
:func:`..functions.sigproc.shifted_add_fold`, which sums every row's 51
terms in tap order, the order the DuckDB oracle (:func:`fir_smooth_sql_expr`)
uses too. A NULL input poisons every output
within ``window//2`` taps to NULL; a NaN input makes them NaN, as in the
reference's NumPy convolution. A channel shorter than ``window//2`` rows
smooths to all NULL (its head pad reads past the channel end; the
reference would misbehave there too).

A kernel rather than Spark SQL: as window expressions the 51 taps and
their edge branches are ~100 ``lag``/``lead`` functions per row, the
most expensive step of the pipeline.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, StructField

from ..functions.sigproc import savgol_coeffs, shifted_add_fold
from .windows import Step, column_values, map_channels, require_dense


def fir_smooth(
    x: np.ndarray, is_null: np.ndarray, coeffs: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Block-padded SG smooth of one channel as (values, is_null).

    Pad slot ``j`` of ``ypad`` reads row ``j`` (head), ``j - h``
    (interior) or ``j - 2h`` (tail); a slot whose row falls outside the
    channel is NULL, and so is every output whose taps touch a NULL slot.
    """
    n, half = x.size, coeffs.size // 2
    j = np.arange(n + 2 * half)
    src = np.where(j < half, j, np.where(j < n + half, j - half, j - 2 * half))
    inside = (src >= 0) & (src < n)
    src = src.clip(0, n - 1)
    xpad = np.where(inside, x[src], 0.0)
    null_pad = np.concatenate([[0], np.cumsum(~inside | is_null[src])])
    out = shifted_add_fold(xpad, coeffs)
    return out, null_pad[coeffs.size :] > null_pad[:n]


def fir_smooth_step(
    value_col: str, out_col: str, window_length: int, polyorder: int
) -> Step:
    """:func:`fir_smooth` of ``value_col`` into ``out_col``."""
    coeffs = savgol_coeffs(window_length, polyorder)

    def kernel(t: pa.Table) -> dict[str, pa.Array]:
        require_dense(t)
        out, null = fir_smooth(*column_values(t, value_col), coeffs)
        return {out_col: pa.array(out, mask=null)}

    return Step(kernel, (StructField(out_col, DoubleType()),))


def with_fir_smooth(
    df: DataFrame,
    value_col: str = "signal_value",
    out_col: str = "smooth",
    window_length: int = 51,
    polyorder: int = 7,
) -> DataFrame:
    """Add a smoothed column (reference defaults 51/7,
    ``/root/reference/peak_detection.py:14``)."""
    step = fir_smooth_step(value_col, out_col, window_length, polyorder)
    return map_channels(df, step)


def _tap_sql(value_col: str, offset: int) -> str:
    if offset == 0:
        return value_col
    if offset > 0:
        return f"lead({value_col}, {offset}) OVER w"
    return f"lag({value_col}, {-offset}) OVER w"


def fir_smooth_sql_expr(
    value_col: str,
    window_length: int,
    polyorder: int,
    max_idx_expr: str = "_max_idx",
) -> str:
    """DuckDB SQL expression of :func:`with_fir_smooth` as 51 ``lag``/``lead``
    taps (same coefficient literals, same left-to-right addition order, so
    both engines produce matching doubles up to FP contraction)."""
    coeffs = savgol_coeffs(window_length, polyorder)
    half = window_length // 2
    terms = []
    for k, ck in enumerate(coeffs):
        d = k - half
        lit = repr(float(ck))
        if d < 0:
            tap = (
                f"CASE WHEN sample_idx - {-d} < 0 THEN {_tap_sql(value_col, d + half)} "
                f"ELSE lag({value_col}, {-d}) OVER w END"
            )
        elif d > 0:
            tap = (
                f"CASE WHEN sample_idx + {d} > {max_idx_expr} THEN {_tap_sql(value_col, d - half)} "
                f"ELSE lead({value_col}, {d}) OVER w END"
            )
        else:
            tap = value_col
        terms.append(f"({lit}) * ({tap})")
    return " + ".join(terms)


def fir_smooth_sql_cte(
    src: str,
    value_col: str = "signal_value",
    out_col: str = "smooth",
    window_length: int = 51,
    polyorder: int = 7,
) -> str:
    """CTE chain ending in relation ``smoothed`` = ``src`` + smooth column."""
    expr = fir_smooth_sql_expr(value_col, window_length, polyorder)
    return f"""
    bounds AS (
        SELECT *,
               MAX(sample_idx) OVER (PARTITION BY channel_id) AS _max_idx
        FROM {src}
    ),
    smoothed AS (
        SELECT * EXCLUDE (_max_idx), {expr} AS {out_col}
        FROM bounds
        WINDOW w AS (PARTITION BY channel_id ORDER BY sample_idx)
    )
    """
