"""Constrained peak detection as one per-channel NumPy step.

The reference's P1 step is ``find_peaks(smooth, distance=20,
prominence=0.3, width=1, rel_height=0.3, wlen=250)`` (its
``peak_detection.py:251``). :func:`constrained_peaks_step` computes it
on each whole channel inside a :func:`.windows.map_channels` call, from
two existing rules:

* the candidates are the ``is_peak`` rows of :func:`.windows.extrema_flags`,
  the engine's one plateau-midpoint rule (Spark SQL comparison order; a
  NULL row or the channel edge next to a run disqualifies it);
* :func:`..functions.sigproc.constrain_peaks` then applies SciPy's
  conditions in SciPy's order, distance → prominence → width, the kernel
  the reference-exact route (:mod:`.fidelity`) runs too.

A NULL row enters the kernel as NaN, which compares false, so a
prominence base walk stops at it as at a higher sample. NaN values are
outside the contract (SciPy's and Spark's comparisons disagree on them).
The conditions read rows by position, so the step requires each channel's
``sample_idx`` to be exactly 0..n-1 and raises ``GAPPED_SIGNAL_INDEX``
otherwise; re-index a filtered frame with ``row_number`` first.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import BooleanType, DoubleType, StructField

from ..functions.sigproc import constrain_peaks
from .windows import CHANNEL, IDX, Step, column_values, extrema_flags
from .windows import map_channels, require_dense

__all__ = ["KEPT", "constrained_peaks_step", "native_find_peaks"]

#: the step's per-row flag: the row is a peak that passed every condition
KEPT = "is_constrained_peak"


def constrained_peaks_step(
    value_col: str,
    distance: int | None,
    prominence: float | None,
    width: float | None,
    rel_height: float,
    wlen: int | None,
) -> Step:
    """:data:`KEPT` plus the ``prominence`` and ``width`` of each kept
    peak of ``value_col``; both are NULL off the kept peaks, prominence
    also when neither prominence nor width was requested, width when it
    was not requested."""
    if distance is not None and distance < 1:
        raise ValueError("`distance` must be greater or equal to 1")
    if wlen is not None and wlen <= 1:
        raise ValueError(f"`wlen` must be larger than 1, got {wlen}")

    def kernel(t: pa.Table) -> dict[str, pa.Array]:
        require_dense(t)
        y, is_null = column_values(t, value_col)
        cand = np.flatnonzero(extrema_flags(y, is_null, np.arange(y.size))[0])
        peaks, proms, widths = constrain_peaks(
            y, cand, distance, prominence, width, rel_height, wlen
        )
        kept = np.zeros(y.size, dtype=bool)
        kept[peaks] = True

        def at_peaks(v: np.ndarray | None) -> pa.Array:
            if v is None:
                return pa.nulls(y.size, pa.float64())
            out = np.zeros(y.size)
            out[peaks] = v
            return pa.array(out, mask=~kept)

        return {
            KEPT: pa.array(kept),
            "prominence": at_peaks(proms),
            "width": at_peaks(widths),
        }

    return Step(
        kernel,
        (
            StructField(KEPT, BooleanType(), False),
            StructField("prominence", DoubleType()),
            StructField("width", DoubleType()),
        ),
    )


def native_find_peaks(
    signal: DataFrame,
    value_col: str = "smooth",
    idx_col: str = "sample_idx",
    distance: int | None = 20,
    prominence: float | None = 0.3,
    width: float | None = 1.0,
    rel_height: float = 0.3,
    wlen: int | None = 250,
) -> DataFrame:
    """SciPy-ordered constrained peak detection per channel
    (:func:`constrained_peaks_step`). Returns ``(channel_id, peak_idx,
    peak_value, prominence, width)`` for the peaks passing every
    requested condition."""
    step = constrained_peaks_step(
        "peak_value", distance, prominence, width, rel_height, wlen
    )
    sig = signal.select(
        CHANNEL,
        F.col(idx_col).alias(IDX),
        F.col(value_col).cast("double").alias("peak_value"),
    )
    return (
        map_channels(sig, step)
        .filter(F.col(KEPT))
        .select(
            CHANNEL,
            F.col(IDX).alias("peak_idx"),
            "peak_value",
            "prominence",
            "width",
        )
    )
