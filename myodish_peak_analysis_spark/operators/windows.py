"""Canonical per-channel window spec, the per-channel grouped map the
NumPy steps run in, and the plateau-midpoint extrema flag step.

SciPy's ``find_peaks`` (the reference's extremum finder, its
``peak_detection.py:95,153``) marks a flat-top plateau's
*midpoint* as the single extremum; a naive ``lag``/``lead`` flag marks
none (SURVEY.md §2.3 caveat). :func:`extrema_flags` is that rule in NumPy
with Spark SQL's comparison semantics; the DuckDB oracle
:func:`extrema_flags_sql` states it as window functions.

:func:`map_channels` is the one place a whole channel crosses into
Python. It runs a chain of :class:`Step` s per channel, so the FIR smooth
(:mod:`.smooth`), the flags and the envelope smooth (:mod:`.envelopes`)
cross once when they run together (``PeakPipeline.smooth().envelopes()``).
"""

from __future__ import annotations

from typing import Callable, NamedTuple

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.types import BooleanType, StructField, StructType
from pyspark.sql.window import Window

CHANNEL = "channel_id"
IDX = "sample_idx"


def channel_window() -> Window:
    return Window.partitionBy(CHANNEL).orderBy(IDX)


def column_values(t: pa.Table, name: str) -> tuple[np.ndarray, np.ndarray]:
    """A double column as (values, is_null). NULL and NaN stay distinct:
    NULL rows are flagged in ``is_null`` (their value slot is NaN), a NaN
    value is a NaN with ``is_null`` False."""
    col = t.column(name)
    return (
        col.to_numpy().astype(np.float64, copy=False),
        col.is_null().to_numpy(),
    )


def require_dense(t: pa.Table) -> None:
    """Raise GAPPED_SIGNAL_INDEX unless the sorted channel's ``sample_idx``
    is exactly 0..n-1, naming the first index off it: a step that reads
    rows by position calls this."""
    idx = t.column(IDX).to_numpy()
    bad = np.flatnonzero(idx != np.arange(idx.size))
    if bad.size:
        k = bad[0]
        jump = f"jumps {idx[k - 1]} -> {idx[k]}" if k else f"starts at {idx[0]}"
        raise ValueError(
            "GAPPED_SIGNAL_INDEX: per-channel sample_idx must be exactly "
            f"0..n-1; channel_id={t.column(CHANNEL)[0].as_py()} {jump}. "
            "Re-index with row_number() after filtering."
        )


class Step(NamedTuple):
    # kernel: a channel sorted by sample_idx, with the earlier steps'
    # columns -> this step's fields as {name: array}
    kernel: Callable[[pa.Table], dict[str, pa.Array]]
    fields: tuple[StructField, ...]


def map_channels(df: DataFrame, *steps: Step) -> DataFrame:
    """Run ``steps`` in order on each whole channel and add their columns
    (``withColumn``'s order: a step column replaces an input column of the
    same name in place, new ones are appended). Arrow, not pandas, carries
    the rows, so NULL and NaN stay distinct in both directions.

    A Python node emits new attributes, so Spark forgets the channel
    clustering: the output is range-partitioned on ``channel_id`` again
    (never hash: hash partitioning straggles), with the partition count
    left to AQE. The range sampler runs the steps once more in a job of
    its own, so a chain of steps belongs in one call.
    """
    fields = {f.name: f for f in df.schema.fields}
    fields.update((f.name, f) for step in steps for f in step.fields)
    names = list(fields)

    def fn(t: pa.Table) -> pa.Table:
        idx = t.column(IDX).to_numpy()
        if np.any(idx[1:] < idx[:-1]):
            t = t.take(np.argsort(idx, kind="stable"))
        for step in steps:
            for name, arr in step.kernel(t).items():
                i = t.schema.get_field_index(name)
                t = t.set_column(i, name, arr) if i >= 0 else t.append_column(name, arr)
        return t.select(names)

    out = df.groupBy(CHANNEL).applyInArrow(fn, StructType(list(fields.values())))
    return out.repartitionByRange(CHANNEL)


def _lt(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """``a < b`` in Spark SQL order: NaN is above every number."""
    return (a < b) | (np.isnan(b) & ~np.isnan(a))


def run_starts(x: np.ndarray, is_null: np.ndarray) -> np.ndarray:
    """Whether each row of a non-empty sorted channel starts a run of
    :func:`extrema_flags`: the first row does, and a row does when the
    row before it is NULL, or when both are non-NULL and differ (NaN
    equals NaN, ``0.0 == -0.0``). A row's flag reads only that row and
    the one before it."""
    nan = np.isnan(x) & ~is_null
    same = (x[1:] == x[:-1]) | (nan[1:] & nan[:-1])
    return np.concatenate([[True], is_null[:-1] | ~(is_null[1:] | same)])


def extrema_flags(
    x: np.ndarray, is_null: np.ndarray, idx: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """(is_peak, is_valley) of one channel sorted by ``idx``.

    This is the engine's one plateau and NULL rule, batch and streaming
    (``streaming.peaks`` runs it on a carried tail). The channel splits
    into runs (:func:`run_starts`): a row starts one when the row before
    it is NULL or absent, or when both are non-NULL and differ (NaN
    equals NaN, ``0.0 == -0.0``); a NULL row joins the non-NULL run
    before it. A run is a peak (valley) iff the values just before and
    just after it are both lower (higher); NaN is above every number,
    and a NULL or the channel edge next to the run disqualifies it. The
    flag goes on the row whose ``idx`` is ``(idx[first] + idx[last])
    DIV 2`` — none if that falls in a gap or on a NULL row.
    """
    starts = run_starts(x, is_null)
    run = np.cumsum(starts) - 1
    first = np.flatnonzero(starts)
    last = np.append(first[1:], x.size) - 1
    before, after = (first - 1).clip(0), (last + 1).clip(max=x.size - 1)
    fenced = (first > 0) & ~is_null[before] & (last < x.size - 1) & ~is_null[after]
    mid = np.trunc((idx[first] + idx[last]) / 2)
    ok = fenced[run] & ~is_null & (idx == mid[run])
    prev, nxt = x[before][run], x[after][run]
    return ok & _lt(prev, x) & _lt(nxt, x), ok & _lt(x, prev) & _lt(x, nxt)


def extrema_step(value_col: str) -> Step:
    """is_peak/is_valley of ``value_col`` (:func:`extrema_flags`). It reads
    no taps, so any ``sample_idx`` is allowed."""

    def kernel(t: pa.Table) -> dict[str, pa.Array]:
        idx = t.column(IDX).to_numpy()
        peak, valley = extrema_flags(*column_values(t, value_col), idx)
        return {"is_peak": pa.array(peak), "is_valley": pa.array(valley)}

    flags = ("is_peak", "is_valley")
    return Step(kernel, tuple(StructField(c, BooleanType(), False) for c in flags))


def with_extrema_flags(df: DataFrame, value_col: str = "signal_value") -> DataFrame:
    """Add the boolean plateau-midpoint local-max/min flags
    (:func:`extrema_flags`) per channel."""
    return map_channels(df, extrema_step(value_col))


def extrema_flags_sql(src: str, value_col: str = "signal_value") -> str:
    """DuckDB SQL mirroring :func:`extrema_flags` over CTE ``src``.

    The same NULL rule: a NULL row's ``<> _pl`` is NULL, so it joins the
    run before it; a NULL just before or after a run makes its neighbour
    value NULL, and the COALESCE turns the comparison into FALSE, as the
    channel edge does. Returns a chain of CTE definitions ending in a
    relation named ``flagged`` with is_peak / is_valley columns added.
    """
    return f"""
    lagged AS (
        SELECT *,
               lag({value_col}) OVER w AS _pl,
               lead({value_col}) OVER w AS _nl
        FROM {src}
        WINDOW w AS (PARTITION BY channel_id ORDER BY sample_idx)
    ),
    runs AS (
        SELECT *,
               SUM(CASE WHEN _pl IS NULL OR {value_col} <> _pl THEN 1 ELSE 0 END)
                   OVER (PARTITION BY channel_id ORDER BY sample_idx
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _run_id
        FROM lagged
    ),
    runinfo AS (
        SELECT *,
               first_value(_pl) OVER wr AS _prev_run_val,
               last_value(_nl) OVER (PARTITION BY channel_id, _run_id ORDER BY sample_idx
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS _next_run_val,
               MIN(sample_idx) OVER (PARTITION BY channel_id, _run_id) AS _run_start,
               MAX(sample_idx) OVER (PARTITION BY channel_id, _run_id) AS _run_end
        FROM runs
        WINDOW wr AS (PARTITION BY channel_id, _run_id ORDER BY sample_idx)
    ),
    flagged AS (
        SELECT * EXCLUDE (_pl, _nl, _run_id, _prev_run_val, _next_run_val, _run_start, _run_end),
               COALESCE(_prev_run_val < {value_col} AND _next_run_val < {value_col}
                        AND sample_idx = (_run_start + _run_end) // 2, FALSE) AS is_peak,
               COALESCE(_prev_run_val > {value_col} AND _next_run_val > {value_col}
                        AND sample_idx = (_run_start + _run_end) // 2, FALSE) AS is_valley
        FROM runinfo
    )
    """
