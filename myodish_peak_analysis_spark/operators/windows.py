"""Canonical per-channel window specs, plateau-aware local-extrema flags,
and the per-channel grouped map the NumPy kernels run in.

The reference finds local extrema with ``scipy.signal.find_peaks`` inside
each rolling frame (``/root/reference/peak_detection.py:95,153``). SciPy
marks a flat-top plateau's *midpoint* as the single extremum; a naive
``lag``/``lead`` flag marks none (SURVEY.md §2.3 caveat). The run-length
construction below reproduces the midpoint rule in pure Spark SQL:

1. assign a run id to each maximal stretch of equal values,
2. a run is a peak-run iff the previous run's value is lower AND the next
   run's value is lower (nulls at channel borders disqualify — matching
   SciPy, which never marks the first/last sample),
3. flag the run's midpoint row ``(start + end) DIV 2``.

The flags are window functions over one (channel_id, sample_idx) sort —
no joins, no UDFs. :func:`map_channels` is the one place a whole channel
crosses into Python: the two Savitzky–Golay smooths
(:mod:`.smooth`, :mod:`.envelopes`) run there as NumPy folds.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DoubleType, StructField, StructType
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


def map_channels(
    df: DataFrame,
    kernel: Callable[[pa.Table], dict[str, pa.Array]],
    out_cols: tuple[str, ...],
) -> DataFrame:
    """Run ``kernel`` on each whole channel and add its double columns.

    The kernel gets one channel as an Arrow table sorted by ``sample_idx``
    and returns ``{name: array}`` for the ``out_cols``; every input column
    passes through unchanged, an existing column of the same name is
    replaced in place and new ones are appended (``withColumn``'s column
    order). Arrow, not pandas, carries the rows, so NULL and NaN stay
    distinct in both directions.

    Precondition: per-channel ``sample_idx`` is exactly 0..n-1 (in any row
    order), as ``signal_frame`` and the ABF sources produce it. A gapped,
    shifted or duplicated index raises ``ValueError`` (GAPPED_SIGNAL_INDEX)
    instead of computing taps across the gap.

    The Python node emits new attributes, so Spark no longer knows the
    output is clustered by channel: the output is RANGE-partitioned on
    ``channel_id`` again (never hash — the round-12 straggler fix), and
    the windows and grouped maps downstream reuse that exchange. Its
    partition count is left to AQE, so a kernel stage runs in as few
    tasks as the data allows: every Python task pays a fixed cost before
    any work (the worker re-reads the zip and jar files on its import
    path; ~0.2 s of CPU per task with Spark 4.1.2 on a 4-vCPU host).
    """
    fields = list(df.schema.fields)
    names = [f.name for f in fields]
    for c in out_cols:
        f = StructField(c, DoubleType())
        if c in names:
            fields[names.index(c)] = f
        else:
            fields.append(f)
            names.append(c)

    def fn(t: pa.Table) -> pa.Table:
        idx = t.column(IDX).to_numpy()
        dense = np.arange(idx.size)
        if not np.array_equal(idx, dense):
            order = np.argsort(idx, kind="stable")
            t, idx = t.take(order), idx[order]
            if not np.array_equal(idx, dense):
                raise ValueError(
                    "GAPPED_SIGNAL_INDEX: per-channel sample_idx must be "
                    f"exactly 0..n-1; channel_id={t.column(CHANNEL)[0].as_py()} has "
                    f"{idx.size} rows with sample_idx from {idx[0]} to "
                    f"{idx[-1]}. Re-index with row_number() after filtering."
                )
        for name, arr in kernel(t).items():
            i = t.schema.get_field_index(name)
            t = t.set_column(i, name, arr) if i >= 0 else t.append_column(name, arr)
        return t.select(names)

    out = df.groupBy(CHANNEL).applyInArrow(fn, StructType(fields))
    return out.repartitionByRange(CHANNEL)


def with_extrema_flags(
    df: DataFrame,
    value_col: str = "signal_value",
    peak_col: str = "is_peak",
    valley_col: str = "is_valley",
) -> DataFrame:
    """Add boolean plateau-midpoint local-max/min flags per channel.

    Matches SciPy ``find_peaks``'s maxima rule: strictly greater than the
    previous differing sample and the next differing sample; plateaus
    flag ``(left_edge + right_edge) DIV 2``; channel edges never flag.
    """
    w = channel_window()
    v = F.col(value_col)
    df = df.withColumn("_pl", F.lag(value_col).over(w)).withColumn(
        "_nl", F.lead(value_col).over(w)
    )
    run_change = F.when(F.col("_pl").isNull() | (v != F.col("_pl")), 1).otherwise(0)
    df = df.withColumn(
        "_run_id", F.sum(run_change).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    wrun = Window.partitionBy(CHANNEL, "_run_id")
    wrun_ord = wrun.orderBy(IDX)
    df = (
        df.withColumn("_prev_run_val", F.first("_pl").over(wrun_ord))
        .withColumn(
            "_next_run_val",
            F.last("_nl").over(
                wrun_ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
            ),
        )
        .withColumn("_run_start", F.min(IDX).over(wrun))
        .withColumn("_run_end", F.max(IDX).over(wrun))
    )
    is_mid = F.col(IDX) == F.expr("(_run_start + _run_end) DIV 2")
    df = df.withColumn(
        peak_col,
        F.coalesce(
            (F.col("_prev_run_val") < v) & (F.col("_next_run_val") < v) & is_mid,
            F.lit(False),
        ),
    ).withColumn(
        valley_col,
        F.coalesce(
            (F.col("_prev_run_val") > v) & (F.col("_next_run_val") > v) & is_mid,
            F.lit(False),
        ),
    )
    return df.drop("_pl", "_nl", "_run_id", "_prev_run_val", "_next_run_val", "_run_start", "_run_end")


def extrema_flags_sql(
    src: str,
    value_col: str = "signal_value",
    extra_cols: str = "",
) -> str:
    """DuckDB SQL mirroring :func:`with_extrema_flags` over CTE ``src``.

    Returns a chain of CTE definitions ending in a relation named
    ``flagged`` with is_peak / is_valley columns added.
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
