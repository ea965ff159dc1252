"""Structured Streaming variants of the peak operators.

The reference library is batch-only (SURVEY.md §2.9: no streaming
constructs anywhere); these are the forward-looking extensions the build
brief asks for, built on the two canonical streaming patterns:

* :func:`streaming_naive_peaks` — a *custom stateful operator* via
  ``applyInPandasWithState``: per-channel state carries the trailing two
  samples across micro-batches, so a local maximum sitting exactly on a
  batch boundary is still detected. This is the streaming analogue of
  the batch ``naive_peaks`` (strict maxima; the plateau-midpoint rule
  needs unbounded lookahead and is documented as a batch-only feature).
* :func:`streaming_windowed_stats` — watermark + tumbling event-time
  window aggregation, the built-in route for late-data-tolerant rollups.

Scale notes: state is O(1) per channel (three scalars), keyed by the
same channel hash partitioning as the batch pipeline; the window agg is
map-side combined before the state store. Both run identically on a
1000-executor cluster — the state store shards by key.

Ordering contract: samples must arrive in ``sample_idx`` order *within
a micro-batch per channel* (guaranteed by sorting inside the UDF) and
batches must not interleave old samples (use a source with ordered
offsets, e.g. Kafka per-partition order or file source by mtime).
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

PEAK_OUT_SCHEMA = "channel_id long, peak_idx long, peak_value double"
_STATE_SCHEMA = "prev double, curr double, curr_idx long"


def _peaks_fn(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (channel_id,) = key
    if state.exists:
        prev, curr, curr_idx = state.get
        if prev is not None and math.isnan(prev):
            prev = None
        if curr is not None and math.isnan(curr):
            curr = None
    else:
        prev = curr = curr_idx = None

    rows = []
    for pdf in pdfs:
        pdf = pdf.sort_values("sample_idx")
        for idx, v in zip(pdf["sample_idx"], pdf["signal_value"]):
            v = float(v)
            if (
                prev is not None
                and curr is not None
                and prev < curr
                and v < curr
            ):
                rows.append((int(channel_id), int(curr_idx), curr))
            prev, curr, curr_idx = curr, v, int(idx)

    state.update(
        (
            float("nan") if prev is None else prev,
            float("nan") if curr is None else curr,
            -1 if curr_idx is None else int(curr_idx),
        )
    )
    yield pd.DataFrame(rows, columns=["channel_id", "peak_idx", "peak_value"])


def streaming_naive_peaks(signal_stream: DataFrame) -> DataFrame:
    """Strict local maxima over a streaming signal frame
    (channel_id, sample_idx, signal_value, ...), emitted as soon as the
    following sample confirms them — including across micro-batch
    boundaries via per-channel state."""
    return signal_stream.groupBy("channel_id").applyInPandasWithState(
        _peaks_fn,
        PEAK_OUT_SCHEMA,
        _STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def streaming_exact_dedup(
    docs_stream: DataFrame,
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact dedup: drop documents whose md5(text) was already
    seen within the watermark horizon. Uses the built-in
    ``dropDuplicatesWithinWatermark`` state store, so state is bounded
    by the horizon (an unbounded ``dropDuplicates`` would grow state
    forever — never ship that). The ingest-time dedup stage of a
    streaming training-data pipeline."""
    return (
        docs_stream.withColumn("text_hash", F.md5("text"))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["text_hash"])
    )


_ENV_OUT_SCHEMA = "channel_id long, sample_idx long, floor_raw double, ceil_raw double"
#: run-length + extrema-deque state for the streaming envelope:
#: next_emit     — next sample index whose frame may be emitted
#:                 (-1 = no sample seen yet)
#: run_start     — first index of the currently OPEN equal-value run
#:                 (-1 = no run yet; run_value is meaningless then)
#: run_value     — the open run's value (may be a genuine NaN)
#: has_prev / prev_run_value — value of the run before the open one
#: ex_idx/ex_val/ex_valley — decided extrema still inside any future frame
_ENV_STATE_SCHEMA = (
    "next_emit long, run_start long, run_value double, "
    "has_prev boolean, prev_run_value double, "
    "ex_idx array<long>, ex_val array<double>, ex_valley array<boolean>"
)


def _same(a: float, b: float) -> bool:
    """Spark SQL equality for doubles: NaN = NaN is TRUE."""
    return a == b or (math.isnan(a) and math.isnan(b))


def _lt(a: float, b: float) -> bool:
    """Spark SQL total order for doubles: NaN is GREATER than every
    other value (so x < NaN is true for non-NaN x, NaN < x never)."""
    if math.isnan(a):
        return False
    if math.isnan(b):
        return True
    return a < b


def make_envelope_fn(window_size: int):
    """Build the stateful per-channel function for
    :func:`streaming_raw_envelopes` (closure over ``window_size``).

    All value comparisons use Spark SQL double semantics (`_same`/`_lt`:
    NaN equals NaN, NaN sorts greatest) so the emitted rows stay
    bit-identical to the batch window operators even on NaN samples."""

    hi = window_size - 2  # frame interior is [i+1, i+hi]
    nan_last = lambda x: (math.isnan(x), x)  # noqa: E731  Spark sort key

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        (channel_id,) = key
        if state.exists:
            (
                next_emit,
                run_start,
                run_value,
                has_prev,
                prev_run_value,
                ex_idx,
                ex_val,
                ex_valley,
            ) = state.get
            ex = list(zip(ex_idx, ex_val, ex_valley))
        else:
            next_emit, run_start, run_value, has_prev, prev_run_value, ex = (
                -1,
                -1,
                0.0,
                False,
                0.0,
                [],
            )

        def close_run(end_idx: int, next_value: float) -> None:
            # The open run [run_start, end_idx] closed by a differing
            # next_value: decide its plateau-midpoint flag. A channel-
            # leading run (no previous run) never flags — matching the
            # batch rule where a NULL border comparison coalesces False.
            if not has_prev:
                return
            mid = (run_start + end_idx) // 2
            if _lt(prev_run_value, run_value) and _lt(next_value, run_value):
                ex.append((mid, run_value, False))
            elif _lt(run_value, prev_run_value) and _lt(run_value, next_value):
                ex.append((mid, run_value, True))

        out_rows = []
        for pdf in pdfs:
            pdf = pdf.sort_values("sample_idx")
            for idx, v in zip(pdf["sample_idx"], pdf["signal_value"]):
                idx, v = int(idx), float(v)
                if next_emit < 0:
                    next_emit = idx  # channel may start at any index
                if run_start < 0:
                    run_start, run_value = idx, v
                elif not _same(v, run_value):
                    close_run(idx - 1, v)
                    has_prev, prev_run_value = True, run_value
                    run_start, run_value = idx, v
            # Emit every i whose frame interior [i+1, i+hi] lies strictly
            # before the open run (all its flags are decided).
            while 0 <= next_emit and next_emit + hi < run_start:
                i = next_emit
                valleys = [val for j, val, isv in ex if isv and i + 1 <= j <= i + hi]
                peaks = [val for j, val, isv in ex if not isv and i + 1 <= j <= i + hi]
                floor = min(valleys, key=nan_last) if valleys else None
                ceil = max(peaks, key=nan_last) if peaks else None
                out_rows.append((int(channel_id), i, floor, ceil))
                next_emit += 1
            ex = [(j, val, isv) for j, val, isv in ex if j >= next_emit + 1]

        state.update(
            (
                next_emit,
                run_start,
                run_value,
                has_prev,
                prev_run_value,
                [j for j, _, _ in ex],
                [val for _, val, _ in ex],
                [isv for _, _, isv in ex],
            )
        )
        yield pd.DataFrame(
            out_rows, columns=["channel_id", "sample_idx", "floor_raw", "ceil_raw"]
        )

    return fn


def streaming_raw_envelopes(signal_stream: DataFrame, window_size: int = 350) -> DataFrame:
    """Streaming analogue of the batch raw envelope (W1/W2,
    ``operators.envelopes.with_raw_envelopes``): per position ``i``, the
    min over decided valleys / max over decided peaks in the forward
    frame interior ``[i+1, i+window_size-2]`` — plateau-midpoint flags
    included, via an online run-length algorithm.

    Emits exactly the positions whose frame is fully decided (interior
    flags need the next *differing* sample, so emission trails the open
    run); those rows are bit-identical to the batch operator's output on
    the same prefix — see ``test_streaming.py``.

    State is O(window_size) per channel: four scalars plus the decided
    extrema still inside any future frame (≤ window_size entries, ~8 KB
    at the 350 default). At 100 TB the state store shards by channel
    exactly like the batch hash partitioning. Samples must arrive in
    ``sample_idx`` order per channel across micro-batches with
    contiguous indices (any start offset — the batch frames are
    row-based, so a gap would desynchronize them); an arbitrarily long
    plateau stalls (never corrupts) emission, because its flag is
    undecidable until a differing sample arrives. NaN samples follow
    Spark SQL double semantics for every run/flag/extremum decision
    (NaN = NaN, NaN sorts greatest — so a NaN-valued peak correctly
    shadows lower real peaks); the one representational difference vs
    the batch operator is at the Arrow boundary, which surfaces a
    NaN-valued envelope as NULL (verified empirically) — the same
    NULL-for-reference-NaN convention the fidelity route uses.

    Deliberate absence — the SMOOTHED envelope (the batch W1/W2
    finishing step: pad the raw envelope with copies of its first/last
    175 values, then the 301-tap SG FIR) has NO streaming twin, by
    design rather than omission: the reference's trailing pad is built
    from the envelope's LAST 175 values, i.e. the smoothed value at
    every position within 150+175 samples of the end depends on data
    that has not arrived yet, and revising already-emitted rows would
    break append-mode semantics. The interior FIR itself is streamable
    with an O(301) delay buffer, but reproducing the reference's edge
    semantics (the thing the oracle hash-checks) is inherently a
    batch/window-close operation — run the batch operator per closed
    window (foreachBatch) when streaming smoothed envelopes are
    genuinely needed."""
    return signal_stream.groupBy("channel_id").applyInPandasWithState(
        make_envelope_fn(window_size),
        _ENV_OUT_SCHEMA,
        _ENV_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def streaming_sessionize(
    events_stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming gap-based sessionization via the built-in
    ``session_window`` — the streaming analogue of
    ``operators.sessions.session_stats`` (same gap semantics: a session
    closes when no event arrives within ``gap``).

    Built-in session windows keep state only for OPEN sessions and purge
    closed ones past the watermark — bounded state without custom code,
    which is why this beats an ``applyInPandasWithState`` re-implementation
    at 100 TB (the state store handles merging, timeout, and recovery)."""
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.session_window(F.col("ts"), gap).alias("s"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def stream_static_enrich(
    events_stream: DataFrame,
    user_dim: DataFrame,
    on_stream: str = "user_id",
    on_dim: str = "c_custkey",
) -> DataFrame:
    """Stream-static broadcast enrichment: join each micro-batch against
    a static dimension table. The dim side is explicitly ``broadcast()``
    — a stream-static join must never shuffle the unbounded side, and a
    broadcast keeps the stream side's partitioning (and its state-store
    co-location) intact. Left join: unmatched events survive with NULL
    attributes, so enrichment can never drop data."""
    return events_stream.join(
        F.broadcast(user_dim),
        events_stream[on_stream] == user_dim[on_dim],
        "left",
    )


def streaming_windowed_stats(
    events_stream: DataFrame,
    window: str = "10 seconds",
    watermark: str = "30 seconds",
) -> DataFrame:
    """Late-data-tolerant per-user tumbling-window rollup over the
    events stream (ts must be a timestamp column)."""
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("value").alias("max_value"),
            F.avg("value").alias("avg_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "user_id",
            "n_events",
            "max_value",
            "avg_value",
        )
    )


# --- streaming constrained find_peaks ---------------------------------------

CONSTRAINED_OUT_SCHEMA = (
    "channel_id long, peak_idx long, peak_value double, "
    "prominence double, width double"
)
#: buf_start/buf — contiguous trailing sample window (indices implicit);
#: run machinery as in the envelope operator; pend — candidates of the
#: OPEN distance-suppression component (pend_e: already-emitted
#: "blocker" survivors retained only as suppression context — see
#: the compaction notes in :func:`make_constrained_peaks_fn`); surv —
#: suppression survivors awaiting their right wlen-neighborhood.
_CONSTRAINED_STATE_SCHEMA = (
    "buf_start long, buf array<double>, "
    "run_start long, run_value double, has_prev boolean, prev_run_value double, "
    "pend_p array<long>, pend_v array<double>, pend_e array<boolean>, "
    "surv_p array<long>, surv_v array<double>"
)


def make_constrained_peaks_fn(
    distance: int | None = 20,
    prominence: float | None = 0.3,
    width: float | None = 1.0,
    rel_height: float = 0.3,
    wlen: int = 250,
    max_component_span: int | None = None,
):
    """Stateful per-channel constrained peak detector — the streaming
    mirror of ``operators.native_peaks.native_find_peaks`` (SciPy
    condition order: plateau maxima → greedy distance suppression →
    prominence → width), closing the last batch/stream asymmetry.

    Why it streams at all: every constraint is provably LOCAL.

    * Plateau candidates need only the enclosing runs (online RLE, three
      scalars — same machinery as the envelope operator).
    * Greedy distance suppression interacts only between candidates
      closer than ``distance``, so candidates split into components at
      gaps ≥ ``distance``; the global priority-order greedy restricted
      to one component equals the greedy run on that component alone. A
      component is decided once no future candidate can join: every
      future plateau midpoint is ≥ the open run's start, so
      ``open_run_start ≥ last_candidate + distance`` seals it.
    * Prominence/width walks are ``wlen``-bounded: a survivor is decided
      once samples through ``p + wlen//2`` have arrived, against the
      buffered trailing window (the same NumPy kernels as the batch
      fidelity route, on the same values).

    State per channel is O(wlen + open component): the trailing sample
    buffer is pruned to ``min(undecided peak, open run) − wlen//2``.
    Emitted rows are bit-identical to the batch operator on every
    DECIDED peak; peaks whose component or neighborhood the stream has
    not closed yet (including everything within ``wlen//2`` of the
    stream end) remain pending — the decided-prefix contract every
    stateful operator here follows. Preconditions as in the batch
    route: contiguous per-channel ``sample_idx`` (any start offset),
    non-NaN signal values, in-order arrival across micro-batches.
    ``wlen`` must be finite (it bounds the state); ``distance=None``
    skips suppression (each candidate is its own component).

    State is bounded BY CONSTRUCTION, in two tiers.

    Tier 1 — EXACT pending-set compaction (per micro-batch): on a
    candidate-dense signal (a raw noisy stream has a local maximum
    every few samples) the whole stream is one suppression component
    that never seals, so the naive pending set grows with the stream.
    But most greedy decisions are already FINAL: a candidate's status
    can still change only if it is "tainted" — within ``distance`` of
    the open frontier, or reachable from a tainted candidate through a
    chain of would-be-processed-earlier neighbors (higher value, or
    equal value to its right, each step closer than ``distance``).
    Untainted candidates are final: killed-final ones are DROPPED
    (killed candidates never affect anyone else's status — only picked
    survivors kill), and survivor-finals left of the taint region are
    EMITTED EARLY, retained as flagged "blockers" while still within
    ``distance`` of a retained candidate so later greedy runs keep
    their kills. This is exact — batch parity is bit-identical — and
    on noise the taint region is small (chains need strictly
    increasing values step by step), so state stays O(wlen).

    Tier 2 — hard span guard (``max_component_span``, default
    ``4·wlen`` samples, checked per appended candidate so emissions
    stay micro-batch-split-invariant): tier 1's taint region is
    unbounded in the worst case (candidates with increasing values
    spaced ``distance−1`` apart taint arbitrarily far — each new
    arrival really can flip every earlier survivor, so ANY state
    bound must approximate somewhere). When the taint region itself
    outgrows the guard, the pending prefix is FORCE-SEALED at the
    widest internal candidate gap at least ``distance`` left of the
    newest candidate — the only (documented) approximation in this
    operator, reachable only on adversarial value ramps, never on
    smoothed or plain-noise signals.
    """
    import numpy as np

    from ..functions.sigproc import (
        _select_by_distance,
        peak_prominences,
    )

    if wlen is None:
        raise ValueError("streaming constrained peaks needs a finite wlen")
    odd = int(np.ceil(wlen))
    half = (odd + 1) // 2 if odd % 2 == 0 else odd // 2
    dist = None if distance is None else int(np.ceil(distance))
    max_span = 4 * odd if max_component_span is None else int(max_component_span)

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        (channel_id,) = key
        if state.exists:
            (
                buf_start,
                buf,
                run_start,
                run_value,
                has_prev,
                prev_run_value,
                pend_p,
                pend_v,
                pend_e,
                surv_p,
                surv_v,
            ) = state.get
            buf = list(buf)
            pend = list(zip(pend_p, pend_v, pend_e))
            surv = list(zip(surv_p, surv_v))
        else:
            buf_start, buf = -1, []
            run_start, run_value = -1, 0.0
            has_prev, prev_run_value = False, 0.0
            pend, surv = [], []

        def greedy_into_surv(items) -> None:
            # blockers (emitted=True) participate in the greedy but are
            # never re-emitted
            if dist is None:
                surv.extend((p, v) for p, v, e in items if not e)
                return
            p_arr = np.asarray([p for p, _, _ in items], dtype=np.intp)
            v_arr = np.asarray([v for _, v, _ in items], dtype=np.float64)
            keep = _select_by_distance(p_arr, v_arr, dist)
            surv.extend(
                (int(it[0]), float(it[1]))
                for it, k in zip(items, keep)
                if k and not it[2]
            )

        def flush_pend() -> None:
            # component sealed: run the same greedy kernel the batch
            # route uses, restricted to the component (exact — see
            # docstring), survivors queue for their neighborhoods
            if not pend:
                return
            greedy_into_surv(pend)
            pend.clear()

        def force_seal() -> None:
            # tier-2 span guard tripped (see docstring): split the open
            # component at the widest internal gap whose prefix ends
            # at least `dist` left of the newest candidate, seal the
            # prefix alone, keep the tail open.
            limit = pend[-1][0] - dist
            split, best = None, -1
            for i in range(1, len(pend)):
                if pend[i - 1][0] > limit:
                    break
                gap = pend[i][0] - pend[i - 1][0]
                if gap > best:
                    split, best = i, gap
            if split is None:  # every candidate crowds the newest
                split = len(pend) - 1
            greedy_into_surv(pend[:split])
            del pend[:split]

        def compact() -> None:
            # tier-1 EXACT compaction (see docstring): drop
            # killed-final candidates, emit survivor-finals left of
            # the taint region (retaining near ones as blockers).
            if dist is None or len(pend) < 2 or run_start < 0:
                return
            n = len(pend)
            pos = [p for p, _, _ in pend]
            val = [v for _, v, _ in pend]
            keep = _select_by_distance(
                np.asarray(pos, dtype=np.intp),
                np.asarray(val, dtype=np.float64),
                dist,
            )
            # taint fixpoint: status may still change with future
            # arrivals. Base: within dist of the open frontier (future
            # plateau midpoints are >= run_start). Step: a tainted
            # neighbor closer than dist that the greedy would process
            # first (higher value; equal value only from the right —
            # stable argsort processes equal values right-first).
            taint = [p > run_start - dist for p in pos]
            changed = True
            while changed:
                changed = False
                for i in range(n - 1, -1, -1):
                    if taint[i]:
                        continue
                    j = i + 1
                    while j < n and pos[j] - pos[i] < dist:
                        if taint[j] and val[j] >= val[i]:
                            taint[i] = True
                            changed = True
                            break
                        j += 1
                    if taint[i]:
                        continue
                    j = i - 1
                    while j >= 0 and pos[i] - pos[j] < dist:
                        if taint[j] and val[j] > val[i]:
                            taint[i] = True
                            changed = True
                            break
                        j -= 1
            min_t = min(
                (p for p, t in zip(pos, taint) if t), default=None
            )
            new_pend = []
            for i in range(n):
                p_i, v_i, e_i = pend[i]
                if taint[i]:
                    new_pend.append(pend[i])
                    continue
                near = min_t is not None and p_i > min_t - dist
                if not keep[i]:
                    # killed-final: drop (killed candidates never kill
                    # others); an emitted blocker can't be killed-final
                    # but the drop would be safe regardless
                    continue
                if e_i:
                    if near:  # blocker still in reach of the taint zone
                        new_pend.append(pend[i])
                    continue
                if min_t is None or p_i < min_t:
                    surv.append((int(p_i), float(v_i)))
                    if near:
                        new_pend.append((p_i, v_i, True))
                else:  # survivor-final right of the taint front: hold
                    new_pend.append(pend[i])
            pend[:] = new_pend

        out_rows = []
        for pdf in pdfs:
            pdf = pdf.sort_values("sample_idx")
            for idx, v in zip(pdf["sample_idx"], pdf["signal_value"]):
                idx, v = int(idx), float(v)
                if buf_start < 0:
                    buf_start = idx
                buf.append(v)
                if run_start < 0:
                    run_start, run_value = idx, v
                elif v != run_value:
                    # run [run_start, idx-1] closed by a differing value
                    if has_prev and prev_run_value < run_value and v < run_value:
                        p = (run_start + idx - 1) // 2
                        if dist is not None and pend and p - pend[-1][0] >= dist:
                            flush_pend()
                        pend.append((p, run_value, False))
                        # per-candidate span guard (split-invariant:
                        # depends only on the sample sequence). Tier-1
                        # exact compaction first; force-seal only if
                        # the TAINT REGION itself outgrew the guard.
                        if dist is not None and pend[-1][0] - pend[0][0] > max_span:
                            compact()
                            if len(pend) > 1 and pend[-1][0] - pend[0][0] > max_span:
                                force_seal()
                    has_prev, prev_run_value = True, run_value
                    run_start, run_value = idx, v

        # Seal the open component if nothing ahead can reach it: future
        # candidate midpoints are >= run_start (plateau midpoint >= its
        # left edge, and runs open in index order).
        if dist is not None and pend and run_start >= pend[-1][0] + dist:
            flush_pend()
        elif dist is None:
            flush_pend()
        # Tier-1 exact compaction of whatever stays open (no-op when the
        # component is small or sealed).
        compact()

        # Emit survivors. In the suppression-only config (no prominence,
        # no width) a sealed survivor needs no neighborhood at all —
        # emit immediately, matching the batch route, which skips the
        # gather entirely in that mode (waiting for p + wlen//2 would
        # also strand every end-of-stream peak for no reason).
        # Otherwise wait until the wlen-neighborhood is fully buffered.
        need_nb = prominence is not None or width is not None
        buf_end = buf_start + len(buf) - 1  # inclusive; -2 when empty
        while surv and ((not need_nb) or surv[0][0] + half <= buf_end):
            p, pv = surv.pop(0)
            if not need_nb:
                out_rows.append((int(channel_id), int(p), float(pv), None, None))
                continue
            lo = max(buf_start, p - half)
            y = np.asarray(buf[lo - buf_start : p + half - buf_start + 1])
            lp = np.asarray([p - lo], dtype=np.intp)
            # slice edges == the wlen window (or the channel start), so
            # the unwindowed kernel walks exactly the batch route's range
            proms, lb, rb = peak_prominences(y, lp, wlen=None)
            if prominence is not None and proms[0] < prominence:
                continue
            w_val = None
            if width is not None:
                # Width walk in GLOBAL index coordinates (values read
                # from the slice): the interpolated crossing points are
                # float(global_idx) ± fraction, and the final ulp of
                # right_ip - left_ip depends on the magnitude the
                # rounding happened at — local indices would drift a ulp
                # from the batch/golden routes on ~1-in-few peaks.
                h = y[lp[0]] - proms[0] * rel_height
                i, lbg, rbg = p, int(lb[0]) + lo, int(rb[0]) + lo
                while lbg < i and h < y[i - lo]:
                    i -= 1
                left_ip = float(i)
                if y[i - lo] < h:
                    left_ip += (h - y[i - lo]) / (y[i + 1 - lo] - y[i - lo])
                i = p
                while i < rbg and h < y[i - lo]:
                    i += 1
                right_ip = float(i)
                if y[i - lo] < h:
                    right_ip -= (h - y[i - lo]) / (y[i - 1 - lo] - y[i - lo])
                w_val = float(right_ip - left_ip)
                if w_val < width:
                    continue
            out_rows.append(
                (
                    int(channel_id),
                    int(p),
                    float(pv),
                    float(proms[0]) if (prominence is not None or width is not None) else None,
                    w_val,
                )
            )

        # Prune the buffer to what any undecided peak or future
        # candidate can still reach.
        if buf:
            needs = [run_start] if run_start >= 0 else []
            needs += [p for p, _, _ in pend] + [p for p, _ in surv]
            min_keep = (min(needs) if needs else buf_end + 1) - half
            if min_keep > buf_start:
                drop = min(len(buf), min_keep - buf_start)
                buf = buf[drop:]
                buf_start += drop

        state.update(
            (
                buf_start,
                buf,
                run_start,
                run_value,
                has_prev,
                prev_run_value,
                [p for p, _, _ in pend],
                [v for _, v, _ in pend],
                [e for _, _, e in pend],
                [p for p, _ in surv],
                [v for _, v in surv],
            )
        )
        yield pd.DataFrame(
            out_rows,
            columns=["channel_id", "peak_idx", "peak_value", "prominence", "width"],
        )

    return fn


def streaming_find_peaks(
    signal_stream: DataFrame,
    value_col: str = "signal_value",
    distance: int | None = 20,
    prominence: float | None = 0.3,
    width: float | None = 1.0,
    rel_height: float = 0.3,
    wlen: int = 250,
    max_component_span: int | None = None,
) -> DataFrame:
    """Streaming constrained peak detection with the reference defaults
    (``/root/reference/peak_detection.py:251`` semantics): peaks are
    emitted as soon as their suppression component seals and their
    ``wlen`` neighborhood arrives, bit-identical to the batch
    ``native_find_peaks`` on every decided peak (cross-batch parity in
    ``test_streaming.py``). State is O(wlen + max_component_span) per
    channel by construction — see :func:`make_constrained_peaks_fn`
    for the span guard (default ``4·wlen``) that bounds it even on
    candidate-dense raw signals."""
    sig = signal_stream.select(
        "channel_id", "sample_idx", F.col(value_col).alias("signal_value")
    )
    return sig.groupBy("channel_id").applyInPandasWithState(
        make_constrained_peaks_fn(
            distance, prominence, width, rel_height, wlen, max_component_span
        ),
        CONSTRAINED_OUT_SCHEMA,
        _CONSTRAINED_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


# --- streaming sequence packing --------------------------------------------

PACK_OUT_SCHEMA = (
    "shard string, chunk_id long, doc_id long, begin_tok long, end_tok long"
)
_PACK_STATE_SCHEMA = "start_off long"


def make_pack_fn(capacity: int):
    """Stateful concat-and-chunk packer: per-shard state is ONE BIGINT —
    the running token offset — so a document arriving in a later
    micro-batch continues exactly where the previous batch's stream
    stopped. Emits the same (doc × chunk) span manifest as the batch
    :func:`...llm.packing.pack_chunks`, bit-identical on any prefix
    delivered in doc_id order (factored out for in-process testing
    against a stub GroupState, like :func:`make_envelope_fn`)."""

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        (shard,) = key
        start = int(state.get[0]) if state.exists else 0
        rows = []
        # Concatenate BEFORE sorting: a group larger than the Arrow batch
        # size arrives as several pdfs in arbitrary post-shuffle order, so
        # per-chunk sorting would interleave doc order across chunks.
        chunks = list(pdfs)
        batch = (
            pd.concat(chunks, ignore_index=True) if chunks else pd.DataFrame()
        )
        if len(batch):
            batch = batch.sort_values("doc_id")
            for d, n in zip(batch["doc_id"], batch["n_tok"]):
                n = int(n)
                end = start + n
                for chunk in range(start // capacity, (end - 1) // capacity + 1):
                    rows.append(
                        (
                            shard,
                            chunk,
                            int(d),
                            max(chunk * capacity, start) - start,
                            min((chunk + 1) * capacity, end) - start,
                        )
                    )
                start = end
        state.update((start,))
        yield pd.DataFrame(
            rows, columns=["shard", "chunk_id", "doc_id", "begin_tok", "end_tok"]
        )

    return fn


def streaming_pack_chunks(doc_stream: DataFrame, capacity: int = 128) -> DataFrame:
    """Streaming sequence packing: documents flow in, packed-chunk span
    manifests flow out, chunk ids continuing seamlessly across
    micro-batches. The ingest-side mirror of the batch
    ``llm.packing.pack_chunks`` — a training-data pipeline can emit
    packed sequences while the crawl is still arriving.

    State per shard is a single token offset (O(1)); the token count is
    projected BEFORE the stateful groupBy, so the state store shuffle
    carries (shard, doc_id, n_tok) — never document text. Ordering
    contract: doc_ids must arrive non-decreasing per shard across
    batches (within a batch the UDF sorts)."""
    toks = doc_stream.select(
        F.col("source").alias("shard"),
        "doc_id",
        F.expr("size(split(text, ' '))").cast("long").alias("n_tok"),
    )
    return toks.groupBy("shard").applyInPandasWithState(
        make_pack_fn(capacity),
        PACK_OUT_SCHEMA,
        _PACK_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


# --- streaming funnel stage tracking ----------------------------------------

FUNNEL_OUT_SCHEMA = "user_id long, step int, event_type string, ts_us long"
_FUNNEL_STEPS = ("view", "click", "purchase")
#: "stage not reached" sentinel: LONG_MIN, not -1 — a genuine pre-epoch
#: timestamp (bad-clock device) is negative and must survive the state
#: round-trip; year ~-292e9 is unreachable as a real microsecond ts.
_UNSET = -(2**63)


def funnel_state_schema(steps: tuple[str, ...] = _FUNNEL_STEPS) -> str:
    """One long per stage — derived from ``steps`` so non-default funnels
    get a matching state struct."""
    return ", ".join(f"t{k} long" for k in range(len(steps)))


def make_funnel_fn(steps: tuple[str, ...] = _FUNNEL_STEPS):
    """Stateful ordered-funnel tracker: per-user state is one timestamp
    per stage (O(steps)); an event enters stage k only if stage k-1 was
    entered STRICTLY earlier — the same no-backtracking semantics as the
    batch :func:`...operators.sessions.funnel_counts`, whose per-user
    stage times this reproduces exactly on ordered streams. Emits a row
    the moment a stage is first reached (append mode)."""

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        times: list[int | None] = list(state.get) if state.exists else [None] * len(steps)
        times = [None if t == _UNSET else t for t in times]
        chunks = list(pdfs)
        batch = (
            pd.concat(chunks, ignore_index=True) if chunks else pd.DataFrame()
        )
        rows = []
        if len(batch):
            batch = batch.sort_values("ts_us")
            for et, ts in zip(batch["event_type"], batch["ts_us"]):
                ts = int(ts)
                for k, step in enumerate(steps):
                    if (
                        et == step
                        and times[k] is None
                        and (k == 0 or (times[k - 1] is not None and ts > times[k - 1]))
                    ):
                        times[k] = ts
                        rows.append((int(user_id), k + 1, step, ts))
                        break
        state.update(tuple(_UNSET if t is None else t for t in times))
        yield pd.DataFrame(rows, columns=["user_id", "step", "event_type", "ts_us"])

    return fn


def streaming_funnel_stages(
    events_stream: DataFrame, steps: tuple[str, ...] = _FUNNEL_STEPS
) -> DataFrame:
    """Streaming funnel: stage-entry rows appear as users progress —
    the real-time mirror of the batch funnel report (aggregate the
    output by ``step`` for live conversion counts). State is O(steps)
    per user, keyed by the same user hash as every batch event op."""
    from ..schema import ts_micros

    ev = events_stream.select(
        "user_id", "event_type", ts_micros(events_stream).alias("ts_us")
    )
    return ev.groupBy("user_id").applyInPandasWithState(
        make_funnel_fn(steps),
        FUNNEL_OUT_SCHEMA,
        funnel_state_schema(steps),
        "append",
        GroupStateTimeout.NoTimeout,
    )


# --- streaming online anomaly scores ----------------------------------------

ZSCORE_OUT_SCHEMA = (
    "event_id long, user_id long, value double, zscore double, n_seen long"
)
_ZSCORE_STATE_SCHEMA = "n long, s long, q double"


def make_zscore_fn():
    """Stateful online anomaly scorer: per-user state is the running
    moment triple (n, Σv, Σv²) in integer micro-units (Σv exact in a
    BIGINT; Σv² as a double — at streaming scale the ±1-ulp drift in q
    only matters once n·q − s² is astronomically larger than 2^53, far
    beyond any per-user stream). Each event is scored against the
    moments of all PRIOR events — the causal formulation a live monitor
    needs (the batch operator scores against the full-window moments) —
    then folded into the state. Events before a user's third are
    unscored (NULL): online variance from <2 priors is noise."""

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        n, s, q = state.get if state.exists else (0, 0, 0.0)
        rows = []
        chunks = list(pdfs)
        batch = pd.concat(chunks, ignore_index=True) if chunks else pd.DataFrame()
        if len(batch):
            batch = batch.sort_values("event_id")
            for eid, v in zip(batch["event_id"], batch["value"]):
                v = float(v)
                vu = int(round(v * 1e6))
                # unscored -> NaN (consistent float64 column; the Arrow
                # boundary surfaces NaN as NULL in Spark, like the
                # streaming envelope operator documents)
                z = float("nan")
                if n >= 3:
                    rad = float(n) * q - float(s) * float(s)
                    if rad > 0:
                        z = round((n * vu - s) / math.sqrt(n * rad), 6)
                rows.append((int(eid), int(user_id), v, z, n))
                n, s, q = n + 1, s + vu, q + float(vu) * vu
        state.update((n, s, q))
        yield pd.DataFrame(
            rows, columns=["event_id", "user_id", "value", "zscore", "n_seen"]
        )

    return fn


def streaming_zscores(events_stream: DataFrame) -> DataFrame:
    """Online per-user anomaly scores: each event scored against the
    running moments of its user's PRIOR events, state carried across
    micro-batches (O(1) per user: three scalars). The causal/streaming
    counterpart of the batch ``user_value_zscores`` (which scores
    against full-window moments)."""
    ev = events_stream.select("event_id", "user_id", "value")
    return ev.groupBy("user_id").applyInPandasWithState(
        make_zscore_fn(),
        ZSCORE_OUT_SCHEMA,
        _ZSCORE_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


# --- streaming event transitions --------------------------------------------

TRANSITION_OUT_SCHEMA = "user_id long, src string, dst string, ts_us long"
_TRANSITION_STATE_SCHEMA = "ts long, et string"


def make_transition_fn():
    """Stateful Markov-pair emitter: per-user state is the single last
    (ts, event_type) — O(1). Each event after the user's first emits
    one (src, dst) transition row stamped with the destination time;
    aggregating the emitted pairs by (src, dst) reproduces the batch
    :func:`...operators.sessions.event_transitions` counts exactly on
    ordered streams (parity pinned by a random-split test). Events are
    sorted by (ts_us, event_id) inside a batch; cross-batch order is
    the source's contract, as for every stateful op in this module."""

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        last_ts, last_et = state.get if state.exists else (None, None)
        chunks = list(pdfs)
        batch = pd.concat(chunks, ignore_index=True) if chunks else pd.DataFrame()
        rows = []
        if len(batch):
            batch = batch.sort_values(["ts_us", "event_id"])
            for et, ts in zip(batch["event_type"], batch["ts_us"]):
                ts = int(ts)
                if last_et is not None:
                    rows.append((int(user_id), last_et, str(et), ts))
                last_ts, last_et = ts, str(et)
            state.update((last_ts, last_et))
        yield pd.DataFrame(rows, columns=["user_id", "src", "dst", "ts_us"])

    return fn


def streaming_transitions(events_stream: DataFrame) -> DataFrame:
    """Live Markov transition pairs: one output row per consecutive
    event pair of each user, state carried across micro-batches (O(1)
    per user). Aggregate the sink by (src, dst) for live transition
    counts — the streaming counterpart of the batch
    ``event_transitions`` matrix."""
    from ..schema import ts_micros

    ev = events_stream.select(
        "event_id", "user_id", "event_type",
        ts_micros(events_stream).alias("ts_us"),
    )
    return ev.groupBy("user_id").applyInPandasWithState(
        make_transition_fn(),
        TRANSITION_OUT_SCHEMA,
        _TRANSITION_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def streaming_neardup_gate(
    doc_stream: DataFrame,
    corpus_docs: DataFrame,
    min_jaccard: float = 0.5,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming twin of ``llm.dedup.incremental_neardup``: gate an
    INCOMING document stream against the static ingested corpus. Each
    arriving doc's MinHash signature is computed STATELESSLY by
    ``with_minhash_signatures`` — the per-row HOF fold, no aggregation
    state, that also computes the corpus side's ``minhash_signatures``
    — and its band keys probe the corpus band-key index via a
    stream-static broadcast join, and candidates are verified with
    exact Jaccard against the corpus token frame. The only stateful
    stage is ``dropDuplicatesWithinWatermark`` collapsing the same
    (new, corpus) pair found in several bands — state is bounded by
    the watermark, not the corpus.

    At 100 TB the two static sides are the MATERIALIZED band-key index
    and token store (bucketed tables, re-read per micro-batch); here
    they are derived from ``corpus_docs`` lazily. The explicit
    ``broadcast()`` hints below belong to THIS derived-index path,
    where the corpus fits one executor; the bucketed-table variant
    drops them (the same bounded-frame-only hint policy as
    ``operators/relational.py``) and lets the per-micro-batch planner
    shuffle the bounded batch against the bucketed index instead —
    stream-static joins are stateless per batch, so the stream side
    CAN be exchanged. Requires a ``ts`` timestamp column on the
    stream. Output (append-safe):
    (ts, new_doc_id, corpus_doc_id, jaccard ≥ min_jaccard).
    """
    from ..llm.dedup import (
        _jaccard_expr,
        _TOKENS,
        band_structs,
        minhash_band_keys,
        minhash_signatures,
        with_minhash_signatures,
    )

    corpus_keys = F.broadcast(
        minhash_band_keys(minhash_signatures(corpus_docs)).select(
            F.col("doc_id").alias("corpus_doc_id"), "band", "band_key"
        )
    )
    corpus_toks = F.broadcast(
        corpus_docs.select(
            F.col("doc_id").alias("corpus_doc_id"),
            F.expr(f"array_distinct({_TOKENS})").alias("toks_b"),
        )
    )
    sigs = with_minhash_signatures(doc_stream).withColumn(
        "toks_a", F.expr(f"array_distinct({_TOKENS})")
    )
    bands = band_structs()
    keyed = sigs.select(
        "ts",
        F.col("doc_id").alias("new_doc_id"),
        "toks_a",
        F.explode(F.array(*bands)).alias("bk"),
    ).select("ts", "new_doc_id", "toks_a", "bk.band", "bk.band_key")
    cand = keyed.join(corpus_keys, ["band", "band_key"]).join(
        corpus_toks, "corpus_doc_id"
    )
    jac = _jaccard_expr("toks_a", "toks_b")
    verified = cand.select(
        "ts",
        "new_doc_id",
        "corpus_doc_id",
        F.round(jac, 6).alias("jaccard"),
    ).filter(F.col("jaccard") >= min_jaccard)
    return verified.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["new_doc_id", "corpus_doc_id"]
    )


def streaming_attribution(
    views_stream: DataFrame,
    purchases_stream: DataFrame,
    window_us: int = 3600 * 1_000_000,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-STREAM event-time join — the canonical attribution query
    (each purchase matched to the same user's views inside the
    preceding attribution window), and the one Structured Streaming
    join shape the stream-static ops can't express: BOTH sides are
    unbounded.

    Both inputs carry watermarks because Spark requires them to bound
    the join STATE: a buffered view can be dropped once the purchase
    side's watermark passes ``view_ts + window``, so state is
    O(traffic × window), not O(stream). The time bound lives in the
    join condition itself (range condition on the event-time columns)
    — that is what lets the engine derive the state-cleanup threshold.
    Inner join: matches emit eagerly; the watermark only ages state.

    Inputs need (user_id, ts) plus optional payloads; output one row
    per (view, purchase) pair within the window.
    """
    from ..schema import ts_micros

    # watermarks demand TIMESTAMP (not NTZ / long-nanos). Deriving it
    # via timestamp_micros(ts_micros(...)) is correct for EVERY ts
    # generation the engine supports — a bare cast("timestamp") would
    # read the long-nanos generation as epoch SECONDS (r5 review).
    v = views_stream.withColumn(
        "_wm_ts", F.timestamp_micros(ts_micros(views_stream))
    )
    v = (
        v.withWatermark("_wm_ts", watermark)
        .select(
            F.col("user_id").alias("v_user"),
            ts_micros(views_stream).alias("view_us"),
            "_wm_ts",
        )
    )
    p = purchases_stream.withColumn(
        "_wm_ts", F.timestamp_micros(ts_micros(purchases_stream))
    )
    p = (
        p.withWatermark("_wm_ts", watermark)
        .select(
            F.col("user_id").alias("p_user"),
            ts_micros(purchases_stream).alias("purchase_us"),
            F.col("value").alias("purchase_value"),
            F.col("_wm_ts").alias("_wm_ts_p"),
        )
    )
    # the exact bound lives on the micro longs; the SAME bound (one
    # second of slack for the cast) is restated on the watermarked
    # event-time columns because that restatement is what lets the
    # engine derive the state-cleanup threshold for a stream-stream
    # inner join — without it, both sides' state grows forever.
    window_s = int(window_us // 1_000_000) + 1
    joined = v.join(
        p,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("purchase_us") > F.col("view_us"))
        & (F.col("purchase_us") <= F.col("view_us") + F.lit(window_us))
        & (F.col("_wm_ts_p") >= F.col("_wm_ts"))
        & (
            F.col("_wm_ts_p")
            <= F.col("_wm_ts") + F.expr(f"INTERVAL {window_s} SECONDS")
        ),
    )
    return joined.select(
        F.col("v_user").alias("user_id"),
        "view_us",
        "purchase_us",
        "purchase_value",
    )


def streaming_chunk_overlap(
    doc_stream: DataFrame, size: int = 32, stride: int = 24
) -> DataFrame:
    """Streaming twin of :func:`..llm.packing.chunk_overlap` — the
    operator is a STATELESS map (each document chunks independently;
    nothing crosses documents, unlike the cumulative-offset packing
    above), so the batch expression applies to an unbounded stream
    verbatim: no state store, no watermark, append-mode per micro-batch.
    Parity with the batch operator is pinned by
    tests/test_streaming.py."""
    from ..llm.packing import chunk_overlap

    return chunk_overlap(doc_stream, size=size, stride=stride)


def make_ann_serve_fn(index, k: int = 10, nprobe: int = 2,
                      shortlist: int = 20, sink=None):
    """Streaming ANN serving: ``foreachBatch`` callable answering each
    micro-batch of ``(query_id, embedding)`` rows against a prefit
    :class:`..llm.similarity.IvfPqIndex` via
    :func:`..llm.similarity.ivf_pq_search`.

    foreachBatch — not a pure streaming DAG — is the deliberate design,
    and the idiomatic Structured Streaming one for request serving: the
    search needs three stateful steps (per-query probe rank, the ADC
    sum aggregation, the final top-k rank), more than one append-mode
    streaming plan may contain, and a micro-batch IS a query batch —
    the exact unit the index's broadcast-ADC bound is written against.
    Each batch runs the identical batch operator, so streaming results
    equal batch results row-for-row (pinned by tests/test_streaming.py)
    and every scale property of the batch search carries over
    unchanged. ``sink(result_df, epoch_id)`` owns delivery (write to a
    topic/table/parquet); the default collects nothing and exists for
    plan-building tests."""
    from ..llm.similarity import ivf_pq_search

    def fn(batch_df, epoch_id):
        out = ivf_pq_search(
            batch_df, index, k=k, nprobe=nprobe, shortlist=shortlist
        )
        if sink is not None:
            sink(out, epoch_id)

    return fn


class AnnIngestor:
    """Mutable holder the :func:`make_ann_ingest_fn` callable appends
    into: ``ingestor.index`` is always the NEWEST appended
    :class:`..llm.similarity.IvfPqIndex` (serve queries against it —
    the live half of the fit-once/append-per-batch posture), and
    ``ingestor.appended`` counts total rows ingested since the prefit
    snapshot — feed it to :func:`..llm.similarity.needs_refit` to
    decide when to stop appending and refit."""

    def __init__(self, index):
        self.index = index
        self._base = index
        # seed from the index's own since-fit mass (round 12): a
        # load_ivf_pq_index-ed index carries its pre-restart ingest in
        # the persisted meta, and an in-session ivf_pq_append-grown one
        # carries it as the owned per-batch chain. Starting this
        # counter at 0 in either case would blind the mass dial —
        # maybe_refit passes `appended_rows=self.appended`, whose
        # explicit-override precedence SUPPRESSES the chain derivation
        # index_health would otherwise perform (self-review round 12).
        if index.appended is not None:
            self.appended = index.appended
        else:
            self.appended = sum(
                df.count() for df in index.owned if "embedding" in df.columns
            )
        self._fit_imbalance = None

    @property
    def fit_imbalance(self) -> float:
        """Posting-list imbalance of the BASE prefit index (lazy, one
        k-row aggregation, cached until a refit replaces the base) —
        the baseline that makes ``needs_refit``'s imbalance dial
        relative instead of absolute, so naturally-skewed corpora
        aren't flagged healthy-as-fitted."""
        if self._fit_imbalance is None:
            from ..llm.similarity import index_health

            self._fit_imbalance = index_health(self._base)["imbalance"]
        return self._fit_imbalance

    def ingest(self, batch_df) -> None:
        from ..llm.similarity import ivf_pq_append

        n = batch_df.count()
        if n == 0:  # empty micro-batch: nothing to assign/encode
            return
        self.index = ivf_pq_append(self.index, batch_df)
        self.appended += n

    def release(self) -> None:
        """Unpersist every append-chain cache (the per-batch frames
        stacked on ``index.owned``) WITHOUT touching the base prefit
        index's fit-time caches — call on shutdown or after a refit
        replaces this ingestor."""
        for df in self.index.owned:
            try:
                df.unpersist()
            except Exception:
                pass

    def maybe_refit(
        self,
        max_appended_fraction: float = 0.35,
        max_imbalance: float = 3.0,
        **refit_kwargs,
    ) -> bool:
        """Run the full ops loop inline: consult
        :func:`..llm.similarity.needs_refit` on the live index (the
        ``appended`` counter doubles as the externally-tracked mass
        for loaded indexes) and, when either dial fires, refit on the
        grown posting lists via
        :func:`..llm.similarity.refit_ivf_pq_index`, release the
        superseded chain AND base caches, and reset the counter. Call
        it from the ``sink`` on snapshot cadence (every batch is fine
        — the healthy-path cost is one k-row aggregation). Returns
        True when a refit happened."""
        from ..llm.similarity import needs_refit, refit_ivf_pq_index

        verdict = needs_refit(
            self.index,
            appended_rows=self.appended,
            max_appended_fraction=max_appended_fraction,
            max_imbalance=max_imbalance,
            baseline_imbalance=self.fit_imbalance,
        )
        if not verdict["refit"]:
            return False
        old_base, pre_refit = self._base, self.index
        # refit reads the grown corpus off the posting lists; its
        # release_old cascade frees the append chain (pre_refit), and
        # the base fit caches (not owned by the chain) are freed
        # explicitly — unless nothing was ever appended, in which case
        # the base IS the refit input and release_old already freed it
        # (ADVICE r11: the old `is not self.index` guard compared
        # against the freshly-built index, which is always a new
        # object, so it never expressed this condition).
        self.index = refit_ivf_pq_index(pre_refit, **refit_kwargs)
        if old_base is not pre_refit:
            old_base.unpersist()
        self._base = self.index
        self.appended = 0
        self._fit_imbalance = None  # re-derive lazily vs the new base
        return True


def make_ann_ingest_fn(index, sink=None):
    """Streaming ANN index ingest (round 11, VERDICT r10 ask #5): the
    ``foreachBatch`` twin of :func:`..llm.similarity.ivf_pq_append`,
    completing the streaming story that previously stopped at serve
    (:func:`make_ann_serve_fn` answers against a FROZEN index; this
    grows one). Each micro-batch of ``(vec_id, embedding)`` rows is
    appended to the current index via the identical batch operator —
    assignment against the frozen coarse centroids, encoding against
    the frozen PQ codebooks — so the index after N micro-batches equals
    ``ivf_pq_append(index, union of all batches)`` exactly (the
    batch-split associativity the batch op pins), and batch↔stream
    parity is row-for-row (pinned by tests/test_streaming.py: vectors
    appended in an EARLIER micro-batch stay findable at rank 1 after
    later ones land).

    foreachBatch — not a pure streaming DAG — for the same reason as
    :func:`make_ann_serve_fn`: the assignment is a per-vector max_by
    reduce and the encoding m min_by reduces, all scoped WITHIN the
    arriving batch (nothing crosses micro-batches except the index
    frames themselves, which are static-side state Spark's state store
    isn't built to hold). Each append is O(batch) — the corpus-side
    frames are reused as lazy unions — so an unbounded stream pays
    per-batch cost proportional to the batch, never the corpus.

    Returns ``(fn, ingestor)``: pass ``fn`` to ``foreachBatch``; read
    ``ingestor.index`` for the live index (e.g. hand it to a serving
    job on snapshot cadence) and ``ingestor.appended`` for the
    refit-policy counter (:func:`..llm.similarity.needs_refit`).
    ``sink(index, epoch_id)`` runs after each append (e.g. to
    checkpoint via :func:`..llm.similarity.save_ivf_pq_index`)."""
    ingestor = AnnIngestor(index)

    def fn(batch_df, epoch_id):
        ingestor.ingest(batch_df)
        if sink is not None:
            sink(ingestor.index, epoch_id)

    return fn, ingestor


def make_dsir_serve_fn(logratio, n_buckets=None, sink=None):
    """Streaming DSIR scoring (round 10): ``foreachBatch`` callable
    scoring each micro-batch of ``(doc_id, text)`` documents against a
    PREFIT <=n_buckets-row log-ratio model
    (:func:`..llm.sampling.fit_dsir_logratio`) — the serve half of the
    importance-resampling pipeline: the model describes the fitted
    target/pool snapshot; arriving docs are scored, never folded into
    the fit (refit on the next corpus snapshot, the
    :func:`make_span_serve_fn` / ``IvfPqIndex`` posture).

    foreachBatch for the same reason as the span server: scoring needs
    a per-doc aggregation over the exploded gram features, whose groups
    by construction never span micro-batches — a pure streaming DAG
    would hold them in the state store for nothing. Each batch runs the
    identical batch operator (``dsir_logweights(batch, logratio=...)``),
    so streaming scores equal batch scores row-for-row (pinned by
    tests/test_streaming.py). ``n_buckets`` must match the model's fit
    (the model carries ``fit_n_buckets``; a mismatch raises
    DSIR_BUCKET_MISMATCH on the first batch instead of scoring grams
    against wrong-bucket ratios); out-of-vocabulary grams score the
    model's Laplace default row, never silently drop.
    ``sink(result_df, epoch_id)`` owns delivery."""
    from ..llm.sampling import dsir_logweights

    def fn(batch_df, epoch_id):
        out = dsir_logweights(batch_df, n_buckets=n_buckets, logratio=logratio)
        if sink is not None:
            sink(out, epoch_id)

    return fn


def make_span_serve_fn(dup_grams, gram: int = 8, sink=None):
    """Streaming span-cut serving (round 10): ``foreachBatch`` callable
    rewriting each micro-batch of ``(doc_id, text)`` documents against
    a PREFIT corpus duplicated-gram statistic
    (:func:`..llm.text.fit_dup_gram_stats`) — the serve half of the
    fit-once/rewrite-per-scope pattern, with each arriving batch as the
    scope. Arriving docs do NOT update the statistic (serve-time
    posture: the stats describe the ingested corpus snapshot; refit on
    the next snapshot, exactly like re-fitting an
    :class:`..llm.similarity.IvfPqIndex`). ``gram`` must match the
    fit's — the same documented contract as the batch ``dup_grams=``
    path.

    foreachBatch — not a pure streaming DAG — for the same reason as
    :func:`make_ann_serve_fn`: the rewrite needs a per-doc starts
    aggregation after the gram join, which in an append-mode streaming
    plan would hold every group in the state store until the watermark
    passed, for groups that by construction never span micro-batches
    (one input row explodes entirely within its batch). Each batch runs
    the identical batch operator, so streaming results equal batch
    results row-for-row (pinned by tests/test_streaming.py).
    ``sink(result_df, epoch_id)`` owns delivery."""
    from ..llm.text import remove_dup_spans_scoped

    def fn(batch_df, epoch_id):
        out = remove_dup_spans_scoped(
            batch_df,
            batch_df.select("doc_id"),
            gram=gram,
            dup_grams=dup_grams,
        )
        if sink is not None:
            sink(out, epoch_id)

    return fn
