"""Streaming operator tests: file-source micro-batches into a memory
sink, with a peak placed exactly on a batch boundary to exercise the
cross-batch state."""

import os

import pytest

from myodish_peak_analysis_spark.streaming.peaks import (
    streaming_naive_peaks,
    streaming_windowed_stats,
)

SIG_SCHEMA = "channel_id long, sample_idx long, signal_value double"


class StubState:
    """Minimal GroupState stand-in for driving stateful functions
    in-process (shared by every make_*_fn property test)."""

    def __init__(self):
        self.exists = False
        self._v = None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v
        self.exists = True


def _write_batches(spark, tmpdir, batches):
    src = os.path.join(tmpdir, "src")
    os.makedirs(src, exist_ok=True)
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, SIG_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    return src


def test_streaming_peaks_across_batch_boundary(spark, tmp_path):
    # Batch 1 ends rising at idx 3; batch 2 starts falling -> the peak at
    # idx 3 is only confirmable with state carried across batches.
    b1 = [(0, 0, 1.0), (0, 1, 3.0), (0, 2, 2.0), (0, 3, 5.0)]
    b2 = [(0, 4, 1.0), (0, 5, 4.0), (0, 6, 0.5)]
    src = _write_batches(spark, str(tmp_path), [b1, b2])

    stream = (
        spark.readStream.schema(SIG_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming_naive_peaks(stream)
        .writeStream.format("memory")
        .queryName("peaks_sink")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.channel_id, r.peak_idx, r.peak_value)
            for r in spark.sql("select * from peaks_sink").collect()
        }
    finally:
        q.stop()
    # NOTE: file order across the two parquet files isn't guaranteed by
    # mtime alone at this granularity; accept either order's peak set.
    assert (0, 1, 3.0) in got or (0, 5, 4.0) in got
    assert any(p[1] == 3 for p in got) or any(p[1] == 5 for p in got)


def test_streaming_peaks_single_batch_matches_batch_semantics(spark, tmp_path):
    rows = [(0, i, v) for i, v in enumerate([0.0, 2.0, 0.0, 3.0, 0.0, 1.0])]
    src = _write_batches(spark, str(tmp_path), [rows])
    stream = spark.readStream.schema(SIG_SCHEMA).parquet(src)
    q = (
        streaming_naive_peaks(stream)
        .writeStream.format("memory")
        .queryName("peaks_one")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(
            (r.peak_idx, r.peak_value)
            for r in spark.sql("select * from peaks_one").collect()
        )
    finally:
        q.stop()
    assert got == [(1, 2.0), (3, 3.0)]


def test_streaming_exact_dedup(spark, tmp_path):
    import datetime as dt

    from myodish_peak_analysis_spark.streaming.peaks import streaming_exact_dedup

    base = dt.datetime(2026, 1, 1)
    rows = [
        (0, "same text", base),
        (1, "same text", base + dt.timedelta(seconds=1)),  # dup, dropped
        (2, "other text", base + dt.timedelta(seconds=2)),
    ]
    src = os.path.join(str(tmp_path), "docs")
    spark.createDataFrame(rows, "doc_id long, text string, ts timestamp").write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string, ts timestamp").parquet(src)
    q = (
        streaming_exact_dedup(stream)
        .writeStream.format("memory")
        .queryName("dedup_sink")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        kept = sorted(r.doc_id for r in spark.sql("select * from dedup_sink").collect())
    finally:
        q.stop()
    assert len(kept) == 2 and 2 in kept
    assert not (0 in kept and 1 in kept)


def test_streaming_windowed_stats(spark, tmp_path):
    import datetime as dt

    base = dt.datetime(2026, 1, 1, 0, 0, 0)
    rows = [
        (base + dt.timedelta(seconds=s), uid, float(v))
        for s, uid, v in [(1, 1, 10.0), (2, 1, 20.0), (11, 1, 5.0), (3, 2, 7.0)]
    ]
    src = os.path.join(str(tmp_path), "ev")
    spark.createDataFrame(rows, "ts timestamp, user_id long, value double").write.parquet(src)
    stream = spark.readStream.schema("ts timestamp, user_id long, value double").parquet(src)
    q = (
        streaming_windowed_stats(stream, window="10 seconds")
        .writeStream.format("memory")
        .queryName("win_sink")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.user_id, r.window_start.second, r.n_events, r.max_value)
            for r in spark.sql("select * from win_sink").collect()
        }
    finally:
        q.stop()
    assert (1, 0, 2, 20.0) in got  # window [0,10): two events, max 20
    assert (1, 10, 1, 5.0) in got
    assert (2, 0, 1, 7.0) in got


def test_streaming_envelopes_match_batch_on_decided_prefix(spark, tmp_path):
    import numpy as np

    from myodish_peak_analysis_spark.operators.envelopes import with_raw_envelopes
    from myodish_peak_analysis_spark.streaming.peaks import streaming_raw_envelopes

    rng = np.random.default_rng(7)
    vals = np.round(np.cumsum(rng.standard_normal(80)), 3)
    vals[20:23] = vals[20]  # a plateau, to exercise the midpoint rule
    rows = [(0, i, float(v)) for i, v in enumerate(vals)]
    # split mid-frame so state must carry runs + extrema across batches
    src = _write_batches(spark, str(tmp_path), [rows[:37], rows[37:]])

    stream = (
        spark.readStream.schema(SIG_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming_raw_envelopes(stream, window_size=12)
        .writeStream.format("memory")
        .queryName("env_sink")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r.sample_idx: (r.floor_raw, r.ceil_raw)
            for r in spark.sql("select * from env_sink").collect()
        }
    finally:
        q.stop()

    batch = with_raw_envelopes(
        spark.createDataFrame(rows, SIG_SCHEMA), value_col="signal_value",
        window_size=12,
    )
    expect = {
        r.sample_idx: (r.floor_raw, r.ceil_raw) for r in batch.collect()
    }
    assert len(got) > 50  # most of the 80 samples are decided
    for i, pair in got.items():
        assert pair == expect[i], f"idx {i}: {pair} != {expect[i]}"


def test_streaming_envelopes_null_golden_channel(spark, tmp_path):
    """A NULL sample joins the run before it, in batch and stream alike:
    on this channel (window 6) the run [1, NULL] is a valley and the 5
    at sample 1 the one peak in sample 0's frame, so both give ceil_raw
    5.0 there. Read as NaN, the NULL would be a NaN peak at sample 3."""
    from myodish_peak_analysis_spark.operators.envelopes import with_raw_envelopes
    from myodish_peak_analysis_spark.streaming.peaks import streaming_raw_envelopes

    vals = [0, 5, 1, None, 3, 2, 0, 4, 1, 1, 1, 2, 0, 0]
    rows = [(0, i, None if v is None else float(v)) for i, v in enumerate(vals)]
    src = _write_batches(spark, str(tmp_path), [rows[:6], rows[6:]])
    stream = (
        spark.readStream.schema(SIG_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming_raw_envelopes(stream, window_size=6)
        .writeStream.format("memory")
        .queryName("env_null_sink")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r.sample_idx: (r.floor_raw, r.ceil_raw)
            for r in spark.sql("select * from env_null_sink").collect()
        }
    finally:
        q.stop()

    batch = with_raw_envelopes(
        spark.createDataFrame(rows, SIG_SCHEMA), value_col="signal_value",
        window_size=6,
    )
    expect = {r.sample_idx: (r.floor_raw, r.ceil_raw) for r in batch.collect()}
    assert expect[0][1] == 5.0 and got[0][1] == 5.0
    # everything before the open run [0, 0] minus the frame is decided
    assert set(got) == set(range(8))
    for i, pair in got.items():
        assert pair == expect[i], (i, pair, expect[i])


def test_streaming_sessionize(spark, tmp_path):
    import datetime as dt

    from myodish_peak_analysis_spark.streaming.peaks import streaming_sessionize

    base = dt.datetime(2026, 1, 1)
    rows = [
        (base, 1, 1.0),
        (base + dt.timedelta(minutes=10), 1, 2.0),   # same session (gap 30m)
        (base + dt.timedelta(minutes=50), 1, 4.0),   # new session
        (base + dt.timedelta(minutes=5), 2, 8.0),
    ]
    src = os.path.join(str(tmp_path), "sess")
    spark.createDataFrame(rows, "ts timestamp, user_id long, value double").write.parquet(src)
    stream = spark.readStream.schema("ts timestamp, user_id long, value double").parquet(src)
    q = (
        streaming_sessionize(stream)
        .writeStream.format("memory")
        .queryName("sess_sink")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.user_id, r.session_start.minute, r.n_events, r.sum_value)
            for r in spark.sql("select * from sess_sink").collect()
        }
    finally:
        q.stop()
    assert (1, 0, 2, 3.0) in got
    assert (1, 50, 1, 4.0) in got
    assert (2, 5, 1, 8.0) in got


def test_stream_static_enrich(spark, tmp_path):
    import datetime as dt

    from myodish_peak_analysis_spark.streaming.peaks import stream_static_enrich

    base = dt.datetime(2026, 1, 1)
    rows = [(base, 1, 1.0), (base, 99, 2.0)]
    src = os.path.join(str(tmp_path), "enr")
    spark.createDataFrame(rows, "ts timestamp, user_id long, value double").write.parquet(src)
    stream = spark.readStream.schema("ts timestamp, user_id long, value double").parquet(src)
    dim = spark.createDataFrame(
        [(1, "ACME")], "c_custkey long, c_name string"
    )
    q = (
        stream_static_enrich(stream, dim)
        .writeStream.format("memory")
        .queryName("enr_sink")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {(r.user_id, r.c_name) for r in spark.sql("select * from enr_sink").collect()}
    finally:
        q.stop()
    assert got == {(1, "ACME"), (99, None)}  # left join keeps unmatched


def test_streaming_envelope_fn_property_vs_batch(spark):
    """Drive the stateful function directly (stub GroupState) over many
    random signals — plateaus, NaN-free monotone runs, NULL samples
    (with their mask), random splits — and require bit-equality with
    the batch operator on every emitted row. One multi-channel batch
    job covers all cases."""
    import numpy as np
    import pandas as pd

    from myodish_peak_analysis_spark.operators.envelopes import with_raw_envelopes
    from myodish_peak_analysis_spark.streaming.peaks import make_envelope_fn


    rng = np.random.default_rng(42)
    W = 10
    cases = []
    for c in range(16):
        n = int(rng.integers(15, 120))
        if c % 4 == 0:  # heavily quantized -> many plateaus
            vals = rng.integers(0, 4, n).astype(float)
        elif c % 4 == 1:
            vals = np.round(np.cumsum(rng.standard_normal(n)), 2)
        elif c % 4 == 2:  # monotone stretch then noise
            vals = np.concatenate(
                [np.arange(n // 2, dtype=float), rng.standard_normal(n - n // 2)]
            )
        else:  # sprinkle NaNs (runs of them too) -> Spark NaN semantics
            vals = np.round(rng.standard_normal(n), 1)
            vals[rng.random(n) < 0.25] = float("nan")
        cases.append((c, vals, np.zeros(n, bool)))
    # NULL-holed channels (single NULLs and NULL runs, next to plateaus
    # and NaN); their own generator keeps the cases above as they were
    rng_null = np.random.default_rng(43)
    for c in range(16, 24):
        n = int(rng_null.integers(15, 120))
        vals = rng_null.integers(0, 4, n).astype(float)
        if c % 2:
            vals[rng_null.random(n) < 0.2] = float("nan")
        null = rng_null.random(n) < 0.15
        null[n // 3 : n // 3 + 2] = True
        vals[null] = float("nan")
        cases.append((c, vals, null))

    rows = [
        (c, i, None if nl else float(v))
        for c, vals, null in cases
        for i, (v, nl) in enumerate(zip(vals, null))
    ]
    batch = with_raw_envelopes(
        spark.createDataFrame(rows, SIG_SCHEMA),
        value_col="signal_value",
        window_size=W,
    )
    expect = {
        (r.channel_id, r.sample_idx): (r.floor_raw, r.ceil_raw)
        for r in batch.collect()
    }

    fn = make_envelope_fn(W)
    total_emitted = 0
    for c, vals, null in cases:
        state = StubState()
        cut = int(rng.integers(1, len(vals)))  # random micro-batch split
        emitted = []
        for lo, hi in ((0, cut), (cut, len(vals))):
            pdf = pd.DataFrame(
                {
                    "channel_id": c,
                    "sample_idx": range(lo, hi),
                    "signal_value": vals[lo:hi],
                    "is_null": null[lo:hi],
                }
            )
            for out in fn((c,), iter([pdf]), state):
                emitted.extend(out.itertuples(index=False))
        def same(a, b):
            # The Arrow boundary surfaces NaN as NULL (and the in-process
            # pandas frame coerces None to NaN), so NULL and NaN form one
            # equivalence class here; any NUMERIC mismatch still fails.
            a_miss = a is None or (isinstance(a, float) and np.isnan(a))
            b_miss = b is None or (isinstance(b, float) and np.isnan(b))
            if a_miss or b_miss:
                return a_miss and b_miss
            return a == b

        for r in emitted:
            exp = expect[(r.channel_id, r.sample_idx)]
            assert same(r.floor_raw, exp[0]) and same(r.ceil_raw, exp[1]), (
                c, r.sample_idx, (r.floor_raw, r.ceil_raw), exp
            )
        total_emitted += len(emitted)
    assert total_emitted > 300  # the property actually exercised rows


def test_streaming_pack_fn_matches_batch_across_batch_boundaries(spark):
    """Drive make_pack_fn with a stub GroupState over random doc sizes
    split at random micro-batch boundaries; every emitted span must
    bit-match the batch pack_chunks manifest for the same docs."""
    import numpy as np
    import pandas as pd

    from myodish_peak_analysis_spark.llm.packing import pack_chunks
    from myodish_peak_analysis_spark.streaming.peaks import make_pack_fn


    rng = np.random.default_rng(7)
    cap = 13
    docs = [
        (int(d), " ".join("w" for _ in range(int(rng.integers(1, 40)))), f"s{d % 3}")
        for d in range(60)
    ]
    batch = pack_chunks(
        spark.createDataFrame(docs, "doc_id long, text string, source string"),
        capacity=cap,
    )
    expect = {
        (r.shard, r.chunk_id, r.doc_id): (r.begin_tok, r.end_tok)
        for r in batch.collect()
    }

    got = {}
    for shard in ("s0", "s1", "s2"):
        mine = [(d, len(t.split(" "))) for d, t, s in docs if s == shard]
        state = StubState()
        fn = make_pack_fn(cap)
        cuts = sorted(rng.choice(range(1, len(mine)), size=3, replace=False))
        bounds = [0, *cuts, len(mine)]
        for lo, hi in zip(bounds, bounds[1:]):
            pdf = pd.DataFrame(
                {
                    "doc_id": [d for d, _ in mine[lo:hi]],
                    "n_tok": [n for _, n in mine[lo:hi]],
                }
            )
            (out,) = fn((shard,), iter([pdf]), state)
            for r in out.itertuples():
                got[(r.shard, r.chunk_id, r.doc_id)] = (r.begin_tok, r.end_tok)
    assert got == expect


def test_streaming_pack_chunks_end_to_end(spark, tmp_path):
    """Real streaming engine smoke: one micro-batch through
    applyInPandasWithState produces the batch manifest."""
    import os

    from myodish_peak_analysis_spark.llm.packing import pack_chunks
    from myodish_peak_analysis_spark.streaming.peaks import streaming_pack_chunks

    schema = "doc_id long, text string, source string"
    rows = [(d, " ".join("w" for _ in range(d + 1)), "a") for d in range(10)]
    src = os.path.join(str(tmp_path), "docs")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        streaming_pack_chunks(stream, capacity=7)
        .writeStream.format("memory")
        .queryName("pack_sink")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.shard, r.chunk_id, r.doc_id): (r.begin_tok, r.end_tok)
            for r in spark.sql("select * from pack_sink").collect()
        }
    finally:
        q.stop()
    expect = {
        (r.shard, r.chunk_id, r.doc_id): (r.begin_tok, r.end_tok)
        for r in pack_chunks(
            spark.createDataFrame(rows, schema), capacity=7
        ).collect()
    }
    assert got == expect


def test_streaming_pack_fn_sorts_across_arrow_chunks(spark):
    """A group bigger than the Arrow batch size arrives as MULTIPLE
    pdfs in arbitrary order within one micro-batch; the packer must
    sort across all of them, not per chunk."""
    import pandas as pd

    from myodish_peak_analysis_spark.streaming.peaks import make_pack_fn


    fn = make_pack_fn(10)
    pdfs = [
        pd.DataFrame({"doc_id": [2], "n_tok": [7]}),
        pd.DataFrame({"doc_id": [1], "n_tok": [5]}),
    ]
    (out,) = fn(("s",), iter(pdfs), StubState())
    got = {(r.chunk_id, r.doc_id): (r.begin_tok, r.end_tok) for r in out.itertuples()}
    # doc 1 (5 toks) packs first: chunk0 [0,5); doc 2 fills chunk0 [0,5)
    # then spills into chunk1 [5,7)
    assert got == {(0, 1): (0, 5), (0, 2): (0, 5), (1, 2): (5, 7)}


def test_streaming_pack_chunks_recovers_state_from_checkpoint(spark, tmp_path):
    """Kill the query between micro-batches and restart from the same
    checkpoint: the per-shard token offset must survive, so the restarted
    stream continues packing mid-chunk exactly where the first run
    stopped (the crash-recovery contract of a stateful ingest pipeline)."""
    import os

    from myodish_peak_analysis_spark.llm.packing import pack_chunks
    from myodish_peak_analysis_spark.streaming.peaks import streaming_pack_chunks

    schema = "doc_id long, text string, source string"
    all_rows = [(d, " ".join("w" for _ in range(5)), "a") for d in range(8)]
    src = os.path.join(str(tmp_path), "docs")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    sink = os.path.join(str(tmp_path), "sink")
    os.makedirs(src, exist_ok=True)

    def start():
        # file sink, not memory: the memory sink does not support
        # restarting from a checkpoint (by design — test-only sink)
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1
        ).parquet(src)
        return (
            streaming_pack_chunks(stream, capacity=7)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    spark.createDataFrame(all_rows[:4], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    spark.createDataFrame(all_rows[4:], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r.shard, r.chunk_id, r.doc_id): (r.begin_tok, r.end_tok)
        for r in spark.read.parquet(sink).collect()
    }
    expect = {
        (r.shard, r.chunk_id, r.doc_id): (r.begin_tok, r.end_tok)
        for r in pack_chunks(
            spark.createDataFrame(all_rows, schema), capacity=7
        ).collect()
    }
    # both runs appended to the same file sink -> the union must be the
    # exact batch manifest (chunk ids continue mid-chunk: 4 docs x 5
    # tokens = offset 20 -> doc 4 resumes inside chunk 2)
    assert ("a", 2, 4) in got  # continuation straddles chunk 2/3 boundary
    assert got == expect


def test_streaming_funnel_matches_batch_stage_counts(spark):
    """Random event streams split at random micro-batch boundaries:
    aggregated stage counts from the streaming tracker must equal the
    batch funnel_counts report."""
    import numpy as np
    import pandas as pd

    from myodish_peak_analysis_spark.operators.sessions import funnel_counts
    from myodish_peak_analysis_spark.streaming.peaks import make_funnel_fn


    rng = np.random.default_rng(11)
    types = ["view", "click", "purchase", "error"]
    rows = []
    for user in range(25):
        n = int(rng.integers(1, 12))
        for i in range(n):
            rows.append((user, types[int(rng.integers(0, 4))], (i + 1) * 1_000_000))

    ev = spark.createDataFrame(rows, "user_id long, event_type string, ts long")
    batch = {
        r.step: r.n_users for r in funnel_counts(ev).collect()
    }

    reached: dict = {}
    for user in range(25):
        mine = [(t, ts // 1000) for u, t, ts in rows if u == user]
        state = StubState()
        fn = make_funnel_fn()
        cut = int(rng.integers(0, len(mine))) if len(mine) > 1 else 0
        for lo, hi in ((0, cut), (cut, len(mine))):
            if hi <= lo:
                continue
            pdf = pd.DataFrame(
                {
                    "user_id": user,
                    "event_type": [t for t, _ in mine[lo:hi]],
                    "ts_us": [ts for _, ts in mine[lo:hi]],
                }
            )
            (out,) = fn((user,), iter([pdf]), state)
            for r in out.itertuples():
                reached.setdefault(r.step, set()).add(r.user_id)
    stream = {k: len(v) for k, v in reached.items()}
    assert stream == {k: v for k, v in batch.items() if v > 0}


def test_streaming_funnel_end_to_end(spark, tmp_path):
    from myodish_peak_analysis_spark.streaming.peaks import streaming_funnel_stages

    us = 1_000
    schema = "event_id long, ts long, user_id long, event_type string"
    b1 = [(1, 1 * us, 7, "view"), (2, 2 * us, 7, "click")]
    b2 = [(3, 3 * us, 7, "purchase"), (4, 4 * us, 8, "view")]
    src = os.path.join(str(tmp_path), "ev")
    for rows in (b1, b2):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        streaming_funnel_stages(stream)
        .writeStream.format("memory")
        .queryName("funnel_sink")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.user_id, r.step, r.event_type)
            for r in spark.sql("select * from funnel_sink").collect()
        }
    finally:
        q.stop()
    # user 7 fully converts (file order may swap batches; stage entries
    # only ever appear once per user either way), user 8 reaches step 1
    assert (7, 1, "view") in got and (8, 1, "view") in got
    assert len([g for g in got if g[0] == 7]) <= 3


def test_streaming_zscores_causal_and_cross_batch(spark):
    """Online z-scores: each event scored against PRIOR moments only,
    state carried across micro-batches — verified against a hand-rolled
    causal reference."""
    import math

    import pandas as pd

    from myodish_peak_analysis_spark.streaming.peaks import make_zscore_fn

    vals = [10.0, 12.0, 11.0, 10.5, 30.0, 11.5]
    fn = make_zscore_fn()
    state = StubState()
    got = {}
    for lo, hi in ((0, 2), (2, 6)):  # split mid-stream
        pdf = pd.DataFrame(
            {
                "event_id": range(lo, hi),
                "value": vals[lo:hi],
            }
        )
        (out,) = fn((7,), iter([pdf]), state)
        for r in out.itertuples():
            z = None if (isinstance(r.zscore, float) and math.isnan(r.zscore)) else r.zscore
            got[r.event_id] = (z, r.n_seen)

    # reference: causal z over exact integer micro-units
    n = s = 0
    q = 0.0
    want = {}
    for i, v in enumerate(vals):
        vu = round(v * 1e6)
        z = None
        if n >= 3:
            rad = n * q - float(s) * s
            if rad > 0:
                z = round((n * vu - s) / math.sqrt(n * rad), 6)
        want[i] = (z, n)
        n, s, q = n + 1, s + vu, q + float(vu) * vu

    assert got == want
    assert got[0][0] is None and got[2][0] is None  # too few priors
    assert got[4][0] > 3.0  # the 30.0 spike is a strong outlier


def test_streaming_find_peaks_matches_batch_across_boundary(spark, tmp_path):
    """Constrained streaming peaks (P1): a peak whose wlen-neighborhood
    and suppression component span the micro-batch split must come out
    bit-identical to the batch native_find_peaks row; on a NULL-holed
    channel the stateful function keeps the batch peaks at every split."""
    import math

    import numpy as np
    import pandas as pd

    from myodish_peak_analysis_spark.operators.native_peaks import (
        native_find_peaks,
    )
    from myodish_peak_analysis_spark.streaming.peaks import (
        make_constrained_peaks_fn,
        streaming_find_peaks,
    )

    # three clean bumps on a flat floor; the one at 30 straddles the split
    def bump(i, c):
        return 2.0 * math.exp(-((i - c) ** 2) / 8.0)

    vals = [round(bump(i, 10) + bump(i, 30) + bump(i, 50), 6) for i in range(60)]
    rows = [(0, i, v) for i, v in enumerate(vals)]
    src = _write_batches(spark, str(tmp_path), [rows[:35], rows[35:]])

    stream = (
        spark.readStream.schema(SIG_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    kw = dict(distance=5, prominence=0.5, width=1.0, rel_height=0.3, wlen=20)
    q = (
        streaming_find_peaks(stream, **kw)
        .writeStream.format("memory")
        .queryName("cpeaks_sink")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r.peak_idx: (r.peak_value, r.prominence, r.width)
            for r in spark.sql("select * from cpeaks_sink").collect()
        }
    finally:
        q.stop()

    batch = {
        r.peak_idx: (r.peak_value, r.prominence, r.width)
        for r in native_find_peaks(
            spark.createDataFrame(rows, SIG_SCHEMA),
            value_col="signal_value",
            **kw,
        ).collect()
    }
    # peaks 10 and 30 are decidable (neighborhood fully arrived); 50 has
    # p + wlen//2 = 60 past the stream end and stays pending
    assert set(got) == {10, 30}
    assert set(batch) == {10, 30, 50}
    for p in got:
        assert got[p] == batch[p], (p, got[p], batch[p])

    # NULL rule, every constraint off: the NULL joins the run [2.9] before
    # it, which the 1.0 after the NULL fences, so 2.9 stays a peak. Read
    # as NaN, the NULL would be a higher sample and 2.9 no peak.
    null_vals = [0.0, 1.0, 1.8, 2.9, None, 1.0, 0.5, 2.0, 0.1, 0.0, 0.0]
    off = dict(distance=None, prominence=None, width=None)
    batch_null = {
        r.peak_idx
        for r in native_find_peaks(
            spark.createDataFrame(
                [(1, i, v) for i, v in enumerate(null_vals)], SIG_SCHEMA
            ),
            value_col="signal_value",
            **off,
        ).collect()
    }
    assert batch_null == {3, 7}
    for cut in range(1, len(null_vals)):
        fn, state, got_null = make_constrained_peaks_fn(**off), StubState(), set()
        for lo, hi in ((0, cut), (cut, len(null_vals))):
            part = null_vals[lo:hi]
            pdf = pd.DataFrame(
                {
                    "channel_id": 1,
                    "sample_idx": range(lo, hi),
                    "signal_value": [np.nan if v is None else v for v in part],
                    "is_null": [v is None for v in part],
                }
            )
            for out in fn((1,), iter([pdf]), state):
                got_null |= set(out.peak_idx)
        assert got_null == batch_null, cut


def test_streaming_find_peaks_fn_split_invariant_vs_golden(spark):
    """Drive the stateful function directly (StubState) over random
    signals: (a) any micro-batch split yields the same emissions as one
    big batch; (b) every emission matches the golden NumPy find_peaks
    chain exactly (index, value, prominence, width)."""
    import numpy as np
    import pandas as pd

    from myodish_peak_analysis_spark.functions.sigproc import (
        _select_by_distance,
        local_maxima_plateau,
        peak_prominences,
        peak_widths,
    )
    from myodish_peak_analysis_spark.streaming.peaks import (
        make_constrained_peaks_fn,
    )

    rng = np.random.default_rng(19)
    kw = dict(distance=5, prominence=0.1, width=1.0, rel_height=0.3, wlen=20)

    def golden(y):
        peaks, _, _ = local_maxima_plateau(y)
        if peaks.size:
            keep = _select_by_distance(peaks, y[peaks], kw["distance"])
            peaks = peaks[keep]
        proms, lb, rb = peak_prominences(y, peaks, kw["wlen"])
        keep = proms >= kw["prominence"]
        peaks, proms, lb, rb = peaks[keep], proms[keep], lb[keep], rb[keep]
        widths = peak_widths(y, peaks, kw["rel_height"], proms, lb, rb)
        keep = widths >= kw["width"]
        return {
            int(p): (float(y[p]), float(pr), float(w))
            for p, pr, w in zip(peaks[keep], proms[keep], widths[keep])
        }

    def drive(vals, cuts):
        fn = make_constrained_peaks_fn(**kw)
        state = StubState()
        got = {}
        bounds = [0] + sorted(cuts) + [len(vals)]
        for lo, hi in zip(bounds, bounds[1:]):
            if lo == hi:
                continue
            pdf = pd.DataFrame(
                {
                    "channel_id": 0,
                    "sample_idx": range(lo, hi),
                    "signal_value": vals[lo:hi],
                    "is_null": False,
                }
            )
            for out in fn((0,), iter([pdf]), state):
                for r in out.itertuples(index=False):
                    got[int(r.peak_idx)] = (
                        float(r.peak_value),
                        float(r.prominence),
                        float(r.width),
                    )
        return got

    total = 0
    for case in range(8):
        n = int(rng.integers(80, 220))
        if case % 3 == 0:  # quantized -> plateaus
            y = np.round(np.cumsum(rng.standard_normal(n)), 1)
        else:
            y = np.cumsum(rng.standard_normal(n))
        y = np.asarray(y, dtype=np.float64)

        one = drive(y, [])
        split = drive(y, list(rng.integers(1, n, size=3)))
        assert one == split  # micro-batch splits never change emissions

        gold = golden(y)
        for p, vals_ in one.items():
            assert p in gold, f"emitted non-golden peak {p}"
            assert vals_ == gold[p], (p, vals_, gold[p])
        total += len(one)
    assert total >= 10  # the suite actually exercised emissions


def test_streaming_transitions_match_batch_matrix(spark):
    """Random per-user event streams split at random micro-batch
    boundaries: aggregating the emitted (src, dst) pairs must equal the
    batch event_transitions counts."""
    import numpy as np
    import pandas as pd

    from myodish_peak_analysis_spark.operators.sessions import (
        event_transitions,
    )
    from myodish_peak_analysis_spark.streaming.peaks import (
        make_transition_fn,
    )

    rng = np.random.default_rng(23)
    types = ["view", "click", "purchase", "error"]
    rows = []
    eid = 0
    for user in range(20):
        n = int(rng.integers(1, 10))
        for i in range(n):
            rows.append(
                (eid, (i + 1) * 1_000_000_000, user,
                 types[int(rng.integers(0, 4))])
            )
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts long, user_id long, event_type string"
    )
    batch = {
        (r.src, r.dst): r.n for r in event_transitions(ev).collect()
    }

    emitted: dict = {}
    for user in range(20):
        mine = [(e, ts // 1000, t) for e, ts, u, t in rows if u == user]
        state = StubState()
        fn = make_transition_fn()
        cut = int(rng.integers(0, len(mine))) if len(mine) > 1 else 0
        for lo, hi in ((0, cut), (cut, len(mine))):
            if hi <= lo:
                continue
            pdf = pd.DataFrame(
                {
                    "event_id": [e for e, _, _ in mine[lo:hi]],
                    "user_id": user,
                    "event_type": [t for _, _, t in mine[lo:hi]],
                    "ts_us": [ts for _, ts, _ in mine[lo:hi]],
                }
            )
            (out,) = fn((user,), iter([pdf]), state)
            for r in out.itertuples():
                emitted[(r.src, r.dst)] = emitted.get((r.src, r.dst), 0) + 1
    assert emitted == batch


def test_streaming_transitions_end_to_end(spark, tmp_path):
    from myodish_peak_analysis_spark.streaming.peaks import (
        streaming_transitions,
    )

    us = 1_000
    schema = "event_id long, ts long, user_id long, event_type string"
    b1 = [(1, 1 * us, 7, "view"), (2, 2 * us, 7, "click")]
    b2 = [(3, 3 * us, 7, "purchase"), (4, 4 * us, 8, "view")]
    src = os.path.join(str(tmp_path), "trans_ev")
    for rows in (b1, b2):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming_transitions(stream)
        .writeStream.format("memory")
        .queryName("trans_sink")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.user_id, r.src, r.dst)
            for r in spark.sql("select * from trans_sink").collect()
        }
    finally:
        q.stop()
    # user 7's pairs span the batch boundary (file order may swap the
    # batches; either order yields exactly two pairs for user 7)
    assert len([g for g in got if g[0] == 7]) == 2
    assert not [g for g in got if g[0] == 8]  # single event: no pair


def test_streaming_find_peaks_suppression_only_emits_immediately(spark):
    """distance-only config: a sealed survivor needs no neighborhood, so
    it must emit without waiting for wlen//2 trailing samples (matching
    the batch route, which skips the gather in this mode)."""
    import numpy as np
    import pandas as pd

    from myodish_peak_analysis_spark.functions import sigproc
    from myodish_peak_analysis_spark.streaming.peaks import (
        make_constrained_peaks_fn,
    )

    # smooth signal with peaks ~63 samples apart (> distance), so
    # suppression components seal as the stream advances — the operator
    # targets SG-smoothed signals, where candidates are sparse (a raw
    # noisy signal is one never-sealing component by construction)
    y = np.sin(np.arange(400) / 10.0) + 0.001 * np.arange(400)
    fn = make_constrained_peaks_fn(
        distance=20, prominence=None, width=None, wlen=250
    )
    state = StubState()
    got = []
    for lo, hi in ((0, 150), (150, 400)):
        pdf = pd.DataFrame(
            {
                "sample_idx": np.arange(lo, hi),
                "signal_value": y[lo:hi],
                "is_null": False,
            }
        )
        (out,) = fn((1,), iter([pdf]), state)
        got += [(r.peak_idx, r.peak_value) for r in out.itertuples()]
    idxs = sigproc.find_peaks(y, distance=20, prominence=None, width=None)
    ref = [(int(p), float(y[p])) for p in idxs]
    # decided prefix: everything except peaks in the still-open tail
    # component must be emitted; with distance-only there is no wlen
    # wait, so at minimum every reference peak more than `distance`
    # before the final candidate is present
    assert got == [r for r in ref if r in got]  # order + subset of ref
    assert len(got) >= len(ref) - 2
    assert all(p <= 400 for p, _ in got)


def test_streaming_find_peaks_state_bounded_and_exact_on_raw_noise(spark):
    """The round-4 caveat closed: on an UNSMOOTHED noisy signal the
    whole stream is one suppression component (no candidate gap ever
    reaches `distance`), and the old implementation's pending set grew
    with the stream. Tier-1 exact compaction must now (a) hold pending
    candidates and the sample buffer at O(wlen) while (b) emitting a
    decided prefix bit-identical to the golden batch chain, in
    position order, split-invariantly."""
    import numpy as np
    import pandas as pd

    from myodish_peak_analysis_spark.functions.sigproc import (
        _select_by_distance,
        local_maxima_plateau,
        peak_prominences,
        peak_widths,
    )
    from myodish_peak_analysis_spark.streaming.peaks import (
        make_constrained_peaks_fn,
    )

    kw = dict(distance=5, prominence=0.1, width=1.0, rel_height=0.3, wlen=20)
    rng = np.random.default_rng(17)
    y = rng.standard_normal(5000)

    def golden(y):
        peaks, _, _ = local_maxima_plateau(y)
        if peaks.size:
            peaks = peaks[_select_by_distance(peaks, y[peaks], kw["distance"])]
        proms, lb, rb = peak_prominences(y, peaks, kw["wlen"])
        m = proms >= kw["prominence"]
        peaks, proms, lb, rb = peaks[m], proms[m], lb[m], rb[m]
        widths = peak_widths(y, peaks, kw["rel_height"], proms, lb, rb)
        m = widths >= kw["width"]
        return {
            int(p): (float(y[p]), float(pr), float(w))
            for p, pr, w in zip(peaks[m], proms[m], widths[m])
        }

    def drive(cuts):
        fn = make_constrained_peaks_fn(**kw)
        state = StubState()
        got, max_pend, max_buf, last, ordered = {}, 0, 0, -1, True
        bounds = [0] + sorted(set(cuts)) + [len(y)]
        for lo, hi in zip(bounds, bounds[1:]):
            if lo == hi:
                continue
            pdf = pd.DataFrame(
                {
                    "channel_id": 0,
                    "sample_idx": range(lo, hi),
                    "signal_value": y[lo:hi],
                    "is_null": False,
                }
            )
            for out in fn((0,), iter([pdf]), state):
                for r in out.itertuples(index=False):
                    ordered &= r.peak_idx > last
                    last = int(r.peak_idx)
                    got[int(r.peak_idx)] = (
                        float(r.peak_value),
                        float(r.prominence),
                        float(r.width),
                    )
            s = state.get
            max_pend = max(max_pend, len(s[6]))
            max_buf = max(max_buf, len(s[1]))
        return got, max_pend, max_buf, ordered

    gold = golden(y)
    cuts = sorted(rng.integers(1, 5000, size=9).tolist())
    got, max_pend, max_buf, ordered = drive(cuts)

    # (a) bounded state: ~n/3 candidates arrive; retention is O(wlen)
    assert max_pend <= 2 * kw["wlen"], max_pend
    assert max_buf <= 4 * kw["wlen"], max_buf
    assert ordered  # decided-prefix emission stays position-ordered
    # (b) exact parity on the decided prefix: nothing extra, nothing
    # wrong, nothing missing except the undecided tail
    for p, v in got.items():
        assert gold.get(p) == v, (p, v, gold.get(p))
    missing = [p for p in gold if p not in got]
    assert all(p >= 4700 for p in missing), missing[:5]
    # (c) split invariance with the compaction active
    got2, _, _, _ = drive(sorted(rng.integers(1, 5000, size=6).tolist()))
    assert got == got2


def test_streaming_find_peaks_span_guard_on_adversarial_ramp(spark):
    """Tier-2 guard: candidates with strictly increasing values spaced
    closer than `distance` taint arbitrarily far back (each arrival
    really can flip every earlier greedy decision), so exact compaction
    cannot bound them — the hard span guard must force-seal and keep
    the pending span at max_component_span while the unguarded run
    grows with the stream."""
    import numpy as np
    import pandas as pd

    from myodish_peak_analysis_spark.streaming.peaks import (
        make_constrained_peaks_fn,
    )

    n = 4000
    y = np.zeros(n)
    for i in range(1, n, 4):
        y[i] = 1.0 + i * 1e-3  # ramp: peaks every 4 < distance=5

    def drive(span):
        fn = make_constrained_peaks_fn(
            distance=5, prominence=None, width=None, wlen=20,
            max_component_span=span,
        )
        state = StubState()
        emitted, max_span = 0, 0
        for lo in range(0, n, 500):
            hi = min(lo + 500, n)
            pdf = pd.DataFrame(
                {
                    "channel_id": 0,
                    "sample_idx": range(lo, hi),
                    "signal_value": y[lo:hi],
                    "is_null": False,
                }
            )
            for out in fn((0,), iter([pdf]), state):
                emitted += len(out)
            pend_p = state.get[6]
            if len(pend_p) > 1:
                max_span = max(max_span, pend_p[-1] - pend_p[0])
        return emitted, max_span

    emitted_def, span_def = drive(None)  # default guard = 4*wlen = 80
    emitted_off, span_off = drive(10**9)
    assert span_def <= 80
    assert span_off > 1000  # without the guard the component grows
    assert emitted_def > 900  # guarded run emits a decided prefix
    assert emitted_off == 0  # unguarded run strands everything


def test_streaming_neardup_gate_batch_parity(spark, tmp_path):
    """The streaming gate must emit exactly the batch
    incremental_neardup pairs for the same new-batch/corpus split."""
    import datetime as dt

    from myodish_peak_analysis_spark.llm.dedup import incremental_neardup
    from myodish_peak_analysis_spark.schema import read_table
    from myodish_peak_analysis_spark.streaming.peaks import (
        streaming_neardup_gate,
    )

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    new_docs = docs.filter("doc_id % 10 = 0")
    corpus = docs.filter("doc_id % 10 != 0")
    want = sorted(
        (r.new_doc_id, r.corpus_doc_id, r.jaccard)
        for r in incremental_neardup(new_docs, corpus).collect()
    )

    base = dt.datetime(2026, 1, 1)
    src = os.path.join(str(tmp_path), "newdocs")
    new_docs.selectExpr(
        "doc_id", "text", f"timestamp '{base.isoformat()}' AS ts"
    ).write.parquet(src)
    stream = spark.readStream.schema(
        "doc_id long, text string, ts timestamp"
    ).parquet(src)
    q = (
        streaming_neardup_gate(stream, corpus)
        .writeStream.format("memory")
        .queryName("neardup_gate_sink")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(
            (r.new_doc_id, r.corpus_doc_id, r.jaccard)
            for r in spark.sql("select * from neardup_gate_sink").collect()
        )
    finally:
        q.stop()
    assert got == want
    assert len(want) > 0  # the sf0.001 split does produce pairs


def test_streaming_attribution_matches_batch_join(spark, tmp_path):
    """Stream-stream event-time join parity: the attribution pairs
    must equal the batch inequality join over the same split."""
    from pyspark.sql import functions as F

    from myodish_peak_analysis_spark.schema import read_table, ts_micros
    from myodish_peak_analysis_spark.streaming.peaks import (
        streaming_attribution,
    )

    ev = read_table(spark, "/root/testdata/sf0.001", "events")
    views = ev.filter("event_type = 'view'").select("user_id", "ts")
    buys = ev.filter("event_type = 'purchase'").select(
        "user_id", "ts", "value"
    )
    win = 3600 * 1_000_000
    vb = views.select(
        "user_id", ts_micros(views).alias("view_us")
    )
    pb = buys.select(
        F.col("user_id").alias("p_user"),
        ts_micros(buys).alias("purchase_us"),
        F.col("value").alias("purchase_value"),
    )
    want = sorted(
        (r.user_id, r.view_us, r.purchase_us)
        for r in vb.join(
            pb,
            (vb.user_id == pb.p_user)
            & (pb.purchase_us > vb.view_us)
            & (pb.purchase_us <= vb.view_us + win),
        ).collect()
    )
    assert len(want) > 0

    vsrc = os.path.join(str(tmp_path), "views")
    psrc = os.path.join(str(tmp_path), "buys")
    views.write.parquet(vsrc)
    buys.write.parquet(psrc)
    # harness ts is TIMESTAMP(NANOS) in parquet; the streaming reader
    # needs the same long-nanos schema the batch reader resolves to
    vs = spark.readStream.schema(views.schema).parquet(vsrc)
    ps = spark.readStream.schema(buys.schema).parquet(psrc)
    q = (
        streaming_attribution(vs, ps, window_us=win)
        .writeStream.format("memory")
        .queryName("attr_sink")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(
            (r.user_id, r.view_us, r.purchase_us)
            for r in spark.sql("select * from attr_sink").collect()
        )
    finally:
        q.stop()
    assert got == want


def test_streaming_chunk_overlap_matches_batch(spark, tmp_path):
    """chunk_overlap is stateless map-side work, so the streaming twin
    must produce exactly the batch rows in append mode with no state
    store."""
    import os

    from myodish_peak_analysis_spark.llm.packing import chunk_overlap
    from myodish_peak_analysis_spark.streaming.peaks import (
        streaming_chunk_overlap,
    )

    schema = "doc_id long, text string"
    rows = [
        (d, " ".join(f"w{d}_{i}" for i in range(5 + 13 * d))) for d in range(8)
    ]
    src = os.path.join(str(tmp_path), "docs")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        streaming_chunk_overlap(stream, size=8, stride=6)
        .writeStream.format("memory")
        .queryName("chunk_sink")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.doc_id, r.chunk_idx): (r.text_chunk, r.n_tokens)
            for r in spark.sql("select * from chunk_sink").collect()
        }
    finally:
        q.stop()
    expect = {
        (r.doc_id, r.chunk_idx): (r.text_chunk, r.n_tokens)
        for r in chunk_overlap(
            spark.createDataFrame(rows, schema), size=8, stride=6
        ).collect()
    }
    assert got == expect


def test_streaming_ann_serve_matches_batch(spark, tmp_path):
    """foreachBatch ANN serving: micro-batch results equal the batch
    ivf_pq_search row-for-row (queries are independent, so splitting
    the query set across micro-batches changes nothing)."""
    import os

    from pyspark.sql import functions as F

    from myodish_peak_analysis_spark.llm.similarity import (
        fit_ivf_pq_index,
        ivf_pq_search,
    )
    from myodish_peak_analysis_spark.schema import read_table
    from myodish_peak_analysis_spark.streaming.peaks import make_ann_serve_fn

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = fit_ivf_pq_index(emb, n_clusters=4)
    qs = emb.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 7000).alias("query_id"), "embedding"
    )
    src = os.path.join(str(tmp_path), "queries")
    # two files -> maxFilesPerTrigger=1 forces two genuine micro-batches
    qs.repartition(2).write.parquet(src)

    collected = []
    epochs = set()

    def sink(df, epoch_id):
        epochs.add(epoch_id)
        collected.extend(df.collect())

    stream = (
        spark.readStream.schema("query_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream.writeStream.foreachBatch(
        make_ann_serve_fn(idx, k=3, sink=sink)
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {(r.query_id, r.rank): (r.vec_id, r.cosine) for r in collected}
    expect = {
        (r.query_id, r.rank): (r.vec_id, r.cosine)
        for r in ivf_pq_search(qs, idx, k=3).collect()
    }
    assert got == expect and len(epochs) >= 2


def test_streaming_ann_ingest_matches_batch_append(spark, tmp_path):
    """foreachBatch ANN index ingest (round 11): after N micro-batches
    the ingestor's index serves EXACTLY what one batch ivf_pq_append of
    the union serves (the batch-split associativity contract carried
    onto the stream), vectors appended in an EARLIER micro-batch stay
    findable at rank 1 after later ones land, and the ingestor's
    appended counter matches the streamed mass."""
    import os

    from pyspark.sql import functions as F

    from myodish_peak_analysis_spark.llm.similarity import (
        fit_ivf_pq_index,
        ivf_pq_append,
        ivf_pq_search,
    )
    from myodish_peak_analysis_spark.schema import read_table
    from myodish_peak_analysis_spark.streaming.peaks import make_ann_ingest_fn

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    corpus = emb.filter(F.col("vec_id") % 10 > 1)
    new = emb.filter(F.col("vec_id") % 10 <= 1)
    idx = fit_ivf_pq_index(corpus, n_clusters=4)

    src = os.path.join(str(tmp_path), "vectors")
    # two files -> maxFilesPerTrigger=1 forces two genuine micro-batches
    new.select("vec_id", "embedding").repartition(2).write.parquet(src)
    fn, ingestor = make_ann_ingest_fn(idx)
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream.writeStream.foreachBatch(fn).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    n_new = new.count()
    assert ingestor.appended == n_new
    assert ingestor.index is not idx  # at least one batch landed
    qs = emb.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 7000).alias("query_id"), "embedding"
    )
    got = {
        (r.query_id, r.rank): (r.vec_id, r.cosine)
        for r in ivf_pq_search(qs, ingestor.index, k=3).collect()
    }
    one_shot = ivf_pq_append(idx, new.select("vec_id", "embedding"))
    expect = {
        (r.query_id, r.rank): (r.vec_id, r.cosine)
        for r in ivf_pq_search(qs, one_shot, k=3).collect()
    }
    assert got == expect

    # cross-batch findability: every streamed vector — whichever
    # micro-batch carried it — returns itself at rank 1, cosine 1.0
    probes = new.limit(4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = (
        ivf_pq_search(probes, ingestor.index, k=1)
        .filter("rank = 1")
        .collect()
    )
    assert len(top) == 4
    for r in top:
        assert r.vec_id == r.query_id and r.cosine == 1.0

    ingestor.release()
    assert all(
        not df.storageLevel.useMemory for df in ingestor.index.owned
    )
    one_shot.unpersist()
    idx.unpersist()


def test_streaming_span_serve_matches_batch(spark, tmp_path):
    """foreachBatch span-cut serving against prefit corpus stats:
    micro-batch results equal the batch scoped rewrite row-for-row
    (docs rewrite independently once the statistic is fixed, so
    splitting the doc set across micro-batches changes nothing), and
    the corpus statistic stays frozen — arriving docs never update it."""
    import os

    from myodish_peak_analysis_spark.llm.text import (
        fit_dup_gram_stats,
        remove_dup_spans_scoped,
    )
    from myodish_peak_analysis_spark.schema import read_table
    from myodish_peak_analysis_spark.streaming.peaks import make_span_serve_fn

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    corpus = docs.filter("doc_id % 10 != 0")
    arriving = docs.filter("doc_id % 10 = 0").select("doc_id", "text")
    stats = fit_dup_gram_stats(corpus)
    src = os.path.join(str(tmp_path), "arriving")
    # two files -> maxFilesPerTrigger=1 forces two genuine micro-batches
    arriving.repartition(2).write.parquet(src)

    collected = []
    epochs = set()

    def sink(df, epoch_id):
        epochs.add(epoch_id)
        collected.extend(df.collect())

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream.writeStream.foreachBatch(
        make_span_serve_fn(stats, sink=sink)
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {r.doc_id: (r.clean_text, r.n_tokens_kept, r.n_tokens_removed)
           for r in collected}
    expect = {
        r.doc_id: (r.clean_text, r.n_tokens_kept, r.n_tokens_removed)
        for r in remove_dup_spans_scoped(
            arriving, arriving.select("doc_id"), dup_grams=stats
        ).collect()
    }
    assert got == expect and len(epochs) >= 2
    assert len(got) == arriving.count()  # no-dup docs pass through too


def test_streaming_find_peaks_recovers_state_from_checkpoint(spark, tmp_path):
    """Kill the flagship stateful op between micro-batches and restart
    from the same checkpoint: the constrained-peaks state (open plateau
    runs, undecided candidates, suppression component) must survive the
    restart, so peaks straddling the crash point still come out
    bit-identical to the batch native_find_peaks."""
    import math
    import os

    from myodish_peak_analysis_spark.operators.native_peaks import (
        native_find_peaks,
    )
    from myodish_peak_analysis_spark.streaming.peaks import streaming_find_peaks

    def bump(i, c):
        return 2.0 * math.exp(-((i - c) ** 2) / 8.0)

    # the bump at 30 straddles the CRASH point (restart between files);
    # 75 samples so even peak 50's wlen neighborhood closes (p + wlen//2
    # = 60 must arrive — the decided-prefix contract)
    vals = [round(bump(i, 10) + bump(i, 30) + bump(i, 50), 6) for i in range(75)]
    rows = [(0, i, v) for i, v in enumerate(vals)]
    src = os.path.join(str(tmp_path), "sig")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    sink = os.path.join(str(tmp_path), "sink")
    os.makedirs(src, exist_ok=True)
    kw = dict(distance=5, prominence=0.5, width=1.0, rel_height=0.3, wlen=20)

    def start():
        stream = spark.readStream.schema(SIG_SCHEMA).option(
            "maxFilesPerTrigger", 1
        ).parquet(src)
        return (
            streaming_find_peaks(stream, **kw)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    spark.createDataFrame(rows[:32], SIG_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    spark.createDataFrame(rows[32:], SIG_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        r.peak_idx: (r.peak_value, r.prominence, r.width)
        for r in spark.read.parquet(sink).collect()
    }
    expect = {
        r.peak_idx: (r.peak_value, r.prominence, r.width)
        for r in native_find_peaks(
            spark.createDataFrame(rows, SIG_SCHEMA),
            value_col="signal_value",
            **kw,
        ).collect()
    }
    assert got == expect and 30 in got


def test_streaming_dsir_serve_matches_batch(spark, tmp_path):
    """foreachBatch DSIR scoring against a prefit log-ratio model:
    micro-batch scores equal the batch prefit scores row-for-row (docs
    score independently once the model is fixed), the model stays
    frozen, and the serve path needs no `source` column."""
    import os

    from myodish_peak_analysis_spark.llm.sampling import (
        dsir_logweights,
        fit_dsir_logratio,
    )
    from myodish_peak_analysis_spark.schema import read_table
    from myodish_peak_analysis_spark.streaming.peaks import make_dsir_serve_fn

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    model = fit_dsir_logratio(docs)
    arriving = docs.filter("doc_id % 10 = 0").select("doc_id", "text")
    src = os.path.join(str(tmp_path), "arriving_dsir")
    arriving.repartition(2).write.parquet(src)

    collected = []
    epochs = set()

    def sink(df, epoch_id):
        epochs.add(epoch_id)
        collected.extend(df.collect())

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream.writeStream.foreachBatch(
        make_dsir_serve_fn(model, sink=sink)
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {r.doc_id: (r.n_grams, r.logw) for r in collected}
    expect = {
        r.doc_id: (r.n_grams, r.logw)
        for r in dsir_logweights(arriving, logratio=model).collect()
    }
    assert got == expect and len(epochs) >= 2
    assert len(got) == arriving.count()


def test_streaming_drifted_ingest_trips_imbalance_and_refit_recovers(
    spark, tmp_path
):
    """The live ops loop end-to-end (VERDICT r11 ask #4): a foreachBatch
    ingest stream whose later micro-batches are mean-shifted off the
    fitted distribution. Expected from the measured decay curve
    (docs/SCALE.md "Append-without-refit recall decay"): the same-dist
    batch is quiet, drifted mass funnels into few frozen posting lists
    and trips the RELATIVE imbalance dial mid-stream (the mass dial is
    widened to 0.5 here so imbalance alone is demonstrably the
    tripper), AnnIngestor.maybe_refit fires inside the stream, and
    post-refit serving recall recovers to the fresh-fit level (the
    refit reads the grown corpus off the posting lists and re-derives
    centroids/codebooks, so it IS a fresh fit of corpus ∪ ingested)."""
    import os
    import time

    from pyspark.sql import functions as F

    from myodish_peak_analysis_spark.llm import similarity as S
    from myodish_peak_analysis_spark.schema import read_table
    from myodish_peak_analysis_spark.streaming.peaks import make_ann_ingest_fn
    from tools.bench_append_refit import _recall, _truth_topk

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    corpus = emb.filter(F.col("vec_id") % 2 == 0).select("vec_id", "embedding")
    held = emb.filter(F.col("vec_id") % 2 == 1).select(
        (F.col("vec_id") + 1_000_000_000).alias("vec_id"), "embedding"
    )

    def drifted(df):
        return df.select(
            "vec_id",
            F.expr(
                "transform(embedding, x -> CAST(x + 1.5 AS FLOAT))"
            ).alias("embedding"),
        )

    # micro-batch 0: same-distribution; 1 and 2: mean-shifted (+1.5)
    batches = [
        held.filter(F.col("vec_id") % 10 == 1),
        drifted(held.filter(F.col("vec_id") % 5 == 2)),
        drifted(held.filter(F.col("vec_id") % 5 == 3)),
    ]
    src = os.path.join(str(tmp_path), "ingest")
    for b in batches:
        b.coalesce(1).write.mode("append").parquet(src)
    # one part file per write; pin the arrival ORDER the scenario needs
    # (FileStreamSource processes by modification time) explicitly
    parts = sorted(
        (
            os.path.join(src, f)
            for f in os.listdir(src)
            if f.endswith(".parquet")
        ),
        key=lambda p: os.stat(p).st_mtime_ns,
    )
    assert len(parts) == 3
    t0 = time.time()
    for i, p in enumerate(parts):
        os.utime(p, (t0 + 10 * i, t0 + 10 * i))

    base = S.fit_ivf_pq_index(corpus, n_clusters="auto")
    fit_imb = S.index_health(base)["imbalance"]
    holder: dict = {}
    events: list = []

    def sink(index, epoch_id):
        ing = holder["ing"]
        v = S.needs_refit(
            index,
            appended_rows=ing.appended,
            baseline_imbalance=ing.fit_imbalance,
            max_appended_fraction=0.5,
        )
        fired = ing.maybe_refit(max_appended_fraction=0.5)
        events.append(
            {
                "epoch": epoch_id,
                "trip": v["refit"],
                "imbalance": v["health"]["imbalance"],
                "reasons": v["reasons"],
                "fired": fired,
            }
        )

    fn, ingestor = make_ann_ingest_fn(base, sink=sink)
    holder["ing"] = ingestor
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream.writeStream.foreachBatch(fn).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # the healthy batch must not trip; a later DRIFTED batch must trip
    # the imbalance dial and fire the refit INSIDE the stream
    nonempty = [e for e in events]
    assert nonempty[0]["fired"] is False and nonempty[0]["trip"] is False
    fired = [e for e in events if e["fired"]]
    assert fired, f"no refit fired mid-stream: {events}"
    first = fired[0]
    assert first["epoch"] > 0
    assert any("imbalance" in r for r in first["reasons"])
    # the MASS dial ("appended mass is N% of the index") must be quiet —
    # matched on its unique phrase, because the imbalance reason's body
    # also says "appended mass is funneling into few lists"
    assert not any("of the index" in r for r in first["reasons"])
    assert first["imbalance"] > 3.0 * fit_imb / 1.25

    # post-refit: counter reset, base replaced, index healthy again
    assert ingestor.appended == 0
    assert ingestor._base is ingestor.index
    assert ingestor.maybe_refit(max_appended_fraction=0.5) is False
    grown = corpus
    for b in batches:
        grown = grown.unionByName(b)
    grown = grown.cache()
    assert S.index_health(ingestor.index)["n_vectors"] == grown.count()

    # recall recovery: serve a mixed query set (half base, half drifted
    # — a drifted region no query lands in cannot lose recall) and
    # compare against a from-scratch fit on the identical grown corpus
    queries = (
        corpus.filter(F.col("vec_id") % 20 == 0)
        .unionByName(batches[2].filter(F.col("vec_id") % 3 == 0))
        .select((F.col("vec_id") + 10_000_000).alias("query_id"), "embedding")
    )
    truth = _truth_topk(queries, grown).cache()
    n_truth = truth.count()
    r_refit = _recall(
        S.ivf_pq_search(queries, ingestor.index, k=10), truth, n_truth
    )
    fresh = S.fit_ivf_pq_index(grown, n_clusters="auto")
    r_fresh = _recall(S.ivf_pq_search(queries, fresh, k=10), truth, n_truth)
    assert r_refit >= r_fresh - 0.05, (r_refit, r_fresh)

    # drifted vectors are first-class corpus members after the refit
    probe = (
        batches[1]
        .limit(2)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    top = S.ivf_pq_search(probe, ingestor.index, k=1).collect()
    assert len(top) == 2
    for r in top:
        assert r.vec_id == r.query_id and r.cosine == 1.0

    fresh.unpersist()
    truth.unpersist()
    grown.unpersist()
    ingestor.index.unpersist()
