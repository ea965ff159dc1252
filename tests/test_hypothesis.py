"""Hypothesis property tests for the NumPy signal kernels: each kernel
is compared against an independent formulation on random inputs — a
brute-force loop written straight from the documented behavior (no
SciPy in this environment, so the brute versions ARE the spec), or the
DuckDB oracle SQL the query hashes are checked against."""

import math

import duckdb
import numpy as np
import pyarrow as pa
from hypothesis import given, settings, strategies as st

from myodish_peak_analysis_spark.functions.sigproc import (
    find_peaks,
    local_maxima_plateau,
    savgol_coeffs,
    savgol_filter_nearest,
)
from myodish_peak_analysis_spark.operators.windows import (
    column_values,
    extrema_flags,
    extrema_flags_sql,
)

signals = st.lists(
    st.floats(min_value=-100, max_value=100, allow_nan=False, width=32),
    min_size=3,
    max_size=120,
)


def brute_local_maxima(y):
    """Straight-from-the-docs plateau maxima: strictly greater than the
    previous differing sample and the next differing sample."""
    out = []
    n = len(y)
    i = 1
    while i < n - 1:
        if y[i - 1] < y[i]:
            j = i
            while j + 1 < n and y[j + 1] == y[i]:
                j += 1
            if j + 1 < n and y[j + 1] < y[i]:
                out.append((i + j) // 2)
            i = j
        i += 1
    return out


@given(signals)
@settings(max_examples=200, deadline=None)
def test_local_maxima_matches_brute(y):
    y = np.asarray(y)
    mids, lefts, rights = local_maxima_plateau(y)
    assert list(mids) == brute_local_maxima(list(y))


@given(signals)
@settings(max_examples=100, deadline=None)
def test_distance_suppression_invariants(y):
    y = np.asarray(y)
    peaks = find_peaks(y, distance=5)
    # kept peaks are pairwise >= distance apart
    assert all(b - a >= 5 for a, b in zip(peaks, peaks[1:]))
    # every suppressed peak is within distance of a kept, higher-or-equal peak
    all_peaks = set(local_maxima_plateau(y)[0].tolist())
    kept = set(peaks.tolist())
    for p in all_peaks - kept:
        assert any(abs(p - k) < 5 and y[k] >= y[p] for k in kept)


@given(signals, st.integers(min_value=1, max_value=3))
@settings(max_examples=100, deadline=None)
def test_savgol_polynomial_reproduction(coeffs_seed, degree):
    # build a polynomial from the hypothesis-provided values as coeffs
    rng = np.random.default_rng(abs(hash(tuple(coeffs_seed))) % (2**32))
    c = rng.normal(size=degree + 1)
    x = np.arange(60, dtype=float)
    y = sum(ck * x**k for k, ck in enumerate(c))
    out = savgol_filter_nearest(y, 9, 3)
    assert np.allclose(out[4:-4], y[4:-4], rtol=1e-6, atol=1e-6)


@given(st.integers(min_value=1, max_value=12))
@settings(max_examples=30, deadline=None)
def test_savgol_coeffs_partition_of_unity(half):
    w = 2 * half + 1
    for p in range(0, min(w - 1, 5)):
        c = savgol_coeffs(w, p)
        assert abs(c.sum() - 1.0) < 1e-9


@given(signals)
@settings(max_examples=100, deadline=None)
def test_prominence_filter_is_monotone(y):
    y = np.asarray(y)
    lo = find_peaks(y, prominence=0.5)
    hi = find_peaks(y, prominence=2.0)
    assert set(hi.tolist()) <= set(lo.tolist())


# --- sequence-packing span arithmetic (llm/packing.py) ----------------------
#
# The Spark operator is a closed-form expression (floor-div chunk range +
# greatest/least span clamps) over a running token offset. The brute spec
# below actually SIMULATES the concat-and-chunk stream token by token;
# the property asserts the closed form emits identical spans. Spark-side
# evaluation of the same arithmetic is covered by the deterministic unit
# tests and the DuckDB oracle.

doc_sizes = st.lists(st.integers(min_value=1, max_value=37), min_size=1, max_size=30)


def brute_pack(sizes, cap):
    spans = {}
    pos = 0
    for d, n in enumerate(sizes):
        for t in range(n):
            chunk = (pos + t) // cap
            key = (d, chunk)
            b, e = spans.get(key, (t, t))
            spans[key] = (min(b, t), max(e, t + 1))
        pos += n
    return {k: spans[k] for k in sorted(spans)}


def formula_pack(sizes, cap):
    out = {}
    start = 0
    for d, n in enumerate(sizes):
        end = start + n
        for chunk in range(start // cap, (end - 1) // cap + 1):
            out[(d, chunk)] = (
                max(chunk * cap, start) - start,
                min((chunk + 1) * cap, end) - start,
            )
        start = end
    return out


@given(doc_sizes, st.integers(min_value=1, max_value=50))
@settings(max_examples=300)
def test_pack_span_formula_matches_token_simulation(sizes, cap):
    got = formula_pack(sizes, cap)
    assert got == brute_pack(sizes, cap)
    # invariants: spans tile each doc exactly; every interior chunk is full
    per_chunk: dict = {}
    for (d, chunk), (b, e) in got.items():
        assert 0 <= b < e <= sizes[d]
        per_chunk[chunk] = per_chunk.get(chunk, 0) + (e - b)
    last = max(per_chunk)
    assert all(v == cap for c, v in per_chunk.items() if c != last)
    assert sum(per_chunk.values()) == sum(sizes)


# --- round-5 models ---------------------------------------------------

tokens_small = st.lists(
    st.sampled_from(["a", "b", "c"]), min_size=0, max_size=30
)


def brute_bpe_merge(toks, left, right):
    """Spec: left-to-right non-overlapping merge of (left, right)."""
    out, i = [], 0
    while i < len(toks):
        if i + 1 < len(toks) and toks[i] == left and toks[i + 1] == right:
            out.append(left + "+" + right)
            i += 2
        else:
            out.append(toks[i])
            i += 1
    return out


def string_model_merge(toks, left, right):
    """The DuckDB oracle's doubled-space replace, in Python: with every
    inter-token gap doubled, global non-overlapping replace IS the LTR
    merge (adjacent matches no longer share a delimiter)."""
    import re

    s = " " + "  ".join(toks) + " " if toks else ""
    s = s.replace(f" {left}  {right} ", f" {left}+{right} ")
    return re.sub(" +", " ", s).strip().split(" ") if s.strip() else []


@given(tokens_small, st.sampled_from(["a", "b", "c"]), st.sampled_from(["a", "b", "c"]))
@settings(max_examples=300, deadline=None)
def test_bpe_string_model_equals_ltr_merge(toks, left, right):
    assert string_model_merge(toks, left, right) == brute_bpe_merge(
        toks, left, right
    )


positions = st.lists(
    st.integers(min_value=1, max_value=60), min_size=1, max_size=25
).map(lambda xs: sorted(set(xs)))


@given(positions, st.integers(min_value=1, max_value=8))
@settings(max_examples=300, deadline=None)
def test_interval_union_gap_formula(pos, gram):
    """dup_span_fraction's coverage formula: sum of min(gram, gap) over
    sorted duplicated positions equals the true union length of the
    intervals [p, p+gram-1]."""
    formula = gram + sum(
        min(gram, b - a) for a, b in zip(pos, pos[1:])
    )
    union = set()
    for p in pos:
        union.update(range(p, p + gram))
    assert formula == len(union)


def test_distance_suppression_equal_values_right_first():
    """Stable-sort contract: among exactly-equal candidate values, the
    RIGHTMOST survives (value DESC, position DESC — what the recursive
    CTE pins and the streaming taint step assumes)."""
    from myodish_peak_analysis_spark.functions.sigproc import (
        _select_by_distance,
    )

    peaks = np.array([0, 3, 6, 20, 23], dtype=np.intp)
    vals = np.array([1.0, 1.0, 1.0, 2.0, 2.0])
    keep = _select_by_distance(peaks, vals, 5)
    # crowd 1 (0,3,6 equal): 6 processed first, kills 3; 0 survives
    # (distance 6 >= 5). crowd 2 (20,23 equal): 23 wins.
    assert list(peaks[keep]) == [0, 6, 23]


# --- round-5 binary parsers ------------------------------------------


@given(
    st.integers(min_value=1, max_value=60000),
    st.integers(min_value=1, max_value=60000),
)
@settings(max_examples=200, deadline=None)
def test_png_bmp_header_roundtrip(w, h):
    import struct

    from myodish_peak_analysis_spark.llm.multimodal import (
        _parse_image_header,
    )

    png = (
        b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
        + struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00" + b"\x00" * 4
    )
    assert _parse_image_header(png) == (w, h)
    bmp = (
        b"BM" + b"\x00" * 12 + struct.pack("<I", 40)
        + struct.pack("<ii", w, h) + b"\x00" * 20
    )
    assert _parse_image_header(bmp) == (w, h)
    if w < 65536 and h < 65536:
        core = (
            b"BM" + b"\x00" * 12 + struct.pack("<I", 12)
            + struct.pack("<HH", w, h) + b"\x00" * 20
        )
        assert _parse_image_header(core) == (w, h)


@given(
    st.integers(min_value=1, max_value=9999),
    st.integers(min_value=1, max_value=9999),
    st.sampled_from([b" ", b"\n", b"\t", b"\n# x\n", b" # c\n"]),
)
@settings(max_examples=200, deadline=None)
def test_ppm_header_whitespace_and_comments(w, h, sep):
    from myodish_peak_analysis_spark.llm.multimodal import (
        _parse_image_header,
    )

    payload = b"P6" + sep + str(w).encode() + b" " + str(h).encode() + b"\n255\n"
    assert _parse_image_header(payload) == (w, h)


@given(
    st.integers(min_value=1, max_value=192000),
    st.integers(min_value=1, max_value=8),
    st.integers(min_value=0, max_value=500000),
)
@settings(max_examples=200, deadline=None)
def test_wav_header_duration_formula(rate, channels, n_frames):
    import struct

    from myodish_peak_analysis_spark.llm.multimodal import _parse_wav_header

    width = 2
    data = n_frames * channels * width
    byte_rate = rate * channels * width
    fmt = struct.pack(
        "<HHIIHH", 1, channels, rate, byte_rate, channels * width, 8 * width
    )
    wav = (
        b"RIFF" + struct.pack("<I", 36 + data) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + fmt
        + b"data" + struct.pack("<I", data) + b"\x00" * data
    )
    got = _parse_wav_header(wav)
    assert got is not None
    dur, r = got
    assert r == rate
    assert dur == data / byte_rate
    # round 6 (ADVICE): a truncated body must clamp to the bytes that
    # actually survived, not report the header's pre-truncation length
    kept = data // 2
    got_trunc = _parse_wav_header(wav[: 44 + kept])
    assert got_trunc is not None
    assert got_trunc[0] == kept / byte_rate


@given(
    st.integers(min_value=1, max_value=300),
    st.integers(min_value=1, max_value=9),
    st.floats(min_value=1.0, max_value=100000.0, allow_nan=False),
)
@settings(max_examples=50, deadline=None)
def test_abf1_roundtrip_property(n, c, rate):
    import os
    import tempfile

    from myodish_peak_analysis_spark.sources.abf import (
        read_abf1_float,
        write_abf1_float,
    )

    data = np.arange(n * c, dtype="<f4").reshape(n, c)
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "x.abf")
        write_abf1_float(path, data, rate)
        frames, got_rate = read_abf1_float(path)
    assert len(frames) == c
    assert abs(got_rate - rate) / rate < 1e-5
    for ch in range(c):
        assert np.array_equal(
            frames[ch]["signal_value"].to_numpy(dtype="<f4"), data[:, ch]
        )


# --- round-6 operator properties (pure-Python models of the SQL
# expressions, no Spark session needed) --------------------------------


def _chunk_starts_model(n: int, size: int, stride: int) -> list[int]:
    """Reference model of chunk_overlap's starts expression."""
    if n <= size:
        return [0]
    if (n - size) % stride == 0:
        return list(range(0, n - size + 1, stride))
    return list(range(0, ((n - size) // stride + 1) * stride + 1, stride))


@given(
    st.integers(min_value=1, max_value=500),
    st.integers(min_value=1, max_value=64),
    st.integers(min_value=1, max_value=64),
)
@settings(max_examples=500, deadline=None)
def test_chunk_overlap_starts_cover_every_token(n, size, stride):
    """For ANY (n, size, stride) with stride <= size: the start set
    covers [0, n) completely, consecutive chunks overlap by exactly
    size - stride (except a shorter tail), and no start is >= n."""
    if stride > size:
        return  # operator rejects this; covered by the ValueError test
    starts = _chunk_starts_model(n, size, stride)
    covered = set()
    for s in starts:
        assert 0 <= s < n
        covered.update(range(s, min(s + size, n)))
    assert covered == set(range(n))
    # starts strictly increase by stride
    assert starts == sorted(set(starts))
    assert all(b - a == stride for a, b in zip(starts, starts[1:]))


@given(
    st.lists(
        st.floats(min_value=-100, max_value=100, allow_nan=False),
        min_size=1,
        max_size=32,
    )
)
@settings(max_examples=500, deadline=None)
def test_sq8_code_model_bounds_and_error(xs):
    """The SQ8 quantizer model: codes always land in [-127, 127] and
    reconstruction error is bounded by half a count of the dimension's
    scale (the contract the Spark/DuckDB expressions implement)."""
    import math

    s = max(abs(x) for x in xs)
    for x in xs:
        code = 0 if s == 0 else max(-127, min(127, math.floor(x * 127 / s + 0.5)))
        assert -127 <= code <= 127
        xhat = 0.0 if s == 0 else code * s / 127
        assert abs(xhat - x) <= (s / 127) * 0.5 + 1e-12


@given(
    st.lists(st.integers(min_value=1, max_value=60), min_size=0, max_size=20),
    st.integers(min_value=2, max_value=10),
)
@settings(max_examples=300, deadline=None)
def test_remove_dup_spans_keep_filter_model(starts, gram):
    """The keep-iff-uncovered filter model: kept indices are exactly
    the complement of the union of [s, s+gram) intervals, and
    kept + removed partitions the token range."""
    n = 80
    starts = sorted(set(starts))
    covered = set()
    for s in starts:
        covered.update(range(s, min(s + gram, n + 1)))
    kept = [
        i
        for i in range(1, n + 1)
        if not any(s <= i < s + gram for s in starts)
    ]
    assert set(kept).isdisjoint(covered & set(range(1, n + 1)))
    assert set(kept) | (covered & set(range(1, n + 1))) == set(range(1, n + 1))


@st.composite
def flag_channels(draw):
    """A channel of few distinct values, so plateaus are common, with
    NULLs, NaN and both zeros; its sample_idx is dense, shifted or
    gapped."""
    pool = [0.0, -0.0, 1.0, -1.0, 2.0, 3.0, math.nan, None]
    vals = draw(st.lists(st.sampled_from(pool), min_size=1, max_size=60))
    n = len(vals)
    gaps = draw(
        st.one_of(
            st.just([0] * n),
            st.lists(st.integers(0, 2), min_size=n, max_size=n),
        )
    )
    start = draw(st.integers(0, 5))
    return vals, [start + i + g for i, g in enumerate(np.cumsum(gaps))]


@given(flag_channels())
@settings(max_examples=300, deadline=None)
def test_extrema_flags_match_duckdb_oracle(channel):
    vals, idx = channel
    t = pa.table(
        {
            "channel_id": pa.array([0] * len(vals), pa.int64()),
            "sample_idx": pa.array(idx, pa.int64()),
            "v": pa.array(vals, pa.float64()),
        }
    )
    want = duckdb.connect().execute(
        f"WITH src AS (SELECT * FROM t), {extrema_flags_sql('src', 'v')} "
        "SELECT is_peak, is_valley FROM flagged ORDER BY sample_idx"
    ).fetchall()
    peak, valley = extrema_flags(*column_values(t, "v"), np.asarray(idx))
    assert list(zip(peak.tolist(), valley.tolist())) == want
