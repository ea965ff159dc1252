"""Bit-identity of the per-channel peaks kernels against a recorded
fixture.

``tests/data/peaks_golden.json`` holds, per channel of
:func:`golden_inputs`, the output of ``with_fir_smooth`` -> ``with_extrema_flags`` ->
``with_smoothed_envelopes`` as computed by the Spark window formulation
the NumPy kernels replaced (commit bdcd501: a 51-term ``lag``/``lead``
projection and a ±150-row ``collect_list`` window folded by
``zip_with``/``aggregate``). Doubles are ``float.hex`` strings; JSON
``null`` is SQL NULL and ``"nan"`` is NaN, so the two never blur.
Flags are stored as the row indices that carry them.

The channels cover both sides of the FIR half-width (24/25/26 rows) and of
``window + pad`` (524/525 rows), a one-row channel, plateau extrema, an
all-zero constant channel, signed zeros that pin the FIR fold start, a
NULL run, and NaN samples whose smooth is a flagged extremum. Regenerate only from a tree whose output is the
reference:

    python tests/test_peaks_golden.py --tree PATH --write tests/data/peaks_golden.json
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import pytest

FIXTURE = os.path.join(os.path.dirname(__file__), "data", "peaks_golden.json")
OUT_DOUBLES = ("smooth", "baseline", "ceiling")
OUT_FLAGS = ("is_peak", "is_valley")


def _noise(seed: int, n: int) -> list[float]:
    """LCG noise in [-1/32, 1/32) on a 1/1024 grid (integer arithmetic,
    so the inputs are identical on every platform)."""
    out, state = [], seed
    for _ in range(n):
        state = (state * 1103515245 + 12345) % 2**31
        out.append(((state >> 16) % 64 - 32) / 1024)
    return out


def _trapezoids(n: int) -> list[float]:
    """Exactly flat-topped bumps every 160 rows: 40-row ramps around a
    70-row top, on an exactly flat floor. The smooth of a flat stretch
    longer than the 51-tap window repeats one value, so the flags meet
    plateaus."""
    out = []
    for i in range(n):
        p = i % 160
        if p < 40:
            out.append(p / 32)
        elif p < 110:
            out.append(40 / 32)
        elif p < 150:
            out.append((150 - p) / 32)
        else:
            out.append(0.0)
    return out


def _bumps(seed: int, n: int) -> list[float]:
    return [t + e for t, e in zip(_trapezoids(n), _noise(seed, n))]


#: signs of the 51/7 Savitzky–Golay weights, tap 0 first
SG51_SIGNS = "-++++++--------+++++++++++++++++++++--------++++++-"


def golden_inputs() -> dict[int, list[float | None]]:
    """channel_id -> signal values for sample_idx 0..n-1."""
    # Signed zeros that make every product of row 25's FIR sum -0.0:
    # the sum is -0.0 when it starts from its first term and 0.0 when it
    # starts from 0.0, so this channel pins the fold start.
    signed_zeros = [-0.0 if c == "+" else 0.0 for c in SG51_SIGNS] + [0.0] * 9
    null_run = _bumps(5, 700)
    null_run[300:304] = [None] * 4
    nan_samples = _bumps(6, 600)
    nan_samples[250] = math.nan
    nan_samples[590] = math.nan
    return {
        0: [0.5],
        1: _noise(1, 25),
        2: _noise(2, 26),
        3: _trapezoids(524),
        4: _trapezoids(525),
        5: null_run,
        6: nan_samples,
        7: [0.0] * 530,
        8: _bumps(8, 700),
        9: _noise(9, 24),
        10: signed_zeros,
    }


def _enc(v: float | None) -> str | None:
    return None if v is None else float.hex(v)


def _frame(spark, inputs):
    rows = [
        (cid, i, v) for cid, vals in inputs.items() for i, v in enumerate(vals)
    ]
    return spark.createDataFrame(
        rows, "channel_id long, sample_idx long, signal_value double"
    )


def run_chain(df):
    from myodish_peak_analysis_spark.operators.envelopes import (
        with_smoothed_envelopes,
    )
    from myodish_peak_analysis_spark.operators.smooth import with_fir_smooth
    from myodish_peak_analysis_spark.operators.windows import with_extrema_flags

    return with_smoothed_envelopes(
        with_extrema_flags(with_fir_smooth(df), value_col="smooth"),
        flags_present=True,
    )


def encode_outputs(rows) -> dict[str, dict]:
    """Collected chain rows -> per-channel encoded outputs."""
    out: dict[str, dict] = {}
    for r in sorted(rows, key=lambda r: (r.channel_id, r.sample_idx)):
        ch = out.setdefault(
            str(r.channel_id), {c: [] for c in OUT_DOUBLES + OUT_FLAGS}
        )
        for c in OUT_DOUBLES:
            ch[c].append(_enc(r[c]))
        for c in OUT_FLAGS:
            if r[c]:
                ch[c].append(r.sample_idx)
    return out


@pytest.fixture(scope="module")
def golden():
    with open(FIXTURE) as f:
        return json.load(f)


def inputs_digest() -> str:
    enc = {str(c): [_enc(v) for v in vals] for c, vals in golden_inputs().items()}
    return hashlib.sha256(json.dumps(enc, sort_keys=True).encode()).hexdigest()


def test_fixture_inputs_are_the_builders(golden):
    """The fixture was recorded on exactly these inputs."""
    assert golden["inputs_sha256"] == inputs_digest()


def _assert_golden(df, want):
    got = encode_outputs(df.collect())
    assert sorted(got) == sorted(want)
    for ch, cols in want.items():
        for c, expected in cols.items():
            bad = [
                i for i, (a, b) in enumerate(zip(got[ch][c], expected)) if a != b
            ]
            assert len(got[ch][c]) == len(expected) and not bad, (
                f"channel {ch} {c}: {len(bad)} rows differ, first at {bad[:5]}"
            )


def test_kernels_bit_identical_to_window_formulation(spark, golden):
    _assert_golden(run_chain(_frame(spark, golden_inputs())), golden["outputs"])


def test_fused_pipeline_bit_identical(spark, golden):
    """``PeakPipeline.smooth().envelopes()`` runs all three steps in one
    per-channel Python stage; after ``cache()`` the envelopes read the
    cached smooth instead, with the same bits."""
    from myodish_peak_analysis_spark.api import PeakPipeline

    df = _frame(spark, golden_inputs())
    fused = PeakPipeline(df).smooth().envelopes().df
    plan = fused._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("FlatMapGroupsInArrow") == 1, plan
    _assert_golden(fused, golden["outputs"])

    smoothed = PeakPipeline(df).smooth().cache()
    cached = smoothed.envelopes().df
    plan = cached._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" in plan, plan
    _assert_golden(cached, golden["outputs"])
    smoothed.df.unpersist()


def test_channel_row_order_does_not_matter(spark, golden):
    """The kernels sort each channel by sample_idx themselves."""
    from pyspark.sql import functions as F

    df = _frame(spark, {6: golden_inputs()[6]}).orderBy(F.col("sample_idx").desc())
    got = encode_outputs(run_chain(df.repartition(3)).collect())
    assert got["6"] == golden["outputs"]["6"]


@pytest.mark.parametrize("idx", [[0, 1, 3, 4], [1, 2, 3, 4], [0, 1, 1, 2]])
def test_gapped_sample_idx_raises(spark, idx):
    """A gapped, shifted or duplicated index fails loudly rather than
    computing taps across the gap."""
    from myodish_peak_analysis_spark.operators.smooth import with_fir_smooth

    df = spark.createDataFrame(
        [(0, i, float(i)) for i in idx],
        "channel_id long, sample_idx long, signal_value double",
    )
    with pytest.raises(Exception, match="GAPPED_SIGNAL_INDEX"):
        with_fir_smooth(df).collect()


def test_empty_frame(spark):
    df = spark.createDataFrame(
        [], "channel_id long, sample_idx long, signal_value double"
    )
    out = run_chain(df)
    assert out.collect() == []
    assert out.columns == [
        "channel_id", "sample_idx", "signal_value", "smooth",
        "is_peak", "is_valley", "baseline", "ceiling",
    ]


if __name__ == "__main__":
    import argparse
    import sys

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--tree", required=True, help="repo tree to run")
    ap.add_argument("--write", required=True, help="fixture path to write")
    a = ap.parse_args()
    sys.path.insert(0, os.path.abspath(a.tree))
    from myodish_peak_analysis_spark.session import get_spark

    import myodish_peak_analysis_spark

    print("running", myodish_peak_analysis_spark.__file__)
    spark = get_spark("peaks-golden")
    rows = run_chain(_frame(spark, golden_inputs())).collect()
    doc = {"inputs_sha256": inputs_digest(), "outputs": encode_outputs(rows)}
    with open(a.write, "w") as f:
        json.dump(doc, f, separators=(",", ":"))
        f.write("\n")
