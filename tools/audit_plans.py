#!/usr/bin/env python
"""Whole-surface plan audit: build the physical plan of EVERY
registered ``queries()`` entry at sf0.01 and tabulate the shape
signals that matter at 100 TB — exchange count, broadcast joins,
cartesian products (must be 0), Python-eval stages (must be 0 outside
the explicitly-fidelity routes), TakeOrdered usage, and string splits
evaluated inside a higher-order function's lambda (must be 0).

Writes a markdown table to stdout; the current audit is
``docs/PLAN_AUDIT.md``:

    python tools/audit_plans.py > docs/PLAN_AUDIT.md

``--dump DIR`` instead writes each registered query's optimized
logical plan to ``DIR/<name>.txt``, with expression ids (``#123``, ``#45L``) normalised to
``#N``, physical-plan ids (``plan_id=123``, printed inside cached
relations) to ``plan_id=N`` and lambda variables (``lambda x_49``) to
``lambda x_N``: all three are per-process counters. Dumps
taken from two trees then compare with one ``diff -r DIR_A DIR_B``:
empty output means the change left every plan as it was.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402
from myodish_peak_analysis_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

# Arrow/pandas stages are allowed ONLY where they are the design:
# the reference-exact fidelity twins (applyInPandas), the constrained
# peak step (sequential SciPy conditions per channel, one applyInArrow
# over sigproc's kernels), the multimodal decode plumbing, the WARC byte-walk (round 12), and the
# HTML text extraction over crawl response bodies (round 13: entity
# tables + a real HTML tokenizer are not JVM-expressible) —
# mapInPandas/pandas_udf over opaque binary columns, the places a JVM
# expression genuinely cannot express the work. The native peaks chain
# runs its two Savitzky–Golay smooths (51-tap FIR, 301-tap envelope
# smooth) as per-channel NumPy folds in applyInArrow: as Spark SQL they
# were ~100 lag/lead window functions and two ±150-row collect_list
# windows folded by a higher-order function, the most expensive work
# per row of the pipeline (benchmark recordings pass CPU 11.54 ->
# 5.21 s when they moved), so every query that smooths carries one.
# The plateau-midpoint extrema flags run in the same per-channel stage
# (one Python boundary for smooth -> flags -> envelopes, and one
# implementation of the plateau rule), so the queries that flag the raw
# signal (extrema_flags, naive_peaks, stim_peak_mean) carry one too.
# The IVF and PQ k-means fits assign vectors to centroids with a NumPy
# kernel in mapInArrow (llm/lloyd.py): as Spark SQL each assign was a
# k-literal higher-order-function argmax whose planning and interpreted
# evaluation were most of the fit's cost (benchmark llm pass CPU, see
# CHANGES.md), so every query that fits, or serves a fitted index,
# carries one. Every other query must be Python-free.
PYTHON_ALLOWED = {"fidelity_peaks", "fidelity_signal", "native_find_peaks",
                  "native_find_peaks_nodist", "constrained_peak_attributes",
                  "peak_interval_stats", "media_metadata",
                  "audio_metadata", "video_metadata", "warc_roundtrip",
                  "warc_extract_text", "crawl_corpus",
                  # the per-channel smooth / extrema-flag kernels
                  "smooth", "raw_envelopes", "envelopes", "diastolic",
                  "threshold_peaks", "crossing_points", "peak_attributes",
                  "peak_averages", "extrema_flags", "naive_peaks",
                  "stim_peak_mean",
                  # the IVF / PQ Lloyd-assign kernels
                  "ann_ivf_topk", "ann_serve", "ann_serve_appended",
                  "ivf_list_sizes", "ivf_pq_topk", "ivf_pq_topk_prefit",
                  "ivf_sq8_topk", "pq_codes", "pq_rerank_topk", "pq_topk",
                  "rp_ivf_topk", "semantic_dedup"}


_EXPR_ID = re.compile(r"#\d+L?")
_PLAN_ID = re.compile(r"plan_id=\d+")
_LAMBDA_VAR = re.compile(r"lambda ([xyz])_\d+")


def split_in_lambda(plan: str) -> int:
    """Number of ``split(`` calls inside a ``lambdafunction(...)`` of a
    printed plan. Such a split runs once per array element: a lambda
    that re-splits ``text`` per token is quadratic in the document's
    length, so n-gram builders slice the row's tokens, split once
    (``llm.text.over_tokens``)."""
    n, i = 0, plan.find("lambdafunction(")
    while i >= 0:
        depth = 0
        for j in range(i + len("lambdafunction"), len(plan)):
            depth += {"(": 1, ")": -1}.get(plan[j], 0)
            if depth == 0:
                break
        n += plan.count("split(", i, j)
        i = plan.find("lambdafunction(", j)
    return n


def dump(spark, out_dir: str) -> None:
    """Write each query's normalised optimized plan to ``out_dir``.
    The cache is cleared before every query, so a plan never depends on
    what an earlier query left cached."""
    os.makedirs(out_dir, exist_ok=True)
    for name, fn in entry.queries().items():
        spark.catalog.clearCache()
        try:
            plan = fn(spark, SF_DIR)._jdf.queryExecution().optimizedPlan().toString()
        except Exception as exc:  # noqa: BLE001
            plan = f"failed to plan: {type(exc).__name__}: {exc}"
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            plan = _LAMBDA_VAR.sub(r"lambda \1_N", _EXPR_ID.sub("#N", plan))
            f.write(_PLAN_ID.sub("plan_id=N", plan) + "\n")
        print(name, flush=True)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--dump", metavar="DIR",
                    help="write normalised optimized plans to DIR")
    args = ap.parse_args()
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    if args.dump:
        dump(spark, args.dump)
        return
    rows = []
    violations = []
    for name, fn in entry.queries().items():
        try:
            qe = fn(spark, SF_DIR)._jdf.queryExecution()
            plan = qe.executedPlan().toString()
            n_split = split_in_lambda(qe.optimizedPlan().toString())
        except Exception as exc:  # noqa: BLE001
            violations.append(f"{name}: failed to plan ({exc})")
            continue
        # "Exchange" substring-matches BroadcastExchange and
        # ReusedExchange too — subtract both so the column counts only
        # real shuffle materializations.
        n_ex = (
            plan.count("Exchange")
            - plan.count("BroadcastExchange")
            - plan.count("ReusedExchange")
        )
        n_bc = plan.count("BroadcastHashJoin") + plan.count(
            "BroadcastNestedLoopJoin"
        )
        n_cart = plan.count("CartesianProduct")
        # Spark's Python-execution nodes are BatchEvalPython /
        # ArrowEvalPython (scalar UDFs), *InPandas and *InArrow
        # (grouped/map Arrow) — "EvalPython" + "InPandas" + "InArrow"
        # covers all of them; the old "PythonEval" substring matched NONE.
        n_py = plan.count("EvalPython") + plan.count("InPandas") + plan.count("InArrow")
        n_tko = plan.count("TakeOrderedAndProject")
        n_ims = plan.count("InMemoryTableScan")
        rows.append((name, n_ex, n_bc, n_cart, n_py, n_tko, n_ims, n_split))
        if n_cart:
            violations.append(f"{name}: CartesianProduct")
        if n_py and name not in PYTHON_ALLOWED:
            violations.append(f"{name}: unexpected Python stage")
        if n_split:
            violations.append(f"{name}: split inside a lambda")
    print(
        "| query | shuffles | bcast joins | cartesian | python |"
        " takeOrdered | cache hits | split in lambda |"
    )
    print("|---|---|---|---|---|---|---|---|")
    for r in sorted(rows):
        print("| {} | {} | {} | {} | {} | {} | {} | {} |".format(*r))
    print()
    print(
        "NOTE: `shuffles` counts Exchange nodes in the PRINTED plan,"
        " which expands the full cached lineage under every"
        " InMemoryRelation — iterative queries (dedup_clusters, the"
        " Lloyd fits) therefore print hundreds of exchanges whose"
        " EXECUTION is an InMemoryTableScan cache hit (see the"
        " `cache hits` column); their real per-round cost is one keyed"
        " shuffle."
    )
    print()
    print(f"{len(rows)} queries audited; violations: {len(violations)}")
    for v in violations:
        print("VIOLATION:", v)
    if violations:
        sys.exit(1)


if __name__ == "__main__":
    main()
