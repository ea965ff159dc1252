"""What the benchmark reports: workloads, end-to-end metrics, and the
per-layer metrics with the end-to-end metric each one should move.

``BENCHMARK.json`` at the repository root lists the same names; the
self-tests check that the two agree.
"""

from __future__ import annotations

WORKLOADS = ("recordings", "llm")

#: (name, unit) of the end-to-end metrics, reported by every workload's
#: untraced run. ``pass_cpu_s`` is the median CPU time of one timed pass
#: (the calls listed per workload in OPS): user + system seconds of the
#: JVM, its Python workers and the Python driver, less the JIT compiler
#: threads (trace.cpu_s). It is CPU time, not wall time, because on a
#: shared host the wall time of the same pass swung by up to 2x with
#: the CPU the host took for other tenants, while its CPU time moved by
#: a fraction of that; the wall times are in the report line and in the
#: per-layer ``busy_s``. ``setup_s`` is wall time from before the Spark
#: session starts to the first pass: JVM launch, session start, ingest.
END_TO_END = (("pass_cpu_s", "s"), ("setup_s", "s"))

#: The public calls one pass times, per workload, with the name the
#: report line gives each one's median.
OPS = {
    "recordings": ("analyze_s",),
    "llm": ("manifest_s", "fit_s", "search_s"),
}

#: Span name -> (counter fields reported, end-to-end metric it should
#: move, workload it runs on). A span that does not run on a workload
#: reports 0 there: that is the prediction "no change" for the other
#: workloads. Spill is left out (0 in every span measured), and so are
#: ``session.start``'s Spark counters and GC time: it runs before any
#: job, and before the JVM exists to read.
SPARK = ("busy_s", "jobs", "stages", "tasks", "shuffle_bytes", "gc_s")
SPANS = {
    "session.start": (("busy_s",), "setup_s", "all"),
    "sources.abf.decode": (SPARK + ("bytes",), "setup_s", "recordings"),
    "api.analyze": (SPARK, "pass_cpu_s (analyze_s)", "recordings"),
    "operators.smooth": (SPARK, "pass_cpu_s (analyze_s)", "recordings"),
    "operators.windows": (SPARK, "pass_cpu_s (analyze_s)", "recordings"),
    "operators.envelopes": (SPARK, "pass_cpu_s (analyze_s)", "recordings"),
    "operators.peaks": (SPARK, "pass_cpu_s (analyze_s)", "recordings"),
    "operators.attributes": (SPARK, "pass_cpu_s (analyze_s)", "recordings"),
    "llm.curate.manifest": (SPARK, "pass_cpu_s (manifest_s)", "llm"),
    "llm.dedup.signatures": (SPARK, "pass_cpu_s (manifest_s)", "llm"),
    "llm.dedup.candidates": (SPARK, "pass_cpu_s (manifest_s)", "llm"),
    "llm.dedup.verify": (SPARK, "pass_cpu_s (manifest_s)", "llm"),
    "llm.dedup.components": (SPARK, "pass_cpu_s (manifest_s)", "llm"),
    "llm.text.quality": (SPARK, "pass_cpu_s (manifest_s)", "llm"),
    "llm.curate.tail": (SPARK, "pass_cpu_s (manifest_s)", "llm"),
    "llm.similarity.fit": (SPARK, "pass_cpu_s (fit_s)", "llm"),
    "llm.similarity.search": (SPARK, "pass_cpu_s (search_s)", "llm"),
}

#: Ratios of useful outcomes to attempts, measured where the work runs.
RATIOS = {
    "operators.peaks.kept_per_candidate": "recordings",
    "llm.dedup.verified_per_candidate": "llm",
    "llm.similarity.recall_at_10": "llm",
}

#: Traced-run bookkeeping: ``pass.*`` are the Spark counters of one
#: whole fused pass, ``pass.stage_gap_s`` the fused pass's wall time
#: minus the sum of its isolated stages (0 where a pass has no staged
#: form), ``trace.overhead_s`` the time spent in span bookkeeping per
#: pass.
EXTRA = (
    ("pass.jobs", "count", "lower"),
    ("pass.stages", "count", "lower"),
    ("pass.tasks", "count", "lower"),
    ("pass.stage_gap_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
)

_UNITS = {
    "busy_s": ("s", "lower"),
    "gc_s": ("s", "lower"),
    "jobs": ("count", "lower"),
    "stages": ("count", "lower"),
    "tasks": ("count", "lower"),
    "shuffle_bytes": ("B", "lower"),
    "bytes": ("B", "lower"),
}


def per_layer() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in report order."""
    out = []
    for span, (fields, _moves, _wl) in SPANS.items():
        for f in fields:
            unit, better = _UNITS[f]
            out.append((f"{span}.{f}", unit, better))
    for name in RATIOS:
        out.append((name, "ratio", "higher"))
    out.extend(EXTRA)
    return out
