"""Run one workload of the benchmark in this process and print its
result.

    python3 perfbench/run.py --workload recordings --seed 1 --seconds 20 --trace 0

Run from the repository root (the package is imported from there). The
run:

1. pins its environment: ``local[<nproc>]`` through ``SPARK_GRAFT_CPUS``,
   and Spark's local dirs, the JVM's temp dir and Python's temp dir in a
   fresh directory of the checkout, removed at exit;
2. writes the workload's inputs from ``--seed`` (not timed);
3. sets up once: starts the Spark session (launching the JVM) and
   ingests the inputs; ``setup_s`` is that time, from before the
   session starts to the first pass;
4. runs ``WARMUP_PASSES`` passes that are checked but not reported, then
   timed passes, one at a time, until ``--seconds`` have passed and
   the workload's ``MIN_PASSES`` have run; ``pass_cpu_s`` is the
   median of their CPU times (see ``spec.END_TO_END``);
5. with ``--trace 1``, runs each pass with a span around every call
   into a module, followed by the same work split at module boundaries,
   and reports the per-layer metrics instead;
6. checks the first pass's output against independent references and
   every pass's output digest against the first pass's;
7. prints one JSON line with sizes, environment, host load, wall and
   CPU medians per call and per pass with sample counts, then the
   result line:
   ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WARMUP_PASSES = 1
DRIVER_MEMORY = "2g"
#: Keep every JVM's files inside the run directory (no perf-data file
#: under /tmp, the JVM temp dir in the run directory), and keep the JIT
#: compiler threads alive so their CPU can be told apart (trace.cpu_s).
JVM_OPTS = "-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir={tmp}"


def host_sample() -> dict:
    """Cumulative CPU jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return {"total": sum(v[:8]), "idle": v[3] + v[4], "steal": v[7]}


def host_delta(a: dict, b: dict) -> dict:
    d = max(b["total"] - a["total"], 1)
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {
        "cpu_busy_share": (d - (b["idle"] - a["idle"])) / d,
        "cpu_steal_share": (b["steal"] - a["steal"]) / d,
        "loadavg_1_5_15": load,
    }


def pin_env(work: str, cpus: int) -> None:
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the JVM that spark-submit runs to build the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = JVM_OPTS.format(tmp=os.environ["TMPDIR"])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tempfile.tempdir = None  # re-read TMPDIR


def start_session(work: str):
    from myodish_peak_analysis_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": JVM_OPTS.format(tmp=tmp),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the Spark session and the JVM behind it, and wait for the
    JVM process to end."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def median(xs):
    return statistics.median(xs) if xs else 0.0


def summary(xs) -> dict:
    return {"median": median(xs), "min": min(xs, default=0.0),
            "max": max(xs, default=0.0), "n": len(xs)}


def bench(args, work: str) -> tuple[dict, dict]:
    from perfbench import spec
    from pyspark import SparkContext

    from perfbench.trace import SparkProbe, Tracer, cpu_s
    from perfbench.workloads import WORKLOADS

    # the package is imported up front: a checkout without it fails here
    import myodish_peak_analysis_spark.session as session

    wl = WORKLOADS[args.workload](work, args.seed)
    wl.generate()

    tr = Tracer(detail=bool(args.trace))
    tr.phase = "setup"
    c0, t0 = time.process_time(), time.perf_counter()
    with tr.span("session.start"):
        spark = start_session(work)
    tr.probe = SparkProbe(spark)
    wl.jvm_pid = SparkContext._gateway.proc.pid
    wl.setup(spark, tr)
    setup_s = time.perf_counter() - t0
    # all of the JVM's CPU so far is set-up; the Python side counts from t0
    setup_cpu_s = cpu_s(wl.jvm_pid) - c0

    results, staged, errors = [], [], []
    attempted = failed = 0
    t_start = None
    for i in itertools.count():
        warm = i < WARMUP_PASSES
        if not warm and t_start is None:
            t_start = time.perf_counter()
        tr.phase = "warmup" if warm else "timed"
        session.release_caches(spark)
        attempted += 1
        try:
            with tr.span("pass", detail=False):
                res = wl.run_pass(spark, tr)
            if args.trace:
                session.release_caches(spark)
                with tr.span("staged", detail=False):
                    staged.append(wl.staged(spark, tr))
                if staged[-1][0] != res.stage_digest:
                    errors.append(f"pass {i}: staged output differs from the fused pass")
                    failed += 1
        except Exception as e:  # a failed pass is reported, not fatal
            traceback.print_exc()
            errors.append(f"pass {i}: {type(e).__name__}: {e}")
            failed += 1
            res = None
        if res is not None:
            if results and res.digest != results[0][1].digest:
                errors.append(f"pass {i}: output digest differs from the first pass")
                failed += 1
            results.append((warm, res))
        if (not warm and i + 1 - WARMUP_PASSES >= wl.MIN_PASSES
                and time.perf_counter() - t_start >= args.seconds):
            break
    session.release_caches(spark)
    measured_s = time.perf_counter() - t_start

    if not results:
        raise RuntimeError("no pass completed: " + "; ".join(errors))
    first = results[0][1]
    check_errors = wl.check(spark, first)
    if check_errors:
        # every pass whose output equals the first pass's is wrong too
        errors.extend(check_errors)
        failed += sum(1 for _, r in results if r.digest == first.digest)
    tr.resolve()

    timed = [r for w, r in results if not w]
    pass_wall_s = [sum(r.ops.values()) for r in timed]
    pass_cpu_s = [sum(r.cpu.values()) for r in timed]
    pass_spans = [s for s in tr.spans if s.name == "pass"]
    counts = [(s.total["jobs"], s.total["stages"], s.total["tasks"]) for s in pass_spans]
    timed_counts = [c for c, s in zip(counts, pass_spans) if s.phase == "timed"]
    mode = statistics.mode(timed_counts) if timed_counts else None
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "sizes": wl.sizes,
        "quality": wl.quality,
        "warmup_passes": WARMUP_PASSES,
        "measured_s": measured_s,
        "pass_cpu_s": summary(pass_cpu_s),
        "pass_wall_s": summary(pass_wall_s),
        "pass_cpu_series_s": [round(sum(r.cpu.values()), 4) for _, r in results],
        "pass_wall_series_s": [round(sum(r.ops.values()), 4) for _, r in results],
        "setup_cpu_s": setup_cpu_s,
        "ops_cpu_s": {op: summary([r.cpu[op] for r in timed]) for op in spec.OPS[args.workload]},
        "ops_wall_s": {op: summary([r.ops[op] for r in timed]) for op in spec.OPS[args.workload]},
        "pass_jobs_stages_tasks": counts,
        "timed_passes_with_other_counts": [
            i for i, c in enumerate(timed_counts) if c != mode
        ],
        "errors": errors,
    }
    if not args.trace:
        metrics = {"pass_cpu_s": median(pass_cpu_s), "setup_s": setup_s}
    else:
        metrics, flagged = layer_metrics(tr, wl, results, staged)
        report["spans_with_other_counts"] = flagged
        # spill is not a per-layer metric: it read 0 in every span measured
        report["spill_bytes"] = sum(s.own["spill_bytes"] for s in tr.spans)
    result = result_line(metrics, bool(args.trace), attempted, failed, not errors)
    return result, report


def result_line(metrics: dict, trace: bool, attempted: int, failed: int, ok: bool) -> dict:
    """The result object: every end-to-end metric (untraced) or every
    per-layer metric (traced), each with its unit."""
    from perfbench import spec

    units = dict((n, u) for n, u, _ in spec.per_layer()) if trace else dict(spec.END_TO_END)
    if set(metrics) != set(units):
        raise ValueError(f"metrics {sorted(set(metrics) ^ set(units))} missing or unknown")
    return {
        "correct": ok and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }


def layer_metrics(tr, wl, results, staged) -> tuple[dict, list]:
    """Per-layer metrics from the spans of the set-up and the timed
    passes: medians of time, counters of the first timed pass (spans
    whose counters differ between passes are flagged)."""
    from perfbench import spec

    by_name: dict[str, list] = {}
    for s in tr.spans:
        if s.phase != "warmup":
            by_name.setdefault(s.name, []).append(s)
    metrics, flagged = {}, []
    for name, (fields, _moves, _wl) in spec.SPANS.items():
        spans = by_name.get(name, [])
        if len({tuple(s.total.values()) for s in spans}) > 1:
            flagged.append(name)
        for f in fields:
            if f == "busy_s":
                v = median([s.busy_s for s in spans])
            elif f == "gc_s":
                v = median([s.gc_ms / 1000.0 for s in spans])
            elif f == "bytes":
                v = median([s.extra.get("bytes", 0) for s in spans])
            else:
                v = spans[0].total[f] if spans else 0
            metrics[f"{name}.{f}"] = v

    ratios = {}
    for _digest, r in staged:
        for k, v in r.items():
            ratios.setdefault(k, []).append(v)
    for k, v in wl.ratios(results[0][1]).items():
        ratios.setdefault(k, []).append(v)
    for name in spec.RATIOS:
        metrics[name] = median(ratios.get(name, []))

    passes = [s for s in tr.spans if s.name == "pass" and s.phase == "timed"]
    stageds = [s for s in tr.spans if s.name == "staged" and s.phase == "timed"]
    for f in ("jobs", "stages", "tasks"):
        metrics[f"pass.{f}"] = passes[0].total[f] if passes else 0
    gaps = []
    for p, st in zip(passes, stageds):
        fused = [c for c in p.children if c.name == wl.fused_span]
        if fused:
            gaps.append(fused[0].busy_s - sum(c.busy_s for c in st.children))
    metrics["pass.stage_gap_s"] = median(gaps)
    inner = [s for s in tr.spans if s.phase == "timed" and s.name not in ("pass", "staged")]
    metrics["trace.overhead_s"] = sum(s.overhead_s for s in inner) / max(len(passes), 1)
    return metrics, flagged


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    from perfbench import spec

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=spec.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    pin_env(work, cpus)
    h0 = host_sample()
    try:
        result, report = bench(args, work)
    finally:
        try:
            stop_jvm()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass
    import pyspark

    report["env"] = {
        "nproc": cpus,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "driver_memory": DRIVER_MEMORY,
    }
    report["host"] = host_delta(h0, host_sample())
    print(json.dumps(report))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
