"""Controlled same-session A/B of the peaks-family bench movers across
git trees (VERDICT r8 ask #4): the r8 driver artifact recorded
native_peak_pipeline +57% and peak_attributes +24% vs r7 while the
in-round runs said flat — this tool attributes the delta to host vs
code by running the SAME three builders at each tree in interleaved
cycles (A B C, A B C, ...) inside one wall-clock window, one fresh
subprocess per measurement so no JVM/Python state leaks between trees.

Usage:
    python tools/ab_trees.py --trees r7=/tmp/r7tree r8=/tmp/r8tree \
        r9=/root/repo --cycles 3

Each subprocess pays its own Spark startup + signal-frame cache warm-up
OUTSIDE the timed region (the same structure bench.py uses), then
times min-of-3 noop-sink runs of native_peak_pipeline /
native_find_peaks / peak_attributes — the exact bench formulations.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys

CHILD = r'''
import json, os, sys, time
tree = sys.argv[1]
sys.path.insert(0, tree)
from myodish_peak_analysis_spark.session import get_spark
from myodish_peak_analysis_spark.api import PeakPipeline
from myodish_peak_analysis_spark.operators.native_peaks import native_find_peaks
from myodish_peak_analysis_spark.operators.smooth import with_fir_smooth
from myodish_peak_analysis_spark.schema import auto_channels, signal_frame
from myodish_peak_analysis_spark.queries import q_peak_attributes

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
spark = get_spark("ab-peaks")
spark.sparkContext.setLogLevel("ERROR")
n = auto_channels(spark, SF)
sig = signal_frame(spark, SF, n_channels=n).cache()
sig.count()

def force(df):
    df.write.format("noop").mode("overwrite").save()

builders = {
    "native_peak_pipeline": lambda: PeakPipeline(sig).smooth()
        .envelopes().diastolic().detect_peaks().attributes(),
    "native_find_peaks": lambda: native_find_peaks(with_fir_smooth(sig)),
    "peak_attributes": lambda: q_peak_attributes(spark, SF),
}
out = {}
for name, b in builders.items():
    reps = []
    for _ in range(3):
        t0 = time.time()
        force(b())
        reps.append(time.time() - t0)
    out[name] = [round(min(reps), 3), round(max(reps), 3)]
print("ABRESULT " + json.dumps(out), flush=True)
'''

# Round 10 (VERDICT r9 ask #2): the flat-PQ movers — pq_topk +149% /
# pq_rerank_topk +142% in the r9 driver artifact, far above the
# emb-family rep spread, with exactly one new action on the path (the
# subs.count() route gate). Same bench formulation as bench.py: the
# repartition(par)+cache+count warm-up OUTSIDE the timed region,
# min-of-3 noop-sink reps per query.
CHILD_PQ = r'''
import json, os, sys, time
tree = sys.argv[1]
sys.path.insert(0, tree)
from myodish_peak_analysis_spark.session import get_spark
from myodish_peak_analysis_spark.schema import read_table
from myodish_peak_analysis_spark.llm import similarity

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
spark = get_spark("ab-pq")
spark.sparkContext.setLogLevel("ERROR")
par = spark.sparkContext.defaultParallelism
emb = read_table(spark, SF, "embeddings").repartition(par).cache()
emb.count()

def force(df):
    df.write.format("noop").mode("overwrite").save()

builders = {
    "pq_topk": lambda: similarity.pq_topk(emb),
    "pq_rerank_topk": lambda: similarity.pq_rerank_topk(emb),
}
out = {}
for name, b in builders.items():
    reps = []
    for _ in range(3):
        t0 = time.time()
        force(b())
        reps.append(time.time() - t0)
    out[name] = [round(min(reps), 3), round(max(reps), 3)]
print("ABRESULT " + json.dumps(out), flush=True)
'''

# Round 11 (VERDICT r10 ask #1): the r10 driver artifact recorded
# envelopes +57% / peak_attributes +14% / remove_dup_spans +49% vs r9
# with NO code change to those operators since ~r4 — attribute host vs
# code with the exact bench formulations (registered-builder scans for
# the window queries, repartition+cache warm-up for the docs query).
CHILD_ENV = r'''
import json, os, sys, time
tree = sys.argv[1]
sys.path.insert(0, tree)
from myodish_peak_analysis_spark.session import get_spark
from myodish_peak_analysis_spark.schema import read_table
from myodish_peak_analysis_spark.queries import (
    q_envelopes, q_peak_attributes,
)
from myodish_peak_analysis_spark.llm import text

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
spark = get_spark("ab-env")
spark.sparkContext.setLogLevel("ERROR")
par = spark.sparkContext.defaultParallelism
docs = read_table(spark, SF, "documents").repartition(par).cache()
docs.count()

def force(df):
    df.write.format("noop").mode("overwrite").save()

builders = {
    "envelopes": lambda: q_envelopes(spark, SF),
    "peak_attributes": lambda: q_peak_attributes(spark, SF),
    "remove_dup_spans": lambda: text.remove_dup_spans(docs),
}
out = {}
for name, b in builders.items():
    reps = []
    for _ in range(3):
        t0 = time.time()
        force(b())
        reps.append(time.time() - t0)
    out[name] = [round(min(reps), 3), round(max(reps), 3)]
print("ABRESULT " + json.dumps(out), flush=True)
'''

# Round 12 (VERDICT r11 ask #1): the r11 driver artifact recorded
# training_corpus_manifest 3.54 -> 17.08 s (4.8x, the only out-of-band
# mover — no r11 code change touched its plan) and native_peak_pipeline
# 5.07 -> 10.89 (2.15x, just inside the peaks band). Exact bench
# formulations: cached+pre-spread docs for the manifest, cached signal
# frame for the pipeline.
CHILD_MANIFEST = r'''
import json, os, sys, time
tree = sys.argv[1]
sys.path.insert(0, tree)
from myodish_peak_analysis_spark.session import get_spark
from myodish_peak_analysis_spark.api import PeakPipeline
from myodish_peak_analysis_spark.schema import (
    auto_channels, read_table, signal_frame,
)
from myodish_peak_analysis_spark.llm import curate

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
spark = get_spark("ab-manifest")
spark.sparkContext.setLogLevel("ERROR")
par = spark.sparkContext.defaultParallelism
docs = read_table(spark, SF, "documents").repartition(par).cache()
docs.count()
n = auto_channels(spark, SF)
sig = signal_frame(spark, SF, n_channels=n).cache()
sig.count()

def force(df):
    df.write.format("noop").mode("overwrite").save()

builders = {
    "training_corpus_manifest": lambda: curate.training_corpus_manifest(docs),
    "native_peak_pipeline": lambda: PeakPipeline(sig).smooth()
        .envelopes().diastolic().detect_peaks().attributes(),
}
out = {}
for name, b in builders.items():
    reps = []
    for _ in range(3):
        t0 = time.time()
        force(b())
        reps.append(time.time() - t0)
    out[name] = [round(min(reps), 3), round(max(reps), 3)]
print("ABRESULT " + json.dumps(out), flush=True)
'''

# Round 13 (VERDICT r12 ask #4): the r12 driver artifact recorded
# ivf_pq_topk_prefit 1.05 -> 1.34 s (+28%) and rp_ivf_topk 3.54 ->
# 4.23 s (+19%) vs r11, outside the measured 0.14 emb-family rel
# spread — and r12 DID touch the ANN path (persisted appended_rows
# meta + the pre-cache dim probe in ivf_pq_append), so this could be
# a real fixed cost on the prefit path rather than host noise. Exact
# bench formulations: repartition+cache warm-up outside the timed
# region; the prefit index fits lazily on the FIRST rep so min-of-3
# records the search-only cost (bench.py's ivf_pq_topk_prefit@amortized).
CHILD_EMB = r'''
import json, os, sys, time
tree = sys.argv[1]
sys.path.insert(0, tree)
from myodish_peak_analysis_spark.session import get_spark
from myodish_peak_analysis_spark.schema import read_table
from myodish_peak_analysis_spark.llm import similarity

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
spark = get_spark("ab-emb")
spark.sparkContext.setLogLevel("ERROR")
par = spark.sparkContext.defaultParallelism
emb = read_table(spark, SF, "embeddings").repartition(par).cache()
emb.count()

def force(df):
    df.write.format("noop").mode("overwrite").save()

_idx = {}
def _prefit_search():
    if "idx" not in _idx:
        _idx["idx"] = similarity.fit_ivf_pq_index(emb, n_clusters="auto")
    return similarity.ivf_pq_topk(emb, index=_idx["idx"])

builders = {
    "ivf_pq_topk_prefit": _prefit_search,
    "rp_ivf_topk": lambda: similarity.rp_ivf_topk(emb),
}
out = {}
for name, b in builders.items():
    reps = []
    for _ in range(3):
        t0 = time.time()
        force(b())
        reps.append(time.time() - t0)
    out[name] = [round(min(reps), 3), round(max(reps), 3)]
print("ABRESULT " + json.dumps(out), flush=True)
'''

# The constrained peak finder: native_find_peaks over the FIR smooth
# and the constrained pipeline. Caches are cleared (and the signal
# frame re-warmed) outside the timed region before every rep, so a
# tree whose finder persists its input pays that cost on each rep as a
# fresh query would.
CHILD_CONSTRAINED = r'''
import json, sys, time
tree = sys.argv[1]
sys.path.insert(0, tree)
from myodish_peak_analysis_spark.session import get_spark
from myodish_peak_analysis_spark.api import PeakPipeline
from myodish_peak_analysis_spark.operators.native_peaks import native_find_peaks
from myodish_peak_analysis_spark.operators.smooth import with_fir_smooth
from myodish_peak_analysis_spark.schema import auto_channels, signal_frame
from bench import SF_DIR as SF

spark = get_spark("ab-constrained")
spark.sparkContext.setLogLevel("ERROR")
n = auto_channels(spark, SF)
sig = signal_frame(spark, SF, n_channels=n)

def force(df):
    df.write.format("noop").mode("overwrite").save()

builders = {
    "native_find_peaks": lambda: native_find_peaks(with_fir_smooth(sig)),
    "constrained_peak_attributes": lambda: PeakPipeline(sig).smooth()
        .envelopes().diastolic().detect_peaks(constrained=True).attributes(),
}
out = {}
for name, b in builders.items():
    reps = []
    for _ in range(3):
        spark.catalog.clearCache()
        sig.cache().count()
        t0 = time.time()
        force(b())
        reps.append(time.time() - t0)
    out[name] = [round(min(reps), 3), round(max(reps), 3)]
print("ABRESULT " + json.dumps(out), flush=True)
'''

CHILDREN = {
    "peaks": CHILD,
    "pq": CHILD_PQ,
    "env": CHILD_ENV,
    "manifest": CHILD_MANIFEST,
    "emb": CHILD_EMB,
    "constrained": CHILD_CONSTRAINED,
}


def run_tree(tree: str, child: str = CHILD) -> dict:
    proc = subprocess.run(
        [sys.executable, "-c", child, tree],
        capture_output=True,
        text=True,
        timeout=1800,
    )
    for line in proc.stdout.splitlines():
        if line.startswith("ABRESULT "):
            return json.loads(line[len("ABRESULT "):])
    raise RuntimeError(
        f"no ABRESULT from {tree}:\n{proc.stdout[-2000:]}\n{proc.stderr[-2000:]}"
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--trees", nargs="+", required=True,
                    help="label=path pairs, measured in the given order")
    ap.add_argument("--cycles", type=int, default=3,
                    help="interleaved A/B/... cycles (drift cancels "
                    "across cycles, not within one)")
    ap.add_argument("--family", choices=sorted(CHILDREN), default="peaks",
                    help="which bench-formulation child to run")
    args = ap.parse_args()
    child = CHILDREN[args.family]
    trees = [t.split("=", 1) for t in args.trees]
    results: dict = {label: {} for label, _ in trees}
    for cyc in range(args.cycles):
        for label, path in trees:
            got = run_tree(path, child)
            for q, (lo, hi) in got.items():
                results[label].setdefault(q, []).append(lo)
            print(json.dumps({"cycle": cyc, "tree": label, "mins": got}),
                  flush=True)
    summary = {}
    for label in results:
        summary[label] = {
            q: {
                "best": round(min(v), 3),
                "median": round(statistics.median(v), 3),
                "cycles": [round(x, 3) for x in v],
            }
            for q, v in results[label].items()
        }
    print("ABSUMMARY " + json.dumps(summary), flush=True)


if __name__ == "__main__":
    main()
