"""Self-tests of the benchmark: seeded generators are deterministic, the
result names every metric with its unit, and traced spans nest inside
their parents. None of them starts Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd

from perfbench import gen, spec
from perfbench.run import layer_metrics, result_line
from perfbench.trace import COUNTERS, Tracer
from perfbench.workloads import WORKLOADS, PassResult

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# --- generators ----------------------------------------------------------------


def test_recordings_deterministic_per_seed(tmp_path):
    a, b, c = gen.recording(3, 0, 800), gen.recording(3, 0, 800), gen.recording(4, 0, 800)
    assert np.array_equal(a.signal, b.signal) and a.beats == b.beats
    assert not np.array_equal(a.signal, c.signal)
    pa, pb = tmp_path / "a.abf", tmp_path / "b.abf"
    gen.write_abf1(str(pa), a.signal)
    gen.write_abf1(str(pb), b.signal)
    assert pa.read_bytes() == pb.read_bytes()


def test_abf_file_decodes_to_the_generated_samples(tmp_path):
    from myodish_peak_analysis_spark.sources.abf import read_abf

    rec = gen.recording(5, 0, 600)
    p = tmp_path / "r.abf"
    gen.write_abf1(str(p), rec.signal)
    frames, rate = read_abf(str(p))
    assert len(frames) == gen.N_CHANNELS and abs(rate - gen.FS) < 1e-3
    for c, f in enumerate(frames):
        assert np.array_equal(f["signal_value"].to_numpy(), rec.signal[:, c].astype(float))


def test_documents_deterministic_per_seed_with_stated_shares():
    a = gen.documents(7, 400, 0.1, 0.15)
    pd.testing.assert_frame_equal(a, gen.documents(7, 400, 0.1, 0.15))
    assert not a["text"].equals(gen.documents(8, 400, 0.1, 0.15)["text"])
    assert list(a.columns) == ["doc_id", "text", "lang", "source", "n_chars"]
    exact = a["text"].duplicated().mean()
    assert 0.05 < exact < 0.15  # the 10 % exact copies, give or take sampling


def test_embeddings_deterministic_per_seed():
    a = gen.embeddings(9, 200, 64, 10)
    b = gen.embeddings(9, 200, 64, 10)
    assert np.array_equal(np.stack(a.embedding), np.stack(b.embedding))
    assert not np.array_equal(
        np.stack(a.embedding), np.stack(gen.embeddings(10, 200, 64, 10).embedding)
    )
    assert np.stack(a.embedding).dtype == np.float32


def test_exact_topk_finds_the_query_itself():
    emb = gen.embeddings(1, 100, 8, 3)
    q = emb.iloc[:5].rename(columns={"vec_id": "query_id"})
    top = gen.exact_topk(emb, q, 3)
    assert all(qid in ids for qid, ids in top.items())


# --- metric names and units ------------------------------------------------------


def _traced_run() -> tuple[Tracer, list, list]:
    """A tracer filled the way a traced llm run fills it, with made-up
    counters, and the matching pass results."""
    tr = Tracer(probe=None, detail=True)
    tr.phase = "setup"
    with tr.span("session.start"):
        pass
    results, staged = [], []
    for phase in ("warmup", "timed", "timed"):
        tr.phase = phase
        with tr.span("pass", detail=False):
            for name in ("llm.curate.manifest", "llm.similarity.fit", "llm.similarity.search"):
                with tr.span(name):
                    pass
        with tr.span("staged", detail=False):
            for name in spec.SPANS:
                if name.startswith(("llm.dedup", "llm.text", "llm.curate.tail")):
                    with tr.span(name):
                        pass
        results.append((phase == "warmup", PassResult({}, {}, "d", None)))
        staged.append(("d", {"llm.dedup.verified_per_candidate": 0.5}))
    tr.resolve()
    return tr, results, staged


class _Wl:
    fused_span = "llm.curate.manifest"

    def ratios(self, first):
        return {"llm.similarity.recall_at_10": 0.9}


def test_traced_result_names_every_per_layer_metric_with_its_unit():
    tr, results, staged = _traced_run()
    metrics, flagged = layer_metrics(tr, _Wl(), results, staged)
    line = result_line(metrics, True, 3, 0, True)
    declared = {m["name"]: m["unit"] for m in _benchmark_json()["per_layer"]}
    assert {k: v["unit"] for k, v in line["metrics"].items()} == declared
    assert flagged == []
    assert line["metrics"]["llm.similarity.recall_at_10"]["value"] == 0.9
    assert line["metrics"]["operators.smooth.busy_s"]["value"] == 0  # not run on llm


def test_untraced_result_names_every_end_to_end_metric_with_its_unit():
    line = result_line({"pass_cpu_s": 1.5, "setup_s": 2.5}, False, 2, 0, True)
    declared = {m["name"]: m["unit"] for m in _benchmark_json()["end_to_end"]}
    assert {k: v["unit"] for k, v in line["metrics"].items()} == declared
    assert line["correct"] and line["attempted"] == 2 and line["failed"] == 0
    assert not result_line({"pass_cpu_s": 1.5, "setup_s": 2.5}, False, 2, 1, True)["correct"]


def test_benchmark_json_matches_the_spec():
    b = _benchmark_json()
    assert [w["name"] for w in b["workloads"]] == list(spec.WORKLOADS) == list(WORKLOADS)
    assert [(m["name"], m["unit"]) for m in b["end_to_end"]] == list(spec.END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in b["per_layer"]] == spec.per_layer()
    assert len(b["per_layer"]) <= 128
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])


# --- span nesting -------------------------------------------------------------------


class _FakeProbe:
    """Counts one job per group the tracer sets, like a call that runs
    one Spark job per span."""

    def __init__(self):
        self.group = None
        self.jobs: dict = {}
        self.gc = 0.0

    def set_group(self, group):
        self.group = group

    def gc_ms(self):
        self.gc += 1.0
        return self.gc

    def drain(self):
        pass

    def run_job(self):
        self.jobs[self.group] = self.jobs.get(self.group, 0) + 1

    def counts(self, group):
        out = dict.fromkeys(COUNTERS, 0)
        out["jobs"] = self.jobs.get(group, 0)
        return out


def test_spans_nest_inside_their_parents():
    probe = _FakeProbe()
    tr = Tracer(probe=probe)
    with tr.span("pass", detail=False) as outer:
        probe.run_job()
        with tr.span("a") as a:
            probe.run_job()
            with tr.span("b") as b:
                probe.run_job()
            assert probe.group == a.group  # the parent's group is back
        with tr.span("c") as c:
            probe.run_job()
    assert probe.group is None
    tr.resolve()
    assert (a.parent, b.parent, c.parent) == (outer.sid, a.sid, outer.sid)
    for child, parent in ((a, outer), (b, a), (c, outer)):
        assert parent.start <= child.start <= child.end <= parent.end
    assert [s.name for s in outer.children] == ["a", "c"]
    assert (outer.own["jobs"], outer.total["jobs"]) == (1, 4)
    assert (a.own["jobs"], a.total["jobs"]) == (1, 2)


def test_untraced_tracer_records_only_pass_spans():
    tr = Tracer(probe=_FakeProbe(), detail=False)
    with tr.span("pass", detail=False):
        with tr.span("llm.similarity.fit") as s:
            assert s is None
    assert [s.name for s in tr.spans] == ["pass"]
