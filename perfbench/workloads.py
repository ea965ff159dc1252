"""The workloads: inputs, set-up, one timed pass, the traced
stage-by-stage pass, and the output checks.

A pass times only calls into the package's public functions and the
action that consumes their result. Everything a pass persisted is
released before the next one, and inputs are read back from the files
set-up wrote, so no pass is served by an earlier pass's caches. Output
checks run outside the timed region.
"""

from __future__ import annotations

import hashlib
import os
import time
from dataclasses import dataclass

import numpy as np

from . import gen
from .trace import cpu_s


def digest(rows) -> str:
    """Order-insensitive digest of collected rows; floats are rounded to
    9 decimals and NaN/None are kept distinct."""
    keys = []
    for r in rows:
        vals = [
            ("nan" if v != v else f"{v:.9f}") if isinstance(v, float) else repr(v)
            for v in r
        ]
        keys.append("|".join(vals))
    return hashlib.sha256("\n".join(sorted(keys)).encode()).hexdigest()


class Timer:
    """Wall time and CPU time (:func:`.trace.cpu_s` of the JVM with pid
    ``jvm_pid``) of the named public calls of one pass."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.ops: dict[str, float] = {}
        self.cpu: dict[str, float] = {}

    def time(self, name: str, fn):
        c0, t0 = cpu_s(self.jvm_pid), time.perf_counter()
        out = fn()
        self.ops[name] = time.perf_counter() - t0
        self.cpu[name] = cpu_s(self.jvm_pid) - c0
        return out


@dataclass
class PassResult:
    ops: dict
    cpu: dict
    digest: str
    output: object = None
    #: digest the stage-by-stage form of the pass must reproduce
    stage_digest: "str | None" = None


class Workload:
    name = ""
    #: the span of a pass whose work :meth:`staged` splits into stages
    fused_span = ""
    #: timed passes a run makes at least, whatever ``--seconds`` is
    MIN_PASSES = 1

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        #: pid of the JVM, set by the runner once the session is up
        self.jvm_pid = 0
        self.sizes: dict = {}
        #: output-quality figures the checks measured, for the report
        self.quality: dict = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def ratios(self, first: PassResult) -> dict:
        """Ratios measured on the first pass's output (traced run)."""
        return {}


# --- recordings --------------------------------------------------------------


class Recordings(Workload):
    """The paper's own pipeline on a batch of synthetic ABF recordings:
    smooth -> envelopes -> diastolic -> peaks -> attributes."""

    name = "recordings"
    fused_span = "api.analyze"
    #: the passes are still speeding up after the warm-up (the JIT), so
    #: the median of three is steadier across runs than one or two
    MIN_PASSES = 3
    N_FILES = 1
    N_SAMPLES = 1000  # 10 s at 100 Hz per channel
    #: Native smooth/baseline/ceiling/diastolic may differ from the
    #: reference-exact route by at most this much.
    FIDELITY_TOL = 1e-9
    #: Injected contractions closer than this many samples to either
    #: end of a channel sit where the 350-sample envelope window is
    #: truncated, and are not required to be detected.
    EDGE = 200
    #: A detected peak matches an injected contraction within this
    #: many samples (the contraction is jittered by +-10 samples and
    #: has sigma 6 samples).
    MATCH = 5

    def generate(self) -> None:
        os.makedirs(self.path("abf"), exist_ok=True)
        self.beats = {}
        self.abf_files = []
        self.abf_signal = {}
        for r in range(self.N_FILES):
            rec = gen.recording(self.seed, r, self.N_SAMPLES)
            p = self.path("abf", f"rec{r}.abf")
            gen.write_abf1(p, rec.signal)
            self.abf_files.append(p)
            self.abf_signal[r] = rec.signal
            for c, b in enumerate(rec.beats):
                self.beats[r * gen.N_CHANNELS + c] = b
        self.abf_bytes = sum(os.path.getsize(p) for p in self.abf_files)
        self.sizes = {
            "files": self.N_FILES,
            "channels": gen.N_CHANNELS,
            "samples_per_channel": self.N_SAMPLES,
            "rows": self.N_FILES * gen.N_CHANNELS * self.N_SAMPLES,
        }
        self.sample_channel = int(
            np.random.default_rng([self.seed, 7]).integers(0, len(self.beats))
        )

    def setup(self, spark, tr) -> None:
        from pyspark.sql import functions as F

        from myodish_peak_analysis_spark.sources.abf import abf_to_parquet

        with tr.span("sources.abf.decode") as s:
            parts = []
            for r, p in enumerate(self.abf_files):
                out = self.path("decoded", f"rec{r}.parquet")
                os.makedirs(os.path.dirname(out), exist_ok=True)
                abf_to_parquet(p, out, n_channels=gen.N_CHANNELS)
                parts.append(
                    spark.read.parquet(out).withColumn(
                        "channel_id",
                        (F.col("channel_id") + F.lit(r * gen.N_CHANNELS)).cast("int"),
                    )
                )
            sig = parts[0]
            for p in parts[1:]:
                sig = sig.unionByName(p)
            sig.write.mode("overwrite").parquet(self.path("signals.parquet"))
            if s is not None:
                s.extra["bytes"] = self.abf_bytes

    def signal(self, spark):
        return spark.read.parquet(self.path("signals.parquet"))

    def run_pass(self, spark, tr) -> PassResult:
        from myodish_peak_analysis_spark.api import PeakPipeline
        from myodish_peak_analysis_spark.operators.attributes import peak_averages

        sig = self.signal(spark)
        t = Timer(self.jvm_pid)

        def analyze():
            peaks = (
                PeakPipeline(sig)
                .smooth()
                .envelopes()
                .diastolic()
                .detect_peaks()
                .attributes()
                .persist()
            )
            peaks.write.format("noop").mode("overwrite").save()
            peak_averages(peaks).collect()
            return peaks

        with tr.span("api.analyze"):
            peaks = t.time("analyze_s", analyze)
        rows = peaks.collect()
        peaks.unpersist()
        d = digest(rows)
        return PassResult(t.ops, t.cpu, d, rows, stage_digest=d)

    def staged(self, spark, tr) -> tuple[str, dict]:
        """The pass split at module boundaries, each stage's input
        persisted before its span opens. Returns the output digest and
        the ratios measured on the way."""
        from pyspark.sql import functions as F

        from myodish_peak_analysis_spark.operators.attributes import (
            peak_attributes,
            with_crossings,
        )
        from myodish_peak_analysis_spark.operators.envelopes import (
            with_diastolic,
            with_smoothed_envelopes,
        )
        from myodish_peak_analysis_spark.operators.peaks import with_threshold_keep
        from myodish_peak_analysis_spark.operators.smooth import with_fir_smooth
        from myodish_peak_analysis_spark.operators.windows import with_extrema_flags

        held = [_pin(self.signal(spark))]

        def stage(name, fn):
            with tr.span(name):
                held.append(_pin(fn(held[-1])))

        # the PeakPipeline defaults, module by module (api.PeakPipeline)
        stage("operators.smooth", lambda d: with_fir_smooth(
            d, value_col="signal_value", out_col="smooth", window_length=51, polyorder=7))
        stage("operators.windows", lambda d: with_extrema_flags(d, value_col="smooth"))
        stage("operators.envelopes", lambda d: with_diastolic(
            with_smoothed_envelopes(
                d, value_col="smooth", window_size=350, smoothing_window_length=301,
                polyorder=3, flags_present=True),
            relative_to_baseline=0.1))
        stage("operators.peaks", lambda d: with_threshold_keep(
            d, value_col="smooth", threshold=0.7
        ).withColumn("_keep", F.col("is_peak") & F.col("keep_peak")))
        stage("operators.attributes", lambda d: peak_attributes(
            with_crossings(d, smooth_col="smooth"), keep_col="_keep",
            smooth_col="smooth", fs=100.0))
        flagged = held[-2]
        cands = flagged.filter(F.col("is_peak")).count()
        kept = flagged.filter(F.col("_keep")).count()
        out = digest(held[-1].collect())
        for d in held:
            d.unpersist()
        return out, {"operators.peaks.kept_per_candidate": kept / max(cands, 1)}

    def check(self, spark, first: PassResult) -> list[str]:
        """Decoded rows equal the generated samples; native signal
        columns match the reference-exact route on one sampled channel;
        detected peaks match the injected contractions."""
        from pyspark.sql import functions as F

        from myodish_peak_analysis_spark.api import PeakPipeline
        from myodish_peak_analysis_spark.operators.fidelity import (
            fidelity_signal_columns,
        )

        errors = []
        sig = self.signal(spark).toPandas().sort_values(["channel_id", "sample_idx"])
        for r, arr in self.abf_signal.items():
            for c in range(gen.N_CHANNELS):
                got = sig[sig.channel_id == r * gen.N_CHANNELS + c]["signal_value"]
                if not np.array_equal(got.to_numpy(), arr[:, c].astype(np.float64)):
                    errors.append(f"decoded channel {r}/{c} differs from the generated samples")

        one = self.signal(spark).filter(F.col("channel_id") == self.sample_channel)
        cols = ["smooth", "baseline", "ceiling", "diastolic"]
        native = (
            PeakPipeline(one).smooth().envelopes().diastolic().df
            .select("sample_idx", *cols).toPandas().sort_values("sample_idx")
        )
        ref = (
            fidelity_signal_columns(one).select("sample_idx", *cols)
            .toPandas().sort_values("sample_idx")
        )
        if len(native) != len(ref):
            errors.append("fidelity: row counts differ")
        else:
            for c in cols:
                a, b = native[c].to_numpy(float), ref[c].to_numpy(float)
                if not np.array_equal(np.isnan(a), np.isnan(b)):
                    errors.append(f"fidelity: NaN placement of {c} differs")
                elif np.nanmax(np.abs(a - b), initial=0.0) > self.FIDELITY_TOL:
                    errors.append(f"fidelity: {c} differs by more than {self.FIDELITY_TOL}")

        found: dict[int, list[int]] = {}
        for row in first.output:
            found.setdefault(int(row["channel_id"]), []).append(int(row["peak_idx"]))
        for ch, beats in self.beats.items():
            got = np.array(sorted(found.get(ch, [])))
            want = np.array(beats)
            stray = [p for p in got if np.abs(want - p).min() > self.MATCH]
            inner = want[(want >= self.EDGE) & (want < self.N_SAMPLES - self.EDGE)]
            missed = [b for b in inner if got.size == 0 or np.abs(got - b).min() > self.MATCH]
            if stray or missed:
                errors.append(
                    f"channel {ch}: {len(stray)} peaks match no contraction, "
                    f"{len(missed)} contractions not detected"
                )
        return errors


# --- llm ---------------------------------------------------------------------


class Llm(Workload):
    """The LLM-corpus side, driver-action bound: the training-corpus
    manifest (dedup -> quality -> curation) over a seeded snapshot, then
    an IVF-PQ index fit over seeded embeddings and a search of held-out
    queries on that index."""

    name = "llm"
    fused_span = "llm.curate.manifest"
    N_DOCS = 600
    EXACT_SHARE = 0.10
    NEAR_SHARE = 0.15
    N_VECTORS = 1000
    DIM = 64
    N_LABELS = 10
    N_QUERIES = 50
    K = 10
    NPROBE = 4
    SHORTLIST = 80
    #: recall@10 of the search against the NumPy exact top 10 may not
    #: fall below this (0.80 to 0.89 measured over 30 seeds at these
    #: sizes and dials).
    RECALL_FLOOR = 0.7

    def generate(self) -> None:
        docs = gen.documents(self.seed, self.N_DOCS, self.EXACT_SHARE, self.NEAR_SHARE)
        docs.to_parquet(self.path("docs.parquet"), index=False)
        emb = gen.embeddings(self.seed, self.N_VECTORS, self.DIM, self.N_LABELS)
        q = gen.embeddings(self.seed, self.N_QUERIES, self.DIM, self.N_LABELS, stream=1)
        q = q.rename(columns={"vec_id": "query_id"})[["query_id", "embedding"]]
        emb.to_parquet(self.path("emb.parquet"), index=False)
        q.to_parquet(self.path("queries.parquet"), index=False)
        self.truth = gen.exact_topk(emb, q, self.K)
        self.sizes = {
            "docs": len(docs),
            "exact_dup_share": self.EXACT_SHARE,
            "near_dup_share": self.NEAR_SHARE,
            "vectors": self.N_VECTORS,
            "dim": self.DIM,
            "clusters": self.N_LABELS,
            "queries": self.N_QUERIES,
        }

    def read(self, spark, name: str):
        return spark.read.parquet(self.path(f"{name}.parquet"))

    def setup(self, spark, tr) -> None:
        """Ingest: scan every input once, so a pass starts with the
        files' footers and the session's file listing warm."""
        for name in ("docs", "emb", "queries"):
            self.read(spark, name).count()

    def run_pass(self, spark, tr) -> PassResult:
        from myodish_peak_analysis_spark.llm import curate
        from myodish_peak_analysis_spark.llm import similarity as sim
        from myodish_peak_analysis_spark.session import release_caches

        t = Timer(self.jvm_pid)
        docs = self.read(spark, "docs")
        with tr.span("llm.curate.manifest"):
            manifest = t.time(
                "manifest_s", lambda: curate.training_corpus_manifest(docs).collect()
            )
        release_caches(spark)

        emb = self.read(spark, "emb")
        with tr.span("llm.similarity.fit"):
            index = t.time("fit_s", lambda: sim.fit_ivf_pq_index(emb, n_clusters="auto"))
        queries = self.read(spark, "queries")
        with tr.span("llm.similarity.search"):
            found = t.time("search_s", lambda: sim.ivf_pq_search(
                queries, index, k=self.K, shortlist=self.SHORTLIST, nprobe=self.NPROBE
            ).collect())
        codes = index.codes.collect()
        index.unpersist()
        d = digest(manifest)
        out = (manifest, codes, found)
        return PassResult(t.ops, t.cpu, "".join(digest(r) for r in out), out, stage_digest=d)

    def staged(self, spark, tr) -> tuple[str, dict]:
        """The manifest split at module boundaries. Each stage persists
        its result; the next stage's call reuses it through Spark's cache
        of the identical plan (``minhash_pairs`` persists the same
        band-key plan ``signatures`` pinned, ``neardup_verified`` the same
        candidate plan, ``dedup_clusters`` reads the same verified-pair
        plan). The tail (prune, split, pack) has no public entry point of
        its own, so it is reached through the helper the full and the
        incremental manifest share."""
        from myodish_peak_analysis_spark.llm import curate, dedup, text

        docs = _pin(self.read(spark, "docs"))
        held = [docs]

        def stage(name, fn):
            with tr.span(name):
                df = _pin(fn())
            held.append(df)
            return df

        stage("llm.dedup.signatures",
              lambda: dedup.minhash_band_keys(dedup.minhash_signatures(docs)))
        cand = stage("llm.dedup.candidates", lambda: dedup.minhash_pairs(docs))
        verified = stage("llm.dedup.verify", lambda: dedup.neardup_verified(docs))
        canon = stage("llm.dedup.components", lambda: dedup.canonical_corpus(docs))
        quality = stage("llm.text.quality", lambda: text.with_quality_score(docs))
        with tr.span("llm.curate.tail"):
            rows = curate._manifest_tail(
                docs, canon.select("doc_id", "cluster_id", "source"), quality,
                700, 100, 100, 128,
            ).collect()
        ratio = verified.count() / max(cand.count(), 1)
        for d in held:
            d.unpersist()
        return digest(rows), {"llm.dedup.verified_per_candidate": ratio}

    def recall(self, rows) -> float:
        got: dict[int, set] = {}
        for r in rows:
            got.setdefault(int(r["query_id"]), set()).add(int(r["vec_id"]))
        hits = sum(len(got.get(q, set()) & want) for q, want in self.truth.items())
        return hits / sum(len(w) for w in self.truth.values())

    def ratios(self, first: PassResult) -> dict:
        return {"llm.similarity.recall_at_10": self.recall(first.output[2])}

    def check(self, spark, first: PassResult) -> list[str]:
        """The manifest equals the DuckDB mirror of
        ``training_corpus_manifest_sql``; search recall@10 against the
        exact top 10 stays at or above the floor."""
        import duckdb

        from myodish_peak_analysis_spark.llm.oracle import ORACLES

        manifest, _codes, found = first.output
        errors = []
        con = duckdb.connect()
        try:
            con.sql(
                f"CREATE VIEW documents AS SELECT * FROM '{self.path('docs.parquet')}'"
            )
            oracle = con.sql(ORACLES["training_corpus_manifest"]).fetchall()
        finally:
            con.close()
        if digest(oracle) != digest(manifest):
            errors.append(
                f"manifest ({len(manifest)} rows) differs from the DuckDB oracle "
                f"({len(oracle)} rows)"
            )
        r = self.recall(found)
        self.quality["recall_at_10"] = r
        if r < self.RECALL_FLOOR:
            errors.append(f"search recall@10 {r:.3f} below the floor {self.RECALL_FLOOR}")
        return errors


def _pin(df):
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    return df


WORKLOADS = {w.name: w for w in (Recordings, Llm)}
