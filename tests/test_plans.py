"""Plan-shape regression net over the whole registered query surface.

Builds the plans of every ``queries()`` entry at sf0.001 and asserts
no unpartitioned cartesian product sneaks in — the one join shape that
is always wrong at scale — and no lambda re-splits a string per array
element. (Bounded broadcast cross joins — the 1-row scalar in
stim_normalize, the documented brute-force ANN baseline — plan as
BroadcastNestedLoopJoin and are allowed.)
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF001


@pytest.fixture(scope="module")
def registered_plans(spark):
    """name -> (optimized plan, executed plan) of every registered query
    at sf0.001, or the exception that stopped it planning."""
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry

    plans = {}
    for name, fn in entry.queries().items():
        try:
            qe = fn(spark, SF001)._jdf.queryExecution()
            plans[name] = (qe.optimizedPlan().toString(), qe.executedPlan().toString())
        except Exception as exc:  # a query that cannot even plan is a bug
            plans[name] = exc
    return plans


def test_no_cartesian_product_in_any_registered_query(registered_plans):
    from tools.audit_plans import PYTHON_ALLOWED

    failures = []
    for name, plans in registered_plans.items():
        if isinstance(plans, Exception):
            failures.append(f"{name}: failed to plan ({plans})")
            continue
        plan = plans[1]
        if "CartesianProduct" in plan:
            failures.append(f"{name}: CartesianProduct in plan")
        n_py = plan.count("EvalPython") + plan.count("InPandas") + plan.count("InArrow")
        if n_py and name not in PYTHON_ALLOWED:
            failures.append(f"{name}: unexpected Python/Arrow stage")
    assert not failures, "\n".join(failures)


def test_no_registered_query_splits_inside_a_lambda(registered_plans):
    """No optimized plan evaluates ``split(`` inside a lambda: a word
    n-gram builder that re-splits ``text`` per gram is quadratic in the
    document's length; ``llm.text.word_ngrams`` slices the row's
    tokens, split once, instead."""
    from tools.audit_plans import split_in_lambda

    found = {
        name: split_in_lambda(plans[0])
        for name, plans in registered_plans.items()
        if not isinstance(plans, Exception) and split_in_lambda(plans[0])
    }
    assert not found, found


def test_warm_llm_composition_compiles_no_classes(spark):
    """A warm repeat of the LLM composition — training-corpus manifest,
    ``fit_ivf_pq_index`` and ``ivf_pq_search`` on sf0.001, the shape of
    one ``llm`` benchmark pass — compiles no generated class: its
    working set (~230 classes) fits the codegen cache that
    ``session.get_spark`` sizes, and class names carry no AQE stage
    number. With Spark's default of 100 entries the least-recently-used
    eviction drops every class before its reuse and each repeat re-runs
    Janino a few hundred times; with the stage number in the name, some
    repeats recompile a few classes that AQE numbered differently."""
    from myodish_peak_analysis_spark.llm import curate
    from myodish_peak_analysis_spark.llm import similarity as S
    from myodish_peak_analysis_spark.schema import read_table
    from myodish_peak_analysis_spark.session import codegen_compiles, release_caches

    docs = read_table(spark, SF001, "documents")
    emb = read_table(spark, SF001, "embeddings")
    qs = emb.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 100000).alias("query_id"), "embedding"
    )

    def composition():
        release_caches(spark)
        manifest = curate.training_corpus_manifest(docs).collect()
        release_caches(spark)
        index = S.fit_ivf_pq_index(emb)
        found = S.ivf_pq_search(qs, index, k=5).collect()
        codes = index.codes.collect()
        index.unpersist()
        return sorted(manifest), sorted(found), sorted(codes)

    first = composition()
    c0 = codegen_compiles(spark)
    again = composition()
    assert codegen_compiles(spark) - c0 == 0
    assert again == first


def _plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _shuffles(plan: str) -> int:
    return (
        plan.count("Exchange")
        - plan.count("BroadcastExchange")
        - plan.count("ReusedExchange")
    )


def test_pipeline_plan_has_one_channel_exchange_per_kernel(spark):
    """The native pipeline (smooth → envelopes → diastolic → peaks →
    attributes) shuffles once to cluster the signal by channel and once
    after its one per-channel NumPy stage (FIR smooth → extrema flags →
    envelope smooth): a Python node emits new attributes, so Spark
    forgets the channel clustering and the stage re-partitions its
    output. Every window stage reuses or in-partition re-sorts the
    latest exchange. All of them are RANGE partitioning on channel_id
    (the round-12 straggler fix, PLANS.md "Round-12 channel
    partitioning"); rangepartitioning satisfies the windows'
    ClusteredDistribution, so ANY hashpartitioning exchange appearing
    means someone broke the shared-partitioning discipline."""
    from myodish_peak_analysis_spark.api import PeakPipeline
    from myodish_peak_analysis_spark.schema import signal_frame
    from tests.conftest import SF001

    sig = signal_frame(spark, SF001, n_channels=1)
    plan = _plan_of(
        PeakPipeline(sig).smooth().envelopes().diastolic().detect_peaks().attributes()
    )
    # n_channels=1 degenerates the signal frame's rangepartitioning(1)
    # to SinglePartition; the kernel's exchange stays ranged.
    assert _shuffles(plan) == 2, plan[:2000]
    assert plan.count("Exchange SinglePartition") == 1, plan[:2000]
    assert plan.count("Exchange rangepartitioning(channel_id") == 1, plan[:2000]
    assert plan.count("Exchange hashpartitioning") == 0, plan[:2000]
    multi = signal_frame(spark, SF001, n_channels=2)
    mplan = _plan_of(PeakPipeline(multi).smooth().envelopes().df)
    assert _shuffles(mplan) == 2, mplan[:2000]
    assert mplan.count("Exchange rangepartitioning(channel_id") == 2, mplan[:2000]
    assert mplan.count("Exchange hashpartitioning") == 0, mplan[:2000]


def test_pipeline_noop_write_job_count(spark):
    """One PeakPipeline noop write over two channels runs exactly 5 jobs,
    counted through ``StatusTracker`` under a job group: for each of the
    two range exchanges (the signal frame's and the kernel output's) a
    range-sampling job and an adaptive query stage that writes the
    shuffle, then the write itself. Splitting the kernel into two Python
    stages adds a range exchange and so 2 jobs (7)."""
    from myodish_peak_analysis_spark.api import PeakPipeline
    from myodish_peak_analysis_spark.schema import signal_frame
    from tests.conftest import SF001

    sc = spark.sparkContext
    out = (
        PeakPipeline(signal_frame(spark, SF001, n_channels=2))
        .smooth().envelopes().diastolic().detect_peaks().attributes()
    )
    sc.setJobGroup("pipeline_noop_write", "pipeline_noop_write")
    try:
        out.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("pipeline_noop_write")
    assert len(jobs) == 5, jobs


def test_constrained_peak_attributes_noop_write_job_count(spark):
    """A noop write of the registered ``constrained_peak_attributes`` at
    sf0.001 runs exactly 7 jobs: a range-sampling job and an adaptive
    query stage for each of the three range exchanges (the signal
    frame's, the smooth → envelopes kernel's and the constrained peak
    step's), then the write. The window / bucket-join / higher-order
    function route it replaced ran 16 (its plateau windows, distance
    step and neighbourhood join each shuffled, and it persisted its
    input)."""
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry

    sc = spark.sparkContext
    out = entry.queries()["constrained_peak_attributes"](spark, SF001)
    spark.catalog.clearCache()
    sc.setJobGroup("constrained_noop_write", "constrained_noop_write")
    try:
        out.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("constrained_noop_write")
    assert len(jobs) == 7, jobs


def test_fit_ivf_pq_index_job_count(spark):
    """One ``fit_ivf_pq_index`` of the sf0.001 embeddings (k = 16 IVF
    lists, 3 IVF and 2 PQ Lloyd rounds in one loop) runs exactly 23
    jobs, counted through ``StatusTracker`` under a job group with the
    cache cleared:

    - 1: the dim probe (``first``);
    - 2: the corpus count (its exchange stage, then the result);
    - 5: the one union init of both quantizers: filling the
      normed-corpus and the subvector caches, the broadcast of the 16
      lowest ids (both quantizers take k = 16, so the two broadcasts
      are one reused exchange), the (q, sub_id) window exchange, the
      result;
    - 9: the 3 rounds (3 each: the (q, sub_id, centroid, dim) and
      centroid aggregation exchanges, then the result; rounds 1-2
      update both quantizers' means in one action, round 3 the IVF's);
    - 6: caching and counting members and codes (3 each: filling the
      cache, the count's exchange, the result).

    The assign kernels add no job: they run inside the stages that
    read their input. An assign that shuffles (a reduce over vec_id)
    adds 2 jobs to each cached count; a PQ k other than the IVF k adds
    one broadcast; one Lloyd loop per quantizer made it 30."""
    from myodish_peak_analysis_spark.llm.similarity import fit_ivf_pq_index
    from myodish_peak_analysis_spark.schema import read_table
    from tests.conftest import SF001

    sc = spark.sparkContext
    emb = read_table(spark, SF001, "embeddings")
    spark.catalog.clearCache()
    sc.setJobGroup("fit_ivf_pq_index", "fit_ivf_pq_index")
    try:
        index = fit_ivf_pq_index(emb)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    index.unpersist()
    jobs = sc.statusTracker().getJobIdsForGroup("fit_ivf_pq_index")
    assert len(jobs) == 23, jobs


def test_minhash_signatures_plan_is_exchange_free(spark):
    """``minhash_signatures`` folds each document's own shingle array:
    its executed plan has no exchange. The explode + groupBy-min form
    it replaced shuffled the shingles by ``doc_id``."""
    from myodish_peak_analysis_spark.llm import dedup
    from myodish_peak_analysis_spark.schema import read_table

    docs = read_table(spark, SF001, "documents")
    plan = _plan_of(dedup.minhash_signatures(docs))
    assert "Exchange" not in plan, plan[:2000]


def test_neardup_verified_noop_write_job_count(spark):
    """Building ``neardup_verified`` on the sf0.001 documents and
    writing it to noop runs exactly 16 jobs, counted through
    ``StatusTracker`` under a job group with the cache cleared. The
    build pins three caches with an eager count each (the band keys,
    the candidate pairs, the candidate members' tokens); the write
    joins the pairs with both members' tokens. The explode + groupBy
    MinHash also ran 16 jobs, with 30 stages instead of 26."""
    from myodish_peak_analysis_spark.llm import dedup
    from myodish_peak_analysis_spark.schema import read_table

    sc = spark.sparkContext
    docs = read_table(spark, SF001, "documents")
    spark.catalog.clearCache()
    sc.setJobGroup("neardup_noop_write", "neardup_noop_write")
    try:
        dedup.neardup_verified(docs).write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    spark.catalog.clearCache()
    jobs = sc.statusTracker().getJobIdsForGroup("neardup_noop_write")
    assert len(jobs) == 16, jobs


@pytest.mark.parametrize(
    "name",
    ["smooth", "envelopes", "diastolic", "threshold_peaks", "peak_attributes"],
)
def test_peaks_plans_have_no_collect_list_window(spark, name):
    """The envelope smooth is a NumPy fold, not a ±150-row collect_list
    window folded by a zip_with/aggregate higher-order function: neither
    the collect_list nor any lambda may come back into these plans."""
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry

    plan = entry.queries()[name](spark, SF001)._jdf.queryExecution()
    plan = plan.optimizedPlan().toString()
    assert "collect_list" not in plan, plan[:2000]
    assert "lambda" not in plan, plan[:2000]


def test_stratified_sample_plan_is_exchange_free(spark):
    """The multiplicative-hash keep/drop decision must stay in the scan
    stage: zero exchanges of any kind (PLANS.md's zero-movement claim)."""
    from myodish_peak_analysis_spark.llm.sampling import stratified_sample
    from myodish_peak_analysis_spark.schema import read_table
    from tests.conftest import SF001

    plan = _plan_of(stratified_sample(read_table(spark, SF001, "documents")))
    assert "Exchange" not in plan, plan[:2000]


def test_blocklist_filter_corpus_never_shuffles(spark):
    """LEFT ANTI by content hash: the corpus side must be filtered
    map-side against a broadcast — no hashpartitioning exchange."""
    from myodish_peak_analysis_spark.llm.dedup import blocklist_filter
    from myodish_peak_analysis_spark.schema import read_table
    from tests.conftest import SF001

    from pyspark.sql import functions as F

    docs = read_table(spark, SF001, "documents")
    block = docs.limit(5).select(F.md5("text").alias("text_hash"))
    plan = _plan_of(blocklist_filter(docs, block))
    assert "Exchange hashpartitioning" not in plan, plan[:2000]


def test_round5_plan_shapes(spark):
    """Round-5 claims pinned: Q10 ranks via distributed TakeOrdered
    (never a global Sort+Limit materialization), the bloom blocklist's
    joins are all broadcast (the corpus never shuffles), and the Q6
    aggregate has no Exchange except the final single-row merge."""
    from myodish_peak_analysis_spark.operators.relational import (
        forecast_revenue_change,
        top_loss_customers,
    )
    from myodish_peak_analysis_spark.llm.dedup import blocklist_filter_bloom
    from myodish_peak_analysis_spark.schema import read_table
    from tests.conftest import SF001

    li = read_table(spark, SF001, "lineitem")
    plan = _plan_of(
        top_loss_customers(
            read_table(spark, SF001, "customer"),
            read_table(spark, SF001, "orders"),
            li,
            read_table(spark, SF001, "nation"),
        )
    )
    assert "TakeOrderedAndProject" in plan

    docs = read_table(spark, SF001, "documents")
    bad = docs.limit(5).selectExpr("md5(text) AS text_hash")
    plan = _plan_of(blocklist_filter_bloom(docs, bad))
    assert "BroadcastHashJoin" in plan
    # no shuffle of the corpus: no hash/range repartition anywhere —
    # the only allowed exchanges are the broadcasts themselves and the
    # SinglePartition merges building the tiny bucket/blocklist sides
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan

    plan = _plan_of(forecast_revenue_change(li))
    # scan-agg: one partial agg, one final agg, one single-partition
    # exchange between them; no join operators at all
    assert "Join" not in plan


def test_topk_per_group_plan_has_partial_window_group_limit(spark):
    """The skew-safety contract of the default (optimizer-route)
    topk_per_group: Spark must plant a PARTIAL WindowGroupLimit below
    the exchange so each map task ships <= k rows per group. If an
    engine change drops the rewrite, this fails and the salted
    two-phase form (salt=N) becomes the default again — see
    tools/bench_skew.py for the measurement that justified the switch."""
    from myodish_peak_analysis_spark.operators.analytics import topk_per_group
    from myodish_peak_analysis_spark.schema import read_table
    from tests.conftest import SF001

    docs = read_table(spark, SF001, "documents")
    plan = _plan_of(topk_per_group(docs, "source", "n_chars", "doc_id", k=5))
    assert "WindowGroupLimit" in plan and "Partial" in plan, plan[:2000]


def test_relational_broadcast_hints_only_on_bounded_frames():
    """Policy guard (round 7): explicit ``F.broadcast()`` hints in the
    TPC-H-shaped operators are allowed ONLY on frames whose size is
    SF-INDEPENDENT — nation/region (25/5 rows at every SF) and scalar/
    per-group aggregates. Hints on customer/supplier/part-derived
    frames (including filtered subsets: one segment, one brand) are
    scale bugs: the rel scaling decade measured them as the only two
    sub-0.8x ops in the family (nation_revenue 0.36x, top_revenue
    0.56x at 100x), and a controlled 100x A/B showed AQE-chosen
    strategies strictly beat the hard hint (40.2s vs 36.3s) while the
    hint OOMs outright at warehouse scale. Adding a new hint requires
    updating this allowlist with a boundedness argument."""
    import ast

    path = "myodish_peak_analysis_spark/operators/relational.py"
    src = open(path).read()
    allowed = {
        # nation x region: 25 x 5 rows at every SF
        'nation.join( region.filter(F.col("r_name") == region_name),'
        " nation.n_regionkey == region.r_regionkey,"
        ' ).select("n_nationkey", "n_name")',
        # the 25-row nation dim, bare or projected
        "nation",
        'nation.select("n_nationkey", "n_name")',
        # per-segment average balance: <= |segments| rows
        'seg.filter(F.col("_bal_c") > 0) .groupBy("c_mktsegment")'
        ' .agg(F.avg("_bal_c").alias("_avg_c"))',
        # global-max scalar: 1 row (mx = rev.agg(max(_rev_c)))
        "mx",
    }
    seen = []
    for node in ast.walk(ast.parse(src)):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "broadcast"
        ):
            seen.append(" ".join(ast.get_source_segment(src, node.args[0]).split()))
    assert seen, "expected bounded-dim broadcast hints to exist"
    rogue = [s for s in seen if s not in allowed]
    assert not rogue, (
        "broadcast() hint on a frame not in the bounded allowlist "
        f"(SF-growing side? justify + update the list): {rogue}"
    )
