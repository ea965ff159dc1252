"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Keys without an ``oracle_sql()`` entry are the reference-exact
pandas-UDF twins (``fidelity_peaks`` / ``fidelity_signal``) of
pipelines that ARE hash-checked through their Spark-native route; the
driver records a rows-only check for those two, with native<->fidelity
parity pinned by tests instead. (``native_find_peaks`` itself is
hash-checked since round 5 — greedy distance suppression turned out to
be expressible as a recursive CTE.)
"""

from __future__ import annotations

import inspect
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from myodish_peak_analysis_spark import oracle as _oracle  # noqa: E402
from myodish_peak_analysis_spark import queries as _q  # noqa: E402
from myodish_peak_analysis_spark.llm import queries as _llm_q  # noqa: E402
from myodish_peak_analysis_spark.operators import analytics as _analytics  # noqa: E402
from myodish_peak_analysis_spark.operators import sessions as _sessions  # noqa: E402
from myodish_peak_analysis_spark.operators import relational as _relational  # noqa: E402
from myodish_peak_analysis_spark.llm import oracle as _llm_oracle  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full native peak-analysis pipeline at sf0.001 —
    channelize → SG smooth → envelopes → diastolic → threshold-filtered
    peaks → per-peak attributes. The channel count comes from
    :func:`auto_channels` (data-proportional, the production path) with
    a min-length guard: each channel must keep >= MIN_CHANNEL_ROWS rows
    for the native envelope route, so at sf0.001 (1000 events) this
    resolves to 1 channel and grows with the data from there."""
    from myodish_peak_analysis_spark.api import PeakPipeline
    from myodish_peak_analysis_spark.schema import (
        MIN_CHANNEL_ROWS,
        auto_channels,
        read_table,
        signal_frame,
    )

    sf_dir = "/root/testdata/sf0.001"
    n_rows = read_table(spark, sf_dir, "events").count()
    n_ch = min(
        auto_channels(spark, sf_dir),
        max(1, n_rows // MIN_CHANNEL_ROWS),
    )
    sig = signal_frame(spark, sf_dir, n_channels=n_ch)
    return (
        PeakPipeline(sig).smooth().envelopes().diastolic().detect_peaks().attributes()
    )


# The driver's correctness pass records at most the FIRST 50 registered
# queries (observed in rounds 1-9). With 140 registered entries,
# ordering decides verification coverage. ROTATION POLICY (round 9,
# VERDICT r8 ask #6; DERIVED FROM THE ARTIFACTS since round 10 —
# VERDICT r9 ask #1: the hand-maintained head went structurally red the
# moment a new CORRECTNESS_r{N}.json landed, because the artifact
# itself aged every not-yet-rotated row): every round the 50-slot head
# is EXACTLY
#   (a) every query whose newest driver row is >= 2 rounds behind the
#       newest CORRECTNESS_r{N}.json artifact (never-verified counts
#       as infinitely stale), oldest row first, then
#   (b) freshness filler — remaining queries oldest-row-first — up to
#       the cap.
# Both sections are COMPUTED from the committed artifacts at import
# time, so a landed driver round re-rotates the head by itself and
# `pytest tests/` can never go red between rounds. With
# ceil(140/50) = 3 this bounds any query's driver-row staleness at 3
# rounds structurally, ~2 in practice; the full local HEAD sweep
# (docs/CORRECTNESS_LOCAL.md) re-verifies all of them every round
# regardless. tests/test_entry_contract.py validates the GENERATOR
# (coverage of the stale backlog, cap fill, disjointness) rather than
# a frozen list — the checked property can't go stale.
#
# Round 14 (VERDICT r13 ask #4): queries with NO oracle_sql() entry
# (the reference-exact fidelity twins) are PINNED OUT of the head —
# the driver can only ever record `no_oracle` for them, so a head
# slot spent there is a verification slot burned (48/50 instead of
# 50/50 every round they rotated in: r02/r04/r07/r10/r13). Their
# correctness is covered by the hash-checked native siblings plus the
# 1e-9 parity pin in tests/test_golden.py; the freed slots go to
# hash-verifiable backlog. The pin is COMPUTED (registry minus
# oracle_sql keys), so a future no-oracle query inherits it.

#: The driver records only this many correctness rows per round.
_DRIVER_CAP = 50


def _newest_driver_rows() -> tuple[dict, int]:
    """(query -> newest CORRECTNESS_r{N}.json round containing it,
    latest round N found). Reads the committed driver artifacts next to
    this file — the rotation's ground truth for staleness."""
    import glob
    import json
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    newest: dict = {}
    latest = 0
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        m = re.search(r"_r(\d+)\.json$", path)
        if not m:  # stray glob match (e.g. a .bak sibling): skip, don't crash
            continue
        rnd = int(m.group(1))
        latest = max(latest, rnd)
        try:
            rows = json.load(open(path))
        except (OSError, ValueError):  # truncated artifact: skip, don't crash
            continue
        for name in rows:
            newest[name] = max(newest.get(name, 0), rnd)
    return newest, latest


def _no_oracle_names() -> set:
    """Registered queries without an oracle_sql() entry — the driver
    can never hash-verify these (it records ``no_oracle``), so the
    rotation pins them out of the verification head (round 14)."""
    return set(_registry()) - set(oracle_sql())


def _compute_rotation(names: list[str]) -> tuple[list[str], list[str]]:
    """Derive (head, tail) for the registry order per the policy above.

    Deterministic given the committed artifacts: backlog and filler are
    ordered (newest-round, name) ascending. If the backlog alone exceeds
    the cap, the head is
    entirely backlog (oldest first) — the policy's degraded-but-maximal
    mode. No-oracle queries never take a head slot (see the round-14
    policy note above): they are excluded from every section and always
    land in the tail."""
    newest, latest = _newest_driver_rows()
    all_names = list(names)
    unverifiable = _no_oracle_names()
    # head candidates exclude the unverifiable; the TAIL keeps every
    # registered query (nothing may ever disappear from queries()).
    names = [q for q in names if q not in unverifiable]
    cap = min(_DRIVER_CAP, len(names))
    if latest == 0:  # fresh clone, no artifacts: registry order
        head = names[:cap]
        return head, [q for q in all_names if q not in set(head)]
    by_age = sorted(names, key=lambda q: (newest.get(q, 0), q))
    backlog = [q for q in by_age if newest.get(q, 0) <= latest - 2]
    head = backlog[:cap]
    filler = [q for q in by_age if q not in set(head)]
    head += filler[: cap - len(head)]
    head_set = set(head)
    tail = [q for q in all_names if q not in head_set]
    return head, tail


def _rotate(full: dict) -> dict:
    # serve the SAME rotation the import-time lists (and their contract
    # tests) were derived from — recomputing here would re-glob the
    # artifacts on every queries() call and could silently diverge from
    # the validated head if files change mid-session.
    return {k: full[k] for k in _ROTATE_FIRST + _ROTATE_LAST}


def _builders(module) -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The ``q_<name>`` functions *module* itself defines (an imported
    ``q_`` name does not count), keyed by ``<name>``, in definition
    order."""
    return {
        attr[2:]: fn
        for attr, fn in vars(module).items()
        if attr.startswith("q_")
        and inspect.isfunction(fn)
        and fn.__module__ == module.__name__
    }


def _registry() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The full unrotated registry: every ``q_<name>`` builder of the
    core query module, then of the LLM query module. Defining the
    builder is what registers a query."""
    return {**_builders(_q), **_builders(_llm_q)}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ the
    LLM-data-pipeline extensions over documents/embeddings), ordered
    so the driver's 50-row correctness window lands on this round's
    verification head."""
    return _rotate(_registry())


def oracle_sql() -> dict[str, str]:
    out = {
        "signal_frame": _oracle.signal_frame_oracle(),
        "extrema_flags": _oracle.extrema_flags_oracle(),
        "smooth": _oracle.smooth_oracle(),
        "raw_envelopes": _oracle.raw_envelopes_oracle(),
        "envelopes": _oracle.envelopes_oracle(),
        "diastolic": _oracle.diastolic_oracle(),
        "naive_peaks": _oracle.naive_peaks_oracle(),
        "threshold_peaks": _oracle.threshold_peaks_oracle(),
        "peak_attributes": _oracle.peak_attributes_oracle(),
        "crossing_points": _oracle.crossing_points_oracle(),
        "peak_averages": _oracle.peak_averages_oracle(),
        "stim_normalize": _oracle.stim_normalize_oracle(),
        "global_max": _oracle.global_max_oracle(),
        "stim_peak_mean": _oracle.stim_peak_mean_oracle(),
        "session_stats": _oracle.session_stats_oracle(),
        "funnel_counts": _sessions.funnel_counts_sql(),
        "cohort_retention": _sessions.cohort_retention_sql(),
        "asof_view_before_purchase": _oracle.asof_oracle(),
        "asof_tolerance": _oracle.asof_tolerance_oracle(),
        "resample_hourly": _oracle.resample_oracle(),
        "value_histogram": _oracle.value_histogram_oracle(),
        "corpus_rollup": _analytics.corpus_rollup_sql(),
        "range_pairs": _oracle.range_pairs_oracle(),
        "json_props": _oracle.json_props_oracle(),
        "user_value_median": _oracle.user_value_median_oracle(),
        "latency_percentiles": _analytics.grouped_percentiles_sql(),
        "user_event_pivot": _analytics.user_event_pivot_sql(),
        "user_value_zscores": _analytics.user_value_zscores_sql(),
        "pricing_summary": _relational.pricing_summary_sql(),
        "priority_ship_latency": _relational.priority_ship_latency_sql(),
        "top_revenue_orders": _relational.segment_revenue_topk_sql(),
        "nation_revenue": _relational.nation_revenue_sql(),
        "large_order_customers": _relational.large_order_customers_sql(),
        "cheapest_supplier": _relational.cheapest_supplier_per_part_sql(),
        "returned_orders_by_priority": _relational.returned_orders_by_priority_sql(),
        "event_transitions": _sessions.event_transitions_sql(),
        "top_event_paths": _sessions.top_event_paths_sql(),
        "nation_pair_volume": _relational.nation_pair_volume_sql(),
        "promo_revenue": _relational.promo_revenue_by_month_sql(),
        "brand_disjunction_revenue": _relational.brand_disjunction_revenue_sql(),
        "parts_never_returned": _relational.parts_never_returned_sql(),
        # The distance=None constraint subset IS SQL-expressible — full
        # DuckDB mirror of the plateau/prominence/width pipeline:
        "native_find_peaks_nodist": _oracle.native_find_peaks_nodist_oracle(),
        # Round 5: the FULL constraint set too — greedy distance
        # suppression as a recursive CTE (one per-channel pick per
        # round); converts the former rows-only entry to hash-checked.
        "native_find_peaks": _oracle.native_find_peaks_oracle(),
        # ... and the end-to-end constrained chain built on it:
        "constrained_peak_attributes": _oracle.constrained_peak_attributes_oracle(),
        "peak_interval_stats": _oracle.peak_interval_stats_oracle(),
        "resample_interpolate": _oracle.resample_interpolate_oracle(),
        "resample_ohlc": _oracle.resample_ohlc_oracle(),
        "top_loss_customers": _relational.top_loss_customers_sql(),
        "idle_customer_balance": _relational.idle_customer_balance_sql(),
        "forecast_revenue_change": _relational.forecast_revenue_change_sql(),
        "top_supplier_revenue": _relational.top_supplier_revenue_sql(),
        "small_quantity_revenue": _relational.small_quantity_revenue_sql(),
        "trailing_window_stats": _analytics.trailing_window_stats_sql(),
        "mad_outliers": _analytics.mad_outliers_sql(),
        "funnel_within": _sessions.funnel_within_sql(),
        # fidelity_peaks / fidelity_signal: intentionally no oracle —
        # they are the reference-exact pandas twins of hash-checked
        # native pipelines; parity pinned by tests instead.
    }
    out.update(_llm_oracle.ORACLES)
    return out


#: Rotation lists, derived from the committed artifacts at import time
#: (see ROTATION POLICY above). Plain lists so tests and tools can
#: introspect the round's verification window. Computed at the bottom
#: of the module because the no-oracle pin-out needs oracle_sql().
_ROTATE_FIRST, _ROTATE_LAST = _compute_rotation(list(_registry()))
