"""Driver-contract invariants of __spark_entry__ that need no Spark.

A missing wrapper (registry naming a query function that doesn't exist)
crashes the driver's whole correctness pass, not just one row — these
checks catch that class of wiring bug at pytest time.
"""

from __future__ import annotations

import importlib.util
import inspect
import os
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: queries() keys that intentionally have no oracle_sql() entry
#: (the reference-exact pandas twins; the driver records a rows-only
#: check). Exact, so losing any other query's oracle fails here.
ROWS_ONLY = {"fidelity_peaks", "fidelity_signal"}


def _load(name: str):
    if name in sys.modules:
        return sys.modules[name]
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(REPO_ROOT, f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules[name] = mod
    spec.loader.exec_module(mod)
    return mod


def _entry():
    return _load("__spark_entry__")


def test_queries_are_exactly_the_q_builders():
    """Defining ``q_<name>`` in either query module registers ``<name>``
    and nothing else does: an imported ``q_`` function never counts."""
    from myodish_peak_analysis_spark import queries as core
    from myodish_peak_analysis_spark.llm import queries as llm

    builders = {}
    for module in (core, llm):
        for attr, fn in inspect.getmembers(module, inspect.isfunction):
            if attr.startswith("q_") and fn.__module__ == module.__name__:
                assert attr[2:] not in builders, f"{attr} defined twice"
                builders[attr[2:]] = fn
    assert _entry().queries() == builders


def test_bench_keys_are_registered_queries_or_declared_variants():
    """bench.py times a registered name only through its registered
    builder; every other key is a ``<registered>@<label>`` variant that
    declares its base and why the registered builder cannot measure it."""
    registered = set(_entry().queries())
    bench = _load("bench")
    assert len(set(bench.REGISTERED)) == len(bench.REGISTERED)
    assert set(bench.REGISTERED) <= registered, (
        set(bench.REGISTERED) - registered
    )
    for key, variant in bench.VARIANTS.items():
        base, _, label = key.partition("@")
        assert label, f"variant {key} has no @label"
        assert base == variant.base, key
        assert base in registered, f"variant {key} of unregistered {base}"
        assert variant.reason.strip(), f"variant {key} gives no reason"
    assert set(bench.FIVE_REPS) <= set(bench.REGISTERED) | set(bench.VARIANTS)
    assert bench.R4_SET <= set(bench.REGISTERED) | set(bench.VARIANTS)


def test_queries_registry_is_well_formed():
    mod = _entry()
    qs = mod.queries()
    assert len(qs) >= 70
    for name, fn in qs.items():
        assert callable(fn), name
        assert name == name.strip() and " " not in name


def test_every_query_has_oracle_or_documented_rows_only():
    mod = _entry()
    qs = set(mod.queries())
    oracles = mod.oracle_sql()
    assert set(oracles) <= qs, f"orphan oracles: {set(oracles) - qs}"
    missing = qs - set(oracles) - ROWS_ONLY
    assert not missing, f"queries with neither oracle nor rows-only note: {missing}"
    for name, sql in oracles.items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name


def test_rotation_lists_reference_registered_queries():
    mod = _entry()
    qs = set(mod.queries())
    for name in mod._ROTATE_FIRST + mod._ROTATE_LAST:
        assert name in qs, f"rotation names unregistered query {name}"
    # the generator silently filters unknown names from the changed
    # list, so a typo there would drop a section-(a) slot without any
    # other symptom — catch it here instead
    unknown = set(mod._CHANGED_THIS_ROUND) - qs
    assert not unknown, f"_CHANGED_THIS_ROUND names unregistered: {unknown}"
    # the rotation head must fit the driver's 50-entry verification cap
    assert len(mod._ROTATE_FIRST) <= 50
    ordered = list(mod.queries())
    head = ordered[: len(mod._ROTATE_FIRST)]
    assert head == [n for n in mod._ROTATE_FIRST if n in qs]
    # ADVICE r8: a query in both lists keeps its head slot through
    # dict-merge semantics, but the tail entry is dead and the window
    # description lies — the lists must be disjoint and jointly cover
    # the registry exactly.
    overlap = set(mod._ROTATE_FIRST) & set(mod._ROTATE_LAST)
    assert not overlap, f"rotation lists overlap: {sorted(overlap)}"
    assert set(mod._ROTATE_FIRST) | set(mod._ROTATE_LAST) == qs


def _newest_driver_rows() -> tuple[dict, int]:
    """(query -> newest CORRECTNESS_r{N} round containing it, latest N).
    An INDEPENDENT read of the recorded driver artifacts (deliberately
    not the entry module's own `_newest_driver_rows`) — the validator's
    ground truth for staleness."""
    import glob
    import json
    import re

    newest: dict = {}
    latest = 0
    for path in sorted(glob.glob(os.path.join(REPO_ROOT, "CORRECTNESS_r*.json"))):
        m = re.search(r"_r(\d+)\.json$", path)
        rnd = int(m.group(1))
        latest = max(latest, rnd)
        for name in json.load(open(path)):
            newest[name] = max(newest.get(name, 0), rnd)
    return newest, latest


def test_rotation_covers_stalest_rows():
    """The ROTATION POLICY validator (VERDICT r8 ask #6; r9 ask #1):
    every registered query that is either never-driver-verified or
    whose newest driver row is >= 2 rounds behind the latest artifact
    MUST sit in the 50-slot head — so no query's staleness can
    structurally exceed ceil(registry/50) rounds. When the backlog
    alone exceeds 50 the policy is unsatisfiable and the head must at
    least be FULL of backlog entries.

    Since round 10 the head is DERIVED from the artifacts by
    `_compute_rotation` (the r9 VERDICT's preferred fix: the old
    hand-maintained list went red the moment a new artifact landed
    and stayed red until the next builder commit). This test checks
    the generator's output against an independent artifact read — it
    validates the policy computation itself, which cannot go stale
    between rounds."""
    mod = _entry()
    qs = set(mod.queries())
    newest, latest = _newest_driver_rows()
    if latest == 0:  # no artifacts (fresh clone) — nothing to enforce
        return
    # round 14: no-oracle queries are pinned OUT of the head (the
    # driver can only record `no_oracle` for them — a burned slot), so
    # the staleness guarantee applies to the verifiable registry only.
    no_oracle = qs - set(mod.oracle_sql())
    backlog = {
        q for q in qs - no_oracle if newest.get(q, 0) <= latest - 2
    }
    head = set(mod._ROTATE_FIRST)
    if len(backlog) <= 50:
        missing = backlog - head
        assert not missing, (
            f"stale queries (newest row <= r{latest - 2}) left out of "
            f"the verification head: {sorted(missing)}"
        )
    else:
        assert len(head & backlog) == 50, (
            "backlog exceeds the cap; the head must be entirely backlog"
        )
    assert len(mod._ROTATE_FIRST) == min(50, len(qs)), (
        "head must fill every verification slot the driver offers"
    )
    # section (a) sanity: every changed-this-round entry is either in
    # the head or displaced by backlog overflow (never silently lost);
    # no-oracle entries are exempt — the pin-out overrides section (a)
    if len(backlog) + len(mod._CHANGED_THIS_ROUND) <= 50:
        changed = {q for q in mod._CHANGED_THIS_ROUND if q in qs} - no_oracle
        assert changed <= head, (
            f"changed-this-round entries missing from head: "
            f"{sorted(changed - head)}"
        )


def test_no_oracle_queries_pinned_out_of_head():
    """VERDICT r13 ask #4: the fidelity twins (and any future
    no-oracle query) can never pass the driver's hash check, so they
    must never occupy one of the 50 verification slots — yet they must
    STAY registered (dropping a query is a regression)."""
    mod = _entry()
    no_oracle = set(mod.queries()) - set(mod.oracle_sql())
    # Equality, not a subset, on purpose: a tripwire. The rotation
    # pins any no-oracle query out of the head by itself, but a query
    # that no oracle can verify must be acknowledged by adding it here,
    # not slip in unnoticed.
    assert no_oracle == {"fidelity_peaks", "fidelity_signal"}
    assert not (no_oracle & set(mod._ROTATE_FIRST)), (
        "no-oracle queries occupy driver verification slots"
    )
    assert no_oracle <= set(mod._ROTATE_LAST), (
        "pinned-out queries must remain registered in the tail"
    )
