"""Driver-facing query builders: one function per operator from
SURVEY.md §2, each returning a DataFrame whose column names and rounding
match the DuckDB oracle in :mod:`.oracle` exactly.

These are also the canonical usage examples of the operator library —
every function is the idiomatic Spark formulation (window functions over
one (channel_id, sample_idx) sort, one per-channel NumPy stage for the
two Savitzky–Golay smooths and the extrema flags; no collect) whose
result the oracle SQL reproduces.

Cache lifetime: some builders (the PQ/IVF family) persist intermediates that OUTLIVE the call by design — see
:func:`..session.release_caches` for the contract and the one-call
release.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .api import PeakPipeline
from .operators.attributes import (
    peak_attributes,
    peak_averages,
    with_crossings,
)
from .operators.envelopes import with_diastolic, with_raw_envelopes
from .operators.fidelity import fidelity_peaks, fidelity_signal_columns
from .operators.peaks import naive_peaks, with_threshold_keep
from .operators.smooth import with_fir_smooth
from .operators.windows import with_extrema_flags
from .oracle import ORACLE_CHANNELS, ROUND_DP
from .schema import read_table, signal_frame, ts_micros


def _r(c: str):
    return F.round(F.col(c), ROUND_DP).alias(c)


def q_signal_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    return signal_frame(spark, sf_dir, n_channels=ORACLE_CHANNELS)


def q_extrema_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = q_signal_frame(spark, sf_dir)
    return with_extrema_flags(sig, value_col="signal_value").select(
        "channel_id", "sample_idx", "signal_value", "is_peak", "is_valley"
    )


def q_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = q_signal_frame(spark, sf_dir)
    return with_fir_smooth(sig).select(
        "channel_id", "sample_idx", "time_index", "signal_value", _r("smooth")
    )


def _enveloped(spark: SparkSession, sf_dir: str) -> DataFrame:
    return PeakPipeline(q_signal_frame(spark, sf_dir)).smooth().envelopes().df


def q_raw_envelopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = with_raw_envelopes(
        _enveloped(spark, sf_dir), value_col="smooth", flags_present=True
    )
    return df.select(
        "channel_id", "sample_idx", _r("smooth"), _r("floor_raw"), _r("ceil_raw")
    )


def q_envelopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _enveloped(spark, sf_dir).select(
        "channel_id", "sample_idx", _r("smooth"), _r("baseline"), _r("ceiling")
    )


def q_diastolic(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = with_diastolic(_enveloped(spark, sf_dir))
    return df.select(
        "channel_id", "sample_idx", _r("baseline"), _r("ceiling"), _r("diastolic")
    )


def q_naive_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return naive_peaks(q_signal_frame(spark, sf_dir))


def q_threshold_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = with_threshold_keep(_enveloped(spark, sf_dir), value_col="smooth")
    return df.filter(F.col("is_peak") & F.col("keep_peak")).select(
        "channel_id",
        F.col("sample_idx").alias("peak_idx"),
        F.col("time_index").alias("timestamp"),
        F.round(F.col("smooth"), ROUND_DP).alias("peak_value"),
    )


def _detected_crossed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared chain: envelopes → diastolic → threshold keep → crossings.
    Both the attributes and the crossing-points queries consume this, so
    they can never diverge over which peaks they report."""
    df = with_diastolic(_enveloped(spark, sf_dir))
    df = with_threshold_keep(df, value_col="smooth")
    df = df.withColumn("_keep", F.col("is_peak") & F.col("keep_peak"))
    return with_crossings(df)


def _attributes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return peak_attributes(_detected_crossed(spark, sf_dir), keep_col="_keep")


def q_peak_attributes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _attributes(spark, sf_dir).select(
        "channel_id",
        "peak_idx",
        "timestamp",
        _r("peak_value"),
        _r("baseline_value"),
        _r("force"),
        _r("time_to_peak"),
        _r("time_to_relaxation"),
        _r("duration"),
    )


def q_crossing_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.attributes import peak_crossing_points

    out = peak_crossing_points(_detected_crossed(spark, sf_dir), keep_col="_keep")
    return out.select(
        "channel_id",
        "peak_idx",
        _r("ttp_point_t"),
        _r("ttp_point_v"),
        _r("ttr_point_t"),
        _r("ttr_point_v"),
    )


def q_peak_averages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1 NULL-skipping means. For the oracle hash the mean is computed
    over exact integer micro-units (6-dp-rounded attribute * 1e6): the
    integer SUM is order-independent, so both engines divide identical
    integers and produce bit-identical doubles — no round-half boundary
    flakes from float summation order (observed as exact 1e-6 diffs)."""

    def micro(c: str):
        return F.round(F.round(F.col(c), ROUND_DP) * 1e6, 0).cast("long")

    def avg_of(c: str, alias: str):
        return (
            F.sum(micro(c)).cast("double") / (F.count(F.col(c)) * F.lit(1e6))
        ).alias(alias)

    att = _attributes(spark, sf_dir)
    return att.groupBy("channel_id").agg(
        F.count(F.lit(1)).alias("n_peaks"),
        avg_of("time_to_peak", "avg_ttp"),
        avg_of("time_to_relaxation", "avg_ttr"),
        avg_of("duration", "avg_duration"),
        avg_of("force", "avg_force"),
    )


def q_stim_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 (peak_detection.py:28-29): stim.value *= max(data)/max(stim).
    Two scalar aggregates joined by broadcast cross-join — no collect, no
    driver round-trip; at scale this is two map-side-combined aggs plus a
    1-row broadcast."""
    events = read_table(spark, sf_dir, "events")
    stim = events.filter(F.col("event_type") == "click")
    data = events.filter(F.col("event_type") != "click")
    scalars = data.agg(F.max("value").alias("_dm")).crossJoin(
        F.broadcast(stim.agg(F.max("value").alias("_sm")))
    )
    return (
        stim.crossJoin(F.broadcast(scalars))
        .select(
            "event_id",
            F.round(
                F.col("value") * F.col("_dm") / F.col("_sm"), ROUND_DP
            ).alias("stim_value"),
        )
    )


def q_global_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    return events.agg(
        F.max("value").alias("max_signal"),
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
    )


def q_stim_peak_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    peaks = q_naive_peaks(spark, sf_dir)
    return peaks.agg(
        F.round(F.avg("timestamp"), ROUND_DP).alias("mean_peak_time"),
        F.count(F.lit(1)).alias("n_peaks"),
    )


def q_asof_view_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each purchase event: the same user's most recent prior (or
    simultaneous) view event's value — a general as-of join. Right side
    is pre-deduplicated to one row per (user, microsecond) with
    max_by(event_id) so the match is deterministic in both engines."""
    from .operators.asof import asof_join

    events = read_table(spark, sf_dir, "events")
    events = events.withColumn("ts_us", ts_micros(events))
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us", "value"
    )
    views = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts_us")
        .agg(F.max_by("value", "event_id").alias("view_value"))
    )
    out = asof_join(
        purchases, views, on="ts_us", by="user_id", right_cols=("view_value",)
    )
    return out.select(
        "event_id", "user_id", "ts_us", "value",
        F.col("view_value_asof").alias("prior_view_value"),
    )


def q_resample_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user hourly resample of event values with LOCF gap fill.
    The bucket average uses exact integer micro-units (order-free sum)
    for the oracle hash."""
    from .operators.asof import gap_fill

    events = read_table(spark, sf_dir, "events")
    events = events.withColumn("ts_us", ts_micros(events))
    hour_us = 3600 * 1_000_000
    micro = F.round(F.round(F.col("value"), ROUND_DP) * 1e6, 0).cast("long")
    resampled = (
        events.withColumn("bucket", F.expr(f"ts_us DIV {hour_us}"))
        .groupBy("user_id", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(micro).cast("double") / (F.count(F.lit(1)) * F.lit(1e6))).alias(
                "avg_value"
            ),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
    )
    out = gap_fill(resampled, by="user_id", fill_cols=("avg_value",))
    return out.select(
        "user_id", "bucket", "_filled", "n", "avg_value", "min_value", "max_value"
    ).withColumnRenamed("_filled", "observed")


def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sessions import session_stats

    return session_stats(read_table(spark, sf_dir, "events"))


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of event values — O(bins) shuffle rows via
    map-side combine; the mean is exact-integer so it hash-matches."""
    from .operators.analytics import value_histogram

    return value_histogram(read_table(spark, sf_dir, "events"))


def q_large_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped HAVING-subquery + join + top-k."""
    from .operators.relational import large_order_customers

    return large_order_customers(
        read_table(spark, sf_dir, "customer"),
        read_table(spark, sf_dir, "orders"),
        read_table(spark, sf_dir, "lineitem"),
    )


def q_cheapest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2-shaped correlated scalar subquery as a window MIN."""
    from .operators.relational import cheapest_supplier_per_part

    return cheapest_supplier_per_part(
        read_table(spark, sf_dir, "lineitem"),
        read_table(spark, sf_dir, "part"),
        read_table(spark, sf_dir, "supplier"),
    )


def q_returned_orders_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4-shaped correlated EXISTS as a LEFT SEMI join + priority count."""
    from .operators.relational import returned_orders_by_priority

    return returned_orders_by_priority(
        read_table(spark, sf_dir, "orders"),
        read_table(spark, sf_dir, "lineitem"),
    )


def q_user_value_zscores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event anomaly z-score with exact integer-moment variance."""
    from .operators.analytics import user_value_zscores

    return user_value_zscores(read_table(spark, sf_dir, "events"))


def q_user_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type count matrix (explicit-value-list pivot)."""
    from .operators.analytics import user_event_pivot

    return user_event_pivot(read_table(spark, sf_dir, "events"))


def q_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p95/p99 of event value per event_type (discrete rank
    selection — no engine interpolation)."""
    from .operators.analytics import grouped_percentiles

    return grouped_percentiles(read_table(spark, sf_dir, "events"))


def q_funnel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel (no-backtracking semantics)."""
    from .operators.sessions import funnel_counts

    return funnel_counts(read_table(spark, sf_dir, "events"))


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-event-day cohort triangle over 14 day offsets."""
    from .operators.sessions import cohort_retention

    return cohort_retention(read_table(spark, sf_dir, "events"))


def q_corpus_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity GROUPING SETS report over documents — one
    Expand + one exchange; grouping_id disambiguates rolled-up NULLs."""
    from .operators.analytics import corpus_rollup

    return corpus_rollup(read_table(spark, sf_dir, "documents"))


def q_range_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded range self-join (same-user event pairs within 1 h) via
    the two-bucket explode trick; oracle is the naive inequality join."""
    from .operators.analytics import range_pairs

    events = read_table(spark, sf_dir, "events")
    events = events.withColumn("ts_us", ts_micros(events))
    return range_pairs(events)


def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: integer property from the props JSON
    column, aggregated per event_type (JVM-side get_json_object)."""
    from .operators.analytics import json_props_stats

    return json_props_stats(read_table(spark, sf_dir, "events"))


def q_user_value_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-user median via the explicit rank formulation — no
    engine-specific percentile interpolation, so it hash-matches."""
    from .operators.analytics import grouped_median

    return grouped_median(read_table(spark, sf_dir, "events"))


def q_priority_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12-flavored shipping-SLA rollup: on-time vs late lines per
    order priority (fact⋈fact orderkey join, map-side-combined agg)."""
    from .operators.relational import priority_ship_latency

    return priority_ship_latency(
        read_table(spark, sf_dir, "orders"),
        read_table(spark, sf_dir, "lineitem"),
    )


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped wide aggregate over lineitem, integer-cent exact."""
    from .operators.relational import pricing_summary

    return pricing_summary(read_table(spark, sf_dir, "lineitem"))


def q_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped star-join top-k (broadcast dim + hash fact join)."""
    from .operators.relational import segment_revenue_topk

    return segment_revenue_topk(
        read_table(spark, sf_dir, "customer"),
        read_table(spark, sf_dir, "orders"),
        read_table(spark, sf_dir, "lineitem"),
    )


def q_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped multi-way join with broadcast dims."""
    from .operators.relational import nation_revenue

    return nation_revenue(
        read_table(spark, sf_dir, "customer"),
        read_table(spark, sf_dir, "orders"),
        read_table(spark, sf_dir, "lineitem"),
        read_table(spark, sf_dir, "supplier"),
        read_table(spark, sf_dir, "nation"),
        read_table(spark, sf_dir, "region"),
    )


def q_fidelity_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 constrained find_peaks pipeline (grouped-map pandas UDF) — not
    SQL-expressible (greedy distance suppression / prominence); the driver
    records a rows-only check."""
    return fidelity_peaks(signal_frame(spark, sf_dir, n_channels=ORACLE_CHANNELS))


def q_fidelity_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-exact derived signal columns; rows-only check."""
    return fidelity_signal_columns(
        signal_frame(spark, sf_dir, n_channels=ORACLE_CHANNELS)
    )


def q_native_find_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 constrained find_peaks (operators/native_peaks): one
    per-channel NumPy step over the FIR-smoothed signal. Hash-checked
    since round 5: the greedy suppression is a recursive CTE in the
    DuckDB mirror (oracle.native_find_peaks_oracle); exact parity with
    the NumPy kernels is additionally pinned by
    tests/test_native_peaks.py."""
    from .operators.native_peaks import native_find_peaks

    sig = with_fir_smooth(signal_frame(spark, sf_dir, n_channels=ORACLE_CHANNELS))
    out = native_find_peaks(sig)
    return out.select(
        "channel_id",
        "peak_idx",
        _r("peak_value"),
        _r("prominence"),
        _r("width"),
    )


def q_native_find_peaks_nodist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 constrained find_peaks WITHOUT distance suppression — the
    subset whose SciPy semantics (plateau-RLE candidates, wlen-bounded
    prominence base-walks, interpolated width at rel_height) ARE
    SQL-expressible, so this variant is hash-checked against a full
    DuckDB mirror (oracle.native_find_peaks_nodist_oracle). Greedy
    distance suppression — the one genuinely sequential constraint —
    is covered by the ``native_find_peaks`` entry's recursive CTE."""
    from .operators.native_peaks import native_find_peaks

    sig = with_fir_smooth(signal_frame(spark, sf_dir, n_channels=ORACLE_CHANNELS))
    out = native_find_peaks(sig, distance=None)
    return out.select(
        "channel_id",
        "peak_idx",
        _r("peak_value"),
        _r("prominence"),
        _r("width"),
    )


def q_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerance-bounded as-of: the prior view only attaches if it is at
    most 1 hour old (pandas ``merge_asof(tolerance=...)`` semantics) —
    same union-sort plan as the unbounded as-of plus one comparison."""
    from .operators.asof import asof_join

    hour_us = 3600 * 1_000_000
    events = read_table(spark, sf_dir, "events")
    events = events.withColumn("ts_us", ts_micros(events))
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us", "value"
    )
    views = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts_us")
        .agg(F.max_by("value", "event_id").alias("view_value"))
    )
    out = asof_join(
        purchases,
        views,
        on="ts_us",
        by="user_id",
        right_cols=("view_value",),
        tolerance=hour_us,
    )
    return out.select(
        "event_id", "user_id", "ts_us", "value",
        F.col("view_value_asof").alias("recent_view_value"),
    )


def q_constrained_peak_attributes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end NATIVE constrained chain: smooth → envelopes →
    diastolic → SciPy-constraint detection (native_peaks' per-channel
    step) → envelope threshold → crossings → per-peak attributes.
    Hash-checked against oracle.constrained_peak_attributes_oracle; the
    kept-set contract is pinned by tests/test_api.py."""
    from .api import PeakPipeline

    sig = signal_frame(spark, sf_dir, n_channels=ORACLE_CHANNELS)
    att = (
        PeakPipeline(sig)
        .smooth()
        .envelopes()
        .diastolic()
        .detect_peaks(constrained=True)
        .attributes()
    )
    return att.select(
        "channel_id",
        "peak_idx",
        "timestamp",
        _r("peak_value"),
        _r("baseline_value"),
        _r("force"),
        _r("time_to_peak"),
        _r("time_to_relaxation"),
        _r("duration"),
    )


def q_nation_pair_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped nation-pair shipping volume (one fact⋈fact hash
    join; both nation roles resolved via broadcast mini-dims)."""
    from .operators.relational import nation_pair_volume

    return nation_pair_volume(
        read_table(spark, sf_dir, "lineitem"),
        read_table(spark, sf_dir, "orders"),
        read_table(spark, sf_dir, "customer"),
        read_table(spark, sf_dir, "supplier"),
        read_table(spark, sf_dir, "nation"),
    )


def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped promo revenue share per ship month (broadcast
    boolean dim + conditional integer-exact aggregate)."""
    from .operators.relational import promo_revenue_by_month

    return promo_revenue_by_month(
        read_table(spark, sf_dir, "lineitem"),
        read_table(spark, sf_dir, "part"),
    )


def q_brand_disjunction_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped disjunctive-predicate revenue (split pushdown:
    part branch to the broadcast scan, quantity hull to the fact scan)."""
    from .operators.relational import brand_disjunction_revenue

    return brand_disjunction_revenue(
        read_table(spark, sf_dir, "lineitem"),
        read_table(spark, sf_dir, "part"),
    )


def q_parts_never_returned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-shaped NOT-EXISTS via key-only LEFT ANTI + LEFT SEMI."""
    from .operators.relational import parts_never_returned

    return parts_never_returned(
        read_table(spark, sf_dir, "lineitem"),
        read_table(spark, sf_dir, "part"),
    )


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams
    (one user-keyed shuffle; constant-size normalization window)."""
    from .operators.sessions import event_transitions

    return event_transitions(read_table(spark, sf_dir, "events"))


def q_top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k initial event-type paths per user (bounded per-user fold +
    distributed TakeOrdered)."""
    from .operators.sessions import top_event_paths

    return top_event_paths(read_table(spark, sf_dir, "events"))


def q_peak_interval_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-channel inter-peak-interval stats over the threshold-peak
    detection chain (integer-moment exact)."""
    from .operators.peaks import peak_interval_stats

    return peak_interval_stats(q_threshold_peaks(spark, sf_dir))


def q_resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user hourly resample with LINEAR-INTERPOLATION gap fill (the
    companion fill mode to q_resample_hourly's LOCF). Exact integer
    micro-unit bucket averages feed an identical interpolation
    expression in both engines, rounded once."""
    from .operators.asof import gap_fill_interpolate

    events = read_table(spark, sf_dir, "events")
    events = events.withColumn("ts_us", ts_micros(events))
    hour_us = 3600 * 1_000_000
    micro = F.round(F.round(F.col("value"), ROUND_DP) * 1e6, 0).cast("long")
    resampled = (
        events.withColumn("bucket", F.expr(f"ts_us DIV {hour_us}"))
        .groupBy("user_id", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(micro).cast("double") / (F.count(F.lit(1)) * F.lit(1e6))).alias(
                "avg_value"
            ),
        )
    )
    out = gap_fill_interpolate(resampled, by="user_id")
    return out.select("user_id", "bucket", "observed", "n", "avg_value")


def q_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user hourly OHLC resample of event values (selection-only
    open/close — bit-exact, no rounding)."""
    from .operators.asof import resample_ohlc

    events = read_table(spark, sf_dir, "events")
    events = events.withColumn("ts_us", ts_micros(events))
    return resample_ohlc(
        events, "ts_us", "value", "user_id", 3600 * 1_000_000
    )


def q_top_loss_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped returned-revenue customer ranking (broadcast
    nation dim, integer-cent revenue, distributed TakeOrdered)."""
    from .operators.relational import top_loss_customers

    return top_loss_customers(
        read_table(spark, sf_dir, "customer"),
        read_table(spark, sf_dir, "orders"),
        read_table(spark, sf_dir, "lineitem"),
        read_table(spark, sf_dir, "nation"),
    )


def q_idle_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped scalar-subquery filter + NOT EXISTS (broadcast
    cohort averages, key-only anti join)."""
    from .operators.relational import idle_customer_balance

    return idle_customer_balance(
        read_table(spark, sf_dir, "customer"),
        read_table(spark, sf_dir, "orders"),
    )


def q_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped full-pushdown scan aggregate."""
    from .operators.relational import forecast_revenue_change

    return forecast_revenue_change(read_table(spark, sf_dir, "lineitem"))


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-user outlier profile (exact rank medians + MAD)."""
    from .operators.analytics import mad_outliers

    ev = read_table(spark, sf_dir, "events")
    return mad_outliers(ev)


def q_funnel_within(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded ordered funnel (each stage within 24h of the
    previous stage's first-touch entry; same one-scan chained
    running-min plan as funnel_counts)."""
    from .operators.sessions import funnel_within

    return funnel_within(read_table(spark, sf_dir, "events"))


def q_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-shaped scalar-max equality selection (ties surface;
    single fact scan + 1-row broadcast max)."""
    from .operators.relational import top_supplier_revenue

    return top_supplier_revenue(
        read_table(spark, sf_dir, "lineitem"),
        read_table(spark, sf_dir, "supplier"),
    )


def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped correlated per-part average threshold."""
    from .operators.relational import small_quantity_revenue

    return small_quantity_revenue(
        read_table(spark, sf_dir, "lineitem"),
        read_table(spark, sf_dir, "part"),
    )


def q_trailing_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing-hour RANGE-frame rollup (velocity features)."""
    from .operators.analytics import trailing_window_stats

    return trailing_window_stats(read_table(spark, sf_dir, "events"))
