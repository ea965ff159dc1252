"""Full DuckDB oracle SQL per query, assembled from the per-operator
SQL builders (each operator module owns its own SQL mirror; this module
only chains CTEs and applies the shared output rounding).

Rounding contract: every *computed* double column is rounded to
:data:`ROUND_DP` decimals in BOTH the Spark query and the oracle SQL, so
the driver's order-insensitive value hash is insensitive to <=1e-12
cross-engine FP drift (different summation orders). Raw data columns and
exactly-representable derivations (``idx / 100.0``) are left unrounded.
"""

from __future__ import annotations

import math

from .operators.attributes import crossings_sql_cte, peak_attributes_sql_select
from .operators.envelopes import raw_envelopes_sql_cte, smoothed_envelopes_sql_cte
from .operators.peaks import threshold_keep_sql_expr
from .operators.smooth import fir_smooth_sql_cte
from .operators.windows import extrema_flags_sql
from .schema import DEFAULT_FS, signal_frame_sql

ROUND_DP = 6

#: Channel count shared by queries() and oracle_sql() — a literal, because
#: the oracle is a static string. 8 gives 1250-row channels at the
#: driver's sf0.01 check (>= MIN_CHANNEL_ROWS). Production entry points
#: use schema.auto_channels() instead.
ORACLE_CHANNELS = 8


def _with(*parts: str) -> str:
    return "WITH " + ",\n".join(p.strip().strip(",") for p in parts)


def _inline_named_windows(sql: str) -> str:
    """Expand every ``WINDOW <name> AS (<def>)`` clause into explicit
    ``OVER (<def>)`` references. DuckDB's parser rejects named WINDOW
    clauses anywhere inside a ``WITH RECURSIVE`` statement ("window
    already defined"), so the one recursive oracle inlines them; the
    non-recursive oracles keep the readable named form."""
    import re

    # one clause can declare several comma-separated windows:
    # WINDOW a AS (...), b AS (...), c AS (...)
    entry = r"\w+\s+AS\s+\([^()]*\)"
    clause = rf"WINDOW\s+{entry}(?:\s*,\s*{entry})*"
    defs = {}
    for m in re.finditer(clause, sql):
        for e in re.finditer(r"(\w+)\s+AS\s+\(([^()]*)\)", m.group(0)):
            defs[e.group(1)] = e.group(2)
    sql = re.sub(rf"\n?\s*{clause}", "", sql)
    for name, d in defs.items():
        sql = re.sub(rf"OVER\s+\(\s*{name}\b", f"OVER ({d} ", sql)
        sql = re.sub(rf"OVER\s+{name}\b", f"OVER ({d})", sql)
    return sql


def _sig() -> str:
    return f"sig AS ({signal_frame_sql(ORACLE_CHANNELS, DEFAULT_FS)})"


def signal_frame_oracle() -> str:
    return f"{_with(_sig())} SELECT * FROM sig"


def extrema_flags_oracle() -> str:
    return (
        f"{_with(_sig(), extrema_flags_sql('sig', 'signal_value'))} "
        "SELECT channel_id, sample_idx, signal_value, is_peak, is_valley FROM flagged"
    )


def smooth_oracle() -> str:
    return (
        f"{_with(_sig(), fir_smooth_sql_cte('sig'))} "
        f"SELECT channel_id, sample_idx, time_index, signal_value, "
        f"ROUND(smooth, {ROUND_DP}) AS smooth FROM smoothed"
    )


def _chain_to_envelopes() -> list[str]:
    return [
        _sig(),
        fir_smooth_sql_cte("sig"),
        extrema_flags_sql("smoothed", "smooth"),
        smoothed_envelopes_sql_cte("flagged", "smooth"),
    ]


def raw_envelopes_oracle() -> str:
    parts = [
        _sig(),
        fir_smooth_sql_cte("sig"),
        extrema_flags_sql("smoothed", "smooth"),
        raw_envelopes_sql_cte("flagged", "smooth"),
    ]
    return (
        f"{_with(*parts)} SELECT channel_id, sample_idx, "
        f"ROUND(smooth, {ROUND_DP}) AS smooth, "
        f"ROUND(floor_raw, {ROUND_DP}) AS floor_raw, "
        f"ROUND(ceil_raw, {ROUND_DP}) AS ceil_raw FROM enveloped"
    )


def envelopes_oracle() -> str:
    return (
        f"{_with(*_chain_to_envelopes())} SELECT channel_id, sample_idx, "
        f"ROUND(smooth, {ROUND_DP}) AS smooth, "
        f"ROUND(baseline, {ROUND_DP}) AS baseline, "
        f"ROUND(ceiling, {ROUND_DP}) AS ceiling FROM envsmooth"
    )


def _dia_cte() -> str:
    return (
        "dia AS (SELECT *, baseline + 0.1 * (ceiling - baseline) AS diastolic "
        "FROM envsmooth)"
    )


def diastolic_oracle() -> str:
    return (
        f"{_with(*_chain_to_envelopes(), _dia_cte())} "
        f"SELECT channel_id, sample_idx, "
        f"ROUND(baseline, {ROUND_DP}) AS baseline, "
        f"ROUND(ceiling, {ROUND_DP}) AS ceiling, "
        f"ROUND(diastolic, {ROUND_DP}) AS diastolic FROM dia"
    )


def naive_peaks_oracle() -> str:
    return (
        f"{_with(_sig(), extrema_flags_sql('sig', 'signal_value'))} "
        "SELECT channel_id, sample_idx AS peak_idx, time_index AS timestamp, "
        "signal_value AS peak_value FROM flagged WHERE is_peak"
    )


def threshold_peaks_oracle() -> str:
    keep = threshold_keep_sql_expr("smooth", "baseline", "ceiling")
    return (
        f"{_with(*_chain_to_envelopes())} "
        f"SELECT channel_id, sample_idx AS peak_idx, time_index AS timestamp, "
        f"ROUND(smooth, {ROUND_DP}) AS peak_value FROM envsmooth "
        f"WHERE is_peak AND {keep}"
    )


def peak_attributes_oracle() -> str:
    keep = threshold_keep_sql_expr("smooth", "baseline", "ceiling")
    inner = peak_attributes_sql_select(
        keep_expr=f"is_peak AND {keep}", smooth_col="smooth", baseline_col="baseline"
    )
    parts = [*_chain_to_envelopes(), _dia_cte(), crossings_sql_cte("dia")]
    return (
        f"{_with(*parts)} SELECT channel_id, peak_idx, timestamp, "
        f"ROUND(peak_value, {ROUND_DP}) AS peak_value, "
        f"ROUND(baseline_value, {ROUND_DP}) AS baseline_value, "
        f"ROUND(force, {ROUND_DP}) AS force, "
        f"ROUND(time_to_peak, {ROUND_DP}) AS time_to_peak, "
        f"ROUND(time_to_relaxation, {ROUND_DP}) AS time_to_relaxation, "
        f"ROUND(duration, {ROUND_DP}) AS duration "
        f"FROM ({inner}) att"
    )


def crossing_points_oracle() -> str:
    from .operators.attributes import crossing_points_sql_select

    keep = threshold_keep_sql_expr("smooth", "baseline", "ceiling")
    inner = crossing_points_sql_select(keep_expr=f"is_peak AND {keep}")
    parts = [*_chain_to_envelopes(), _dia_cte(), crossings_sql_cte("dia")]
    return (
        f"{_with(*parts)} SELECT channel_id, peak_idx, "
        f"ROUND(ttp_point_t, {ROUND_DP}) AS ttp_point_t, "
        f"ROUND(ttp_point_v, {ROUND_DP}) AS ttp_point_v, "
        f"ROUND(ttr_point_t, {ROUND_DP}) AS ttr_point_t, "
        f"ROUND(ttr_point_v, {ROUND_DP}) AS ttr_point_v "
        f"FROM ({inner}) cp"
    )


def peak_averages_oracle() -> str:
    """Mean over exact integer micro-units (see queries.q_peak_averages):
    the integer SUM is order-independent, so both engines divide the same
    integers and produce bit-identical doubles."""
    keep = threshold_keep_sql_expr("smooth", "baseline", "ceiling")
    inner = peak_attributes_sql_select(
        keep_expr=f"is_peak AND {keep}", smooth_col="smooth", baseline_col="baseline"
    )
    parts = [*_chain_to_envelopes(), _dia_cte(), crossings_sql_cte("dia")]

    def avg_of(c: str, alias: str) -> str:
        return (
            f"CAST(SUM(CAST(ROUND(ROUND({c}, {ROUND_DP}) * 1e6, 0) AS BIGINT)) AS DOUBLE)"
            f" / (COUNT({c}) * 1e6) AS {alias}"
        )

    return f"""{_with(*parts)}
    SELECT channel_id,
           COUNT(*) AS n_peaks,
           {avg_of('time_to_peak', 'avg_ttp')},
           {avg_of('time_to_relaxation', 'avg_ttr')},
           {avg_of('duration', 'avg_duration')},
           {avg_of('force', 'avg_force')}
    FROM ({inner}) att
    GROUP BY channel_id
    """


def stim_normalize_oracle() -> str:
    """S2: rescale the 'stim' series (event_type='click' events) to the
    amplitude of the 'data' series (all other events):
    stim.value *= max(data)/max(stim)  (peak_detection.py:28-29)."""
    return f"""
    WITH data_max AS (SELECT MAX(value) AS m FROM events WHERE event_type <> 'click'),
         stim_max AS (SELECT MAX(value) AS m FROM events WHERE event_type = 'click')
    SELECT e.event_id,
           ROUND(e.value * (SELECT m FROM data_max) / (SELECT m FROM stim_max),
                 {ROUND_DP}) AS stim_value
    FROM events e WHERE e.event_type = 'click'
    """


def global_max_oracle() -> str:
    return (
        "SELECT MAX(value) AS max_signal, COUNT(*) AS n_rows, "
        "COUNT(DISTINCT user_id) AS n_users FROM events"
    )


def asof_oracle() -> str:
    """DuckDB's native ASOF JOIN is the oracle for the union-sort trick."""
    return """
    WITH e AS (SELECT *, epoch_us(ts) AS ts_us FROM events),
    p AS (SELECT event_id, user_id, ts_us, value FROM e WHERE event_type = 'purchase'),
    v AS (SELECT user_id, ts_us, max_by(value, event_id) AS view_value
          FROM e WHERE event_type = 'view' GROUP BY user_id, ts_us)
    SELECT p.event_id, p.user_id, p.ts_us, p.value,
           v.view_value AS prior_view_value
    FROM p ASOF LEFT JOIN v
      ON p.user_id = v.user_id AND p.ts_us >= v.ts_us
    """


def asof_tolerance_oracle() -> str:
    """Tolerance-bounded as-of via the naive inequality formulation —
    deliberately different machinery from the Spark union-sort route."""
    hour_us = 3600 * 1_000_000
    return f"""
    WITH e AS (SELECT *, epoch_us(ts) AS ts_us FROM events),
    p AS (SELECT event_id, user_id, ts_us, value FROM e WHERE event_type = 'purchase'),
    v AS (SELECT user_id, ts_us, max_by(value, event_id) AS view_value
          FROM e WHERE event_type = 'view' GROUP BY user_id, ts_us)
    SELECT p.event_id, p.user_id, p.ts_us, p.value,
           max_by(v.view_value, v.ts_us) AS recent_view_value
    FROM p LEFT JOIN v
      ON p.user_id = v.user_id
     AND v.ts_us <= p.ts_us AND v.ts_us >= p.ts_us - {hour_us}
    GROUP BY p.event_id, p.user_id, p.ts_us, p.value
    """


def resample_oracle() -> str:
    hour_us = 3600 * 1_000_000
    return f"""
    WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, value FROM events),
    r AS (
        SELECT user_id, ts_us // {hour_us} AS bucket, COUNT(*) AS n,
               CAST(SUM(CAST(ROUND(ROUND(value, {ROUND_DP}) * 1e6, 0) AS BIGINT)) AS DOUBLE)
                   / (COUNT(*) * 1e6) AS avg_value,
               MIN(value) AS min_value, MAX(value) AS max_value
        FROM e GROUP BY user_id, ts_us // {hour_us}
    ),
    bounds AS (SELECT user_id, MIN(bucket) AS lo, MAX(bucket) AS hi FROM r GROUP BY user_id),
    dense AS (SELECT user_id, unnest(range(lo, hi + 1)) AS bucket FROM bounds),
    j AS (
        SELECT d.user_id, d.bucket, r.n, r.avg_value, r.min_value, r.max_value,
               r.avg_value IS NOT NULL AS observed
        FROM dense d LEFT JOIN r ON d.user_id = r.user_id AND d.bucket = r.bucket
    )
    SELECT user_id, bucket, observed, n,
           last_value(avg_value IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS avg_value,
           min_value, max_value
    FROM j
    """


def session_stats_oracle() -> str:
    from .operators.sessions import sessions_sql

    return sessions_sql()


def stim_peak_mean_oracle() -> str:
    return (
        f"{_with(_sig(), extrema_flags_sql('sig', 'signal_value'))} "
        f"SELECT ROUND(AVG(time_index), {ROUND_DP}) AS mean_peak_time, "
        f"COUNT(*) AS n_peaks FROM flagged WHERE is_peak"
    )


def value_histogram_oracle() -> str:
    """Mirror of operators.analytics.value_histogram (bin_width=25.0)."""
    return f"""
    SELECT CAST(FLOOR(value / 25.0) AS BIGINT) AS bin,
           COUNT(*) AS n,
           MIN(value) AS min_value,
           MAX(value) AS max_value,
           CAST(SUM(CAST(ROUND(ROUND(value, {ROUND_DP}) * 1e6, 0) AS BIGINT)) AS DOUBLE)
               / (COUNT(*) * 1e6) AS avg_value
    FROM events
    GROUP BY 1
    """


def range_pairs_oracle() -> str:
    """Naive inequality join — the oracle for the bucketed range join in
    operators.analytics.range_pairs (window = 1 h)."""
    from .operators.analytics import DEFAULT_WINDOW_US

    return f"""
    WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, value FROM events)
    SELECT a.user_id,
           a.event_id AS left_id,
           b.event_id AS right_id,
           b.ts_us - a.ts_us AS gap_us,
           a.value AS left_value,
           b.value AS right_value
    FROM e a JOIN e b
      ON a.user_id = b.user_id
     AND b.ts_us >= a.ts_us
     AND b.ts_us - a.ts_us <= {DEFAULT_WINDOW_US}
     AND (a.ts_us < b.ts_us
          OR (a.ts_us = b.ts_us AND a.event_id < b.event_id))
    """


def json_props_oracle() -> str:
    """Mirror of operators.analytics.json_props_stats ($.k per type)."""
    return """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           MIN(k) AS min_k,
           MAX(k) AS max_k,
           CAST(SUM(k) AS DOUBLE) / COUNT(*) AS avg_k
    FROM (SELECT event_type,
                 CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
          FROM events) t
    GROUP BY event_type
    """


def user_value_median_oracle() -> str:
    """Mirror of operators.analytics.grouped_median: mean of the one or
    two middle elements by explicit rank (rn*2 ∈ {n, n+1, n+2})."""
    return """
    WITH v AS (
        SELECT user_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY value ASC NULLS LAST, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS n
        FROM events
    )
    SELECT user_id, n, AVG(value) AS median
    FROM v
    WHERE rn * 2 = n OR rn * 2 = n + 1 OR rn * 2 = n + 2
    GROUP BY user_id, n
    """


def native_find_peaks_nodist_oracle(
    prominence: float = 0.3,
    width: float = 1.0,
    rel_height: float = 0.3,
    wlen: int = 250,
) -> str:
    """SQL mirror of ``native_find_peaks(sig, distance=None)`` — see
    :func:`native_find_peaks_oracle` (this is its ``distance=None``
    specialization, kept as a separately-registered entry so the
    suppression-free pipeline stays independently hash-checked)."""
    return native_find_peaks_oracle(
        distance=None,
        prominence=prominence,
        width=width,
        rel_height=rel_height,
        wlen=wlen,
    )


def _native_find_peaks_parts(
    distance: int | None = 20,
    prominence: float = 0.3,
    width: float = 1.0,
    rel_height: float = 0.3,
    wlen: int = 250,
) -> list:
    """CTE parts (ending in ``widthed``) for the native constrained
    find_peaks mirror — plateau RLE candidates +
    greedy distance suppression + the SciPy prominence base-walks +
    interpolated width, as set algebra the DuckDB optimizer
    decorrelates into joins.

    The sequential walk becomes closed-form: the left stopper is the
    LAST sample above peak height inside the wlen half-window; the base
    is the MIN over (stopper, peak) with nearest-to-peak tie-breaking
    (MAX index left / MIN index right — what the walk's strict
    ``x.s < acc.minv`` update keeps).

    Greedy distance suppression — priority-ordered and sequential, the
    one constraint rounds 1-4 recorded as non-SQL-expressible — IS
    expressible as a recursive CTE after all: each round picks every
    channel's highest-priority remaining candidate (value DESC,
    position DESC) and deletes candidates closer than ``distance`` to
    it; picked rows don't re-enter the working set, so the recursion
    drains in at most max-survivors-per-channel rounds. One pick per
    channel per round is exactly the greedy's semantics (the global
    priority order within a channel is what the per-round top-1
    reproduces; channels never interact). O(rounds x remaining) work —
    tractable at oracle scale (sf0.01: ~800 candidates, ~60 rounds),
    never the production path. Ties: both sides pin the SAME total
    order — the SQL orders value DESC, position DESC, and the NumPy
    kernel argsorts with kind="stable" reversed (equal values
    right-first, matching SciPy's own stable argsort) — so exact
    double ties, though absent in the harness data, cannot diverge.

    Rows surviving the prominence filter always have BOTH bases strictly
    below the peak (prom = pv - max(lb, rb) > 0), so the walk-empty
    edge case where Spark's aggregate keeps (pv, peak_idx) and SQL's
    MIN/MAX would pick a plateau member never reaches the width stage.

    Open gap (NULL-holed channels): the engine's NULL rule is
    :func:`.operators.windows.extrema_flags`' (a NULL joins the run
    before it, and a NULL next to a run disqualifies it), which batch
    and streaming peaks share. This mirror still differs there: its
    run-length candidates and its base walks skip NULL samples. The
    harness tables hold no NULL, so no hash sees it; an edge-input
    sweep with NULL channels is where it is to be closed.
    """
    odd = wlen + 1 if wlen % 2 == 0 else wlen
    half = odd // 2
    parts = [
        _sig(),
        fir_smooth_sql_cte("sig"),
        """starts AS (
            SELECT channel_id, sample_idx, smooth FROM (
                SELECT channel_id, sample_idx, smooth,
                       LAG(smooth) OVER (PARTITION BY channel_id
                                         ORDER BY sample_idx) AS _pv
                FROM smoothed) t
            WHERE _pv IS NULL OR smooth <> _pv
        )""",
        """runs AS (
            SELECT channel_id, sample_idx AS lo,
                   LEAD(sample_idx) OVER w - 1 AS hi,
                   smooth AS v,
                   LAG(smooth) OVER w AS prev_v,
                   LEAD(smooth) OVER w AS next_v
            FROM starts
            WINDOW w AS (PARTITION BY channel_id ORDER BY sample_idx)
        )""",
        """cand AS (
            SELECT channel_id, (lo + hi) // 2 AS p, v AS pv FROM runs
            WHERE prev_v IS NOT NULL AND next_v IS NOT NULL
              AND prev_v < v AND next_v < v
        )""",
    ]
    if distance is not None:
        dist = int(math.ceil(distance))
        parts += [
            f"""supp AS (
                SELECT channel_id, p, pv, FALSE AS picked FROM cand
                UNION ALL
                SELECT channel_id, p, pv, p = top_p AS picked FROM (
                    SELECT channel_id, p, pv,
                           FIRST_VALUE(p) OVER (PARTITION BY channel_id
                               ORDER BY pv DESC, p DESC) AS top_p
                    FROM supp WHERE NOT picked) t
                WHERE p = top_p OR ABS(p - top_p) >= {dist}
            )""",
            "kept AS (SELECT channel_id, p, pv FROM supp WHERE picked)",
        ]
        cand_src = "kept"
    else:
        cand_src = "cand"
    parts += [
        f"""stops AS (
            SELECT c.channel_id, c.p, c.pv,
              COALESCE((SELECT MAX(s.sample_idx) FROM smoothed s
                 WHERE s.channel_id = c.channel_id
                   AND s.sample_idx >= c.p - {half} AND s.sample_idx < c.p
                   AND s.smooth > c.pv), c.p - {half} - 1) AS lstop,
              COALESCE((SELECT MIN(s.sample_idx) FROM smoothed s
                 WHERE s.channel_id = c.channel_id
                   AND s.sample_idx <= c.p + {half} AND s.sample_idx > c.p
                   AND s.smooth > c.pv), c.p + {half} + 1) AS rstop
            FROM {cand_src} c
        )""",
        """bases AS (
            SELECT st.*,
              COALESCE((SELECT MIN(s.smooth) FROM smoothed s
                 WHERE s.channel_id = st.channel_id
                   AND s.sample_idx > st.lstop AND s.sample_idx < st.p),
                 st.pv) AS lbv,
              COALESCE((SELECT MIN(s.smooth) FROM smoothed s
                 WHERE s.channel_id = st.channel_id
                   AND s.sample_idx > st.p AND s.sample_idx < st.rstop),
                 st.pv) AS rbv
            FROM stops st
        )""",
        f"""prom AS (
            SELECT b.*, b.pv - GREATEST(b.lbv, b.rbv) AS prominence,
              COALESCE((SELECT MAX(s.sample_idx) FROM smoothed s
                 WHERE s.channel_id = b.channel_id
                   AND s.sample_idx > b.lstop AND s.sample_idx < b.p
                   AND s.smooth = b.lbv), b.p) AS lbj,
              COALESCE((SELECT MIN(s.sample_idx) FROM smoothed s
                 WHERE s.channel_id = b.channel_id
                   AND s.sample_idx > b.p AND s.sample_idx < b.rstop
                   AND s.smooth = b.rbv), b.p) AS rbj
            FROM bases b
            WHERE b.pv - GREATEST(b.lbv, b.rbv) >= {float(prominence)!r}
        )""",
        f"""crossed AS (
            SELECT z.*, z.pv - {float(rel_height)!r} * z.prominence AS h,
              COALESCE((SELECT MAX(s.sample_idx) FROM smoothed s
                 WHERE s.channel_id = z.channel_id
                   AND s.sample_idx >= z.lbj AND s.sample_idx <= z.p
                   AND s.smooth <= z.pv - {float(rel_height)!r} * z.prominence),
                 z.lbj) AS slj,
              COALESCE((SELECT MIN(s.sample_idx) FROM smoothed s
                 WHERE s.channel_id = z.channel_id
                   AND s.sample_idx >= z.p AND s.sample_idx <= z.rbj
                   AND s.smooth <= z.pv - {float(rel_height)!r} * z.prominence),
                 z.rbj) AS srj
            FROM prom z
        )""",
        """ys AS (
            SELECT c2.*,
              (SELECT s.smooth FROM smoothed s WHERE s.channel_id = c2.channel_id
                 AND s.sample_idx = c2.slj) AS sly,
              (SELECT s.smooth FROM smoothed s WHERE s.channel_id = c2.channel_id
                 AND s.sample_idx = c2.slj + 1) AS slyn,
              (SELECT s.smooth FROM smoothed s WHERE s.channel_id = c2.channel_id
                 AND s.sample_idx = c2.srj) AS sry,
              (SELECT s.smooth FROM smoothed s WHERE s.channel_id = c2.channel_id
                 AND s.sample_idx = c2.srj - 1) AS sryn
            FROM crossed c2
        )""",
        """widthed AS (
            SELECT channel_id, p AS peak_idx, pv AS peak_value, prominence,
              (srj - CASE WHEN sry < h THEN (h - sry) / (sryn - sry)
                          ELSE 0 END)
              - (slj + CASE WHEN sly < h THEN (h - sly) / (slyn - sly)
                            ELSE 0 END) AS width
            FROM ys
        )""",
    ]
    return parts


def native_find_peaks_oracle(
    distance: int | None = 20,
    prominence: float = 0.3,
    width: float = 1.0,
    rel_height: float = 0.3,
    wlen: int = 250,
) -> str:
    """Final-select wrapper over :func:`_native_find_peaks_parts` —
    see that builder for the full contract (recursive-CTE greedy
    suppression, closed-form prominence/width walks, tie caveat)."""
    parts = _native_find_peaks_parts(distance, prominence, width, rel_height, wlen)
    body = (
        f"{_with(*parts)} SELECT channel_id, peak_idx, "
        f"ROUND(peak_value, {ROUND_DP}) AS peak_value, "
        f"ROUND(prominence, {ROUND_DP}) AS prominence, "
        f"ROUND(width, {ROUND_DP}) AS width "
        f"FROM widthed WHERE width >= {float(width)!r}"
    )
    if distance is not None:
        body = _inline_named_windows(body).replace("WITH ", "WITH RECURSIVE ", 1)
    return body


def constrained_peak_attributes_oracle(
    distance: int | None = 20,
    prominence: float = 0.3,
    width: float = 1.0,
    rel_height: float = 0.3,
    wlen: int = 250,
) -> str:
    """SQL mirror of the fully-native constrained chain
    (``PeakPipeline(...).smooth().envelopes().diastolic()
    .detect_peaks(constrained=True).attributes()``): the recursive-CTE
    native_find_peaks kept set replaces the extrema flag in the keep
    predicate — kept AND envelope-threshold — and the standard
    crossings/attributes select runs over the same smoothed frame.
    Converts the second rows-only entry to hash-checked (round 5)."""
    import re

    keep_th = threshold_keep_sql_expr("smooth", "baseline", "ceiling")
    np_parts = _native_find_peaks_parts(
        distance, prominence, width, rel_height, wlen
    )
    np_parts.append(
        "npeaks AS (SELECT channel_id, peak_idx FROM widthed "
        f"WHERE width >= {float(width)!r})"
    )
    # namespace the native-chain CTEs: the extrema/crossings builders
    # define their own `runs` / `crossed`, so the find_peaks chain's
    # names get an np_ prefix (sig/bounds/smoothed stay shared — they
    # are defined once and read by both chains)
    np_names = (
        "starts", "runs", "cand", "supp", "kept", "stops",
        "bases", "prom", "crossed", "ys", "widthed",
    )
    def _ns(part: str) -> str:
        for n in np_names:
            part = re.sub(rf"\b{n}\b", f"np_{n}", part)
        return part
    np_parts = [_ns(p) for p in np_parts]
    env_parts = [
        extrema_flags_sql("smoothed", "smooth"),
        smoothed_envelopes_sql_cte("flagged", "smooth"),
        _dia_cte(),
        crossings_sql_cte("dia"),
    ]
    keep = (
        "EXISTS (SELECT 1 FROM npeaks np WHERE np.channel_id = "
        f"crossed.channel_id AND np.peak_idx = crossed.sample_idx) AND ({keep_th})"
    )
    inner = peak_attributes_sql_select(
        keep_expr=keep, smooth_col="smooth", baseline_col="baseline"
    )
    body = (
        f"{_with(*np_parts, *env_parts)} "
        f"SELECT channel_id, peak_idx, timestamp, "
        f"ROUND(peak_value, {ROUND_DP}) AS peak_value, "
        f"ROUND(baseline_value, {ROUND_DP}) AS baseline_value, "
        f"ROUND(force, {ROUND_DP}) AS force, "
        f"ROUND(time_to_peak, {ROUND_DP}) AS time_to_peak, "
        f"ROUND(time_to_relaxation, {ROUND_DP}) AS time_to_relaxation, "
        f"ROUND(duration, {ROUND_DP}) AS duration "
        f"FROM ({inner}) att"
    )
    if distance is not None:
        body = _inline_named_windows(body).replace("WITH ", "WITH RECURSIVE ", 1)
    return body


def peak_interval_stats_oracle(fs: float = 100.0) -> str:
    """IPI stats over the threshold-peaks result (same detection chain);
    integer moments make every stat engine-exact before one rounding."""
    return f"""
    WITH tp AS ({threshold_peaks_oracle()}),
    ipi AS (
        SELECT channel_id,
               peak_idx - LAG(peak_idx) OVER (PARTITION BY channel_id
                                              ORDER BY peak_idx) AS d
        FROM tp
    ),
    agg AS (
        SELECT channel_id, COUNT(*)::BIGINT AS n_intervals,
               SUM(d)::BIGINT AS s, SUM(d * d)::BIGINT AS q
        FROM ipi WHERE d IS NOT NULL GROUP BY channel_id
    )
    SELECT channel_id, n_intervals,
           ROUND(s / n_intervals, 6) AS mean_ipi,
           ROUND(sqrt(CAST(n_intervals * q - s * s AS DOUBLE)) / n_intervals,
                 6) AS std_ipi,
           ROUND({float(fs)} * n_intervals / s, 6) AS mean_rate_hz
    FROM agg
    """


def resample_interpolate_oracle() -> str:
    hour_us = 3600 * 1_000_000
    return f"""
    WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, value FROM events),
    r AS (
        SELECT user_id, ts_us // {hour_us} AS bucket, COUNT(*) AS n,
               CAST(SUM(CAST(ROUND(ROUND(value, {ROUND_DP}) * 1e6, 0) AS BIGINT)) AS DOUBLE)
                   / (COUNT(*) * 1e6) AS avg_value
        FROM e GROUP BY user_id, ts_us // {hour_us}
    ),
    bounds AS (SELECT user_id, MIN(bucket) AS lo, MAX(bucket) AS hi FROM r GROUP BY user_id),
    dense AS (SELECT user_id, unnest(range(lo, hi + 1)) AS bucket FROM bounds),
    j AS (
        SELECT d.user_id, d.bucket, r.n, r.avg_value,
               r.n IS NOT NULL AS observed
        FROM dense d LEFT JOIN r ON d.user_id = r.user_id AND d.bucket = r.bucket
    ),
    w AS (
        SELECT *,
               last_value(CASE WHEN avg_value IS NOT NULL THEN bucket END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY bucket ASC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pb,
               last_value(CASE WHEN avg_value IS NOT NULL THEN avg_value END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY bucket ASC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
               last_value(CASE WHEN avg_value IS NOT NULL THEN bucket END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY bucket DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nb,
               last_value(CASE WHEN avg_value IS NOT NULL THEN avg_value END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY bucket DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nv
        FROM j
    )
    SELECT user_id, bucket, observed, n,
           FLOOR((CASE
               WHEN avg_value IS NOT NULL THEN avg_value
               WHEN pb IS NOT NULL AND nb IS NOT NULL
                   THEN pv + (nv - pv) * ((bucket - pb) / (nb - pb))
           END) * 1e6 + 0.5) / 1e6 AS avg_value
    FROM w
    """


def resample_ohlc_oracle() -> str:
    # FLOOR bucket via the pmod identity, matching the Spark operator:
    # DuckDB's // truncates toward zero (-1 // 3600 = 0), which would
    # bucket pre-epoch timestamps differently from Spark's
    # (ts - pmod(ts, w)) DIV w.
    w = 3600 * 1_000_000
    fb = f"(ts_us - ((ts_us % {w} + {w}) % {w})) // {w}"
    return f"""
    WITH e AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM events
    ),
    m AS (
        SELECT user_id, {fb} AS bucket, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, {fb}
                                  ORDER BY ts_us ASC, event_id ASC) AS ra,
               ROW_NUMBER() OVER (PARTITION BY user_id, {fb}
                                  ORDER BY ts_us DESC, event_id DESC) AS rd
        FROM e
    )
    SELECT user_id, bucket,
           MAX(CASE WHEN ra = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rd = 1 THEN value END) AS close,
           COUNT(*)::BIGINT AS n
    FROM m GROUP BY user_id, bucket
    """
