"""Relational-extension registry: joins, rollup, ranking, sliding and
session windows, IVF ANN (SURVEY.md §2.5 "not implemented in the
reference" checklist + §2.6 scale path).

Oracle notes:
- sliding windows: DuckDB has no window() generalization, so the oracle
  materializes each event's size/slide overlapping windows via
  ``unnest([0, 1])`` — definitionally what Spark's sliding window
  expansion does;
- session windows: gaps-and-islands (lag + cumulative sum). Verified
  empirically: Spark merges boundary-touching sessions (an event
  exactly gap after the previous one extends the session), so a new
  island starts strictly after last_ts + gap;
- IVF: the oracle replays centroid assignment/probing exactly — the
  squared-L2 fold is sequential left-to-right double in both engines
  (bit-identical), ties broken by centroid id on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.relational import (
    approx_distinct_users_checked,
    bloom_membership,
    cms_user_counts,
    customer_value_deciles,
    regional_supplier_volume,
    returned_items_top_customers,
    conversion_funnel,
    converted_users_without_errors,
    cusum_changepoint,
    error_rate_windows,
    event_transitions,
    events_multigrain_rollup,
    events_rollup,
    inactive_customers,
    key_skew_profile,
    nation_trade_volume,
    orders_asof_join,
    promo_revenue_share,
    priority_orders_with_returns,
    segment_revenue,
    shipping_priority,
    sliding_airline_stats,
    rolling_user_value,
    top_routes_per_airline,
    user_event_enrichment,
    user_event_type_pivot,
    user_metrics_unpivot,
    ewma_daily_value,
    user_event_gaps,
    user_sessions,
    value_band_join,
    weekly_cohort_retention,
    VALUE_BANDS,
)
from ..operators.similarity import cosine_topk_ivf
from ..sources.fixtures import load_table
from ..sources.flight_adapter import FLIGHTS_CTE
from . import vector_sql as vs
from .registry import ORACLES, register


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


@register(
    "user_event_enrichment",
    oracle="""
    SELECT c_mktsegment, event_type,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           count(DISTINCT c_nationkey) AS n_nations,
           CAST(round(sum(CAST(value AS DECIMAL(27,10))), 4) AS DOUBLE) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c_mktsegment, event_type
    """,
)
def q_user_event_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast dimension join (events fact never shuffles for the
    join) + segment/type aggregate — the stream-static enrichment the
    reference's users table (readme.txt:16) implies."""
    return user_event_enrichment(
        _events(spark, sf_dir), load_table(spark, sf_dir, "customer")
    )


@register(
    "airline_stats_sliding",
    oracle=f"""
    WITH {FLIGHTS_CTE},
    slid AS (
        SELECT f.*,
               TIMESTAMP '1970-01-01' + to_seconds(
                   CAST(floor(epoch(scheduled_time) / 120) * 120 AS BIGINT))
               - to_seconds(s.i * 120) AS window_start
        FROM flights f, (SELECT unnest([0, 1]) AS i) s
    )
    SELECT airline,
           count(*) AS total_flights,
           CAST(count(*) FILTER (WHERE is_delayed = 1) AS BIGINT)
               AS delayed_flights,
           round(avg(delay_minutes), 4) AS avg_delay_minutes,
           window_start,
           window_start + INTERVAL 4 MINUTE AS window_end
    FROM slid
    GROUP BY airline, window_start
    """,
)
def q_airline_stats_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1's aggregate over 4-minute windows sliding by 2 — each event in
    size/slide=2 windows (SURVEY.md §2.4 window-kinds extension)."""
    from ..sources.flight_adapter import shared_flights

    return sliding_airline_stats(shared_flights(spark, sf_dir))


@register(
    "user_sessions",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts, event_type, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        -- an event without a time cannot be sessionized; Spark's
        -- session_window drops NULL timestamps, so the oracle must too
        FROM events WHERE ts IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    islands AS (
        SELECT *, sum(new_session) OVER (
            PARTITION BY user_id ORDER BY ts
            ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events,
           count(DISTINCT event_type) AS n_event_types,
           CAST(round(sum(CAST(value AS DECIMAL(27,10))), 4) AS DOUBLE) AS sum_value
    FROM islands
    GROUP BY user_id, sid
    """,
)
def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window sessionization per user, 30-minute gap."""
    return user_sessions(_events(spark, sf_dir))


@register(
    "events_rollup",
    oracle="""
    SELECT coalesce(event_type, '(all)') AS event_type,
           coalesce(hour_of_day, -1) AS hour_of_day,
           CAST(grouping(event_type) * 2 + grouping(hour_of_day) AS BIGINT)
               AS level,
           count(*) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(27,10))), 4) AS DOUBLE) AS sum_value
    FROM (SELECT event_type, CAST(hour(ts) AS INT) AS hour_of_day, value
          FROM events)
    GROUP BY ROLLUP (event_type, hour_of_day)
    """,
)
def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-grain totals via ROLLUP in one aggregate pass."""
    return events_rollup(_events(spark, sf_dir))


@register(
    "top_routes_per_airline",
    oracle=f"""
    WITH {FLIGHTS_CTE},
    per_route AS (
        SELECT airline, origin, destination,
               count(*) AS total_flights,
               round(avg(delay_minutes), 4) AS avg_delay_minutes
        FROM flights
        GROUP BY airline, origin, destination
    )
    SELECT airline, origin || '-' || destination AS route,
           total_flights, avg_delay_minutes, rank
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY airline
            ORDER BY total_flights DESC, origin, destination) AS rank
        FROM per_route
    )
    WHERE rank <= 3
    """,
)
def q_top_routes_per_airline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 routes by traffic per airline (ranking window over the
    pre-aggregated routes, never over the fact table)."""
    from ..sources.flight_adapter import shared_flights

    return top_routes_per_airline(shared_flights(spark, sf_dir))


@register(
    "segment_revenue",
    oracle="""
    SELECT c_mktsegment, CAST(year(o_orderdate) AS INTEGER) AS o_year,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                 * (CAST(1 AS DECIMAL(18,4))
                    - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE)
               AS revenue,
           count(*) AS n_lineitems,
           count(DISTINCT o_orderkey) AS n_orders
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment, year(o_orderdate)
    """,
)
def q_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Big-big shuffle join (lineitem x orders) + broadcast dimension
    (customer) + partial-aggregated rollup per segment/year."""
    return segment_revenue(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


@register(
    "inactive_customers",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_inactive,
           round(avg(c_acctbal), 4) AS avg_acctbal
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM events e WHERE e.user_id = c.c_custkey)
    GROUP BY c_mktsegment
    """,
)
def q_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join: customers with no events, per segment (broadcast of
    the distinct active-user set; neither full table shuffles)."""
    return inactive_customers(
        load_table(spark, sf_dir, "customer"), _events(spark, sf_dir)
    )


@register(
    "user_event_gaps",
    oracle="""
    WITH g AS (
        SELECT user_id,
               epoch_us(ts) - lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts) AS gap_us
        FROM events
    )
    SELECT user_id, count(*) AS n_events,
           count(gap_us) AS n_gaps,
           round(avg(gap_us) / 1e6, 4) AS avg_gap_sec,
           round(max(gap_us) / 1e6, 4) AS max_gap_sec
    FROM g GROUP BY user_id
    """,
)
def q_user_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap stats via the lag analytic (exact
    integer-microsecond gaps)."""
    return user_event_gaps(_events(spark, sf_dir))


@register(
    "orders_asof",
    oracle="""
    WITH o AS (
        SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY o_custkey, o_orderdate
                ORDER BY o_orderkey DESC) AS rn
            FROM orders
        ) WHERE rn = 1
    )
    SELECT e.event_id, e.user_id, e.ts,
           o.o_orderkey, o.o_orderdate,
           round(o.o_totalprice, 4) AS o_totalprice
    FROM (SELECT * FROM events WHERE ts IS NOT NULL) e
    ASOF LEFT JOIN o ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    UNION ALL
    -- a NULL probe time matches nothing ("most recent order at or
    -- before <no time>" is undefined); DuckDB's ASOF would instead
    -- treat NULL as +inf and match the LAST order, so the null slice
    -- is carried around the ASOF explicitly
    SELECT event_id, user_id, ts,
           NULL AS o_orderkey, NULL AS o_orderdate,
           CAST(NULL AS DOUBLE) AS o_totalprice
    FROM events WHERE ts IS NULL
    """,
)
def q_orders_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join: each event matched to the user's most recent order
    at or before the event time (union + last-ignorenulls carry-forward
    — one exchange + one sort, no range explosion)."""
    return orders_asof_join(
        _events(spark, sf_dir), load_table(spark, sf_dir, "orders")
    )


_INF = "CAST('infinity' AS DOUBLE)"
_BANDS_VALUES = ", ".join(
    f"('{n}', {lo}, {_INF if hi == float('inf') else hi})"
    for n, lo, hi in VALUE_BANDS
)


@register(
    "value_band_join",
    oracle=f"""
    WITH bands(band, lo, hi) AS (VALUES {_BANDS_VALUES})
    SELECT band, event_type, count(*) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(27,10))), 4) AS DOUBLE) AS sum_value
    FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
    GROUP BY band, event_type
    """,
)
def q_value_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (band) join against a broadcast interval dimension —
    the non-equi join family (SURVEY §2.5); fact side never shuffles."""
    return value_band_join(_events(spark, sf_dir))


@register(
    "approx_distinct_users",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users_exact,
           TRUE AS within_bound
    FROM events
    GROUP BY event_type
    """,
)
def q_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct-user estimate per event type (sketch
    shuffle: fixed-size registers, not distinct ids). Driver-checkable
    via the error-bound verdict column: the oracle recomputes the exact
    cardinality and asserts within_bound TRUE (was rows-only in r3;
    accuracy additionally pytest-asserted)."""
    return approx_distinct_users_checked(_events(spark, sf_dir))


@register(
    "bloom_membership",
    oracle="""
    WITH params(j, a, b) AS (VALUES (0, 31, 7), (1, 131, 17), (2, 1031, 47)),
    users AS (SELECT DISTINCT user_id FROM events),
    members AS (
        SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    ),
    bloom_bits AS (
        SELECT DISTINCT
               ((m.user_id % 1000000007) * p.a + p.b) % 1000000007 % 4096
                   AS pos
        FROM members m CROSS JOIN params p
    ),
    probes AS (
        SELECT u.user_id,
               ((u.user_id % 1000000007) * p.a + p.b) % 1000000007 % 4096
                   AS pos
        FROM users u CROSS JOIN params p
    ),
    hits AS (
        SELECT pr.user_id,
               count(*) FILTER (WHERE bb.pos IS NOT NULL) AS n_hits
        FROM probes pr LEFT JOIN bloom_bits bb ON bb.pos = pr.pos
        GROUP BY pr.user_id
    )
    SELECT h.user_id,
           m.user_id IS NOT NULL AS is_member,
           h.n_hits = 3 AS in_bloom,
           (m.user_id IS NULL) OR (h.n_hits = 3) AS no_false_negative
    FROM hits h LEFT JOIN members m ON m.user_id = h.user_id
    """,
)
def q_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership of the purchaser set probed for every
    user, beside the exact tier (operators/relational.py
    bloom_membership). Deterministic portable hashes: the oracle
    rebuilds the bit table and probes cell-for-cell, and asserts the
    no-false-negative theorem by reconstruction."""
    return bloom_membership(_events(spark, sf_dir))


@register(
    "cms_user_counts",
    oracle="""
    WITH params(j, a, b) AS (VALUES (0, 31, 7), (1, 131, 17),
                                    (2, 1031, 47), (3, 10007, 97)),
    cells AS (
        SELECT p.j,
               ((e.user_id % 1000000007) * p.a + p.b) % 1000000007 % 256
                   AS bucket
        FROM events e CROSS JOIN params p
    ),
    sketch AS (
        SELECT j, bucket, count(*) AS cell_count FROM cells GROUP BY j, bucket
    ),
    exact AS (
        SELECT user_id, count(*) AS n_exact FROM events GROUP BY user_id
    ),
    probes AS (
        SELECT x.user_id, x.n_exact, p.j,
               ((x.user_id % 1000000007) * p.a + p.b) % 1000000007 % 256
                   AS bucket
        FROM exact x CROSS JOIN params p
    )
    SELECT pr.user_id, pr.n_exact,
           CAST(min(s.cell_count) AS BIGINT) AS cms_est,
           min(s.cell_count) >= pr.n_exact AS no_undercount
    FROM probes pr JOIN sketch s USING (j, bucket)
    GROUP BY pr.user_id, pr.n_exact
    """,
)
def q_cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch per-user frequency estimates beside the exact
    tier (operators/relational.py cms_user_counts). The sketch is
    deterministic (portable affine hashes), so the oracle rebuilds the
    identical d x w counter matrix cell-for-cell and the estimates are
    value-exact — plus the CMS no-undercount theorem as an asserted
    column."""
    return cms_user_counts(_events(spark, sf_dir))


@register(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
        CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE)
            AS sum_qty,
        CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE)
            AS sum_base_price,
        CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
              * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS sum_disc_price,
        CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
              * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
              * (CAST(1 AS DECIMAL(18,4)) + CAST(l_tax AS DECIMAL(18,4)))), 2) AS DOUBLE) AS sum_charge,
        round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
              / count(*), 4) AS avg_qty,
        round(CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE)
              / count(*), 4) AS avg_disc,
        count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate < TIMESTAMP '1998-09-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shape scan+aggregate with pushed-down date filter and
    DECIMAL-exact money sums."""
    from ..operators.relational import pricing_summary

    return pricing_summary(load_table(spark, sf_dir, "lineitem"))


@register(
    "similarity_topk_ivf",
    oracle=vs.query(
        [
            vs.E,
            *vs.ivf(61, 64, num_queries=16, nprobe=4),
            vs.rerank("scored", "list_cosine_similarity", "cos"),
        ],
        vs.cosine_topk(10),
    ),
)
def q_similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: narrow centroid assignment, nprobe=4 posting-list probe,
    exact cosine re-rank — deterministic, hence value-oracle-checked
    (unlike the random-hyperplane LSH variant). The trained centroid
    set is cached per corpus (train once, query many — the normal IVF
    lifecycle) in the one coarse-model cache,
    registry_ext._coarse_model, which the IVF-PQ indexes share."""
    from .registry_ext import _coarse_model

    return cosine_topk_ivf(
        load_table(spark, sf_dir, "embeddings"),
        centroids=_coarse_model(spark, sf_dir, 61),
    )


@register(
    "rolling_user_value",
    oracle="""
    SELECT event_id, user_id, ts,
           count(*) OVER w AS n_trailing,
           round(SUM(value) OVER w, 2) AS sum_trailing_value
    FROM events
    WINDOW w AS (
        PARTITION BY user_id ORDER BY epoch_us(ts)
        RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
    )
    """,
)
def q_rolling_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1-hour RANGE-frame window aggregate per user (exact
    integer-microsecond frame bounds in both engines)."""
    return rolling_user_value(_events(spark, sf_dir))


@register(
    "user_event_type_pivot",
    oracle="""
    SELECT user_id,
           count(*) FILTER (event_type = 'click')    AS n_click,
           count(*) FILTER (event_type = 'error')    AS n_error,
           count(*) FILTER (event_type = 'purchase') AS n_purchase,
           count(*) FILTER (event_type = 'signup')   AS n_signup,
           count(*) FILTER (event_type = 'view')     AS n_view
    FROM events
    GROUP BY user_id
    """,
)
def q_user_event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT on event_type: per-user count column per type (static
    type list; plans as one conditional hash aggregation)."""
    return user_event_type_pivot(_events(spark, sf_dir))


@register(
    "events_unpivot",
    oracle="""
    WITH wide AS (
        SELECT user_id,
               CAST(count(*) AS DOUBLE) AS n_events,
               CAST(round(sum(CAST(value AS DECIMAL(27,10))), 4) AS DOUBLE)
                   AS total_value,
               max(value) AS max_value,
               min(value) AS min_value
        FROM events GROUP BY user_id
    )
    SELECT user_id, 'n_events'    AS metric, n_events    AS metric_value FROM wide
    UNION ALL
    SELECT user_id, 'total_value' AS metric, total_value AS metric_value FROM wide
    UNION ALL
    SELECT user_id, 'max_value'   AS metric, max_value   AS metric_value FROM wide
    UNION ALL
    SELECT user_id, 'min_value'   AS metric, min_value   AS metric_value FROM wide
    """,
)
def q_events_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt: per-user wide metrics relationally melted to long
    (user_id, metric, metric_value) via the native Expand operator —
    the inverse surface of `user_event_type_pivot`. Oracle replays as
    UNION ALL (DuckDB UNPIVOT excludes NULL measures; Spark keeps
    them)."""
    return user_metrics_unpivot(_events(spark, sf_dir))


def _ewma_oracle(lags: int = 12) -> str:
    """DuckDB twin of operators/relational.ewma_daily_value: the 12
    window lags written out explicitly, then the same all-integer
    weighted sum and sign-safe half-up division (`//` == Spark `div`
    for the non-negative operands each CASE branch guarantees)."""
    over = "OVER (PARTITION BY event_type ORDER BY day)"
    lag_cols = ",\n               ".join(
        f"lag(m, {k}) {over} AS l{k}" for k in range(lags)
    )
    num = " + ".join(
        f"CASE WHEN l{k} IS NOT NULL THEN l{k} * {1 << (lags - 1 - k)}"
        " ELSE 0 END"
        for k in range(lags)
    )
    den = " + ".join(
        f"CASE WHEN l{k} IS NOT NULL THEN {1 << (lags - 1 - k)} ELSE 0 END"
        for k in range(lags)
    )
    return f"""
    WITH daily AS (
        SELECT event_type,
               CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               CAST(CAST(round(sum(CAST(value AS DECIMAL(27,10))), 4)
                         AS DECIMAL(18,4)) * 10000 AS BIGINT) AS m
        FROM events GROUP BY event_type, day
    ),
    lagged AS (
        SELECT event_type, day, m,
               {lag_cols}
        FROM daily
    ),
    nd AS (
        SELECT event_type, day, m, {num} AS num, {den} AS den FROM lagged
    )
    SELECT event_type, day,
           m / 10000.0 AS daily_total,
           CASE WHEN den > 0 THEN
               (CASE WHEN num >= 0 THEN (2*num + den) // (2*den)
                     ELSE -((2*(-num) + den) // (2*den)) END) / 10000.0
           END AS ewma
    FROM nd
    """


@register("ewma_daily_value", oracle=_ewma_oracle())
def q_ewma_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA (alpha = 1/2) of the per-type daily value total — the
    time-series smoothing pass, unrolled to pure integer arithmetic
    (power-of-two weights over the 12 most recent observed days,
    half-up integer division) so both engines agree bit-for-bit
    (operators/relational.py ewma_daily_value)."""
    return ewma_daily_value(_events(spark, sf_dir))


@register(
    "key_skew_profile",
    oracle="""
    WITH counts AS (
        SELECT user_id, count(*) AS cnt FROM events GROUP BY 1
    ),
    stats AS (
        SELECT count(*) AS n_keys, CAST(sum(cnt) AS BIGINT) AS total_rows,
               max(cnt) AS max_cnt
        FROM counts
    ),
    top AS (
        SELECT user_id, cnt,
               row_number() OVER (ORDER BY cnt DESC, user_id ASC) AS rank
        FROM counts ORDER BY cnt DESC, user_id ASC LIMIT 10
    )
    SELECT t.rank, t.user_id, t.cnt,
           (t.cnt * 1000000) // s.total_rows AS share_ppm,
           s.n_keys, s.total_rows,
           (s.max_cnt * 1000 * s.n_keys) // s.total_rows AS skew_x1000
    FROM top t, stats s
    """,
)
def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics on events.user_id: top-10 heavy keys
    with integer-exact ppm shares and the max/avg skew ratio x1000 —
    the pre-shuffle salting/AQE decision input, all BIGINT math
    (operators/relational.py key_skew_profile)."""
    return key_skew_profile(_events(spark, sf_dir))


@register(
    "cusum_changepoint",
    oracle="""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               CAST(CAST(round(sum(CAST(value AS DECIMAL(27,10))), 4)
                         AS DECIMAL(18,4)) * 10000 AS BIGINT) AS m
        FROM events WHERE value IS NOT NULL
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT event_type, day,
               CAST(sum(m) OVER (PARTITION BY event_type ORDER BY day)
                    AS BIGINT) AS prefix,
               CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
                    AS BIGINT) AS i,
               CAST(sum(m) OVER (PARTITION BY event_type) AS BIGINT) AS total,
               count(*) OVER (PARTITION BY event_type) AS n_days
        FROM daily
    ),
    c AS (
        SELECT *, n_days * prefix - i * total AS cusum_scaled
        FROM scored
    ),
    r AS (
        SELECT *, row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY abs(cusum_scaled) DESC, day ASC) AS rn
        FROM c
    )
    SELECT event_type, n_days, CAST(day AS TIMESTAMP) AS cp_day,
           abs(cusum_scaled) AS cusum_abs_scaled,
           CAST(prefix AS DOUBLE) / (10000.0 * i) AS mean_before,
           CASE WHEN n_days > i
                THEN CAST(total - prefix AS DOUBLE)
                     / (10000.0 * (n_days - i)) END AS mean_after
    FROM r WHERE rn = 1
    """,
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline CUSUM changepoint per event type: the day maximizing
    |cumulative deviation from the series mean|, computed entirely in
    scaled-integer arithmetic (n*S_i = n*prefix_i - i*total over the
    4dp-scaled daily BIGINTs) so the argmax and its earliest-day
    tie-break are bit-identical across engines
    (operators/relational.py cusum_changepoint)."""
    return cusum_changepoint(_events(spark, sf_dir))


@register(
    "converted_without_errors",
    oracle="""
    SELECT user_id FROM events WHERE event_type = 'purchase'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'signup'
    EXCEPT
    SELECT user_id FROM events WHERE event_type = 'error'
    """,
)
def q_converted_without_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: (purchasers INTERSECT signups) EXCEPT errorers,
    distinct-set semantics."""
    return converted_users_without_errors(_events(spark, sf_dir))


@register(
    "regional_supplier_volume",
    oracle="""
    SELECT n_name,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                 * (CAST(1 AS DECIMAL(18,4))
                    - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE)
               AS revenue,
           count(*) AS n_lineitems,
           count(DISTINCT o_orderkey) AS n_orders
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def q_regional_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-supplier-volume five-way star join (broadcast tiny dims,
    one co-partitioned big-big shuffle join, decimal-exact revenue)."""
    return regional_supplier_volume(
        load_table(spark, sf_dir, "region"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


@register(
    "returned_items_top_customers",
    oracle="""
    WITH per_cust AS (
        SELECT o_custkey,
               sum(CAST(l_extendedprice AS DECIMAL(18,4))
                   * (CAST(1 AS DECIMAL(18,4))
                      - CAST(l_discount AS DECIMAL(18,4)))) AS lost_dec,
               count(*) AS n_returned_items
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_returnflag = 'R'
        GROUP BY o_custkey
    )
    SELECT c_custkey, c_name, n_name,
           round(CAST(lost_dec AS DOUBLE), 2) AS lost_revenue,
           n_returned_items
    FROM per_cust
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    ORDER BY lost_dec DESC, c_custkey
    LIMIT 20
    """,
)
def q_returned_items_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item report: pushed-down return filter, per-customer
    aggregate BEFORE the deterministic top-20 (TakeOrderedAndProject,
    no global sort)."""
    return returned_items_top_customers(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


@register(
    "customer_value_deciles",
    oracle="""
    WITH spend AS (
        SELECT o_custkey,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS spend,
               count(*) AS n_orders
        FROM orders GROUP BY o_custkey
    ),
    j AS (
        SELECT s.*, c_acctbal
        FROM spend s JOIN customer ON o_custkey = c_custkey
    ),
    r AS (
        SELECT *,
               row_number() OVER (ORDER BY spend DESC, o_custkey) AS rank,
               count(*) OVER () AS n_total
        FROM j
    )
    SELECT CAST(floor((rank - 1) * 10.0 / n_total) AS BIGINT) + 1 AS decile,
           count(*) AS n_customers,
           CAST(round(sum(CAST(spend AS DECIMAL(18,2))), 2) AS DOUBLE)
               AS total_spend,
           round(min(spend), 2) AS min_spend,
           round(max(spend), 2) AS max_spend,
           round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
                 / count(*), 4) AS avg_acctbal,
           CAST(sum(n_orders) AS BIGINT) AS n_orders
    FROM r
    GROUP BY 1
    """,
)
def q_customer_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spend deciles via the distributed total order (range partitions +
    parallel in-partition rank + broadcast prefix offsets) — never a
    single-partition NTILE window."""
    return customer_value_deciles(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
    )


@register(
    "events_multigrain_rollup",
    oracle="""
    WITH e AS (
        SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS b5,
               event_type, CAST(value AS DECIMAL(18,6)) AS v
        FROM events
    ),
    all_grains AS (
        SELECT '5m' AS grain, b5 AS b, event_type,
               count(*) AS n, sum(v) AS sv
        FROM e GROUP BY b5, event_type
        UNION ALL
        SELECT '1h', CAST(floor(b5 / 3600) * 3600 AS BIGINT), event_type,
               count(*), sum(v)
        FROM e GROUP BY 2, event_type
        UNION ALL
        SELECT '1d', CAST(floor(b5 / 86400) * 86400 AS BIGINT), event_type,
               count(*), sum(v)
        FROM e GROUP BY 2, event_type
    )
    SELECT grain,
           TIMESTAMP '1970-01-01' + to_seconds(b) AS bucket_start,
           event_type,
           CAST(n AS BIGINT) AS n_events,
           CAST(round(sv, 4) AS DOUBLE) AS sum_value
    FROM all_grains
    """,
)
def q_events_multigrain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate rollup: 5m grain from the raw stream, 1h
    re-aggregated from 5m, 1d from 1h — one raw scan, coarser grains
    shuffle pre-aggregated rows only (decimal-exact value sums)."""
    return events_multigrain_rollup(_events(spark, sf_dir))


@register("skew_salted_enrichment", oracle=ORACLES["user_event_enrichment"])
def q_skew_salted_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """user_event_enrichment through the EXPLICIT skew-salting path
    (operators/util.py salted_join): the fact side gets a deterministic
    row-hash salt, the dimension is replicated x8, and the join runs on
    (key, salt) — the manual fallback when a hot key straggles a
    shuffled hash join and AQE's skew splitting can't help (e.g.
    broadcast is impossible and the hot key is known). Result is
    provably identical to the plain join, so it shares its oracle —
    which IS the check that salting never changes semantics."""
    from ..operators.relational import dec_sum
    from ..operators.util import salted_join
    from pyspark.sql import functions as F

    events = _events(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment", "c_nationkey"
    )
    return (
        salted_join(events, dim, "user_id", salt=8)
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            F.count_distinct("c_nationkey").alias("n_nations"),
            dec_sum().alias("sum_value"),
        )
    )


@register(
    "conversion_funnel",
    oracle="""
    WITH s AS (SELECT user_id, min(ts) AS t FROM events
               WHERE event_type = 'signup' GROUP BY user_id),
    v AS (SELECT e.user_id, min(e.ts) AS t
          FROM events e JOIN s ON e.user_id = s.user_id
          WHERE e.event_type = 'view' AND e.ts >= s.t
          GROUP BY e.user_id),
    p AS (SELECT e.user_id, min(e.ts) AS t
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'purchase' AND e.ts >= v.t
          GROUP BY e.user_id),
    c AS (SELECT (SELECT count(*) FROM s) AS n1,
                 (SELECT count(*) FROM v) AS n2,
                 (SELECT count(*) FROM p) AS n3)
    SELECT t.stage, t.n_users,
           CASE WHEN n1 > 0
                THEN round(t.n_users * 1.0 / n1, 4)
           END AS conversion_from_start
    FROM c, LATERAL (VALUES
        ('1_signup', n1),
        ('2_view_after_signup', n2),
        ('3_purchase_after_view', n3)) AS t(stage, n_users)
    """,
)
def q_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered signup→view→purchase funnel (sequential-pattern shape):
    chained conditional first-timestamps, per-user stage tables
    broadcast back — never a cross join."""
    return conversion_funnel(_events(spark, sf_dir))


@register(
    "weekly_cohort_retention",
    oracle="""
    WITH cohorts AS (
        SELECT user_id,
               CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('week', ts) AS TIMESTAMP) AS activity_week
        FROM events
    ),
    cell AS (
        SELECT cohort_week, activity_week,
               count(DISTINCT a.user_id) AS n_active
        FROM activity a JOIN cohorts USING (user_id)
        GROUP BY cohort_week, activity_week
    ),
    sizes AS (
        SELECT cohort_week, count(*) AS cohort_size FROM cohorts GROUP BY 1
    )
    SELECT cohort_week, activity_week, n_active, cohort_size,
           round(n_active * 1.0 / cohort_size, 4) AS retention
    FROM cell JOIN sizes USING (cohort_week)
    """,
)
def q_weekly_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: first-week cohorts x active weeks, all
    exchanges user-id-sized, cohort/size tables broadcast."""
    return weekly_cohort_retention(_events(spark, sf_dir))


@register(
    "event_transitions",
    oracle="""
    WITH pairs AS (
        SELECT lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS from_type,
               event_type AS to_type
        FROM events
    ),
    m AS (
        SELECT from_type, to_type, count(*) AS n_transitions
        FROM pairs WHERE from_type IS NOT NULL
        GROUP BY from_type, to_type
    )
    SELECT from_type, to_type, n_transitions,
           round(n_transitions * 1.0
                 / sum(n_transitions) OVER (PARTITION BY from_type), 4)
               AS share_from_source
    FROM m
    """,
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavior transition matrix: lag window on the event
    stream, share window over the |types|^2 aggregated matrix only."""
    return event_transitions(_events(spark, sf_dir))


@register(
    "shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                 * (CAST(1 AS DECIMAL(18,4))
                    - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE)
               AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate  > TIMESTAMP '1998-01-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY sum(CAST(l_extendedprice AS DECIMAL(18,4))
                 * (CAST(1 AS DECIMAL(18,4))
                    - CAST(l_discount AS DECIMAL(18,4)))) DESC, l_orderkey
    LIMIT 10
    """,
)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3-shape in-flight revenue top-10: pushed-down date/segment
    predicates, per-order aggregate before the deterministic top-k."""
    return shipping_priority(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


@register(
    "priority_orders_with_returns",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
    GROUP BY o_orderpriority
    """,
)
def q_priority_orders_with_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS/LEFT-SEMI shape: orders with >=1 returned lineitem,
    counted per priority class (key-only semi-join probe)."""
    return priority_orders_with_returns(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


@register(
    "promo_revenue_share",
    oracle="""
    SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS ship_month,
           round(100.0
                 * CAST(sum(CASE WHEN p_type = 'PROMO'
                       THEN CAST(l_extendedprice AS DECIMAL(18,4))
                            * (CAST(1 AS DECIMAL(18,4))
                               - CAST(l_discount AS DECIMAL(18,4)))
                       ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                 / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                            * (CAST(1 AS DECIMAL(18,4))
                               - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE),
                 4) AS promo_share_pct,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                          * (CAST(1 AS DECIMAL(18,4))
                             - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE)
               AS total_revenue,
           count(*) AS n_lineitems
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY 1
    """,
)
def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14-shape promotion effect: conditional + total DECIMAL revenue
    in one aggregation over a broadcast part join."""
    return promo_revenue_share(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
    )


@register(
    "nation_trade_volume",
    oracle="""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INTEGER) AS ship_year,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                 * (CAST(1 AS DECIMAL(18,4))
                    - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE)
               AS revenue,
           count(*) AS n_lineitems
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    WHERE sn.n_name <> cn.n_name
    GROUP BY sn.n_name, cn.n_name, year(l_shipdate)
    """,
)
def q_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7-shape cross-nation trade: broadcast nation-annotated dims,
    one big-big co-partitioned join, inequality as a post-join filter."""
    return nation_trade_volume(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


@register(
    "error_rate_windows",
    oracle="""
    WITH agg AS (
        SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS b,
               count(*) AS n_events,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_errors
        FROM events GROUP BY 1
    )
    SELECT TIMESTAMP '1970-01-01' + to_seconds(b) AS window_start,
           n_events, n_errors,
           round(n_errors * 1.0 / n_events, 4) AS error_share
    FROM agg
    WHERE n_errors * 1.0 / n_events > 0.3
    """,
)
def q_error_rate_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed error-rate alert (batch twin of a streaming monitor):
    epoch-aligned 5-minute buckets, HAVING-filter on aggregated rows."""
    return error_rate_windows(_events(spark, sf_dir))


def _pagerank_oracle(damping: str = "0.85", iterations: int = 3) -> str:
    """Twin of operators/relational.event_pagerank: probabilities are
    quantized once to DECIMAL(9,8); every iteration is exact decimal
    arithmetic re-quantized to 10dp — bit-identical on both engines
    (no double until the final edge cast). The node count — hence the
    1/N base rank — is DERIVED from the data, exactly like the Spark
    side (round-5: the old hardcoded n_nodes=5 broke on any corpus
    whose event-type count differs from the benign fixture's):
    base = (10^10 // N) * 10^-10, the same round-down quantization as
    Decimal(1).scaleb(-10) * (10**10 // n)."""
    from decimal import Decimal

    one_minus_d = str(1 - Decimal(damping))
    ctes = [
        """lagged AS (
        SELECT lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS src,
               event_type AS dst
        FROM events)""",
        """edges AS (SELECT src, dst, count(*) AS c FROM lagged
                     WHERE src IS NOT NULL GROUP BY src, dst)""",
        """outdeg AS (SELECT src, CAST(sum(c) AS BIGINT) AS tot
                      FROM edges GROUP BY src)""",
        """p AS (SELECT e.src, e.dst,
                        CAST(round(CAST(e.c AS DECIMAL(19,9)) / o.tot, 8)
                             AS DECIMAL(9,8)) AS p
                 FROM edges e JOIN outdeg o ON e.src = o.src)""",
        """nodes AS (SELECT DISTINCT event_type AS node FROM events)""",
        """quant AS (SELECT CAST(CAST(10000000000 // count(*) AS DECIMAL(12,0))
                          * CAST('0.0000000001' AS DECIMAL(12,10))
                          AS DECIMAL(12,10)) AS base
                     FROM nodes)""",
        f"""r0 AS (SELECT node, (SELECT base FROM quant) AS r
                   FROM nodes)""",
    ]
    for i in range(1, iterations + 1):
        ctes.append(f"""c{i} AS (
            SELECT p.dst AS node, r.r * p.p AS x
            FROM p JOIN r{i - 1} r ON p.src = r.node)""")
        ctes.append(f"""s{i} AS (
            SELECT node, sum(x) AS s FROM c{i} GROUP BY node)""")
        ctes.append(f"""r{i} AS (
            SELECT n.node,
                   CAST(round(CAST(CAST('{one_minus_d}' AS DECIMAL(3,2))
                                   * (SELECT base FROM quant)
                                   AS DECIMAL(14,12))
                              + CAST('{damping}' AS DECIMAL(3,2))
                              * COALESCE(s.s, CAST(0 AS DECIMAL(30,18))),
                              10) AS DECIMAL(12,10)) AS r
            FROM nodes n LEFT JOIN s{i} s ON n.node = s.node)""")
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT node, CAST(round(r, 6) AS DOUBLE) AS pagerank
    FROM r{iterations}
    """


@register("event_pagerank", oracle=_pagerank_oracle())
def q_event_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-3-iteration PageRank power iteration over the event-type
    transition graph — exact decimal arithmetic end-to-end, replayed
    iteration-for-iteration by the oracle's generated CTE chain."""
    from ..operators.relational import event_pagerank

    return event_pagerank(_events(spark, sf_dir))


@register(
    "customer_order_distribution",
    oracle="""
    WITH oc AS (SELECT o_custkey, count(*) AS cnt FROM orders
                GROUP BY o_custkey)
    SELECT COALESCE(cnt, 0) AS c_count, count(*) AS n_customers
    FROM customer LEFT JOIN oc ON c_custkey = o_custkey
    GROUP BY 1
    """,
)
def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 shape: orders-per-customer histogram incl. zero-order
    customers — aggregate-before-join, then a tiny second aggregate."""
    from ..operators.relational import customer_order_distribution

    return customer_order_distribution(
        load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "orders")
    )


@register(
    "top_supplier_revenue",
    oracle="""
    WITH ps AS (
        SELECT l_suppkey,
               sum(CAST(l_extendedprice AS DECIMAL(18,4))
                   * (CAST(1 AS DECIMAL(18,4))
                      - CAST(l_discount AS DECIMAL(18,4)))) AS total_rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    ),
    m AS (SELECT max(total_rev) AS max_rev FROM ps)
    SELECT s_suppkey, s_name,
           CAST(round(total_rev, 2) AS DOUBLE) AS total_revenue
    FROM ps CROSS JOIN m
    JOIN supplier ON ps.l_suppkey = supplier.s_suppkey
    WHERE total_rev = max_rev
    """,
)
def q_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape: max-revenue supplier(s) for 1996Q1 — 1-row max
    broadcast, exact DECIMAL tie semantics, broadcast supplier dim."""
    from ..operators.relational import top_supplier_revenue

    return top_supplier_revenue(
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "lineitem"),
    )


@register(
    "small_qty_order_revenue",
    oracle="""
    WITH li AS (
        SELECT l_partkey, l_quantity, l_extendedprice
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand = 'Brand#23'
    ),
    t AS (SELECT l_partkey AS t_partkey, 0.2 * avg(l_quantity) AS limit_qty
          FROM li GROUP BY l_partkey)
    SELECT count(*) AS n_small_lineitems,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2)
                AS DOUBLE) AS small_qty_revenue
    FROM li JOIN t ON l_partkey = t_partkey
    WHERE l_quantity < limit_qty
    """,
)
def q_small_qty_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape: small-quantity-lineitem revenue for one brand —
    broadcast part list + broadcast per-part thresholds; the fact
    table never shuffles (avg of integral doubles is exact)."""
    from ..operators.relational import small_qty_order_revenue

    return small_qty_order_revenue(
        load_table(spark, sf_dir, "part"), load_table(spark, sf_dir, "lineitem")
    )


@register(
    "large_order_customers",
    oracle="""
    WITH big AS (
        SELECT l_orderkey, sum(l_quantity) AS total_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING sum(l_quantity) > 300.0
    )
    SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
           total_qty
    FROM big JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
    """,
)
def q_large_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 shape: orders over 300 total units with their customers —
    HAVING on the lineitem aggregate first, broadcast customer dim,
    global top-k via TakeOrderedAndProject."""
    from ..operators.relational import large_order_customers

    return large_order_customers(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


@register(
    "idle_rich_customers",
    oracle="""
    WITH stats AS (
        SELECT count(*) AS n_pos,
               sum(CAST(c_acctbal AS DECIMAL(18,2))) AS sum_pos
        FROM customer WHERE c_acctbal > 0.0
    ),
    rich AS (
        SELECT c.* FROM customer c CROSS JOIN stats
        WHERE c_acctbal * n_pos > CAST(sum_pos AS DOUBLE)
    ),
    idle AS (
        SELECT * FROM rich
        WHERE c_custkey NOT IN (
            SELECT o_custkey FROM orders
            WHERE o_orderdate >= TIMESTAMP '2000-01-01')
    )
    SELECT n_name, count(*) AS n_customers,
           CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
               AS total_acctbal
    FROM idle JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def q_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape: above-average-balance customers with no orders since
    2000, by nation — cross-multiplied average cut (no double
    division), LEFT ANTI recent-order probe, broadcast nation."""
    from ..operators.relational import idle_rich_customers

    return idle_rich_customers(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "nation"),
    )


@register(
    "forecast_revenue_change",
    oracle="""
    SELECT count(*) AS n_lineitems,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                          * CAST(l_discount AS DECIMAL(18,4))), 2)
                AS DOUBLE) AS revenue_increase
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24.0
    """,
)
def q_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 shape: pure scan-filter-aggregate with every predicate pushed
    to the parquet scan; exact DECIMAL revenue."""
    from ..operators.relational import forecast_revenue_change

    return forecast_revenue_change(load_table(spark, sf_dir, "lineitem"))


@register(
    "events_gapfill_locf",
    oracle="""
    WITH b AS (
        SELECT event_type,
               CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS b,
               count(*) AS n,
               round(sum(CAST(value AS DECIMAL(27,10))), 4) AS s
        FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT min(b) AS lo, max(b) AS hi FROM b),
    types AS (SELECT DISTINCT event_type FROM events),
    grid AS (
        SELECT t.event_type, unnest(generate_series(lo, hi, 300)) AS b
        FROM types t CROSS JOIN bounds
    ),
    j AS (
        SELECT g.event_type, g.b, b.n, b.s
        FROM grid g LEFT JOIN b ON g.event_type = b.event_type
                                AND g.b = b.b
    )
    SELECT TIMESTAMP '1970-01-01' + to_seconds(b) AS window_start,
           event_type,
           COALESCE(n, 0) AS n_events,
           CAST(s AS DOUBLE) AS sum_value,
           CAST(last_value(s IGNORE NULLS) OVER (
                    PARTITION BY event_type ORDER BY b
                    ROWS UNBOUNDED PRECEDING) AS DOUBLE)
               AS locf_sum_value,
           n IS NULL AS is_gap
    FROM j
    """,
)
def q_events_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable gapfill + LOCF: dense 5-minute per-type series with
    zero-count gap rows and last-observation-carried-forward sums
    (explode(sequence) grid from a 1-row bounds broadcast + ignorenulls
    window)."""
    from ..operators.relational import events_gapfill_locf

    return events_gapfill_locf(_events(spark, sf_dir))


@register(
    "merge_upsert",
    oracle="""
    WITH src AS (
        SELECT o_custkey,
               count(*) AS n_recent_orders,
               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '2000-01-01'
        GROUP BY o_custkey
    ),
    tgt AS (
        SELECT c_custkey, c_mktsegment,
               CAST(c_acctbal AS DECIMAL(18,2)) AS bal
        FROM customer WHERE c_acctbal > 0
    ),
    merged AS (
        SELECT coalesce(t.c_custkey, s.o_custkey) AS c_custkey,
               CASE
                   WHEN t.c_custkey IS NOT NULL AND s.o_custkey IS NOT NULL
                        AND t.c_mktsegment = 'MACHINERY' THEN 'delete'
                   WHEN t.c_custkey IS NOT NULL AND s.o_custkey IS NOT NULL
                        THEN 'update'
                   WHEN t.c_custkey IS NULL THEN 'insert'
                   ELSE 'keep'
               END AS action,
               CAST(coalesce(s.n_recent_orders, 0) AS BIGINT)
                   AS n_recent_orders,
               coalesce(t.bal, CAST(0 AS DECIMAL(18,2)))
                   + coalesce(s.spend, CAST(0 AS DECIMAL(18,2))) AS balance_dec
        FROM tgt t FULL OUTER JOIN src s ON t.c_custkey = s.o_custkey
    )
    SELECT c_custkey,
           CAST(round(balance_dec, 2) AS DOUBLE) AS balance,
           n_recent_orders, action
    FROM merged WHERE action <> 'delete'
    """,
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (lakehouse upsert) compiled to a co-partitioned
    full-outer join with all four row fates (update / insert / keep /
    delete-filter) — operators/merge.py."""
    from ..operators.merge import merge_customer_snapshot

    return merge_customer_snapshot(
        load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "orders")
    )


@register(
    "pattern_match_funnel",
    oracle="""
    WITH first_signup AS (
        SELECT user_id, ts AS s_ts, event_id AS s_id FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY ts, event_id) AS rn
            FROM events WHERE event_type = 'signup') WHERE rn = 1
    ),
    first_purchase AS (
        SELECT user_id, s_ts, s_id, p_ts, p_id FROM (
            SELECT s.user_id, s.s_ts, s.s_id,
                   p.ts AS p_ts, p.event_id AS p_id,
                   row_number() OVER (
                       PARTITION BY s.user_id
                       ORDER BY p.ts, p.event_id) AS rn
            FROM first_signup s JOIN events p
              ON p.user_id = s.user_id AND p.event_type = 'purchase'
             AND p.ts >= s.s_ts AND p.ts <= s.s_ts + INTERVAL 6 HOUR
        ) WHERE rn = 1
    )
    SELECT f.user_id,
           f.s_id AS signup_event,
           f.p_id AS purchase_event,
           CAST(epoch_us(f.p_ts) - epoch_us(f.s_ts) AS DOUBLE) / 1000000.0
               AS gap_seconds
    FROM first_purchase f
    WHERE NOT EXISTS (
        SELECT 1 FROM events e
        WHERE e.user_id = f.user_id AND e.event_type = 'error'
          AND e.ts > f.s_ts AND e.ts < f.p_ts
    )
    """,
)
def q_pattern_match_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP / MATCH_RECOGNIZE shape with negation: first signup ->
    first purchase within 6h, NO error strictly between
    (operators/relational.pattern_match_funnel)."""
    from ..operators.relational import pattern_match_funnel

    return pattern_match_funnel(_events(spark, sf_dir))


@register("segment_revenue_bucketed", oracle=ORACLES["segment_revenue"])
def q_segment_revenue_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 through BUCKETED storage: lineitem and orders are written as
    bucketed tables on the order key (the shuffle paid ONCE at write
    time), then the same segment_revenue aggregate runs THROUGH the
    bucketed tables and must hash-equal the plain oracle — the
    co-located-join serving layout's value-correctness round trip
    (tests/test_streaming.py asserts the exchange-free plan shape under
    a forced big-big join; here fixture-size dims may still broadcast,
    which is equally correct)."""
    import tempfile
    import uuid

    from ..operators.relational import segment_revenue
    from ..streaming.sinks import write_bucketed_table

    base = tempfile.mkdtemp(prefix="bucketed_join_")
    tag = uuid.uuid4().hex[:8]
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    bl, bo = f"bj_lineitem_{tag}", f"bj_orders_{tag}"
    write_bucketed_table(lineitem, bl, f"{base}/lineitem", ["l_orderkey"])
    write_bucketed_table(orders, bo, f"{base}/orders", ["o_orderkey"])
    return segment_revenue(
        load_table(spark, sf_dir, "customer"),
        spark.table(bo),
        spark.table(bl),
    )


@register(
    "sketch_distinct_rollup",
    oracle="""
    SELECT 'event_type' AS grain, event_type,
           count(DISTINCT user_id) AS n_exact,
           TRUE AS within_bound
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 'all', '(all)', count(DISTINCT user_id), TRUE FROM events
    """,
)
def q_sketch_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apache DataSketches HLL two-grain rollup: per-type sketches
    UNION to the global grain (register-max merge); oracle asserts the
    exact counts and both grains' bound verdicts
    (operators/relational.sketch_distinct_rollup)."""
    from ..operators.relational import sketch_distinct_rollup

    return sketch_distinct_rollup(_events(spark, sf_dir))


@register(
    "events_grouping_sets",
    oracle="""
    SELECT coalesce(event_type, '(all)') AS event_type,
           coalesce(hour_of_day, -1) AS hour_of_day,
           coalesce(dow, -1) AS dow,
           CAST(grouping(event_type) * 4 + grouping(hour_of_day) * 2
                + grouping(dow) AS BIGINT) AS level,
           count(*) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(27,10))), 4) AS DOUBLE)
               AS sum_value
    FROM (SELECT event_type, CAST(hour(ts) AS INT) AS hour_of_day,
                 CAST(dayofweek(ts) + 1 AS INT) AS dow, value
          FROM events)
    GROUP BY GROUPING SETS ((event_type), (hour_of_day), (event_type, dow))
    """,
)
def q_events_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit non-hierarchical GROUPING SETS (three unrelated grains,
    one pass) — completes the grouping trio with events_rollup and
    corpus_stats_cube (operators/relational.events_grouping_sets)."""
    from ..operators.relational import events_grouping_sets

    return events_grouping_sets(_events(spark, sf_dir))


@register(
    "value_histogram",
    oracle="""
    WITH binned AS (
        SELECT event_type,
               CASE WHEN value IS NULL THEN CAST(-2 AS BIGINT)
                    WHEN value < CAST(0.0 AS DOUBLE)
                         OR value >= CAST(500.0 AS DOUBLE)
                         THEN CAST(-1 AS BIGINT)
                    ELSE CAST(floor(value / CAST(25.0 AS DOUBLE)) AS BIGINT)
               END AS bin
        FROM events
    )
    SELECT event_type, bin,
           CASE WHEN bin >= 0
                THEN CAST(bin AS DOUBLE) * CAST(25.0 AS DOUBLE) END AS bin_lo,
           CASE WHEN bin >= 0
                THEN CAST(bin + 1 AS DOUBLE) * CAST(25.0 AS DOUBLE)
           END AS bin_hi,
           count(*) AS n_events
    FROM binned GROUP BY event_type, bin
    """,
)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width value histogram per event type (20 x 25.0 bins over
    [0, 500), explicit out-of-range and NULL bins so totals reconcile
    to count(*)) — one partial-aggregated exchange of at most
    |types| * 22 keys (operators/relational.py value_histogram)."""
    from ..operators.relational import value_histogram

    return value_histogram(_events(spark, sf_dir))


@register(
    "last_touch_attribution",
    oracle="""
    WITH p AS (
        SELECT user_id, event_id AS p_id, ts AS p_ts, value
        FROM events WHERE event_type = 'purchase'
    ),
    t AS (
        SELECT user_id, event_type AS touch_type, ts AS t_ts,
               event_id AS t_id
        FROM events WHERE event_type <> 'purchase' AND ts IS NOT NULL
    ),
    ranked AS (
        SELECT p.p_id, p.value, t.touch_type,
               row_number() OVER (
                   PARTITION BY p.p_id
                   ORDER BY t.t_ts DESC NULLS LAST, t.t_id DESC NULLS LAST
               ) AS rn
        FROM p LEFT JOIN t
          ON t.user_id = p.user_id
         AND t.t_ts < p.p_ts
         AND t.t_ts >= p.p_ts - INTERVAL 7 DAYS
    ),
    j AS (
        SELECT p_id, value, touch_type AS channel FROM ranked WHERE rn = 1
    )
    SELECT COALESCE(channel, 'none') AS channel,
           count(*) AS n_purchases,
           CAST(round(sum(CAST(value AS DECIMAL(27,10))), 4) AS DOUBLE)
               AS attributed_value
    FROM j GROUP BY 1
    """,
)
def q_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credited to the user's
    most recent non-purchase event in the trailing 7 days, winner
    chosen by the total order (ts, event_id) — max_by/arg_max on both
    engines, never a layout-dependent frame position
    (operators/relational.py last_touch_attribution)."""
    from ..operators.relational import last_touch_attribution

    return last_touch_attribution(_events(spark, sf_dir))


@register(
    "events_debounced",
    oracle="""
    WITH marked AS (
        SELECT user_id, event_type,
               CASE WHEN ts IS NOT NULL AND (
                        lag(ts) OVER w IS NULL
                        OR ts > lag(ts) OVER w + INTERVAL 60 SECOND)
                    THEN 1 ELSE 0 END AS kept
        FROM events
        WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts)
    )
    SELECT user_id, event_type,
           count(*) AS n_raw,
           CAST(sum(kept) AS BIGINT) AS n_kept
    FROM marked GROUP BY user_id, event_type
    """,
)
def q_events_debounced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Telemetry debounce: same-key events within a strict 60 s of the
    PREVIOUS RAW event collapse into one burst (gaps-and-islands, kept
    = burst head); counts per (user, type) reconcile raw vs kept
    (operators/relational.py events_debounced)."""
    from ..operators.relational import events_debounced

    return events_debounced(_events(spark, sf_dir))


@register(
    "user_triangles",
    oracle="""
    WITH act AS (
        SELECT user_id, event_type,
               CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               count(*) AS n_ev
        FROM events WHERE ts IS NOT NULL
        GROUP BY 1, 2, 3
    ),
    pts AS (
        SELECT user_id, event_type, day FROM act
        QUALIFY row_number() OVER (
            PARTITION BY event_type, day
            ORDER BY n_ev DESC, user_id) <= 256
    ),
    co AS (
        SELECT x.user_id AS ua, y.user_id AS ub, count(*) AS w
        FROM pts x JOIN pts y
          ON x.event_type = y.event_type AND x.day = y.day
         AND x.user_id < y.user_id
        GROUP BY 1, 2
    ),
    edges AS (
        SELECT ua, ub FROM co ORDER BY w DESC, ua, ub LIMIT 2000
    ),
    tri AS (
        SELECT e1.ua AS a, e1.ub AS b, e2.ub AS c
        FROM edges e1
        JOIN edges e2 ON e2.ua = e1.ua AND e1.ub < e2.ub
        JOIN edges e3 ON e3.ua = e1.ub AND e3.ub = e2.ub
    ),
    corners AS (
        SELECT a AS user_id FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    )
    SELECT user_id, count(*) AS n_triangles FROM corners GROUP BY user_id
    """,
)
def q_user_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle participation over the top-2000-strongest user
    co-occurrence edges (oriented wedge join + closing probe; the
    top-k gate makes the triangle joins fixed-size at any corpus
    scale, and the 256-user bucket-occupancy cap keeps the pair
    expansion flat in corpus rows — both replayed in the oracle)
    (operators/relational.py user_triangles)."""
    from ..operators.relational import user_triangles

    return user_triangles(_events(spark, sf_dir))


@register(
    "user_triangles_exact",
    oracle="""
    WITH pts AS (
        SELECT DISTINCT user_id, event_type,
               CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
        FROM events WHERE ts IS NOT NULL
    ),
    co AS (
        SELECT x.user_id AS ua, y.user_id AS ub, count(*) AS w
        FROM pts x JOIN pts y
          ON x.event_type = y.event_type AND x.day = y.day
         AND x.user_id < y.user_id
        GROUP BY 1, 2
    ),
    edges AS (
        SELECT ua, ub FROM co ORDER BY w DESC, ua, ub LIMIT 2000
    ),
    tri AS (
        SELECT e1.ua AS a, e1.ub AS b, e2.ub AS c
        FROM edges e1
        JOIN edges e2 ON e2.ua = e1.ua AND e1.ub < e2.ub
        JOIN edges e3 ON e3.ua = e1.ub AND e3.ub = e2.ub
    ),
    corners AS (
        SELECT a AS user_id FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    )
    SELECT user_id, count(*) AS n_triangles FROM corners GROUP BY user_id
    """,
)
def q_user_triangles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNCAPPED triangle participation (bucket_cap=None): true
    per-bucket pair fan-out with no occupancy gate — the audit
    semantics the capped production tier is checked against (round-6
    ADVICE item 4; same escape-hatch pattern as the dedup tier's
    candidates='exact'). Run on samples at scale — per-bucket pair
    expansion is O(occupancy^2) by construction
    (operators/relational.py user_triangles)."""
    from ..operators.relational import user_triangles

    return user_triangles(_events(spark, sf_dir), bucket_cap=None)
