"""Time-series analytics: seasonal decomposition, exponential
smoothing, CUSUM change detection (SURVEY.md §2.12 [EXT] —
warehouse-roadmap analytics; the reference stores monthly crime
series and its readme declares trend dashboards as the end goal).

Determinism rule for the fold queries (EWMA, CUSUM): a left fold over
a day-ordered series is replayed bit-for-bit by a DuckDB RECURSIVE
CTE — both engines execute the SAME IEEE-754 ops in the SAME order
(precedent: the power-iteration and PQ left-fold oracles). Constants
are double literals; inputs are integer counts (exact in double), so
every intermediate is reproducible, and outputs round to 6dp only as
presentation.

Scale notes: each series here is bounded (5 priorities × ~200 days,
5 event types × 30 days) and the fold runs per-series inside one
task after a single groupBy — parallel ACROSS series, sequential
within one, which is the honest shape for stateful recurrences.
EWMA specifically is a linear recurrence and therefore also admits a
Blelloch parallel prefix over affine-map composition — IMPLEMENTED as
``operators/scan.py::ewma_affine_scan`` and registered here as
``ewma_affine_scan`` (chunks a series across tasks; the shape that
survives a single series longer than one task's array budget).
CUSUM's max(0,·) clamp does not compose associatively, so per-series
sequential is the true lower bound there — shard by series key,
never by time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .core import _t, dec2
from .registry import register


@register(
    "seasonal_index_decomposition",
    oracle="""
        WITH monthly AS (
            SELECT strftime(o_orderdate, '%Y-%m') AS month,
                   CAST(month(o_orderdate) AS BIGINT) AS month_of_year,
                   SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
            FROM orders GROUP BY 1, 2
        ), moy AS (
            SELECT month_of_year, CAST(SUM(rev) AS DOUBLE) / count(*) AS moy_mean
            FROM monthly GROUP BY 1
        ), tot AS (
            SELECT CAST(SUM(rev) AS DOUBLE) / count(*) AS g_mean FROM monthly
        )
        SELECT m.month, m.month_of_year,
               round(CAST(m.rev AS DOUBLE), 2) AS revenue,
               round(a.moy_mean / t.g_mean, 6) AS seasonal_index,
               round(CAST(m.rev AS DOUBLE) / (a.moy_mean / t.g_mean), 6) AS deseasonalized
        FROM monthly m JOIN moy a USING (month_of_year) CROSS JOIN tot t
    """,
    doc="Multiplicative seasonal indices (month-of-year mean / grand mean) "
    "and the deseasonalized monthly revenue series.",
    tags=("timeseries", "agg"),
)
def seasonal_index_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic ratio-to-moving-average-style decomposition, simplified to
    ratio-to-grand-mean: index(moy) = mean(rev | month_of_year==moy) /
    mean(rev), deseasonalized = rev / index.

    Scale shape: orders collapses to one row per calendar month in a
    single partial-agg groupBy (exact DECIMAL sums); everything after
    operates on the O(#months) frame, with the 12-row index table and
    the 1-row grand mean broadcast back — no second scan, no shuffle
    bigger than #months rows. All means divide ONE exact decimal sum
    by ONE count, so both engines see identical doubles.
    """
    orders = _t(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        F.month("o_orderdate").cast("bigint").alias("month_of_year"),
    ).agg(F.sum(dec2("o_totalprice")).alias("rev"))
    moy = monthly.groupBy("month_of_year").agg(
        (F.sum("rev").cast("double") / F.count(F.lit(1))).alias("moy_mean")
    )
    tot = monthly.agg((F.sum("rev").cast("double") / F.count(F.lit(1))).alias("g_mean"))
    idx = F.col("moy_mean") / F.col("g_mean")
    return (
        monthly.join(F.broadcast(moy), "month_of_year")
        .crossJoin(F.broadcast(tot))
        .select(
            "month",
            "month_of_year",
            F.round(F.col("rev").cast("double"), 2).alias("revenue"),
            F.round(idx, 6).alias("seasonal_index"),
            F.round(F.col("rev").cast("double") / idx, 6).alias("deseasonalized"),
        )
    )


@register(
    "ewma_smoothing_per_series",
    oracle="""
        WITH RECURSIVE daily AS (
            SELECT o_orderpriority AS priority,
                   strftime(o_orderdate, '%Y-%m-%d') AS day,
                   CAST(count(*) AS DOUBLE) AS x,
                   row_number() OVER (
                       PARTITION BY o_orderpriority
                       ORDER BY strftime(o_orderdate, '%Y-%m-%d')) AS rn
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
            GROUP BY 1, 2
        ), rec AS (
            SELECT priority, day, rn, x, x AS e FROM daily WHERE rn = 1
            UNION ALL
            SELECT d.priority, d.day, d.rn, d.x, 0.2 * d.x + 0.8 * r.e
            FROM daily d JOIN rec r ON d.priority = r.priority AND d.rn = r.rn + 1
        )
        SELECT priority, day, CAST(x AS BIGINT) AS n_orders, round(e, 6) AS ewma
        FROM rec
    """,
    doc="EWMA (alpha=0.2, seeded at the first observation) over daily "
    "order counts per priority; left-fold replayed by a recursive CTE.",
    tags=("timeseries", "fold"),
)
def ewma_smoothing_per_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average per series: s_1 = x_1,
    s_t = 0.2*x_t + 0.8*s_{t-1}, emitted for every day.

    One groupBy(priority, day) count (partial-agg, map-side heavy),
    one groupBy(priority) collecting the bounded day series, then a
    single Catalyst `aggregate` HOF runs the fold JVM-side and
    posexplodes the smoothed path — no Python, no window over an
    unpartitioned ordering. The recurrence is linear, so when one
    series outgrows a task it re-expresses as a parallel prefix of
    affine maps — that variant is implemented and registered as
    ``ewma_affine_scan``; at bounded cardinality this per-series fold
    inside a task is faster (and bit-exact vs the oracle).
    """
    orders = _t(spark, sf_dir, "orders")
    daily = (
        orders.filter(F.col("o_orderdate") >= F.lit("2001-01-01 00:00:00").cast("timestamp"))
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("x"))
    )
    series = daily.groupBy("priority").agg(
        F.sort_array(F.collect_list(F.struct("day", "x"))).alias("xs")
    )
    path = series.select(
        "priority",
        F.expr(
            """
            aggregate(
                xs,
                named_struct(
                    's', CAST(NULL AS DOUBLE),
                    'out', CAST(array() AS ARRAY<STRUCT<day: STRING, x: DOUBLE, e: DOUBLE>>)),
                (acc, p) -> named_struct(
                    's', CASE WHEN acc.s IS NULL THEN p.x
                              ELSE 0.2D * p.x + 0.8D * acc.s END,
                    'out', array_append(acc.out, named_struct(
                        'day', p.day, 'x', p.x,
                        'e', CASE WHEN acc.s IS NULL THEN p.x
                                  ELSE 0.2D * p.x + 0.8D * acc.s END))),
                acc -> acc.out
            )
            """
        ).alias("path"),
    )
    p = F.explode("path").alias("p")
    return path.select("priority", p).select(
        "priority",
        F.col("p.day").alias("day"),
        F.col("p.x").cast("bigint").alias("n_orders"),
        F.round(F.col("p.e"), 6).alias("ewma"),
    )


@register(
    "ewma_affine_scan",
    oracle="""
        WITH RECURSIVE daily AS (
            SELECT o_orderpriority AS priority,
                   strftime(o_orderdate, '%Y-%m-%d') AS day,
                   CAST(count(*) AS DOUBLE) AS x,
                   row_number() OVER (
                       PARTITION BY o_orderpriority
                       ORDER BY strftime(o_orderdate, '%Y-%m-%d')) AS rn
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
            GROUP BY 1, 2
        ), rec AS (
            SELECT priority, day, rn, x, x AS e FROM daily WHERE rn = 1
            UNION ALL
            SELECT d.priority, d.day, d.rn, d.x, 0.2 * d.x + 0.8 * r.e
            FROM daily d JOIN rec r ON d.priority = r.priority AND d.rn = r.rn + 1
        )
        SELECT priority, day, CAST(x AS BIGINT) AS n_orders, round(e, 6) AS ewma
        FROM rec
    """,
    doc="The SAME EWMA as ewma_smoothing_per_series, computed by the "
    "Blelloch segmented prefix scan over affine-map composition "
    "((a,b)∘(c,d) = (ac, cb+d)) instead of a bounded per-series fold "
    "— the 100-TB shape for a single series too long for one task's "
    "array budget: chunk-local prefixes (arrays bounded by CHUNK "
    "size), a per-series scalar carry fold over the tiny chunk "
    "summaries, and a broadcast join applying the entering state "
    "element-wise (operators/scan.py). Chunks here are calendar "
    "months over day keys. The scan reassociates the fold's FP ops, "
    "so it matches the sequential recursive-CTE oracle to ~n·eps "
    "(~1e-12) rather than bit-for-bit; outputs round at 6dp with six "
    "orders of magnitude of margin, making the differential a proof "
    "that chunking the recurrence across tasks preserves its values "
    "(git show a3c7b0a:tools/scale_check_r6.py times the slow fold).",
    tags=("timeseries", "scan"),
)
def ewma_affine_scan_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scan import ewma_affine_scan

    orders = _t(spark, sf_dir, "orders")
    daily = (
        orders.filter(
            F.col("o_orderdate") >= F.lit("2001-01-01 00:00:00").cast("timestamp")
        )
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("x"))
    )
    out = ewma_affine_scan(
        daily, "priority", "day", "x", F.substring("day", 1, 7), alpha=0.2
    )
    return out.select(
        "priority",
        "day",
        F.col("x").cast("bigint").alias("n_orders"),
        F.round("ewma", 6).alias("ewma"),
    )


@register(
    "cusum_change_detection",
    oracle="""
        WITH RECURSIVE daily AS (
            SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
                   CAST(count(*) AS DOUBLE) AS x,
                   row_number() OVER (
                       PARTITION BY event_type
                       ORDER BY strftime(ts, '%Y-%m-%d')) AS rn
            FROM events GROUP BY 1, 2
        ), mu AS (
            SELECT event_type, CAST(sum(x) AS DOUBLE) / count(*) AS mean_x
            FROM daily GROUP BY 1
        ), rec AS (
            SELECT d.event_type, d.day, d.rn, d.x,
                   greatest(0.0, d.x - m.mean_x - 0.5) AS s
            FROM daily d JOIN mu m USING (event_type) WHERE d.rn = 1
            UNION ALL
            SELECT d.event_type, d.day, d.rn, d.x,
                   greatest(0.0, r.s + (d.x - m.mean_x - 0.5))
            FROM daily d
            JOIN rec r ON d.event_type = r.event_type AND d.rn = r.rn + 1
            JOIN mu m ON m.event_type = d.event_type
        )
        SELECT event_type, day, CAST(x AS BIGINT) AS n_events,
               round(s, 6) AS cusum, s > 25.0 AS alarm
        FROM rec
    """,
    doc="One-sided CUSUM (slack 0.5, alarm threshold 25) over daily event "
    "counts per type; max(0,·) fold replayed by a recursive CTE.",
    tags=("timeseries", "fold"),
)
def cusum_change_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's one-sided CUSUM: S_0 = 0, S_t = max(0, S_{t-1} + (x_t -
    mean - slack)); a sustained upward shift in daily volume drives S
    past the alarm threshold while noise resets to 0.

    Same fold machinery as EWMA (bounded per-series array, Catalyst
    `aggregate` HOF) but the clamp makes the recurrence non-linear —
    no associative-scan rewrite exists, so per-series-sequential /
    cross-series-parallel IS the scale shape. The per-series mean
    divides an exact integer sum by the day count inside the same
    collected row (integer-valued doubles sum exactly in any order),
    so both engines fold identical inputs.
    """
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("x"))
    series = daily.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("day", "x"))).alias("xs")
    )
    path = series.select(
        "event_type",
        F.expr(
            """
            aggregate(
                xs,
                named_struct(
                    's', 0.0D,
                    'mu', aggregate(xs, 0.0D, (a, p) -> a + p.x) / CAST(size(xs) AS DOUBLE),
                    'out', CAST(array() AS ARRAY<STRUCT<day: STRING, x: DOUBLE, s: DOUBLE>>)),
                (acc, p) -> named_struct(
                    's', greatest(0.0D, acc.s + (p.x - acc.mu - 0.5D)),
                    'mu', acc.mu,
                    'out', array_append(acc.out, named_struct(
                        'day', p.day, 'x', p.x,
                        's', greatest(0.0D, acc.s + (p.x - acc.mu - 0.5D))))),
                acc -> acc.out
            )
            """
        ).alias("path"),
    )
    p = F.explode("path").alias("p")
    return path.select("event_type", p).select(
        "event_type",
        F.col("p.day").alias("day"),
        F.col("p.x").cast("bigint").alias("n_events"),
        F.round(F.col("p.s"), 6).alias("cusum"),
        (F.col("p.s") > F.lit(25.0)).alias("alarm"),
    )


@register(
    "ewma_time_decay_irregular",
    oracle="""
        WITH RECURSIVE ev AS (
            SELECT user_id, epoch_us(ts) AS tu, event_id, value AS x,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY epoch_us(ts), event_id) AS rn
            FROM events WHERE user_id < 40
        ), rec AS (
            SELECT user_id, event_id, tu, x, rn, x AS s
            FROM ev WHERE rn = 1
            UNION ALL
            SELECT e.user_id, e.event_id, e.tu, e.x, e.rn,
                   exp(-((e.tu - r.tu) / 1000000.0) / 86400.0) * r.s
                   + (1 - exp(-((e.tu - r.tu) / 1000000.0) / 86400.0)) * e.x
            FROM ev e JOIN rec r
              ON e.user_id = r.user_id AND e.rn = r.rn + 1
        )
        SELECT user_id, event_id, x AS value, round(s, 6) AS ewma FROM rec
    """,
    doc="Irregularly-sampled continuous-time EWMA per user over raw "
    "event streams (tau = 1 day): s_t = a_t*s_(t-1) + (1-a_t)*x_t "
    "with a_t = exp(-delta_t/tau) — the data-dependent-coefficient "
    "recurrence the fixed-alpha fold cannot express, computed by the "
    "same segmented affine prefix scan as ewma_affine_scan "
    "(operators/scan.py::ewma_time_decay_scan). The predecessor "
    "timestamp crosses chunk boundaries, so each day-chunk's last "
    "timestamp lags forward one chunk over the SUMMARY rows (never a "
    "window over elements); delta_t = exact unix-micros difference / "
    "1e6 so both engines feed exp() bit-identical arguments; ties "
    "order by (t, event_id) on both sides because a delta=0 element "
    "carries zero weight and WHICH element is first must be pinned. "
    "Oracle replays the recurrence sequentially via a recursive CTE; "
    "the scan's reassociation drift (~1e-12 relative on values <= "
    "560) sits six orders under the 6dp rounding (SURVEY.md 2.12 "
    "time-series [EXT]).",
    tags=("timeseries", "scan", "events"),
)
def ewma_time_decay_irregular(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scan import ewma_time_decay_scan

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    out = ewma_time_decay_scan(
        ev, "user_id", "ts", "value", "event_id",
        F.date_trunc("day", F.col("ts")), tau_seconds=86400.0,
    )
    return out.select(
        "user_id", "event_id", F.col("value"),
        F.round("ewma", 6).alias("ewma"),
    )
