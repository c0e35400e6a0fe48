"""Time-series rollup with gap fill — the hypertable-style continuous
aggregate the reference's report loop approximates by polling.

The reference redraws its whole report every 60 s from the complete
event log (``Raport.py:41-69``: re-consume from offset 0, recount,
re-render).  The warehouse-native form of that loop is a *time-bucket
rollup*: aggregate raw events into fixed time buckets once, and answer
"traffic per hour per type" from the bucketed relation.  Gap filling
(emitting zero rows for empty buckets) is what makes the rollup a
regular time series that downstream charts / anomaly detectors
(``q_event_anomaly``) can consume without special-casing missing hours
— the reference's matplotlib pies never face this because they always
rescan everything.

Scale notes (100 TB): the only pass over raw events is ONE partial
(map-side combined) aggregation down to O(hours × types) rows — every
later step (bucket grid generation, the gap-fill outer join, the
interpolation windows) runs on relations bounded by the calendar, not
the data; the grid cross join carries an explicitly broadcast,
enum-sized type list.  Both keys in this module share that aggregated
relation through ONE persisted, memoized table (``hourly_base``, the
``session.memo``, the (session, corpus)-keyed memo dedup's verified
pairs also use):
deriving the bounds/types/grid from raw events would re-execute the
differently-pruned scan+agg subtree once per consumer — three full
event-log passes per query at warehouse scale — and running rollup
then interpolation would pay the aggregation twice.  Incremental
maintenance (only re-aggregating buckets touched by new data) is the
streaming twin, already covered by ``q_stream_tumbling``.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query
from ..session import memo


def hourly_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ONE full-data pass both time-series keys share: raw events
    partial-aggregated to O(hours × types) rows carrying every measure
    either key needs — count, double sum (rollup), and the EXACT
    decimal-sum mean (interpolation; ``avg(double)`` is partial-agg-
    order dependent, and a 1-ulp drift at a round-half boundary broke
    sf0.1 cross-engine parity — decimal summation is order-independent
    and bit-identical in both engines).

    Persisted and memoized per (session, corpus) (``session.memo``), so
    repeated calls (oracle sweeps, scale probes) reuse one cache entry
    instead of leaking a fresh persist per invocation."""

    def build() -> DataFrame:
        ev = load_table(spark, sf_dir, "events").select(
            F.date_trunc("hour", "ts").alias("h"), "event_type", "value"
        )
        return (
            ev.groupBy("h", "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 6).alias("sum_value"),
                F.round(
                    F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                    / F.count(F.lit(1)),
                    6,
                ).alias("v"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )

    return memo("hourly_base", spark, sf_dir, build)


def _calendar_grid(base: DataFrame) -> DataFrame:
    """Dense (hour × event_type) spine spanning the base relation:
    1-row min/max bounds exploded through ``sequence(lo, hi, 1 hour)``,
    cross-joined against the broadcast enum-sized type list.  Runs
    entirely on the persisted O(hours × types) base — cache reads, no
    raw-data passes."""
    bounds = base.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    hours = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias(
            "h"
        )
    )
    types = base.select("event_type").distinct()
    return hours.crossJoin(F.broadcast(types))


@query(
    "q_time_rollup",
    oracle="""
    WITH ev AS (
      SELECT date_trunc('hour', ts) AS h, event_type, value
      FROM events
    ),
    agg AS (
      SELECT h, event_type,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             ROUND(SUM(value), 6) AS sum_value
      FROM ev GROUP BY h, event_type
    ),
    hours AS (
      SELECT unnest(generate_series((SELECT MIN(h) FROM ev),
                                    (SELECT MAX(h) FROM ev),
                                    INTERVAL 1 HOUR)) AS h
    ),
    grid AS (
      SELECT hours.h, t.event_type
      FROM hours CROSS JOIN (SELECT DISTINCT event_type FROM ev) t
    )
    SELECT strftime(g.h, '%Y-%m-%d %H:00') AS hour_iso,
           g.event_type,
           COALESCE(a.n_events, 0) AS n_events,
           COALESCE(a.sum_value, 0.0) AS sum_value
    FROM grid g LEFT JOIN agg a
      ON g.h = a.h AND g.event_type = a.event_type
    """,
)
def q_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly (bucket × event_type) rollup of the event log, gap-filled
    to a dense grid: every hour between the corpus' first and last
    event appears for every event type, with 0 / 0.0 for empty cells.

    Plan shape: the shared persisted ``hourly_base`` aggregation (the
    only full-data pass — see the module docstring for why the bounds/
    types/grid must derive from it rather than raw events), the
    ``_calendar_grid`` spine, and a left join of that calendar-bounded
    grid onto the rollup measures.
    """
    base = hourly_base(spark, sf_dir)
    return (
        _calendar_grid(base)
        .join(base.select("h", "event_type", "n_events", "sum_value"),
              ["h", "event_type"], "left")
        .select(
            F.date_format("h", "yyyy-MM-dd HH:00").alias("hour_iso"),
            "event_type",
            F.coalesce("n_events", F.lit(0).cast("bigint")).alias(
                "n_events"
            ),
            F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
        )
    )


@query(
    "q_time_interpolate",
    oracle="""
    WITH base AS (
      SELECT date_trunc('hour', ts) AS h, event_type,
             ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                   / COUNT(*), 6) AS v
      FROM events GROUP BY 1, 2
    ),
    hours AS (
      SELECT unnest(generate_series((SELECT MIN(h) FROM base),
                                    (SELECT MAX(h) FROM base),
                                    INTERVAL 1 HOUR)) AS h
    ),
    grid AS (
      SELECT hours.h, t.event_type FROM hours
      CROSS JOIN (SELECT DISTINCT event_type FROM base) t
    ),
    j AS (
      SELECT g.h, g.event_type, b.v FROM grid g
      LEFT JOIN base b ON g.h = b.h AND g.event_type = b.event_type
    ),
    f AS (
      SELECT h, event_type, v,
        LAST_VALUE(CASE WHEN v IS NOT NULL
                        THEN struct_pack(oh := h, ov := v) END IGNORE NULLS)
          OVER (PARTITION BY event_type ORDER BY h
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
        FIRST_VALUE(CASE WHEN v IS NOT NULL
                         THEN struct_pack(oh := h, ov := v) END IGNORE NULLS)
          OVER (PARTITION BY event_type ORDER BY h
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n
      FROM j
    )
    SELECT strftime(h, '%Y-%m-%d %H:00') AS hour_iso, event_type,
      ROUND(CASE WHEN v IS NOT NULL THEN v
            WHEN p IS NOT NULL AND n IS NOT NULL THEN
              p.ov + (n.ov - p.ov) * (epoch(h) - epoch(p.oh))
                                   / (epoch(n.oh) - epoch(p.oh))
            ELSE COALESCE(p.ov, n.ov) END, 6) AS v_fill,
      (v IS NULL) AS is_gap
    FROM f
    """,
)
def q_time_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear gap interpolation over the hourly metric series (r8
    widening) — the VALUE twin of ``q_time_rollup``'s zero-fill.
    Counts gap-fill to 0; a *mean metric* (avg event value per hour
    per type) must instead be interpolated between its bracketing
    observations, or downstream consumers (anomaly z-scores, model
    features, charts) see phantom cliffs at every empty bucket.
    Sensor/metric gap repair is a standard step when preparing
    time-series training data.

    Mechanics: the shared persisted ``hourly_base`` mean per (hour,
    type) → ``_calendar_grid`` spine → left join marks the gaps →
    per-type ordered windows carry the last/next non-null observation
    as a (hour, value) struct (``last(..., ignorenulls)`` /
    ``first(..., ignorenulls)``) → linear interpolation between the
    bracketing pair, falling back to nearest-edge fill before the
    first / after the last observation.

    Scale (100 TB): raw events are touched by exactly ONE map-side-
    combined aggregation down to O(hours × types) — shared with
    ``q_time_rollup`` through the memoized persist; the spine, grid,
    join, and both unbounded windows then run on that calendar-bounded
    relation — a decade of hourly buckets is ~88k rows per type, so
    the per-type window partitions stay trivially small no matter how
    many petabytes of raw events feed them.

    Cross-engine parity: the base mean is exact-decimal (see
    ``hourly_base``), rounded to 6 dp BEFORE interpolating; both
    engines then evaluate the identical double expression
    p + (n-p)·(t-tp)/(tn-tp) on epoch seconds, so the final round(6)
    hashes equal.
    """
    base = hourly_base(spark, sf_dir).select("h", "event_type", "v")
    return interpolate_series(base)


def interpolate_series(base: DataFrame) -> DataFrame:
    """Core linear-gap interpolation over any ``(h, event_type, v)``
    relation — separated from the registered query (which feeds it the
    persisted ``hourly_base``) so property tests can drive constructed
    sparse series: single observation, leading/trailing gap runs,
    uneven bracketing distances, types absent from whole grid spans."""
    joined = _calendar_grid(base).join(base, ["h", "event_type"], "left")
    w = W.partitionBy("event_type").orderBy("h")
    obs = F.when(
        F.col("v").isNotNull(),
        F.struct(F.col("h").alias("oh"), F.col("v").alias("ov")),
    )
    prev = F.last(obs, ignorenulls=True).over(
        w.rowsBetween(W.unboundedPreceding, 0)
    )
    nxt = F.first(obs, ignorenulls=True).over(
        w.rowsBetween(0, W.unboundedFollowing)
    )
    t = F.unix_timestamp("h").cast("double")
    tp = F.unix_timestamp("p.oh").cast("double")
    tn = F.unix_timestamp("n.oh").cast("double")
    return (
        joined.withColumn("p", prev)
        .withColumn("n", nxt)
        .withColumn(
            "v_fill",
            F.round(
                F.when(F.col("v").isNotNull(), F.col("v"))
                .when(
                    F.col("p").isNotNull() & F.col("n").isNotNull(),
                    F.col("p.ov")
                    + (F.col("n.ov") - F.col("p.ov")) * (t - tp) / (tn - tp),
                )
                .otherwise(F.coalesce(F.col("p.ov"), F.col("n.ov"))),
                6,
            ),
        )
        .withColumn("is_gap", F.col("v").isNull())
        .select(
            F.date_format("h", "yyyy-MM-dd HH:00").alias("hour_iso"),
            "event_type",
            "v_fill",
            "is_gap",
        )
    )
