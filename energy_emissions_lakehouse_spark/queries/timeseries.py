"""Time-series smoothing / gap repair / drift detection over ``events``.

Extension tier beyond the reference's batch marts (reference analog: the
monthly rollups in ``src/20_transform/silver_to_gold.py`` are plain
calendar aggregates; these queries add the time-series operators a
monitoring or feature-engineering pipeline layers on top of such rollups).

All three queries share the same scale shape: the raw event stream is
reduced FIRST to a calendar-bounded hourly grid (hours x event types —
~fixed size no matter how many raw events), and the time-series pass runs
over that grid partitioned per series key.  At 100 TB the hourly rollup is
the only full scan; everything after is per-key window work over a few
thousand rows per key.

Cross-engine exactness:
- EWMA uses dyadic weights (alpha = 1/2, 16 taps): every weight is a power
  of two, so the weighted numerator/denominator are exact BIGINTs and the
  final quotient is one correctly-rounded IEEE division — bit-identical in
  both engines.
- Interpolation arithmetic is a fixed tree of IEEE-exact ops over exact
  integer inputs (cents, hour offsets), same policy as the z-score query.
- CUSUM state is pure BIGINT recursion (max(0, s + x - target - slack)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from energy_emissions_lakehouse_spark.registry import register
from energy_emissions_lakehouse_spark.tables import t

EWMA_TAPS = 16  # alpha = 1/2 truncated to 16 terms; tap k weight = 2^(15-k)


def _hourly_counts(spark, sf_dir) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour_ts")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))


_HOURLY_SQL = """
    SELECT event_type, DATE_TRUNC('hour', ts) AS hour_ts,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events
    GROUP BY event_type, DATE_TRUNC('hour', ts)
"""


def _ewma_terms_sql() -> tuple[str, str]:
    num = " + ".join(
        f"COALESCE(LAG(cnt, {k}) OVER w, 0) * {1 << (EWMA_TAPS - 1 - k)}"
        for k in range(EWMA_TAPS)
    )
    den = " + ".join(
        f"CASE WHEN LAG(cnt, {k}) OVER w IS NOT NULL"
        f" THEN {1 << (EWMA_TAPS - 1 - k)} ELSE 0 END"
        for k in range(EWMA_TAPS)
    )
    return num, den


@register(
    "events_hourly_ewma",
    oracle=f"""
    WITH hourly AS ({_HOURLY_SQL}),
    smoothed AS (
      SELECT event_type, hour_ts, cnt,
             CAST({_ewma_terms_sql()[0]} AS BIGINT) AS num,
             CAST({_ewma_terms_sql()[1]} AS BIGINT) AS den
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY hour_ts)
    )
    SELECT event_type, hour_ts, cnt,
           ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS ewma
    FROM smoothed
    ORDER BY event_type, hour_ts
    """,
    survey="extension (time series): exponentially weighted moving average "
    "over hourly event counts — alpha=1/2 with dyadic (power-of-two) tap "
    "weights so the weighted sum is an exact BIGINT and the single final "
    "division is IEEE-correctly-rounded: bit-identical across engines and "
    "partitionings. One window pass per series key over the calendar-"
    "bounded hourly grid; the 16 LAG taps share one window sort",
    tags=("timeseries",),
)
def events_hourly_ewma(spark, sf_dir) -> DataFrame:
    """EWMA(1/2) of hourly counts per event type.

    The 16 lag taps compile into ONE window sort (same WindowSpec); the
    numerator/denominator stay integral because every weight is 2^k, so
    partial-aggregation order can never perturb the result.  Warm-up rows
    (fewer than 16 predecessors) renormalize over the taps present —
    the standard ``adjust=True`` EWMA convention."""
    w = Window.partitionBy("event_type").orderBy("hour_ts")
    num = sum(
        F.coalesce(F.lag("cnt", k).over(w), F.lit(0))
        * F.lit(1 << (EWMA_TAPS - 1 - k))
        for k in range(EWMA_TAPS)
    )
    den = sum(
        F.when(F.lag("cnt", k).over(w).isNotNull(), F.lit(1 << (EWMA_TAPS - 1 - k)))
        .otherwise(F.lit(0))
        for k in range(EWMA_TAPS)
    )
    return (
        _hourly_counts(spark, sf_dir)
        .select(
            "event_type",
            "hour_ts",
            "cnt",
            num.cast("long").alias("num"),
            den.cast("long").alias("den"),
        )
        .select(
            "event_type",
            "hour_ts",
            "cnt",
            F.round(F.col("num").cast("double") / F.col("den").cast("double"), 6)
            .alias("ewma"),
        )
        .orderBy("event_type", "hour_ts")
    )


_HOURLY_CENTS_SQL = """
    SELECT event_type, DATE_TRUNC('hour', ts) AS hour_ts,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
    FROM events
    GROUP BY event_type, DATE_TRUNC('hour', ts)
"""


def _hourly_cents(spark, sf_dir) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour_ts")
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long"))
        .cast("long")
        .alias("cents")
    )


@register(
    "events_hourly_interpolate",
    oracle=f"""
    WITH hourly AS ({_HOURLY_CENTS_SQL}),
    bounds AS (
      SELECT event_type, MIN(hour_ts) AS mn, MAX(hour_ts) AS mx
      FROM hourly GROUP BY event_type
    ),
    spine AS (
      SELECT event_type,
             UNNEST(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hour_ts
      FROM bounds
    ),
    grid AS (
      SELECT s.event_type, s.hour_ts, h.cents,
             CAST(epoch(s.hour_ts) AS BIGINT) / 3600 AS pos
      FROM spine s LEFT JOIN hourly h
        ON h.event_type = s.event_type AND h.hour_ts = s.hour_ts
    ),
    nb AS (
      SELECT event_type, hour_ts, cents, pos,
             LAST_VALUE(CASE WHEN cents IS NOT NULL THEN pos END IGNORE NULLS)
                 OVER wp AS prev_pos,
             LAST_VALUE(CASE WHEN cents IS NOT NULL THEN cents END IGNORE NULLS)
                 OVER wp AS prev_c,
             FIRST_VALUE(CASE WHEN cents IS NOT NULL THEN pos END IGNORE NULLS)
                 OVER wn AS next_pos,
             FIRST_VALUE(CASE WHEN cents IS NOT NULL THEN cents END IGNORE NULLS)
                 OVER wn AS next_c
      FROM grid
      WINDOW wp AS (PARTITION BY event_type ORDER BY hour_ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wn AS (PARTITION BY event_type ORDER BY hour_ts
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, hour_ts,
           CASE WHEN cents IS NOT NULL THEN 'actual'
                WHEN prev_c IS NOT NULL AND next_c IS NOT NULL
                  THEN 'interpolated'
                ELSE 'edge' END AS kind,
           CASE WHEN cents IS NOT NULL
                  THEN ROUND(CAST(cents AS DOUBLE) / 100.0, 6)
                WHEN prev_c IS NOT NULL AND next_c IS NOT NULL
                  THEN ROUND((CAST(prev_c AS DOUBLE)
                              + CAST(next_c - prev_c AS DOUBLE)
                                * CAST(pos - prev_pos AS DOUBLE)
                                / CAST(next_pos - prev_pos AS DOUBLE))
                             / 100.0, 6)
                END AS hourly_value
    FROM nb
    ORDER BY event_type, hour_ts
    """,
    survey="extension (time series): dense hourly spine (sequence/"
    "generate_series per series key) + linear interpolation of missing "
    "hours from the nearest known neighbors (IGNORE-NULLS running "
    "last/first_value, two frames over one partition sort order). All "
    "interpolation inputs are exact integers (cents, hour offsets); the "
    "arithmetic is a fixed IEEE-exact op tree, so both engines emit "
    "identical bits. The spine is calendar-bounded — its size is "
    "hours x keys regardless of raw-event volume",
    tags=("timeseries",),
)
def events_hourly_interpolate(spark, sf_dir) -> DataFrame:
    """Gap-filled hourly value series per event type: actual hours pass
    through, interior gaps linear-interpolate between nearest known
    neighbors, leading/trailing unknowns are flagged ``edge``.

    Spark plan shape: one groupBy rollup, a per-key `sequence()` explode
    (never a driver loop), one left join back, and two ignore-nulls
    running windows sharing the (event_type, hour_ts) sort."""
    hourly = _hourly_cents(spark, sf_dir)
    spine = (
        hourly.groupBy("event_type")
        .agg(F.min("hour_ts").alias("mn"), F.max("hour_ts").alias("mx"))
        .select(
            "event_type",
            F.explode(
                F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))
            ).alias("hour_ts"),
        )
    )
    grid = spine.join(hourly, ["event_type", "hour_ts"], "left").select(
        "event_type",
        "hour_ts",
        "cents",
        (F.unix_timestamp("hour_ts") / F.lit(3600)).cast("long").alias("pos"),
    )
    wp = (
        Window.partitionBy("event_type")
        .orderBy("hour_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("event_type")
        .orderBy("hour_ts")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    known_pos = F.when(F.col("cents").isNotNull(), F.col("pos"))
    known_c = F.when(F.col("cents").isNotNull(), F.col("cents"))
    nb = grid.select(
        "event_type",
        "hour_ts",
        "cents",
        "pos",
        F.last(known_pos, ignorenulls=True).over(wp).alias("prev_pos"),
        F.last(known_c, ignorenulls=True).over(wp).alias("prev_c"),
        F.first(known_pos, ignorenulls=True).over(wn).alias("next_pos"),
        F.first(known_c, ignorenulls=True).over(wn).alias("next_c"),
    )
    interp = (
        F.col("prev_c").cast("double")
        + (F.col("next_c") - F.col("prev_c")).cast("double")
        * (F.col("pos") - F.col("prev_pos")).cast("double")
        / (F.col("next_pos") - F.col("prev_pos")).cast("double")
    ) / F.lit(100.0)
    has_both = F.col("prev_c").isNotNull() & F.col("next_c").isNotNull()
    return nb.select(
        "event_type",
        "hour_ts",
        F.when(F.col("cents").isNotNull(), F.lit("actual"))
        .when(has_both, F.lit("interpolated"))
        .otherwise(F.lit("edge"))
        .alias("kind"),
        F.when(
            F.col("cents").isNotNull(),
            F.round(F.col("cents").cast("double") / F.lit(100.0), 6),
        )
        .when(has_both, F.round(interp, 6))
        .alias("hourly_value"),
    ).orderBy("event_type", "hour_ts")


CUSUM_TOPK = 5
# slack = target // CUSUM_SLACK_DIV: drift must exceed ~12.5% of the mean
# hourly level before it accumulates into the CUSUM statistic
CUSUM_SLACK_DIV = 8


@register(
    "events_cusum_drift",
    oracle=f"""
    WITH RECURSIVE hourly AS MATERIALIZED ({_HOURLY_CENTS_SQL}),
    params AS MATERIALIZED (
      SELECT event_type,
             CAST(SUM(cents) // COUNT(*) AS BIGINT) AS target
      FROM hourly GROUP BY event_type
    ),
    -- seq MATERIALIZED: the recursive rec term joins seq once per
    -- fixpoint iteration, and DuckDB re-evaluates inlined CTEs each time
    seq AS MATERIALIZED (
      SELECT h.event_type, h.hour_ts, h.cents, p.target,
             p.target // {CUSUM_SLACK_DIV} AS slack,
             ROW_NUMBER() OVER (PARTITION BY h.event_type
                                ORDER BY h.hour_ts) AS rn
      FROM hourly h JOIN params p USING (event_type)
    ),
    rec AS (
      SELECT event_type, hour_ts, cents, target, slack, rn,
             GREATEST(CAST(0 AS BIGINT),
                      cents - target - slack) AS s
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT q.event_type, q.hour_ts, q.cents, q.target, q.slack, q.rn,
             GREATEST(CAST(0 AS BIGINT),
                      r.s + q.cents - q.target - q.slack) AS s
      FROM seq q JOIN rec r
        ON r.event_type = q.event_type AND q.rn = r.rn + 1
    ),
    ranked AS (
      SELECT event_type, hour_ts, cents, s,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY s DESC, hour_ts) AS peak_rank
      FROM rec
    )
    SELECT event_type, hour_ts, cents, s AS cusum,
           CAST(peak_rank AS BIGINT) AS peak_rank
    FROM ranked WHERE peak_rank <= {CUSUM_TOPK}
    ORDER BY event_type, peak_rank
    """,
    survey="extension (time series): one-sided CUSUM drift detection — "
    "s_t = max(0, s_(t-1) + x_t - target - slack), target = per-key mean "
    "hourly level, pure BIGINT recursion so both engines agree exactly. "
    "The recursion is inherently sequential per key, so Spark runs it as "
    "ONE Arrow-batched pass per series key (applyInPandas over the "
    "calendar-bounded hourly grid — ~hours-per-key rows, never raw "
    "events); DuckDB replays it as a recursive CTE. Returns the top-"
    f"{CUSUM_TOPK} CUSUM peaks per key (deterministic tiebreak)",
    tags=("timeseries",),
)
def events_cusum_drift(spark, sf_dir) -> DataFrame:
    """Top CUSUM peaks per event type over hourly value totals.

    Recursive keyed state is the one shape Catalyst windows cannot
    express; the scale-correct Spark form is a grouped Arrow pass over
    the pre-aggregated grid (applyInPandas costs ~1 ms/group —
    trivially cheap at hours-x-keys grid size)."""
    import pandas as pd

    hourly = _hourly_cents(spark, sf_dir)

    def cusum(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("hour_ts").reset_index(drop=True)
        cents = pdf["cents"].to_numpy()
        target = int(cents.sum()) // len(cents)
        slack = target // CUSUM_SLACK_DIV
        s, out = 0, []
        for x in cents:
            s = max(0, s + int(x) - target - slack)
            out.append(s)
        pdf["s"] = pd.Series(out, dtype="int64")
        return pdf[["event_type", "hour_ts", "cents", "s"]]

    rec = hourly.groupBy("event_type").applyInPandas(
        cusum, "event_type string, hour_ts timestamp, cents long, s long"
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("s").desc(), F.col("hour_ts")
    )
    return (
        rec.select(
            "event_type",
            "hour_ts",
            "cents",
            F.col("s").alias("cusum"),
            F.row_number().over(w).cast("long").alias("peak_rank"),
        )
        .filter(F.col("peak_rank") <= CUSUM_TOPK)
        .orderBy("event_type", "peak_rank")
    )


@register(
    "events_hourly_ohlc",
    oracle="""
    WITH pricey AS (
      SELECT event_type, DATE_TRUNC('hour', ts) AS hour_ts,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
             CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS es, event_id
      FROM events
    )
    SELECT event_type, hour_ts,
           MIN(struct_pack(es := es, eid := event_id, cents := cents)).cents
               AS open_cents,
           MAX(struct_pack(es := es, eid := event_id, cents := cents)).cents
               AS close_cents,
           MAX(cents) AS high_cents,
           MIN(cents) AS low_cents,
           CAST(COUNT(*) AS BIGINT) AS n_ticks
    FROM pricey
    GROUP BY event_type, hour_ts
    ORDER BY event_type, hour_ts
    """,
    survey="extension (time series): hourly OHLC candles — open/close via "
    "min/max over (time, id, value) structs (the argmin-as-aggregate "
    "plan again: ONE map-side-combining groupBy, no window, no sort), "
    "high/low/count alongside in the same pass. Tie-safe: the struct "
    "ordering includes the unique event id. The financial-rollup shape "
    "for any tick stream. No reference analog",
    tags=("timeseries",),
)
def events_hourly_ohlc(spark, sf_dir) -> DataFrame:
    """One aggregation pass computes the whole candle: first/last tick
    value (struct-ordered argmin/argmax), high, low, tick count."""
    ev = t(spark, sf_dir, "events")
    pricey = ev.select(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("hour_ts"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        F.unix_timestamp("ts").alias("es"),
        "event_id",
    )
    tick = F.struct(
        F.col("es"), F.col("event_id"), F.col("cents").alias("cents")
    )
    return (
        pricey.groupBy("event_type", "hour_ts")
        .agg(
            F.min(tick).getField("cents").alias("open_cents"),
            F.max(tick).getField("cents").alias("close_cents"),
            F.max("cents").alias("high_cents"),
            F.min("cents").alias("low_cents"),
            F.count(F.lit(1)).cast("long").alias("n_ticks"),
        )
        .orderBy("event_type", "hour_ts")
    )
