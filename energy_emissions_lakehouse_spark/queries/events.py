"""Event-stream analytics over the ``events`` table (SURVEY.md §2.12).

The reference is batch-only; this is the engine's streaming-surface
extension. Each operator here has *batch-equivalent semantics* checked
against the DuckDB oracle; the same transformations run under Structured
Streaming in ``energy_emissions_lakehouse_spark.streaming`` (exercised by
tests, since a streaming query cannot return a bounded DataFrame to the
driver's comparator).

Cross-engine note: the testdata ``ts`` column is parquet nanosecond
precision; outputs truncate to second granularity so Spark (µs) and DuckDB
(ns) agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from energy_emissions_lakehouse_spark.functions.exact import scaled_sum, scaled_sum_sql
from energy_emissions_lakehouse_spark.registry import register
from energy_emissions_lakehouse_spark.tables import t

SESSION_GAP_SECONDS = 1800


@register(
    "events_hourly_tumbling",
    oracle=f"""
    SELECT DATE_TRUNC('hour', ts)        AS window_start,
           event_type,
           COUNT(*)                      AS n_events,
           {scaled_sum_sql('value')}     AS total_value
    FROM events
    GROUP BY DATE_TRUNC('hour', ts), event_type
    """,
    survey="extension (streaming surface): tumbling window aggregate — "
    "batch-checkable analog of readStream + F.window(ts, '1 hour')",
)
def events_hourly_tumbling(spark, sf_dir) -> DataFrame:
    """F.window in batch mode: identical grouping semantics to the streaming
    tumbling window (epoch-aligned hour buckets == date_trunc('hour'))."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            scaled_sum(F.col("value")).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "events_sessionization",
    oracle=f"""
    WITH ordered AS (
        SELECT user_id, event_id, ts,
               LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events
    ),
    flagged AS (
        SELECT user_id, event_id, ts,
               CASE WHEN prev_ts IS NULL
                      OR DATE_DIFF('second', prev_ts, ts) > {SESSION_GAP_SECONDS}
                    THEN 1 ELSE 0 END AS new_session
        FROM ordered
    ),
    numbered AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM flagged
    )
    SELECT user_id,
           CAST(session_id AS BIGINT)    AS session_id,
           COUNT(*)                      AS n_events,
           DATE_TRUNC('second', MIN(ts)) AS session_start,
           DATE_TRUNC('second', MAX(ts)) AS session_end
    FROM numbered
    GROUP BY user_id, session_id
    """,
    survey="extension (streaming surface): session windows via "
    "gaps-and-islands — batch-checkable analog of F.session_window / "
    "applyInPandasWithState; W1-style windows power the island numbering",
)
def events_sessionization(spark, sf_dir) -> DataFrame:
    """Session windows (30-min gap) as pure window algebra: LAG to flag gaps,
    running SUM to number islands. Partitioned by user_id -> scales linearly;
    no per-user skew at 100 TB unless one user dominates (then salt by day)."""
    ev = t(spark, sf_dir, "events")
    order = [F.col("ts"), F.col("event_id")]
    by_user = Window.partitionBy("user_id").orderBy(*order)
    running = by_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_ts = F.lag("ts").over(by_user)
    gap_s = F.unix_timestamp("ts") - F.unix_timestamp(prev_ts)
    new_session = F.when(
        prev_ts.isNull() | (gap_s > SESSION_GAP_SECONDS), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        ev.withColumn("new_session", new_session)
        .withColumn("session_id", F.sum("new_session").over(running).cast("long"))
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.date_trunc("second", F.min("ts")).alias("session_start"),
            F.date_trunc("second", F.max("ts")).alias("session_end"),
        )
    )


@register(
    "events_json_props",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
               AS sum_k,
           CAST(MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
               AS min_k,
           CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
               AS max_k
    FROM events
    GROUP BY event_type
    """,
    survey="extension (semi-structured): JSON property extraction with a "
    "typed schema (from_json -> struct, fully JVM-side) over the events "
    "props column",
)
def events_json_props(spark, sf_dir) -> DataFrame:
    from pyspark.sql.types import LongType, StructField, StructType

    ev = t(spark, sf_dir, "events")
    props_schema = StructType([StructField("k", LongType())])
    parsed = ev.select(
        "event_type", F.from_json("props", props_schema).alias("p")
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("p.k").alias("sum_k"),
        F.min("p.k").alias("min_k"),
        F.max("p.k").alias("max_k"),
    )


@register(
    "asof_last_purchase_per_click",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, event_type, value,
               date_trunc('microseconds', ts) AS ts
        FROM events
    ),
    c AS (SELECT user_id, event_id, ts FROM e WHERE event_type = 'click'),
    p AS (SELECT user_id, ts, value, event_id FROM e
          WHERE event_type = 'purchase')
    SELECT c.user_id, c.event_id, c.ts AS click_ts,
           p.ts AS purchase_ts, p.value AS last_purchase_value
    FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
    survey="extension (custom operator): as-of / point-in-time join — "
    "union + running last(ignorenulls) window over an atomic match struct "
    "(operators/asof.py); the oracle is DuckDB's NATIVE ASOF JOIN, so the "
    "composition is checked against a first-class implementation",
)
def asof_last_purchase_per_click(spark, sf_dir) -> DataFrame:
    from energy_emissions_lakehouse_spark.operators.asof import asof_join

    ev = t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value", "event_id"
    )
    out = asof_join(
        clicks, purchases, on="user_id", ts="ts",
        payload=["value"], right_tiebreak="event_id",
    )
    return out.select(
        "user_id",
        "event_id",
        F.col("ts").alias("click_ts"),
        F.col("asof_ts").alias("purchase_ts"),
        F.col("asof_value").alias("last_purchase_value"),
    )


@register(
    "asof_nearest_purchase_per_click",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, event_type, value,
               date_trunc('microseconds', ts) AS ts
        FROM events
    ),
    c AS (SELECT user_id, event_id, ts FROM e WHERE event_type = 'click'),
    p AS (SELECT user_id, ts, value, event_id FROM e
          WHERE event_type = 'purchase')
    SELECT c.user_id, c.event_id, c.ts AS click_ts,
           n.ts AS purchase_ts,
           n.value AS nearest_purchase_value,
           n.gap_us AS gap_us
    FROM c LEFT JOIN LATERAL (
        SELECT p.ts, p.value, ABS(epoch_us(c.ts - p.ts)) AS gap_us
        FROM p WHERE p.user_id = c.user_id
        ORDER BY gap_us ASC, p.ts ASC, p.event_id DESC LIMIT 1
    ) n ON TRUE
    """,
    survey="extension (custom operator): nearest-in-time as-of join "
    "(pandas merge_asof direction='nearest'; no native Spark or single "
    "DuckDB-ASOF form) — two window passes over one key shuffle "
    "(operators/asof.py asof_nearest_join); the oracle is the per-row "
    "lateral argmin subquery, so the window composition is checked "
    "against the direct quadratic definition",
)
def asof_nearest_purchase_per_click(spark, sf_dir) -> DataFrame:
    """For every click, the purchase CLOSEST in time by the same user —
    before or after — with the absolute gap in microseconds.  Backward
    as-of (asof_last_purchase_per_click) answers "state as of"; nearest
    answers attribution/imputation joins ("which purchase does this click
    belong to").  Ties at equal gap go to the earlier (backward) purchase;
    equal-timestamp purchases resolve last-event_id-wins, matching the
    backward operator's tiebreak."""
    from energy_emissions_lakehouse_spark.operators.asof import (
        asof_nearest_join,
    )

    ev = t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value", "event_id"
    )
    out = asof_nearest_join(
        clicks, purchases, on="user_id", ts="ts",
        payload=["value"], right_tiebreak="event_id",
    )
    return out.select(
        "user_id",
        "event_id",
        F.col("ts").alias("click_ts"),
        F.col("nearest_ts").alias("purchase_ts"),
        F.col("nearest_value").alias("nearest_purchase_value"),
        "gap_us",
    )


@register(
    "scd2_user_event_type_history",
    oracle="""
    WITH base AS (
        SELECT user_id, event_id, event_type,
               DATE_TRUNC('second', ts) AS ts_s,
               CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS es
        FROM events
    ),
    flagged AS (
        SELECT *, CASE WHEN LAG(event_type) OVER
                            (PARTITION BY user_id ORDER BY es, event_id)
                            IS DISTINCT FROM event_type
                       THEN 1 ELSE 0 END AS chg
        FROM base
    ),
    islands AS (
        SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY es, event_id
                                 ROWS UNBOUNDED PRECEDING) AS isl
        FROM flagged
    ),
    runs AS (
        SELECT user_id, isl, MIN(event_type) AS event_type,
               MIN(ts_s) AS valid_from, COUNT(*) AS n_events
        FROM islands GROUP BY user_id, isl
    )
    SELECT user_id, event_type, valid_from,
           LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY isl)
               AS valid_to,
           LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY isl) IS NULL
               AS is_current,
           n_events
    FROM runs
    """,
    survey="extension (lakehouse): SCD2 slowly-changing-dimension history "
    "build — consecutive runs of each user's event_type collapse to "
    "[valid_from, valid_to) validity intervals with an is_current flag; "
    "gaps-and-islands (LAG change flag -> running-sum island id), all "
    "windows partitioned by user_id so the build scales per-key. The "
    "reference's dims are static (SQL/01_create_schema.sql:2-22); this is "
    "the versioned-dimension upgrade a warehouse needs once sources mutate",
)
def scd2_user_event_type_history(spark, sf_dir) -> DataFrame:
    """SCD2 interval build. Ordering uses (floor-epoch-second, event_id) —
    both engines agree on it exactly, immune to the µs/ns precision gap."""
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.date_trunc("second", F.col("ts")).alias("ts_s"),
        F.unix_timestamp("ts").alias("es"),
    )
    by_user = Window.partitionBy("user_id").orderBy("es", "event_id")
    running = by_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    chg = F.when(
        ~F.lag("event_type").over(by_user).eqNullSafe(F.col("event_type")),
        F.lit(1),
    ).otherwise(F.lit(0))
    runs = (
        ev.withColumn("chg", chg)
        .withColumn("isl", F.sum("chg").over(running))
        .groupBy("user_id", "isl")
        .agg(
            F.min("event_type").alias("event_type"),
            F.min("ts_s").alias("valid_from"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    by_isl = Window.partitionBy("user_id").orderBy("isl")
    valid_to = F.lead("valid_from").over(by_isl)
    return runs.select(
        "user_id",
        "event_type",
        "valid_from",
        valid_to.alias("valid_to"),
        valid_to.isNull().alias("is_current"),
        "n_events",
    )


@register(
    "events_variant_props",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
               AS sum_k,
           COUNT(CASE WHEN json_extract(props, '$.missing') IS NULL THEN 1 END)
               AS n_missing
    FROM events
    GROUP BY event_type
    """,
    survey="extension (semi-structured, Spark 4 VARIANT): parse_json -> "
    "open VariantType + typed variant_get extraction — schema-on-read "
    "without declaring a struct up front (the from_json path is "
    "events_json_props); absent paths yield null, counted as the DQ probe. "
    "Variant's binary encoding pushes extraction into the JVM columnar "
    "path, the scale alternative to per-row Python JSON parsing",
)
def events_variant_props(spark, sf_dir) -> DataFrame:
    """Same rollup as events_json_props but through the VARIANT type:
    no schema declared, each path extracted on read with a target type."""
    ev = t(spark, sf_dir, "events")
    v = F.parse_json("props")
    return (
        ev.select(
            "event_type",
            F.variant_get(v, "$.k", "bigint").alias("k"),
            F.variant_get(v, "$.missing", "string").alias("m"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.count(F.when(F.col("m").isNull(), 1)).alias("n_missing"),
        )
    )


@register(
    "events_user_day_gapfill",
    oracle="""
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n_events
        FROM events GROUP BY user_id, CAST(ts AS DATE)
    ),
    bounds AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
    cal AS (
        SELECT CAST(UNNEST(GENERATE_SERIES(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
        FROM bounds
    ),
    grid AS (
        SELECT u.user_id, cal.day
        FROM (SELECT DISTINCT user_id FROM daily) u CROSS JOIN cal
    ),
    joined AS (
        SELECT g.user_id, g.day, d.n_events
        FROM grid g LEFT JOIN daily d
          ON d.user_id = g.user_id AND d.day = g.day
    ),
    grouped AS (
        SELECT user_id, day, n_events,
               COUNT(n_events) OVER (
                   PARTITION BY user_id ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffg
        FROM joined
    )
    SELECT user_id, STRFTIME(day, '%Y-%m-%d') AS day, n_events,
           MAX(n_events) OVER (PARTITION BY user_id, ffg) AS filled_events,
           n_events IS NULL AS is_gap
    FROM grouped
    """,
    survey="extension (timeseries): calendar densification + forward fill — "
    "sequence()/explode builds the day spine (no driver loop), LEFT join "
    "marks gaps, and the fill is the gaps-and-islands trick (running "
    "COUNT of non-nulls partitions each gap with its preceding value; "
    "MAX over that group fills it) — pure window algebra, no UDF, no "
    "collect. The resample/ffill primitive a 100 TB telemetry rollup "
    "needs; everything partitions by user",
)
def events_user_day_gapfill(spark, sf_dir) -> DataFrame:
    """Dense per-user daily activity series: missing (user, day) cells are
    materialized from a sequence() spine and forward-filled from the last
    observed day. Integer counts keep the fill exact cross-engine."""
    ev = t(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    daily = ev.groupBy("user_id", "day").agg(F.count(F.lit(1)).alias("n_events"))
    cal = (
        daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
        .select(F.explode(F.sequence("lo", "hi")).alias("day"))
    )
    grid = daily.select("user_id").distinct().crossJoin(F.broadcast(cal))
    joined = grid.join(daily, ["user_id", "day"], "left")
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    grouped = joined.withColumn("ffg", F.count("n_events").over(w_run))
    filled = F.max("n_events").over(Window.partitionBy("user_id", "ffg"))
    return grouped.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_events",
        filled.alias("filled_events"),
        F.col("n_events").isNull().alias("is_gap"),
    )


@register(
    "sessionize_partitionwise",
    oracle=f"""
    WITH ordered AS (
        SELECT user_id, event_id, ts,
               LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events
    ),
    flagged AS (
        SELECT user_id, event_id, ts,
               CASE WHEN prev_ts IS NULL
                      OR DATE_DIFF('second', prev_ts, ts) > {SESSION_GAP_SECONDS}
                    THEN 1 ELSE 0 END AS new_session
        FROM ordered
    ),
    numbered AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM flagged
    )
    SELECT user_id,
           CAST(session_id AS BIGINT)    AS session_id,
           COUNT(*)                      AS n_events,
           DATE_TRUNC('second', MIN(ts)) AS session_start,
           DATE_TRUNC('second', MAX(ts)) AS session_end
    FROM numbered
    GROUP BY user_id, session_id
    """,
    survey="extension (custom operator, scale path): partition-wise "
    "vectorized sessionization — mapInPandas over user-clustered "
    "partitions, ONE pandas pipeline per partition (vectorized groupby "
    "shift/cumsum), not one Python call per user. A per-group "
    "applyInPandas form pays ~1 ms of serialization per tiny group — "
    "15k users -> 15 s; this form amortizes it to per-partition and is "
    "~10x faster at sf0.1. Same oracle as the declarative window form "
    "(events_sessionization), so both sessionizers are pinned to "
    "identical semantics",
)
def sessionize_partitionwise(spark, sf_dir) -> DataFrame:
    """Sessionization via repartition(user_id) + mapInPandas: every user's
    rows are co-located, then the whole partition is sessionized in one
    vectorized pandas pass. The high-throughput shape for many-small-groups
    custom logic at 100 TB."""
    import pandas as pd

    gap = SESSION_GAP_SECONDS

    def sessionize(batches):
        parts = list(batches)
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        if pdf.empty:
            return
        pdf = pdf.sort_values(["user_id", "ts", "event_id"], kind="mergesort")
        prev = pdf.groupby("user_id", sort=False)["ts"].shift()
        gaps = (
            pdf["ts"].dt.floor("s") - prev.dt.floor("s")
        ).dt.total_seconds()
        new_session = prev.isna() | (gaps > gap)
        pdf = pdf.assign(
            session_id=new_session.groupby(pdf["user_id"], sort=False)
            .cumsum()
            .astype("int64")
        )
        out = (
            pdf.groupby(["user_id", "session_id"], sort=False)
            .agg(
                n_events=("event_id", "size"),
                session_start=("ts", "min"),
                session_end=("ts", "max"),
            )
            .reset_index()
        )
        out["session_start"] = out["session_start"].dt.floor("s")
        out["session_end"] = out["session_end"].dt.floor("s")
        yield out[
            ["user_id", "session_id", "n_events", "session_start", "session_end"]
        ]

    ev = (
        t(spark, sf_dir, "events")
        .select("user_id", "event_id", "ts")
        .repartition("user_id")
    )
    schema = (
        "user_id long, session_id long, n_events long, "
        "session_start timestamp, session_end timestamp"
    )
    return ev.mapInPandas(sessionize, schema)


@register(
    "events_hourly_anomaly_zscore",
    oracle="""
    WITH hourly AS (
      SELECT event_type, DATE_TRUNC('hour', ts) AS hour_ts,
             CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS cents
      FROM events
      GROUP BY event_type, DATE_TRUNC('hour', ts)
    ),
    framed AS (
      SELECT event_type, hour_ts, cents,
             CAST(SUM(cents) OVER w AS BIGINT) AS s,
             CAST(SUM(cents * cents) OVER w AS BIGINT) AS s2,
             CAST(COUNT(*) OVER w AS BIGINT) AS n
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY hour_ts
                   ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
    ),
    z AS (
      SELECT event_type, hour_ts, cents, n,
             (CAST(cents AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
             / SQRT((CAST(s2 AS DOUBLE)
                     - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                       / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE))
                 AS zval
      FROM framed
      WHERE n >= 12
        AND (CAST(s2 AS DOUBLE)
             - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) > 0
    )
    SELECT event_type, hour_ts,
           CAST(cents AS DOUBLE) / 100.0 AS hourly_value,
           ROUND(zval, 6) AS zscore
    FROM z
    WHERE ABS(zval) > 2.5
    ORDER BY event_type, hour_ts
    """,
    survey="extension (time series): rolling z-score anomaly detection — "
    "hourly value totals per event type (integer cents), trailing-24h "
    "mean/std from windowed SUM/SUMSQ/COUNT (one pass, ROWS frame over a "
    "unique hour ordering), anomalies flagged at |z| > 2.5 after a 12-"
    "point warm-up. All window math is integer sums + a fixed tree of "
    "IEEE-exact ops (sqrt is exactly rounded), so flags are cross-engine "
    "deterministic. Partitioned per event type -> scales per key; the "
    "hourly rollup is calendar-bounded however large the raw stream",
)
def events_hourly_anomaly_zscore(spark, sf_dir) -> DataFrame:
    """Hours whose value total deviates >2.5 sigma from the trailing-24h
    mean, per event type. The aggregation-before-window means the window
    input is calendar-bounded (hours x types), never raw-event-sized."""
    ev = t(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("hour_ts")
        )
        .agg(
            F.sum(F.round(F.col("value") * 100, 0).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_ts")
        .rowsBetween(-23, Window.currentRow)
    )
    framed = hourly.select(
        "event_type",
        "hour_ts",
        "cents",
        F.sum("cents").over(w).cast("long").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).over(w).cast("long").alias("s2"),
        F.count(F.lit(1)).over(w).cast("long").alias("n"),
    )
    var_num = F.col("s2").cast("double") - F.col("s").cast("double") * F.col(
        "s"
    ).cast("double") / F.col("n").cast("double")
    zval = (
        F.col("cents").cast("double")
        - F.col("s").cast("double") / F.col("n").cast("double")
    ) / F.sqrt(var_num / F.col("n").cast("double"))
    z = framed.filter((F.col("n") >= 12) & (var_num > 0)).select(
        "event_type", "hour_ts", "cents", zval.alias("zval")
    )
    return (
        z.filter(F.abs(F.col("zval")) > 2.5)
        .select(
            "event_type",
            "hour_ts",
            (F.col("cents").cast("double") / F.lit(100.0)).alias("hourly_value"),
            F.round("zval", 6).alias("zscore"),
        )
        .orderBy("event_type", "hour_ts")
    )


@register(
    "events_funnel_conversion",
    oracle="""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.t1
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      GROUP BY e.user_id
    )
    SELECT CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_signup,
           CAST((SELECT COUNT(*) FROM s2) AS BIGINT) AS n_signup_click,
           CAST((SELECT COUNT(*) FROM s3) AS BIGINT) AS n_full_funnel
    """,
    survey="extension (product analytics): ordered funnel conversion — "
    "signup -> first later click -> first later purchase, one stage per "
    "semi-join + per-user MIN (the scale-safe funnel: each stage prunes "
    "the user set before the next scan; no per-user event sorting, no "
    "window over raw events). Reference has no event analytics at all",
)
def events_funnel_conversion(spark, sf_dir) -> DataFrame:
    """Strictly-ordered 3-stage funnel counts. Each stage is a per-user
    MIN aggregate joined to the (already reduced) previous stage — at
    100 TB the stage tables shrink monotonically and every join is keyed
    on user_id."""
    ev = t(spark, sf_dir, "events")
    s1 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    c1 = s1.agg(F.count(F.lit(1)).cast("long").alias("n_signup"))
    c2 = s2.agg(F.count(F.lit(1)).cast("long").alias("n_signup_click"))
    c3 = s3.agg(F.count(F.lit(1)).cast("long").alias("n_full_funnel"))
    return c1.crossJoin(c2).crossJoin(c3)


@register(
    "events_retention_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             CAST(DATE_DIFF('day', TIMESTAMP '2024-01-01 00:00:00',
                            MIN(ts)) // 7 AS BIGINT) AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             CAST(DATE_DIFF('day', TIMESTAMP '2024-01-01 00:00:00',
                            e.ts) // 7 AS BIGINT) - f.cohort_week
                 AS weeks_since
      FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT cohort_week, weeks_since,
           CAST(COUNT(*) AS BIGINT) AS n_active_users
    FROM activity
    GROUP BY cohort_week, weeks_since
    ORDER BY cohort_week, weeks_since
    """,
    survey="extension (product analytics): weekly retention cohorts — "
    "first-seen week per user (one MIN aggregate), then distinct "
    "(user, week-offset) activity counted per cohort. Two shuffles total, "
    "both keyed on user_id (co-partitioned: the join reuses the MIN "
    "aggregate's partitioning). Reference has no event analytics",
)
def events_retention_cohorts(spark, sf_dir) -> DataFrame:
    """Cohort x week-offset active-user matrix (the classic retention
    triangle). Integer day/week math keeps bucketing cross-engine exact."""
    ev = t(spark, sf_dir, "events")
    epoch = F.lit("2024-01-01 00:00:00").cast("timestamp")
    week_of = lambda ts: F.floor(  # noqa: E731
        F.datediff(F.to_date(ts), F.to_date(epoch)) / 7
    ).cast("long")
    firsts = ev.groupBy("user_id").agg(week_of(F.min("ts")).alias("cohort_week"))
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (week_of(F.col("ts")) - F.col("cohort_week")).alias("weeks_since"),
        )
        .distinct()
    )
    return (
        activity.groupBy("cohort_week", "weeks_since")
        .agg(F.count(F.lit(1)).cast("long").alias("n_active_users"))
        .orderBy("cohort_week", "weeks_since")
    )


@register(
    "events_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    trans AS (
      SELECT prev_type, event_type AS next_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    )
    SELECT prev_type, next_type, n,
           CAST((n * 1000000)
                // CAST(SUM(n) OVER (PARTITION BY prev_type) AS BIGINT)
             AS BIGINT) AS prob_ppm
    FROM trans
    ORDER BY prev_type, next_type
    """,
    survey="extension (events / sequence analytics): first-order Markov "
    "transition matrix of per-user event-type sequences — one lag "
    "window keyed on user (same shuffle the sessionizer uses), one "
    "groupBy, row-normalized as integer ppm. The sequence-model "
    "companion to events_funnel_conversion. No reference analog",
)
def events_transition_matrix(spark, sf_dir) -> DataFrame:
    """P(next event type | previous event type), integer-ppm exact.

    Scale shape: the lag window partitions on user_id (millions of small
    partitions — no skew), and the transition aggregation is |types|^2
    rows; the row-normalizing window runs on that tiny aggregate."""
    ev = t(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    wp = Window.partitionBy("prev_type")
    return (
        trans.withColumn("tot", F.sum("n").over(wp).cast("long"))
        .select(
            "prev_type",
            "next_type",
            "n",
            # integer floor-div keeps ppm exact past 2^53 (float / would not)
            F.expr("CAST((n * 1000000) div tot AS BIGINT)").alias("prob_ppm"),
        )
        .orderBy("prev_type", "next_type")
    )


@register(
    "events_time_weighted_value",
    oracle="""
    WITH seq AS (
      SELECT user_id, CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
             CAST(ROUND(value * 100) AS BIGINT) AS value_cents,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_s,
             LEAD(CAST(FLOOR(epoch(ts)) AS BIGINT))
               OVER (PARTITION BY user_id, CAST(DATE_TRUNC('day', ts) AS TIMESTAMP)
                     ORDER BY ts, event_id) AS next_s
      FROM events WHERE value IS NOT NULL
    ),
    ud AS (
      SELECT user_id, day,
             CAST(SUM(value_cents * (next_s - ts_s)) AS BIGINT) AS wsum,
             CAST(SUM(next_s - ts_s) AS BIGINT) AS dur_s
      FROM seq WHERE next_s IS NOT NULL
      GROUP BY user_id, day
      HAVING SUM(next_s - ts_s) > 0
    )
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS n_user_days,
           CAST(SUM(dur_s) AS BIGINT) AS total_dur_s,
           CAST(SUM(wsum // dur_s) // COUNT(*) AS BIGINT) AS avg_twap_cents
    FROM ud GROUP BY day ORDER BY day
    """,
    survey="extension (events / time series): time-weighted average value "
    "(TWAP) per user-day — each reading weighted by its holding "
    "interval (lead(ts) - ts), the standard irregular-series average "
    "that plain AVG gets wrong. Integer cents x integer seconds keeps "
    "it cross-engine exact. No reference analog",
)
def events_time_weighted_value(spark, sf_dir) -> DataFrame:
    """Per-day roll-up of per-user-day TWAP (integer cents).

    Scale shape: one window keyed on (user, day) — same partitioning as
    the day-level aggregate that follows, so AQE coalesces into a single
    shuffle lineage; no collect, no skew (per-user-day groups are tiny)."""
    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "user_id",
            F.date_trunc("day", F.col("ts")).alias("day"),
            F.round(F.col("value") * 100).cast("long").alias("value_cents"),
            F.unix_timestamp("ts").cast("long").alias("ts_s"),
            "ts",
            "event_id",
        )
    )
    w = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    seq = ev.withColumn("next_s", F.lead("ts_s").over(w)).filter(
        F.col("next_s").isNotNull()
    )
    ud = (
        seq.groupBy("user_id", "day")
        .agg(
            F.sum(F.col("value_cents") * (F.col("next_s") - F.col("ts_s")))
            .cast("long")
            .alias("wsum"),
            F.sum(F.col("next_s") - F.col("ts_s")).cast("long").alias("dur_s"),
        )
        .filter(F.col("dur_s") > 0)
    )
    return (
        ud.groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_user_days"),
            F.sum("dur_s").cast("long").alias("total_dur_s"),
            F.expr("CAST(SUM(wsum div dur_s) div COUNT(*) AS BIGINT)").alias(
                "avg_twap_cents"
            ),
        )
        .orderBy("day")
    )


@register(
    "ab_test_proportions_ztest",
    oracle="""
    WITH assign AS (
      SELECT DISTINCT user_id,
             ('0x' || SUBSTR(MD5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT % 2
                 AS arm
      FROM events
    ),
    conv AS (
      SELECT user_id FROM events WHERE event_type = 'purchase'
      GROUP BY user_id HAVING COUNT(*) >= 14
    ),
    cells AS (
      SELECT a.arm,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(COUNT(c.user_id) AS BIGINT) AS n_converted
      FROM assign a LEFT JOIN conv c ON c.user_id = a.user_id
      GROUP BY a.arm
    ),
    wide AS (
      SELECT MAX(CASE WHEN arm = 0 THEN n_users END) AS n0,
             MAX(CASE WHEN arm = 0 THEN n_converted END) AS x0,
             MAX(CASE WHEN arm = 1 THEN n_users END) AS n1,
             MAX(CASE WHEN arm = 1 THEN n_converted END) AS x1
      FROM cells
    )
    SELECT n0, x0, n1, x1,
           ROUND(CAST(x0 AS DOUBLE) / CAST(n0 AS DOUBLE), 6) AS rate0,
           ROUND(CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE), 6) AS rate1,
           ROUND((CAST(x0 AS DOUBLE) / CAST(n0 AS DOUBLE)
                  - CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                 / SQRT((CAST(x0 + x1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
                        * (1.0 - CAST(x0 + x1 AS DOUBLE)
                                 / CAST(n0 + n1 AS DOUBLE))
                        * (1.0 / CAST(n0 AS DOUBLE)
                           + 1.0 / CAST(n1 AS DOUBLE))), 6) AS zscore,
           ABS((CAST(x0 AS DOUBLE) / CAST(n0 AS DOUBLE)
                - CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE))
               / SQRT((CAST(x0 + x1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
                      * (1.0 - CAST(x0 + x1 AS DOUBLE)
                               / CAST(n0 + n1 AS DOUBLE))
                      * (1.0 / CAST(n0 AS DOUBLE)
                         + 1.0 / CAST(n1 AS DOUBLE)))) > 1.96
               AS significant_95
    FROM wide
    """,
    survey="extension (experimentation): two-proportion z-test over a "
    "hash-deterministic A/B user split (conversion = heavy purchaser, a "
    "non-saturating definition at every SF) — pooled-variance z on exact "
    "integer cell counts (one distinct-user pass + one semi-join-shaped "
    "LEFT JOIN to converters), fixed IEEE expression tree both engines, "
    "|z|>1.96 significance verdict. The experiment readout every "
    "product-analytics stack computes; hash assignment makes the split "
    "reproducible across engines and reruns. No reference analog",
)
def ab_test_proportions_ztest(spark, sf_dir) -> DataFrame:
    """A/B conversion readout: md5-parity arms, purchase conversion,
    pooled two-proportion z-score and 95% significance flag."""
    ev = t(spark, sf_dir, "events")
    assign = ev.select("user_id").distinct().select(
        "user_id",
        (
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 12),
                16,
                10,
            ).cast("long")
            % 2
        ).alias("arm"),
    )
    # "converted" = a heavy purchaser (>= 14 purchases): per-user purchase
    # counts are scale-invariant in this data (~13 median at every SF), so
    # the split stays near 50/50 instead of saturating at "everyone
    # purchased at least once"
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("npur"))
        .filter(F.col("npur") >= 14)
        .select("user_id")
        .withColumn("converted", F.lit(1))
    )
    cells = (
        assign.join(conv, "user_id", "left")
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.count("converted").cast("long").alias("n_converted"),
        )
    )
    wide = cells.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n_users"))).alias("n0"),
        F.max(F.when(F.col("arm") == 0, F.col("n_converted"))).alias("x0"),
        F.max(F.when(F.col("arm") == 1, F.col("n_users"))).alias("n1"),
        F.max(F.when(F.col("arm") == 1, F.col("n_converted"))).alias("x1"),
    )
    n0d = F.col("n0").cast("double")
    x0d = F.col("x0").cast("double")
    n1d = F.col("n1").cast("double")
    x1d = F.col("x1").cast("double")
    pool = (x0d + x1d) / (n0d + n1d)
    z = (x0d / n0d - x1d / n1d) / F.sqrt(
        pool * (F.lit(1.0) - pool) * (F.lit(1.0) / n0d + F.lit(1.0) / n1d)
    )
    return wide.select(
        "n0",
        "x0",
        "n1",
        "x1",
        F.round(x0d / n0d, 6).alias("rate0"),
        F.round(x1d / n1d, 6).alias("rate1"),
        F.round(z, 6).alias("zscore"),
        (F.abs(z) > 1.96).alias("significant_95"),
    )
