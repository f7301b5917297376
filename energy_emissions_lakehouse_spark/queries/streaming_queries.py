"""Registry entries for the Structured Streaming jobs (streaming/jobs.py).

Each entry starts a REAL streaming query (readStream file source ->
watermark -> windowed aggregation -> memory sink), runs it to completion
with ``availableNow``, and returns the sink table — so the driver's DuckDB
comparison validates the streaming execution path itself. ``complete``
output mode is used so every window reaches the sink regardless of where
the watermark stops on a bounded input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from energy_emissions_lakehouse_spark.functions.exact import scaled_sum_sql
from energy_emissions_lakehouse_spark.registry import register
from energy_emissions_lakehouse_spark.streaming import jobs


@register(
    "stream_hourly_tumbling",
    oracle=f"""
    SELECT DATE_TRUNC('hour', ts)        AS window_start,
           event_type,
           COUNT(*)                      AS n_events,
           {scaled_sum_sql('value')}     AS total_value
    FROM events
    GROUP BY DATE_TRUNC('hour', ts), event_type
    """,
    survey="extension (streaming): readStream -> withWatermark(1h) -> "
    "tumbling F.window(1h) -> memory sink, run via availableNow; result "
    "must equal the batch oracle exactly",
)
def stream_hourly_tumbling(spark, sf_dir) -> DataFrame:
    ev = jobs.read_events_stream(spark, sf_dir)
    return jobs.run_to_table(jobs.hourly_tumbling(ev), mode="complete")


@register(
    "stream_sliding_counts",
    oracle="""
    WITH starts AS (
        SELECT DATE_TRUNC('hour', ts) AS window_start FROM events
        UNION ALL
        SELECT DATE_TRUNC('hour', ts) - INTERVAL 1 HOUR FROM events
    )
    SELECT window_start, COUNT(*) AS n_events
    FROM starts GROUP BY window_start
    """,
    survey="extension (streaming): sliding window (2h length / 1h slide) — "
    "each event contributes to two windows; oracle enumerates both starts",
)
def stream_sliding_counts(spark, sf_dir) -> DataFrame:
    ev = jobs.read_events_stream(spark, sf_dir)
    return jobs.run_to_table(jobs.sliding_counts(ev), mode="complete")


@register(
    "stream_session_windows",
    oracle=f"""
    WITH ordered AS (
        SELECT user_id, event_id, ts,
               LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events
    ),
    flagged AS (
        SELECT user_id, event_id, ts,
               CASE WHEN prev_ts IS NULL
                      OR DATE_DIFF('second', prev_ts, ts) > {jobs.SESSION_GAP_SECONDS}
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
           DATE_TRUNC('second', MIN(ts)) AS session_start,
           COUNT(*)                      AS n_events
    FROM numbered
    GROUP BY user_id, session_id
    """,
    survey="extension (streaming): native F.session_window (30-min gap) per "
    "user — streaming result must equal the batch gaps-and-islands oracle",
)
def stream_session_windows(spark, sf_dir) -> DataFrame:
    ev = jobs.read_events_stream(spark, sf_dir)
    return jobs.run_to_table(jobs.session_windows(ev), mode="complete")


@register(
    "stream_dedup_counts",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events
    FROM events GROUP BY event_type
    """,
    survey="extension (streaming): dropDuplicatesWithinWatermark over a "
    "self-doubled stream — dedup must restore exact per-type counts",
)
def stream_dedup_counts(spark, sf_dir) -> DataFrame:
    ev = jobs.read_events_stream(spark, sf_dir)
    return jobs.run_to_table(jobs.dedup_within_watermark(ev), mode="complete")


@register(
    "stream_stateful_user_stats",
    oracle=f"""
    SELECT user_id,
           COUNT(*) AS n_events,
           {scaled_sum_sql('value')} AS total_value
    FROM events
    GROUP BY user_id
    """,
    survey="extension (streaming, custom state): applyInPandasWithState — "
    "explicit per-user GroupState (count + integer-cents sum) updated per "
    "micro-batch; final emitted state must equal the batch aggregate",
)
def stream_stateful_user_stats(spark, sf_dir) -> DataFrame:
    ev = jobs.read_events_stream(spark, sf_dir)
    return jobs.run_to_table(jobs.stateful_user_stats(ev), mode="update")


@register(
    "stream_static_enriched_counts",
    oracle=f"""
    SELECT c.c_mktsegment            AS segment,
           e.event_type,
           COUNT(*)                  AS n_events,
           {scaled_sum_sql('e.value')} AS total_value
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY c.c_mktsegment, e.event_type
    """,
    survey="extension (streaming): stream-static broadcast join — the "
    "dimension-enrichment shape every streaming pipeline has. The static "
    "side joins statelessly inside each micro-batch (no join state, no "
    "watermark interaction); only the downstream keyed aggregate holds "
    "state. Result must equal the batch join+aggregate oracle",
)
def stream_static_enriched_counts(spark, sf_dir) -> DataFrame:
    from energy_emissions_lakehouse_spark.tables import t

    ev = jobs.read_events_stream(spark, sf_dir)
    customer = t(spark, sf_dir, "customer")
    return jobs.run_to_table(
        jobs.static_enriched_counts(ev, customer), mode="complete"
    )


@register(
    "stream_purchase_click_join",
    oracle="""
    SELECT p.event_id AS purchase_id,
           c.event_id AS click_id,
           p.user_id
    FROM events p
    JOIN events c
      ON c.user_id = p.user_id
     AND c.event_type = 'click'
     AND p.event_type = 'purchase'
     AND p.ts >= c.ts
     AND p.ts < c.ts + INTERVAL 1 HOUR
    """,
    survey="extension (streaming): stream-stream interval join — purchases "
    "x same-user clicks within the trailing hour; watermarks on both sides "
    "+ a two-sided time bound let Spark evict join state, the only way a "
    "stream-stream join survives unbounded input. Append mode; result must "
    "equal the batch interval-join oracle",
)
def stream_purchase_click_join(spark, sf_dir) -> DataFrame:
    ev = jobs.read_events_stream(spark, sf_dir)
    return jobs.run_to_table(
        jobs.purchase_click_interval_join(ev), mode="append"
    )


@register(
    "stream_foreachbatch_upsert",
    oracle=f"""
    SELECT user_id,
           COUNT(*)                  AS n_events,
           {scaled_sum_sql('value')} AS total_value
    FROM events
    GROUP BY user_id
    """,
    survey="extension (streaming, sinks): foreachBatch incremental upsert "
    "— the reference's staging + ON CONFLICT DO UPDATE load "
    "(load_to_postgres.py:73-117) as a streaming sink. The source replays "
    "as 4 micro-batches (maxFilesPerTrigger=1); each batch MERGEs its "
    "per-user aggregate into a versioned persisted table via full-outer "
    "join + coalesced sums. The final table must equal the one-shot batch "
    "aggregate, proving the merge is associative across batch boundaries",
)
def stream_foreachbatch_upsert(spark, sf_dir) -> DataFrame:
    src = jobs.stage_events_split(spark, sf_dir, n_files=4)
    return jobs.run_foreachbatch_upsert(spark, src)


@register(
    "stream_chained_window_rollup",
    oracle="""
    SELECT DATE_TRUNC('day', ts) AS day,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
    survey="extension (streaming): chained stateful operators — hourly "
    "tumbling counts rolled into daily totals inside ONE streaming query "
    "(Spark >=3.4 multi-stateful support), no intermediate sink; append "
    "result must equal the one-level batch daily aggregate",
)
def stream_chained_window_rollup(spark, sf_dir) -> DataFrame:
    from pyspark.sql import functions as F

    ev = jobs.read_events_stream_with_flush(spark, sf_dir)
    out = jobs.run_to_table(jobs.chained_window_rollup(ev), mode="append")
    # the first watermark sentinel's own (already-closed) windows surface
    # in the sink; they are not part of the dataset
    return out.filter(F.col("event_type") != "__flush__")


@register(
    "stream_purchase_click_left_join",
    oracle="""
    SELECT p.event_id AS purchase_id,
           c.event_id AS click_id,
           p.user_id
    FROM events p
    LEFT JOIN events c
      ON c.user_id = p.user_id
     AND c.event_type = 'click'
     AND p.ts >= c.ts
     AND p.ts < c.ts + INTERVAL 1 HOUR
    WHERE p.event_type = 'purchase'
    """,
    survey="extension (streaming): stream-stream LEFT OUTER interval join "
    "— unmatched purchases emit with null click only after the watermark "
    "proves no matching click can still arrive; on the bounded replay the "
    "flush sentinels advance both sides' watermarks past every real event "
    "(sentinels flow THROUGH the watermark nodes, are dropped only at the "
    "sink). Result must equal the batch LEFT JOIN oracle — the strongest "
    "check that outer-emission timing loses nothing",
)
def stream_purchase_click_left_join(spark, sf_dir) -> DataFrame:
    from pyspark.sql import functions as F

    # one stateful op (the join) -> one sentinel batch; the no-data
    # micro-batch applies the final watermark (verified equal to the
    # 2-sentinel replay row-for-row)
    ev = jobs.read_events_stream_with_flush(spark, sf_dir, n_sentinels=1)
    out = jobs.run_to_table(jobs.purchase_click_left_join(ev), mode="append")
    # sentinel rows (user_id = -1) were only there to advance watermarks
    return out.filter(F.col("user_id") >= 0)


@register(
    "stream_session_timeout_close_coarse",
    oracle=f"""
    WITH d AS (
        SELECT user_id, ts,
               CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         IS NULL
                     OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                        > INTERVAL {jobs.SESSION_GAP_SECONDS} SECOND
                    THEN 1 ELSE 0 END AS brk
        FROM events
    ),
    s AS (
        SELECT user_id, ts,
               SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
        FROM d
    )
    SELECT user_id,
           DATE_TRUNC('second', MIN(ts)) AS session_start,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, sid
    """,
    survey="extension (streaming, custom stateful operator): per-user "
    "sessionization with EVENT-TIME TIMEOUT state eviction "
    "(applyInPandasWithState) — sessions close on the in-stream gap OR "
    "when the watermark passes last_ts + gap with no further events; the "
    "bounded replay's flush sentinels fire the final timeouts. State key "
    "is pmod(user_id, 64) instead of the raw user id, so the ~1 ms/group "
    "Python/Arrow floor is paid per BUCKET (a chosen constant, >= core "
    "count) instead of per user; each bucket's state holds its users' "
    "open sessions as parallel arrays. Timeouts re-arm at the earliest "
    "due session and close only sessions the current watermark has "
    "actually passed. Must equal the batch gaps-and-islands oracle "
    "exactly — the check that timeout-driven emission neither loses nor "
    "duplicates sessions. When the semantics are plain gap "
    "sessionization, the native session_window variant "
    "(stream_session_windows) needs no per-group Python at all",
)
def stream_session_timeout_close_coarse(spark, sf_dir) -> DataFrame:
    from pyspark.sql import functions as F

    ev = jobs.read_events_stream_with_flush(spark, sf_dir, n_sentinels=1)
    out = jobs.run_to_table(
        jobs.stateful_session_close_coarse(ev), mode="append",
        state_partitions=16,
    )
    return out.filter(F.col("user_id") >= 0).select(
        "user_id",
        F.date_trunc("second", F.col("session_start")).alias("session_start"),
        "n_events",
    )


@register(
    "stream_purchase_click_full_join",
    oracle="""
    SELECT p.event_id AS purchase_id,
           c.event_id AS click_id,
           COALESCE(p.user_id, c.user_id) AS user_id
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase') p
    FULL JOIN (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'click') c
      ON c.user_id = p.user_id
     AND p.ts >= c.ts
     AND p.ts < c.ts + INTERVAL 1 HOUR
    """,
    survey="extension (streaming): stream-stream FULL OUTER interval join "
    "— unmatched rows from BOTH sides emit with nulls only after the "
    "watermark passes their join window; completes the streaming join-"
    "mode matrix (inner / left outer / full outer) against the same "
    "batch oracle family",
)
def stream_purchase_click_full_join(spark, sf_dir) -> DataFrame:
    from pyspark.sql import functions as F

    # one stateful op (the join) -> one sentinel batch (same contract as
    # the left join; verified equal to the 2-sentinel replay)
    ev = jobs.read_events_stream_with_flush(spark, sf_dir, n_sentinels=1)
    out = jobs.run_to_table(jobs.purchase_click_full_join(ev), mode="append")
    # sentinel rows (user_id = -1, incl. their self-matches) drop after
    # the sink — they existed only to advance both watermarks
    return out.filter(F.col("user_id") >= 0)


def _ingest_neardup_oracle() -> str:
    from energy_emissions_lakehouse_spark.queries.text import (
        JACCARD_THRESHOLD,
        _BAND_JOIN,
        _BANDS_CTE,
        _DOC_SH_CTE,
        _JACCARD_SQL,
        _SIGS_CTE,
        _TIDS_CTE,
    )

    return f"""
    WITH {_DOC_SH_CTE}, {_TIDS_CTE}, {_SIGS_CTE}, {_BANDS_CTE},
    cand AS (
      SELECT DISTINCT
        CASE WHEN x.doc_id % 10 >= 8 THEN x.doc_id ELSE y.doc_id END AS new_id,
        CASE WHEN x.doc_id % 10 >= 8 THEN y.doc_id ELSE x.doc_id END AS hist_id
      FROM bands x JOIN bands y ON {_BAND_JOIN} AND x.doc_id < y.doc_id
      WHERE (x.doc_id % 10 >= 8) <> (y.doc_id % 10 >= 8)
    )
    SELECT c.new_id, c.hist_id, d.lang, {_JACCARD_SQL} AS sim
    FROM cand c
    JOIN doc_sh a ON a.doc_id = c.new_id
    JOIN doc_sh b ON b.doc_id = c.hist_id
    JOIN documents d ON d.doc_id = c.new_id
    WHERE {_JACCARD_SQL} >= {JACCARD_THRESHOLD}
    ORDER BY c.new_id, c.hist_id
    """


@register(
    "stream_ingest_neardup",
    oracle=_ingest_neardup_oracle(),
    survey="extension (streaming x dedup — ingestion gate): arriving "
    "documents stream through per-row shingling + ROW-WISE MinHash "
    "(array_min over affine transforms — signature as a stateless "
    "expression, bit-identical to the batch explode+groupBy form), band "
    "explode, then stream-static equi-joins against the pre-built "
    "historical LSH band index and shingle sets, with exact-Jaccard "
    "verification in-stream. ZERO streaming state: no watermark, no "
    "state store — dedup-at-ingest is candidate generation against a "
    "static index, so each arriving batch shuffles only its own band "
    "keys while the 100 TB history sits as the index. The continuous "
    "form of dedup_incremental_batch; same band/verify math, pinned by "
    "the batch oracle",
)
def stream_ingest_neardup(spark, sf_dir) -> DataFrame:
    """Confirmed near-duplicate (new_id, hist_id, lang, sim) pairs of the
    simulated incoming batch (doc_id%10 >= 8) vs history, computed by a
    stateless streaming pipeline run to completion."""
    out = jobs.stream_ingest_neardup_pairs(spark, sf_dir)
    return out.select("new_id", "hist_id", "lang", "sim").orderBy(
        "new_id", "hist_id"
    )


@register(
    "stream_trending_topk",
    oracle="""
    WITH hourly AS (
      SELECT DATE_TRUNC('hour', ts) AS window_start, event_type,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events
      GROUP BY DATE_TRUNC('hour', ts), event_type
    ),
    ranked AS (
      SELECT window_start, event_type, n_events,
             CAST(ROW_NUMBER() OVER (PARTITION BY window_start
                                     ORDER BY n_events DESC, event_type)
                  AS BIGINT) AS rnk
      FROM hourly
    )
    SELECT window_start, rnk, event_type, n_events
    FROM ranked WHERE rnk <= 2
    ORDER BY window_start, rnk
    """,
    survey="extension (streaming): trending top-k — the streaming job "
    "maintains watermarked per-(window, type) counts (keyed state, "
    "mergeable); the per-window rank runs BATCH on the sink table (<= "
    "|event types| rows per window), the production serving-layer split: "
    "ranking inside the stream would force a non-mergeable global view. "
    "Window is partitioned per window_start -> bounded input",
)
def stream_trending_topk(spark, sf_dir) -> DataFrame:
    """Top-2 trending event types per hour window: real streaming pre-agg
    (readStream -> watermark -> tumbling count -> sink), then a bounded
    rank over the serving table."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ev = jobs.read_events_stream(spark, sf_dir)
    tbl = jobs.run_to_table(jobs.hourly_tumbling(ev), mode="complete")
    w = Window.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), "event_type"
    )
    return (
        tbl.select(
            "window_start",
            "event_type",
            F.col("n_events").cast("long").alias("n_events"),
        )
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 2)
        .select("window_start", "rnk", "event_type", "n_events")
        .orderBy("window_start", "rnk")
    )


@register(
    "stream_rolling_distinct_users",
    oracle="""
    WITH days AS (
      SELECT DISTINCT DATE_TRUNC('day', ts) AS day_ts FROM events
    ),
    user_days AS (
      SELECT DISTINCT DATE_TRUNC('day', ts) AS day_ts, user_id FROM events
    ),
    exact AS (
      SELECT d.day_ts, COUNT(DISTINCT u.user_id) AS exact_users
      FROM days d JOIN user_days u
        ON u.day_ts BETWEEN d.day_ts - INTERVAL 6 DAY AND d.day_ts
      GROUP BY d.day_ts
    )
    SELECT day_ts, exact_users, TRUE AS approx_within_8pct
    FROM exact ORDER BY day_ts
    """,
    survey="extension (streaming + sketches): rolling 7-day distinct "
    "users where the DAILY sketches are built by a watermarked streaming "
    "window aggregate (state per window = one fixed-size HLL, evicted on "
    "watermark passage; raw user ids never persist) and the trailing-"
    "window union runs in the serving layer over the streamed sketch "
    "table. The streaming twin of rolling_distinct_users_hll: the "
    "lambda-architecture shape where stream state stays KB-bounded and "
    "window widening is a batch-side sketch merge. Exact verdict "
    "pinned within 8%",
)
def stream_rolling_distinct_users(spark, sf_dir) -> DataFrame:
    """Streaming daily HLL sketches -> batch trailing-7-day sketch union,
    verdict-checked against the exact recompute."""
    from pyspark.sql import functions as F

    from energy_emissions_lakehouse_spark.tables import t

    # the flush sentinel (max ts + 2 days) advances the final watermark
    # past the last real day — plain bounded replay withholds the trailing
    # windows forever in append mode (observed: 28/30 days without it)
    ev_stream = jobs.read_events_stream_with_flush(spark, sf_dir, n_sentinels=1)
    daily_sk = jobs.run_to_table(
        jobs.daily_user_sketches(ev_stream), mode="append"
    )
    fan = daily_sk.select(
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"),
        "day_ts",
        "sk",
    ).select(
        F.expr("day_ts + make_interval(0, 0, 0, off)").alias("win_end"),
        "sk",
    )
    merged = fan.groupBy("win_end").agg(F.hll_union_agg("sk").alias("u"))

    ev = t(spark, sf_dir, "events")
    user_days = ev.select(
        F.date_trunc("day", F.col("ts")).alias("day_ts"), "user_id"
    ).distinct()
    days = user_days.select("day_ts").distinct()
    exact = (
        days.alias("d")
        .join(
            user_days.alias("u"),
            (F.col("u.day_ts") <= F.col("d.day_ts"))
            & (F.col("u.day_ts") >= F.col("d.day_ts") - F.expr("INTERVAL 6 DAY")),
        )
        .groupBy(F.col("d.day_ts").alias("day_ts"))
        .agg(F.count_distinct("user_id").alias("exact_users"))
    )
    return (
        exact.join(merged, exact.day_ts == merged.win_end)
        .select(
            "day_ts",
            "exact_users",
            (
                F.abs(F.hll_sketch_estimate("u") - F.col("exact_users"))
                <= F.greatest(F.lit(1.0), F.col("exact_users") * F.lit(0.08))
            ).alias("approx_within_8pct"),
        )
        .orderBy("day_ts")
    )


@register(
    "stream_hourly_ohlc",
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
    survey="extension (streaming + time series): hourly OHLC candles "
    "computed IN the watermarked streaming window aggregate — per-window "
    "state is one constant-size candle (struct argmin/argmax + extrema), "
    "evicted on watermark passage; the flush sentinel closes the "
    "trailing hour. Streaming twin of events_hourly_ohlc, value-equal "
    "to the batch oracle — the tick-rollup pipeline shape",
)
def stream_hourly_ohlc(spark, sf_dir) -> DataFrame:
    """Streaming candle build, append mode + flush sentinel; result must
    equal the batch OHLC rollup exactly."""
    ev = jobs.read_events_stream_with_flush(spark, sf_dir, n_sentinels=1)
    out = jobs.run_to_table(jobs.hourly_ohlc(ev), mode="append")
    from pyspark.sql import functions as F

    return out.filter(F.col("event_type") != "__flush__").orderBy(
        "event_type", "hour_ts"
    )


@register(
    "stream_purchase_click_semi_join",
    oracle="""
    SELECT p.event_id AS purchase_id,
           p.user_id,
           DATE_TRUNC('second', p.ts) AS purchase_ts
    FROM events p
    WHERE p.event_type = 'purchase'
      AND EXISTS (
        SELECT 1 FROM events c
        WHERE c.event_type = 'click'
          AND c.user_id = p.user_id
          AND p.ts >= c.ts
          AND p.ts < c.ts + INTERVAL 1 HOUR
      )
    """,
    survey="extension (streaming): stream-stream LEFT SEMI interval join "
    "— purchases with at least one same-user click in the trailing hour, "
    "emitted exactly once with no right-side columns (the EXISTS shape "
    "as a stream). Completes the streaming join-mode matrix "
    "(inner/left/full/semi); same two-sided time bound drives state "
    "eviction. Result equals the batch EXISTS oracle",
)
def stream_purchase_click_semi_join(spark, sf_dir) -> DataFrame:
    ev = jobs.read_events_stream(spark, sf_dir)
    return jobs.run_to_table(jobs.purchase_click_semi_join(ev), mode="append")


@register(
    "stream_cusum_drift",
    oracle="""
    WITH RECURSIVE hourly AS MATERIALIZED (
      SELECT event_type, DATE_TRUNC('hour', ts) AS hour_ts,
             CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS cents
      FROM events GROUP BY event_type, DATE_TRUNC('hour', ts)
    ),
    params AS MATERIALIZED (
      SELECT event_type, CAST(SUM(cents) // COUNT(*) AS BIGINT) AS target
      FROM hourly GROUP BY event_type
    ),
    -- seq MATERIALIZED: the recursive rec term joins seq once per
    -- fixpoint iteration, and DuckDB re-evaluates inlined CTEs each time
    seq AS MATERIALIZED (
      SELECT h.event_type, h.hour_ts, h.cents, p.target,
             p.target // 8 AS slack,
             ROW_NUMBER() OVER (PARTITION BY h.event_type
                                ORDER BY h.hour_ts) AS rn
      FROM hourly h JOIN params p USING (event_type)
    ),
    rec AS (
      SELECT event_type, hour_ts, cents, target, slack, rn,
             GREATEST(CAST(0 AS BIGINT), cents - target - slack) AS s
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT q.event_type, q.hour_ts, q.cents, q.target, q.slack, q.rn,
             GREATEST(CAST(0 AS BIGINT), r.s + q.cents - q.target - q.slack)
                 AS s
      FROM seq q JOIN rec r
        ON r.event_type = q.event_type AND q.rn = r.rn + 1
    )
    SELECT event_type, hour_ts, cents, s AS cusum
    FROM rec ORDER BY event_type, hour_ts
    """,
    survey="extension (streaming, chained custom state): CUSUM drift "
    "detection as a STREAM — watermarked hourly rollup (stateful window "
    "op) feeds a stream-static join against batch-computed control "
    "parameters (target/slack per key), then applyInPandasWithState "
    "folds the s = max(0, s + x - target - slack) recursion across "
    "micro-batches (the scalar accumulator is the ONLY custom state; "
    "hour windows finalize in event-time order, so per-batch hour-"
    "sorted folding over the carried s reproduces the sequential "
    "recursion exactly). The two stages hop through a parquet file sink "
    "(applyInPandasWithState cannot consume an in-query streaming "
    "aggregate — the storage hop IS the production pipeline shape). "
    "Streaming twin of events_cusum_drift; full series value-equal to "
    "the recursive-CTE oracle",
)
def stream_cusum_drift(spark, sf_dir) -> DataFrame:
    from pyspark.sql import functions as F

    from energy_emissions_lakehouse_spark.tables import t

    ev_batch = t(spark, sf_dir, "events")
    hourly_batch = ev_batch.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour_ts")
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long"))
        .cast("long")
        .alias("cents")
    )
    targets = hourly_batch.groupBy("event_type").agg(
        F.expr("CAST(sum(cents) div count(*) AS BIGINT)").alias("target")
    ).select(
        "event_type",
        "target",
        F.expr("CAST(target div 8 AS BIGINT)").alias("slack"),
    )
    import os
    import shutil

    from energy_emissions_lakehouse_spark.fsutil import staging_dir

    # stage 1: watermarked hourly rollup -> parquet file sink (the
    # storage hop; one flush sentinel closes the trailing hour)
    hop = os.path.join(staging_dir("cusum_hop"), "hourly")
    shutil.rmtree(hop, ignore_errors=True)
    shutil.rmtree(hop + ".ckpt", ignore_errors=True)
    ev = jobs.read_events_stream_with_flush(spark, sf_dir, n_sentinels=1)
    jobs.run_aggregate_to_dir(jobs.hourly_cents_by_type(ev), hop)

    # stage 2: stream the finalized hourly rows into the stateful fold
    hourly_stream = spark.readStream.schema(
        "event_type string, hour_ts timestamp, cents long"
    ).parquet(hop)
    out = jobs.run_to_table(
        jobs.cusum_fold(hourly_stream, targets),
        mode="update",
        state_partitions=16,
    )
    return out.filter(F.col("event_type") != "__flush__").orderBy(
        "event_type", "hour_ts"
    )


def _stream_pq_oracle() -> str:
    from energy_emissions_lakehouse_spark.queries.vectors import (
        _pq_incremental_oracle_sql,
    )

    return _pq_incremental_oracle_sql(m=16, ksub=32, iters=2)


@register(
    "stream_pq_incremental_assign",
    oracle=_stream_pq_oracle(),
    survey="extension (streaming x similarity — stream-side incremental "
    "ANN index maintenance): arriving embeddings (the vec_id%10 ingest "
    "gate) are encoded against the FROZEN staged PQ codebooks inside a "
    "streaming micro-batch — per-row argmin over literal codebook "
    "tables (streaming/jobs.rowwise_pq_code_cols; bit-identical to the "
    "batch pq_encode_frozen, pinned by test), then the sink's codes "
    "merge with the staged history census + drift exactly like "
    "pq_incremental_assign. ZERO streaming state (stateless select/"
    "explode; append mode would reject any stateful plan) and history "
    "is never re-encoded — the continuous form of index maintenance a "
    "100 TB ingest path runs. Same oracle as the batch twin: the "
    "streaming hop must not change a single value",
)
def stream_pq_incremental_assign(spark, sf_dir) -> DataFrame:
    """Merged-index cell census + drift (always 0) where the ingest
    batch's PQ codes were computed by a stateless streaming pipeline
    against the frozen staged codebooks; history codes come from the
    staged parquet and are never re-encoded."""
    from energy_emissions_lakehouse_spark.queries.vectors import (
        _merged_cell_census,
        _pq_staged_model,
    )

    encoded, codebooks = _pq_staged_model(spark, sf_dir, m=16, ksub=32, iters=2)
    batch_enc = jobs.stream_pq_encode_batch(spark, sf_dir, codebooks, m=16)
    return _merged_cell_census(encoded, batch_enc)
