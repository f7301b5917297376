"""Structured Streaming jobs over the ``events`` table (SURVEY.md §2.12).

The reference has no streaming surface (its re-run-the-batch medallion is
the substitute); this module is the engine's extension: a real
``readStream`` file source -> watermarked/windowed transformations ->
``writeStream`` sink. Each job also exists as a batch query in
queries/events.py with identical semantics; the registry entries here run
the stream to completion with ``trigger(availableNow=True)`` and hand the
sink table back as a bounded DataFrame, so the DuckDB oracle checks the
*streaming* result, not just the batch analog.

Scale design:
- the file source is partition-parallel and rate-limitable
  (``maxFilesPerTrigger``) — backpressure at 100 TB is a config, not code;
- all aggregations are keyed (window/event_type/user) so state is
  hash-partitioned across executors; watermarks bound state size;
- ``complete`` output mode is used where the oracle needs every window
  (bounded key space here); production append-mode + watermark eviction is
  the same plan with a different sink contract.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from energy_emissions_lakehouse_spark.fsutil import (
    staged_artifact,
    staging_dir,
    table_cache_key,
)
from energy_emissions_lakehouse_spark.functions.exact import scaled_sum
from energy_emissions_lakehouse_spark.session import configure_runtime
from energy_emissions_lakehouse_spark.tables import EVENTS_SCHEMA, t as load_table

SESSION_GAP_SECONDS = 1800


def _stage_events_dir(spark: SparkSession, sf_dir: str, extra: str = "") -> str:
    """One-time canonicalized copy of events for the file source.

    The file source monitors a DIRECTORY, and sf_dir mixes every table's
    parquet (different schemas) — so stage a directory holding only events.
    The staged copy is written through ``tables.t``, which normalizes the
    raw file's ts encoding (ns-int64 in some testdata generations, plain
    TIMESTAMP_MICROS in others) to one canonical TIMESTAMP(MICROS) — every
    streaming reader then uses EVENTS_SCHEMA with no per-row conversion."""

    def populate(tmp: str) -> None:
        load_table(spark, sf_dir, "events").coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)

    # keyed on the source's mtime+size: a regenerated dataset at the same
    # path gets a fresh staging dir
    return staged_artifact(
        "stream_src", table_cache_key(sf_dir, "events", extra), populate
    )


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the staged canonical events copy."""
    configure_runtime(spark)
    src = _stage_events_dir(spark, sf_dir)
    return spark.readStream.schema(EVENTS_SCHEMA).parquet(src)


def read_stream_from_dir(
    spark: SparkSession, src_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Stream from an arbitrary staged directory of canonical events-schema
    parquet. ``max_files_per_trigger=1`` forces one micro-batch per file —
    the multi-batch path where watermarks advance and state merges across
    batches (exercised in tests/test_streaming_multibatch.py)."""
    configure_runtime(spark)
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(src_dir)


def run_to_table(
    stream: DataFrame, mode: str, state_partitions: int = 8
) -> DataFrame:
    """Run a streaming DataFrame to completion (availableNow) into a memory
    sink and return the sink contents as a bounded DataFrame.

    ``state_partitions`` pins spark.sql.shuffle.partitions for the
    duration of query PLANNING — a streaming query's state-store count is
    frozen from this conf at first start, and every stateful micro-batch
    pays per-store open/commit cost. The right number tracks the
    executor count (it IS the state parallelism on a cluster); the
    session-wide batch setting (32 here) costs ~4x per-batch overhead on
    bounded local replays. Restored immediately after start."""
    spark = stream.sparkSession
    name = f"eel_stream_{uuid.uuid4().hex[:12]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            stream.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    q.awaitTermination()
    # Round-12 leak fix (guide §5 — the driver should hold almost
    # nothing): every bounded replay used to leave its memory-sink temp
    # view (and with it the sink's collected rows) registered forever —
    # a 292-query bench accumulates ~80 of them plus their state-store
    # providers, and repeated-run probing measured per-stream wall
    # drifting +50% over 7 back-to-back runs from that buildup. The
    # sink contents are aggregate-sized by construction, so copy them
    # out once (localCheckpoint) and release the view + the terminated
    # query handle; the checkpointed blocks free with the returned
    # DataFrame via the ContextCleaner.
    out = spark.table(name).localCheckpoint(eager=True)
    spark.catalog.dropTempView(name)
    # SESSION-GLOBAL scope (round-12 advice): resetTerminated clears the
    # termination records of EVERY stream in the session, not just the
    # one drained above.  That is safe under this engine's
    # one-query-at-a-time drivers (bench/pytest/grading driver), but a
    # future concurrent consumer relying on awaitAnyTermination would
    # silently lose its signal — isolate such a consumer on
    # spark.newSession(), or drop this call (the view drop alone fixes
    # the row leak; the terminated-handle list is the smaller half).
    spark.streams.resetTerminated()
    return out


def hourly_tumbling(events: DataFrame) -> DataFrame:
    """Watermarked tumbling-window aggregate: the canonical streaming shape.
    1-hour watermark bounds state; epoch-aligned 1-hour windows match
    DATE_TRUNC('hour') exactly."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
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


def sliding_counts(events: DataFrame) -> DataFrame:
    """Sliding window (2h length, 1h slide): each event lands in 2 windows."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


def session_windows(events: DataFrame) -> DataFrame:
    """Native session windows (30-min gap) per user — the streaming dual of
    the batch gaps-and-islands sessionization (queries/events.py)."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(
            F.session_window("ts", f"{SESSION_GAP_SECONDS} seconds").alias("sw"),
            "user_id",
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_trunc("second", F.col("sw.start")).alias("session_start"),
            "n_events",
        )
    )


def dedup_within_watermark(events: DataFrame) -> DataFrame:
    """dropDuplicatesWithinWatermark on event_id, then a keyed count.

    The input stream is doubled (self-union) so the dedup actually has
    duplicates to drop; watermark bounds the dedup state retention."""
    doubled = events.unionByName(events)
    return (
        doubled.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def stateful_user_stats(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user running
    (count, value-cents sum) kept in explicit GroupState across batches.

    This is the arbitrary-state tier below built-in windows — the shape for
    custom session logic / CEP at scale: state is per-key (hash-partitioned
    across executors) and each micro-batch touches only keys present in the
    batch. Sums are accumulated in integer cents so state merge order can
    never change the emitted double."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
        ]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("cents", LongType())]
    )

    def update(key, pdfs, state: GroupState):
        import numpy as np

        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # HALF_UP (away from zero), mirroring F.round and DuckDB ROUND.
            # pandas .round(0) is half-EVEN: an exactly-representable half
            # cent (value=0.125 -> 12.5) would diverge across engines.
            c = pdf["value"].mul(100)
            cents += int(
                (np.sign(c) * np.floor(c.abs() + 0.5)).astype("int64").sum()
            )
        state.update((n, cents))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [cents / 100.0],
            }
        )

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def static_enriched_counts(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream-static broadcast join: each micro-batch equi-joins the
    (bounded, broadcast) customer dimension — STATELESS, unlike
    stream-stream joins, so no watermark bookkeeping is needed for the
    join itself. At scale the dim re-broadcasts per batch; the aggregate
    state is keyed on (segment, event_type) — a fixed, tiny key space."""
    dim = customer.select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    return (
        events.withWatermark("ts", "1 hour")
        .join(F.broadcast(dim), "user_id")
        .groupBy("segment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            scaled_sum(F.col("value")).alias("total_value"),
        )
    )


def purchase_click_interval_join(events: DataFrame) -> DataFrame:
    """Stream-stream interval join: purchases matched to same-user clicks in
    the preceding hour. Both sides carry watermarks and the join condition
    bounds event time in BOTH directions — that pair is what lets Spark
    evict join state (a click older than purchase_ts - 1h can never match
    again). Append mode; matches emit as soon as both sides arrive."""
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    cond = (
        (purchases.user_id == clicks.click_user)
        & (purchases.purchase_ts >= clicks.click_ts)
        & (purchases.purchase_ts < clicks.click_ts + F.expr("INTERVAL 1 HOUR"))
    )
    return purchases.join(clicks, cond).select(
        "purchase_id", "click_id", "user_id"
    )


def stage_events_split(
    spark: SparkSession, sf_dir: str, n_files: int = 4
) -> str:
    """Stage events as an n-file parquet directory (µs timestamps) so a
    maxFilesPerTrigger=1 stream replays it as n micro-batches. Idempotent
    per (sf_dir, n_files); testdata stays untouched."""

    def populate(tmp: str) -> None:
        load_table(spark, sf_dir, "events").repartition(n_files).write.mode(
            "overwrite"
        ).parquet(tmp)

    return staged_artifact(
        "stream_src", "split_" + table_cache_key(sf_dir, "events", n_files),
        populate,
    )


def run_foreachbatch_upsert(spark: SparkSession, src_dir: str) -> DataFrame:
    """foreachBatch incremental upsert: per micro-batch, aggregate the new
    rows and MERGE them into a persisted per-user running table
    (full-outer join + coalesced sums — the reference's staging +
    ON CONFLICT DO UPDATE pattern, load_to_postgres.py:73-117, as a
    streaming sink). Versioned target paths (v{batch_id}) keep each merge
    an atomic write-then-advance — never rewriting a file that the same
    job is lazily reading; on Delta this whole function is
    ``MERGE INTO`` + exactly-once batch ids. Returns the final table."""
    ev = (
        spark.readStream.schema(
            spark.read.parquet(src_dir).schema
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    root = os.path.join(
        staging_dir("fbatch"), uuid.uuid4().hex[:12]
    )
    state: dict[str, str | None] = {"cur": None}

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        agg = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias(
                "value_cents"
            ),
        )
        if state["cur"] is None:
            out = agg
        else:
            prev = spark.read.parquet(state["cur"])
            out = (
                prev.withColumnRenamed("n_events", "p_n")
                .withColumnRenamed("value_cents", "p_c")
                .join(agg, "user_id", "full_outer")
                .select(
                    "user_id",
                    (
                        F.coalesce(F.col("p_n"), F.lit(0))
                        + F.coalesce(F.col("n_events"), F.lit(0))
                    ).alias("n_events"),
                    (
                        F.coalesce(F.col("p_c"), F.lit(0))
                        + F.coalesce(F.col("value_cents"), F.lit(0))
                    ).alias("value_cents"),
                )
            )
        nxt = os.path.join(root, f"v{batch_id}")
        out.write.mode("overwrite").parquet(nxt)
        prev_dir = state["cur"]
        state["cur"] = nxt
        if prev_dir is not None:
            # The superseded version is fully copied into v{batch_id};
            # dropping it bounds disk use to one live + one in-flight
            # version (round 1 leaked every v{N}).
            import shutil

            shutil.rmtree(prev_dir, ignore_errors=True)

    q = (
        ev.writeStream.foreachBatch(upsert)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert state["cur"] is not None
    final = spark.read.parquet(state["cur"])
    return final.select(
        "user_id",
        "n_events",
        (F.col("value_cents").cast("double") / 100.0).alias("total_value"),
    )


def run_foreachbatch_vtable_ingest(
    spark: SparkSession, src_dir: str, sink_root: str
) -> DataFrame:
    """Exactly-once streaming ingest into a versioned table: each
    micro-batch lands as ONE atomic vtable commit carrying its
    ``(source_id, batch_id)`` transaction (operators/vtable.py
    idempotent_append — Delta's ``txn`` action).  To PROVE the
    exactly-once property rather than assert it, every batch is
    deliberately delivered TWICE (Spark's failure model is at-least-once
    redelivery into foreachBatch): the replay must find its transaction
    already in the log and no-op — any double-append double-counts every
    event and breaks the value oracle.

    This replaces run_foreachbatch_upsert's versioned-path dance with
    the real commit protocol: data write + batch-id record are one
    atomic commit, so a crash between them cannot strand a half-applied
    batch.  Scale: the sink writes each batch as one immutable segment;
    the log walk per commit is O(commits) driver metadata."""
    import shutil

    from energy_emissions_lakehouse_spark.operators.vtable import (
        VersionedTable,
    )

    from pyspark.sql.types import StructType as _StructType

    configure_runtime(spark)
    src_schema = spark.read.parquet(src_dir).schema  # resolved ONCE
    ev = (
        spark.readStream.schema(src_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    # The sink table is THIS query's output, rebuilt per run (it is not
    # an index): clear the previous run's root, then seed version 0 with
    # an empty segment of the target schema.
    shutil.rmtree(sink_root, ignore_errors=True)
    cols = ["event_id", "user_id", "event_type", "value"]
    empty = spark.createDataFrame(
        [], _StructType([src_schema[c] for c in cols])
    )
    vt = VersionedTable.create(spark, sink_root, empty)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        data = batch_df.select(*cols)
        v = vt.idempotent_append(data, "events_ingest", batch_id)
        # at-least-once redelivery simulation: the replay MUST no-op and
        # report the same committed version.  A real exception (not
        # assert — the check must survive python -O) because this IS the
        # exactly-once proof the registered oracle relies on.
        v2 = vt.idempotent_append(data, "events_ingest", batch_id)
        if v2 != v:
            raise RuntimeError(
                f"replayed batch {batch_id} double-committed ({v} -> {v2})"
            )

    q = (
        ev.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return vt.read()


def read_events_stream_with_flush(
    spark: SparkSession, sf_dir: str, n_sentinels: int = 2
) -> DataFrame:
    """Like read_events_stream, but the staged directory also holds one
    far-future ``__flush__`` sentinel event (max ts + 2 days). In append
    mode the watermark only passes a window when LATER data arrives — on a
    bounded replay the last windows would be withheld forever. The
    sentinel advances the final watermark past every real window; its own
    windows stay open and are never emitted, and the query additionally
    filters the sentinel out AFTER the watermark node so it can never
    reach an aggregate. The production analog: closing out a day by
    feeding the watermark a heartbeat, standard bounded-replay practice."""
    configure_runtime(spark)
    # Staggered sentinels: each chained stateful operator finalizes one
    # batch AFTER the watermark passes it, so a 2-op pipeline needs 2
    # trailing batches whose watermark already covers every real window.
    # Single-stateful-op queries pass n_sentinels=1 — each sentinel batch
    # re-invokes the stateful operator over every keyed group, so a spare
    # one costs a full group sweep (~1 ms/group of Python for the pandas
    # ops). The staging dir is keyed by the sentinel count: a shared dir
    # would feed 2 sentinels to a query that wants 1.
    src = _stage_events_dir(spark, sf_dir, extra=f"flush{n_sentinels}")
    import datetime as _dt
    import glob
    import shutil

    for i, days in enumerate((2, 4)[:n_sentinels]):
        flush = os.path.join(src, f"zz_flush{i}.parquet")
        if os.path.exists(flush):
            continue
        staged = (
            spark.read.schema(EVENTS_SCHEMA).parquet(src)
            .filter(F.col("event_type") != "__flush__")
        )
        max_ts = staged.agg(F.max("ts")).collect()[0][0]
        row = [(int(-1 - i), max_ts + _dt.timedelta(days=days), int(-1),
                "__flush__", 0.0, "{}")]
        spark.createDataFrame(row, EVENTS_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(flush + ".dir")
        # the file source lists files, not directories: move the part file.
        # Publish ATOMICALLY via a dot-prefixed temp (the file source
        # ignores hidden files) + os.rename — a concurrent process
        # streaming this shared staged dir must never list a
        # partially-copied parquet, and two writers must not interleave
        # into the same destination (the rename loser just overwrites
        # with identical content).
        part = glob.glob(os.path.join(flush + ".dir", "part-*.parquet"))[0]
        tmp = os.path.join(
            src, f".zz_flush{i}.tmp-{os.getpid()}"
        )
        shutil.copyfile(part, tmp)
        os.rename(tmp, flush)
        shutil.rmtree(flush + ".dir")
    # one file per micro-batch: the sentinels arrive in their own batches
    # (file stream orders by modification time), each advancing the
    # previous batch's watermark through the operator chain
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


def chained_window_rollup(events: DataFrame) -> DataFrame:
    """Two chained stateful window aggregates in ONE streaming query
    (Spark >= 3.4 multi-stateful-operator support): hourly counts roll up
    into daily counts without an intermediate sink. The daily stage groups
    on the hourly WINDOW STRUCT itself (F.window over a window column),
    which is what lets the planner chain event-time state correctly."""
    # NOTE: sentinels are NOT filtered here — a pre-aggregation filter
    # gets pushed into the parquet scan, which would drop the sentinel
    # BEFORE the watermark node ever sees it (watermarks are computed from
    # rows that reach the plan at runtime). The sentinel flows through the
    # aggregates; callers drop its rows from the bounded sink output.
    hourly = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        hourly.groupBy(F.window(F.col("w"), "1 day").alias("d"), "event_type")
        .agg(F.sum("n").alias("n_events"))
        .select(F.col("d.start").alias("day"), "event_type", "n_events")
    )


def purchase_click_left_join(events: DataFrame) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every purchase, with its
    same-user click in the preceding hour or nulls if none arrived.

    Outer-join semantics are the hard streaming case: an unmatched left
    row can only be EMITTED once the watermark proves no matching right
    row can still arrive — so on a bounded replay the flush sentinels
    must reach BOTH sides' watermark nodes. The side filters therefore
    keep '__flush__' rows flowing (a filter that dropped them would be
    pushed into the scan and starve the watermark, the round-1 lesson);
    sentinel rows carry user_id = -1 and are dropped from the SINK output
    by the caller, never before the watermark."""
    purchases = (
        events.filter(F.col("event_type").isin("purchase", "__flush__"))
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    clicks = (
        events.filter(F.col("event_type").isin("click", "__flush__"))
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    cond = (
        (purchases.user_id == clicks.click_user)
        & (purchases.purchase_ts >= clicks.click_ts)
        & (purchases.purchase_ts < clicks.click_ts + F.expr("INTERVAL 1 HOUR"))
    )
    return purchases.join(clicks, cond, "left_outer").select(
        "purchase_id", "click_id", "user_id"
    )


#: Bucket count for the coarsened-key sessionizer: the Python-side cost of
#: applyInPandasWithState is ~1 ms PER GROUP per batch (pandas/Arrow call
#: overhead), so 5k user groups cost ~5 s/batch regardless of row volume.
#: Hash-coarsening the state key to 64 buckets cuts that fixed cost 80x
#: while the per-user logic runs vectorized INSIDE each bucket.
SESSION_BUCKETS = 64


def stateful_session_close_coarse(events: DataFrame) -> DataFrame:
    """Per-user sessionization via applyInPandasWithState with EVENT-TIME
    TIMEOUT: a session closes either when a later event arrives past the
    30-min gap or when the WATERMARK passes last_ts + gap with no further
    events — the timeout path, which built-in session_window cannot
    express with custom state.  Emits one row per CLOSED session; times
    are integer microseconds, exact across any batch boundary.  On the
    bounded replay the flush sentinels advance the watermark past every
    real event, firing the final timeouts; sentinel rows (user_id < 0)
    are dropped by the caller AFTER the sink, never before the watermark
    node.

    The state key is COARSENED: ``pmod(user_id, SESSION_BUCKETS)``
    instead of the raw user id, one state entry per bucket holding every
    open session of the bucket's users as parallel arrays.  A per-user
    key would pay the per-group Python/Arrow floor for every user every
    batch (~1 ms x |users|); this pays it per BUCKET (a fixed, chosen
    number), and the per-user work inside the bucket is plain in-memory
    dict/array manipulation — reducer-side key coarsening, as in
    MapReduce-era sessionizers.  Bucket count is a parallelism-vs-overhead
    knob: >= shuffle partitions keeps all cores busy; far below |users|
    kills the constant.

    Timeout handling is the subtle part: a bucket's timeout must fire at
    the EARLIEST (last_ts + gap) across its open sessions; when it fires,
    only sessions actually due at the current watermark close
    (``state.getCurrentWatermarkMs()``), the rest re-arm.  Output rows
    are checked against the gaps-and-islands oracle."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    gap_us = SESSION_GAP_SECONDS * 1_000_000
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("session_start", TimestampType()),
            StructField("n_events", LongType()),
        ]
    )
    # parallel arrays: one open session per user in the bucket
    state_schema = StructType(
        [
            StructField("uids", ArrayType(LongType())),
            StructField("starts", ArrayType(LongType())),
            StructField("lasts", ArrayType(LongType())),
            StructField("ns", ArrayType(LongType())),
        ]
    )

    def closed_frame(rows):
        return pd.DataFrame(
            {
                "user_id": [r[0] for r in rows],
                "session_start": [
                    pd.Timestamp(r[1], unit="us") for r in rows
                ],
                "n_events": [r[2] for r in rows],
            }
        )

    def pop_due(open_by_uid: dict, state: GroupState):
        """Close every session the current watermark has already passed.
        Needed in BOTH paths: a bucket's earliest due time may lie in the
        past whenever other users' events advanced the watermark beyond a
        quiet user's last_ts + gap — and the timeout API refuses to arm
        earlier than the watermark."""
        wm_us = state.getCurrentWatermarkMs() * 1000
        due = [
            (u, s[0], s[2])
            for u, s in sorted(open_by_uid.items())
            if s[1] + gap_us <= wm_us
        ]
        for u, _, _ in due:
            del open_by_uid[u]
        return due

    def save(state: GroupState, open_by_uid: dict) -> None:
        if not open_by_uid:
            state.remove()
            return
        uids = sorted(open_by_uid)
        state.update(
            (
                uids,
                [open_by_uid[u][0] for u in uids],
                [open_by_uid[u][1] for u in uids],
                [open_by_uid[u][2] for u in uids],
            )
        )
        # earliest due time across the bucket's open sessions, ceil'd to
        # ms and clamped past the watermark (the API rejects anything
        # earlier); remaining sessions are strictly future-due after
        # pop_due, so the clamp only covers the sub-ms rounding edge
        earliest_us = min(s[1] for s in open_by_uid.values()) + gap_us
        due_ms = -(-earliest_us // 1000)
        state.setTimeoutTimestamp(
            max(due_ms, state.getCurrentWatermarkMs() + 1)
        )

    def load(state: GroupState) -> dict:
        if not state.exists:
            return {}
        uids, starts, lasts, ns = state.get
        return {
            u: (s, l, n) for u, s, l, n in zip(uids, starts, lasts, ns)
        }

    def update(key, pdfs, state: GroupState):
        open_by_uid = load(state)
        if state.hasTimedOut:
            due = pop_due(open_by_uid, state)
            save(state, open_by_uid)
            if due:
                yield closed_frame(due)
            return
        import numpy as np

        closed = []
        batch = [pdf[["user_id", "ts"]] for pdf in pdfs]
        if batch:
            allb = pd.concat(batch)
            allb["us"] = allb["ts"].astype("datetime64[us]").astype("int64")
            allb = allb.sort_values(["user_id", "us"], kind="mergesort")
            u = allb["user_id"].to_numpy()
            ts = allb["us"].to_numpy()
            # gaps-and-islands fully in numpy: a session break is a user
            # change or an over-gap step — NO per-row Python (the per-row
            # loop, not group-count overhead, was the measured hot spot)
            brk = np.ones(len(u), dtype=bool)
            brk[1:] = (u[1:] != u[:-1]) | ((ts[1:] - ts[:-1]) > gap_us)
            sid = np.cumsum(brk)
            agg = (
                pd.DataFrame({"uid": u, "sid": sid, "us": ts})
                .groupby("sid", sort=True)
                .agg(
                    uid=("uid", "first"),
                    start=("us", "first"),
                    last=("us", "last"),
                    n=("us", "size"),
                )
            )
            uid_a = agg["uid"].to_numpy()
            start_a = agg["start"].to_numpy().copy()
            last_a = agg["last"].to_numpy()
            n_a = agg["n"].to_numpy().copy()
            first = np.ones(len(agg), dtype=bool)
            first[1:] = uid_a[1:] != uid_a[:-1]
            last_sess = np.ones(len(agg), dtype=bool)
            last_sess[:-1] = uid_a[:-1] != uid_a[1:]
            # splice each user's FIRST batch session onto their open
            # state session when the gap allows; otherwise the state
            # session closes as-is
            if open_by_uid:
                st_start = np.array(
                    [open_by_uid.get(x, (0, 0, 0))[0] for x in uid_a]
                )
                st_last = np.array(
                    [open_by_uid.get(x, (0, 0, 0))[1] for x in uid_a]
                )
                st_n = np.array(
                    [open_by_uid.get(x, (0, 0, 0))[2] for x in uid_a]
                )
                has_st = np.array([x in open_by_uid for x in uid_a])
                merge = (
                    first & has_st & (start_a - st_last <= gap_us)
                )
                start_a[merge] = st_start[merge]
                n_a[merge] += st_n[merge]
                drop = first & has_st & ~merge
                closed.extend(
                    (int(x), int(s), int(c))
                    for x, s, c in zip(
                        uid_a[drop], st_start[drop], st_n[drop]
                    )
                )
            # every non-final session of a user closed inside the batch
            done = ~last_sess
            closed.extend(
                (int(x), int(s), int(c))
                for x, s, c in zip(uid_a[done], start_a[done], n_a[done])
            )
            for x, s, l, c in zip(
                uid_a[last_sess], start_a[last_sess],
                last_a[last_sess], n_a[last_sess],
            ):
                open_by_uid[int(x)] = (int(s), int(l), int(c))
        # watermark-due sessions close here too (see pop_due: the bucket's
        # timeout may legally be un-armable for them)
        closed.extend(pop_due(open_by_uid, state))
        save(state, open_by_uid)
        if closed:
            yield closed_frame(closed)

    return (
        events.select("user_id", "ts")
        .withColumn(
            "bucket", F.pmod(F.col("user_id"), F.lit(SESSION_BUCKETS))
        )
        .withWatermark("ts", "1 hour")
        .groupBy("bucket")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def purchase_click_full_join(events: DataFrame) -> DataFrame:
    """Stream-stream FULL OUTER interval join: purchases with their
    preceding-hour clicks, plus unmatched rows from BOTH sides emitted
    with nulls once the watermark proves no partner can arrive. Same
    sentinel contract as the left join (flush rows traverse both
    watermark nodes; caller drops user_id < 0 after the sink)."""
    purchases = (
        events.filter(F.col("event_type").isin("purchase", "__flush__"))
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("purchase_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    clicks = (
        events.filter(F.col("event_type").isin("click", "__flush__"))
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    cond = (
        (purchases.purchase_user == clicks.click_user)
        & (purchases.purchase_ts >= clicks.click_ts)
        & (purchases.purchase_ts < clicks.click_ts + F.expr("INTERVAL 1 HOUR"))
    )
    return purchases.join(clicks, cond, "full_outer").select(
        "purchase_id",
        "click_id",
        F.coalesce("purchase_user", "click_user").alias("user_id"),
    )


def _stage_batch_source_dir(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    pred,
    tag: str,
    n_files: int = 1,
) -> str:
    """Shared staging for simulated ingest-batch streaming file sources
    (the docs and embeddings variants).  Keyed on the source file's
    mtime+size plus ``tag``/``n_files``; ``n_files > 1`` splits the batch
    so a maxFilesPerTrigger=1 stream replays it as several micro-batches."""
    p = os.path.join(sf_dir, f"{table}.parquet")
    key = table_cache_key(sf_dir, table, tag, n_files)

    def populate(tmp: str) -> None:
        (
            spark.read.parquet(p)
            .filter(pred)
            .repartition(n_files)
            .write.mode("overwrite")
            .parquet(tmp)
        )

    return staged_artifact("stream_src", f"{tag}_{key}", populate)


def _stage_docs_batch_dir(
    spark: SparkSession, sf_dir: str, n_files: int = 1
) -> str:
    """Stage the simulated incoming document batch (doc_id % 10 >= 8) as
    a parquet directory for the streaming file source."""
    return _stage_batch_source_dir(
        spark,
        sf_dir,
        "documents",
        F.col("doc_id") % 10 >= 8,
        "docs_ingest",
        n_files=n_files,
    )


def rowwise_minhash_cols(sh_col: str = "sh") -> list:
    """The 16 MinHash signature values as PER-ROW expressions — no
    explode, no groupBy, therefore legal in a STATELESS streaming select
    (the batch implementation's explode + grouped min is a streaming
    aggregation and would demand watermark state for no reason).

    Cost shape: the md5-derived shingle id is materialized ONCE per
    shingle (`hids`), then each hash function is a cheap affine transform
    + array_min over those ids — without the two-step split Catalyst
    would inline the md5 into all 16 lambdas (the documented 16x
    transform-inlining trap). Values are bit-identical to
    operators/dedup.minhash_signatures."""
    from energy_emissions_lakehouse_spark.operators import dedup as dd

    hids = F.transform(
        F.col(sh_col), lambda s: dd.hash_id(s) % F.lit(dd.MINHASH_P)
    )
    exprs = [hids.alias("_hids")]
    return exprs + [
        F.array_min(
            F.transform(
                F.col("_hids"),
                lambda t: (t * F.lit(A) + F.lit(B)) % F.lit(dd.MINHASH_P),
            )
        ).alias(f"h{i}")
        for i, (A, B) in enumerate(zip(dd.MINHASH_A, dd.MINHASH_B))
    ]


def stream_ingest_neardup_pairs(
    spark: SparkSession, sf_dir: str, n_files: int = 1
) -> DataFrame:
    """Dedup-at-ingest: a STREAM of incoming documents is checked for
    near-duplicates against a STATIC historical MinHash/LSH index via
    stream-static equi-joins — the continuous form of
    dedup_incremental_batch, and the shape a 100 TB ingestion gate runs
    (the history index is built once per index version; each arriving
    batch only shuffles its own band keys).

    Every streaming operator here is STATELESS: per-row shingling +
    row-wise MinHash (rowwise_minhash_cols), band explode (map-only
    fan-out of 4 rows/doc), two stream-static inner joins (band index,
    then history shingle sets), and the exact-Jaccard filter. No
    watermark, no state store — availableNow drains the batch in one
    pass. Returns the confirmed (new_id, hist_id, sim, lang) pairs from
    the sink."""
    from energy_emissions_lakehouse_spark.operators import dedup as dd
    from energy_emissions_lakehouse_spark.operators import text as tx
    from energy_emissions_lakehouse_spark.queries.text import (
        JACCARD_THRESHOLD,
    )

    # ---- static side: the historical index (built once, checkpointed)
    hist_docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 < 8)
    )
    hist_sh = dd.doc_shingles(hist_docs).localCheckpoint(eager=True)
    hist_sigs = dd.minhash_signatures(hist_sh)
    n_bands = dd.NUM_HASHES // dd.BAND_SIZE
    hist_bands = None
    for b in range(n_bands):
        cols = [
            F.col(f"h{b * dd.BAND_SIZE + j}").alias(f"b{j}")
            for j in range(dd.BAND_SIZE)
        ]
        part = hist_sigs.select(
            F.col("doc_id").alias("hist_id"), F.lit(b).alias("band"), *cols
        )
        hist_bands = part if hist_bands is None else hist_bands.unionByName(part)
    hist_bands = hist_bands.localCheckpoint(eager=True)
    hist_sets = hist_sh.select(
        F.col("doc_id").alias("hist_id"), F.col("sh").alias("hist_sh")
    )

    # ---- stream side: incoming docs, all stateless expressions
    src = _stage_docs_batch_dir(spark, sf_dir, n_files=n_files)
    schema = spark.read.parquet(src).schema
    reader = spark.readStream.schema(schema)
    if n_files > 1:
        reader = reader.option("maxFilesPerTrigger", 1)
    incoming = (
        reader.parquet(src)
        .select(
            F.col("doc_id").alias("new_id"),
            "lang",
            tx.shingles(tx.tokens(F.col("text")), n=3).alias("sh"),
        )
        .select("new_id", "lang", "sh", *rowwise_minhash_cols("sh"))
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                *[
                    F.col(f"h{b * dd.BAND_SIZE + j}").alias(f"b{j}")
                    for j in range(dd.BAND_SIZE)
                ],
            )
            for b in range(n_bands)
        ]
    )
    new_bands = incoming.select(
        "new_id", "lang", "sh", F.explode(band_structs).alias("bs")
    ).select(
        "new_id", "lang", "sh", "bs.band",
        *[f"bs.b{j}" for j in range(dd.BAND_SIZE)],
    )
    on = ["band"] + [f"b{j}" for j in range(dd.BAND_SIZE)]
    cand = (
        new_bands.join(F.broadcast(hist_bands), on)
        .select("new_id", "lang", "sh", "hist_id")
        .dropDuplicates(["new_id", "hist_id"])
    )
    na = F.size("sh").cast("double")
    nb = F.size("hist_sh").cast("double")
    verified = (
        cand.join(F.broadcast(hist_sets), "hist_id")
        .filter(
            (na >= nb * JACCARD_THRESHOLD) & (nb >= na * JACCARD_THRESHOLD)
        )
        .select(
            "new_id",
            "hist_id",
            "lang",
            F.round(
                dd.jaccard(F.col("sh"), F.col("hist_sh")), 6
            ).alias("sim"),
        )
        .filter(F.col("sim") >= JACCARD_THRESHOLD)
    )
    return run_to_table(verified, mode="append")


def daily_user_sketches(events: DataFrame) -> DataFrame:
    """Watermarked daily tumbling windows aggregating an HLL sketch of the
    user ids seen that day — the streaming half of the rolling-distinct
    pattern: state per window is ONE fixed-size sketch, evicted when the
    1-day watermark passes; raw user ids never persist in state."""
    return (
        events.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .select(F.col("w.start").alias("day_ts"), "sk")
    )


def hourly_ohlc(events: DataFrame) -> DataFrame:
    """Watermarked hourly OHLC candles: open/close as min/max over
    (time, id, value) structs INSIDE the streaming window aggregate —
    the same single-pass argmin/argmax shape as the batch query, with
    per-window state = one candle struct (constant size per key)."""
    pricey = events.select(
        "ts",
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        F.unix_timestamp("ts").alias("es"),
        "event_id",
    )
    tick = F.struct(
        F.col("es"), F.col("event_id"), F.col("cents").alias("cents")
    )
    return (
        pricey.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.min(tick).getField("cents").alias("open_cents"),
            F.max(tick).getField("cents").alias("close_cents"),
            F.max("cents").alias("high_cents"),
            F.min("cents").alias("low_cents"),
            F.count(F.lit(1)).cast("long").alias("n_ticks"),
        )
        .select(
            "event_type",
            F.col("w.start").alias("hour_ts"),
            "open_cents",
            "close_cents",
            "high_cents",
            "low_cents",
            "n_ticks",
        )
    )


def purchase_click_semi_join(events: DataFrame) -> DataFrame:
    """Stream-stream LEFT SEMI interval join: purchases that had a click
    from the same user in the preceding hour — emitted once, no click
    columns. Semi completes the join-mode matrix (inner/left/full/semi);
    state eviction follows the same two-sided time bound."""
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    cond = (
        (purchases.user_id == clicks.click_user)
        & (purchases.purchase_ts >= clicks.click_ts)
        & (purchases.purchase_ts < clicks.click_ts + F.expr("INTERVAL 1 HOUR"))
    )
    return purchases.join(clicks, cond, "left_semi").select(
        "purchase_id",
        "user_id",
        F.date_trunc("second", F.col("purchase_ts")).alias("purchase_ts"),
    )


def hourly_cents_by_type(events: DataFrame) -> DataFrame:
    """Watermarked hourly value-cents rollup per event type (stateful
    window op #1 of the streaming-CUSUM chain)."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.sum(F.round(F.col("value") * 100, 0).cast("long"))
            .cast("long")
            .alias("cents")
        )
        .select(
            "event_type", F.col("w.start").alias("hour_ts"), "cents"
        )
    )


def run_aggregate_to_dir(
    stream: DataFrame, out_dir: str, state_partitions: int = 8
) -> None:
    """Run a watermarked streaming aggregate to a parquet FILE sink
    (availableNow, append mode) — the storage hop between two streaming
    stages. applyInPandasWithState cannot consume an in-query streaming
    aggregate (Spark restriction); the production pipeline shape is
    stage-1 -> files/Kafka -> stage-2, and this helper is that hop."""
    import os
    import uuid as _uuid

    # same state-store pinning as run_to_table: the store count freezes
    # from this conf at query start; a driver-default 200 costs ~25 s of
    # per-batch store open/commit on a bounded replay
    spark = stream.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    ckpt = os.path.join(out_dir + ".ckpt", _uuid.uuid4().hex[:8])
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            stream.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    q.awaitTermination()


def cusum_fold(hourly: DataFrame, targets: DataFrame) -> DataFrame:
    """Stage-2 stateful op: per-key CUSUM recursion s = max(0, s + x -
    target - slack) folded across micro-batches in explicit GroupState.

    ``hourly`` is a plain (non-aggregated) stream of finalized hourly
    rows (the stage-1 file sink); ``targets`` is a STATIC frame
    (event_type, target, slack) — the stream-static join attaches the
    control parameters statelessly; only the scalar CUSUM accumulator
    lives in state. Finalized hours arrive in event-time order (the
    stage-1 watermark is monotone), so folding each batch's rows
    hour-sorted on top of the carried s reproduces the sequential
    recursion exactly."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import LongType, StringType, StructField, StructType
    from pyspark.sql.types import TimestampType

    joined = hourly.join(F.broadcast(targets), "event_type")

    out_schema = StructType(
        [
            StructField("event_type", StringType()),
            StructField("hour_ts", TimestampType()),
            StructField("cents", LongType()),
            StructField("cusum", LongType()),
        ]
    )
    state_schema = StructType([StructField("s", LongType())])

    def update(key, pdfs, state: GroupState):
        (s,) = state.get if state.exists else (0,)
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values("hour_ts").reset_index(drop=True)
        out = []
        for _, row in pdf.iterrows():
            s = max(0, s + int(row.cents) - int(row.target) - int(row.slack))
            out.append((key[0], row.hour_ts, int(row.cents), s))
        state.update((s,))
        yield pd.DataFrame(
            out, columns=["event_type", "hour_ts", "cents", "cusum"]
        )

    return joined.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- Stream-side incremental ANN index maintenance -------------------------


def _stage_emb_batch_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage the simulated incoming embedding batch (the shared
    ``pq_ingest_batch_pred`` gate — MUST match the census split in
    queries/vectors._merged_cell_census) as a parquet directory for the
    streaming file source."""
    from energy_emissions_lakehouse_spark.queries.vectors import (
        pq_ingest_batch_pred,
    )

    return _stage_batch_source_dir(
        spark, sf_dir, "embeddings", pq_ingest_batch_pred(), "emb_ingest"
    )


def rowwise_pq_code_cols(codebook_rows, m: int, dim: int) -> list:
    """The m frozen-codebook PQ code assignments as PER-ROW expressions —
    no join, no groupBy, therefore legal in a STATELESS streaming select
    (the batch ``pq_encode_frozen``'s broadcast-join + min-struct
    aggregate is a streaming aggregation and would demand watermark state
    for no reason — the same batch-vs-stream split as
    ``rowwise_minhash_cols``).

    ``codebook_rows``: the collected (sub, code, c_vec) rows — INDEX
    MODEL STATE (m x ksub tiny rows), the only thing that crosses the
    driver, exactly like the BPE merge table.  Values are bit-identical
    to ``pq_encode_frozen`` — same slice boundaries, same ``sq_l2``
    left-to-right fold over the same staged-parquet doubles, same
    (d2, code) tie-break (``array_position`` takes the FIRST minimum and
    the matrix rows are sorted by code, so ties resolve to the lowest
    code exactly like min-struct).

    Expression-size note (the first formulation's 19 s lesson): ksub
    separate per-candidate fold expressions made a tree Catalyst spent
    ~13 s analyzing/compiling per process for 50 rows.  Each subspace is
    instead ONE ``transform`` over a literal ksub x dim matrix — the
    ``sq_l2`` lambda appears once per subspace, the matrix is data not
    operators, and the per-row distance vector materializes as its own
    projection (``_d{s}``) so the argmin's two references don't inline
    the transform twice.

    Returns (slices, dists, codes): three lists of SQL projections to
    apply in order with ``selectExpr``, each referencing only the previous
    stage's columns."""
    from energy_emissions_lakehouse_spark.operators import similarity as sim

    by_sub: dict[int, list] = {}
    for r in codebook_rows:
        by_sub.setdefault(int(r.sub), []).append((int(r.code), list(r.c_vec)))
    slices, dists, codes = [], [], []
    for s in range(m):
        cents = sorted(by_sub[s])
        # repr() is the shortest round-tripping text: each literal parses
        # back to the identical double
        mat = ", ".join(
            "array(" + ", ".join(f"{float(x)!r}D" for x in c_vec) + ")"
            for _code, c_vec in cents
        )
        code_arr = ", ".join(str(code) for code, _ in cents)
        slices.append(f"slice(v, {s * dim + 1}, {dim}) AS _s{s}")
        dists.append(
            f"transform(array({mat}), c -> {sim.sq_l2(f'_s{s}', 'c', dim)}) AS _d{s}"
        )
        codes.append(
            f"named_struct('sub', {s}, 'code', element_at(array({code_arr}), "
            f"CAST(array_position(_d{s}, array_min(_d{s})) AS INT))) AS _c{s}"
        )
    return slices, dists, codes


def stream_pq_encode_batch(
    spark: SparkSession, sf_dir: str, codebooks: DataFrame, m: int = 16
) -> DataFrame:
    """Arriving embeddings encoded against the FROZEN staged PQ codebooks
    inside a streaming micro-batch — the stream-side form of
    ``pq_incremental_assign``'s batch encode, and the shape a 100 TB
    ingestion path runs: the index stays a staged artifact, each arriving
    micro-batch pays one map-only pass (per-row argmin against literal
    codebooks), history is never touched.

    Every streaming operator is STATELESS (select + explode): no
    watermark, no state store — append mode would REJECT the plan
    otherwise, so the successful run itself certifies zero streaming
    state.  Returns the sink contents: (vec_id, sub, code), one row per
    arriving vector per subspace."""
    from energy_emissions_lakehouse_spark.operators import similarity as sim

    dim = sim.EMBED_DIM // m
    cb_rows = codebooks.select("sub", "code", "c_vec").collect()
    slices, dists, codes = rowwise_pq_code_cols(cb_rows, m, dim)
    src = _stage_emb_batch_dir(spark, sf_dir)
    schema = spark.read.parquet(src).schema
    enc = (
        spark.readStream.schema(schema)
        .parquet(src)
        .selectExpr("vec_id", f"{sim.as_double('embedding')} AS v")
        .selectExpr("vec_id", *slices)
        .selectExpr("vec_id", *dists)
        .selectExpr("vec_id", *codes)
        .select(
            "vec_id",
            F.explode(
                F.array(*[F.col(f"_c{s}") for s in range(m)])
            ).alias("e"),
        )
        .select("vec_id", F.col("e.sub").alias("sub"), F.col("e.code").alias("code"))
    )
    return run_to_table(enc, mode="append")
