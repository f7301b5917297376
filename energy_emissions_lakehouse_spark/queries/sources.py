"""Source/sink roundtrip queries (SURVEY.md §2.1 S1-S4).

Each query pushes a medallion layer through a real file write+read and then
recomputes a summary that an existing oracle already checks — proving the
IO path is lossless (dirty whitespace, nulls, "N/A" strings, full double
precision all survive).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from energy_emissions_lakehouse_spark.functions.exact import scaled_sum, scaled_sum_sql
from energy_emissions_lakehouse_spark.medallion.gold import energy_monthly
from energy_emissions_lakehouse_spark.medallion.silver import clean_energy
from energy_emissions_lakehouse_spark.medallion.sql_oracle import with_pipeline
from energy_emissions_lakehouse_spark.fsutil import user_staging_root
from energy_emissions_lakehouse_spark.registry import register
from energy_emissions_lakehouse_spark.sources import files
from energy_emissions_lakehouse_spark.sources.pydatasource import ORACLE_CTE

#: Bronze energy CSV schema (S2): consumption stays a string so the dirty
#: "N/A" literals survive to the cleaning cast (SURVEY §1.4).
BRONZE_ENERGY_SCHEMA = StructType(
    [
        StructField("date", StringType()),
        StructField("region", StringType()),
        StructField("energy_source", StringType()),
        StructField("consumption_mwh", StringType()),
        StructField("temperature_c", DoubleType()),
    ]
)

_IO_ROOT = os.path.join(user_staging_root(), "sources")


@register(
    "csv_roundtrip_silver_energy",
    oracle=with_pipeline(
        f"""
    SELECT region, energy_source,
           COUNT(*) AS records,
           {scaled_sum_sql('consumption_mwh')} AS sum_consumption,
           {scaled_sum_sql('temperature_c')} AS sum_temp,
           MIN(date) AS min_date, MAX(date) AS max_date
    FROM silver_energy GROUP BY region, energy_source
    """
    ),
    survey="S1 S2 — bronze CSV write + schema'd read roundtrip, then the "
    "full cleaning chain; summary must equal the in-memory silver oracle, "
    "proving nulls/'N/A'/trailing-space dirt survives the CSV boundary "
    "(generate_energy_emissions.py:123-124, bronze_to_silver.py:18)",
)
def csv_roundtrip_silver_energy(spark, sf_dir) -> DataFrame:
    from energy_emissions_lakehouse_spark.queries.medallion import _bronze

    path = os.path.join(_IO_ROOT, "bronze_energy_csv")
    files.write_csv(_bronze(spark)[0], path)
    silver = clean_energy(files.read_csv(spark, path, BRONZE_ENERGY_SCHEMA))
    return silver.groupBy("region", "energy_source").agg(
        F.count(F.lit(1)).alias("records"),
        scaled_sum(F.col("consumption_mwh")).alias("sum_consumption"),
        scaled_sum(F.col("temperature_c")).alias("sum_temp"),
        F.min("date").alias("min_date"),
        F.max("date").alias("max_date"),
    )


@register(
    "parquet_roundtrip_gold_energy",
    oracle=with_pipeline("SELECT * FROM gold_energy_monthly"),
    survey="S3 S4 — silver parquet write + read roundtrip, then the energy "
    "monthly mart; must equal the in-memory gold oracle "
    "(bronze_to_silver.py:45, silver_to_gold.py:26-27)",
)
def parquet_roundtrip_gold_energy(spark, sf_dir) -> DataFrame:
    from energy_emissions_lakehouse_spark.queries.medallion import _silver

    path = os.path.join(_IO_ROOT, "silver_energy_parquet")
    files.write_parquet(_silver(spark)[0], path)
    return energy_monthly(files.read_parquet(spark, path))


@register(
    "partitioned_gold_prune_2024",
    oracle=with_pipeline(
        "SELECT * FROM gold_energy_monthly WHERE year = 2024"
    ),
    survey="S3 S4 F3 — gold mart written partitionBy(year) then read with a "
    "year predicate: the Spark analog of the reference's time_id btree "
    "indexes (SQL/01_create_schema.sql:56-58) — the filter prunes entire "
    "partition directories at plan time (PartitionFilters), verified in "
    "tests/test_operators.py",
)
def partitioned_gold_prune_2024(spark, sf_dir) -> DataFrame:
    from energy_emissions_lakehouse_spark.queries.medallion import _gold

    path = os.path.join(_IO_ROOT, "gold_energy_partitioned")
    _gold(spark)[0].write.mode("overwrite").partitionBy("year").parquet(path)
    out = files.read_parquet(spark, path).filter(F.col("year") == 2024)
    # partitionBy moves `year` to the directory key (read back as int);
    # restore the original column order + long type for oracle parity.
    return out.select(
        "region", "energy_source", F.col("year").cast("long").alias("year"),
        "month", "avg_consumption_mwh", "max_consumption_mwh", "avg_temp_c",
        "records",
    )


@register(
    "json_roundtrip_events_summary",
    oracle=f"""
    SELECT event_type,
           COUNT(*)                          AS n_events,
           {scaled_sum_sql('value')}         AS total_value,
           DATE_TRUNC('second', MIN(ts))     AS first_ts,
           DATE_TRUNC('second', MAX(ts))     AS last_ts
    FROM events
    GROUP BY event_type
    """,
    survey="extension (sources): JSON-lines sink + schema'd scan roundtrip "
    "— the interchange format of event collectors. Explicit 6-digit "
    "timestampFormat on both sides so microsecond event times survive "
    "(Spark's default JSON format truncates to milliseconds); explicit "
    "read schema so no inference pass doubles the scan at 100 TB. The "
    "summary must equal the oracle computed on the original parquet, "
    "proving the JSON boundary is lossless",
)
def json_roundtrip_events_summary(spark, sf_dir) -> DataFrame:
    """events -> JSON lines -> read back -> per-type summary. Loses nothing:
    counts, integer-cent value sums, and second-truncated min/max ts all
    match the parquet-direct oracle."""
    from energy_emissions_lakehouse_spark.tables import t as load

    ev = load(spark, sf_dir, "events")
    path = os.path.join(_IO_ROOT, "events_json")
    micro_fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    (
        ev.write.mode("overwrite")
        .option("timestampFormat", micro_fmt)
        .json(path)
    )
    back = (
        spark.read.schema(ev.schema)
        .option("timestampFormat", micro_fmt)
        .json(path)
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        scaled_sum(F.col("value")).alias("total_value"),
        F.date_trunc("second", F.min("ts")).alias("first_ts"),
        F.date_trunc("second", F.max("ts")).alias("last_ts"),
    )


@register(
    "orc_roundtrip_part_stats",
    oracle=f"""
    SELECT p_brand,
           COUNT(*)                            AS n_parts,
           CAST(SUM(p_size) AS BIGINT)         AS total_size,
           {scaled_sum_sql('p_retailprice')}   AS total_retail
    FROM part
    GROUP BY p_brand
    """,
    survey="extension (sources): ORC write + read roundtrip — the second "
    "columnar format Spark ships natively (vectorized reader, predicate "
    "pushdown, column pruning like parquet). Brand stats off the ORC copy "
    "must equal the parquet-direct oracle",
)
def orc_roundtrip_part_stats(spark, sf_dir) -> DataFrame:
    """part -> ORC -> read back -> per-brand stats. Exercises the ORC
    source/sink pair end-to-end; all-column fidelity checked through
    counts, integer size sums, and cent-exact price sums."""
    from energy_emissions_lakehouse_spark.tables import t as load

    part = load(spark, sf_dir, "part")
    path = os.path.join(_IO_ROOT, "part_orc")
    part.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("p_size").cast("long").alias("total_size"),
        scaled_sum(F.col("p_retailprice")).alias("total_retail"),
    )


@register(
    "pysource_synthetic_profile",
    oracle="WITH "
    + ORACLE_CTE.format(n_rows=100_000)
    + f"""
    SELECT region, source,
           CAST(COUNT(*) AS BIGINT)            AS n_rows,
           {scaled_sum_sql('consumption_mwh')} AS total_mwh,
           CAST(SUM(quality_flag) AS BIGINT)   AS n_flagged,
           CAST(MAX(day_offset) AS INTEGER)    AS max_day
    FROM synth
    GROUP BY region, source
    ORDER BY region, source
    """,
    survey="extension (sources, Spark 4 Python DataSource API): custom "
    "pluggable batch source — the reference's driver-side pandas generator "
    "(generate_energy_emissions.py:39-124) re-expressed as a registered "
    "format('eel_synthetic') connector: partition-parallel executor-side "
    "generation, Arrow RecordBatch emission with numpy vectorized "
    "arithmetic (never per-row Python), integer-derived values the DuckDB "
    "oracle replays bit-exactly via generate_series",
)
def pysource_synthetic_profile(spark, sf_dir) -> DataFrame:
    """Profile aggregate over the custom Python DataSource (100k rows in
    4 generated partitions)."""
    from energy_emissions_lakehouse_spark.sources.pydatasource import (
        register_synthetic_source,
    )

    register_synthetic_source(spark)
    synth = spark.read.format("eel_synthetic").option("n_rows", 100_000).load()
    return (
        synth.groupBy("region", "source")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            scaled_sum(F.col("consumption_mwh")).alias("total_mwh"),
            F.sum("quality_flag").cast("long").alias("n_flagged"),
            F.max("day_offset").alias("max_day"),
        )
        .orderBy("region", "source")
    )


@register(
    "compact_small_files_orders",
    oracle=f"""
    SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
           COUNT(*) AS n_rows,
           {scaled_sum_sql('o_totalprice')} AS sum_price,
           TRUE AS fragmented_ok,
           TRUE AS compacted_ok
    FROM orders
    GROUP BY o_year
    """,
    survey="extension (table maintenance): small-file COMPACTION — the "
    "lakehouse housekeeping pass every streaming/incremental sink needs. "
    "A year-partitioned orders table fragmented into ~16 files per "
    "partition is rewritten via repartition(o_year) + partitionBy so each "
    "partition lands as ONE task's output file; the result must carry "
    "identical content (per-year counts + integer-cent sums hash-matched "
    "against DuckDB over the original) with file counts verified before/"
    "after (>=8 fragments in, exactly 1 file out, emitted as booleans so "
    "the check is layout-independent). At 100 TB this is the same job "
    "with a target-bytes-per-file policy: one shuffle keyed by partition "
    "value, scan-side work unchanged — compaction cost is O(data moved), "
    "never O(files^2)",
)
def compact_small_files_orders(spark, sf_dir) -> DataFrame:
    """Fragment (16-way round-robin x year partitioning), compact (one
    file per partition), verify content + layout."""
    import glob as _glob
    import os as _os

    from energy_emissions_lakehouse_spark.fsutil import (
        staged_artifact,
        table_cache_key,
    )
    from energy_emissions_lakehouse_spark.tables import t

    def populate(tmp: str) -> None:
        orders = t(spark, sf_dir, "orders").withColumn(
            "o_year", F.year("o_orderdate").cast("long")
        )
        # simulate an incremental sink: 16 round-robin writers per batch
        # -> ~16 files inside every year partition
        orders.repartition(16).write.mode("overwrite").partitionBy(
            "o_year"
        ).parquet(_os.path.join(tmp, "fragmented"))
        # the compaction job itself: one shuffle keyed by the partition
        # value, so each partition is written by exactly one task -> one file
        spark.read.parquet(_os.path.join(tmp, "fragmented")).repartition(
            "o_year"
        ).write.mode("overwrite").partitionBy("o_year").parquet(
            _os.path.join(tmp, "compacted")
        )

    base = staged_artifact(
        "compact", table_cache_key(sf_dir, "orders", "compact"), populate
    )
    frag = _os.path.join(base, "fragmented")
    tight = _os.path.join(base, "compacted")

    def files_per_year(root: str) -> dict[int, int]:
        out = {}
        for d in _glob.glob(_os.path.join(root, "o_year=*")):
            yr = int(d.rsplit("=", 1)[1])
            out[yr] = len(_glob.glob(_os.path.join(d, "*.parquet")))
        return out

    before, after = files_per_year(frag), files_per_year(tight)
    layout = spark.createDataFrame(
        [
            (yr, before[yr], after.get(yr, 0))
            for yr in sorted(before)
        ],
        "o_year BIGINT, files_before INT, files_after INT",
    )
    stats = (
        spark.read.parquet(tight)
        .groupBy("o_year")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            scaled_sum(F.col("o_totalprice")).alias("sum_price"),
        )
    )
    return stats.join(F.broadcast(layout), "o_year").select(
        "o_year",
        "n_rows",
        "sum_price",
        (F.col("files_before") >= 8).alias("fragmented_ok"),
        (F.col("files_after") == 1).alias("compacted_ok"),
    )


@register(
    "udtf_calendar_dim",
    oracle="""
    SELECT CAST(d AS TIMESTAMP) AS day_ts,
           CAST(EXTRACT(year FROM d) AS BIGINT) AS year,
           CAST(EXTRACT(month FROM d) AS BIGINT) AS month,
           CAST(EXTRACT(day FROM d) AS BIGINT) AS day,
           CAST(EXTRACT(isodow FROM d) AS BIGINT) >= 6 AS is_weekend
    FROM (SELECT unnest(generate_series(DATE '2024-01-01',
                                        DATE '2024-12-31',
                                        INTERVAL 1 DAY)) AS d)
    ORDER BY day_ts
    """,
    survey="extension (Spark 4 surface): Python user-defined TABLE "
    "function (@udtf) generating the 2024 calendar dimension via LATERAL "
    "— the table-generator half of the Python API surface "
    "(pydatasource.py covers the DataSource half). UDTFs are row-driven "
    "Python, so the legitimate scale slot is BOUNDED table generation "
    "(dims, specs, config expansion — this one emits 366 rows from one "
    "input row), never per-fact-row work; the plan audit's no-Python-in-"
    "hot-path rule stands for everything fact-sized",
)
def udtf_calendar_dim(spark, sf_dir) -> DataFrame:
    """Calendar dim rows for 2024 from a one-row seed via a Python UDTF.

    The UDTF yields (epoch_day, year, month, day, is_weekend) as plain
    integers and the outer select casts epoch days to a day-truncated
    timestamp JVM-side — DATE-typed outputs hash-mismatch the oracle
    (python date vs numpy datetime64), same policy as the streaming
    queries."""
    import datetime as _dt

    from pyspark.sql.functions import lit, udtf

    @udtf(returnType="epoch_day: long, year: long, month: long, day: long,"
          " is_weekend: boolean")
    class CalendarRows:
        def eval(self, start_day: int, n_days: int):
            for i in range(n_days):
                d = _dt.date.fromordinal(start_day + i)
                yield (
                    d.toordinal() - _dt.date(1970, 1, 1).toordinal(),
                    d.year,
                    d.month,
                    d.day,
                    d.isoweekday() >= 6,
                )

    start = _dt.date(2024, 1, 1)
    n = (_dt.date(2025, 1, 1) - start).days
    rows = CalendarRows(lit(start.toordinal()), lit(n))
    return rows.select(
        F.timestamp_seconds(F.col("epoch_day") * 86400).alias("day_ts"),
        "year",
        "month",
        "day",
        "is_weekend",
    ).orderBy("day_ts")


@register(
    "schema_evolution_merge_read",
    oracle="""
    WITH v1 AS (
        SELECT o_orderkey, o_totalprice
        FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1996
    ),
    v2 AS (
        SELECT o_orderkey, o_totalprice,
               CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 'expedite' ELSE 'standard' END AS priority_class
        FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1997
    ),
    unioned AS (
        SELECT o_orderkey, o_totalprice, NULL AS priority_class, 1996 AS v
        FROM v1
        UNION ALL
        SELECT o_orderkey, o_totalprice, priority_class, 1997 AS v FROM v2
    )
    SELECT CAST(v AS BIGINT) AS file_version,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(priority_class) AS BIGINT) AS n_with_new_col,
           CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM unioned GROUP BY v ORDER BY file_version
    """,
    survey="extension (sources, lakehouse schema evolution): a table whose "
    "later files carry an ADDED column (v1: orderkey+price, v2: + "
    "priority_class) is read as ONE dataset via mergeSchema=true — "
    "old files surface NULL for the new column, no rewrite of historical "
    "data. This is the additive-evolution contract every long-lived "
    "100 TB table needs (reprocessing history on every schema change is "
    "a non-starter); on Delta/Iceberg the same read is automatic from "
    "the table's schema log. Spark-side note: mergeSchema costs a "
    "footer read PER FILE at planning — on huge tables, pin the merged "
    "schema explicitly and keep mergeSchema for discovery only",
)
def schema_evolution_merge_read(spark, sf_dir) -> DataFrame:
    """Write two schema versions of an orders slice side by side, read
    them back as one mergeSchema dataset, and profile rows/new-column
    coverage per file version."""
    from energy_emissions_lakehouse_spark.tables import t

    orders = t(spark, sf_dir, "orders")
    root = os.path.join(_IO_ROOT, "schema_evolution")
    v1 = orders.filter(F.year("o_orderdate") == 1996).select(
        "o_orderkey", "o_totalprice", F.lit(1996).cast("long").alias("v")
    )
    v2 = orders.filter(F.year("o_orderdate") == 1997).select(
        "o_orderkey",
        "o_totalprice",
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "expedite"
        )
        .otherwise("standard")
        .alias("priority_class"),
        F.lit(1997).cast("long").alias("v"),
    )
    v1.write.mode("overwrite").parquet(os.path.join(root, "v=1996"))
    v2.write.mode("overwrite").parquet(os.path.join(root, "v=1997"))
    merged = (
        spark.read.option("mergeSchema", "true")
        .parquet(os.path.join(root, "v=1996"), os.path.join(root, "v=1997"))
    )
    return (
        merged.groupBy(F.col("v").alias("file_version"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("priority_class").alias("n_with_new_col"),
            F.sum(
                F.round(F.col("o_totalprice") * 100, 0).cast("long")
            ).alias("total_cents"),
        )
        .orderBy("file_version")
    )


# ---------------------------------------------------------------- z-order

#: Z-order geometry: 4 bits per dimension -> 256 z-cells -> 16 files.
Z_BITS = 4
Z_FILES = 16
_Z_EPOCH = "1992-01-01"
#: Probe band for the data-skipping demonstration: a narrow l_partkey
#: slice (quantized cells 6..7 of 16).
Z_PROBE_LO_Q = 6
Z_PROBE_HI_Q = 7


@register(
    "zorder_layout_lineitem",
    oracle=f"""
    WITH dims AS (
      SELECT date_diff('day', DATE '{_Z_EPOCH}', l_shipdate) AS day_no,
             l_partkey AS pk
      FROM lineitem
    ),
    stats AS (
      SELECT MIN(day_no) AS d_min, MAX(day_no) AS d_max,
             MIN(pk) AS p_min, MAX(pk) AS p_max
      FROM dims
    ),
    q AS (
      SELECT day_no, pk,
             CAST(FLOOR((day_no - d_min) * {1 << Z_BITS}.0
                        / (d_max - d_min + 1)) AS BIGINT) AS dq,
             CAST(FLOOR((pk - p_min) * {1 << Z_BITS}.0
                        / (p_max - p_min + 1)) AS BIGINT) AS pq
      FROM dims CROSS JOIN stats
    ),
    z AS (
      SELECT day_no, pk, pq,
             ({' + '.join(f'(((dq >> {i}) & 1) << {2 * i + 1}) + (((pq >> {i}) & 1) << {2 * i})' for i in range(Z_BITS))}) AS zval
      FROM q
    )
    SELECT CAST(zval >> 4 AS BIGINT) AS file_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(day_no) AS BIGINT) AS min_day,
           CAST(MAX(day_no) AS BIGINT) AS max_day,
           CAST(MIN(pk) AS BIGINT) AS min_pk,
           CAST(MAX(pk) AS BIGINT) AS max_pk,
           MAX(pq) >= {Z_PROBE_LO_Q} AND MIN(pq) <= {Z_PROBE_HI_Q}
               AS probe_hits_file
    FROM z
    GROUP BY file_id
    ORDER BY file_id
    """,
    survey="extension (table maintenance): Z-ORDER clustering layout — "
    "interleave 4+4 quantized bits of (ship day, partkey) into a z-value, "
    "assign rows to equal-width z-ranges (16 files), and emit per-file "
    "min/max column stats plus whether a narrow partkey probe band "
    "overlaps each file (the data-skipping decision a lakehouse scan "
    "makes from footer stats). Multi-dimensional clustering means a "
    "single-dim probe prunes most files — impossible under a linear "
    "sort on the other dim. At 100 TB the assignment is map-only "
    "integer bit math (one broadcast stats row); the physical rewrite "
    "is the same partitionBy shuffle as compact_small_files_orders",
    tags=("maintenance",),
)
def zorder_layout_lineitem(spark, sf_dir) -> DataFrame:
    """Z-order file assignment + per-file stats + probe-pruning verdicts.

    Every step is integer bit arithmetic on exact inputs (the one division
    is a fixed tree of IEEE-exact ops, identical in both engines), so the
    full layout hash-matches DuckDB."""
    from energy_emissions_lakehouse_spark.tables import t as _t

    li = _t(spark, sf_dir, "lineitem").select(
        F.datediff(F.col("l_shipdate"), F.lit(_Z_EPOCH).cast("date")).alias(
            "day_no"
        ),
        F.col("l_partkey").alias("pk"),
    )
    stats = li.agg(
        F.min("day_no").alias("d_min"),
        F.max("day_no").alias("d_max"),
        F.min("pk").alias("p_min"),
        F.max("pk").alias("p_max"),
    )
    nq = float(1 << Z_BITS)
    q = li.crossJoin(F.broadcast(stats)).select(
        "day_no",
        "pk",
        F.floor(
            (F.col("day_no") - F.col("d_min")) * nq
            / (F.col("d_max") - F.col("d_min") + 1)
        ).alias("dq"),
        F.floor(
            (F.col("pk") - F.col("p_min")) * nq
            / (F.col("p_max") - F.col("p_min") + 1)
        ).alias("pq"),
    )
    zval = None
    for i in range(Z_BITS):
        bit_pair = (
            F.shiftleft(F.shiftright(F.col("dq"), i).bitwiseAND(F.lit(1)), 2 * i + 1)
            + F.shiftleft(F.shiftright(F.col("pq"), i).bitwiseAND(F.lit(1)), 2 * i)
        )
        zval = bit_pair if zval is None else zval + bit_pair
    z = q.select("day_no", "pk", "pq", zval.alias("zval"))
    return (
        z.groupBy(F.shiftright(F.col("zval"), 4).cast("long").alias("file_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("day_no").cast("long").alias("min_day"),
            F.max("day_no").cast("long").alias("max_day"),
            F.min("pk").cast("long").alias("min_pk"),
            F.max("pk").cast("long").alias("max_pk"),
            (
                (F.max("pq") >= F.lit(Z_PROBE_LO_Q))
                & (F.min("pq") <= F.lit(Z_PROBE_HI_Q))
            ).alias("probe_hits_file"),
        )
        .orderBy("file_id")
    )


@register(
    "pysource_writer_roundtrip",
    oracle="WITH "
    + ORACLE_CTE.format(n_rows=50_000)
    + """
    SELECT region, source,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(ROUND(consumption_mwh * 10, 0) AS BIGINT)) AS BIGINT)
               AS sum_deci_mwh
    FROM synth
    GROUP BY region, source
    ORDER BY region, source
    """,
    survey="extension (sources, Spark 4 Python DataSource API — writer "
    "side): df.write.format('eel_synthetic') drives a custom "
    "DataSourceWriter through the task-commit protocol: each task "
    "writes one uniquely-named JSONL file and returns a commit message; "
    "driver-side commit() publishes a _MANIFEST of committed files "
    "(readers trust only the manifest), abort() removes orphans — the "
    "same attempt/commit contract as Spark's file sinks. The roundtrip "
    "re-reads ONLY manifested files and must reproduce the generated "
    "content exactly. Completes the connector story: the reader half is "
    "pysource_synthetic_profile",
    tags=("sources",),
)
def pysource_writer_roundtrip(spark, sf_dir) -> DataFrame:
    """Generate 50k rows via the custom reader, write them through the
    custom writer (JSONL + manifest commit), read the manifested files
    back, and profile — written content must equal generated content."""
    import json
    import os
    import shutil

    from energy_emissions_lakehouse_spark.fsutil import staging_dir
    from energy_emissions_lakehouse_spark.sources.pydatasource import (
        SCHEMA,
        register_synthetic_source,
    )

    register_synthetic_source(spark)
    out = os.path.join(staging_dir("pysink"), "writer_roundtrip")
    shutil.rmtree(out, ignore_errors=True)
    synth = spark.read.format("eel_synthetic").option("n_rows", 50_000).load()
    synth.write.format("eel_synthetic").option("path", out).mode(
        "append"
    ).save()
    with open(os.path.join(out, "_MANIFEST")) as fh:
        manifest = json.load(fh)
    files = [os.path.join(out, f) for f in manifest["files"]]
    back = spark.read.schema(SCHEMA).json(files)
    return (
        back.groupBy("region", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.round(F.col("consumption_mwh") * 10, 0).cast("long"))
            .cast("long")
            .alias("sum_deci_mwh"),
        )
        .orderBy("region", "source")
    )


#: Every CORRUPT_MOD-th orders key becomes an unparseable CSV line.
CORRUPT_MOD = 50


@register(
    "csv_corrupt_record_audit",
    oracle=f"""
    SELECT CAST(COUNT(CASE WHEN o_orderkey % {CORRUPT_MOD} != 0 THEN 1 END)
                AS BIGINT) AS n_parsed,
           CAST(COUNT(CASE WHEN o_orderkey % {CORRUPT_MOD} = 0 THEN 1 END)
                AS BIGINT) AS n_corrupt,
           CAST(SUM(CASE WHEN o_orderkey % {CORRUPT_MOD} != 0
                         THEN CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                    END) AS BIGINT) AS parsed_cents
    FROM orders
    """,
    survey="extension (sources, robustness): CSV malformed-row handling — "
    "a deterministically-dirtied CSV (every 50th row unparseable) read "
    "in PERMISSIVE mode with columnNameOfCorruptRecord: parsed rows "
    "aggregate normally, corrupt rows are counted from the quarantine "
    "column (the dead-letter pattern), and the audit totals must equal "
    "the clean-source oracle. DROPMALFORMED/FAILFAST semantics for the "
    "same file are pinned in pytest. Completes the dirty-ingest story "
    "the reference only covers for 'N/A' cells (bronze_to_silver.py)",
    tags=("sources",),
)
def csv_corrupt_record_audit(spark, sf_dir) -> DataFrame:
    """PERMISSIVE read of a corrupt-line CSV: (n_parsed, n_corrupt,
    parsed_cents). The corrupt lines fail the BIGINT parse of the first
    column, land whole in the _corrupt_record column, and leave the
    typed columns null — nothing is silently dropped."""
    from energy_emissions_lakehouse_spark.tables import t

    orders = t(spark, sf_dir, "orders")
    line = F.when(
        F.col("o_orderkey") % CORRUPT_MOD == 0,
        F.concat(F.lit("X"), F.col("o_orderkey").cast("string"),
                 F.lit(",not_a_number,corrupt")),
    ).otherwise(
        F.concat_ws(
            ",",
            F.col("o_orderkey").cast("string"),
            F.round(F.col("o_totalprice") * 100, 0).cast("long")
            .cast("string"),
            F.col("o_orderstatus"),
        )
    )
    path = os.path.join(_IO_ROOT, "orders_corrupt_csv")
    orders.select(line.alias("value")).write.mode("overwrite").text(path)
    schema = (
        "o_orderkey bigint, cents bigint, status string, "
        "_corrupt_record string"
    )
    read = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    # cache before splitting on _corrupt_record: Spark's CSV reader
    # re-parses per column subset otherwise, and the corrupt column is
    # only populated when referenced together with the parsed ones
    read = read.cache()
    return read.agg(
        F.count(F.when(F.col("_corrupt_record").isNull(), 1))
        .cast("long")
        .alias("n_parsed"),
        F.count(F.when(F.col("_corrupt_record").isNotNull(), 1))
        .cast("long")
        .alias("n_corrupt"),
        F.sum(F.when(F.col("_corrupt_record").isNull(), F.col("cents")))
        .cast("long")
        .alias("parsed_cents"),
    )
