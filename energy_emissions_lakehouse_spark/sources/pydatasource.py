"""Custom Python DataSource (Spark 4 DataSource API) — S9 as a connector.

The reference's synthetic generator is a driver-side pandas script
(src/00_generate_raw/generate_energy_emissions.py:39-124). The Spark-4-native
re-expression is a *pluggable source*: `spark.read.format("eel_synthetic")`
yields the deterministic row stream straight from the executors —
partition-parallel, no driver materialization, no staging files.

Scale design:
- ``partitions()`` splits the row range into fixed-size chunks; each chunk
  generates independently on its executor (embarrassingly parallel, the
  same contract as a parquet scan's row groups);
- rows are emitted as Arrow ``RecordBatch``es built with numpy vectorized
  arithmetic — the batch-columnar fast path through the Python worker
  (tuple-iterator emission would cross Python/JVM row-at-a-time);
- all values derive from integer arithmetic on the global row id, so any
  engine (the DuckDB oracle uses ``generate_series``) reproduces the
  content bit-exactly; a re-read is idempotent by construction.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    InputPartition,
    WriterCommitMessage,
)

from energy_emissions_lakehouse_spark.fsutil import session_memo

#: Rows per generated partition — at 100 TB you size this so one chunk's
#: Arrow batch fits comfortably in a worker (same knob as files.maxPartitionBytes).
DEFAULT_ROWS_PER_PARTITION = 25_000

SCHEMA = (
    "row_id bigint, region string, source string, "
    "day_offset int, consumption_mwh double, quality_flag int"
)

#: Deterministic value recipe, shared verbatim with the DuckDB oracle SQL:
#:   region      = 'R' || (row_id % 4)
#:   source      = ['solar','wind','gas','coal'][(row_id / 4) % 4]
#:   day_offset  = row_id % 731
#:   consumption = ((row_id * 37 + 11) % 9000) / 10 + 50
#:   quality     = 1 if row_id % 97 == 0 else 0   (bad-batch marker)
SOURCES = ("solar", "wind", "gas", "coal")


class _Chunk(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class SyntheticEnergyReader(DataSourceReader):
    def __init__(self, options):
        self.n_rows = int(options.get("n_rows", 100_000))
        self.rows_per_part = int(
            options.get("rows_per_partition", DEFAULT_ROWS_PER_PARTITION)
        )

    def partitions(self):
        return [
            _Chunk(start, min(start + self.rows_per_part, self.n_rows))
            for start in range(0, self.n_rows, self.rows_per_part)
        ]

    def read(self, partition: _Chunk):
        # Arrow-batch emission with numpy vectorized arithmetic: one batch
        # per chunk, no per-row Python.
        import numpy as np
        import pyarrow as pa

        rid = np.arange(partition.start, partition.end, dtype=np.int64)
        region = np.char.add("R", (rid % 4).astype("U1"))
        source = np.array(SOURCES, dtype=object)[(rid // 4) % 4]
        day_offset = (rid % 731).astype(np.int32)
        consumption = ((rid * 37 + 11) % 9000) / 10.0 + 50.0
        quality = np.where(rid % 97 == 0, 1, 0).astype(np.int32)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(rid),
                pa.array(region),
                pa.array(source, type=pa.string()),
                pa.array(day_offset),
                pa.array(consumption),
                pa.array(quality),
            ],
            names=[
                "row_id",
                "region",
                "source",
                "day_offset",
                "consumption_mwh",
                "quality_flag",
            ],
        )


class SyntheticEnergyDataSource(DataSource):
    """`spark.read.format("eel_synthetic").option("n_rows", N).load()`."""

    @classmethod
    def name(cls) -> str:
        return "eel_synthetic"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> SyntheticEnergyReader:
        return SyntheticEnergyReader(self.options)

    def writer(self, schema, overwrite: bool):
        return SyntheticEnergyWriter(self.options, overwrite)


def register_synthetic_source(spark) -> None:
    """Idempotent per-session registration."""
    session_memo(
        spark, ("pydatasource.registered",),
        lambda: spark.dataSource.register(SyntheticEnergyDataSource),
    )


#: The same recipe as one DuckDB relation, for oracle WITH-chains.
ORACLE_CTE = """
synth AS (
    SELECT g AS row_id,
           'R' || CAST(g % 4 AS VARCHAR) AS region,
           ['solar','wind','gas','coal'][CAST((g // 4) % 4 AS INTEGER) + 1]
               AS source,
           CAST(g % 731 AS INTEGER) AS day_offset,
           CAST((g * 37 + 11) % 9000 AS DOUBLE) / 10.0 + 50.0
               AS consumption_mwh,
           CASE WHEN g % 97 = 0 THEN 1 ELSE 0 END AS quality_flag
    FROM generate_series(0, {n_rows} - 1) t(g)
)
"""


# ------------------------------------------------------------- writer side


class _WroteFile(WriterCommitMessage):
    """Task commit message: one JSONL file written by one task."""

    def __init__(self, path: str, rows: int):
        self.path = path
        self.rows = rows


class SyntheticEnergyWriter(DataSourceArrowWriter):
    """JSONL writer with the DataSource commit protocol: each task writes
    its partition to a uniquely-named file and reports it in a commit
    message; the driver-side ``commit`` publishes a ``_MANIFEST`` naming
    the committed files (readers trust only manifested files), and
    ``abort`` removes the orphans. That is the same
    task-attempt/commit-coordinator contract Spark's file sinks use —
    re-expressed through the Python API. Arrow variant
    (DataSourceArrowWriter): tasks receive RecordBatches and serialize
    them columnar-batch-wise — the row-iterator form crossed Python
    per row and measured ~2x slower on the 50k roundtrip."""

    def __init__(self, options, overwrite: bool):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("eel_synthetic writer requires .option('path', ...)")
        self.overwrite = overwrite

    def write(self, iterator):
        import os
        import uuid

        os.makedirs(self.path, exist_ok=True)
        out = os.path.join(self.path, f"part-{uuid.uuid4().hex}.jsonl")
        n = 0
        with open(out, "wb") as fh:
            for batch in iterator:
                # columnar JSONL serialization via pandas (Arrow-native,
                # no per-row Python dict round-trip)
                pdf = batch.to_pandas()
                pdf.to_json(fh, orient="records", lines=True)
                fh.write(b"\n")
                n += len(pdf)
        return _WroteFile(out, n)

    def commit(self, messages):
        import json
        import os

        manifest = {
            "files": sorted(
                os.path.basename(m.path) for m in messages if m is not None
            ),
            "rows": sum(m.rows for m in messages if m is not None),
        }
        with open(os.path.join(self.path, "_MANIFEST"), "w") as fh:
            json.dump(manifest, fh)

    def abort(self, messages):
        import os

        for m in messages:
            if m is not None and os.path.exists(m.path):
                os.remove(m.path)
