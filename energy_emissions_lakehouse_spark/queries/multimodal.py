"""Multimodal-column queries (operators/multimodal.py) with SQL oracles.

The mapInPandas outputs are deterministic byte-level functions of the
payload, so DuckDB reproduces them exactly: octet_length for n_bytes, the
md5 construction shared with operators/dedup.hash_id for fingerprints, and
ascii(substr(...)) for sampled frame bytes (payloads are utf-8 of ascii
synthetic text, so byte == char).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from energy_emissions_lakehouse_spark.operators import multimodal as mm
from energy_emissions_lakehouse_spark.registry import register
from energy_emissions_lakehouse_spark.tables import t

# DuckDB's md5() takes VARCHAR and hashes its utf-8 bytes — exactly the
# payload bytes Spark-side hashlib sees, so no blob cast is needed.
_FPRINT = "CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)"
_MTYPE = "['image','audio','video'][CAST(doc_id % 3 AS INT) + 1]"


@register(
    "media_feature_extract",
    oracle=f"""
    SELECT doc_id AS media_id,
           {_MTYPE} AS media_type,
           CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
           {_FPRINT} AS fingerprint,
           CAST(LEAST(16 + (doc_id % 5) * 8, {mm.THUMB_MAX}) AS INT) AS thumb_w,
           CAST(LEAST(16 + (doc_id % 7) * 8, {mm.THUMB_MAX}) AS INT) AS thumb_h
    FROM documents
    """,
    survey="extension (multimodal): binary payload + typed metadata struct "
    "-> Arrow-batched mapInPandas feature extraction (decode stubbed, "
    "plumbing real: schema, batch iteration, resize clamp)",
)
def media_feature_extract(spark, sf_dir) -> DataFrame:
    media = mm.media_catalog(t(spark, sf_dir, "documents"))
    return mm.extract_features(media)


@register(
    "media_frame_sample",
    oracle=f"""
    SELECT doc_id AS media_id,
           CAST(i AS BIGINT) AS frame_no,
           CAST(ascii(substr(text, 1 + CAST(i AS INT) * {mm.FRAME_STRIDE}, 1))
                AS BIGINT) AS frame_byte
    FROM documents,
         UNNEST(range(CAST(ceil(octet_length(CAST(text AS BLOB))
                                / {mm.FRAME_STRIDE}.0) AS BIGINT))) AS u(i)
    WHERE doc_id % 3 = 2
    """,
    survey="extension (multimodal): per-payload frame sampling inside the "
    "Pandas batch (vectorized byte slicing) — video rows only",
)
def media_frame_sample(spark, sf_dir) -> DataFrame:
    media = mm.media_catalog(t(spark, sf_dir, "documents"))
    return mm.frame_sample(media)


@register(
    "media_phash_neardup",
    oracle=f"""
    WITH lens AS (
      SELECT doc_id, text, octet_length(CAST(text AS BLOB)) AS n
      FROM documents WHERE octet_length(CAST(text AS BLOB)) > 0
    ),
    bytes AS (
      SELECT doc_id, n, i, ascii(substr(text, CAST(i AS INT) + 1, 1)) AS bv
      FROM lens, UNNEST(range(n)) AS u(i)
    ),
    segs AS (
      SELECT doc_id, (i * {mm.PHASH_BITS}) // n AS s,
             CAST(SUM(bv) AS BIGINT) AS ssum
      FROM bytes GROUP BY doc_id, (i * {mm.PHASH_BITS}) // n
    ),
    tots AS (
      SELECT doc_id, CAST(SUM(ssum) AS BIGINT) AS total FROM segs
      GROUP BY doc_id
    ),
    hashes AS (
      SELECT s.doc_id,
             CAST(SUM(CASE WHEN s.ssum * {mm.PHASH_BITS} > t.total
                           THEN 1::BIGINT << (({mm.PHASH_BITS} - 1 - s.s)::INT)
                           ELSE 0 END) AS BIGINT) AS phash
      FROM segs s JOIN tots t USING (doc_id)
      GROUP BY s.doc_id
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
    FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.phash, b.phash)) <= 3
    ORDER BY id_a, id_b
    """,
    survey="extension (multimodal, dedup): perceptual-hash near-duplicate "
    "detection over binary payloads — 32-bit block-average aHash computed "
    "Arrow-batched (numpy bincount segment sums, integer cross-"
    "multiplied bits), candidate pairs from 8-bit band equi-joins "
    "(pigeonhole-EXACT for hamming <= 3 with 4 bands — proven by the "
    "oracle being the brute-force all-pairs scan), popcount verify. The "
    "image-dedup primitive of a multimodal training pipeline; in "
    "production the same dataflow hashes decoded pixel blocks",
    tags=("multimodal",),
)
def media_phash_neardup(spark, sf_dir) -> DataFrame:
    """Near-dup media pairs at hamming <= 3 over the 32-bit block aHash.

    Spark generates candidates via band buckets (never all-pairs); the
    DuckDB oracle brute-forces every pair — result equality IS the
    pigeonhole-exactness check."""
    media = mm.media_catalog(
        t(spark, sf_dir, "documents").filter(F.length("text") > 0)
    )
    hashes = mm.phash32(media)
    return mm.phash_neardup_pairs(hashes, max_hamming=3).orderBy(
        "id_a", "id_b"
    )


@register(
    "media_feature_extract_arrow",
    oracle=f"""
    SELECT doc_id AS media_id,
           {_MTYPE} AS media_type,
           CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
           {_FPRINT} AS fingerprint,
           CAST(LEAST(16 + (doc_id % 5) * 8, {mm.THUMB_MAX}) AS INT) AS thumb_w,
           CAST(LEAST(16 + (doc_id % 7) * 8, {mm.THUMB_MAX}) AS INT) AS thumb_h
    FROM documents
    """,
    survey="extension (multimodal, Spark 4 Arrow surface): mapInArrow "
    "feature extraction — identical semantics to media_feature_extract "
    "but batches stay pyarrow RecordBatches end-to-end (no pandas "
    "conversion: binary payloads remain Arrow buffers instead of being "
    "copied into Python bytes objects per row). Completes the Python "
    "execution-surface tier: mapInPandas / applyInPandas / "
    "applyInPandasWithState / UDTF / DataSource reader+writer / "
    "mapInArrow",
    tags=("multimodal",),
)
def media_feature_extract_arrow(spark, sf_dir) -> DataFrame:
    media = mm.media_catalog(t(spark, sf_dir, "documents"))
    return mm.extract_features_arrow(media)
