"""Text-analysis + dedup queries over ``documents`` (extension surface).

Oracle SQL mirrors the operators in operators/text.py and operators/dedup.py
expression-by-expression; shared constants (hash parameters, thresholds,
marker lists) are imported from the operator modules so the two sides cannot
drift independently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from energy_emissions_lakehouse_spark.fsutil import session_memo
from energy_emissions_lakehouse_spark.functions.exact import scaled_sum, scaled_sum_sql
from energy_emissions_lakehouse_spark.operators import dedup as dd
from energy_emissions_lakehouse_spark.operators import text as tx
from energy_emissions_lakehouse_spark.registry import register
from energy_emissions_lakehouse_spark.session import loop_shuffle_partitions
from energy_emissions_lakehouse_spark.tables import t

JACCARD_THRESHOLD = 0.8

# ---------------------------------------------------------------- SQL mirrors

_TOKS = "string_split_regex(lower(text), '\\W+')"
_SHINGLES = (
    "CASE WHEN len(toks) >= 3 THEN list_distinct(list_transform("
    "range(1, len(toks)-1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))"
    " ELSE [] END"
)
_STOP_LIST = ", ".join(f"'{s}'" for s in tx.STOPWORDS)

_DOC_TOKS_CTE = (
    f"doc_toks AS (SELECT doc_id, lang, source, text, n_chars, "
    f"{_TOKS} AS toks FROM documents)"
)
_DOC_SH_CTE = (
    f"{_DOC_TOKS_CTE}, doc_sh AS "
    f"(SELECT doc_id, lang, source, {_SHINGLES} AS sh FROM doc_toks)"
)

# Hash-based shingle ids (no dictionary build — see operators/dedup.py).
_TIDS_CTE = (
    "sh_ex AS (SELECT doc_id, unnest(sh) AS shingle FROM doc_sh), "
    f"tids AS (SELECT doc_id, {dd.hash_id_sql('shingle')} AS hid FROM sh_ex)"
)

_MINHASH_AGGS = ", ".join(
    f"MIN(((hid % {dd.MINHASH_P}) * {A} + {B}) % {dd.MINHASH_P}) AS h{i}"
    for i, (A, B) in enumerate(zip(dd.MINHASH_A, dd.MINHASH_B))
)
_SIGS_CTE = f"sigs AS (SELECT doc_id, {_MINHASH_AGGS} FROM tids GROUP BY doc_id)"

_N_BANDS = dd.NUM_HASHES // dd.BAND_SIZE
_BANDS_CTE = (
    "bands AS ("
    + " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {cols} FROM sigs".format(
            b=b,
            cols=", ".join(
                f"h{b * dd.BAND_SIZE + j} AS b{j}" for j in range(dd.BAND_SIZE)
            ),
        )
        for b in range(_N_BANDS)
    )
    + ")"
)
_BAND_JOIN = " AND ".join(["x.band = y.band"] + [f"x.b{j} = y.b{j}" for j in range(dd.BAND_SIZE)])

_JACCARD_SQL = (
    "ROUND(len(list_intersect(a.sh, b.sh)) * 1.0 / NULLIF("
    "CAST(len(a.sh) + len(b.sh) AS DOUBLE) - len(list_intersect(a.sh, b.sh)),"
    " 0.0), 6)"
)

#: Relational formulation of the verified-pairs oracle (round 6): overlap
#: counts via a shingle equi-join + GROUP BY instead of the quadratic
#: blocked all-pairs ``list_intersect`` scan (2.4 s -> ~0.2 s at sf0.01 —
#: the two consumers were the sweep's slowest oracles). Value-identical:
#: ``sh`` is list_distinct'd, so the join count IS the intersection size,
#: and the ROUND/NULLIF arithmetic matches ``_JACCARD_SQL`` term for term.
#: Still independent of the engine path, which prefix-filters candidates
#: (PPJoin) and intersects arrays — this joins on EVERY shingle, no filter.
_JACCARD_PAIRS_REL = f"""jac_ex AS MATERIALIZED (
        SELECT doc_id, lang, unnest(sh) AS shingle FROM doc_sh),
    jac_sz AS MATERIALIZED (SELECT doc_id, len(sh) AS m FROM doc_sh),
    jac_ov AS MATERIALIZED (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS ov
        FROM jac_ex a JOIN jac_ex b
          ON a.shingle = b.shingle AND a.lang = b.lang
         AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
    jac_pairs AS MATERIALIZED (
        SELECT a_id, b_id,
               ROUND(ov * 1.0 / NULLIF(
                   CAST(sa.m + sb.m AS DOUBLE) - ov, 0.0), 6) AS sim
        FROM jac_ov
        JOIN jac_sz sa ON sa.doc_id = a_id
        JOIN jac_sz sb ON sb.doc_id = b_id)"""


def _marker_score_sql(markers: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{m}'" for m in markers)
    return f"CAST(len(list_filter(toks, tk -> tk IN ({lst}))) AS BIGINT)"


_LANG_SCORES_SQL = ", ".join(
    f"{_marker_score_sql(markers)} AS s_{lang}" for lang, markers in tx.LANG_MARKERS
)
_BEST_SQL = "GREATEST(" + ", ".join(f"s_{lang}" for lang, _ in tx.LANG_MARKERS) + ")"
_PRED_SQL = (
    "CASE "
    + " ".join(f"WHEN s_{lang} = {_BEST_SQL} THEN '{lang}'" for lang, _ in tx.LANG_MARKERS)
    + " END"
)


def _doc_version(sf_dir: str) -> tuple[int, int]:
    """(mtime_ns, size) of documents.parquet — every memo of state DERIVED
    from the corpus keys on this, so a regenerated corpus misses the memo
    instead of serving stale checkpointed shingles."""
    import os as _os

    st = _os.stat(_os.path.join(sf_dir, "documents.parquet"))
    return (st.st_mtime_ns, st.st_size)


def _doc_sh(spark, sf_dir: str) -> DataFrame:
    """The shingled corpus, lineage-truncated, once per session and corpus
    version. Within one dedup query the (doc_id, lang, sh) stage is
    referenced by the signature AND both verify branches — un-materialized,
    Spark re-tokenizes the corpus per branch. At production scale this is
    the standard "staging" parquet write between pipeline passes; here
    localCheckpoint keeps it in executor storage."""

    def build() -> DataFrame:
        docs = t(spark, sf_dir, "documents")
        return docs.select(
            "doc_id", "lang", tx.shingles(tx.tokens(F.col("text"))).alias("sh")
        ).localCheckpoint(eager=True)

    return session_memo(
        spark, ("text.doc_sh", sf_dir, _doc_version(sf_dir)), build
    )


def _doc_5g(spark, sf_dir: str) -> DataFrame:
    """5-gram shingle sets, shared by the two contamination queries
    (overlap + bloom), memoized like :func:`_doc_sh`."""

    def build() -> DataFrame:
        docs = t(spark, sf_dir, "documents")
        return docs.select(
            "doc_id", tx.shingles(tx.tokens(F.col("text")), n=5).alias("sh")
        ).localCheckpoint(eager=True)

    return session_memo(
        spark, ("text.doc_5g", sf_dir, _doc_version(sf_dir)), build
    )


# ---------------------------------------------------------------- queries


@register(
    "doc_token_stats",
    oracle=f"""
    WITH {_DOC_TOKS_CTE}
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(toks)) AS BIGINT) AS total_tokens,
           CAST(SUM(len(list_distinct(toks))) AS BIGINT) AS total_distinct_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM doc_toks
    GROUP BY lang
    """,
    survey="extension (text analysis): token counting per language — "
    "JVM split/size, no UDF",
)
def doc_token_stats(spark, sf_dir) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = tx.tokens(F.col("text"))
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(tx.token_count(toks)).alias("total_tokens"),
        F.sum(tx.distinct_token_count(toks)).alias("total_distinct_tokens"),
        F.sum(F.col("n_chars").cast("long")).alias("total_chars"),
    )


@register(
    "doc_quality_scores",
    oracle=f"""
    WITH {_DOC_TOKS_CTE},
    m AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
             CAST(len(list_filter(toks, tk -> tk IN ({_STOP_LIST}))) AS BIGINT)
                 AS n_stop,
             CAST(length(regexp_replace(lower(text), '\\W+', '', 'g')) AS BIGINT)
                 AS n_word_chars
      FROM doc_toks
    )
    SELECT doc_id, n_tokens, n_distinct,
           ROUND(CAST(n_distinct AS DOUBLE) / NULLIF(CAST(n_tokens AS DOUBLE), 0.0), 6)
               AS type_token_ratio,
           ROUND(CAST(n_word_chars AS DOUBLE) / NULLIF(CAST(n_tokens AS DOUBLE), 0.0), 6)
               AS mean_token_len,
           ROUND(0.3 * (CAST(n_distinct AS DOUBLE) / NULLIF(CAST(n_tokens AS DOUBLE), 0.0))
                 + 0.4 * LEAST(1.0, CAST(n_tokens AS DOUBLE) / 100.0)
                 + 0.3 * (1.0 - CAST(n_stop AS DOUBLE)
                                / NULLIF(CAST(n_tokens AS DOUBLE), 0.0)), 6)
               AS quality_score
    FROM m
    """,
    survey="extension (text analysis): per-doc quality scoring "
    "(lexical diversity, length, stopword density)",
)
def doc_quality_scores(spark, sf_dir) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = tx.tokens(F.col("text"))
    return docs.select(
        "doc_id",
        tx.token_count(toks).alias("n_tokens"),
        tx.distinct_token_count(toks).alias("n_distinct"),
        F.round(tx.type_token_ratio(toks), 6).alias("type_token_ratio"),
        F.round(tx.mean_token_length(F.col("text"), toks), 6).alias("mean_token_len"),
        F.round(tx.quality_score(toks), 6).alias("quality_score"),
    )


@register(
    "doc_language_id",
    oracle=f"""
    WITH {_DOC_TOKS_CTE},
    scored AS (SELECT doc_id, lang, {_LANG_SCORES_SQL} FROM doc_toks)
    SELECT lang, {_PRED_SQL} AS predicted_lang, COUNT(*) AS n_docs
    FROM scored
    GROUP BY lang, {_PRED_SQL}
    """,
    survey="extension (text analysis): n-gram/marker language-ID heuristic; "
    "confusion counts vs the labeled lang column",
)
def doc_language_id(spark, sf_dir) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = tx.tokens(F.col("text"))
    return (
        docs.select("lang", tx.predicted_lang(toks).alias("predicted_lang"))
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "doc_fingerprints",
    oracle=f"""
    WITH {_DOC_TOKS_CTE},
    tok_ex AS (
      SELECT doc_id, toks[i] AS tok, i AS ord
      FROM doc_toks, UNNEST(range(1, len(toks) + 1)) AS u(i)
    )
    SELECT doc_id,
           CAST(SUM(({dd.hash_id_sql('tok')} % 1000003 + 1)
                    * ((ord * 2654435761) % 1000003)) AS BIGINT)
               AS fingerprint
    FROM tok_ex
    GROUP BY doc_id
    """,
    survey="extension (text analysis): positional rolling-hash document "
    "fingerprint over md5-derived token ids — explode + one groupBy, no "
    "dictionary build",
)
def doc_fingerprints(spark, sf_dir) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tx.tokens(F.col("text")).alias("toks"))
    ex = toks.select(
        "doc_id", F.posexplode("toks").alias("pos", "tok")
    ).withColumn("ord", F.col("pos") + 1)
    return ex.groupBy("doc_id").agg(
        F.sum(
            (dd.hash_id(F.col("tok")) % 1000003 + 1)
            * ((F.col("ord") * 2654435761) % 1000003)
        ).cast("long").alias("fingerprint")
    )


@register(
    "dedup_exact_documents",
    oracle="""
    WITH docs_plus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text FROM documents
        WHERE doc_id % 20 = 0
    )
    SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM docs_plus GROUP BY text
    """,
    survey="extension (dedup, exact tier): content hash-groupBy keeping the "
    "lowest id — D1 at corpus scale; duplicate copies injected "
    "deterministically since testdata has none",
)
def dedup_exact_documents(spark, sf_dir) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    dupes = docs.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return (
        docs.unionByName(dupes)
        .groupBy("text")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("keep_id", "n_copies")
    )


@register(
    "doc_duplicate_span_coverage",
    oracle=f"""
    WITH {_DOC_SH_CTE},
    ex AS (SELECT doc_id, unnest(sh) AS shingle FROM doc_sh),
    cnt AS (SELECT shingle, COUNT(*) AS n_docs FROM ex GROUP BY shingle)
    SELECT e.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN c.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_spans,
           ROUND(CAST(SUM(CASE WHEN c.n_docs >= 2 THEN 1 ELSE 0 END)
                      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS dup_frac
    FROM ex e JOIN cnt c USING (shingle)
    GROUP BY e.doc_id
    """,
    survey="extension (dedup, span tier): substring-level duplication "
    "profile (Lee et al. 2022 'Deduplicating Training Data' span dedup, "
    "at word-3-gram granularity) — per document, the fraction of its "
    "distinct spans that also occur in ANY other document; corpus-level "
    "counterpart of the pairwise Jaccard ops",
)
def doc_duplicate_span_coverage(spark, sf_dir) -> DataFrame:
    """Per-document duplicated-span coverage: explode each document's
    distinct word-3-gram spans, count how many documents contain each span
    (one hash aggregation keyed on the span), then re-join and fold back
    per document.  Documents with duplicated spans but low pairwise Jaccard
    (boilerplate headers, quoted passages) surface HERE and nowhere in the
    pairwise ops — exactly the gap span-level dedup exists to close.

    Scale shape: two shuffles (span key, then doc key) plus one
    co-partitioned equi-join on the span key; partial aggregation is
    map-side both times, and no window buffers a hot span's whole
    partition.  At 100 TB the span strings themselves dominate shuffle
    bytes — swap the join key for xxhash64(span) there (collision odds
    ~n²/2⁶⁴ merge two spans' counts, harmless for a coverage profile but
    kept exact here for the value oracle)."""
    sh = _doc_sh(spark, sf_dir).select(
        "doc_id", F.explode("sh").alias("shingle")
    )
    cnt = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("n_docs"))
    dup = F.when(F.col("n_docs") >= 2, F.lit(1)).otherwise(F.lit(0))
    return (
        sh.join(cnt, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.sum(dup).cast("long").alias("n_dup_spans"),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_dup_spans",
            F.round(
                F.col("n_dup_spans").cast("double")
                / F.col("n_spans").cast("double"),
                6,
            ).alias("dup_frac"),
        )
    )


@register(
    "doc_span_novelty",
    oracle=f"""
    WITH {_DOC_SH_CTE},
    ex AS (SELECT doc_id, unnest(sh) AS shingle FROM doc_sh),
    first_seen AS (
        SELECT shingle, MIN(doc_id) AS first_doc FROM ex GROUP BY shingle
    )
    SELECT e.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel_spans,
           ROUND(CAST(SUM(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0
                          END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
               AS novelty_frac
    FROM ex e JOIN first_seen f USING (shingle)
    GROUP BY e.doc_id
    """,
    survey="extension (dedup, span tier): ingestion-order span NOVELTY — "
    "per document, the fraction of its distinct spans whose FIRST "
    "occurrence (min doc_id) is this document; the triage signal an "
    "incremental-ingest pipeline thresholds on before paying full dedup "
    "(a near-zero-novelty batch is boilerplate), complementing "
    "doc_duplicate_span_coverage's order-free duplication profile",
)
def doc_span_novelty(spark, sf_dir) -> DataFrame:
    """Span novelty by ingestion order (doc_id as arrival order): one
    min-aggregation keyed on the span assigns each span its first-seen
    document; the join back + per-doc fold yields the novelty curve.
    Same two-shuffle + co-partitioned-join shape (and the same 100 TB
    span-hashing note) as doc_duplicate_span_coverage."""
    sh = _doc_sh(spark, sf_dir).select(
        "doc_id", F.explode("sh").alias("shingle")
    )
    first_seen = sh.groupBy("shingle").agg(
        F.min("doc_id").alias("first_doc")
    )
    novel = F.when(
        F.col("first_doc") == F.col("doc_id"), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        sh.join(first_seen, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.sum(novel).cast("long").alias("n_novel_spans"),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_novel_spans",
            F.round(
                F.col("n_novel_spans").cast("double")
                / F.col("n_spans").cast("double"),
                6,
            ).alias("novelty_frac"),
        )
    )


@register(
    "ngram_jaccard_pairs",
    oracle=f"""
    WITH {_DOC_SH_CTE}, {_JACCARD_PAIRS_REL}
    SELECT a_id, b_id, sim FROM jac_pairs WHERE sim >= {JACCARD_THRESHOLD}
    """,
    survey="extension (dedup, exact-similarity tier): word-3-gram Jaccard "
    "within lang blocks via PPJoin prefix filtering — equi-join on prefix "
    "shingles, no quadratic block scan (same-lang semantics kept by a "
    "verify-time filter; the oracle states it as a blocked self-join)",
)
def ngram_jaccard_pairs(spark, sf_dir, fresh: bool = False) -> DataFrame:
    """Verified same-lang Jaccard pairs, STAGED once per documents version
    (round-6: the fixed-overhead fix one level above connected_components —
    the 7-shuffle PPJoin build cost ~5.5 s under a plain 200-partition
    session and was re-paid by the first consumer of every fresh process;
    `dedup_cluster_components` was the 237-query sweep's slowest entry
    because of it). Same build-once-serve-many staging as the PQ index and
    the co-purchase pair list (fsutil.staged_tables, mtime+size-keyed);
    consumers (this query, dedup_cluster_components,
    dedup_incremental_batch's history side where applicable) read a
    handful-of-rows parquet instead of re-deriving the join. coalesce(4):
    the pair list is match-scale (6 rows at sf0.01, 256 at sf0.1)."""
    from energy_emissions_lakehouse_spark.fsutil import (
        staged_tables,
        table_cache_key,
    )

    cache_key = table_cache_key(sf_dir, "documents", "jac", JACCARD_THRESHOLD)

    def build() -> DataFrame:
        sh = _doc_sh(spark, sf_dir)
        cand = dd.prefix_candidate_pairs(
            sh.select("doc_id", "sh"), JACCARD_THRESHOLD
        )
        a = sh.select(
            F.col("doc_id").alias("a_id"), F.col("lang").alias("a_lang"),
            F.col("sh").alias("a_sh"),
        )
        b = sh.select(
            F.col("doc_id").alias("b_id"), F.col("lang").alias("b_lang"),
            F.col("sh").alias("b_sh"),
        )
        return (
            cand.join(a, "a_id")
            .join(b, "b_id")
            .filter(F.col("a_lang") == F.col("b_lang"))
            .select(
                "a_id",
                "b_id",
                F.round(
                    dd.jaccard(F.col("a_sh"), F.col("b_sh")), 6
                ).alias("sim"),
            )
            .filter(F.col("sim") >= JACCARD_THRESHOLD)
            .coalesce(4)
        )

    return session_memo(
        spark,
        ("text.jaccard_pairs", sf_dir, cache_key),
        lambda: staged_tables(
            spark, "jaccard_pairs", cache_key, {"pairs": build}, fresh=fresh
        )["pairs"],
        fresh=fresh,
    )


@register(
    "minhash_signatures",
    oracle=f"""
    WITH {_DOC_SH_CTE}, {_TIDS_CTE}
    SELECT doc_id, {_MINHASH_AGGS} FROM tids GROUP BY doc_id
    """,
    survey="extension (dedup, MinHash tier): 16-hash signatures over "
    "md5-derived shingle ids — shingle->minhash stage of the LSH pipeline",
)
def minhash_signatures(spark, sf_dir) -> DataFrame:
    return dd.minhash_signatures(_doc_sh(spark, sf_dir).select("doc_id", "sh"))


@register(
    "minhash_lsh_pairs",
    oracle=f"""
    WITH {_DOC_SH_CTE}, {_TIDS_CTE}, {_SIGS_CTE}, {_BANDS_CTE},
    cand AS (
        SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
        FROM bands x JOIN bands y ON {_BAND_JOIN} AND x.doc_id < y.doc_id
    )
    SELECT c.a_id, c.b_id, {_JACCARD_SQL} AS sim
    FROM cand c
    JOIN doc_sh a ON a.doc_id = c.a_id
    JOIN doc_sh b ON b.doc_id = c.b_id
    WHERE {_JACCARD_SQL} >= {JACCARD_THRESHOLD}
    """,
    survey="extension (dedup, LSH tier): band-bucket equi-join candidates + "
    "exact-Jaccard verification — the scalable near-dup path (no cartesian)",
)
def minhash_lsh_pairs(spark, sf_dir) -> DataFrame:
    doc_sh = _doc_sh(spark, sf_dir).select("doc_id", "sh")
    sigs = dd.minhash_signatures(doc_sh)
    cand = dd.lsh_candidate_pairs(sigs)
    return dd.verified_pairs(cand, doc_sh, JACCARD_THRESHOLD)


_SIMHASH_WEIGHTS = ", ".join(
    f"SUM(((g >> {j}) & 1) * 2 - 1) AS w{j}" for j in range(dd.SIMHASH_BITS)
)
_SIMHASH_VALUE = " + ".join(
    f"(CASE WHEN w{j} >= 0 THEN {1 << j} ELSE 0 END)" for j in range(dd.SIMHASH_BITS)
)
_SIMHASH_CTE = (
    f"hashed AS (SELECT doc_id, hid & {dd.SIMHASH_MASK} AS g FROM tids), "
    f"weights AS (SELECT doc_id, {_SIMHASH_WEIGHTS} FROM hashed GROUP BY doc_id), "
    f"sims AS (SELECT doc_id, CAST({_SIMHASH_VALUE} AS BIGINT) AS sh32 FROM weights)"
)
_SIM_WIDTH = dd.SIMHASH_BITS // dd.SIMHASH_BANDS
_SIM_BANDS_CTE = (
    "sim_bands AS ("
    + " UNION ALL ".join(
        f"SELECT doc_id, sh32, {b} AS band, (sh32 >> {b * _SIM_WIDTH}) "
        f"& {(1 << _SIM_WIDTH) - 1} AS band_val FROM sims"
        for b in range(dd.SIMHASH_BANDS)
    )
    + ")"
)


@register(
    "simhash_hamming_pairs",
    oracle=f"""
    WITH {_DOC_SH_CTE}, {_TIDS_CTE}, {_SIMHASH_CTE}, {_SIM_BANDS_CTE}
    SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id,
           CAST(bit_count(xor(x.sh32, y.sh32)) AS BIGINT) AS hamming
    FROM sim_bands x
    JOIN sim_bands y ON x.band = y.band AND x.band_val = y.band_val
                     AND x.doc_id < y.doc_id
    WHERE bit_count(xor(x.sh32, y.sh32)) <= 3
    """,
    survey="extension (dedup, SimHash tier): 32-bit sign-projection hash, "
    "byte-banded join exact for hamming<=3 by pigeonhole",
)
def simhash_hamming_pairs(spark, sf_dir) -> DataFrame:
    sims = dd.simhash(_doc_sh(spark, sf_dir).select("doc_id", "sh"))
    return dd.simhash_hamming_pairs(sims, max_hamming=3)


@register(
    "doc_stats_rollup",
    oracle=f"""
    WITH {_DOC_TOKS_CTE}
    SELECT lang, source,
           COUNT(*) AS n_docs,
           {scaled_sum_sql("CAST(len(toks) AS DOUBLE)", 1)} AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM doc_toks
    GROUP BY lang, source
    """,
    survey="extension (text analysis): corpus rollup by (lang, source) — "
    "the partition-key profile a 100 TB corpus job starts from",
)
def doc_stats_rollup(spark, sf_dir) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = tx.tokens(F.col("text"))
    return docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        scaled_sum(tx.token_count(toks).cast("double"), scale=1).alias("total_tokens"),
        F.sum(F.col("n_chars").cast("long")).alias("total_chars"),
    )


@register(
    "doc_bpe_token_stats",
    oracle=f"""
    WITH toks AS (
        SELECT lang,
               regexp_extract_all(lower(text), '{tx.BPE_ISH_PATTERN}') AS bt
        FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(bt)) AS BIGINT) AS total_bpe_tokens,
           CAST(SUM(len(list_filter(bt, x -> x ~ '^[0-9]+$'))) AS BIGINT)
               AS digit_runs,
           CAST(SUM(len(list_filter(bt, x -> x ~ '^[^a-z0-9]+$'))) AS BIGINT)
               AS punct_runs
    FROM toks
    GROUP BY lang
    """,
    survey="extension (text analysis): BPE-ish regex pre-tokenization "
    "(letter/digit/punct runs) — the LLM token-budget proxy; "
    "regexp_extract_all verified token-identical across engines",
)
def doc_bpe_token_stats(spark, sf_dir) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    bt = tx.bpe_ish_tokens(F.col("text"))
    digit = F.filter(bt, lambda x: x.rlike("^[0-9]+$"))
    punct = F.filter(bt, lambda x: x.rlike("^[^a-z0-9]+$"))
    return (
        docs.select("lang", bt.alias("bt"), F.size(digit).alias("nd"),
                    F.size(punct).alias("np"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size("bt").cast("long")).alias("total_bpe_tokens"),
            F.sum(F.col("nd").cast("long")).alias("digit_runs"),
            F.sum(F.col("np").cast("long")).alias("punct_runs"),
        )
    )


@register(
    "dedup_cluster_components",
    oracle=f"""
    WITH RECURSIVE {_DOC_SH_CTE},
    -- AS MATERIALIZED is load-bearing: the recursive reach term joins
    -- sym once per fixpoint iteration, and DuckDB inlines plain CTEs --
    -- inlined, the jaccard pair scan re-evaluates every iteration
    -- (measured ~860 s at sf0.1 with the old all-pairs scan; the pair
    -- derivation is now the relational overlap join, _JACCARD_PAIRS_REL)
    {_JACCARD_PAIRS_REL},
    pairs AS MATERIALIZED (
        SELECT a_id, b_id FROM jac_pairs WHERE sim >= {JACCARD_THRESHOLD}
    ),
    copies AS MATERIALIZED (
        SELECT doc_id AS a_id, doc_id + 1000000 AS b_id
        FROM documents WHERE doc_id % 20 = 0
    ),
    all_edges AS MATERIALIZED (
        SELECT * FROM pairs UNION ALL SELECT * FROM copies),
    sym AS MATERIALIZED (
        SELECT a_id AS a, b_id AS b FROM all_edges
        UNION
        SELECT b_id AS a, a_id AS b FROM all_edges
    ),
    nodes AS MATERIALIZED (SELECT DISTINCT a AS node FROM sym),
    reach AS (
        SELECT node, node AS label FROM nodes
        UNION
        SELECT s.b AS node, r.label FROM reach r JOIN sym s ON s.a = r.node
    ),
    comp AS (
        SELECT node AS doc_id, MIN(label) AS component_id
        FROM reach GROUP BY node
    )
    SELECT doc_id, component_id,
           COUNT(*) OVER (PARTITION BY component_id) AS cluster_size
    FROM comp
    """,
    survey="extension (dedup, clustering tier): connected components over "
    "the near-dup pair graph (jaccard pairs + injected exact copies) via "
    "iterative min-label propagation (operators/dedup.connected_components) "
    "— the transitive-closure step that turns pairwise matches into dedup "
    "clusters (keep min doc_id per component). Oracle is a DuckDB recursive "
    "CTE computing the same fixpoint; the iterative tier is the engine's "
    "only driver-looped operator (Pregel-style, scalar-only driver traffic)",
)
def dedup_cluster_components(spark, sf_dir) -> DataFrame:
    """Dedup clusters: every doc that has at least one (near-)duplicate is
    mapped to its component (labeled by the component's min doc_id) plus the
    cluster size. Downstream curation keeps component_id == doc_id rows."""
    # the component table is pair-scale; keep the rollup + self-join at the
    # loop's partition count instead of the caller session's (the operator
    # already ran under the loop-local override — see connected_components).
    # The lazy census plan is _dedup_cluster_frame for the plan audit.
    # Round-7 advice: resolve the staged jaccard-pair index BEFORE the
    # override — a cold build is the corpus-scale 7-shuffle PPJoin and
    # must run at the caller session's parallelism, not the loop's 8.
    ngram_jaccard_pairs(spark, sf_dir)
    with loop_shuffle_partitions(spark, 8):
        return _dedup_cluster_frame(spark, sf_dir).localCheckpoint(eager=True)


def _dedup_cluster_frame(spark, sf_dir) -> DataFrame:
    """Runs min-label propagation (eager per-round checkpoints inside
    connected_components) and returns the LAZY cluster-size census; the
    registered query materializes it inside the loop-local override."""
    pairs = ngram_jaccard_pairs(spark, sf_dir).select("a_id", "b_id")
    copies = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 20 == 0)
        .select(
            F.col("doc_id").alias("a_id"),
            (F.col("doc_id") + 1000000).alias("b_id"),
        )
    )
    comp = dd.connected_components(pairs.unionByName(copies))
    sizes = comp.groupBy("component_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return comp.join(sizes, "component_id").select(
        F.col("node").alias("doc_id"), "component_id", "cluster_size"
    )


@register(
    "doc_word_topk",
    oracle=f"""
    WITH words AS (
        SELECT UNNEST({_TOKS}) AS word FROM documents
    )
    SELECT word, COUNT(*) AS n_occurrences
    FROM words
    WHERE word <> ''
    GROUP BY word
    ORDER BY n_occurrences DESC, word
    LIMIT 50
    """,
    survey="extension (text analysis): corpus word histogram top-k — "
    "explode(split) lateral flatten + hash-aggregate + TakeOrderedAndProject "
    "(no total sort; per-partition heaps). The vocabulary-profile pass a "
    "training pipeline runs before building a tokenizer. Word asc "
    "tiebreaker -> deterministic boundary at k=50",
)
def doc_word_topk(spark, sf_dir) -> DataFrame:
    """Top-50 words across the corpus. The explode is a generator (no
    shuffle); the count is one keyed hash-aggregate with map-side partials;
    the top-k never sorts the full vocabulary."""
    docs = t(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(F.lower("text"), r"\W+")).alias("word")
    )
    return (
        words.filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "word")
        .limit(50)
    )


@register(
    "doc_array_functions_profile",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter({_TOKS}, x -> x <> '') AS tk
        FROM documents
    )
    SELECT doc_id,
           CAST(len(tk) AS BIGINT)                 AS n_tokens,
           CAST(len(list_distinct(tk)) AS BIGINT)  AS n_distinct,
           array_to_string(
               list_slice(list_sort(list_distinct(tk)), 1, 3), '|'
           )                                       AS first3_sorted,
           list_contains(tk, 'the')                AS has_the
    FROM toks
    """,
    survey="extension (complex types): array higher-order-function surface — "
    "filter (lambda), array_distinct, sort_array, slice, array_contains, "
    "array_join, all evaluated per-row inside whole-stage codegen (zero "
    "shuffles, zero UDFs). The per-document array never leaves its row, so "
    "the pass is embarrassingly parallel at any scale",
)
def doc_array_functions_profile(spark, sf_dir) -> DataFrame:
    """Per-document token-array profile: counts, distinct counts, the first
    three distinct tokens (canonical sort, pipe-joined), and a membership
    probe — the array-column toolkit on one line each."""
    docs = t(spark, sf_dir, "documents")
    tk = F.filter(
        F.split(F.lower("text"), r"\W+"), lambda x: x != F.lit("")
    )
    d = docs.select("doc_id", tk.alias("tk"))
    return d.select(
        "doc_id",
        F.size("tk").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("tk")).cast("long").alias("n_distinct"),
        F.array_join(
            F.slice(F.sort_array(F.array_distinct("tk")), 1, 3), "|"
        ).alias("first3_sorted"),
        F.array_contains("tk", "the").alias("has_the"),
    )


@register(
    "doc_regex_profile",
    oracle="""
    SELECT doc_id,
           regexp_extract(text, '([0-9]+)', 1)                AS first_number,
           CAST(len(regexp_extract_all(text, '[aeiou]{2}')) AS BIGINT)
                                                              AS n_vowel_pairs,
           regexp_matches(text, 'https?://')                  AS has_url,
           CAST(length(regexp_replace(text, '[aeiou]', '', 'g')) AS BIGINT)
                                                              AS len_no_vowels
    FROM documents
    """,
    survey="extension (P3/§2.11 string surface): regex function family — "
    "regexp_extract / regexp_count / rlike / regexp_replace, all JVM "
    "regex inside whole-stage codegen (zero shuffles, zero UDFs). "
    "Patterns restricted to the dialect intersection (character classes, "
    "quantifiers, alternation) so Java regex and DuckDB RE2 agree",
)
def doc_regex_profile(spark, sf_dir) -> DataFrame:
    """Per-document regex probe: first number literal, double-vowel count,
    URL detection, vowel-stripped length. A map-only pass — the regex cost
    is per-row CPU, which is exactly what scales linearly with executors."""
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_extract("text", r"([0-9]+)", 1).alias("first_number"),
        F.regexp_count("text", F.lit(r"[aeiou]{2}"))
        .cast("long")
        .alias("n_vowel_pairs"),
        F.col("text").rlike(r"https?://").alias("has_url"),
        F.length(F.regexp_replace("text", r"[aeiou]", ""))
        .cast("long")
        .alias("len_no_vowels"),
    )


@register(
    "lateral_explode_doc_words",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, list_filter({_TOKS}, x -> x <> '') AS tk
        FROM documents
    ),
    pos AS (
        SELECT doc_id,
               unnest(tk)                 AS word,
               generate_subscripts(tk, 1) AS pos
        FROM toks
    )
    SELECT doc_id,
           COUNT(*)           AS n_long_words,
           arg_min(word, pos) AS first_long_word
    FROM pos
    WHERE length(word) >= 7
    GROUP BY doc_id
    """,
    survey="extension (SQL surface): LATERAL VIEW posexplode through "
    "spark.sql — the table-generating-function path of the SQL API; "
    "argmin via min(struct(pos, word)) so 'first by position' needs no "
    "window. Explode fan-out happens map-side inside codegen; the only "
    "shuffle is the final doc_id aggregate",
)
def lateral_explode_doc_words(spark, sf_dir) -> DataFrame:
    """Long words (>=7 chars) per document via SQL LATERAL VIEW posexplode:
    count + the first one by token position. Registers the documents table
    as a temp view and runs the query as SQL text — exercising the parser/
    analyzer path a SQL-first user of the engine would hit."""
    docs = t(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("eel_docs_lateral")
    return spark.sql(
        r"""
        SELECT doc_id,
               COUNT(*)                                        AS n_long_words,
               MIN(named_struct('pos', pos, 'word', word)).word AS first_long_word
        FROM eel_docs_lateral
        LATERAL VIEW posexplode(
            filter(split(lower(text), '\\W+'), x -> x != '')
        ) t AS pos, word
        WHERE length(word) >= 7
        GROUP BY doc_id
        """
    )


@register(
    "udtf_sentence_stats",
    oracle="""
    WITH sent AS (
        SELECT doc_id,
               list_filter(
                   list_transform(string_split(text, '.'), x -> trim(x)),
                   x -> x <> ''
               ) AS ss
        FROM documents
    )
    SELECT doc_id,
           CAST(len(ss) AS BIGINT) AS n_sentences,
           CAST(COALESCE(list_max(list_transform(ss, x -> length(x))), 0)
                AS BIGINT) AS max_sentence_len
    FROM sent
    WHERE len(ss) > 0
    """,
    survey="extension (UDTF surface): Python user-defined TABLE function "
    "(Spark 4 @udtf) — one input row fans out to N sentence rows via a "
    "LATERAL JOIN, then re-aggregates. The reference has no UDF/UDTF "
    "surface at all (SURVEY §2.13); this pins the engine's table-function "
    "escape hatch to a declarative split/unnest oracle. UDTFs run in the "
    "Python worker — keep them off hot paths; this exists as operator "
    "coverage, the split/HOF form (doc_* queries) is the scale path",
)
def udtf_sentence_stats(spark, sf_dir) -> DataFrame:
    """Sentence stats per document through a Python UDTF lateral join:
    the UDTF yields one row per non-empty trimmed '.'-segment; the outer
    query counts and measures them. Exactly equals the pure-SQL
    split/filter oracle."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="sentence: string")
    class SplitSentences:
        def eval(self, text: str):
            for seg in (text or "").split("."):
                seg = seg.strip()
                if seg:
                    yield (seg,)

    spark.udtf.register("eel_split_sentences", SplitSentences)
    t(spark, sf_dir, "documents").createOrReplaceTempView("eel_docs_udtf")
    return spark.sql(
        """
        SELECT d.doc_id,
               CAST(COUNT(*) AS BIGINT)               AS n_sentences,
               CAST(MAX(length(s.sentence)) AS BIGINT) AS max_sentence_len
        FROM eel_docs_udtf d,
             LATERAL eel_split_sentences(d.text) s
        GROUP BY d.doc_id
        """
    )


_CURATION_Q_MIN = 0.62
_CURATION_MIN_TOKENS = 20
_QUALITY_SQL = (
    "ROUND(0.3 * (CAST(len(list_distinct(toks)) AS DOUBLE)"
    " / NULLIF(CAST(len(toks) AS DOUBLE), 0.0))"
    " + 0.4 * LEAST(1.0, CAST(len(toks) AS DOUBLE) / 100.0)"
    f" + 0.3 * (1.0 - CAST(len(list_filter(toks, tk -> tk IN ({_STOP_LIST})))"
    " AS DOUBLE) / NULLIF(CAST(len(toks) AS DOUBLE), 0.0)), 6)"
)


@register(
    "corpus_curation_pipeline",
    oracle=f"""
    WITH {_DOC_TOKS_CTE},
    scored AS (
        SELECT doc_id, lang, source, text, toks,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               {_QUALITY_SQL} AS q, {_LANG_SCORES_SQL}
        FROM doc_toks
    ),
    -- MATERIALIZED: referenced by both sides of the exact-dedup window
    -- (the per-doc quality/lang scoring would otherwise run twice)
    kept AS MATERIALIZED (
        SELECT doc_id, lang, source, text, toks, n_tokens FROM scored
        WHERE q >= {_CURATION_Q_MIN} AND n_tokens >= {_CURATION_MIN_TOKENS}
          AND ({_PRED_SQL}) = lang
    ),
    exact AS (
        SELECT * FROM kept k
        WHERE doc_id = (SELECT MIN(doc_id) FROM kept k2 WHERE k2.text = k.text)
    ),
    -- MATERIALIZED: 3 consumers (shingle explode, sizes, final census)
    sh AS MATERIALIZED (
        SELECT doc_id, lang, source, n_tokens, {_SHINGLES} AS sh
        FROM exact),
    -- relational near-dup (round 6): shingle equi-join overlap counts
    -- instead of the quadratic all-pairs list_intersect scan (the same
    -- value-identical rewrite as _JACCARD_PAIRS_REL, but CROSS-lang —
    -- this funnel near-dups the whole exact-deduped corpus, matching the
    -- engine's unblocked PPJoin here; sh is list_distinct'd so the join
    -- count IS the intersection size, and pairs with zero overlap can
    -- never reach the threshold). 12.2 s -> sub-second at sf0.1.
    n_ex AS MATERIALIZED (SELECT doc_id, unnest(sh) AS shingle FROM sh),
    n_sz AS MATERIALIZED (SELECT doc_id, len(sh) AS m FROM sh),
    n_ov AS MATERIALIZED (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS ov
        FROM n_ex a JOIN n_ex b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
    near_drop AS (
        SELECT DISTINCT b_id AS doc_id
        FROM n_ov
        JOIN n_sz sa ON sa.doc_id = a_id
        JOIN n_sz sb ON sb.doc_id = b_id
        WHERE ROUND(ov * 1.0 / NULLIF(
                  CAST(sa.m + sb.m AS DOUBLE) - ov, 0.0), 6)
              >= {JACCARD_THRESHOLD}
    ),
    curated AS (
        SELECT * FROM sh WHERE doc_id NOT IN (SELECT doc_id FROM near_drop)
    )
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM curated
    GROUP BY lang, source
    ORDER BY lang, source
    """,
    survey="extension (training-data pipeline, end-to-end composition): "
    "quality gate (score>=0.62, >=20 tokens) -> language-consistency gate "
    "(marker-predicted lang agrees with label) -> exact dedup (min-id per "
    "content) -> near-dup removal (PPJoin + Jaccard>=0.8, drop the higher "
    "id of each pair) -> curated per-(lang,source) doc/token stats. Every "
    "stage is the registered operator it composes (doc_quality_scores, "
    "doc_language_id, dedup_exact_documents, ngram_jaccard_pairs); one "
    "declarative plan end-to-end — no staging collects",
)
def corpus_curation_pipeline(spark, sf_dir) -> DataFrame:
    """The canonical curation funnel a training-data pipeline runs before
    tokenization, as ONE composed DataFrame plan (filters -> window dedup
    -> PPJoin near-dup anti-join -> rollup)."""
    docs = t(spark, sf_dir, "documents")
    toks = tx.tokens(F.col("text"))
    scored = docs.select(
        "doc_id",
        "lang",
        "source",
        "text",
        tx.token_count(toks).alias("n_tokens"),
        F.round(tx.quality_score(toks), 6).alias("q"),
        tx.predicted_lang(toks).alias("pred"),
    )
    kept = scored.filter(
        (F.col("q") >= _CURATION_Q_MIN)
        & (F.col("n_tokens") >= _CURATION_MIN_TOKENS)
        & (F.col("pred") == F.col("lang"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("text")
    exact = (
        kept.withColumn("keep_id", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("keep_id"))
        .select("doc_id", "lang", "source", "text", "n_tokens")
    )
    sh = exact.select(
        "doc_id",
        "lang",
        "source",
        "n_tokens",
        tx.shingles(tx.tokens(F.col("text"))).alias("sh"),
    ).localCheckpoint(eager=True)
    pairs = dd.verified_pairs(
        dd.prefix_candidate_pairs(sh.select("doc_id", "sh"), JACCARD_THRESHOLD),
        sh.select("doc_id", "sh"),
        JACCARD_THRESHOLD,
    )
    near_drop = pairs.select(F.col("b_id").alias("doc_id")).distinct()
    curated = sh.join(near_drop, "doc_id", "left_anti")
    return (
        curated.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
        .orderBy("lang", "source")
    )


# ------------------------------------------------- corpus quality / safety


@register(
    "doc_gopher_quality_filter",
    oracle=f"""
    WITH {_DOC_TOKS_CTE},
    tok_ex AS (SELECT doc_id, unnest(toks) AS tok FROM doc_toks),
    tok_cnt AS (SELECT doc_id, tok, COUNT(*) AS c FROM tok_ex
                GROUP BY doc_id, tok),
    top_tok AS (SELECT doc_id, MAX(c) AS top_c, SUM(c) AS n_tok
                FROM tok_cnt GROUP BY doc_id),
    m AS (
      SELECT d.doc_id, d.lang, d.source,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
             CAST(len(list_filter(toks, tk -> tk IN ({_STOP_LIST}))) AS BIGINT)
                 AS n_stop,
             CAST(length(regexp_replace(lower(text), '\\W+', '', 'g')) AS BIGINT)
                 AS n_word_chars,
             tt.top_c, tt.n_tok
      FROM doc_toks d JOIN top_tok tt ON tt.doc_id = d.doc_id
    ),
    rules AS (
      SELECT lang, source,
             (n_tokens BETWEEN 20 AND 1000)                    AS r_len,
             (n_word_chars BETWEEN 2 * n_tokens AND 12 * n_tokens) AS r_mean,
             (n_stop * 50 >= n_tokens)                         AS r_stop,
             (n_distinct * 10 >= n_tokens)                     AS r_ttr,
             (top_c * 5 <= n_tok)                              AS r_rep
      FROM m
    )
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(CASE WHEN r_len AND r_mean AND r_stop AND r_ttr
                           AND r_rep THEN 1 END) AS BIGINT) AS n_kept,
           CAST(COUNT(CASE WHEN NOT r_len  THEN 1 END) AS BIGINT) AS fail_len,
           CAST(COUNT(CASE WHEN NOT r_mean THEN 1 END) AS BIGINT) AS fail_mean_len,
           CAST(COUNT(CASE WHEN NOT r_stop THEN 1 END) AS BIGINT) AS fail_stopword,
           CAST(COUNT(CASE WHEN NOT r_ttr  THEN 1 END) AS BIGINT) AS fail_ttr,
           CAST(COUNT(CASE WHEN NOT r_rep  THEN 1 END) AS BIGINT) AS fail_repetition
    FROM rules
    GROUP BY lang, source
    ORDER BY lang, source
    """,
    survey="extension (training pipeline): Gopher/C4-style composite "
    "quality-filter ruleset — length, mean-word-length, stopword-presence, "
    "lexical-diversity, and top-token-repetition rules evaluated per doc "
    "and rolled up per (lang, source). Every rule compares in integer "
    "space (n_stop*50 >= n_tokens etc.) so the verdicts are cross-engine "
    "exact; the repetition rule's token mode comes from an explode + "
    "two-level groupBy (the 100 TB path), never a per-row quadratic scan",
)
def doc_gopher_quality_filter(spark, sf_dir) -> DataFrame:
    """Per-(lang, source) corpus retention report under a five-rule
    Gopher-style quality filter."""
    docs = t(spark, sf_dir, "documents")
    toks = tx.tokens(F.col("text"))
    base = docs.select(
        "doc_id", "lang", "source",
        tx.token_count(toks).alias("n_tokens"),
        tx.distinct_token_count(toks).alias("n_distinct"),
        tx.stopword_count(toks).alias("n_stop"),
        F.length(
            F.regexp_replace(F.lower(F.col("text")), r"\W+", "")
        ).cast("long").alias("n_word_chars"),
        toks.alias("toks"),
    )
    top_tok = (
        base.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_c"), F.sum("c").alias("n_tok"))
    )
    m = base.drop("toks").join(top_tok, "doc_id")
    rules = m.select(
        "lang", "source",
        F.col("n_tokens").between(20, 1000).alias("r_len"),
        F.col("n_word_chars").between(
            2 * F.col("n_tokens"), 12 * F.col("n_tokens")
        ).alias("r_mean"),
        (F.col("n_stop") * 50 >= F.col("n_tokens")).alias("r_stop"),
        (F.col("n_distinct") * 10 >= F.col("n_tokens")).alias("r_ttr"),
        (F.col("top_c") * 5 <= F.col("n_tok")).alias("r_rep"),
    )
    kept = (
        F.col("r_len") & F.col("r_mean") & F.col("r_stop")
        & F.col("r_ttr") & F.col("r_rep")
    )
    return (
        rules.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(kept, 1)).alias("n_kept"),
            F.count(F.when(~F.col("r_len"), 1)).alias("fail_len"),
            F.count(F.when(~F.col("r_mean"), 1)).alias("fail_mean_len"),
            F.count(F.when(~F.col("r_stop"), 1)).alias("fail_stopword"),
            F.count(F.when(~F.col("r_ttr"), 1)).alias("fail_ttr"),
            F.count(F.when(~F.col("r_rep"), 1)).alias("fail_repetition"),
        )
        .orderBy("lang", "source")
    )


_5GRAMS = (
    "CASE WHEN len(toks) >= 5 THEN list_distinct(list_transform("
    "range(1, len(toks)-3), i -> toks[i] || ' ' || toks[i+1] || ' ' || "
    "toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4])) ELSE [] END"
)


@register(
    "doc_contamination_overlap",
    oracle=f"""
    WITH {_DOC_TOKS_CTE},
    doc_5g AS (SELECT doc_id, {_5GRAMS} AS sh FROM doc_toks),
    bench AS (SELECT doc_id, unnest(sh) AS shingle FROM doc_5g
              WHERE doc_id % 20 = 0),
    corpus AS (SELECT doc_id, unnest(sh) AS shingle FROM doc_5g
               WHERE doc_id % 20 <> 0)
    SELECT c.doc_id,
           CAST(COUNT(DISTINCT c.shingle) AS BIGINT) AS n_shared_shingles,
           CAST(COUNT(DISTINCT b.doc_id) AS BIGINT) AS n_bench_docs
    FROM corpus c JOIN bench b ON b.shingle = c.shingle
    GROUP BY c.doc_id
    HAVING COUNT(DISTINCT c.shingle) >= 2
    ORDER BY c.doc_id
    """,
    survey="extension (training pipeline): benchmark-contamination check — "
    "5-gram shingle overlap between the corpus and a held-out benchmark "
    "set (deterministic doc_id%20 split), planned as a SHUFFLE HASH "
    "equi-join on the shingle with the bench side as build side — never a "
    "broadcast: this bench split is corpus-proportional (5% of docs, "
    "shingle-exploded), so at 100 TB a broadcast of it is multi-TB and "
    "kills the query (round-3 verdict).  Both sides hash-partition on the "
    "shingle key, per-doc distinct-overlap counts follow; the "
    "decontamination join a real pretraining pipeline runs before "
    "training.  (A broadcast IS the right plan when the decontamination "
    "set is a genuinely small fixed benchmark — a few MB of shingles — "
    "but that must be a measured property of the bench set, not assumed.)",
)
def doc_contamination_overlap(spark, sf_dir) -> DataFrame:
    """Corpus documents sharing >=2 distinct 5-gram shingles with the
    pseudo-benchmark split (doc_id % 20 == 0).

    Scale note: the bench side is proportional to the corpus here, so the
    join carries an explicit ``shuffle_hash`` hint (build side = bench)
    instead of a broadcast; tests/test_plan_quality.py pins that no
    BroadcastExchange appears on the corpus-derived bench side."""
    doc_5g = _doc_5g(spark, sf_dir)
    bench = (
        doc_5g.filter(F.col("doc_id") % 20 == 0)
        .select(F.col("doc_id").alias("b_id"), F.explode("sh").alias("shingle"))
    )
    corpus = (
        doc_5g.filter(F.col("doc_id") % 20 != 0)
        .select("doc_id", F.explode("sh").alias("shingle"))
    )
    return (
        corpus.join(bench.hint("shuffle_hash"), "shingle")
        .groupBy("doc_id")
        .agg(
            F.count_distinct("shingle").alias("n_shared_shingles"),
            F.count_distinct("b_id").alias("n_bench_docs"),
        )
        .filter(F.col("n_shared_shingles") >= 2)
        .orderBy("doc_id")
    )


#: Bloom prefilter geometry: 2^20 bits = 16,384 longs = 128 KB broadcast —
#: a MEMORY knob, fixed regardless of benchmark size (vs. broadcasting the
#: shingle strings themselves, which grows with the bench set). k=1 hash;
#: false-positive rate ~= n_bench_shingles / 2^20, and false positives
#: only cost extra rows into the exact join — never wrong answers.
_BLOOM_BITS = 1 << 20


@register(
    "doc_contamination_bloom",
    oracle=f"""
    WITH {_DOC_TOKS_CTE},
    doc_5g AS (SELECT doc_id, {_5GRAMS} AS sh FROM doc_toks),
    bench AS (SELECT doc_id, unnest(sh) AS shingle FROM doc_5g
              WHERE doc_id % 20 = 0),
    corpus AS (SELECT doc_id, unnest(sh) AS shingle FROM doc_5g
               WHERE doc_id % 20 <> 0)
    SELECT c.doc_id,
           CAST(COUNT(DISTINCT c.shingle) AS BIGINT) AS n_shared_shingles,
           CAST(COUNT(DISTINCT b.doc_id) AS BIGINT) AS n_bench_docs
    FROM corpus c JOIN bench b ON b.shingle = c.shingle
    GROUP BY c.doc_id
    HAVING COUNT(DISTINCT c.shingle) >= 2
    ORDER BY c.doc_id
    """,
    survey="extension (training pipeline): the BLOOM-PREFILTERED "
    "decontamination plan — the 100 TB scale path named by the round-3 "
    "verdict. A hand-rolled declarative bloom (xxhash64 -> bit position; "
    "bit_or-aggregated into 16K longs = 128 KB, partial-aggregable "
    "map-side) built from the bench shingles broadcasts at FIXED size "
    "regardless of benchmark scale; the corpus side probes it via a "
    "word-indexed broadcast join + bitmask test, so non-candidate "
    "shingle rows (the overwhelming majority of a 100 TB corpus) die "
    "BEFORE the exact shuffle join. False positives only add rows to the "
    "exact join — results are identical to doc_contamination_overlap, "
    "which the shared oracle pins",
)
def doc_contamination_bloom(spark, sf_dir) -> DataFrame:
    """Same contamination semantics as ``doc_contamination_overlap``, with
    a bloom prefilter ahead of the exact join.

    Plan shape (pinned in tests/test_plan_quality.py):
    1. bench shingles -> bit positions -> ``bit_or`` per 64-bit word
       (<= 16,384 rows; the bloom build is itself a partial-aggregated
       map-side reduction, never a collect);
    2. corpus shingles broadcast-join the word table on ``word_idx`` and
       keep only rows whose bit is set (inner join doubles as "word has
       any bench bit at all");
    3. survivors flow into the exact shuffle-hash join on the shingle.
    The only broadcast is the fixed-128 KB word table — never a
    corpus-proportional side."""
    doc_5g = _doc_5g(spark, sf_dir)
    bench = (
        doc_5g.filter(F.col("doc_id") % 20 == 0)
        .select(F.col("doc_id").alias("b_id"), F.explode("sh").alias("shingle"))
    )
    corpus = (
        doc_5g.filter(F.col("doc_id") % 20 != 0)
        .select("doc_id", F.explode("sh").alias("shingle"))
    )

    bit = F.pmod(F.xxhash64("shingle"), F.lit(_BLOOM_BITS))
    # shiftleft's amount must be a column here, so the mask goes through
    # expr; `bit` is materialized as a column first
    word_idx = F.expr("bit div 64")
    mask = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit % 64 AS INT))")

    bloom_words = (
        bench.withColumn("bit", bit)
        .select(word_idx.alias("word_idx"), mask.alias("m"))
        .groupBy("word_idx")
        .agg(F.bit_or("m").alias("bits"))
    )
    corpus_hit = (
        corpus.withColumn("bit", bit)
        .withColumn("word_idx", word_idx)
        .withColumn("m", mask)
        .join(F.broadcast(bloom_words), "word_idx")
        .filter(F.col("bits").bitwiseAND(F.col("m")) != 0)
        .select("doc_id", "shingle")
    )
    return (
        corpus_hit.join(bench.hint("shuffle_hash"), "shingle")
        .groupBy("doc_id")
        .agg(
            F.count_distinct("shingle").alias("n_shared_shingles"),
            F.count_distinct("b_id").alias("n_bench_docs"),
        )
        .filter(F.col("n_shared_shingles") >= 2)
        .orderBy("doc_id")
    )


@register(
    "doc_repetition_profile",
    oracle=f"""
    WITH {_DOC_TOKS_CTE},
    doc_bg AS (
      SELECT doc_id, lang,
             CASE WHEN len(toks) >= 2 THEN list_transform(
                 range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
             ELSE [] END AS bgs
      FROM doc_toks
    ),
    bg_ex AS (SELECT doc_id, lang, unnest(bgs) AS bg FROM doc_bg),
    bg_cnt AS (SELECT doc_id, lang, bg, COUNT(*) AS c FROM bg_ex
               GROUP BY doc_id, lang, bg),
    per_doc AS (SELECT doc_id, lang, MAX(c) AS top_c, SUM(c) AS n_bg
                FROM bg_cnt GROUP BY doc_id, lang)
    SELECT lang,
           CAST(LEAST(top_c * 10 // n_bg, 9) AS BIGINT) AS dominance_decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM per_doc
    WHERE n_bg > 0
    GROUP BY lang, dominance_decile
    ORDER BY lang, dominance_decile
    """,
    survey="extension (training pipeline): duplicate-bigram dominance "
    "profile (Gopher repetition rule) — per-doc top-bigram share bucketed "
    "into deciles per language; bigrams keep multiplicity "
    "(operators/text.all_ngrams), the share bucket is computed in integer "
    "division (top_c*10 div n_bg) so decile assignment is cross-engine "
    "exact; explode + two-level groupBy, linear in corpus size",
)
def doc_repetition_profile(spark, sf_dir) -> DataFrame:
    """Histogram of per-document top-bigram dominance deciles by language."""
    docs = t(spark, sf_dir, "documents")
    bgs = tx.all_ngrams(tx.tokens(F.col("text")), n=2)
    bg_cnt = (
        docs.select("doc_id", "lang", F.explode(bgs).alias("bg"))
        .groupBy("doc_id", "lang", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc = bg_cnt.groupBy("doc_id", "lang").agg(
        F.max("c").alias("top_c"), F.sum("c").alias("n_bg")
    )
    return (
        per_doc.filter(F.col("n_bg") > 0)
        .select(
            "lang",
            F.least(
                F.expr("top_c * 10 div n_bg"), F.lit(9).cast("bigint")
            ).alias("dominance_decile"),
        )
        .groupBy("lang", "dominance_decile")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "dominance_decile")
    )


#: PII-ish patterns in the Java-regex ∩ RE2 dialect intersection (no
#: lookaround, no backrefs) so Spark and DuckDB match identically.
_EMAIL_RE = "[a-z0-9]+@[a-z0-9]+\\.[a-z]+"
_PHONE_RE = "[0-9]{3}-[0-9]{4}"


@register(
    "doc_pii_redaction_stats",
    oracle=f"""
    WITH seeded AS (
        SELECT doc_id, source,
               text
               || CASE WHEN doc_id % 7 = 0
                       THEN ' contact user' || CAST(doc_id AS VARCHAR)
                            || '@mail' || CAST(doc_id % 5 AS VARCHAR) || '.example'
                       ELSE '' END
               || CASE WHEN doc_id % 11 = 0
                       THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                       ELSE '' END AS text
        FROM documents
    ),
    red AS (
        SELECT doc_id, source,
               CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS BIGINT) AS n_email,
               CAST(len(regexp_extract_all(text, '{_PHONE_RE}')) AS BIGINT) AS n_phone,
               length(text) AS len_before,
               length(regexp_replace(regexp_replace(text,
                   '{_EMAIL_RE}', '<EMAIL>', 'g'),
                   '{_PHONE_RE}', '<PHONE>', 'g')) AS len_after
        FROM seeded
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(CASE WHEN n_email + n_phone > 0 THEN 1 END) AS BIGINT)
               AS n_docs_with_pii,
           CAST(SUM(n_email) AS BIGINT) AS total_email_hits,
           CAST(SUM(n_phone) AS BIGINT) AS total_phone_hits,
           CAST(SUM(len_before - len_after) AS BIGINT) AS chars_redacted_delta
    FROM red
    GROUP BY source
    ORDER BY source
    """,
    survey="extension (training pipeline): PII scrubbing pass — regex "
    "email/phone detection + redaction with per-source audit counts (the "
    "compliance report a corpus release requires). Deterministic PII "
    "injection (testdata has none) seeds the corpus; patterns live in the "
    "Java-regex ∩ RE2 intersection so both engines match identically; "
    "all JVM codegen regexp_count/regexp_replace, map-only until the "
    "per-source rollup",
)
def doc_pii_redaction_stats(spark, sf_dir) -> DataFrame:
    """Per-source PII detection/redaction audit over deterministically
    seeded emails (doc_id%7) and phone numbers (doc_id%11)."""
    docs = t(spark, sf_dir, "documents")
    seeded_text = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@mail"),
                (F.col("doc_id") % 5).cast("string"),
                F.lit(".example"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
    )
    seeded = docs.select("doc_id", "source", seeded_text.alias("text"))
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("text"), _EMAIL_RE, "<EMAIL>"),
        _PHONE_RE,
        "<PHONE>",
    )
    red = seeded.select(
        "source",
        F.regexp_count(F.col("text"), F.lit(_EMAIL_RE)).cast("long").alias("n_email"),
        F.regexp_count(F.col("text"), F.lit(_PHONE_RE)).cast("long").alias("n_phone"),
        F.length("text").alias("len_before"),
        F.length(redacted).alias("len_after"),
    )
    return (
        red.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(
                F.when(F.col("n_email") + F.col("n_phone") > 0, 1)
            ).alias("n_docs_with_pii"),
            F.sum("n_email").alias("total_email_hits"),
            F.sum("n_phone").alias("total_phone_hits"),
            F.sum(F.col("len_before") - F.col("len_after")).cast("long").alias(
                "chars_redacted_delta"
            ),
        )
        .orderBy("source")
    )


_MIX_TOTAL = 300  # target corpus size after mixing


@register(
    "doc_mixture_resample",
    oracle=f"""
    WITH counts AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_before,
               ROUND(sqrt(CAST(COUNT(*) AS DOUBLE)), 9) AS w
        FROM documents GROUP BY source
    ),
    quotas AS (
        SELECT source, n_before,
               CAST(FLOOR({_MIX_TOTAL} * w / (SELECT SUM(w) FROM counts))
                    AS BIGINT) AS quota
        FROM counts
    ),
    ranked AS (
        SELECT d.doc_id, d.source,
               ROW_NUMBER() OVER (PARTITION BY d.source
                   ORDER BY {dd.hash_id_sql("CAST(d.doc_id AS VARCHAR)")},
                            d.doc_id) AS rn
        FROM documents d
    )
    SELECT q.source, q.n_before, q.quota,
           CAST(COUNT(CASE WHEN r.rn <= q.quota THEN 1 END) AS BIGINT)
               AS n_kept
    FROM ranked r JOIN quotas q ON q.source = r.source
    GROUP BY q.source, q.n_before, q.quota
    ORDER BY q.source
    """,
    survey="extension (training pipeline): temperature-based source "
    "mixing (multilingual-LM resampling, T=2 i.e. sqrt weights) — "
    "per-source quotas proportional to sqrt(N_s) flatten the source "
    "distribution, members chosen by deterministic md5-hash rank within "
    "source (reproducible across engines, runs, and layouts). sqrt is "
    "IEEE-correctly-rounded in both engines and weights quantize to 9 dp "
    "before summing so the sum/floor quota chain is order-stable; "
    "per-source windows are hash-partitioned — the 100 TB mixing pass "
    "before tokenization",
)
def doc_mixture_resample(spark, sf_dir) -> DataFrame:
    """Per-source resampling report: sqrt-temperature quotas and the
    deterministically chosen member counts."""
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_before"),
        # 9-dp quantized weight (same convention as the Lloyd model state):
        # SUM accumulation order is engine/partitioning-dependent, and an
        # unquantized sqrt sum can differ in the last ulp, flipping the
        # FLOOR below at an integer boundary — quantizing makes the
        # sum/division/floor chain order-stable in both engines
        F.round(F.sqrt(F.count(F.lit(1)).cast("double")), 9).alias("w"),
    )
    total_w = counts.agg(F.sum("w").alias("w_sum"))
    quotas = (
        counts.crossJoin(F.broadcast(total_w))
        .select(
            "source",
            "n_before",
            F.floor(F.lit(_MIX_TOTAL) * F.col("w") / F.col("w_sum"))
            .cast("long")
            .alias("quota"),
        )
    )
    w = Window.partitionBy("source").orderBy(
        dd.hash_id(F.col("doc_id").cast("string")), "doc_id"
    )
    ranked = docs.select(
        "doc_id", "source", F.row_number().over(w).alias("rn")
    )
    return (
        ranked.join(F.broadcast(quotas), "source")
        .groupBy("source", "n_before", "quota")
        .agg(
            F.count(F.when(F.col("rn") <= F.col("quota"), 1)).alias("n_kept")
        )
        .orderBy("source")
    )


_PACK_BUDGET = 2048  # tokens per packed training sequence


@register(
    "doc_pack_sequences",
    oracle=f"""
    WITH {_DOC_TOKS_CTE},
    m AS (
      SELECT lang, doc_id, CAST(len(toks) AS BIGINT) AS tok_n,
             {dd.hash_id_sql("CAST(doc_id AS VARCHAR)")} AS h
      FROM doc_toks
    ),
    c AS (
      SELECT lang, doc_id, tok_n,
             SUM(tok_n) OVER (PARTITION BY lang ORDER BY h, doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM m
    )
    SELECT lang, CAST((cum - tok_n) // {_PACK_BUDGET} AS BIGINT) AS bin_id,
           COUNT(*) AS n_docs,
           CAST(SUM(tok_n) AS BIGINT) AS bin_tokens
    FROM c
    GROUP BY lang, bin_id
    ORDER BY lang, bin_id
    """,
    survey="extension (training pipeline): SEQUENCE PACKING — greedy "
    "contiguous binning of documents into fixed token budgets "
    f"({_PACK_BUDGET} tokens), the batch-construction pass between "
    "curation and tokenization in a pretraining pipeline. Documents are "
    "ordered by deterministic md5 rank within language (reproducible "
    "shuffle), the running token sum is a PARTITIONED window (one sort "
    "per language shard — at 100 TB packing runs per shard by "
    "construction since bins never span shards), and bin id is integer "
    "arithmetic on the cumulative sum, so the packing is bit-identical "
    "across engines, reruns, and cluster layouts",
)
def doc_pack_sequences(spark, sf_dir) -> DataFrame:
    """Per-(lang, bin) packing stats: docs per bin and filled tokens.
    bin = floor(cum_tokens_before_doc / budget) — greedy contiguous
    packing where a document joins the bin its prefix-sum starts in."""
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents")
    m = docs.select(
        "lang",
        "doc_id",
        tx.token_count(tx.tokens(F.col("text"))).alias("tok_n"),
        dd.hash_id(F.col("doc_id").cast("string")).alias("h"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = m.withColumn("cum", F.sum("tok_n").over(w))
    return (
        c.select(
            "lang",
            F.floor((F.col("cum") - F.col("tok_n")) / F.lit(_PACK_BUDGET))
            .cast("long")
            .alias("bin_id"),
            "tok_n",
        )
        .groupBy("lang", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tok_n").alias("bin_tokens"),
        )
        .orderBy("lang", "bin_id")
    )


_CHUNK_TOKENS = 64   # tokens per chunk window
_CHUNK_STRIDE = 32   # window stride (50% overlap)


@register(
    "doc_chunk_windows",
    oracle=f"""
    WITH {_DOC_TOKS_CTE},
    tok_pos AS (
      SELECT doc_id, lang, unnest(range(0, len(toks))) AS pos
      FROM doc_toks
    ),
    fanout AS (
      SELECT doc_id, lang, pos,
             unnest(generate_series(
                 CASE WHEN pos >= {_CHUNK_TOKENS}
                      THEN (pos - {_CHUNK_TOKENS}) // {_CHUNK_STRIDE} + 1
                      ELSE 0 END,
                 pos // {_CHUNK_STRIDE})) AS chunk_id
      FROM tok_pos
    ),
    chunks AS (
      SELECT doc_id, lang, chunk_id, CAST(COUNT(*) AS BIGINT) AS chunk_tokens
      FROM fanout GROUP BY doc_id, lang, chunk_id
    )
    SELECT lang, chunk_tokens, CAST(COUNT(*) AS BIGINT) AS n_chunks
    FROM chunks
    GROUP BY lang, chunk_tokens
    ORDER BY lang, chunk_tokens
    """,
    survey="extension (training pipeline): overlapping token-window "
    f"CHUNKING — {_CHUNK_TOKENS}-token windows at stride {_CHUNK_STRIDE} "
    "(50% overlap), the document-splitting pass of RAG indexing and "
    "long-context training. Each token fans out to its covering chunk ids "
    "by INTEGER interval arithmetic (posexplode + sequence — bounded "
    "fan-out of chunk/stride per token, linear in corpus tokens, no "
    "windows, no self-join), then chunk sizes roll up to a per-language "
    "histogram. All arithmetic is non-negative integer division, so both "
    "engines produce identical chunking at any layout",
)
def doc_chunk_windows(spark, sf_dir) -> DataFrame:
    """Per-language histogram of chunk sizes after overlapping windowing:
    full windows hold 64 tokens, document tails produce the shorter ones."""
    docs = t(spark, sf_dir, "documents")
    tok_pos = docs.select(
        "doc_id", "lang", F.posexplode(tx.tokens(F.col("text"))).alias("pos", "tok")
    ).select("doc_id", "lang", "pos")
    k_min = F.when(
        F.col("pos") >= _CHUNK_TOKENS,
        ((F.col("pos") - _CHUNK_TOKENS) / _CHUNK_STRIDE).cast("long") + 1,
    ).otherwise(F.lit(0).cast("long"))
    k_max = (F.col("pos") / _CHUNK_STRIDE).cast("long")
    fanout = tok_pos.select(
        "doc_id",
        "lang",
        F.explode(F.sequence(k_min, k_max)).alias("chunk_id"),
    )
    chunks = fanout.groupBy("doc_id", "lang", "chunk_id").agg(
        F.count(F.lit(1)).alias("chunk_tokens")
    )
    return (
        chunks.groupBy("lang", "chunk_tokens")
        .agg(F.count(F.lit(1)).alias("n_chunks"))
        .orderBy("lang", "chunk_tokens")
    )


@register(
    "doc_train_val_split",
    oracle=f"""
    WITH {_DOC_TOKS_CTE},
    keyed AS (
      SELECT doc_id, lang, CAST(len(toks) AS BIGINT) AS tok_n,
             {dd.hash_id_sql("md5(text)")} % 100 AS slot,
             md5(text) AS content_key
      FROM doc_toks
    ),
    tagged AS (
      SELECT *, CASE WHEN slot < 90 THEN 'train'
                     WHEN slot < 95 THEN 'val'
                     ELSE 'test' END AS split
      FROM keyed
    ),
    leak AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_leaked FROM (
        SELECT content_key FROM tagged
        GROUP BY content_key HAVING COUNT(DISTINCT split) > 1
      )
    )
    SELECT split, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(tok_n) AS BIGINT) AS n_tokens,
           (SELECT n_leaked FROM leak) = 0 AS leakage_free
    FROM tagged
    GROUP BY split, lang
    ORDER BY split, lang
    """,
    survey="extension (training pipeline): leakage-controlled train/val/"
    "test SPLIT (90/5/5) — the split key is the md5 of the CONTENT, not "
    "the doc id, so byte-identical duplicates land in the same split by "
    "construction and the eval set cannot be contaminated by a training-"
    "set copy. The per-row verdict column proves it: a grouped check "
    "counts content keys spanning >1 split (must be 0) inside the "
    "distributed plan. Map-only tagging + one keyed rollup; "
    "deterministic across engines, reruns, and layouts",
)
def doc_train_val_split(spark, sf_dir) -> DataFrame:
    """Per-(split, lang) doc/token counts with a corpus-wide
    leakage_free verdict (no content hash in two splits)."""
    docs = t(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        "lang",
        tx.token_count(tx.tokens(F.col("text"))).alias("tok_n"),
        (dd.hash_id(F.md5(F.col("text"))) % 100).alias("slot"),
        F.md5(F.col("text")).alias("content_key"),
    )
    tagged = keyed.withColumn(
        "split",
        F.when(F.col("slot") < 90, "train")
        .when(F.col("slot") < 95, "val")
        .otherwise("test"),
    )
    leaked = (
        tagged.groupBy("content_key")
        .agg(F.count_distinct("split").alias("ns"))
        .agg(F.count(F.when(F.col("ns") > 1, 1)).alias("n_leaked"))
    )
    return (
        tagged.groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tok_n").alias("n_tokens"),
        )
        .crossJoin(F.broadcast(leaked))
        .select(
            "split",
            "lang",
            "n_docs",
            "n_tokens",
            (F.col("n_leaked") == 0).alias("leakage_free"),
        )
        .orderBy("split", "lang")
    )


@register(
    "dedup_incremental_batch",
    oracle=f"""
    WITH {_DOC_SH_CTE}, {_TIDS_CTE}, {_SIGS_CTE}, {_BANDS_CTE},
    exact_dup AS (
      SELECT n.doc_id FROM documents n
      WHERE n.doc_id % 10 >= 8 AND EXISTS (
        SELECT 1 FROM documents h
        WHERE h.doc_id % 10 < 8 AND md5(h.text) = md5(n.text)
      )
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
      FROM bands x JOIN bands y ON {_BAND_JOIN} AND x.doc_id < y.doc_id
      WHERE (x.doc_id % 10 < 8) <> (y.doc_id % 10 < 8)
    ),
    near_new AS (
      SELECT DISTINCT CASE WHEN c.a_id % 10 >= 8 THEN c.a_id ELSE c.b_id END
                 AS doc_id
      FROM cand c
      JOIN doc_sh a ON a.doc_id = c.a_id
      JOIN doc_sh b ON b.doc_id = c.b_id
      WHERE {_JACCARD_SQL} >= {JACCARD_THRESHOLD}
    )
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_new,
           CAST(COUNT(e.doc_id) AS BIGINT) AS n_exact_dup,
           CAST(COUNT(CASE WHEN nn.doc_id IS NOT NULL AND e.doc_id IS NULL
                           THEN 1 END) AS BIGINT) AS n_near_dup,
           CAST(COUNT(CASE WHEN nn.doc_id IS NULL AND e.doc_id IS NULL
                           THEN 1 END) AS BIGINT) AS n_clean
    FROM documents d
    LEFT JOIN exact_dup e ON e.doc_id = d.doc_id
    LEFT JOIN near_new nn ON nn.doc_id = d.doc_id
    WHERE d.doc_id % 10 >= 8
    GROUP BY d.lang
    ORDER BY d.lang
    """,
    survey="extension (dedup, incremental tier): NEW-BATCH dedup against "
    "the historical corpus — the daily-ingest reality at 100 TB, where "
    "re-deduping the whole corpus per batch is impossible. Exact tier: "
    "content-md5 anti/semi join of the batch against history (only the "
    "batch's hashes move). Near tier: MinHash band join restricted to "
    "CROSS-set pairs (band equi-join keys history and batch into the "
    "same buckets; batch side is small, history side never self-joins), "
    "then exact-Jaccard verification. Emits per-language batch triage: "
    "exact dups, near dups, clean — the promote/quarantine decision of "
    "an ingestion gate",
)
def dedup_incremental_batch(spark, sf_dir) -> DataFrame:
    """Per-language triage of a simulated daily batch (doc_id%10 >= 8)
    against the historical corpus (doc_id%10 < 8)."""
    docs = t(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % 10 >= 8
    new_docs = docs.filter(is_new).select(
        "doc_id", "lang", F.md5("text").alias("ck")
    )
    hist_keys = docs.filter(~is_new).select(F.md5("text").alias("ck"))
    exact_ids = (
        new_docs.join(hist_keys, "ck", "left_semi").select("doc_id")
        .withColumn("is_exact", F.lit(True))
    )
    doc_sh = _doc_sh(spark, sf_dir).select("doc_id", "sh")
    sigs = dd.minhash_signatures(doc_sh)
    cand = dd.lsh_candidate_pairs(sigs).filter(
        (F.col("a_id") % 10 < 8) != (F.col("b_id") % 10 < 8)
    )
    near_ids = (
        dd.verified_pairs(cand, doc_sh, JACCARD_THRESHOLD)
        .select(
            F.when(F.col("a_id") % 10 >= 8, F.col("a_id"))
            .otherwise(F.col("b_id"))
            .alias("doc_id")
        )
        .distinct()
        .withColumn("is_near", F.lit(True))
    )
    return (
        new_docs.join(F.broadcast(exact_ids), "doc_id", "left")
        .join(F.broadcast(near_ids), "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_new"),
            F.count(F.when(F.col("is_exact"), 1)).alias("n_exact_dup"),
            F.count(
                F.when(F.col("is_near") & F.col("is_exact").isNull(), 1)
            ).alias("n_near_dup"),
            F.count(
                F.when(F.col("is_near").isNull() & F.col("is_exact").isNull(), 1)
            ).alias("n_clean"),
        )
        .orderBy("lang")
    )


@register(
    "corpus_data_card",
    oracle=f"""
    WITH {_DOC_TOKS_CTE},
    per_doc AS (
        SELECT doc_id, source, lang, n_chars,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               md5(text) AS ck
        FROM doc_toks
    ),
    dup_keys AS (
        SELECT source, ck FROM per_doc
        GROUP BY source, ck HAVING COUNT(*) > 1
    )
    SELECT p.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT p.lang) AS BIGINT) AS n_langs,
           CAST(SUM(p.n_tokens) AS BIGINT) AS total_tokens,
           MEDIAN(p.n_tokens) AS median_tokens,
           CAST(SUM(p.n_chars) AS BIGINT) AS total_chars,
           CAST(COUNT(CASE WHEN p.n_tokens BETWEEN 50 AND 100000
                           THEN 1 END) AS BIGINT) AS n_len_pass,
           CAST(COUNT(CASE WHEN d.ck IS NOT NULL THEN 1 END) AS BIGINT)
               AS n_dup_docs
    FROM per_doc p
    LEFT JOIN dup_keys d ON d.source = p.source AND d.ck = p.ck
    GROUP BY p.source
    ORDER BY p.source
    """,
    survey="extension (training pipeline): DATASET CARD generator — the "
    "per-source summary a data release ships (docs, language spread, "
    "token volume, exact median length, Gopher length-rule pass count, "
    "within-source exact-duplicate count). One scan computes every "
    "per-doc stat; the dup count adds one (source, content-hash) "
    "aggregate — only hashes shuffle, never text. The reporting "
    "complement of the curation funnel: runs on the corpus as landed "
    "and on every promoted layer for drift tracking",
)
def corpus_data_card(spark, sf_dir) -> DataFrame:
    """Per-source dataset-card summary of the documents corpus."""
    docs = t(spark, sf_dir, "documents")
    toks = tx.tokens(F.col("text"))
    per_doc = docs.select(
        "doc_id",
        "source",
        "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
        tx.token_count(toks).alias("n_tokens"),
        F.md5("text").alias("ck"),
    )
    dup_keys = (
        per_doc.groupBy("source", "ck")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .select("source", "ck", F.lit(True).alias("is_dup"))
    )
    return (
        per_doc.join(dup_keys, ["source", "ck"], "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("lang").alias("n_langs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.percentile(F.col("n_tokens"), F.lit(0.5)).alias(
                "median_tokens"
            ),
            F.sum("n_chars").alias("total_chars"),
            F.count(
                F.when(F.col("n_tokens").between(50, 100000), 1)
            ).alias("n_len_pass"),
            F.count(F.when(F.col("is_dup"), 1)).alias("n_dup_docs"),
        )
        .orderBy("source")
    )


# ------------------------------------------------ PSI distribution drift

#: PSI binning: fixed-width n_chars bins (width 100, capped at bin 9) —
#: fixed bin edges are the production choice (quantile edges drift with
#: the data and wreck comparability between snapshots).
PSI_BIN_WIDTH = 100
PSI_MAX_BIN = 9


@register(
    "doc_psi_drift",
    oracle=f"""
    WITH binned AS (
      SELECT LEAST(n_chars // {PSI_BIN_WIDTH}, {PSI_MAX_BIN}) AS bin,
             doc_id % 2 AS snap
      FROM documents
    ),
    counts AS (
      SELECT bin,
             CAST(COUNT(CASE WHEN snap = 0 THEN 1 END) AS BIGINT) AS c1,
             CAST(COUNT(CASE WHEN snap = 1 THEN 1 END) AS BIGINT) AS c2
      FROM binned GROUP BY bin
    ),
    tot AS (
      SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM counts
    ),
    contrib AS (
      SELECT bin, c1, c2,
             CAST(ROUND((CAST(c1 + 1 AS DOUBLE) / CAST(n1 + k AS DOUBLE)
                         - CAST(c2 + 1 AS DOUBLE) / CAST(n2 + k AS DOUBLE))
                        * LN((CAST(c1 + 1 AS DOUBLE) / CAST(n1 + k AS DOUBLE))
                             / (CAST(c2 + 1 AS DOUBLE) / CAST(n2 + k AS DOUBLE)))
                        * 1000000000.0, 0) AS BIGINT) AS psi_nano
      FROM counts CROSS JOIN tot
    )
    SELECT CAST(bin AS BIGINT) AS bin, c1 AS v1_docs, c2 AS v2_docs, psi_nano
    FROM contrib
    ORDER BY bin
    """,
    survey="extension (model monitoring): PSI (population stability "
    "index) drift between two corpus snapshots — fixed-width feature "
    "bins, Laplace-smoothed shares, per-bin (p-q)*ln(p/q) contribution "
    "nano-quantized (LN on exact rational inputs, the BM25 policy). One "
    "conditional-count groupBy per snapshot pair — the distribution-"
    "shift gate a training pipeline runs between corpus versions before "
    "retraining. No reference analog",
    tags=("text",),
)
def doc_psi_drift(spark, sf_dir) -> DataFrame:
    """Per-bin PSI contributions between the even/odd doc_id snapshots.

    Total PSI = sum(psi_nano)/1e9; per-bin rows localize WHICH feature
    range drifted (the actionable part). Snapshots here are an in-plan
    split so the query is self-contained; in production they are two
    table versions."""
    docs = t(spark, sf_dir, "documents")
    binned = docs.select(
        F.least(
            (F.col("n_chars") / PSI_BIN_WIDTH).cast("long"),
            F.lit(PSI_MAX_BIN).cast("long"),
        ).alias("bin"),
        (F.col("doc_id") % 2).alias("snap"),
    )
    counts = binned.groupBy("bin").agg(
        F.count(F.when(F.col("snap") == 0, 1)).cast("long").alias("c1"),
        F.count(F.when(F.col("snap") == 1, 1)).cast("long").alias("c2"),
    )
    tot = counts.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    p = (F.col("c1") + 1).cast("double") / (F.col("n1") + F.col("k")).cast(
        "double"
    )
    q = (F.col("c2") + 1).cast("double") / (F.col("n2") + F.col("k")).cast(
        "double"
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            F.col("c1").alias("v1_docs"),
            F.col("c2").alias("v2_docs"),
            F.round((p - q) * F.log(p / q) * F.lit(1e9), 0)
            .cast("long")
            .alias("psi_nano"),
        )
        .orderBy("bin")
    )


#: Exact-substring tier window width for THIS corpus: documents median
#: 56 tokens (max 99), so the production 50-token granularity would
#: exceed most documents outright; 20 keeps the operator semantics
#: (long-verbatim-run detection) testable.  The operator default stays
#: 50 (operators/dedup.exact_substring_coverage).
_XS_W = 20

#: Verbatim-run injection shared by the query and its oracle: for every
#: 20th document with >= 30 tokens, a synthetic doc carrying a unique
#: prefix token plus tokens 4..28 of the original — a 25-token verbatim
#: run (>= _XS_W), detectable by the window tier but NOT an exact dup.
_XS_DOCS_CTE = """
    docs_plus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id,
             'synth' || CAST(doc_id AS VARCHAR) || ' ' ||
             array_to_string(
               list_slice(string_split_regex(lower(text), '\\W+'), 4, 28),
               ' ') AS text
      FROM documents
      WHERE doc_id % 20 = 0
        AND len(string_split_regex(lower(text), '\\W+')) >= 30
    )
"""


def _xs_windows(spark, sf_dir) -> DataFrame:
    """Exact-substring window frames, memoized like :func:`_doc_sh`: the
    (doc_id, n_tokens, pos, hid) frame is referenced TWICE by the coverage
    fold (occurrence count + join back), so without the lineage-truncating
    checkpoint the 19-layer gram construction and the md5 per window run
    twice per query (measured ~2x at sf0.1)."""

    def build() -> DataFrame:
        docs = _xs_docs(spark, sf_dir).select(
            "doc_id", tx.tokens(F.col("text")).alias("toks")
        )
        return dd.exact_substring_windows(docs, _XS_W).localCheckpoint(
            eager=True
        )

    return session_memo(
        spark, ("text.xs_windows", sf_dir, _doc_version(sf_dir)), build
    )


def _xs_docs(spark, sf_dir) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    tk = tx.tokens(F.col("text"))
    synth = (
        t(spark, sf_dir, "documents")
        .select("doc_id", tk.alias("tk"))
        .filter((F.col("doc_id") % 20 == 0) & (F.size("tk") >= 30))
        .select(
            (F.col("doc_id") + 2000000).alias("doc_id"),
            F.concat(
                F.lit("synth"),
                F.col("doc_id").cast("string"),
                F.lit(" "),
                F.concat_ws(" ", F.slice("tk", 4, 25)),
            ).alias("text"),
        )
    )
    return docs.unionByName(synth)


@register(
    "doc_exact_substring_dedup",
    oracle=f"""
    WITH {_XS_DOCS_CTE},
    dt AS (
      SELECT doc_id, string_split_regex(lower(text), '\\W+') AS toks
      FROM docs_plus
    ),
    wins AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
             i - 1 AS pos,
             {dd.hash_id_sql(
                 "array_to_string(list_slice(toks, i, i + " +
                 str(_XS_W - 1) + "), ' ')")} AS hid
      FROM dt, UNNEST(range(1, len(toks) - {_XS_W} + 2)) AS u(i)
    ),
    cnt AS (SELECT hid, COUNT(*) AS n_occ FROM wins GROUP BY hid),
    dup AS (
      SELECT w.* FROM wins w JOIN cnt c USING (hid) WHERE c.n_occ >= 2
    ),
    isl AS (
      SELECT *, CASE WHEN lag(pos) OVER dw IS NULL
                       OR pos > lag(pos) OVER dw + {_XS_W}
                     THEN 1 ELSE 0 END AS brk
      FROM dup WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)
    ),
    isl2 AS (
      SELECT *, SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS UNBOUNDED PRECEDING) AS island
      FROM isl
    ),
    per_island AS (
      SELECT doc_id, n_tokens, island,
             MAX(pos) - MIN(pos) + {_XS_W} AS covered,
             COUNT(*) AS nw
      FROM isl2 GROUP BY doc_id, n_tokens, island
    )
    SELECT doc_id, n_tokens,
           CAST(SUM(nw) AS BIGINT) AS n_dup_windows,
           CAST(SUM(covered) AS BIGINT) AS covered_tokens,
           ROUND(CAST(SUM(covered) AS DOUBLE)
                 / CAST(n_tokens AS DOUBLE), 6) AS coverage
    FROM per_island GROUP BY doc_id, n_tokens
    """,
    survey="extension (dedup, exact-substring tier): Lee et al. 2022's "
    "EXACT-SUBSTRING dedup (suffix-array tier, 50-token production "
    "granularity; 20 here — corpus median doc is 56 tokens) as "
    "distributed window hashing — every w-token sliding window keyed "
    "by the portable md5; windows occurring twice anywhere in the "
    "corpus mark duplicated spans; overlapping windows merge into "
    "maximal verbatim runs per document (gaps-and-islands) and the "
    "covered-token count is what production dedup cuts.  Catches the "
    "long-verbatim-run shape the 3-gram span profile and the "
    "whole-document MinHash tiers both miss",
    tags=("text",),
)
def doc_exact_substring_dedup(spark, sf_dir) -> DataFrame:
    """Injected 25-token verbatim runs (>= w, < whole doc) must surface
    with exact per-document covered-token counts; organic runs, if the
    generator ever emits any, count identically in both engines.  No
    all-pairs step and no suffix array: one window-hash groupBy, one
    keyed join back, one per-document fold."""
    return dd.exact_substring_coverage_from_windows(
        _xs_windows(spark, sf_dir), w=_XS_W
    )
