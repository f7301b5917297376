"""Retrieval + language-model scoring over ``documents`` (extension surface).

Four LLM-data-pipeline primitives the reference has no analog for
(SURVEY.md §2 covers only SQL-shaped ops; reference core has no text
retrieval at all):

- **BM25 keyword retrieval** — the inverted-index probe shape: tokenize →
  explode → filter to the query's terms *immediately* (the explode+filter
  pair is Spark's moral equivalent of a postings-list lookup) → per-term
  document frequencies → score → top-k. At 100 TB the per-term statistics
  table is bounded by |query| (constant), so broadcasting it is correct;
  the postings themselves are never broadcast and never all-pairs.
- **TF-IDF characteristic terms** — per-document argmax-by-weight term via
  the ``min(struct)`` map-side aggregate (same plan shape the IVF argmin
  uses: no row_number window, no total sort).
- **Bigram language-model scoring** — train add-one-smoothed conditional
  bigram probabilities on the corpus itself, score every document by mean
  log-probability, and surface the least-fluent tail (the classic
  perplexity-style junk filter, e.g. CCNet/Gopher pipelines). The model
  table is corpus-derived, so the score join is a plain shuffle equi-join
  on the bigram — deliberately NOT broadcast (a 100 TB corpus has a
  multi-GB bigram table).
- **BPE tokenizer training** — iterative merge learning over the
  frequency-weighted word list; each round is a vocab-sized groupBy plus a
  1-row argmax collect (the Lloyd-centroid driver-loop pattern). Only the
  initial word count ever touches the corpus.

Cross-engine exactness: every transcendental result (LN) is quantized to a
scaled BIGINT immediately (``ROUND(ln(..) * 1e9)``) and all downstream
arithmetic is integer sums + a fixed tree of IEEE-exact divisions, the same
convention as the 9-dp Lloyd/mixture weights (queries/text.py). The LN
*input* is always a ratio of exact integers, so both engines evaluate LN on
bit-identical arguments.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from energy_emissions_lakehouse_spark.operators import similarity as sim
from energy_emissions_lakehouse_spark.operators import text as tx
from energy_emissions_lakehouse_spark.registry import register
from energy_emissions_lakehouse_spark.session import loop_shuffle_partitions
from energy_emissions_lakehouse_spark.tables import t

#: BM25 free parameters (Robertson's defaults).
BM25_K1 = 1.2
BM25_B = 0.75

#: The benchmark query: OR-semantics keyword search.
QUERY_TERMS: tuple[str, ...] = ("hash", "vector", "stream", "spark")

_TOKS = "string_split_regex(lower(text), '\\W+')"
_DOC_TOKS_CTE = f"doc_toks AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents)"
_TERM_LIST = ", ".join(f"'{s}'" for s in QUERY_TERMS)


@register(
    "bm25_keyword_topk",
    oracle=f"""
    WITH {_DOC_TOKS_CTE},
    dls AS (SELECT doc_id, len(toks) AS dl FROM doc_toks),
    stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dls),
    tok_ex AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term
               FROM doc_toks),
    post AS (SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
             FROM tok_ex WHERE term IN ({_TERM_LIST})
             GROUP BY doc_id, dl, term),
    dfs AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM post GROUP BY term),
    scored AS (
      SELECT p.doc_id,
             CAST(ROUND(LN(1.0 + (CAST(s.n_docs AS DOUBLE) - CAST(f.df AS DOUBLE)
                                  + 0.5) / (CAST(f.df AS DOUBLE) + 0.5))
                        * 1000000000.0, 0) AS BIGINT)
             * CAST(ROUND((CAST(p.tf AS DOUBLE) * {BM25_K1 + 1.0})
                          / (CAST(p.tf AS DOUBLE)
                             + {BM25_K1} * (1.0 - {BM25_B}
                                + {BM25_B} * (CAST(p.dl AS DOUBLE)
                                   / (CAST(s.sum_dl AS DOUBLE)
                                      / CAST(s.n_docs AS DOUBLE)))))
                          * 1000000.0, 0) AS BIGINT) AS part_score
      FROM post p
      JOIN dfs f ON p.term = f.term
      CROSS JOIN stats s
    )
    SELECT doc_id,
           CAST(SUM(part_score) AS BIGINT) AS score_micro,
           ROUND(CAST(SUM(part_score) AS DOUBLE) / 1e15, 6) AS bm25_score
    FROM scored
    GROUP BY doc_id
    ORDER BY score_micro DESC, doc_id
    LIMIT 20
    """,
    survey="extension (retrieval): BM25 top-k keyword search — "
    "explode+filter postings probe, |query|-bounded broadcast stats, "
    "integer-quantized scoring (LN quantized at 1e-9 on exact rational "
    "inputs; all sums are BIGINT). No reference analog.",
    tags=("retrieval",),
)
def bm25_keyword_topk(spark, sf_dir) -> DataFrame:
    """Top-20 documents for an OR keyword query under BM25.

    Plan shape: the corpus is tokenized and exploded ONCE, filtered to the
    query terms before any shuffle (postings probe), then aggregated per
    (doc, term). Corpus scalars (N, total length) and the per-term document
    frequencies are broadcast — both are O(|query|), not O(corpus).
    """
    docs = t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tx.tokens(F.col("text")).alias("toks"))
    stats = toks.select(F.size("toks").cast("long").alias("dl")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
    )
    # dl rides along with the exploded postings so the per-doc length never
    # needs a second corpus scan or a join back to a doc-length table.
    post = (
        toks.select(
            "doc_id",
            F.size("toks").cast("long").alias("dl"),
            F.explode("toks").alias("term"),
        )
        .filter(F.col("term").isin(*QUERY_TERMS))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dfs = post.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))

    # Expression trees below mirror the oracle SQL token-for-token: the LN
    # argument is a ratio of exact integers, every divide/multiply chain is
    # identical, and both transcendental results are quantized to BIGINT
    # before the only order-sensitive op (the per-doc SUM).
    n_docs_d = F.col("n_docs").cast("double")
    df_d = F.col("df").cast("double")
    tf_d = F.col("tf").cast("double")
    dl_d = F.col("dl").cast("double")
    avgdl = F.col("sum_dl").cast("double") / n_docs_d
    idf_nano = F.round(
        F.log(F.lit(1.0) + (n_docs_d - df_d + F.lit(0.5)) / (df_d + F.lit(0.5)))
        * F.lit(1e9),
        0,
    ).cast("long")
    tfn_micro = F.round(
        (tf_d * F.lit(BM25_K1 + 1.0))
        / (tf_d + F.lit(BM25_K1) * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * (dl_d / avgdl)))
        * F.lit(1e6),
        0,
    ).cast("long")
    scored = (
        post.crossJoin(F.broadcast(stats))
        .join(F.broadcast(dfs), "term")
        .select("doc_id", (idf_nano * tfn_micro).alias("part_score"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.sum("part_score").cast("long").alias("score_micro"))
        .select(
            "doc_id",
            "score_micro",
            F.round(F.col("score_micro").cast("double") / F.lit(1e15), 6).alias(
                "bm25_score"
            ),
        )
        .orderBy(F.col("score_micro").desc(), "doc_id")
        .limit(20)
    )


@register(
    "tfidf_characteristic_terms",
    oracle=f"""
    WITH {_DOC_TOKS_CTE},
    tok_ex AS (SELECT doc_id, unnest(toks) AS term FROM doc_toks),
    tfs AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
            FROM tok_ex GROUP BY doc_id, term),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    dfs AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tfs GROUP BY term),
    weighted AS (
      SELECT t.doc_id, t.term,
             t.tf * CAST(ROUND(LN((CAST(n.n_docs AS DOUBLE) + 1.0)
                                  / (CAST(f.df AS DOUBLE) + 1.0))
                               * 1000000000.0, 0) AS BIGINT) AS w_nano
      FROM tfs t JOIN dfs f ON t.term = f.term CROSS JOIN n
    ),
    best AS (
      SELECT doc_id, term, w_nano,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY w_nano DESC, term) AS rn
      FROM weighted
    )
    SELECT term AS top_term,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MAX(w_nano) AS BIGINT) AS max_w_nano
    FROM best
    WHERE rn = 1
    GROUP BY term
    ORDER BY top_term
    """,
    survey="extension (retrieval): per-document characteristic term by "
    "TF-IDF argmax via min(struct) map-side aggregate (no window, no "
    "sort — the IVF-argmin plan shape), then a term histogram. "
    "No reference analog.",
    tags=("retrieval",),
)
def tfidf_characteristic_terms(spark, sf_dir) -> DataFrame:
    """Histogram of each document's highest-TF-IDF ("most characteristic")
    term. Smoothed idf = ln((N+1)/(df+1)), quantized to BIGINT nano-units;
    the per-doc argmax runs as ``min(struct(-w, term))`` — a partial-
    aggregable expression, so the shuffle carries one struct per (doc)
    group, never the full weighted postings."""
    docs = t(spark, sf_dir, "documents")
    tok_ex = docs.select("doc_id", F.explode(tx.tokens(F.col("text"))).alias("term"))
    tfs = tok_ex.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    n = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    dfs = tfs.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    w_nano = F.col("tf") * F.round(
        F.log(
            (F.col("n_docs").cast("double") + F.lit(1.0))
            / (F.col("df").cast("double") + F.lit(1.0))
        )
        * F.lit(1e9),
        0,
    ).cast("long")
    weighted = (
        tfs.join(dfs, "term")  # vocab-sized at scale: let AQE pick the join
        .crossJoin(F.broadcast(n))
        .select("doc_id", "term", w_nano.alias("w_nano"))
    )
    best = weighted.groupBy("doc_id").agg(
        F.min(F.struct((-F.col("w_nano")).alias("neg_w"), F.col("term").alias("term"))).alias("b")
    )
    return (
        best.groupBy(F.col("b.term").alias("top_term"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.max(-F.col("b.neg_w")).cast("long").alias("max_w_nano"),
        )
        .orderBy("top_term")
    )


@register(
    "doc_bigram_lm_fluency_tail",
    oracle=f"""
    WITH {_DOC_TOKS_CTE},
    doc_bg AS (
      SELECT doc_id, lang,
             CASE WHEN len(toks) >= 2 THEN list_transform(
                 range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
             ELSE [] END AS bgs
      FROM doc_toks
    ),
    bg_occ AS (SELECT doc_id, lang, unnest(bgs) AS bg FROM doc_bg),
    model_c AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS c FROM bg_occ GROUP BY bg),
    c1s AS (SELECT split_part(bg, ' ', 1) AS w1, CAST(SUM(c) AS BIGINT) AS c1
            FROM model_c GROUP BY split_part(bg, ' ', 1)),
    vocab AS (SELECT CAST(COUNT(DISTINCT term) AS BIGINT) AS v
              FROM (SELECT unnest(toks) AS term FROM doc_toks)),
    model AS (
      SELECT m.bg,
             CAST(ROUND(LN((CAST(m.c AS DOUBLE) + 1.0)
                           / (CAST(u.c1 AS DOUBLE) + CAST(vocab.v AS DOUBLE)))
                        * 1000000000.0, 0) AS BIGINT) AS logp_nano
      FROM model_c m
      JOIN c1s u ON split_part(m.bg, ' ', 1) = u.w1
      CROSS JOIN vocab
    ),
    scored AS (
      SELECT o.doc_id, o.lang,
             CAST(SUM(md.logp_nano) AS BIGINT) AS sum_nano,
             CAST(COUNT(*) AS BIGINT) AS n_bigrams
      FROM bg_occ o JOIN model md ON o.bg = md.bg
      GROUP BY o.doc_id, o.lang
    )
    SELECT doc_id, lang, n_bigrams,
           ROUND((CAST(sum_nano AS DOUBLE) / 1e9)
                 / CAST(n_bigrams AS DOUBLE), 6) AS avg_logp
    FROM scored
    ORDER BY (CAST(sum_nano AS DOUBLE) / 1e9) / CAST(n_bigrams AS DOUBLE),
             doc_id
    LIMIT 20
    """,
    survey="extension (training pipeline): add-one-smoothed conditional "
    "bigram LM trained on the corpus itself; documents scored by mean "
    "log-probability and the 20 least-fluent surfaced (perplexity-style "
    "junk filter, CCNet/Gopher shape). Model join is a shuffle equi-join "
    "on the bigram — corpus-derived, deliberately NOT broadcast. "
    "No reference analog.",
    tags=("retrieval",),
)
def doc_bigram_lm_fluency_tail(spark, sf_dir) -> DataFrame:
    """The 20 least-fluent documents under a corpus-trained bigram LM.

    p(w2|w1) = (c(w1 w2) + 1) / (c1(w1) + V) with c1 summed over bigram
    prefixes, V the unigram vocabulary size. Per-occurrence log-probs are
    quantized to BIGINT nano-units before the per-doc SUM; the ordering
    key is the unrounded mean — a fixed tree of IEEE-exact divisions over
    identical integers, so both engines sort on bit-identical doubles."""
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", tx.tokens(F.col("text")).alias("toks")
    )
    bg_occ = toks.select(
        "doc_id", "lang", F.explode(tx.all_ngrams(F.col("toks"), n=2)).alias("bg")
    )
    model_c = bg_occ.groupBy("bg").agg(F.count(F.lit(1)).cast("long").alias("c"))
    c1s = (
        model_c.groupBy(F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("w1"))
        .agg(F.sum("c").cast("long").alias("c1"))
    )
    vocab = (
        toks.select(F.explode("toks").alias("term"))
        .agg(F.count_distinct("term").cast("long").alias("v"))
    )
    logp_nano = F.round(
        F.log(
            (F.col("c").cast("double") + F.lit(1.0))
            / (F.col("c1").cast("double") + F.col("v").cast("double"))
        )
        * F.lit(1e9),
        0,
    ).cast("long")
    model = (
        model_c.join(
            c1s, F.split_part(F.col("bg"), F.lit(" "), F.lit(1)) == F.col("w1")
        )  # prefix-vocab sized: AQE picks the strategy
        .crossJoin(F.broadcast(vocab))
        .select("bg", logp_nano.alias("logp_nano"))
    )
    scored = (
        bg_occ.join(model, "bg")  # corpus-sized model: shuffle equi-join
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("logp_nano").cast("long").alias("sum_nano"),
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        )
    )
    mean = (F.col("sum_nano").cast("double") / F.lit(1e9)) / F.col(
        "n_bigrams"
    ).cast("double")
    return (
        scored.select(
            "doc_id",
            "lang",
            "n_bigrams",
            F.round(mean, 6).alias("avg_logp"),
            mean.alias("_ord"),
        )
        .orderBy("_ord", "doc_id")
        .limit(20)
        .drop("_ord")
    )


# ------------------------------------------------------------ BPE training

#: Number of BPE merge rounds trained (unrolled in the oracle SQL).
BPE_MERGES = 3


def _bpe_iter_sql(k: int) -> str:
    """One unrolled BPE iteration: weighted pair counts over the current
    symbol strings, argmax with (count DESC, left, right) tie-break, then
    the greedy left-to-right merge fold (append-without-delimiter trick:
    when the accumulator's tail symbol equals the left side, appending the
    right side bare IS the merge)."""
    prev = f"s{k - 1}"
    return f"""
    p{k} AS (
      SELECT arr[i] AS l, arr[i + 1] AS r, CAST(SUM(wc) AS BIGINT) AS cnt
      FROM (SELECT wc, string_split(s, '|') AS arr FROM {prev}),
           UNNEST(range(1, len(arr))) AS u(i)
      GROUP BY l, r
    ),
    b{k} AS (SELECT l, r, cnt FROM p{k} ORDER BY cnt DESC, l, r LIMIT 1),
    s{k} AS (
      SELECT term, wc,
             list_reduce(string_split(s, '|'),
                         (acc, x) -> CASE WHEN split_part(acc, '|', -1) = b.l
                                               AND x = b.r
                                          THEN acc || x
                                          ELSE acc || '|' || x END) AS s
      FROM {prev} CROSS JOIN b{k} b
    )"""


@register(
    "bpe_train_merges",
    oracle=f"""
    WITH words AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS wc
      FROM (SELECT unnest({_TOKS}) AS term FROM documents)
      WHERE len(term) > 0
      GROUP BY term
    ),
    s0 AS (
      SELECT term, wc,
             array_to_string(regexp_extract_all(term, '.'), '|') AS s
      FROM words
    ),
    {','.join(_bpe_iter_sql(k) for k in range(1, BPE_MERGES + 1))}
    SELECT * FROM (
      {' UNION ALL '.join(f"SELECT CAST({k} AS BIGINT) AS rank, l AS left_sym, r AS right_sym, l || r AS merged, cnt AS pair_count FROM b{k}" for k in range(1, BPE_MERGES + 1))}
    ) ORDER BY rank
    """,
    survey="extension (training pipeline): distributed BPE tokenizer "
    "training — iterative merge learning over the frequency-weighted "
    "word list. Each round is one explode+groupBy for weighted pair "
    "counts (vocab-sized, map-side combining), a 1-row argmax collect "
    "(the same K-bounded driver loop as Lloyd k-means), and a JVM-side "
    "fold applying the merge greedily left-to-right. Symbol sequences "
    "ride as '|'-delimited strings; the merge IS a bare append when the "
    "accumulator tail equals the left symbol. At 100 TB only the initial "
    "word count touches the corpus; every round after runs on the "
    "vocabulary. No reference analog.",
    tags=("retrieval",),
)
def bpe_train_merges(spark, sf_dir) -> DataFrame:
    """Learn the first K BPE merges from the corpus; output one row per
    merge rank: (rank, left_sym, right_sym, merged, pair_count).

    Tokens contain only word characters (tokenizer splits on ``\\W+``), so
    '|' can never collide with a symbol. The driver holds exactly K best
    pairs across the loop — the Lloyd-centroid pattern, never data."""
    merges, _ = _bpe_trained(spark, sf_dir)
    return spark.createDataFrame(
        [(k, l, r, l + r, c) for k, l, r, c in merges],
        "rank long, left_sym string, right_sym string, merged string, "
        "pair_count long",
    ).orderBy("rank")


def _bpe_trained(spark, sf_dir) -> tuple[list, DataFrame]:
    """Shared BPE training loop: returns (merge list, final per-word symbol
    frame ``(term, wc, s)`` with the K merges applied).

    Round-6 loop audit: the vocab aggregation (corpus-scale — runs at the
    session's parallelism) checkpoints BEFORE the override; the K merge
    rounds (vocab-scale: one pair-count shuffle + argmax collect + fold
    checkpoint each) run under the loop-local shuffle-partition override —
    under a plain 200-partition session they were pure fixed overhead
    (4.9 s at sf0.01 driver conditions; ~2 s after)."""
    docs = t(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tx.tokens(F.col("text"))).alias("term"))
        .filter(F.length("term") > 0)
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("wc"))
    )
    sym = words.select(
        "term",
        "wc",
        F.array_join(
            F.regexp_extract_all(F.col("term"), F.lit("."), 0), "|"
        ).alias("s"),
    ).localCheckpoint(eager=True)
    merges: list[tuple[int, str, str, int]] = []
    with loop_shuffle_partitions(spark, 8):
        return _bpe_merge_rounds(sym, merges)


def _bpe_merge_rounds(sym: DataFrame, merges: list) -> tuple[list, DataFrame]:
    """The K merge rounds of ``_bpe_trained`` (factored so the whole loop
    body sits inside the caller's shuffle-partition override)."""
    for k in range(1, BPE_MERGES + 1):
        arr = F.split(F.col("s"), r"\|")
        pairs = (
            sym.select(
                "wc",
                F.explode(
                    F.zip_with(
                        arr,
                        F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0))),
                        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                    )
                ).alias("p"),
            )
            .filter(F.col("p.r").isNotNull())
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("wc").cast("long").alias("cnt"))
        )
        best = pairs.orderBy(F.col("cnt").desc(), "l", "r").limit(1).collect()[0]
        merges.append((k, best["l"], best["r"], best["cnt"]))
        bl, br = F.lit(best["l"]), F.lit(best["r"])
        folded = F.aggregate(
            F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0))),
            F.element_at(arr, 1),
            lambda acc, x: F.when(
                (F.substring_index(acc, "|", -1) == bl) & (x == br),
                F.concat(acc, x),
            ).otherwise(F.concat(acc, F.lit("|"), x)),
        )
        # checkpoint each round's fold: the vocab is tiny, but WITHOUT
        # this, round k's argmax collect replays rounds 1..k-1's folds
        # from scratch (quadratic lineage — bpe_train measured 4-7 s at
        # sf0.1; linear after)
        sym = sym.select("term", "wc", folded.alias("s")).localCheckpoint(
            eager=True
        )
    return merges, sym


# ------------------------------------------------------ RAG chunk retrieval

#: Feature-hashing embedding geometry (the "hashing trick"): token -> one of
#: HASH_DIMS signed buckets via the shared md5-derived 60-bit id.
HASH_DIMS = 16

#: The retrieval question, embedded with the exact same hash as the chunks.
RAG_QUERY_TOKENS: tuple[str, ...] = ("vector", "join", "stream", "hash")


def _py_hash_id(s: str) -> int:
    """Driver-side twin of operators/dedup.hash_id (first 15 md5 hex chars).
    Used only to fold the constant query embedding at import time."""
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _rag_query_vec() -> list[int]:
    q = [0] * HASH_DIMS
    for tok in RAG_QUERY_TOKENS:
        h = _py_hash_id(tok)
        q[h % HASH_DIMS] += 1 if (h // HASH_DIMS) % 2 == 0 else -1
    return q


_RAG_Q = _rag_query_vec()
_RAG_Q_NORM = sum(v * v for v in _RAG_Q) ** 0.5

# Chunk geometry shared with doc_chunk_windows (queries/text.py) — imported
# so the RAG index chunks exactly like the chunking operator.
from energy_emissions_lakehouse_spark.queries.text import (  # noqa: E402
    _CHUNK_STRIDE,
    _CHUNK_TOKENS,
)

from energy_emissions_lakehouse_spark.operators import dedup as _rdd  # noqa: E402

_DIM_SQL = f"{_rdd.hash_id_sql('tok')} % {HASH_DIMS}"
_SIGN_SQL = (
    f"CASE WHEN ({_rdd.hash_id_sql('tok')} // {HASH_DIMS}) % 2 = 0 "
    "THEN 1 ELSE -1 END"
)
_QDIM_SQL = "CASE " + " ".join(
    f"WHEN dim = {i} THEN {v}" for i, v in enumerate(_RAG_Q)
) + " ELSE 0 END"


@register(
    "rag_chunk_retrieval_topk",
    oracle=f"""
    WITH doc_toks AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    tok_pos AS (
      SELECT doc_id, toks[pos + 1] AS tok, pos
      FROM (SELECT doc_id, toks, unnest(range(0, len(toks))) AS pos
            FROM doc_toks)
    ),
    fanout AS (
      SELECT doc_id, tok,
             unnest(generate_series(
                 CASE WHEN pos >= {_CHUNK_TOKENS}
                      THEN (pos - {_CHUNK_TOKENS}) // {_CHUNK_STRIDE} + 1
                      ELSE 0 END,
                 pos // {_CHUNK_STRIDE})) AS chunk_id
      FROM tok_pos
    ),
    dims AS (
      SELECT doc_id, chunk_id, {_DIM_SQL} AS dim,
             CAST(SUM({_SIGN_SQL}) AS BIGINT) AS s
      FROM fanout
      GROUP BY doc_id, chunk_id, dim
    ),
    chunks AS (
      SELECT doc_id, chunk_id,
             CAST(SUM(s * ({_QDIM_SQL})) AS BIGINT) AS dot,
             CAST(SUM(s * s) AS BIGINT) AS n2
      FROM dims
      GROUP BY doc_id, chunk_id
    )
    SELECT doc_id, chunk_id, dot,
           ROUND(CAST(dot AS DOUBLE)
                 / (SQRT(CAST(n2 AS DOUBLE)) * {_RAG_Q_NORM!r}), 6)
               AS cosine
    FROM chunks
    WHERE n2 > 0
    ORDER BY CAST(dot AS DOUBLE) / (SQRT(CAST(n2 AS DOUBLE)) * {_RAG_Q_NORM!r})
             DESC, doc_id, chunk_id
    LIMIT 10
    """,
    survey="extension (retrieval): end-to-end RAG pipeline — overlapping "
    "token-window chunking (same integer interval fan-out as "
    "doc_chunk_windows), feature-hashed signed-count chunk embeddings "
    "(the hashing trick: one md5-derived dim + sign per token, no "
    "vocabulary build), constant query vector folded at plan time, "
    "cosine top-10 chunks. Everything distributed is two map-side-"
    "combining groupBys; the query embedding is O(1). Chunk-side "
    "vectors never materialize as arrays — per-dim partial sums flow "
    "straight into the dot product. No reference analog",
    tags=("retrieval",),
)
def rag_chunk_retrieval_topk(spark, sf_dir) -> DataFrame:
    """Top-10 chunks for the constant RAG query under hashed-embedding
    cosine. Integer dot/norm (signed counts) + one exactly-rounded sqrt
    and division — cross-engine exact; the ORDER key is the unrounded
    cosine with (doc, chunk) tie-break."""
    docs = t(spark, sf_dir, "documents")
    tok_pos = docs.select(
        "doc_id", F.posexplode(tx.tokens(F.col("text"))).alias("pos", "tok")
    )
    k_min = F.when(
        F.col("pos") >= _CHUNK_TOKENS,
        ((F.col("pos") - _CHUNK_TOKENS) / _CHUNK_STRIDE).cast("long") + 1,
    ).otherwise(F.lit(0).cast("long"))
    k_max = (F.col("pos") / _CHUNK_STRIDE).cast("long")
    h = _rdd.hash_id(F.col("tok"))
    fanout = tok_pos.select(
        "doc_id",
        F.explode(F.sequence(k_min, k_max)).alias("chunk_id"),
        (h % HASH_DIMS).alias("dim"),
        # integer shift, not floor(h/16): the 60-bit id exceeds double
        # precision, so a float division would corrupt the low bits
        F.when(F.shiftright(h, 4).bitwiseAND(F.lit(1)) == 0, F.lit(1))
        .otherwise(F.lit(-1))
        .alias("sign"),
    )
    dims = fanout.groupBy("doc_id", "chunk_id", "dim").agg(
        F.sum("sign").cast("long").alias("s")
    )
    q_arr = F.array(*[F.lit(v) for v in _RAG_Q])
    chunks = dims.groupBy("doc_id", "chunk_id").agg(
        F.sum(F.col("s") * F.element_at(q_arr, F.col("dim").cast("int") + 1))
        .cast("long")
        .alias("dot"),
        F.sum(F.col("s") * F.col("s")).cast("long").alias("n2"),
    )
    cosine = F.col("dot").cast("double") / (
        F.sqrt(F.col("n2").cast("double")) * F.lit(_RAG_Q_NORM)
    )
    return (
        chunks.filter(F.col("n2") > 0)
        .select(
            "doc_id",
            "chunk_id",
            "dot",
            F.round(cosine, 6).alias("cosine"),
            cosine.alias("_ord"),
        )
        .orderBy(F.col("_ord").desc(), "doc_id", "chunk_id")
        .limit(10)
        .drop("_ord")
    )


# ------------------------------------------------- MMR diversified re-rank

#: MMR geometry: shortlist the top-N candidates by relevance, then greedily
#: select K maximizing lambda*rel - (1-lambda)*max-sim-to-selected with
#: lambda = 0.7 (integer form: 7*rel - 3*maxsim, same argmax).
MMR_SHORTLIST = 32
MMR_K = 8

_QMILLI = "list_transform(embedding, x -> CAST(ROUND(x * 1000, 0) AS BIGINT))"


def _mmr_step_sql(k: int) -> str:
    """One unrolled greedy step: pick the argmax-MMR candidate not yet
    selected (same unrolled-CTE pattern as the PageRank oracle)."""
    return f"""
    pick{k} AS MATERIALIZED (
      SELECT s.cand_id, s.rel,
             CAST(7 * s.rel - 3 * (
               SELECT MAX(p.sim) FROM pairs p
               JOIN sel{k - 1} t ON p.b = t.cand_id
               WHERE p.a = s.cand_id) AS BIGINT) AS mmr
      FROM shortlist s
      WHERE s.cand_id NOT IN (SELECT cand_id FROM sel{k - 1})
      ORDER BY 7 * s.rel - 3 * (
               SELECT MAX(p.sim) FROM pairs p
               JOIN sel{k - 1} t ON p.b = t.cand_id
               WHERE p.a = s.cand_id) DESC, s.cand_id
      LIMIT 1
    ),
    sel{k} AS MATERIALIZED (
      SELECT * FROM sel{k - 1}
      UNION ALL SELECT cand_id, {k} AS ord, rel, mmr FROM pick{k}
    )"""


@register(
    "mmr_diversified_topk",
    oracle=f"""
    WITH qv AS (
      SELECT {_QMILLI} AS q FROM embeddings ORDER BY vec_id LIMIT 1
    ),
    qid AS MATERIALIZED (SELECT MIN(vec_id) AS qid FROM embeddings),
    cands AS MATERIALIZED (
      SELECT vec_id AS cand_id, {_QMILLI} AS v
      FROM embeddings WHERE vec_id != (SELECT qid FROM qid)
    ),
    rels AS MATERIALIZED (
      SELECT cand_id, v,
             CAST(list_dot_product(v, (SELECT q FROM qv)) AS BIGINT) AS rel
      FROM cands
    ),
    shortlist AS MATERIALIZED (
      SELECT cand_id, v, rel,
             ROW_NUMBER() OVER (ORDER BY rel DESC, cand_id) AS rrank
      FROM rels QUALIFY rrank <= {MMR_SHORTLIST}
    ),
    pairs AS MATERIALIZED (
      SELECT a.cand_id AS a, b.cand_id AS b,
             CAST(list_dot_product(a.v, b.v) AS BIGINT) AS sim
      FROM shortlist a JOIN shortlist b ON a.cand_id != b.cand_id
    ),
    sel1 AS MATERIALIZED (
      SELECT cand_id, 1 AS ord, rel, CAST(7 * rel AS BIGINT) AS mmr
      FROM shortlist ORDER BY rel DESC, cand_id LIMIT 1
    ),
    {','.join(_mmr_step_sql(k) for k in range(2, MMR_K + 1))}
    SELECT CAST(ord AS BIGINT) AS ord, cand_id, rel, mmr
    FROM sel{MMR_K} ORDER BY ord
    """,
    survey="extension (retrieval): MMR (maximal marginal relevance) "
    "diversified re-ranking — distributed relevance scan + integer-milli "
    "quantized dot products shortlist the top-32, then the greedy "
    "lambda=0.7 selection runs as ONE Arrow-batched pass over the "
    "shortlist (the per-query serving shape: with many queries each "
    "group re-ranks in parallel). All scores are exact BIGINTs so the "
    "argmax sequence is engine-identical; DuckDB replays the greedy "
    "loop as 8 unrolled CTE steps (the PageRank oracle pattern). "
    "No reference analog",
    tags=("retrieval",),
)
def mmr_diversified_topk(spark, sf_dir) -> DataFrame:
    """Greedy MMR selection of 8 diverse results from a 32-candidate
    relevance shortlist (query = lowest vec_id's embedding).

    Scale shape: candidate scoring and shortlisting are distributed
    (broadcast 1-row query vector, top-N via one ordered limit); only the
    O(N*K) greedy loop — 32 candidates here — runs per query group in
    pandas, which is exactly how an MMR serving layer shards: one group
    per query, thousands of queries in flight."""
    import pandas as pd

    emb = t(spark, sf_dir, "embeddings")
    milli = F.expr(
        f"transform({sim.as_double('embedding')}, "
        "x -> CAST(round(x * 1000, 0) AS BIGINT))"
    )
    vecs = emb.select("vec_id", milli.alias("v"))
    qid = vecs.agg(F.min("vec_id").alias("qid"))
    qv = (
        vecs.join(F.broadcast(qid), vecs.vec_id == qid.qid)
        .select(F.col("v").alias("q"))
    )
    idot = F.aggregate(
        F.zip_with(F.col("v"), F.col("q"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    rels = (
        vecs.join(F.broadcast(qid), vecs.vec_id != qid.qid)
        .crossJoin(F.broadcast(qv))
        .select(F.col("vec_id").alias("cand_id"), "v", idot.alias("rel"))
    )
    # heap top-N (TakeOrderedAndProject): per-partition heaps + a 32-row
    # merge on the driver — never a global sort or single-partition window
    shortlist = rels.orderBy(F.col("rel").desc(), F.col("cand_id")).limit(
        MMR_SHORTLIST
    )

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        vs = {int(r.cand_id): list(r.v) for r in pdf.itertuples()}
        rel = {int(r.cand_id): int(r.rel) for r in pdf.itertuples()}
        sims: dict[tuple[int, int], int] = {}
        ids = sorted(vs)
        for a in ids:
            for b in ids:
                if a != b:
                    sims[(a, b)] = sum(x * y for x, y in zip(vs[a], vs[b]))
        selected: list[tuple[int, int, int, int]] = []
        chosen: set[int] = set()
        for step in range(1, MMR_K + 1):
            best = None
            for c in ids:
                if c in chosen:
                    continue
                if not chosen:
                    score = 7 * rel[c]
                else:
                    score = 7 * rel[c] - 3 * max(sims[(c, s)] for s in chosen)
                # argmax with cand_id tiebreak (same as the SQL ORDER BY)
                if best is None or score > best[0] or (
                    score == best[0] and c < best[1]
                ):
                    best = (score, c)
            chosen.add(best[1])
            selected.append((step, best[1], rel[best[1]], best[0]))
        return pd.DataFrame(
            selected, columns=["ord", "cand_id", "rel", "mmr"]
        )

    return (
        shortlist.withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(greedy, "ord long, cand_id long, rel long, mmr long")
        .orderBy("ord")
    )


# -------------------------------------------------- BPE tokenizer APPLY

#: Post-encoding vocabulary profile size.
BPE_VOCAB_TOPK = 20


@register(
    "bpe_encode_vocab_profile",
    oracle=f"""
    WITH words AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS wc
      FROM (SELECT unnest({_TOKS}) AS term FROM documents)
      WHERE len(term) > 0
      GROUP BY term
    ),
    s0 AS (
      SELECT term, wc,
             array_to_string(regexp_extract_all(term, '.'), '|') AS s
      FROM words
    ),
    {','.join(_bpe_iter_sql(k) for k in range(1, BPE_MERGES + 1))}
    SELECT sym,
           CAST(SUM(wc) AS BIGINT) AS occurrences,
           CAST(COUNT(*) AS BIGINT) AS n_word_types
    FROM (SELECT wc, unnest(string_split(s, '|')) AS sym
          FROM s{BPE_MERGES})
    GROUP BY sym
    ORDER BY occurrences DESC, sym
    LIMIT {BPE_VOCAB_TOPK}
    """,
    survey="extension (training pipeline): BPE tokenizer APPLICATION — "
    "encode the corpus with the K trained merges and profile the "
    "resulting subword vocabulary (top-20 units by weighted frequency). "
    "Encoding runs on the VOCABULARY (distinct words), never per "
    "occurrence: word counts carry the corpus weight, so a 100 TB corpus "
    "re-tokenizes at the cost of its distinct-word table. The merge fold "
    "is the same greedy left-to-right JVM fold as training; DuckDB "
    "replays train + apply through the shared unrolled CTEs. Completes "
    "the tokenizer story: bpe_train_merges learns, this encodes",
    tags=("retrieval",),
)
def bpe_encode_vocab_profile(spark, sf_dir) -> DataFrame:
    """Subword vocabulary profile after applying the trained BPE merges.

    `occurrences` weights each word type by its corpus frequency;
    `n_word_types` counts how many distinct words contain the unit. The
    encode pass reuses the trained symbol frame — the apply cost at
    scale is one explode + map-side-combining groupBy over the vocab."""
    _, sym = _bpe_trained(spark, sf_dir)
    return (
        sym.select("wc", F.explode(F.split(F.col("s"), r"\|")).alias("sym"))
        .groupBy("sym")
        .agg(
            F.sum("wc").cast("long").alias("occurrences"),
            F.count(F.lit(1)).cast("long").alias("n_word_types"),
        )
        .orderBy(F.col("occurrences").desc(), "sym")
        .limit(BPE_VOCAB_TOPK)
    )
