"""Embedding similarity search (extension surface: ANN over array<float>).

Two tiers:
- brute-force cosine top-k: the correctness baseline — broadcast the (small)
  query set against all candidates; one pass, no index.
- hyperplane-LSH (sign random projection) bucketed top-k: the scale path —
  bucket assignment is a map-only pass, then top-k only *within* buckets
  (equi-join on bucket id), turning O(Q*N) into O(Q*N/2^H) expected.

The vector helpers (``as_double``, ``dot``, ``norm``, ``cosine``,
``cosine_pre``, ``sq_l2``, ``lsh_bucket``) take SQL expression text and
return SQL expression text: a caller wraps each projected column once with
``F.expr`` or ``selectExpr``.  Built as Column trees, one 5-plane bucket
expression cost ~1.9k py4j round-trips; as text it is one.  The math is a
JVM higher-order fold (zip_with + aggregate, double precision), the same
left-to-right order the DuckDB oracle's ``list_dot_product``/``list_sum``
uses.  Hyperplanes are deterministic integer patterns so the oracle
reproduces bucket assignment exactly.

Lloyd k-means (``kmeans_lloyd``) is the one trainer whose model leaves the
JVM: each round is one vectorised ``mapInArrow`` pass that takes the k x d
model as a closure value and returns per-cluster partial sums; the driver
averages them.  The data never collects to the driver.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EMBED_DIM = 64
NUM_HYPERPLANES = 8


def hyperplane(i: int, dim: int = EMBED_DIM) -> list[int]:
    """Deterministic pseudo-random hyperplane i: weights in [-9, 9]."""
    return [((i * 37 + d * 101) % 19) - 9 for d in range(dim)]


def _plane(i: int) -> str:
    return "array(" + ", ".join(f"{float(w)}D" for w in hyperplane(i)) + ")"


def as_double(vec: str) -> str:
    """float32 -> float64 widening (exact) so both engines do double math."""
    return f"transform({vec}, x -> CAST(x AS DOUBLE))"


def _unrolled(name: str, a: str, b: str, dim: int, term: str) -> str:
    """``0D + term(0) + ... + term(dim-1)`` — the fold's exact left-to-right
    operation order — guarded by the width contract: a vector whose length
    is not ``dim`` raises instead of yielding a NULL distance."""
    body = "".join(" + " + term.format(i=i) for i in range(dim))
    return (
        f"CASE WHEN array_size({a}) != {dim} OR array_size({b}) != {dim} "
        f"THEN raise_error('{name}: vectors must have exactly {dim} "
        f"elements (the dim= width contract)') ELSE (0D{body}) END"
    )


def dot(a: str, b: str, dim: int | None = None) -> str:
    """Sequential left-fold dot product in double precision.

    ``dim`` statically unrolls the fold to ``0D + a[0]*b[0] + ...`` (bit-equal
    results) and checks both widths.  Round-12 measurement: unrolling the full
    64-dim corpus width made Catalyst analysis/codegen 10x slower wherever the
    expression is composed repeatedly, so only short PQ sub-slice widths
    (4/16) pass ``dim``."""
    if dim is None:
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, "
            "(acc, v) -> acc + v)"
        )
    return _unrolled("dot", a, b, dim, f"({a})[{{i}}] * ({b})[{{i}}]")


def norm(vec: str, dim: int | None = None) -> str:
    return f"sqrt({dot(vec, vec, dim)})"


def cosine(a: str, b: str, dim: int | None = None) -> str:
    return f"{dot(a, b, dim)} / nullif({norm(a, dim)} * {norm(b, dim)}, 0D)"


def cosine_pre(a: str, a_n: str, b: str, b_n: str, dim: int | None = None) -> str:
    """Cosine with PRE-COMPUTED norms: per-pair work drops from one dot +
    two norm folds to one dot. The arithmetic is the identical fold in the
    identical order, so the double result is bit-equal to ``cosine``."""
    return f"{dot(a, b, dim)} / nullif(({a_n}) * ({b_n}), 0D)"


def lsh_bucket(vec: str, num_hyperplanes: int = NUM_HYPERPLANES) -> str:
    """Sign-random-projection bucket id in [0, 2^H): bit i = (v . h_i) >= 0."""
    bits = " + ".join(
        f"(CASE WHEN {dot(vec, _plane(i))} >= 0D THEN {1 << i} ELSE 0 END)"
        for i in range(num_hyperplanes)
    )
    return f"CAST({bits} AS BIGINT)"


def num_hyperplanes_for(corpus_size: int, target_occupancy: int = 64) -> int:
    """Pick H so expected bucket occupancy ~= target: the smallest H with
    occ * 2^H >= N (equivalently ceil(log2(N/occ)), computed in integer
    arithmetic so the DuckDB oracle reproduces H bit-exactly — no libm).

    The round-1 bug this fixes: a FIXED H gives bucket occupancy O(N/2^H),
    so within-bucket scoring grows quadratically with corpus size. Sizing
    H by the corpus keeps per-bucket work constant as N grows; multi-probe
    (``multiprobe_topk``) then buys recall back without shrinking buckets.
    """
    h = 1
    while (target_occupancy << h) < corpus_size and h < 62:
        h += 1
    return h


def _abs_margins(vec: str, num_hyperplanes: int) -> str:
    """array<struct<am,i>>: per-hyperplane |margin| rounded to 6 dp (so the
    ordering is reproducible cross-engine) with the plane index."""
    return "array(" + ", ".join(
        f"named_struct('am', round(abs({dot(vec, _plane(i))}), 6), 'i', {i})"
        for i in range(num_hyperplanes)
    ) + ")"


def _ranked(scored: DataFrame, order: str, k: int, key: str = "query_id") -> DataFrame:
    """Keep the top ``k`` rows per ``key`` by ``order`` (rank column added)."""
    return scored.withColumn(
        "rank",
        F.expr(f"CAST(row_number() OVER (PARTITION BY {key} ORDER BY {order}) AS BIGINT)"),
    ).filter(F.col("rank") <= k)


def multiprobe_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 3,
    num_hyperplanes: int = 5,
    return_scored: bool = False,
) -> DataFrame:
    """Multi-probe LSH top-k: each query probes 8 buckets — its home
    bucket, single-bit flips of its 4 lowest-|margin| hyperplanes, and
    pair flips among its 3 lowest (the classic multi-probe sequence:
    low-margin signs are the likeliest to differ for a true neighbor).

    Scale shape: identical to single-probe — candidate generation is the
    equi-join on bucket id; the fan-out (x8) applies to the QUERY side
    only, which is small by construction. Probe buckets are mutually
    distinct, so no pair is generated twice and no dedup pass is needed.
    Measured recall@3 vs brute force: 0.60 @ N=500, 0.58 @ N=2000
    (vs 0.10 single-probe in round 1) while scoring ~1/3 of the corpus.
    """
    hp = num_hyperplanes
    # 2^(index of the j-th lowest-margin plane); pow is exact here
    b1, b2, b3, b4 = (
        f"CAST(pow(2.0D, element_at(ord, {j}).i) AS BIGINT)" for j in (1, 2, 3, 4)
    )
    probes = ", ".join(
        ["home"]
        + [f"home ^ {b}" for b in (b1, b2, b3, b4)]
        + [f"home ^ {x} ^ {y}" for x, y in ((b1, b2), (b1, b3), (b2, b3))]
    )
    q = _side(
        queries, "query_id", "q",
        f"{lsh_bucket('q_vec', hp)} AS home",
        f"array_sort({_abs_margins('q_vec', hp)}) AS ord",
    ).selectExpr("query_id", "q_vec", "q_n", f"explode(array({probes})) AS bucket")
    c = _side(candidates, "cand_id", "c", f"{lsh_bucket('c_vec', hp)} AS bucket")
    scored = _scored(q.join(c, "bucket"))
    if return_scored:
        # the pre-ranking candidate set — the scale-stressor surface
        # (scored candidates per query is the cost the occupancy-sized
        # H keeps constant as the corpus grows)
        return scored
    return _ranked(scored, "sim DESC, cand_id", k)


def _side(frame: DataFrame, id_alias: str, p: str, *extra: str) -> DataFrame:
    """(id_alias, {p}_vec, {p}_n, *extra) from (vec_id, embedding): the
    double vector and its norm, computed once per vector; ``extra`` SQL
    projections may reference ``{p}_vec``."""
    return frame.selectExpr(
        f"vec_id AS {id_alias}", f"{as_double('embedding')} AS {p}_vec"
    ).selectExpr(id_alias, f"{p}_vec", f"{norm(f'{p}_vec')} AS {p}_n", *extra)


def _scored(
    pairs: DataFrame, a: str = "query_id", b: str = "cand_id", keep: str = "!=",
    pa: str = "q", pb: str = "c",
) -> DataFrame:
    """(a, b, sim) for every pair with ``a keep b``: 6-dp cosine over the
    pre-computed ``{p}_vec``/``{p}_n`` columns of each side."""
    sim = cosine_pre(f"{pa}_vec", f"{pa}_n", f"{pb}_vec", f"{pb}_n")
    return pairs.filter(f"{a} {keep} {b}").selectExpr(a, b, f"round({sim}, 6) AS sim")


def brute_force_topk(
    queries: DataFrame, candidates: DataFrame, k: int = 10
) -> DataFrame:
    """Exact cosine top-k: (query_id, cand_id, sim, rank). Query side is
    broadcast (small by construction); ties broken by cand_id on the
    6-decimal rounded similarity so ranking is total and cross-engine
    stable."""
    q = _side(queries, "query_id", "q")
    c = _side(candidates, "cand_id", "c")
    return _ranked(_scored(F.broadcast(q).crossJoin(c)), "sim DESC, cand_id", k)


def ivf_assign(
    vectors: DataFrame, centroids: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """IVF coarse quantization: assign every vector to its nearest centroid
    (max cosine, ties -> lowest centroid id) via broadcast cross join +
    per-vector argmin aggregate.

    The centroid set is small by construction (the IVF invariant: nlist <<
    N), so the cross join broadcasts it — the assignment pass is map-only,
    no shuffle of the vector side. The per-vector argmin is a
    ``min(struct(...))`` grouped aggregate, NOT a row_number window: the
    aggregate partial-combines map-side, so each of the N x nlist scored
    rows reduces to one row per vector before the (vec-id-keyed) shuffle —
    a window would sort-shuffle the full scored set just to keep rank 1.
    Ordering is identical (negated similarity, then centroid id: ties ->
    lowest id), so the result is unchanged.

    Degenerate-input policy (round-3 advice): a zero-norm vector (or
    centroid) makes cosine NULL via ``nullif`` — and a NULL field sorts
    FIRST in a ``min(struct)``, silently winning the argmin, while the
    old row_number path (desc => nulls last) ranked it dead last.  The
    similarity is therefore normalized to a **-1.0 sentinel**
    (coalesce∘nanvl) before the aggregate: degenerate vectors tie at the
    worst possible similarity and deterministically take the lowest
    centroid id, identically in both the window and aggregate plans.
    Testdata embeddings are non-zero by construction; the sentinel makes
    the operator total anyway."""
    c = centroids.selectExpr(
        f"{id_col} AS centroid_id", "v AS c_vec", f"{norm('v')} AS c_n"
    )
    sim = cosine_pre("v", "__v_n", "c_vec", "c_n")
    scored = (
        vectors.withColumn("__v_n", F.expr(norm("v")))
        .crossJoin(F.broadcast(c))
        .selectExpr(
            id_col, "v", "centroid_id",
            f"coalesce(nanvl(round({sim}, 6), -1.0D), -1.0D) AS c_sim",
        )
    )
    best = scored.groupBy(id_col).agg(
        F.expr(
            "min(named_struct('neg_sim', -c_sim, 'centroid_id', centroid_id, "
            "'v', v)) AS b"
        )
    )
    return best.selectExpr(id_col, "b.v AS v", "b.centroid_id AS centroid_id")


def ivf_topk(
    vectors: DataFrame,
    centroids: DataFrame,
    query_pred,
    k: int = 3,
) -> DataFrame:
    """IVF search with nprobe=1: queries probe only their own centroid cell.

    Both sides reuse one assignment pass; candidate generation is the
    equi-join on centroid_id (cell locality), so search cost scales with
    cell occupancy N/nlist instead of N — the inverted-file counterpart to
    the hyperplane-LSH tier."""
    assigned = ivf_assign(vectors, centroids)
    q = assigned.filter(query_pred).selectExpr(
        "vec_id AS query_id", "v AS q_vec", f"{norm('v')} AS q_n", "centroid_id"
    )
    c = assigned.selectExpr(
        "vec_id AS cand_id", "v AS c_vec", f"{norm('v')} AS c_n", "centroid_id"
    )
    return _ranked(_scored(q.join(c, "centroid_id")), "sim DESC, cand_id", k)


def cosine_neardup_pairs(
    vectors: DataFrame,
    threshold: float,
    num_hyperplanes: int = NUM_HYPERPLANES,
) -> DataFrame:
    """(a_id, b_id, sim) pairs with cosine >= threshold, candidates from the
    hyperplane-LSH bucket equi-join — the embedding tier of the dedup family.

    Same shuffle shape as the MinHash LSH join: bucket id is the join key,
    so work scales with bucket occupancy, not N^2. High-cosine pairs agree
    on most hyperplane signs, so near-dups co-bucket with high probability;
    both engines run the identical algorithm, so the (approximate) recall
    is bit-reproducible."""

    def side(p: str) -> DataFrame:
        bucket = lsh_bucket(f"{p}_vec", num_hyperplanes)
        return _side(vectors, f"{p}_id", p, f"{bucket} AS bucket")

    pairs = side("a").join(side("b"), "bucket")
    return _scored(pairs, "a_id", "b_id", "<", "a", "b").filter(
        F.col("sim") >= threshold
    )


def bucketed_topk(
    queries: DataFrame, candidates: DataFrame, k: int = 3
) -> DataFrame:
    """Approximate top-k restricted to the query's LSH bucket — the join key
    is the bucket id, so candidate generation is an equi-join, not a scan of
    all N per query."""
    q = _side(queries, "query_id", "q", f"{lsh_bucket('q_vec')} AS bucket")
    c = _side(candidates, "cand_id", "c", f"{lsh_bucket('c_vec')} AS bucket")
    return _ranked(_scored(q.join(c, "bucket")), "sim DESC, cand_id", k)


def sq_l2(a: str, b: str, dim: int | None = None) -> str:
    """Squared euclidean distance — same left-fold order either way.

    ``dim`` statically unrolls to codegen-able GetArrayItem arithmetic
    (bit-equal to the fold, width-checked, see ``dot``); the default stays
    the generic higher-order fold because sq_l2's callers span full
    vectors AND PQ sub-slices of several widths."""
    if dim is None:
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), 0D, "
            "(acc, v) -> acc + v)"
        )
    d = f"(({a})[{{i}}] - ({b})[{{i}}])"
    return _unrolled("sq_l2", a, b, dim, f"{d} * {d}")


def round_half_away(x: np.ndarray, ndigits: int) -> np.ndarray:
    """DuckDB's ``ROUND(DOUBLE, n)`` for n >= 0: ``std::round(x * 10^n) /
    10^n`` — half away from zero on the PRODUCT, which is not the decimal
    rule (a ``Decimal(repr(x))`` HALF_UP round disagrees on ~1% of values
    that sit near a half-unit).  Non-finite results return ``x``."""
    scale = 10.0 ** ndigits
    p = np.asarray(x, dtype=np.float64) * scale
    t = np.trunc(p)
    r = np.where(np.abs(p - t) >= 0.5, t + np.sign(p), t) / scale
    return np.where(np.isfinite(r), r, x)


def _lloyd_pass(ids: np.ndarray, model: np.ndarray, final: bool):
    """One Lloyd round as a ``mapInArrow`` function over a single
    array<double> column.  Self-contained (numpy/pyarrow only, no package
    globals) so a Python worker unpickles it without importing this
    package.  ``final=False`` emits per-cluster (cluster_id, n, s) partial
    sums; ``final=True`` emits each row's (cluster_id, d2)."""
    k, d = model.shape

    def run(batches):
        import numpy as np
        import pyarrow as pa

        sums = np.zeros((k, d))
        counts = np.zeros(k, dtype=np.int64)
        for batch in batches:
            arr = batch.column(0)
            if arr.null_count or arr.flatten().null_count:
                raise ValueError(
                    "kmeans_lloyd: NULL vector or NULL element — the corpus "
                    "contract is non-null fixed-width vectors (TESTDATA.md)"
                )
            offs = arr.offsets.to_numpy()
            if (np.diff(offs) != d).any():
                raise ValueError(
                    f"kmeans_lloyd: ragged vectors — every vector must have "
                    f"the seed width {d} (corpus contract: fixed-width vectors)"
                )
            x = arr.values.to_numpy()[offs[0]:offs[-1]].reshape(-1, d)
            # d2 as a left fold over the dims in order: bit-equal to sq_l2
            # and DuckDB list_sum; argmin's first minimum = lowest id
            d2 = np.zeros((len(x), k))
            for j in range(d):
                diff = x[:, j, None] - model[None, :, j]
                d2 += diff * diff
            best = d2.argmin(axis=1)
            if final:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(ids[best]), pa.array(d2[np.arange(len(x)), best])],
                    ["cluster_id", "d2"],
                )
            else:
                np.add.at(sums, best, x)  # row order: a sequential sum
                counts += np.bincount(best, minlength=k)
        if not final:
            hit = counts > 0
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids[hit]),
                    pa.array(counts[hit]),
                    pa.array(list(sums[hit]), pa.list_(pa.float64())),
                ],
                ["cluster_id", "n", "s"],
            )

    return run


def kmeans_lloyd(
    vectors: DataFrame, k: int = 8, iters: int = 3
) -> DataFrame:
    """Lloyd k-means over (vec_id, v: array<double>): returns the lazy
    (cluster_id, n_members, inertia) rollup — k rows.

    Deterministic contract (no RNG): initial centroids are the k
    lowest-id vectors; assignment ties break to the lowest centroid id;
    a cluster that loses every member drops out — reruns and engines
    agree exactly.

    Shape: each of the ``iters`` rounds is ONE vectorised ``mapInArrow``
    pass that takes the k x d model as a closure value and returns
    per-cluster partial sums and counts (k rows per task).  The driver
    averages them and rounds each mean to 9 dp with DuckDB's ``ROUND``
    rule, which quantizes the model state so FP summation-order drift
    cannot compound through rounds.  The final pass emits (cluster_id,
    d2) per vector, aggregated lazily by Spark.  The model state collects
    to the driver; the data never does.

    Negative results (do not retry): keeping the model in the JVM as
    literals — unrolled literal SQL recompiled every round (5.3 s), and a
    higher-order fold over a literal model array with a posexplode update
    ran 1.5-1.9 s at 9 jobs — against 0.9-1.4 s at 6 jobs for this shape
    (sf0.1, 4 cores)."""
    seeds = vectors.orderBy("vec_id").limit(k).select("vec_id", "v").collect()
    if len(seeds) < k:
        raise ValueError(
            f"kmeans_lloyd: {len(seeds)} vectors for k={k} — needs at least "
            "k rows to seed from the k lowest vec_ids"
        )
    if any(r.v is None or None in r.v or len(r.v) != len(seeds[0].v) for r in seeds):
        raise ValueError(
            "kmeans_lloyd: NULL or ragged seed vectors — the corpus contract "
            "is non-null fixed-width vectors (TESTDATA.md)"
        )
    ids = np.array([r.vec_id for r in seeds], dtype=np.int64)
    model = np.array([r.v for r in seeds], dtype=np.float64)
    v = vectors.select("v")
    for _ in range(iters):
        parts = v.mapInArrow(
            _lloyd_pass(ids, model, final=False),
            "cluster_id long, n long, s array<double>",
        ).collect()
        pos = {c: i for i, c in enumerate(ids)}
        sums, counts = np.zeros_like(model), np.zeros(len(ids), dtype=np.int64)
        for r in parts:
            sums[pos[r.cluster_id]] += np.array(r.s)
            counts[pos[r.cluster_id]] += r.n
        hit = counts > 0
        ids, model = ids[hit], round_half_away(sums[hit] / counts[hit][:, None], 9)
    return (
        v.mapInArrow(_lloyd_pass(ids, model, final=True), "cluster_id long, d2 double")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(F.sum("d2"), 6).alias("inertia"),
        )
    )


def pq_encode(
    vectors: DataFrame, m: int = 4, ksub: int = 16, iters: int = 2
) -> DataFrame:
    """Product quantization: train ``m`` independent sub-codebooks (Lloyd,
    ``ksub`` codes each) over the vector's m equal slices and encode every
    vector as its per-subspace nearest code.

    Returns (vec_id, sub, code, d2): d2 is the subspace reconstruction
    error, so SUM(d2) over a vector's m rows is its total quantization
    distortion. Codes are the SEED vector ids (deterministic, no RNG).

    Scale notes: each subspace trains independently on a dim/m-wide slice
    (same broadcast-assign shape as IVF training, m small constants); the
    encoded corpus is m bytes-ish per vector instead of d floats — the
    memory-bound ANN regime (ADC) at 100 TB. Subspace loops are Python
    over PLANS, never over data."""
    return pq_model(vectors, m, ksub, iters)[0]


def pq_encode_frozen(
    vectors: DataFrame, codebooks: DataFrame, m: int
) -> DataFrame:
    """Encode vectors against FROZEN sub-codebooks — the incremental
    index-maintenance primitive: a new ingest batch is assigned into an
    existing PQ index with ZERO training work and without touching the
    historical encoded corpus.

    Same math as the final assignment pass of ``pq_model`` (argmin by
    (d2, code) per (vec, subspace) via a map-side min(struct) aggregate,
    broadcast codebooks), so for any vector the frozen encode is
    bit-identical to what a full rebuild would assign — the property that
    makes incremental maintenance exact rather than approximate.

    Returns (vec_id, sub, code, d2) — the same schema ``pq_model`` stages,
    so ``history.unionByName(pq_encode_frozen(batch, ...))`` IS the
    merged index.

    Scale shape: one broadcast join (codebooks are m x ksub rows) + one
    map-side-combining aggregate over the batch — linear in the batch,
    zero cost on the historical corpus."""
    dim = EMBED_DIM // m
    sub_rows = _explode_subspaces(vectors, m, dim)
    scored = sub_rows.join(
        F.broadcast(codebooks.select("sub", "code", "c_vec")), "sub"
    ).selectExpr("vec_id", "sub", f"{sq_l2('v', 'c_vec', dim)} AS d2", "code")
    best = scored.groupBy("vec_id", "sub").agg(
        F.expr("min(named_struct('d2', d2, 'code', code)) AS b")
    )
    return best.selectExpr("vec_id", "sub", "b.code AS code", "b.d2 AS d2")


def _explode_subspaces(vectors: DataFrame, m: int, dim: int) -> DataFrame:
    """(vec_id, sub, v): every vector split into its m dim-wide slices."""
    slices = ", ".join(
        f"named_struct('sub', {s}, 'v', slice(v, {s * dim + 1}, {dim}))"
        for s in range(m)
    )
    return vectors.selectExpr("vec_id", f"explode(array({slices})) AS e").select(
        "vec_id", "e.sub", "e.v"
    )


def pq_model(
    vectors: DataFrame,
    m: int = 4,
    ksub: int = 16,
    iters: int = 2,
    n_partitions: int | None = 8,
) -> tuple[DataFrame, DataFrame]:
    """Train PQ sub-codebooks and encode the corpus.

    Returns (encoded, codebooks):
    - encoded:   (vec_id, sub, code, d2) — one row per vector per subspace;
    - codebooks: (sub, code, c_vec)      — m x ksub centroid slices.

    All m subspaces train in ONE Lloyd pipeline: the corpus explodes to
    (vec_id, sub, slice) rows, each iteration is a single broadcast-assign
    pass + a single keyed update over every subspace at once — the Spark
    job count is O(iters), not O(m * iters) (the per-subspace-loop
    formulation pays m separate job chains; measured 22 s -> 4 s at
    m=16/sf0.01). Per-subspace math is unchanged: seeds are the ksub
    lowest-id vectors' slices, ties break to the lowest code, model state
    quantizes to 9 dp per iteration — the DuckDB oracle replays each
    subspace independently and matches value-exactly.

    ``n_partitions``: the per-iteration model-state checkpoints otherwise
    inherit the caller's shuffle-partition count
    (``session.loop_shuffle_partitions``); size it to the corpus (or pass
    ``None``) at real data volumes."""
    from energy_emissions_lakehouse_spark.session import (
        loop_shuffle_partitions,
    )

    # n_partitions=None is handled by the context manager (no-op)
    with loop_shuffle_partitions(vectors.sparkSession, n_partitions):
        return _pq_rounds(vectors, m, ksub, iters)


def _pq_rounds(
    vectors: DataFrame, m: int, ksub: int, iters: int
) -> tuple[DataFrame, DataFrame]:
    """Body of ``pq_model`` (factored so the one-Lloyd-pipeline training
    loop sits inside the caller's shuffle-partition override)."""
    # EMBED_DIM is the corpus contract (embeddings table, TESTDATA.md)
    dim = EMBED_DIM // m
    sub_rows = _explode_subspaces(vectors, m, dim)
    seeds = _explode_subspaces(
        vectors.orderBy("vec_id").limit(ksub), m, dim
    ).select("sub", F.col("vec_id").alias("code"), F.col("v").alias("c_vec"))
    centroids = seeds.localCheckpoint(eager=True)

    def assign(cents: DataFrame) -> DataFrame:
        scored = sub_rows.join(F.broadcast(cents), "sub").selectExpr(
            "vec_id", "sub", "v", "code", f"{sq_l2('v', 'c_vec', dim)} AS d2"
        )
        # argmin by (d2, code) per (vec, subspace): a map-side-combining
        # aggregate instead of a row_number window — the N x ksub scored
        # rows reduce before the shuffle, which matters x iters here
        best = scored.groupBy("vec_id", "sub").agg(
            F.min(F.struct("d2", "code", "v")).alias("b")
        )
        return best.select(
            "vec_id",
            "sub",
            F.col("b.v").alias("v"),
            F.col("b.code").alias("code"),
            F.col("b.d2").alias("d2"),
        )

    assigned = assign(centroids)
    for _ in range(iters):
        new_cents = (
            assigned.select("sub", "code", F.posexplode("v").alias("pos", "val"))
            .groupBy("sub", "code", "pos")
            # same 9-dp model-state quantization as kmeans_lloyd: makes the
            # centroid state bit-identical on any engine/partitioning
            .agg(F.round(F.avg("val"), 9).alias("mn"))
            .groupBy("sub", "code")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "mn"))),
                    lambda e: e.mn,
                ).alias("c_vec")
            )
        )
        centroids = new_cents.localCheckpoint(eager=True)
        assigned = assign(centroids)

    return assigned.select("vec_id", "sub", "code", "d2"), centroids


def pq_adc_topk(
    vectors: DataFrame,
    query_pred,
    k: int = 3,
    m: int = 4,
    ksub: int = 16,
    iters: int = 2,
    model: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes — the memory-bound
    ANN search: candidates are never touched as floats, only as m small
    codes; per query the float work is one m x ksub distance TABLE.

    Scale shape:
    - distance tables: query slices x broadcast codebooks (Q*m*ksub tiny
      rows, map-only);
    - scoring: encoded corpus (N*m rows) equi-joins the BROADCAST tables
      on (sub, code) — map-side, no corpus shuffle — then one keyed
      aggregate per (query, candidate) sums the m partials.
    Partial distances quantize to integer micro-units before the sum, so
    the total and the (d, cand_id) ranking are cross-engine exact.

    ``model``: optionally pass a pre-trained (encoded, codebooks) pair —
    the production split: train/encode once per corpus (an index build),
    serve many queries against the staged model. When omitted the model
    trains inline."""
    encoded, codebooks = model if model is not None else pq_model(
        vectors, m, ksub, iters
    )
    scored = (
        encoded.join(F.broadcast(_adc_tables(vectors, query_pred, codebooks, m)), ["sub", "code"])
        .groupBy("query_id", F.col("vec_id").alias("cand_id"))
        .agg(F.sum("d_micro").alias("d_micro"))
        .filter("query_id != cand_id")
    )
    return _ranked(scored, "d_micro, cand_id", k).selectExpr(
        "query_id", "cand_id", f"{_MICRO_BACK} AS d_approx", "rank"
    )


#: integer micro-units: an m-way partial-distance sum must be
#: order-independent (exact) across engines and partitionings
_MICRO = "CAST(round(({}) * 1000000.0D, 0) AS BIGINT)"
_MICRO_BACK = "CAST(d_micro AS DOUBLE) / 1000000.0D"


def _adc_tables(
    vectors: DataFrame, query_pred, codebooks: DataFrame, m: int
) -> DataFrame:
    """ADC distance tables (query_id, sub, code, d_micro): every query
    slice against every code of its subspace's broadcast codebook."""
    dim = EMBED_DIM // m
    q_slices = _explode_subspaces(vectors.filter(query_pred), m, dim)
    return q_slices.join(F.broadcast(codebooks), "sub").selectExpr(
        "vec_id AS query_id", "sub", "code",
        f"{_MICRO.format(sq_l2('v', 'c_vec', dim))} AS d_micro",
    )


def pq_adc_rerank_topk(
    vectors: DataFrame,
    query_pred,
    k: int = 3,
    shortlist: int = 20,
    m: int = 4,
    ksub: int = 16,
    iters: int = 2,
    model: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Two-stage ANN serving path: ADC shortlists ``shortlist`` candidates
    per query through the codes alone, then ONLY those Q x shortlist rows
    join back to full vectors for an exact-L2 re-rank — the standard
    coarse-then-refine production shape. The refine stage is a keyed
    equi-join on cand_id (fetches a bounded candidate set, never a
    corpus scan); exact distances quantize to integer micro-units so the
    final (d, cand_id) ranking is cross-engine total."""
    short = pq_adc_topk(
        vectors, query_pred, k=shortlist, m=m, ksub=ksub, iters=iters,
        model=model,
    ).select("query_id", "cand_id")
    qv = vectors.filter(query_pred).selectExpr("vec_id AS query_id", "v AS q_vec")
    cv = vectors.selectExpr("vec_id AS cand_id", "v AS c_vec")
    exact = (
        short.join(F.broadcast(qv), "query_id")
        .join(cv, "cand_id")
        .selectExpr(
            "query_id", "cand_id",
            f"{_MICRO.format(sq_l2('q_vec', 'c_vec'))} AS d_micro",
        )
    )
    return _ranked(exact, "d_micro, cand_id", k).selectExpr(
        "query_id", "cand_id", f"{_MICRO_BACK} AS d_exact", "rank"
    )


def ivf_topk_nprobe(
    vectors: DataFrame,
    centroids: DataFrame,
    query_pred,
    k: int = 3,
    nprobe: int = 2,
) -> DataFrame:
    """IVF search probing the ``nprobe`` nearest cells per query.

    Candidates stay in their single home cell; each query fans out to its
    nprobe closest centroids, so the candidate set is the union of those
    cells — recall rises toward brute force as nprobe grows while cost
    stays O(nprobe * N / nlist) per query. Same equi-join-on-cell shape
    as nprobe=1; the fan-out is a bounded row multiplication (x nprobe)
    on the QUERY side only, which is the small side by construction."""
    c_home = ivf_assign(vectors, centroids)
    q = _nearest_cells(vectors, centroids, query_pred, nprobe).withColumn(
        "q_n", F.expr(norm("q_vec"))
    )
    c = c_home.selectExpr(
        "vec_id AS cand_id", "v AS c_vec", f"{norm('v')} AS c_n", "centroid_id"
    )
    return _ranked(_scored(q.join(c, "centroid_id")), "sim DESC, cand_id", k)


def _nearest_cells(
    vectors: DataFrame, centroids: DataFrame, query_pred, nprobe: int
) -> DataFrame:
    """(query_id, q_vec, centroid_id): each query's ``nprobe`` nearest
    cells by 6-dp cosine, ties to the lowest centroid id."""
    cents = centroids.selectExpr("vec_id AS centroid_id", "v AS c_vec")
    scored = vectors.filter(query_pred).crossJoin(F.broadcast(cents)).selectExpr(
        "vec_id AS query_id", "v AS q_vec", "centroid_id",
        f"round({cosine('v', 'c_vec')}, 6) AS c_sim",
    )
    return _ranked(scored, "c_sim DESC, centroid_id", nprobe).select(
        "query_id", "q_vec", "centroid_id"
    )


def ivfpq_adc_topk(
    vectors: DataFrame,
    centroids: DataFrame,
    query_pred,
    k: int = 3,
    nprobe: int = 2,
    m: int = 4,
    ksub: int = 16,
    iters: int = 2,
    model: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """IVF-PQ serving — the combined index (FAISS ``IVFPQ``): IVF coarse
    cells prune WHICH candidates are scored, PQ/ADC codes decide HOW they
    are scored. Per query, cost is O(nprobe * N/nlist) candidates x m
    code lookups — both pruning dimensions compound, which is how
    billion-vector serving stays sub-linear AND memory-bound.

    Plan shape:
    - one assignment pass gives every vector its home cell (broadcast
      argmin, map-only); each query fans out to its ``nprobe`` nearest
      cells (bounded query-side multiplication);
    - the (query, candidate) cell join restricts the encoded corpus
      BEFORE any distance work — a shuffle-hash equi-join on the
      candidate id (broadcast is valid when the serving batch is small,
      but the hint keeps the plan safe for large query batches);
    - surviving (query, cand, sub, code) rows join the broadcast ADC
      distance tables on (query_id, sub, code) and sum integer-micro
      partials — same exactness contract as :func:`pq_adc_topk`.
    """
    encoded, codebooks = model if model is not None else pq_model(
        vectors, m, ksub, iters
    )
    c_home = ivf_assign(vectors, centroids).selectExpr(
        "vec_id AS cand_id", "centroid_id"
    )
    probes = _nearest_cells(vectors, centroids, query_pred, nprobe)
    cand = (
        probes.join(c_home, "centroid_id")
        .filter("query_id != cand_id")
        .select("query_id", "cand_id")
    )
    dtab = _adc_tables(vectors, query_pred, codebooks, m)
    enc_cand = (
        encoded.join(
            cand.hint("shuffle_hash"),
            encoded.vec_id == cand.cand_id,
        )
        .select("query_id", "cand_id", "sub", "code")
    )
    scored = enc_cand.join(F.broadcast(dtab), ["query_id", "sub", "code"]).groupBy(
        "query_id", "cand_id"
    ).agg(F.sum("d_micro").alias("d_micro"))
    return _ranked(scored, "d_micro, cand_id", k).selectExpr(
        "query_id", "cand_id", f"{_MICRO_BACK} AS d_approx", "rank"
    )
