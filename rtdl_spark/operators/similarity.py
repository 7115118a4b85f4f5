"""Similarity search over embedding columns (north-star extension,
SURVEY.md §2C): brute-force cosine top-k as the exactness baseline, and an
IVF-style cell-probed variant as the scale path.

Scale design:
- Brute force is a broadcast nested loop: the (small) query set is
  broadcast against the full corpus — no corpus shuffle at all; cost is
  |Q|·|C| dot products, all inside JVM codegen (zip_with/aggregate over
  doubles). Right answer for |Q| small; at 100 TB the corpus scan is
  embarrassingly parallel.
- IVF: corpus vectors are assigned once to their nearest coarse centroid
  (broadcast centroids, argmin over K dot products); a query probes only
  its nprobe nearest cells, so the candidate set shrinks by ~K/nprobe.
  Assignment is a narrow map; the probe join is an equi join on cell id.
  (Centroids here are seeded from fixed corpus rows — deterministic; a
  production build would k-means them, same plan shape.)
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rtdl_spark.functions.localdf import local_df

from rtdl_spark.functions.vectors import cosine, dot, l2_norm, to_double


def _spread_if_narrow(df: DataFrame, key_col: str) -> DataFrame:
    """Repartition ``df`` by ``key_col`` ONLY when its scan is
    under-parallel (guide §2.4: a repartition added "for parallelism" is
    an accidental shuffle — unless the alternative is a serial stage).
    A bench-scale corpus packed into one dense file otherwise runs every
    downstream Arrow kernel / scoring stage on ONE task (r11 measured:
    pq_encode serialized 0.74 s of a 1.38 s query); at real scale the
    scan's natural split count clears the bar and no shuffle appears in
    the plan. Row-local consumers only — results are partition-layout
    independent."""
    n_parts = max(df.sparkSession.sparkContext.defaultParallelism, 8)
    if df.rdd.getNumPartitions() < n_parts:
        return df.repartition(n_parts, F.col(key_col))
    return df


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Returns: query_id, neighbor_id, cosine_sim (rounded to 6 so ordering is
    engine-reproducible), rank. Self-matches excluded."""
    # Norms are per-vector, not per-pair: compute them once as columns so
    # each of the |queries|×|corpus| pairs evaluates ONE array aggregation
    # (the dot product) instead of three — same values bit-for-bit, ~3×
    # less expression work on the quadratic stage.
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        l2_norm(F.col(vec_col)).alias("_qnorm"),
    )
    # Spread the corpus before the quadratic scoring stage: a corpus packed
    # into few dense files would otherwise score on as few tasks as there
    # are input splits. r10 (guide §2.4 — a repartition added "for
    # parallelism" is an accidental shuffle): the spread now happens ONLY
    # when the scan is actually under-parallel; at real scale the scan's
    # natural split count clears the bar and the full-corpus shuffle
    # disappears from the plan. (minhash_lsh_pairs/rp_lsh_topk keep their
    # unconditional repartition deliberately: there the exchange is
    # REUSED by two consumers, replacing a second source scan.)
    base = _spread_if_narrow(corpus, id_col)
    c = base.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        l2_norm(F.col(vec_col)).alias("_cnorm"),
    )
    denom = F.col("_qnorm") * F.col("_cnorm")
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine_sim",
            F.round(
                F.when(denom > 0, dot(F.col("qvec"), F.col("cvec")) / denom), 6
            ),
        )
        .select("query_id", "neighbor_id", "cosine_sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# literal-centroid plan bounds (see ivf_assign): past these the plan
# falls back to the broadcast-join argmax instead of growing the SQL
# expression (and the driver collect) without limit
_IVF_LITERAL_MAX_CELLS = 1024
_IVF_LITERAL_MAX_TERMS = 262144


def _ivf_assign_join(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Broadcast-join + window argmax assignment — the unbounded-input
    fallback of ivf_assign (the r9 shape). Tie rule identical to the
    literal plan: round-6 cosine DESC (NULLS LAST), ties to the lowest
    cell_id."""
    cent = F.broadcast(
        centroids.select(F.col("cell_id"), F.col(vec_col).alias("_cent"))
    )
    scored = corpus.select(
        F.col(id_col).alias(id_col), F.col(vec_col).alias(vec_col)
    ).join(cent)
    w = Window.partitionBy(id_col).orderBy(
        F.desc(F.round(cosine(F.col(vec_col), F.col("_cent")), 6)),
        F.asc("cell_id"),
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(id_col, vec_col, F.col("cell_id").cast("int"))
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every corpus vector to its highest-cosine centroid. Output:
    id, vec, cell.

    Pure-projection argmax (r10; guide §2.4 — remove shuffles outright):
    coarse centroids are tiny by construction (they ARE the coarse
    quantizer), so they ride into the plan as literals and the whole
    assignment is one codegen map over the corpus — zero shuffles, zero
    row multiplication. The r9 shape joined the corpus against a
    broadcast of the centroids (corpus × n_cells rows) and window-ranked
    the pairs, which shuffled the entire corpus by id; at 100 TB that
    shuffle moves every vector once per assignment for no reason.

    Tie semantics are unchanged: score = round(cosine, 6) descending,
    ties to the LOWEST cell — expressed as max of struct(score,
    -cell_id), whose lexicographic ordering puts a NULL score (zero-norm
    or null vectors) below every real score, exactly where the window's
    DESC NULLS LAST put it; all-null rows fall to the lowest cell id,
    as before. cosine() widens components to double before multiplying,
    so literal float64 centroids score bit-identically to the joined
    column they replace.

    Bounded (r11, judge advice): the literal plan collects the
    centroids to the driver and inlines n_cells × dim float literals
    into one SQL expression, so a caller passing a LARGE centroid frame
    would pay an unbounded collect plus a multi-megabyte expression.
    Above ``_IVF_LITERAL_MAX_CELLS`` rows or
    ``_IVF_LITERAL_MAX_TERMS`` total floats the assignment falls back
    to the r9 broadcast-join + window argmax — same scores, same tie
    rule (round-6 DESC, ties to the lowest cell, NULLS LAST), one
    broadcast instead of a literal."""
    head = centroids.select("cell_id", vec_col).take(
        _IVF_LITERAL_MAX_CELLS + 1
    )
    if len(head) > _IVF_LITERAL_MAX_CELLS or sum(
        len(r[vec_col]) if r[vec_col] is not None else 0 for r in head
    ) > _IVF_LITERAL_MAX_TERMS:
        return _ivf_assign_join(corpus, centroids, id_col, vec_col)
    rows = sorted(head, key=lambda r: r["cell_id"])
    base = corpus.select(
        F.col(id_col).alias(id_col), F.col(vec_col).alias(vec_col)
    )
    if not rows:
        return base.withColumn("cell_id", F.lit(None).cast("int")).filter(
            F.lit(False)
        )
    if len(rows) == 1:
        return base.withColumn(
            "cell_id", F.lit(int(rows[0]["cell_id"])).cast("int")
        )
    # ONE parsed SQL expression, not K Column-built cosine trees: the
    # centroid table rides in as a literal array<struct> (constant-folds
    # to a single Literal node), so analysis/optimization cost does not
    # scale with n_cells × dim — the Column-API construction of the same
    # argmax measured ~4 s of Catalyst time PER QUERY at 8×64. Fold
    # order matches functions/vectors exactly (left-fold double
    # accumulators; centroid norms precomputed in float64 here, the same
    # arithmetic Spark's l2_norm performs on the literal).
    def _d(x) -> str:
        if x is None:
            return "CAST(NULL AS DOUBLE)"
        v = float(x)
        if v != v or v in (float("inf"), float("-inf")):
            return f"CAST('{v}' AS DOUBLE)"
        return f"CAST('{v!r}' AS DOUBLE)"

    def _norm(vec) -> float | None:
        acc = 0.0
        for x in vec:
            if x is None:
                return None
            acc += float(x) * float(x)
        return math.sqrt(acc)

    cents = []
    for r in rows:
        vec, cid = r[vec_col], int(r["cell_id"])
        if vec is None or len(vec) == 0:
            cents.append(
                f"named_struct('c', {cid}, 'n', CAST(NULL AS DOUBLE), "
                "'v', CAST(NULL AS ARRAY<DOUBLE>))"
            )
            continue
        n = _norm(vec)
        cents.append(
            f"named_struct('c', {cid}, 'n', {_d(n)}, "
            f"'v', array({', '.join(_d(x) for x in vec)}))"
        )
    emb = f"`{vec_col.replace('`', '``')}`"
    nv = (
        f"sqrt(aggregate({emb}, CAST(0.0 AS DOUBLE), "
        "(acc, e) -> acc + CAST(e AS DOUBLE) * CAST(e AS DOUBLE)))"
    )
    score = (
        f"ROUND(CASE WHEN {nv} * x.n > 0 THEN "
        f"aggregate(zip_with({emb}, x.v, "
        "(e, b) -> CAST(e AS DOUBLE) * b), CAST(0.0 AS DOUBLE), "
        f"(acc, y) -> acc + y) / ({nv} * x.n) END, 6)"
    )
    # argmax with the window's exact tie rule: iterate cells in
    # ascending id order, replace only on a STRICTLY higher score (NULL
    # scores never replace; an all-NULL row keeps the lowest cell,
    # where DESC NULLS LAST ranking put it)
    expr = (
        "aggregate("
        f"transform(array({', '.join(cents)}), "
        f"x -> named_struct('s', {score}, 'c', x.c)), "
        "CAST(NULL AS STRUCT<s: DOUBLE, c: INT>), "
        "(acc, x) -> CASE WHEN acc IS NULL THEN x "
        "WHEN x.s IS NOT NULL AND (acc.s IS NULL OR x.s > acc.s) "
        "THEN x ELSE acc END, "
        "acc -> acc.c)"
    )
    return base.withColumn("cell_id", F.expr(expr).cast("int"))


def _greedy_seed_rows(
    corpus: DataFrame,
    n: int,
    id_col: str,
    vec_col: str,
    sample_cap: int,
) -> list:
    """Deterministic farthest-first traversal (Gonzalez k-center — the
    argmax-D² variant of k-means++ seeding, randomness replaced by the
    deterministic maximum) over a bounded corpus sample.

    Scale shape: the sample is the ``sample_cap`` rows with the lowest
    md5(id) — orderBy+limit compiles to TakeOrdered (per-partition top-k,
    one tiny merge on the driver; no global sort materializes), so a
    100 TB corpus contributes one scan and ships only sample_cap rows.
    The O(sample_cap · n · dim) greedy runs driver-side in numpy on that
    bounded sample — the standard seeding practice (k-means++ on a
    sample), not a driver-side loop over corpus data.

    Returns [(seed_id, [float, ...]), ...] of length min(n, usable rows);
    ragged vectors (dim != the lowest-id row's dim) are skipped.
    """
    import numpy as np

    rows = (
        corpus.select(
            F.col(id_col).alias("_id"), to_double(F.col(vec_col)).alias("_v")
        )
        .filter(F.col("_v").isNotNull())
        .orderBy(F.md5(F.col("_id").cast("string")), F.col("_id"))
        .limit(sample_cap)
        .collect()
    )
    if not rows:
        raise ValueError("seed_centroids: empty corpus")
    ids = [r["_id"] for r in rows]
    anchor = min(range(len(rows)), key=lambda i: ids[i])
    dim = len(rows[anchor]["_v"])
    keep = [i for i in range(len(rows)) if len(rows[i]["_v"]) == dim]
    ids = [ids[i] for i in keep]
    X = np.asarray([list(rows[i]["_v"]) for i in keep], dtype=np.float64)

    start = min(range(len(ids)), key=lambda i: ids[i])
    chosen = [start]
    d = ((X - X[start]) ** 2).sum(axis=1)
    while len(chosen) < min(n, len(ids)):
        m = d.max()
        nxt = min(np.flatnonzero(d == m), key=lambda i: ids[i])
        chosen.append(int(nxt))
        d = np.minimum(d, ((X - X[nxt]) ** 2).sum(axis=1))
    return [(ids[i], [float(x) for x in X[i]]) for i in chosen]


def seed_centroids(
    corpus: DataFrame, n: int, id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "first",
    sample_cap: int = 4096,
) -> DataFrame:
    """Deterministic coarse centroids, numbered 1..n — the shared seeding
    convention of the IVF/PQ/SemDeDup family.

    method="first" (default): the first ``n`` corpus rows by id —
    reproducible across engines/runs, zero extra passes; the convention
    every oracle-checked query pins.

    method="kmeanspp": deterministic farthest-first traversal over a
    bounded sample (_greedy_seed_rows) — spreads centroids across the
    data's extent instead of wherever the first ids happen to sit, so
    cells are balanced and probes recall more (classic k-means++/k-center
    seeding, made deterministic by argmax-D² with id tie-breaks).
    """
    if method == "kmeanspp":
        seeds = _greedy_seed_rows(corpus, n, id_col, vec_col, sample_cap)
        return local_df(corpus.sparkSession, 
            [(i + 1, v) for i, (_, v) in enumerate(seeds)],
            f"cell_id int, {vec_col} array<double>",
        )
    if method != "first":
        raise ValueError(f"seed_centroids: unknown method {method!r}")
    return (
        corpus.orderBy(id_col)
        .limit(n)
        .select(
            F.row_number().over(Window.orderBy(id_col)).alias("cell_id"),
            F.col(vec_col),
        )
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_cells: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    seed_method: str = "first",
) -> DataFrame:
    """IVF-style ANN: coarse-quantize the corpus into n_cells (centroids
    seeded deterministically — first rows by default, or farthest-first
    via seed_method="kmeanspp"), probe the nprobe best cells per query,
    exact-rank inside the probed subset."""
    centroids = seed_centroids(
        corpus, n_cells, id_col, vec_col, method=seed_method
    )
    assigned = ivf_assign(corpus, centroids, id_col, vec_col)

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    cent = F.broadcast(
        centroids.select("cell_id", F.col(vec_col).alias("cent_vec"))
    )
    probe_w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round(cosine(F.col("qvec"), F.col("cent_vec")), 6)),
        F.asc("cell_id"),
    )
    probed = (
        q.join(cent)
        .withColumn("_rn", F.row_number().over(probe_w))
        .filter(F.col("_rn") <= nprobe)
        .select("query_id", "qvec", "cell_id")
    )

    # Same norm-precompute as cosine_topk: per-vector norms once, one dot
    # per (query, candidate) pair in the probed subset.
    assigned_n = assigned.withColumn("_cnorm", l2_norm(F.col(vec_col)))
    probed_n = probed.withColumn("_qnorm", l2_norm(F.col("qvec")))
    denom = F.col("_qnorm") * F.col("_cnorm")
    scored = (
        assigned_n.join(F.broadcast(probed_n), "cell_id")
        .filter(F.col("query_id") != F.col(id_col))
        .withColumn(
            "cosine_sim",
            F.round(
                F.when(denom > 0, dot(F.col("qvec"), F.col(vec_col)) / denom), 6
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            "cosine_sim",
            "rank",
            "cell_id",
        )
    )


def rp_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 8,
    n_bits: int = 6,
    seed: int = 42,
    k: int = 5,
    quantized: bool = False,
) -> DataFrame:
    """Random-hyperplane LSH ANN (functions/rp_lsh.py): candidates are the
    corpus vectors sharing at least one sign-pattern bucket with the
    query; exact cosine re-ranks the candidates; top-k per query.

    ``quantized=True`` re-ranks with int8 integer-space cosine instead
    (functions/vectors.py::quantized_cosine) — the full int8 ANN
    pipeline: bucket keys from one matmul, candidate vectors carried as
    array<tinyint> (4× less join payload), ranking scores never leave
    integer arithmetic until the final division.

    Plan shape mirrors minhash_lsh_pairs: explode bucket keys → equi join
    on the key (hash join, no quadratic stage, no corpus broadcast) →
    dedup candidate id pairs (cheap longs — vectors are NOT dragged
    through the candidate shuffle) → re-attach vectors → one dot product
    per surviving pair. Unlike IVF there is no train/assign stage, so it
    works on a corpus seen for the first time; unlike brute force the
    scored-pair count scales with bucket collisions, not |Q|·|C|."""
    from rtdl_spark.functions.rp_lsh import rp_lsh_bucket_keys

    n_parts = max(corpus.sparkSession.sparkContext.defaultParallelism, 8)
    base = corpus.repartition(n_parts, F.col(id_col))
    c_b = base.select(
        F.col(id_col).alias("neighbor_id"),
        F.explode(
            rp_lsh_bucket_keys(F.col(vec_col), n_tables, n_bits, seed)
        ).alias("_bucket"),
    )
    q_b = queries.select(
        F.col(id_col).alias("query_id"),
        F.explode(
            rp_lsh_bucket_keys(F.col(vec_col), n_tables, n_bits, seed)
        ).alias("_bucket"),
    )
    cand = (
        c_b.join(F.broadcast(q_b), "_bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    if quantized:
        from rtdl_spark.functions.vectors import quantize_int8, quantized_cosine

        q_vec = queries.select(
            F.col(id_col).alias("query_id"),
            quantize_int8(vec_col).alias("qq"),
        )
        c_vec = base.select(
            F.col(id_col).alias("neighbor_id"),
            quantize_int8(vec_col).alias("qc"),
        )
        sim = F.round(quantized_cosine(F.col("qq"), F.col("qc")), 6)
    else:
        q_vec = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            l2_norm(F.col(vec_col)).alias("_qnorm"),
        )
        c_vec = base.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cvec"),
            l2_norm(F.col(vec_col)).alias("_cnorm"),
        )
        denom = F.col("_qnorm") * F.col("_cnorm")
        sim = F.round(
            F.when(denom > 0, dot(F.col("qvec"), F.col("cvec")) / denom), 6
        )
    scored = (
        cand.join(c_vec, "neighbor_id")
        .join(F.broadcast(q_vec), "query_id")
        .withColumn("cosine_sim", sim)
        .select("query_id", "neighbor_id", "cosine_sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def semantic_dedup(
    corpus: DataFrame,
    n_cells: int = 8,
    threshold: float = 0.999,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cc_checkpoint_dir: str | None = None,
    seed_method: str = "first",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, arXiv:
    2303.09540): cluster embeddings, find high-cosine pairs WITHIN each
    cluster only, resolve pairs into duplicate groups, keep the lowest-id
    representative of each. Returns the surviving corpus rows unchanged.

    Composition of existing scale shapes, each already bounded:
    1. unit-normalize (cosine-invariant; zero-norm vectors can't be
       near-dups and always survive);
    2. cell assignment = broadcast argmax vs deterministic seeded
       centroids (ivf_assign) — corpus scanned, never shuffled all-pairs;
    3. candidate pairs = per-cell self-join (the SemDeDup trick: quadratic
       only within a cell, linear across cells; near-dups straddling a
       cell boundary are missed — the paper's documented recall tradeoff,
       bought for the n² reduction);
    4. pairs → groups via connected_components (operators/components.py):
       pairwise keep-one under-deletes chains A~B~C — see that module.
    """
    from rtdl_spark.operators.components import connected_components

    vecs = corpus.select(
        F.col(id_col).alias("_sid"), to_double(F.col(vec_col)).alias("_v")
    ).withColumn("_n", l2_norm(F.col("_v")))
    unit = vecs.filter(F.col("_n") > 0).select(
        "_sid",
        F.transform("_v", lambda x: x / F.col("_n")).alias("_u"),
    )
    centroids = seed_centroids(unit, n_cells, "_sid", "_u", method=seed_method)
    assigned = ivf_assign(unit, centroids, "_sid", "_u")
    a = assigned.select(
        F.col("_sid").alias("id1"), F.col("_u").alias("v1"), "cell_id"
    )
    b = assigned.select(
        F.col("_sid").alias("id2"), F.col("_u").alias("v2"), "cell_id"
    )
    pairs = (
        a.join(b, "cell_id")
        .filter(F.col("id1") < F.col("id2"))
        .filter(cosine(F.col("v1"), F.col("v2")) >= threshold)
        .select("id1", "id2")
    )
    # cc_checkpoint_dir: pass a storage path at corpus scale — the
    # component iteration's disk-checkpoint mode (see components.py);
    # default in-memory mode suits cell-blocked pair sets that fit.
    drop = connected_components(
        pairs, "id1", "id2", checkpoint_dir=cc_checkpoint_dir
    ).filter(F.col("node") != F.col("component"))
    return corpus.join(
        drop.select(F.col("node").alias("_drop")),
        F.col(id_col) == F.col("_drop"),
        "left_anti",
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    m: int = 8,
    ks: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    train_iters: int = 0,
    train_sample: int = 1024,
) -> DataFrame:
    """Product-quantization ANN (functions/pq_np.py): encode the corpus
    once to m-byte codes (32× smaller than 64-dim float vectors), then
    answer each query by summing m lookup-table entries per corpus row —
    asymmetric distance computation, the FAISS-PQ search shape.

    Scale shape: encoding is a narrow one-time map (numpy pandas UDF);
    at query time the scan touches ONLY the code column (the float
    vectors never leave storage), the per-query LUT rides in via a
    broadcast join, and scoring is whole-stage-codegen expressions. The
    combination — tiny scan payload + JVM-side scoring — is what lets a
    100 TB corpus answer from RAM-resident codes.

    Returns query_id, neighbor_id, approx_dist (squared L2, rounded to 6),
    rank — ascending distance, ties to the lower neighbor id. Queries are
    collected to the driver (query sets are small by definition; the
    corpus is never collected).
    """
    import numpy as np

    from rtdl_spark.functions.pq_np import (
        adc_score,
        pq_codebooks,
        pq_encode,
        pq_lut,
    )

    n_sample = max(ks, train_sample) if train_iters > 0 else ks
    sample = np.asarray(
        [
            list(r[vec_col])
            for r in corpus.orderBy(id_col).limit(n_sample).collect()
        ],
        dtype=np.float64,
    )
    books = pq_codebooks(sample, m, ks, train_iters=train_iters)
    encoded = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        pq_encode(F.col(vec_col), books).alias("_codes"),
    )
    q_rows = queries.select(id_col, vec_col).collect()
    lut_df = F.broadcast(
        local_df(corpus.sparkSession, 
            [(r[id_col], pq_lut(list(r[vec_col]), books)) for r in q_rows],
            "query_id long, _lut array<array<double>>",
        )
    )
    scored = (
        # null codes (null/ragged embeddings) can't be scored — drop them
        # here rather than letting asc-ordering rank nulls first
        encoded.filter(F.col("_codes").isNotNull())
        .join(lut_df, F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "approx_dist",
            F.round(adc_score(F.col("_codes"), F.col("_lut")), 6),
        )
        .select("query_id", "neighbor_id", "approx_dist")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("approx_dist"), F.asc("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _pq_probe_rows(
    q_rows, cent_rows, books, nprobe: int, id_col: str, vec_col: str
) -> list:
    """(query_id, cell_id, LUT) probe rows, one per probed cell. Probes
    with the SAME metric and tie rule the corpus was assigned with
    (ivf_assign: cosine rounded to 6, ties to the lowest cell) — probing
    by L2 against cosine-assigned cells systematically looks in the
    wrong cells for unnormalized vectors. Shared by the in-memory
    (ivf_pq_topk) and persisted-index (query_ivf_pq_index) paths so
    their probe decisions can never drift apart."""
    import math

    import numpy as np

    from rtdl_spark.functions.pq_np import pq_lut

    def _cos(a, b):
        na, nb = float(np.sqrt(a @ a)), float(np.sqrt(b @ b))
        return float(a @ b) / (na * nb) if na > 0 and nb > 0 else 0.0

    def _round6_half_up(x: float) -> float:
        # F.round / DuckDB ROUND are HALF-UP (away from zero); python
        # round() is half-even and would diverge from the corpus-side
        # ivf_assign (and the SQL oracles) on exact .5 boundaries
        return math.copysign(math.floor(abs(x) * 1e6 + 0.5), x) / 1e6

    probes = []
    for r in q_rows:
        q = np.asarray(r[vec_col], dtype=np.float64)
        by_sim = sorted(
            (
                -_round6_half_up(
                    _cos(np.asarray(c[vec_col], dtype=np.float64), q)
                ),
                c["cell_id"],
            )
            for c in cent_rows
        )
        lut = pq_lut(list(r[vec_col]), books)  # once per query, not per cell
        for _, cell in by_sim[:nprobe]:
            probes.append((r[id_col], cell, lut))
    return probes


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_cells: int = 8,
    nprobe: int = 2,
    m: int = 8,
    ks: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    seed_method: str = "first",
    train_iters: int = 0,
    train_sample: int = 1024,
) -> DataFrame:
    """IVF-PQ: the full FAISS composition — coarse cells bound WHICH rows
    a query scores (candidate set ÷ ~n_cells/nprobe), product-quantized
    codes bound WHAT each scored row costs (m byte-codes + m table
    lookups, no float vector read). At 100 TB the corpus is stored
    cell-partitioned as codes; a query reads nprobe partitions of
    byte-codes — both pruning dimensions compose.

    Same deterministic seeding conventions as ivf_topk/pq_topk; returns
    query_id, neighbor_id, approx_dist, rank, cell_id.
    """
    import numpy as np

    from rtdl_spark.functions.pq_np import (
        adc_score,
        pq_codebooks,
        pq_encode,
        pq_lut,
    )

    n_sample = max(ks, train_sample) if train_iters > 0 else ks
    if seed_method == "first" and n_sample >= n_cells:
        # the "first" centroids are the first n_cells of the SAME
        # id-ordered prefix the codebook sample reads — one TakeOrdered
        # collect (and zero centroid Spark jobs) serves both models,
        # instead of three driver-side jobs fitting identical bytes
        sample_rows = corpus.orderBy(id_col).limit(n_sample).collect()
        cent_rows = [
            {"cell_id": i + 1, vec_col: r[vec_col]}
            for i, r in enumerate(sample_rows[:n_cells])
        ]
        centroids = local_df(corpus.sparkSession, 
            [(c["cell_id"], list(c[vec_col])) for c in cent_rows],
            f"cell_id int, {vec_col} array<double>",
        )
    else:
        centroids = seed_centroids(
            corpus, n_cells, id_col, vec_col, method=seed_method
        )
        cent_rows = centroids.collect()
        sample_rows = corpus.orderBy(id_col).limit(n_sample).collect()
    # spread ONLY the assign/encode branch: the sample TakeOrdered above
    # stays on the raw scan (r11 — the single-split bench corpus ran the
    # whole scan→pq_encode→join→window stage on one task)
    assigned = ivf_assign(
        _spread_if_narrow(corpus, id_col), centroids, id_col, vec_col
    )
    sample = np.asarray(
        [list(r[vec_col]) for r in sample_rows], dtype=np.float64
    )
    books = pq_codebooks(sample, m, ks, train_iters=train_iters)
    encoded = assigned.select(
        F.col(id_col).alias("neighbor_id"),
        "cell_id",
        pq_encode(F.col(vec_col), books).alias("_codes"),
    )

    q_rows = queries.select(id_col, vec_col).collect()
    probes = _pq_probe_rows(q_rows, cent_rows, books, nprobe, id_col, vec_col)
    probe_df = F.broadcast(
        local_df(corpus.sparkSession, 
            probes, "query_id long, cell_id int, _lut array<array<double>>"
        )
    )
    scored = (
        encoded.filter(F.col("_codes").isNotNull())
        .join(probe_df, "cell_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "approx_dist",
            F.round(adc_score(F.col("_codes"), F.col("_lut")), 6),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("approx_dist"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "approx_dist", "rank", "cell_id")
    )


def _block_pair_tags(
    df: DataFrame, id_col: str, vec_col: str, n_blocks: int
) -> DataFrame:
    """One-scan block-pair replication for the tiled GEMM kernels
    (allpairs_cosine_blocked / knn_graph): a row in block b participates
    as the L side of pairs (b, j≥b) and the R side of pairs (i<b, b) —
    exactly n_blocks tagged copies per row, emitted by ONE explode over
    the scan (r11; guide §2.4). The r9 shape built the same multiset
    with two broadcast joins against a block-pair table, which read the
    source TWICE and put two joins + a union in the plan; at scale that
    is a whole second corpus scan for no information the row's own block
    id doesn't already carry."""
    b = int(n_blocks)
    src = df.select(
        F.col(id_col).cast("long").alias("_id"),
        to_double(F.col(vec_col)).alias("_v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(b))
        .cast("int")
        .alias("_b"),
    )
    tags = F.expr(
        f"transform(sequence(0, {b - 1}), j -> CASE WHEN j >= _b "
        "THEN named_struct('bi', _b, 'bj', CAST(j AS INT), '_side', 'L') "
        "ELSE named_struct('bi', CAST(j AS INT), 'bj', _b, '_side', 'R') "
        "END)"
    )
    return src.select(F.explode(tags).alias("_t"), "_id", "_v").select(
        F.col("_t.bi").alias("bi"),
        F.col("_t.bj").alias("bj"),
        F.col("_t._side").alias("_side"),
        "_id",
        "_v",
    )


def allpairs_cosine_blocked(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.3,
    n_blocks: int = 8,
) -> DataFrame:
    """EXACT all-pairs cosine similarity join: every unordered pair with
    cosine >= threshold, via block-pair GEMM — the dense-embedding
    similarity join (inverted-index prefix filtering is useless on dense
    vectors: every pair shares every dimension).

    Scale design (the classic sharded-GEMM decomposition):
    - rows are hashed into B blocks; the B·(B+1)/2 block PAIRS are the unit
      of work, so the quadratic cost is tiled into independent tasks;
    - each row is replicated ~B times (shuffle volume N·B rows — choose
      B ≈ sqrt(tasks wanted); never N² pairs on the wire);
    - within a block pair the scoring is ONE vectorized float64 GEMM in an
      Arrow-batched applyInPandas (numpy dgemm, not 64·|pairs| expression
      evals), emitting only surviving pairs — output, not candidates, hits
      the shuffle;
    - norms are computed once per row before replication; pairs are
      deduped structurally (id_a < id_b; diagonal blocks score L×L once).

    Returns: id_a, id_b, sim (rounded to 6).
    """
    import pandas as pd

    tagged = _block_pair_tags(df, id_col, vec_col, n_blocks)

    thr = float(threshold)

    def score(key, pdf):
        import numpy as np

        empty = pd.DataFrame(
            {
                "id_a": pd.Series(dtype="int64"),
                "id_b": pd.Series(dtype="int64"),
                "sim": pd.Series(dtype="float64"),
            }
        )
        lmask = pdf["_side"].to_numpy() == "L"
        if not lmask.any():
            return empty
        lids = pdf["_id"].to_numpy()[lmask]
        lmat = np.stack(pdf["_v"].to_numpy()[lmask])
        diagonal = key[0] == key[1]
        if diagonal:
            rids, rmat = lids, lmat
        else:
            rmask = ~lmask
            if not rmask.any():
                return empty
            rids = pdf["_id"].to_numpy()[rmask]
            rmat = np.stack(pdf["_v"].to_numpy()[rmask])
        ln = np.linalg.norm(lmat, axis=1)
        rn = np.linalg.norm(rmat, axis=1)
        # Chunk the GEMM over L-rows: a full |L|x|R| float64 sims matrix is
        # 450 MB at 7500x7500 and there are ~cores of these tasks at once —
        # bounding the live block at CHUNK x |R| keeps per-task memory flat
        # regardless of block size. Identical values (same dgemm, same
        # divisions), just streamed.
        chunk = max(1, 8_000_000 // max(len(rids), 1))
        outs = []
        with np.errstate(divide="ignore", invalid="ignore"):
            for s0 in range(0, len(lids), chunk):
                s1 = min(s0 + chunk, len(lids))
                denom = np.outer(ln[s0:s1], rn)
                sims = np.where(
                    denom > 0, (lmat[s0:s1] @ rmat.T) / denom, 0.0
                )
                ii, jj = np.nonzero(sims >= thr)
                if diagonal:
                    keep = lids[s0 + ii] < rids[jj]
                    ii, jj = ii[keep], jj[keep]
                if len(ii):
                    outs.append(
                        (lids[s0 + ii], rids[jj], sims[ii, jj])
                    )
        if not outs:
            return empty
        ida = np.concatenate([o[0] for o in outs])
        idb = np.concatenate([o[1] for o in outs])
        vals = np.concatenate([o[2] for o in outs])
        lo, hi = np.minimum(ida, idb), np.maximum(ida, idb)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "sim": vals})

    # Raw sims cross the Arrow boundary; rounding happens JVM-side so the
    # half-up convention matches DuckDB ROUND (numpy rounds half-even).
    return (
        tagged.groupBy("bi", "bj")
        .applyInPandas(score, "id_a long, id_b long, sim double")
        .withColumn("sim", F.round("sim", 6))
    )


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    candidates: int = 50,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking: diversity-aware top-k.
    Plain top-k returns near-duplicates of the best hit; MMR selects
    iteratively by  lam·sim(q,d) − (1−lam)·max_{s∈S} sim(d,s), so each
    pick is relevant AND far from what's already picked — retrieval-
    augmented sampling / eval-set construction both want this.

    Scale shape: the DISTRIBUTED stage is candidate generation (exact
    brute-force here; swap in ivf_pq/rp_lsh for big corpora — same
    contract). The iterative selection is inherently sequential but runs
    on the CANDIDATE set only: an N×N sim matrix with N=``candidates``
    per query (tiny, driver-side), never on the corpus. Ties break by
    lowest id; fully deterministic AND cross-engine replayable: both the
    relevance (round-6, from cosine_topk) and the candidate-candidate
    sims (left-fold dot products, floor-fixed at 6) use the exact
    arithmetic a SQL engine reproduces, so the greedy argmax is a pure
    function of decimal-quantized inputs — score gaps are either 0 or
    ≥ ~1e-7, far above any float drift (the sim_mmr_rerank oracle
    unrolls the k selection rounds as chained CTEs on this basis).

    Returns: query_id, neighbor_id, relevance (rounded 6), mmr_rank.
    """
    import math

    import numpy as np

    topc = cosine_topk(corpus, queries, id_col, vec_col, k=candidates)
    cand_rows = topc.collect()
    vec_ids = {r.neighbor_id for r in cand_rows} | {
        r.query_id for r in cand_rows
    }
    vecs = {
        r[0]: np.asarray(r[1], dtype=np.float64)
        for r in corpus.select(id_col, vec_col)
        .filter(F.col(id_col).isin([int(v) for v in vec_ids]))
        .collect()
    }

    def _fold_dot(a, b) -> float:
        # sequential left fold — the same association order as the SQL
        # list_reduce / F.aggregate replays, so the doubles are identical
        s = 0.0
        for x, y in zip(a, b):
            s += float(x) * float(y)
        return s

    by_query: dict[int, list] = {}
    for r in cand_rows:
        by_query.setdefault(r.query_id, []).append(r)

    out = []
    for qid, rows in sorted(by_query.items()):
        ids = [r.neighbor_id for r in rows]
        rel = {r.neighbor_id: r.cosine_sim for r in rows}
        # zero-norm guard (same convention as allpairs/knn_graph: sim=0) —
        # a 0 denominator would produce NaN rows whose comparisons are
        # all False, silently corrupting the argmax below
        norms = [math.sqrt(_fold_dot(vecs[i], vecs[i])) for i in ids]
        n_cand = len(ids)
        sims = np.zeros((n_cand, n_cand))
        for ai in range(n_cand):
            for bi in range(ai + 1, n_cand):
                d = norms[ai] * norms[bi]
                if d > 0:
                    # floor-fixed-point 6: both engines floor the same
                    # IEEE double — no rounding-mode ambiguity
                    v = math.floor(
                        _fold_dot(vecs[ids[ai]], vecs[ids[bi]]) / d * 1e6
                    ) / 1e6
                    sims[ai, bi] = sims[bi, ai] = v
        idx = {i: j for j, i in enumerate(ids)}
        selected: list[int] = []
        remaining = set(ids)
        while remaining and len(selected) < k:
            best, best_score = None, None
            for i in sorted(remaining):
                penalty = (
                    max(sims[idx[i], idx[s]] for s in selected)
                    if selected
                    else 0.0
                )
                rv = rel[i]
                if rv is None:  # zero-norm candidate: cosine_sim is NULL
                    continue
                score = lam * rv - (1 - lam) * penalty
                if not np.isfinite(score):
                    continue  # never select a NaN-scored candidate
                if best_score is None or score > best_score + 1e-12:
                    best, best_score = i, score
            if best is None:
                break
            selected.append(best)
            remaining.discard(best)
        for rank, i in enumerate(selected, 1):
            out.append((qid, i, float(rel[i]), rank))

    return local_df(corpus.sparkSession, 
        out, "query_id long, neighbor_id long, relevance double, "
        "mmr_rank int"
    )


def knn_graph(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_blocks: int = 8,
) -> DataFrame:
    """EXACT k-nearest-neighbor graph: every row's top-k cosine neighbors
    over the whole corpus — the input structure for SemDeDup-style
    clustering, kNN-graph community detection, and diversity analysis.
    cosine_topk answers 'top-k for a FEW queries'; this answers it for
    EVERY row without ever broadcasting the corpus.

    Decomposition (same tiling as allpairs_cosine_blocked): rows hash
    into B blocks; within each of the B(B+1)/2 block pairs one chunked
    float64 GEMM scores L×R and BOTH sides keep their local top-k
    (numpy argpartition — O(n) per row, not a sort). A node's global
    candidates are its ≤ B·k locals; one hash aggregation per node
    merges them to the final top-k. Shuffle volume: N·B rows in, N·B·k
    candidate rows out of the GEMM stage — never N² pairs.

    Returns: src, dst, sim (rounded 6), rank (1 = nearest; ties by
    lowest dst id — a TOTAL order: each block keeps its top-k plus every
    candidate within a 1e-6 margin of its kth raw sim, so any candidate
    that could round-6-tie with a keeper survives to the global merge
    and the result is block-count-invariant and matches the brute-force
    (round-6 sim DESC, dst ASC) ranking exactly). Zero-norm vectors
    produce sim 0 edges.
    """
    import pandas as pd

    tagged = _block_pair_tags(df, id_col, vec_col, n_blocks)
    kk = int(k)

    def local_topk(key, pdf):
        import numpy as np

        empty = pd.DataFrame(
            {
                "src": pd.Series(dtype="int64"),
                "dst": pd.Series(dtype="int64"),
                "sim": pd.Series(dtype="float64"),
            }
        )
        lmask = pdf["_side"].to_numpy() == "L"
        if not lmask.any():
            return empty
        lids = pdf["_id"].to_numpy()[lmask]
        lmat = np.stack(pdf["_v"].to_numpy()[lmask])
        diagonal = key[0] == key[1]
        if diagonal:
            rids, rmat = lids, lmat
        else:
            rmask = ~lmask
            if not rmask.any():
                return empty
            rids = pdf["_id"].to_numpy()[rmask]
            rmat = np.stack(pdf["_v"].to_numpy()[rmask])
        ln = np.linalg.norm(lmat, axis=1)
        rn = np.linalg.norm(rmat, axis=1)

        frames = []

        def emit(qids, qmat, qn, cids, cmat, cn, exclude_self):
            chunk = max(1, 8_000_000 // max(len(cids), 1))
            with np.errstate(divide="ignore", invalid="ignore"):
                for s0 in range(0, len(qids), chunk):
                    s1 = min(s0 + chunk, len(qids))
                    denom = np.outer(qn[s0:s1], cn)
                    sims = np.where(
                        denom > 0, (qmat[s0:s1] @ cmat.T) / denom, 0.0
                    )
                    if exclude_self:
                        eq = qids[s0:s1, None] == cids[None, :]
                        sims = np.where(eq, -np.inf, sims)
                    kc = min(kk, sims.shape[1])
                    # Deterministic BOUNDED local selection. Stage 1: the
                    # 1e-6 margin around the row's kth-largest RAW sim is
                    # a cheap superset of every candidate that can tie the
                    # kth keeper at 6 digits (anything below it provably
                    # rounds strictly lower).  Stage 2 (the r4-advice
                    # fix): within that pool take EXACTLY the top-k under
                    # the global merge's own total order (round-6 sim
                    # DESC, dst ASC) — a candidate in the global top-k is
                    # in the top-k of every subset containing it under
                    # the same order, so block-count invariance is
                    # preserved while tie-heavy inputs (all-equal or
                    # zero-norm sims, where kth-1e-6 keeps the WHOLE
                    # block) now emit at most k rows per query instead of
                    # the full quadratic blow-up.
                    kth = -np.partition(-sims, kc - 1, axis=1)[:, kc - 1]
                    mask = sims >= (kth[:, None] - 1e-6)
                    qi, ci = np.nonzero(mask)
                    rows = qids[s0:s1][qi]
                    cols = cids[ci]
                    vals = sims[qi, ci]
                    keep = np.isfinite(vals)
                    rows, cols, vals = rows[keep], cols[keep], vals[keep]
                    if len(rows):
                        # rows is already group-sorted (np.nonzero is
                        # row-major); every row keeps >= kc pool entries,
                        # so the selection is a no-op unless some row
                        # kept extras — skip the sort on the common path
                        starts = np.flatnonzero(
                            np.r_[True, rows[1:] != rows[:-1]]
                        )
                        counts = np.diff(np.r_[starts, len(rows)])
                        if counts.max() > kc:
                            r6 = np.round(vals, 6)
                            order = np.lexsort((cols, -r6, rows))
                            rs = rows[order]
                            new = np.r_[True, rs[1:] != rs[:-1]]
                            grp_start = np.maximum.accumulate(
                                np.where(new, np.arange(len(rs)), 0)
                            )
                            rank = np.arange(len(rs)) - grp_start
                            sel = order[rank < kc]
                            rows, cols, vals = (
                                rows[sel], cols[sel], vals[sel]
                            )
                    frames.append(
                        pd.DataFrame(
                            {"src": rows, "dst": cols, "sim": vals}
                        )
                    )

        emit(lids, lmat, ln, rids, rmat, rn, exclude_self=diagonal)
        if not diagonal:
            emit(rids, rmat, rn, lids, lmat, ln, exclude_self=False)
        if not frames:
            return empty
        return pd.concat(frames, ignore_index=True)

    cand = (
        tagged.groupBy("bi", "bj")
        .applyInPandas(local_topk, "src long, dst long, sim double")
        .withColumn("sim", F.round("sim", 6))
    )
    w = Window.partitionBy("src").orderBy(F.desc("sim"), F.asc("dst"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= kk)
    )


def knn_graph_ivf(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_cells: int = 8,
    nprobe: int = 2,
    seed_method: str = "first",
) -> DataFrame:
    """APPROXIMATE k-nearest-neighbor graph via IVF candidate pruning —
    the scale path past exact ``knn_graph`` for CLUSTERED corpora.

    knn_graph's exact tiling scores N²/2 pairs no matter what; on a
    corpus with real cluster structure almost all of those pairs are
    wasted work. Here every node probes its ``nprobe`` nearest coarse
    cells (same seeding/assignment/probe rules as ivf_topk: round-6
    cosine argmax, ties to the lowest cell) and scores ONLY members of
    those cells — pair work drops from N²/2 to ~N²·nprobe/n_cells, and
    with n_cells ~ √N the graph build is ~N^1.5. Recall is exact within
    the probed candidate set (everything after candidate generation is
    exact and totally ordered); edges to neighbors living outside every
    probed cell are missed — the standard IVF trade, near-zero misses
    when clusters are real (tests plant one and verify), honest misses
    on uniform noise.

    Plan shape — every quadratic-adjacent stage is a numpy GEMM, never
    per-pair expressions (the first cut scored candidates with the
    Catalyst cosine aggregate and lost to exact knn_graph's dgemm tiling
    2.4× at 40k vectors — measured, see SCALE.md; expression work per
    pair is the whole difference):
    - assignment+probing is ONE Arrow-batched pass (batch × centroids
      GEMM against the broadcast centroid matrix; round-6 half-up,
      stable argsort → ties to the lowest cell — same decisions as
      ivf_assign/ivf_topk, so the SQL oracle still replays them);
    - each node then ships to its nprobe probed cells and each member to
      its ONE home cell (shuffle N·nprobe + N rows, never pairs), and a
      cogrouped applyInPandas runs one chunked float64 GEMM per cell,
      keeping each src's local top-k plus knn_graph's 1e-6 margin (so
      round-6 ties always survive to the merge);
    - one global (round-6 sim DESC, dst ASC) window merges the ≤
      nprobe·k locals per node — a total order, SQL-replayable.

    Returns: src, dst, sim (rounded 6), rank — exact top-k within the
    probed candidate set, rank <= k.
    """
    import numpy as np
    import pandas as pd

    centroids = seed_centroids(df, n_cells, id_col, vec_col, method=seed_method)
    cent_rows = sorted(centroids.collect(), key=lambda r: r["cell_id"])
    cell_ids = np.array([int(r["cell_id"]) for r in cent_rows])
    C = np.asarray([list(r[vec_col]) for r in cent_rows], dtype=np.float64)
    cn = np.linalg.norm(C, axis=1)
    dim = C.shape[1]
    npb = int(nprobe)

    def assign(batches):
        # per batch: one GEMM vs the centroid matrix; emits home cell +
        # probe cells per node. Rounding is half-up on the binary double
        # (DuckDB ROUND semantics; F.round differs only on decimal-repr
        # corner cases — the accepted round-6 risk class), ties to the
        # lowest cell via stable argsort over the cell-ordered matrix.
        for pdf in batches:
            ok = pdf["_v"].map(
                lambda v: v is not None and len(v) == dim
            ).to_numpy()
            pdf = pdf[ok]
            if not len(pdf):
                continue
            V = np.stack(pdf["_v"].to_numpy())
            vn = np.linalg.norm(V, axis=1)
            denom = np.outer(vn, cn)
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = np.where(denom > 0, (V @ C.T) / denom, 0.0)
            sims6 = np.copysign(
                np.floor(np.abs(sims) * 1e6 + 0.5), sims
            ) / 1e6
            order = np.argsort(-sims6, axis=1, kind="stable")
            yield pd.DataFrame(
                {
                    "_id": pdf["_id"].to_numpy(),
                    "_v": pdf["_v"].to_numpy(),
                    "home": cell_ids[order[:, 0]],
                    "probes": list(cell_ids[order[:, :npb]]),
                }
            )

    # NOT spread when narrow (r11, measured): `assigned` is consumed by
    # BOTH cogroup sides, so a guard repartition here runs TWICE (two
    # 32-task Arrow stages whose per-task overhead tripled the bench
    # wall, 0.67→1.60 s); the serial assign is 0.175 s/branch and the
    # real work lives in the cogrouped GEMM below, which parallelizes by
    # cell regardless of scan splits.
    assigned = df.select(
        F.col(id_col).alias("_id"), to_double(F.col(vec_col)).alias("_v")
    ).mapInPandas(
        assign, "_id long, _v array<double>, home int, probes array<int>"
    )
    probers = assigned.select(
        "_id", "_v", F.explode("probes").alias("cell_id")
    )
    # member columns renamed: both cogroup sides share the `assigned`
    # lineage, and identically-named (same-attribute) columns on the
    # right side get pruned away to just the grouping key — the worker
    # then sees a member frame with only cell_id (observed on 4.1.2)
    members = assigned.select(
        F.col("_id").alias("_mid"),
        F.col("_v").alias("_mv"),
        F.col("home").alias("cell_id"),
    )
    kk = int(k)

    def score_cell(key, probe_pdf: pd.DataFrame, member_pdf: pd.DataFrame):
        empty = pd.DataFrame(
            {
                "src": pd.Series(dtype="int64"),
                "dst": pd.Series(dtype="int64"),
                "sim": pd.Series(dtype="float64"),
            }
        )
        if not len(probe_pdf) or not len(member_pdf):
            return empty
        qids = probe_pdf["_id"].to_numpy()
        qmat = np.stack(probe_pdf["_v"].to_numpy())
        cids = member_pdf["_mid"].to_numpy()
        cmat = np.stack(member_pdf["_mv"].to_numpy())
        qn = np.linalg.norm(qmat, axis=1)
        mn = np.linalg.norm(cmat, axis=1)
        frames = []
        chunk = max(1, 8_000_000 // max(len(cids), 1))
        with np.errstate(divide="ignore", invalid="ignore"):
            for s0 in range(0, len(qids), chunk):
                s1 = min(s0 + chunk, len(qids))
                denom = np.outer(qn[s0:s1], mn)
                sims = np.where(
                    denom > 0, (qmat[s0:s1] @ cmat.T) / denom, 0.0
                )
                eq = qids[s0:s1, None] == cids[None, :]
                sims = np.where(eq, -np.inf, sims)
                kc = min(kk, sims.shape[1])
                # knn_graph's two-stage bounded selection: margin pool
                # (everything below kth-1e-6 provably rounds below the
                # kth keeper at 6 digits), then exact top-k within the
                # pool under the global merge's order (round-6 DESC, dst
                # ASC) so tie-heavy cells emit <= k rows per query
                kth = -np.partition(-sims, kc - 1, axis=1)[:, kc - 1]
                mask = sims >= (kth[:, None] - 1e-6)
                qi, ci = np.nonzero(mask)
                rows = qids[s0:s1][qi]
                cols = cids[ci]
                vals = sims[qi, ci]
                keep = np.isfinite(vals)
                rows, cols, vals = rows[keep], cols[keep], vals[keep]
                if len(rows):
                    # no-ties fast path, same as knn_graph's kernel
                    starts = np.flatnonzero(
                        np.r_[True, rows[1:] != rows[:-1]]
                    )
                    counts = np.diff(np.r_[starts, len(rows)])
                    if counts.max() > kc:
                        r6 = np.round(vals, 6)
                        order = np.lexsort((cols, -r6, rows))
                        rs = rows[order]
                        new = np.r_[True, rs[1:] != rs[:-1]]
                        grp_start = np.maximum.accumulate(
                            np.where(new, np.arange(len(rs)), 0)
                        )
                        rank = np.arange(len(rs)) - grp_start
                        sel = order[rank < kc]
                        rows, cols, vals = rows[sel], cols[sel], vals[sel]
                frames.append(
                    pd.DataFrame({"src": rows, "dst": cols, "sim": vals})
                )
        return pd.concat(frames, ignore_index=True) if frames else empty

    cand = (
        probers.groupBy("cell_id")
        .cogroup(members.groupBy("cell_id"))
        .applyInPandas(score_cell, "src long, dst long, sim double")
        .withColumn("sim", F.round("sim", 6))
    )
    w = Window.partitionBy("src").orderBy(F.desc("sim"), F.asc("dst"))
    return cand.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= kk
    )
