"""Similarity search over embedding columns (`array<float>`).

North-star extension.  Two paths:

- brute-force cosine top-k: exact baseline.  The query set is broadcast and
  the corpus streams — at 100 TB the corpus side never shuffles; cost is
  O(|corpus| × |queries|) map-side work + a per-query top-k (WindowGroupLimit
  prunes to k rows per query before any sort).
- LSH-bucketed ANN (random-hyperplane signs): corpus hashed to buckets
  map-side; queries probe only their bucket → candidates ≪ corpus.  The
  hyperplanes are pseudo-random but fully deterministic (seeded from md5), so
  results are reproducible across runs/partitionings.

All arithmetic in double precision with index-ordered sequential folds so the
DuckDB oracle (same fold order) produces bit-identical sums; the Arrow batch
kernels (`_vector_kernels`) screen with BLAS and decide with the same folds.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from auron_spark.functions.pytask import python_task
from auron_spark.registry import query
from auron_spark.tables import Tables, min_parallel

TOP_K = 5
QUERY_MOD = 25  # vec_id % QUERY_MOD == 0 -> query vector
# Hard cap on the brute-force query set: vec_id % QUERY_MOD selects a fixed
# FRACTION of the corpus, so the broadcast side would grow linearly with
# scale — at 100 TB that is both an O(n^2) compute cliff and an unbounded
# broadcast.  The cap keeps the baseline exactly what it claims to be: a
# constant-size exact-answer anchor for recall measurement.
QUERY_BUDGET = 1000  # max query vectors, regardless of corpus size
# vec_id-prefix cap shared by every ANN query side (brute force, LSH probe,
# IVF probe, int8 re-rank, PQ-ADC LUT): selects at most QUERY_BUDGET vectors.
QUERY_CAP = QUERY_MOD * QUERY_BUDGET
# Fixture embedding dimensionality (the SQL oracles hardcode range(1, 65)).
EMB_DIM = 64


def dot(a: Column, b: Column) -> Column:
    """Index-ordered sequential dot product in double precision."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


_SQL_DOT = (
    "list_sum(list_transform(range(1, 65), i -> "
    "CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))"
)
_SQL_NORM_Q = (
    "sqrt(list_sum(list_transform(range(1, 65), i -> "
    "CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))))"
)
_SQL_NORM_C = (
    "sqrt(list_sum(list_transform(range(1, 65), i -> "
    "CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))))"
)


#: Fixed screen margin of the exact kernels (see `_vector_kernels`).
KNN_SCREEN_MARGIN = 1e-9
#: Block width of the k-NN screen's lower bound (see `_vector_kernels`).
KNN_SCREEN_BLOCK = 64
#: Unit roundoff of IEEE double precision.
UNIT_ROUNDOFF = 2.0**-53


def _vector_kernels():
    """The exact Arrow batch kernels of the vector family, built as
    closures so cloudpickle ships them to the Python workers BY VALUE
    (the workers never import this package) — and so they are testable
    without Spark.  Every kernel follows one device: a BLAS screen finds
    the few candidates that can win, and only those are recomputed in
    the index-ordered fold arithmetic the DuckDB oracles use, so every
    decision is the oracle's, bit for bit.

    ``fold_dot(a, b)`` / ``fold_sqdist(a, b)``: per row, the products
    ``a*b`` (or squared differences ``(a-b)*(a-b)``) accumulate strictly
    left to right from 0.0 — vectorized ACROSS rows, bit-identical to
    ``F.aggregate(zip_with(...), 0.0, acc+x)`` (`dot`, `_sqdist`,
    `_sub_l2`) and to the oracles' ``list_sum``.

    ``screen(qhat, qids, chat, nids, k)`` (k-NN) returns the ``(query,
    row)`` index pairs that survive one batch's top-k screen: every
    non-self pair whose BLAS cosine is within ``KNN_SCREEN_MARGIN`` of its
    query's k-th largest in the batch.  ``qhat`` are the unit-norm
    queries, sorted by their ids ``qids``; ``chat`` the batch's unit-norm
    rows with ids ``nids``.  The screen matrix ``qhat @ chat.T`` is
    (queries x batch), so every per-query reduction runs along a
    contiguous row.  Self matches are found with ``searchsorted`` on the
    sorted ids instead of an (n x q) equality matrix.  The k-th largest is
    not selected over the whole row: each query's k-th largest block
    maximum (blocks of ``KNN_SCREEN_BLOCK`` columns) is a lower bound on
    it — k distinct blocks hold k distinct elements at or above that
    value — so only the few candidates at or above ``bound - margin`` are
    sorted, and the survivors (at or above ``kth - margin >= bound -
    margin``) are all among them.  With fewer than k whole blocks the
    bound is the exact k-th largest (``np.partition`` along the row).

    ``argmin(x, c)`` returns, per row of ``x`` (n x d), the index of its
    nearest row of ``c`` (m x d, rows sorted by id) under the FOLD squared
    distance, ties to the smallest index — the oracles' ``ROW_NUMBER()
    OVER (ORDER BY dist, id)`` and the folds' ``array_min(struct(d,
    id))``.  The screen is the BLAS expansion ``s = |x|^2 - 2 x.c +
    |c|^2``.  Its error against the fold value ``f`` scales with ``S =
    |x|^2 + |c|^2``, not with the distance, so no fixed margin covers
    every corpus.  With unit roundoff u and ``g(n) = n u / (1 - n u)``:
    each d-term sum (the two squared norms, the BLAS dot in any order)
    errs by at most ``g(d)`` times its absolute terms, the dot's terms
    bounded by ``|x||c| <= S/2``; the two additions of the expansion add
    at most ``5 u S``; so ``|s - |x-c|^2| <= (2 g(d) + 6 u) S``.  The fold
    sums d nonnegative terms each rounded three times (difference,
    square, add), so ``|f - |x-c|^2| <= g(d + 2) |x-c|^2 <= 2 g(d + 2)
    S``.  Hence ``|s - f| <= E(S) = (4 d + 10) u S`` to first order.  If
    j0 is the screen minimum and j* a fold minimum of row i, then ``s_ij*
    <= f_ij* + E <= f_ij0 + E <= s_ij0 + 2 E``: every fold minimum lies
    within ``2 E`` of the screen minimum, with E taken at the row's
    ``|x|^2`` and the largest ``|c|^2``.  The kernel keeps every
    candidate within twice that (a factor of two for the computed norms
    and the first-order bound) plus ``KNN_SCREEN_MARGIN``; a row with one
    candidate is decided, and the rest recompute their candidates with
    ``fold_sqdist`` and take the smallest (distance, index).

    ``over_threshold(x, nrm, thr)`` returns the index pairs ``(i, j)``,
    ``i < j``, whose FOLD cosine ``fold_dot(x_i, x_j) / (nrm_i nrm_j)`` is
    at least ``thr``; ``nrm`` are the fold norms ``sqrt(fold_dot(x,
    x))``.  The screen is one gram matrix over the same norms, so it and
    the fold differ only in how the d products of the dot are summed:
    by at most ``2 g(d) |x_i| |x_j|`` plus one rounding of the quotient,
    about 3e-14 in cosine units at d = 64.  A cosine is bounded by 1, so
    here the fixed ``KNN_SCREEN_MARGIN`` does cover every corpus: only
    the pairs within it of ``thr`` are recomputed in fold order."""
    import numpy as np

    def fold_dot(a, b):
        prod = a * b
        acc = np.zeros(len(prod), dtype=np.float64)
        for d in range(prod.shape[1]):
            acc = acc + prod[:, d]
        return acc

    def fold_sqdist(a, b):
        diff = a - b
        return fold_dot(diff, diff)

    def screen(qhat, qids, chat, nids, k):
        sim = qhat @ chat.T
        nq, nb = sim.shape
        pos = np.minimum(np.searchsorted(qids, nids), nq - 1)
        hit = qids[pos] == nids
        sim[pos[hit], hit] = -np.inf
        nblk = nb // KNN_SCREEN_BLOCK
        if nblk >= k:
            bmax = (
                sim[:, : nblk * KNN_SCREEN_BLOCK]
                .reshape(nq, nblk, KNN_SCREEN_BLOCK)
                .max(axis=2)
            )
            bound = np.partition(bmax, nblk - k, axis=1)[:, nblk - k]
        else:
            bound = np.partition(sim, nb - k, axis=1)[:, nb - k]
        qi, cj = np.nonzero(sim >= (bound - KNN_SCREEN_MARGIN)[:, None])
        val = sim[qi, cj]
        # Candidates arrive grouped by query (row-major); sort each group
        # descending and read its k-th value.
        order = np.lexsort((-val, qi))
        start = np.searchsorted(qi, np.arange(nq))
        kth = val[order[start + k - 1]]
        keep = (val >= kth[qi] - KNN_SCREEN_MARGIN) & ~np.isneginf(val)
        return qi[keep], cj[keep]

    def argmin(x, c):
        xx = (x * x).sum(1)
        cc = (c * c).sum(1)
        dist = xx[:, None] - 2.0 * (x @ c.T) + cc[None, :]
        best = dist.argmin(1)
        err = (4 * x.shape[1] + 10) * UNIT_ROUNDOFF * (xx + cc.max())
        tol = KNN_SCREEN_MARGIN + 4.0 * err
        near = dist <= (dist[np.arange(len(x)), best] + tol)[:, None]
        rows = np.flatnonzero(near.sum(1) > 1)
        if len(rows):
            ri, cj = np.nonzero(near[rows])
            ri = rows[ri]
            exact = fold_sqdist(x[ri], c[cj])
            # Grouped by row; within a row ascending (distance, index).
            order = np.lexsort((cj, exact, ri))
            ri, cj = ri[order], cj[order]
            first = np.r_[True, ri[1:] != ri[:-1]]
            best[ri[first]] = cj[first]
        return best

    def over_threshold(x, nrm, thr):
        iu, ju = np.triu_indices(len(x), k=1)
        cos = ((x @ x.T) / np.outer(nrm, nrm))[iu, ju]
        hit = cos >= thr
        near = np.abs(cos - thr) <= KNN_SCREEN_MARGIN
        ni, nj = iu[near], ju[near]
        hit[near] = fold_dot(x[ni], x[nj]) / (nrm[ni] * nrm[nj]) >= thr
        return iu[hit], ju[hit]

    from types import SimpleNamespace

    return SimpleNamespace(
        fold_dot=fold_dot,
        fold_sqdist=fold_sqdist,
        screen=screen,
        argmin=argmin,
        over_threshold=over_threshold,
    )


@query(
    "sim_knn_bruteforce_arrow",
    oracle=f"""
    SELECT query_id, neighbor_id, cos_sim FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROUND({_SQL_DOT} / ({_SQL_NORM_Q} * {_SQL_NORM_C}), 6) AS cos_sim,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY {_SQL_DOT} / ({_SQL_NORM_Q} * {_SQL_NORM_C}) DESC,
                            c.vec_id) AS rn
        FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        WHERE q.vec_id % {QUERY_MOD} = 0
          AND q.vec_id < {QUERY_CAP}
    ) WHERE rn <= {TOP_K}
    ORDER BY query_id, neighbor_id
    """,
    tags=("pipeline", "similarity", "knn", "arrow", "kernel"),
    bench=True,
)
def sim_knn_bruteforce_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k with an Arrow-vectorized distance kernel: the
    query set (capped at QUERY_BUDGET vectors by a vec_id prefix, so it
    stays constant-size as the corpus grows) broadcasts, the corpus
    streams through `mapInPandas` in Arrow batches, and each batch screens
    ALL query cosines with ONE BLAS matmul ((n_queries x 64) @ (64 x
    batch)), keeps its per-query top-k candidates, and the per-batch
    partials reduce through a WindowGroupLimit top-k — one corpus scan,
    no shuffle before the k*|queries|-row rank stage.  On the benchmark's
    `vector` workload (32,768 vectors, 1,000 queries, single-threaded BLAS
    on a 4-core x86 host) the Arrow batches follow the scan partitions,
    split at spark.sql.execution.arrow.maxRecordsPerBatch (10,000): at
    layout seed 1 they hold 10,000 + 7,218, 8,956, 5,341 and 1,253 rows,
    and the batch kernel alone takes 0.73-0.89 CPU-seconds for all of
    them (0.61-0.68 for four 8,192-row batches).  Each task enters through
    `python_task`, which prunes the worker's cached zipimporters; before
    it, PySpark's per-task import-cache invalidation re-read pyspark.zip
    and the Spark jar for ~0.2 CPU-seconds per task.

    Per-pair interpreted `F.aggregate` folds are the SQL alternative; a
    flat 64-term codegen expression was also measured and is 6x SLOWER
    than the fold (128 `element_at` calls pay per-element bounds checks
    and the expression bails out of whole-stage codegen), so Arrow + BLAS
    is the scale path, not more SQL.

    Scale shape: the query matrix is QUERY_BUDGET-capped (driver holds at
    most 1000 x 64 doubles — model-state-sized, like the k-means codebook
    collect), the corpus is read once (the query side is a filter of the
    same scan) and never materialized, and batch size is Arrow's
    (spark.sql.execution.arrow.maxRecordsPerBatch).

    Exactness: BLAS only SCREENS candidates (`_vector_kernels` `screen`):
    its reduction order depends on the matrix shapes, so the same pair
    can differ in the last ulp between batches of different sizes — enough
    to break exact ties nondeterministically if emitted as the answer.
    Each batch keeps every row within KNN_SCREEN_MARGIN = 1e-9 of its
    query's k-th best screen cosine, then recomputes the survivors'
    cosines in the oracle's exact left-to-right fold order, so every
    EMITTED value is bit-identical to the oracle's and the global window
    applies its (cos desc, neighbor_id asc) rule on identical doubles —
    exact ties (bitwise-duplicate vectors) and near-ties alike resolve
    exactly as the oracle does.  The k-th best screen value is found
    without a full selection: a query's k-th largest 64-column block
    maximum is a lower bound on it (k distinct blocks hold k distinct
    elements at or above that value), so only the entries at or above
    bound - margin are sorted.  Why the margin suffices: the screen
    (dot of unit vectors) and the fold (dot over the product of norms)
    each differ from the true cosine by at most ~64 unit roundoffs of a
    64-term sum plus the norm roundings, well under 1e-13; a row the
    screen drops is > 1e-9 below the k-th screen value, so its fold value
    is below that of k rows of its own batch as long as 1e-9 exceeds
    twice the screen-vs-fold error — which it does by ~4 orders of
    magnitude — and it can never enter the top-k.  Zero-norm vectors fail
    loudly, as the oracle's division does."""
    import numpy as np
    import pandas as pd

    emb = Tables(spark, sf_dir).embeddings
    qrows = (
        emb.filter(
            (F.col("vec_id") % QUERY_MOD == 0) & (F.col("vec_id") < QUERY_CAP)
        )
        .select("vec_id", "embedding")
        .collect()  # QUERY_BUDGET-capped: <= 1000 x 64 doubles of model state
    )
    if not qrows:
        # Empty query set: empty result (norm of a 0-length 1-D array
        # along axis 1 would raise AxisError).
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cos_sim double"
        )
    qrows.sort(key=lambda r: r.vec_id)  # screen() searchsorts the ids
    qids = np.array([r.vec_id for r in qrows], dtype=np.int64)
    qmat = np.array([list(r.embedding) for r in qrows], dtype=np.float64)
    qnorm = np.linalg.norm(qmat, axis=1)
    if not qnorm.all():
        raise ValueError(
            f"zero-norm query embedding(s): vec_id {qids[qnorm == 0][:5]}"
        )
    kern = _vector_kernels()
    fold_dot, screen = kern.fold_dot, kern.screen
    qn_exact = np.sqrt(fold_dot(qmat, qmat))
    bq = spark.sparkContext.broadcast(
        (qids, qmat, qmat / qnorm[:, None], qn_exact)
    )

    def _batches(it):
        b_qids, b_q, b_qhat, b_qn_exact = bq.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            cmat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            cnorm = np.linalg.norm(cmat, axis=1)
            if not cnorm.all():
                # Outside the domain: the cosine divides by the norm — fail
                # loudly, never emit silent NaN.
                bad = pdf["vec_id"].to_numpy()[cnorm == 0]
                raise ValueError(f"zero-norm embedding(s): vec_id {bad[:5]}")
            nids = pdf["vec_id"].to_numpy()
            qi, cj = screen(
                b_qhat, b_qids, cmat / cnorm[:, None], nids, min(TOP_K, len(pdf))
            )
            sel_c = cmat[cj]
            cn_exact = np.sqrt(fold_dot(sel_c, sel_c))
            exact = fold_dot(b_q[qi], sel_c) / (b_qn_exact[qi] * cn_exact)
            yield pd.DataFrame(
                {"query_id": b_qids[qi], "neighbor_id": nids[cj], "cos": exact}
            )

    from pyspark.sql import Window

    part = (
        min_parallel(emb)
        .select("vec_id", "embedding")
        .mapInPandas(
            python_task(_batches), "query_id long, neighbor_id long, cos double"
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        part.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id", F.round("cos", 6).alias("cos_sim"))
        .orderBy("query_id", "neighbor_id")
    )


N_TABLES = 4  # OR-amplification: a true neighbor needs to collide in ANY table
PLANES_PER_TABLE = 4  # AND within a table: 16 buckets per table


def _plane(seed: int) -> list[float]:
    """Deterministic pseudo-random hyperplane (±1 components) from md5 —
    reproducible in any engine, no RNG state."""
    import hashlib

    comps: list[float] = []
    for d in range(64):
        h = hashlib.md5(f"plane{seed}:dim{d}".encode()).hexdigest()
        comps.append(1.0 if int(h[:8], 16) % 2 == 0 else -1.0)
    return comps


def _table_bucket(emb: Column, tbl: int) -> Column:
    """Sign-pattern bucket id within one hash table."""
    bits = []
    for p in range(PLANES_PER_TABLE):
        plane = _plane(tbl * PLANES_PER_TABLE + p)
        prods = F.zip_with(
            emb,
            F.array(*[F.lit(v) for v in plane]),
            lambda x, y: x.cast("double") * y,
        )
        s = F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)
        bits.append(F.when(s >= 0, F.lit(1 << p)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def lsh_table_buckets(emb: Column) -> Column:
    """array of 'table:bucket' keys, one per hash table — explode and
    equi-join on the key; a candidate pair collides in >= 1 table."""
    return F.array(
        *[
            F.concat_ws(":", F.lit(str(t)), _table_bucket(emb, t).cast("string"))
            for t in range(N_TABLES)
        ]
    )


@query(
    "sim_knn_lsh",
    oracle=None,  # approximate ANN: verified against brute force in tests
    tags=("pipeline", "similarity", "lsh", "ann"),
)
def sim_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via multi-table random-hyperplane LSH (4 tables × 4 planes):
    bucket corpus and queries map-side, explode the per-table keys, equi-join
    on 'table:bucket', dedup candidates, exact cosine re-rank.  The scale
    path: the join is an equi-join on a small key — each side shuffles once;
    no cross join ever forms."""
    from pyspark.sql import Window

    t = Tables(spark, sf_dir)
    # r16 (guide §1.2): norms once per VECTOR, hoisted below the bucket
    # explode and candidate join (see sim_knn_srp_lsh) — bit-identical.
    emb = (
        t.parallel("embeddings")
        .withColumn("nrm", norm(F.col("embedding")))
        .withColumn("tb", F.explode(lsh_table_buckets(F.col("embedding"))))
    )
    q = emb.filter(
        (F.col("vec_id") % QUERY_MOD == 0)
        & (F.col("vec_id") < QUERY_MOD * QUERY_BUDGET)  # same cap as brute force
    ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("nq"), "tb",
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("nc"), "tb",
    )
    cand = (
        c.join(F.broadcast(q), "tb")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        (dot(F.col("q_emb"), F.col("c_emb")) / (F.col("nq") * F.col("nc"))).alias(
            "cos"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id", F.round("cos", 6).alias("cos_sim"))
        .orderBy("query_id", "neighbor_id")
    )


NEAR_DUP_COS = 0.3  # synthetic fixtures have no true near-dups; 0.3 hits the tail


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    SELECT a.vec_id AS a, b.vec_id AS b,
           ROUND(list_sum(list_transform(range(1, 65), i ->
                     CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(range(1, 65), i ->
                        CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
                  * sqrt(list_sum(list_transform(range(1, 65), i ->
                        CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))),
                 6) AS cos_sim
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_sum(list_transform(range(1, 65), i ->
              CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
          / (sqrt(list_sum(list_transform(range(1, 65), i ->
                 CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
           * sqrt(list_sum(list_transform(range(1, 65), i ->
                 CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))))
          >= {NEAR_DUP_COS}
    ORDER BY a, b
    """,
    tags=("pipeline", "dedup", "similarity", "cosine"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked on the cluster label so
    no O(n²) cross join ever forms: each side shuffles once on label, pairs
    are generated within blocks only.  At 100 TB the blocking key would come
    from a coarse quantizer (see sim_knn_ivf) — same plan shape.  Norms are
    precomputed per side (O(n) folds, not O(pairs))."""
    t = Tables(spark, sf_dir)
    a = t.parallel("embeddings").select(
        F.col("label"),
        F.col("vec_id").alias("a"),
        F.col("embedding").alias("a_emb"),
        norm(F.col("embedding")).alias("an"),
    )
    b = t.parallel("embeddings").select(
        F.col("label"),
        F.col("vec_id").alias("b"),
        F.col("embedding").alias("b_emb"),
        norm(F.col("embedding")).alias("bn"),
    )
    return (
        a.join(b, "label")
        .filter(F.col("a") < F.col("b"))
        .select(
            "a",
            "b",
            (dot(F.col("a_emb"), F.col("b_emb")) / (F.col("an") * F.col("bn"))).alias(
                "cos"
            ),
        )
        .filter(F.col("cos") >= NEAR_DUP_COS)
        .select("a", "b", F.round("cos", 6).alias("cos_sim"))
        .orderBy("a", "b")
    )


N_PROBE = 2  # IVF probes: search the 2 nearest inverted lists

_SQL_EXACT_CENTROID = """
    comp AS (
        SELECT label, pos,
               CAST(SUM(CAST(ROUND(CAST(v AS DOUBLE), 6) AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*) AS c
        FROM (SELECT label, unnest(embedding) AS v,
                     unnest(range(1, len(embedding) + 1)) AS pos
              FROM embeddings)
        GROUP BY label, pos
    ),
    cvec AS (SELECT label, list(c ORDER BY pos) AS cv FROM comp GROUP BY label)
"""


@query(
    "sim_knn_ivf",
    oracle=f"""
    WITH {_SQL_EXACT_CENTROID},
    q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
          WHERE vec_id % {QUERY_MOD} = 0
            AND vec_id < {QUERY_MOD * QUERY_BUDGET}),
    qd AS (
        SELECT query_id, label,
               list_sum(list_transform(range(1, 65), i ->
                   CAST(q_emb[i] AS DOUBLE) * cv[i]))
               / (sqrt(list_sum(list_transform(range(1, 65), i ->
                      CAST(q_emb[i] AS DOUBLE) * CAST(q_emb[i] AS DOUBLE))))
                * sqrt(list_sum(list_transform(range(1, 65), i ->
                      cv[i] * cv[i])))) AS ccos
        FROM q, cvec
    ),
    probe AS (
        SELECT query_id, label FROM (
            SELECT query_id, label,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY ccos DESC, label) AS rn
            FROM qd) WHERE rn <= {N_PROBE}
    ),
    cand AS (
        SELECT p.query_id, e.vec_id AS neighbor_id, q.q_emb, e.embedding AS c_emb
        FROM probe p
        JOIN embeddings e ON e.label = p.label
        JOIN q ON q.query_id = p.query_id
        WHERE e.vec_id <> p.query_id
    ),
    scored AS (
        SELECT query_id, neighbor_id,
               list_sum(list_transform(range(1, 65), i ->
                   CAST(q_emb[i] AS DOUBLE) * CAST(c_emb[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(range(1, 65), i ->
                      CAST(q_emb[i] AS DOUBLE) * CAST(q_emb[i] AS DOUBLE))))
                * sqrt(list_sum(list_transform(range(1, 65), i ->
                      CAST(c_emb[i] AS DOUBLE) * CAST(c_emb[i] AS DOUBLE)))))
               AS cos
        FROM cand
    )
    SELECT query_id, neighbor_id, cos_sim FROM (
        SELECT query_id, neighbor_id, ROUND(cos, 6) AS cos_sim,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rn
        FROM scored) WHERE rn <= {TOP_K}
    ORDER BY query_id, neighbor_id
    """,
    tags=("pipeline", "similarity", "ivf", "ann"),
    bench=True,
)
def sim_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN search: exact per-cluster centroids (the coarse quantizer —
    label plays the role of the k-means assignment), each query probes its
    N_PROBE nearest centroids, exact cosine re-rank within the probed
    inverted lists only.

    Scale path: centroids are nlist rows → broadcast; query→centroid
    assignment is map-side; the candidate fetch is an equi-join on the
    cluster id, so a corpus partitioned (or sorted/bucketed) by cluster id
    serves it with partition pruning instead of a full scan.  Work per query
    is |corpus| * nprobe / nlist — the IVF contract."""
    from pyspark.sql import Window

    t = Tables(spark, sf_dir)
    # exact centroids: posexplode -> decimal-exact component mean -> reassemble.
    # Scale note: the partial HashAggregate sits ABOVE the Generate in the
    # same stage, so each partition map-side-combines its exploded rows down
    # to nlist x 64 states before the shuffle — the explode itself never hits
    # the wire.  (r5 A/B: a single wide groupBy(label) with 64 per-dim
    # decimal-sum columns was ~2x SLOWER warm at sf0.1 — wide-codegen cost —
    # and shuffles the same partial-state volume, so this shape stands.)
    ex = t.embeddings.select("label", F.posexplode("embedding").alias("dim", "v"))
    comp = ex.groupBy("label", "dim").agg(
        (
            F.sum(F.round(F.col("v").cast("double"), 6).cast("decimal(18,6)")).cast(
                "double"
            )
            / F.count("*")
        ).alias("c")
    )
    cvec = (
        comp.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "c"))).alias("sc"))
        .select("label", F.transform("sc", lambda s: s["c"]).alias("cv"))
        # centroid norm computed once per centroid (nlist rows), not per
        # (query x centroid) pair in the probe cross join below
        .withColumn("cvn", norm(F.col("cv")))
    )
    q = t.embeddings.filter(
        (F.col("vec_id") % QUERY_MOD == 0)
        & (F.col("vec_id") < QUERY_MOD * QUERY_BUDGET)  # bounded probe broadcast
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        norm(F.col("embedding")).alias("qn"),
    )
    # assign each query to its N_PROBE nearest centroids (centroids broadcast)
    qd = q.crossJoin(F.broadcast(cvec)).select(
        "query_id",
        "q_emb",
        "qn",
        "label",
        (dot(F.col("q_emb"), F.col("cv")) / (F.col("qn") * F.col("cvn"))).alias(
            "ccos"
        ),
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("ccos"), "label")
    probe = (
        qd.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= N_PROBE)
        .select("query_id", "q_emb", "qn", "label")
    )
    # fetch candidates from the probed inverted lists only
    c = t.embeddings.select(
        "label",
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        norm(F.col("embedding")).alias("cn"),
    )
    scored = (
        c.join(F.broadcast(probe), "label")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot(F.col("q_emb"), F.col("c_emb")) / (F.col("qn") * F.col("cn"))).alias(
                "cos"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id", F.round("cos", 6).alias("cos_sim"))
        .orderBy("query_id", "neighbor_id")
    )


@query(
    "sim_centroids",
    oracle="""
    SELECT label, pos - 1 AS dim,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(CAST(v AS DOUBLE), 6) AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(*) AS centroid
    FROM (
        SELECT label, unnest(embedding) AS v,
               unnest(range(1, len(embedding) + 1)) AS pos
        FROM embeddings
    )
    WHERE pos <= 8
    GROUP BY label, pos
    ORDER BY label, dim
    """,
    tags=("pipeline", "similarity", "centroid"),
)
def sim_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster centroids (first 8 dims) — the building block of IVF
    indexing: posexplode + groupBy(label, dim).  Component sums go through
    DECIMAL(18,6) of the 6-digit-rounded components for order-insensitive
    exactness."""
    t = Tables(spark, sf_dir)
    ex = t.embeddings.select(
        "label", F.posexplode("embedding").alias("dim", "v")
    ).filter(F.col("dim") < 8)
    return (
        ex.groupBy("label", "dim")
        .agg(
            F.count("*").alias("n"),
            (
                F.sum(F.round(F.col("v").cast("double"), 6).cast("decimal(18,6)")).cast(
                    "double"
                )
                / F.count("*")
            ).alias("centroid"),
        )
        .orderBy("label", "dim")
    )


@query(
    "sim_quantize_int8",
    oracle=f"""
    WITH base AS (
        SELECT vec_id, label, embedding,
               list_max(list_transform(embedding,
                                       x -> abs(CAST(x AS DOUBLE)))) AS ma
        FROM embeddings
    ), q AS (
        SELECT vec_id, label,
               list_transform(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE) / ma * 127.0) AS BIGINT))
                   AS qv
        FROM base WHERE ma > 0
    ), pairs AS (
        SELECT a.vec_id AS vec_id, b.vec_id AS nn_id,
               list_sum(list_transform(range(1, 65),
                                       i -> a.qv[i] * b.qv[i])) AS qdot
        FROM q a JOIN q b ON a.label = b.label AND a.vec_id <> b.vec_id
        WHERE a.vec_id % {QUERY_MOD} = 0 AND a.vec_id < {QUERY_CAP}
    ), ranked AS (
        SELECT vec_id, nn_id, qdot,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY qdot DESC, nn_id) AS rn
        FROM pairs
    )
    SELECT vec_id, nn_id, CAST(qdot AS BIGINT) AS qdot
    FROM ranked WHERE rn = 1 ORDER BY vec_id
    """,
    tags=("pipeline", "similarity", "quantization"),
)
def sim_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization + quantized nearest neighbor.

    Each embedding is max-abs-scaled to integers in [-127, 127]
    (``FLOOR(x / maxabs * 127)`` — FLOOR, not ROUND, so Spark and the DuckDB
    oracle agree bit-exactly; see the half-up/half-down rounding-tie trap).
    The nearest neighbor within each label block is then found by *integer*
    dot product with a deterministic (score DESC, nn_id) tiebreak.

    100 TB shape: quantization is map-side-only and shrinks the vectors 4-8x
    (in production the int8 components pack into a binary column — one byte
    each — here they stay BIGINT arrays for oracle parity; the plan shape is
    identical).  The query side is hard-capped at QUERY_BUDGET vectors (the
    same vec_id-prefix cap as every other ANN query side), and candidates are
    fetched by equi-join on the block key (label here, an IVF cluster id from
    sim_knn_ivf's coarse quantizer in production) — the scoring stage is
    O(|queries| × block), a bounded probe, never all-pairs-in-block.  Integer
    dot products are exact — no float-order hazards — and the per-query
    WindowGroupLimit prunes to the top row before the final sort.  Reference
    analogue: the candidate-scoring stage ahead of re-rank in any IVF/PQ
    pipeline (beyond-reference extension, like sim_knn_ivf).
    """
    t = Tables(spark, sf_dir)
    emb = t.embeddings
    base = emb.select(
        "vec_id",
        "label",
        "embedding",
        F.array_max(
            F.transform("embedding", lambda x: F.abs(x.cast("double")))
        ).alias("ma"),
    ).where(F.col("ma") > 0)
    q = base.select(
        "vec_id",
        "label",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") / F.col("ma") * F.lit(127.0)).cast(
                "long"
            ),
        ).alias("qv"),
    )
    a = q.where(
        (F.col("vec_id") % QUERY_MOD == 0)
        & (F.col("vec_id") < QUERY_CAP)  # bounded query side, like all ANN paths
    ).alias("a")
    b = q.alias("b")
    pairs = a.join(
        b,
        (F.col("a.label") == F.col("b.label"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec_id"),
        F.col("b.vec_id").alias("nn_id"),
        F.aggregate(
            F.zip_with(F.col("a.qv"), F.col("b.qv"), lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("qdot"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("vec_id").orderBy(F.desc("qdot"), F.asc("nn_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "nn_id", "qdot")
        .orderBy("vec_id")
    )


_PQ_CTES = """
    flat AS (
        SELECT label, unnest(embedding) AS v,
               unnest(range(1, len(embedding) + 1)) AS pos
        FROM embeddings
    ), cent AS (
        SELECT label, (pos - 1) // 8 AS sub, (pos - 1) % 8 AS p,
               CAST(SUM(CAST(ROUND(CAST(v AS DOUBLE), 6) AS DECIMAL(18,6)))
                    AS DOUBLE) / COUNT(*) AS c
        FROM flat GROUP BY label, sub, p
    ), carr AS (
        SELECT label, sub, list(c ORDER BY p) AS cv
        FROM cent GROUP BY label, sub
    ), sv AS (
        SELECT e.vec_id, e.label AS own_label, t.m AS sub,
               list_slice(e.embedding, t.m * 8 + 1, t.m * 8 + 8) AS v8
        FROM embeddings e, range(0, 8) t(m)
    ), scored AS (
        SELECT sv.vec_id, sv.own_label, sv.sub, carr.label,
               list_sum(list_transform(range(1, 9),
                   i -> (CAST(v8[i] AS DOUBLE) - cv[i])
                      * (CAST(v8[i] AS DOUBLE) - cv[i]))) AS dist
        FROM sv JOIN carr ON sv.sub = carr.sub
    ), best AS (
        SELECT vec_id, own_label, sub, label AS code,
               row_number() OVER (PARTITION BY vec_id, sub
                                  ORDER BY dist, label) AS rn
        FROM scored
    )"""


def _pq_codebook(emb: DataFrame) -> DataFrame:
    """Deterministic PQ codebook: per-(label, subvector) centroid arrays via
    the order-insensitive DECIMAL(18,6) mean (same trick as sim_centroids)."""
    flat = emb.select("label", F.posexplode("embedding").alias("pos0", "v"))
    cent = (
        flat.withColumn("sub", (F.col("pos0") / 8).cast("int"))
        .withColumn("p", F.col("pos0") % 8)
        .groupBy("label", "sub", "p")
        .agg(
            (
                F.sum(
                    F.round(F.col("v").cast("double"), 6).cast("decimal(18,6)")
                ).cast("double")
                / F.count("*")
            ).alias("c")
        )
    )
    return cent.groupBy("label", "sub").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("p", "c"))), lambda s: s["c"]
        ).alias("cv")
    )


def _pq_subvectors(emb: DataFrame) -> DataFrame:
    """(vec_id, own_label, sub, v8): each embedding split into 8-dim chunks."""
    return emb.select(
        "vec_id",
        F.col("label").alias("own_label"),
        F.explode(F.sequence(F.lit(0), F.lit(7))).alias("sub"),
        "embedding",
    ).select(
        "vec_id",
        "own_label",
        "sub",
        F.slice("embedding", F.col("sub") * 8 + 1, 8).alias("v8"),
    )


def _sub_l2(v8, cv) -> Column:
    """Index-ordered squared-L2 fold between an 8-dim subvector and a
    centroid array — bit-identical to the oracle's list_sum fold."""
    return F.aggregate(
        F.zip_with(
            v8, cv, lambda x, c: (x.cast("double") - c) * (x.cast("double") - c)
        ),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )


def _pq_assignments(emb: DataFrame, carr: DataFrame) -> DataFrame:
    """(vec_id, own_label, sub, code): nearest codebook entry per subvector,
    argmin squared-L2 with a (distance, label) tiebreak."""
    from pyspark.sql.window import Window

    scored = _pq_subvectors(emb).join(F.broadcast(carr), "sub").select(
        "vec_id",
        "own_label",
        "sub",
        "label",
        _sub_l2(F.col("v8"), F.col("cv")).alias("dist"),
    )
    w = Window.partitionBy("vec_id", "sub").orderBy("dist", "label")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "own_label", "sub", F.col("label").alias("code"))
    )


@query(
    "sim_pq_codes",
    oracle="WITH "
    + _PQ_CTES
    + """
    SELECT vec_id,
           array_to_string(list(code ORDER BY sub), ',') AS pq_code,
           CAST(SUM(CASE WHEN code = own_label THEN 1 ELSE 0 END) AS BIGINT)
               AS n_own_sub
    FROM best WHERE rn = 1
    GROUP BY vec_id, own_label
    ORDER BY vec_id
    """,
    tags=("pipeline", "similarity", "quantization"),
)
def sim_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization: encode each 64-dim embedding as 8 codebook ids
    (one per 8-dim subvector), completing the billion-vector ANN recipe
    alongside sim_knn_ivf (coarse quantizer) and sim_quantize_int8 (scalar).

    The codebook is deterministic — per (label, subvector) centroids (the
    same order-insensitive DECIMAL(18,6) mean as sim_centroids) instead of
    iterated k-means, so the DuckDB oracle is exact.  Assignment is argmin
    squared-L2 per subvector with a (distance, label) tiebreak; distances
    use index-ordered folds so both engines produce bit-identical doubles.

    100 TB shape: the codebook is tiny (n_codes × n_sub × sub_dim) and
    broadcast; encoding is one broadcast join + per-row fold — map-side,
    no shuffle of the embedding column beyond its first read.  Codes are
    8 small ints (vs 256 bytes of float32): the downstream candidate scan
    reads 32× less.  n_own_sub measures codebook/label agreement.
    """
    t = Tables(spark, sf_dir)
    emb = t.embeddings
    best = _pq_assignments(emb, _pq_codebook(emb))
    return (
        best.groupBy("vec_id", "own_label")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("sub", "code"))),
                    lambda s: s["code"].cast("string"),
                ),
                ",",
            ).alias("pq_code"),
            F.sum(
                F.when(F.col("code") == F.col("own_label"), 1).otherwise(0)
            ).cast("long").alias("n_own_sub"),
        )
        .select("vec_id", "pq_code", "n_own_sub")
        .orderBy("vec_id")
    )


@query(
    "sim_pq_adc_topk",
    oracle="WITH "
    + _PQ_CTES
    + f"""
    , codes AS (
        SELECT vec_id, sub, code FROM best WHERE rn = 1
    ), lut AS (
        SELECT sv.vec_id AS q_id, sv.sub, carr.label AS code,
               CAST(ROUND(list_sum(list_transform(range(1, 9),
                   i -> (CAST(v8[i] AS DOUBLE) - cv[i])
                      * (CAST(v8[i] AS DOUBLE) - cv[i]))), 9)
                    AS DECIMAL(28,9)) AS d9
        FROM sv JOIN carr ON sv.sub = carr.sub
        WHERE sv.vec_id % {QUERY_MOD} = 0
          AND sv.vec_id < {QUERY_CAP}
    ), adc AS (
        SELECT lut.q_id, codes.vec_id,
               CAST(SUM(lut.d9) AS DOUBLE) AS approx_dist
        FROM codes
        JOIN lut ON codes.sub = lut.sub AND codes.code = lut.code
        WHERE codes.vec_id <> lut.q_id
        GROUP BY lut.q_id, codes.vec_id
    )
    SELECT q_id, vec_id, approx_dist, CAST(rk AS BIGINT) AS rk FROM (
        SELECT q_id, vec_id, approx_dist,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY approx_dist, vec_id) AS rk
        FROM adc
    ) WHERE rk <= 5
    ORDER BY q_id, rk
    """,
    tags=("pipeline", "similarity", "quantization", "ann"),
)
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ search by asymmetric distance computation (ADC): each query builds
    an 8×n_codes lookup table of exact subvector→centroid distances, and a
    corpus vector's approximate distance is the sum of 8 table entries
    selected by its PQ code — the query side stays full-precision, the
    corpus is never decoded.

    Per-entry distances go through ROUND(·, 9) → DECIMAL(28,9) so the
    8-entry sums are order-insensitive and the DuckDB oracle is exact
    (float sums under hash aggregation have no deterministic order).

    100 TB shape: the LUT is (queries × 8 × n_codes) rows, and the query set
    is hard-capped at QUERY_BUDGET vectors (the same vec_id-prefix cap as
    every other ANN query side), so the broadcast is constant-size regardless
    of corpus growth.  The LUT joins the code table on (sub, code),
    an equi-join; the corpus side ships only its 8-int codes, never
    embeddings.  WindowGroupLimit prunes to top-5 per query before the
    final sort.  This is the standard IVF-PQ serving path (Jégou et al.,
    TPAMI 2011) expressed relationally.
    """
    from pyspark.sql.window import Window

    t = Tables(spark, sf_dir)
    emb = t.embeddings
    carr = _pq_codebook(emb)
    codes = _pq_assignments(emb, carr).select("vec_id", "sub", "code")
    lut = (
        _pq_subvectors(
            emb.where(
                (F.col("vec_id") % QUERY_MOD == 0)
                & (F.col("vec_id") < QUERY_CAP)  # constant-size LUT broadcast
            )
        )
        .join(F.broadcast(carr), "sub")
        .select(
            F.col("vec_id").alias("q_id"),
            "sub",
            F.col("label").alias("code"),
            F.round(_sub_l2(F.col("v8"), F.col("cv")), 9)
            .cast("decimal(28,9)")
            .alias("d9"),
        )
    )
    adc = (
        codes.join(
            F.broadcast(lut),
            (codes["sub"] == lut["sub"])
            & (codes["code"] == lut["code"])
            & (codes["vec_id"] != lut["q_id"]),
        )
        .groupBy("q_id", "vec_id")
        .agg(F.sum("d9").cast("double").alias("approx_dist"))
    )
    w = Window.partitionBy("q_id").orderBy("approx_dist", "vec_id")
    return (
        adc.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 5)
        .select("q_id", "vec_id", "approx_dist", F.col("rk").cast("long").alias("rk"))
        .orderBy("q_id", "rk")
    )


@query(
    "sim_normalize_embeddings",
    oracle="""
    WITH mu AS (
        SELECT pos,
               CAST(SUM(CAST(ROUND(CAST(v AS DOUBLE), 6) AS DECIMAL(18,6)))
                    AS DOUBLE) / COUNT(*) AS m
        FROM (SELECT unnest(embedding) AS v,
                     unnest(range(1, len(embedding) + 1)) AS pos
              FROM embeddings)
        GROUP BY pos
    ),
    muv AS (SELECT list(m ORDER BY pos) AS mv FROM mu),
    centered AS (
        SELECT vec_id,
               list_transform(range(1, 65),
                              i -> CAST(embedding[i] AS DOUBLE) - mv[i]) AS c
        FROM embeddings, muv
    )
    SELECT vec_id,
           ROUND(sqrt(list_sum(list_transform(c, x -> x * x))), 6) AS c_norm,
           ROUND(c[1] / sqrt(list_sum(list_transform(c, x -> x * x))), 6) AS u0,
           ROUND(c[2] / sqrt(list_sum(list_transform(c, x -> x * x))), 6) AS u1
    FROM centered
    ORDER BY vec_id
    """,
    tags=("pipeline", "similarity", "preprocessing"),
)
def sim_normalize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding preprocessing: mean-center (subtract the per-dimension
    corpus mean) then L2-normalize — after this, dot product IS cosine, so
    every downstream ANN stage (brute force, LSH, IVF, PQ) drops its norm
    divisions.  The mean vector is one tiny aggregate (64 rows) broadcast
    back; centering + normalizing are map-side transforms — at 100 TB this
    is a scan-shaped preprocessing pass, usually fused into ingest.

    The per-dim mean uses the order-insensitive DECIMAL(18,6) trick (same as
    sim_centroids) so both engines compute the identical double; all later
    arithmetic is index-ordered IEEE ops.  Output pins the centered norm and
    the first two unit components per vector."""
    mu_struct = F.array_sort(F.collect_list(F.struct("dim", "m")))
    t = Tables(spark, sf_dir)
    mu = (
        t.embeddings.select(F.posexplode("embedding").alias("dim", "v"))
        .groupBy("dim")
        .agg(
            (
                F.sum(
                    F.round(F.col("v").cast("double"), 6).cast("decimal(18,6)")
                ).cast("double")
                / F.count("*")
            ).alias("m")
        )
        .agg(mu_struct.alias("sm"))
        .select(F.transform("sm", lambda s: s["m"]).alias("mv"))
    )
    centered = t.embeddings.join(F.broadcast(mu)).select(
        "vec_id",
        F.zip_with(
            "embedding", "mv", lambda x, m: x.cast("double") - m
        ).alias("c"),
    )
    c_norm = F.sqrt(
        F.aggregate(
            F.transform("c", lambda x: x * x), F.lit(0.0), lambda a, x: a + x
        )
    )
    return (
        centered.select(
            "vec_id",
            F.round(c_norm, 6).alias("c_norm"),
            F.round(F.element_at("c", 1) / c_norm, 6).alias("u0"),
            F.round(F.element_at("c", 2) / c_norm, 6).alias("u1"),
        )
        .orderBy("vec_id")
    )


# --- k-means (Lloyd) coarse-quantizer training -----------------------------

KM_K = 8  # clusters
KM_ITERS = 2  # Lloyd iterations (unrolled in the SQL oracle)

_SQL_KM_DIST = (
    "list_sum(list_transform(range(1, 65), i -> "
    "(CAST(e.embedding[i] AS DOUBLE) - c.cv[i]) * "
    "(CAST(e.embedding[i] AS DOUBLE) - c.cv[i])))"
)


def _sql_km_round(prev: str, out_assign: str, out_mean: str, out_cent: str) -> str:
    """One unrolled Lloyd round in DuckDB SQL: nearest-centroid assignment
    (squared L2, ROW_NUMBER tie-broken by cid), decimal-exact per-dim means,
    empty clusters keep their previous centroid."""
    return f"""
    {out_assign} AS (
        SELECT vec_id, cid FROM (
            SELECT e.vec_id, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                      ORDER BY {_SQL_KM_DIST} ASC, c.cid ASC)
                       AS rn
            FROM embeddings e CROSS JOIN {prev} c)
        WHERE rn = 1
    ),
    {out_mean} AS (
        SELECT a.cid, x.pos,
               CAST(SUM(CAST(ROUND(CAST(x.v AS DOUBLE), 6) AS DECIMAL(18,6)))
                    AS DOUBLE) / COUNT(*) AS c,
               COUNT(*) AS n
        FROM {out_assign} a
        JOIN (SELECT vec_id, unnest(embedding) AS v,
                     unnest(range(1, len(embedding) + 1)) AS pos
              FROM embeddings) x ON x.vec_id = a.vec_id
        GROUP BY a.cid, x.pos
    ),
    {out_cent} AS (
        SELECT p.cid, COALESCE(m.cv, p.cv) AS cv
        FROM {prev} p
        LEFT JOIN (SELECT cid, list(c ORDER BY pos) AS cv
                   FROM {out_mean} GROUP BY cid) m ON m.cid = p.cid
    )"""


@query(
    "sim_kmeans_lloyd",
    oracle=f"""
    WITH init AS (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid,
               list_transform(embedding, v -> CAST(v AS DOUBLE)) AS cv
        FROM (SELECT vec_id, embedding FROM embeddings
              ORDER BY vec_id LIMIT {KM_K})
    ),
    {_sql_km_round("init", "a1", "m1", "c1")},
    {_sql_km_round("c1", "a2", "m2", "c2")}
    SELECT c.cid AS cid, p.i - 1 AS dim,
           COALESCE(m.c, c.cv[p.i]) AS centroid,
           CAST(COALESCE(m.n, 0) AS BIGINT) AS n
    FROM c1 c
    CROSS JOIN (SELECT unnest(range(1, 65)) AS i) p
    LEFT JOIN m2 m ON m.cid = c.cid AND m.pos = p.i
    ORDER BY c.cid, dim
    """,
    tags=("pipeline", "similarity", "kmeans", "iterative", "ann"),
    bench=True,
)
def sim_kmeans_lloyd(
    spark: SparkSession, sf_dir: str, k: int = KM_K
) -> DataFrame:
    """k-means (Lloyd) training for the IVF coarse quantizer — the learned
    replacement for ``sim_knn_ivf``'s label-as-assignment stand-in.
    Deterministic init (the KM_K lowest vec_ids), KM_ITERS Lloyd rounds,
    decimal-exact component means; output is the trained codebook as
    (cid, dim, centroid, n) rows with n = final cluster size (empty clusters
    keep their previous centroid with n = 0).

    Scale shape (Spark MLlib's distributed k-means layout): the k x 64
    codebook broadcasts to the Python workers and each Arrow batch assigns
    its vectors with the exact argmin kernel (`_vector_kernels`) — no
    per-vector shuffle, no window function.  The only exchange per
    iteration carries the partial hash-agg states of the per-(cid, dim)
    decimal sums: k x 64 rows per partition, constant in corpus size.  The
    driver holds the k-row model state between rounds (`_lloyd_rounds`).
    Arithmetic contract: every assignment is the one the index-ordered
    double fold picks (smallest cid on a tie) and means go through
    DECIMAL(18,6) of 6-dp-rounded components, so DuckDB's unrolled
    recursion reproduces every value bit-exactly.

    Reference frame: the reference has no trainer (its IVF analog consumes
    a prebuilt index); this extends SURVEY §2's ANN family end-to-end.
    """
    t = Tables(spark, sf_dir)
    emb = t.embeddings.select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double")).alias("e"),
    )
    cent, last_mean = _lloyd(spark, emb, k)
    return _emit_codebook(spark, cent, last_mean)


def _emit_codebook(
    spark: SparkSession, cent: DataFrame, last_mean: DataFrame
) -> DataFrame:
    """Trained codebook as per-dim rows, carrying empty clusters at n = 0."""
    dims = spark.range(EMB_DIM).select(F.col("id").cast("int").alias("dim"))
    return (
        cent.crossJoin(F.broadcast(dims))
        .join(F.broadcast(last_mean), ["cid", "dim"], "left")
        .select(
            "cid",
            "dim",
            F.coalesce("c", F.element_at("cv", F.col("dim") + 1)).alias(
                "centroid"
            ),
            F.coalesce("n", F.lit(0)).cast("long").alias("n"),
        )
        .orderBy("cid", "dim")
    )


def _sqdist(e: Column, cv: Column) -> Column:
    """Index-ordered squared-L2 fold (same fold order as the oracle's
    list_sum, so distances are bit-identical across engines)."""
    return F.aggregate(
        F.zip_with(e, cv, lambda x, c: (x - c) * (x - c)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _lloyd_mean_rows(assigned: DataFrame) -> list:
    """One Lloyd centroid-update aggregation, COLLECTED: the decimal-exact
    per-(cid, dim) means and counts of an assignment frame (cid, e) — the
    k×dim rows of model state every trainer materializes each round.  The
    arithmetic is unchanged from every prior round's `_lloyd_update`
    (6-dp-rounded DECIMAL(18,6) sums divided by counts, cast to double),
    so the collected values are bit-identical to what the old plan-side
    join chain carried; only WHERE the k-row state lives moved (executor
    frames -> driver, MLlib's layout)."""
    return (
        assigned.select("cid", F.posexplode("e").alias("dim", "v"))
        .groupBy("cid", "dim")
        .agg(
            (
                F.sum(
                    F.round(F.col("v"), 6).cast("decimal(18,6)")
                ).cast("double")
                / F.count("*")
            ).alias("c"),
            F.count("*").alias("n"),
        )
        .collect()
    )


def _lloyd_apply_mean(cvs: list[list[float]], mean_rows: list) -> None:
    """Driver-side centroid update from the collected mean rows: a
    non-empty cluster (posexplode emits every dim of every member, so it
    carries ALL dims) replaces its centroid with the per-dim means; an
    empty cluster keeps its previous centroid — exactly the old plan's
    COALESCE(new cv, previous cv).  Pure data movement, no arithmetic.

    Precondition: every embedding has the centroids' length.  A ragged
    corpus would leave a cluster with means for missing or extra dims, or
    with per-dim means over different member counts; that fails here
    with a ValueError naming the precondition."""
    by_cid: dict[int, dict[int, float]] = {}
    counts: dict[int, set[int]] = {}
    for r in mean_rows:
        by_cid.setdefault(r.cid, {})[r.dim] = r.c
        counts.setdefault(r.cid, set()).add(r.n)
    for cid, dims in by_cid.items():
        width = len(cvs[cid])
        if sorted(dims) != list(range(width)) or len(counts[cid]) != 1:
            raise ValueError(
                f"ragged embeddings: cluster {cid} has means for {len(dims)} "
                f"dims (highest {max(dims)}) over member counts "
                f"{sorted(counts[cid])}; every embedding must have exactly "
                f"the centroids' {width} dims"
            )
        cvs[cid] = [dims[j] for j in range(width)]


def _lloyd_frames(spark: SparkSession, cvs: list, mean_rows: list):
    """The driver-held model state as the (cent, last_mean) DataFrame pair
    every `_lloyd` consumer expects — LOCAL relations now (k and k×64
    rows), so downstream plans embed a LocalTableScan instead of the
    KM_ITERS-round join/aggregate lineage."""
    cent = spark.createDataFrame(
        [(i, cv) for i, cv in enumerate(cvs)], "cid int, cv array<double>"
    )
    last_mean = spark.createDataFrame(
        [(r.cid, r.dim, r.c, r.n) for r in mean_rows],
        "cid int, dim int, c double, n bigint",
    )
    return cent, last_mean


def _lloyd_rounds(
    spark: SparkSession, emb: DataFrame, k: int
) -> tuple[list, list]:
    """KM_ITERS Lloyd rounds with the k-row model state held on the DRIVER
    (MLlib's layout): per round exactly ONE Spark job runs — the corpus
    assignment feeding the decimal-exact per-(cid, dim) mean aggregation,
    collected as k×64 rows — and the centroid update happens driver-side
    on the collected values.  Doubles round-trip collect/createDataFrame
    exactly.

    Assignment: each round's codebook (rows in cid order) broadcasts to
    the Python workers and every Arrow batch runs the exact argmin kernel
    (`_vector_kernels` ``argmin``: BLAS screen, fold-order recompute of the
    near-ties), so each vector joins the cluster the index-ordered fold
    picks, smallest cid on a tie — the oracle's ROW_NUMBER() rule.

    Returns ``(cvs, mean_rows)``: the final centroid arrays (index = cid)
    and the final round's collected mean rows."""
    import numpy as np
    import pandas as pd

    # deterministic init: the k lowest vec_ids, cid in vec_id order
    init_rows = (
        emb.orderBy("vec_id")
        .limit(k)
        .collect()  # k rows of model state — constant size, like MLlib
    )
    cvs = [list(r.e) for r in init_rows]
    mean_rows: list = []
    if not init_rows:
        # Empty corpus: zero centroids train; empty frames downstream
        # instead of raising on 0-length model arrays.
        return cvs, mean_rows

    argmin = _vector_kernels().argmin
    for _ in range(KM_ITERS):
        bstate = spark.sparkContext.broadcast(np.array(cvs, dtype=np.float64))

        def _assign(it, _b=bstate):
            b_c = _b.value
            for pdf in it:
                if len(pdf) == 0:
                    continue
                mat = np.array(pdf["e"].tolist(), dtype=np.float64)
                yield pd.DataFrame(
                    {"cid": argmin(mat, b_c).astype(np.int32), "e": pdf["e"]}
                )

        assigned = emb.select("e").mapInPandas(
            python_task(_assign), "cid int, e array<double>"
        )
        mean_rows = _lloyd_mean_rows(assigned)
        # The collect above IS the assignment job, so nothing pending
        # references this round's model state; without the destroy, one
        # k×64-double broadcast per iteration accumulates on executors for
        # the session lifetime.
        bstate.destroy()
        _lloyd_apply_mean(cvs, mean_rows)
    return cvs, mean_rows


def _lloyd(spark: SparkSession, emb: DataFrame, k: int = KM_K):
    """KM_ITERS Lloyd rounds over ``emb`` (vec_id, e: array<double>).

    Returns ``(cent, last_mean)``: the trained codebook (cid, cv) and the
    final per-(cid, dim) mean/count frame — LOCAL relations backed by the
    driver-held model state (see `_lloyd_rounds` for the per-round scale
    shape: one k×dim decimal partial-agg exchange + one k×64-row collect
    per round, constant in corpus size).  ``k`` defaults to the registered
    queries' KM_K; the bench scale leg passes k ∝ corpus size — the
    SemDeDup/IVF block-size knob — so the broadcast codebook and the k×64
    partial-agg exchange are exercised at production list counts, not
    just the fixture's 8."""
    cvs, mean_rows = _lloyd_rounds(spark, emb, k)
    return _lloyd_frames(spark, cvs, mean_rows)


_SQL_KM_ASSIGN_DIST = (
    "list_sum(list_transform(range(1, 65), i -> "
    "(CAST(e.embedding[i] AS DOUBLE) - c.cv[i]) * "
    "(CAST(e.embedding[i] AS DOUBLE) - c.cv[i])))"
)


@query(
    "sim_knn_ivf_trained",
    oracle=f"""
    WITH init AS (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid,
               list_transform(embedding, v -> CAST(v AS DOUBLE)) AS cv
        FROM (SELECT vec_id, embedding FROM embeddings
              ORDER BY vec_id LIMIT {KM_K})
    ),
    {_sql_km_round("init", "a1", "m1", "c1")},
    {_sql_km_round("c1", "a2", "m2", "c2")},
    lists AS (
        SELECT vec_id, cid FROM (
            SELECT e.vec_id, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                      ORDER BY {_SQL_KM_ASSIGN_DIST} ASC,
                                               c.cid ASC) AS rn
            FROM embeddings e CROSS JOIN c2 c)
        WHERE rn = 1
    ),
    probe AS (
        SELECT query_id, cid FROM (
            SELECT e.vec_id AS query_id, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                      ORDER BY {_SQL_KM_ASSIGN_DIST} ASC,
                                               c.cid ASC) AS rn
            FROM embeddings e CROSS JOIN c2 c
            WHERE e.vec_id % {QUERY_MOD} = 0
              AND e.vec_id < {QUERY_CAP})
        WHERE rn <= {N_PROBE}
    ),
    scored AS (
        SELECT p.query_id, l.vec_id AS neighbor_id,
               {_SQL_DOT} / ({_SQL_NORM_Q} * {_SQL_NORM_C}) AS cos
        FROM probe p
        JOIN lists l ON l.cid = p.cid AND l.vec_id <> p.query_id
        JOIN embeddings q ON q.vec_id = p.query_id
        JOIN embeddings c ON c.vec_id = l.vec_id
    )
    SELECT query_id, neighbor_id, cos_sim FROM (
        SELECT query_id, neighbor_id, ROUND(cos, 6) AS cos_sim,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rn
        FROM scored) WHERE rn <= {TOP_K}
    ORDER BY query_id, neighbor_id
    """,
    tags=("pipeline", "similarity", "kmeans", "ivf", "ann"),
    bench=True,
)
def sim_knn_ivf_trained(
    spark: SparkSession, sf_dir: str, k: int = KM_K
) -> DataFrame:
    """End-to-end IVF over the TRAINED codebook: k-means training
    (sim_kmeans_lloyd's _lloyd), corpus assignment to inverted lists,
    query probing of the N_PROBE nearest centroids, exact cosine re-rank
    within the probed lists — the full train-then-serve ANN pipeline as
    ONE DataFrame program with a bit-exact oracle.

    Scale shape: both corpus assignment AND query probing are map-side
    (the codebook broadcasts as one array-of-structs row; assignment is
    array_min, probing is array_sort + slice — no window function, no
    shuffle to pick probes).  The candidate fetch is an equi-join on cid:
    a corpus laid out (bucketed/partitioned) by its assigned list serves
    it with partition pruning, and work per query is |corpus| x nprobe/k.
    Lineage from training is already cut (localCheckpoint), so the serving
    plan starts from small materialized state plus one corpus scan."""
    t = Tables(spark, sf_dir)
    emb = t.embeddings.select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double")).alias("e"),
    )
    cent, _ = _lloyd(spark, emb, k)
    cents_row = cent.agg(F.collect_list(F.struct("cid", "cv")).alias("cents"))
    dist_structs = F.transform(
        "cents",
        lambda c: F.struct(
            _sqdist(F.col("e"), c["cv"]).alias("d"), c["cid"].alias("cid")
        ),
    )
    with_cents = emb.join(F.broadcast(cents_row))
    # inverted lists: every corpus vector -> nearest trained centroid
    lists = with_cents.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("e").alias("c_emb"),
        norm(F.col("e")).alias("cn"),
        F.array_min(dist_structs)["cid"].alias("cid"),
    )
    # probes: each query's N_PROBE nearest centroids, map-side sort+slice
    probe = (
        with_cents.filter(
            (F.col("vec_id") % QUERY_MOD == 0) & (F.col("vec_id") < QUERY_CAP)
        )
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("e").alias("q_emb"),
            norm(F.col("e")).alias("qn"),
            F.explode(
                F.transform(
                    F.slice(F.array_sort(dist_structs), 1, N_PROBE),
                    lambda s: s["cid"],
                )
            ).alias("cid"),
        )
    )
    scored = (
        lists.join(F.broadcast(probe), "cid")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                dot(F.col("q_emb"), F.col("c_emb"))
                / (F.col("qn") * F.col("cn"))
            ).alias("cos"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id", F.round("cos", 6).alias("cos_sim"))
        .orderBy("query_id", "neighbor_id")
    )


# --- PCA top component (power iteration) -----------------------------------

PCA_ITERS = 2  # unrolled in the SQL oracle; v0 = 0.125 (= 1/sqrt(64)) per dim


def _sql_pca_round(prev_v: str, out_s: str, out_w: str, out_n: str) -> str:
    """One unrolled power-iteration round in DuckDB SQL: s = c·v per row,
    w = Σ s·c per dim (decimal-exact), norm for the next normalization."""
    return f"""
    {out_s} AS (
        SELECT vec_id, c,
               list_sum(list_transform(range(1, 65), i -> c[i] * {prev_v}))
                   AS s
        FROM cent{", v_" + out_s[-1] if prev_v.startswith("v[") else ""}
    ),
    {out_w} AS (
        SELECT p.pos,
               CAST(SUM(CAST(ROUND(t.s * t.c[p.pos], 6) AS DECIMAL(28,6)))
                    AS DOUBLE) AS w
        FROM {out_s} t
        CROSS JOIN (SELECT unnest(range(1, 65)) AS pos) p
        GROUP BY p.pos
    ),
    {out_n} AS (SELECT sqrt(SUM(w * w)) AS nrm FROM {out_w})"""


@query(
    "sim_pca_power_iteration",
    oracle=f"""
    WITH mu AS (
        SELECT pos,
               CAST(SUM(CAST(ROUND(CAST(v AS DOUBLE), 6) AS DECIMAL(18,6)))
                    AS DOUBLE) / COUNT(*) AS m
        FROM (SELECT unnest(embedding) AS v,
                     unnest(range(1, len(embedding) + 1)) AS pos
              FROM embeddings)
        GROUP BY pos
    ),
    muv AS (SELECT list(m ORDER BY pos) AS mv FROM mu),
    cent AS (
        SELECT vec_id,
               list_transform(range(1, 65),
                              i -> CAST(embedding[i] AS DOUBLE) - mv[i]) AS c
        FROM embeddings, muv
    ),
    {_sql_pca_round("0.125", "s1", "w1", "n1")},
    v_2 AS (SELECT list(w / nrm ORDER BY pos) AS v FROM w1, n1),
    {_sql_pca_round("v[i]", "s2", "w2", "n2")}
    SELECT pos - 1 AS dim,
           ROUND(w / nrm, 9) AS loading,
           ROUND(nrm, 6) AS eigenvalue
    FROM w2, n2
    ORDER BY dim
    """,
    tags=("pipeline", "similarity", "pca", "iterative"),
)
def sim_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by power iteration:
    mean-center, v0 = 1/sqrt(64) per dim, then PCA_ITERS rounds of
    w = X_cᵀ(X_c v), v = w/‖w‖.  Output is the component's 64 loadings
    plus the power-iteration eigenvalue estimate ‖w‖ — the building block
    for PCA whitening / dimensionality reduction of an embedding corpus.

    Distributed shape per round: the current v rides along as ONE
    broadcast row; s = c·v is a map-side fold; the only exchange carries
    per-(dim) decimal partial sums (64 rows per partition) — corpus rows
    never shuffle, exactly like the k-means trainer.  The mean vector is
    computed once the same way.  Arithmetic contract: per-row products are
    6-dp-rounded into DECIMAL(28,6) sums, so DuckDB's unrolled CTEs
    reproduce w, ‖w‖ and every loading bit-exactly; sqrt and division are
    IEEE-exact in both engines."""
    t = Tables(spark, sf_dir)
    emb = t.embeddings.select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double")).alias("e"),
    )
    # decimal-exact per-dim mean, assembled into one broadcast row
    mu = (
        emb.select(F.posexplode("e").alias("dim", "v"))
        .groupBy("dim")
        .agg(
            (
                F.sum(F.round(F.col("v"), 6).cast("decimal(18,6)")).cast(
                    "double"
                )
                / F.count("*")
            ).alias("m")
        )
        .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("sm"))
        .select(F.transform("sm", lambda s: s["m"]).alias("mv"))
    )
    cent = emb.join(F.broadcast(mu)).select(
        "vec_id", F.zip_with("e", "mv", lambda x, m: x - m).alias("c")
    )
    vdf = spark.range(1).select(
        F.array_repeat(F.lit(0.125), EMB_DIM).alias("v")
    )
    w = None
    for _ in range(PCA_ITERS):
        scored = cent.join(F.broadcast(vdf)).select(
            "c", dot(F.col("c"), F.col("v")).alias("s")
        )
        w = (
            scored.select("s", F.posexplode("c").alias("dim", "x"))
            .groupBy("dim")
            .agg(
                F.sum(
                    F.round(F.col("s") * F.col("x"), 6).cast("decimal(28,6)")
                )
                .cast("double")
                .alias("w")
            )
        )
        wvec = w.agg(
            F.array_sort(F.collect_list(F.struct("dim", "w"))).alias("sw")
        ).select(F.transform("sw", lambda s: s["w"]).alias("wv"))
        vdf = wvec.select(
            F.transform(
                "wv", lambda x: x / F.sqrt(F.aggregate(
                    F.transform("wv", lambda y: y * y),
                    F.lit(0.0),
                    lambda acc, y: acc + y,
                ))
            ).alias("v")
        )
    nrm = F.sqrt(
        F.aggregate(
            F.transform("wv", lambda y: y * y), F.lit(0.0), lambda a, y: a + y
        )
    )
    wvec = w.agg(
        F.array_sort(F.collect_list(F.struct("dim", "w"))).alias("sw")
    ).select(F.transform("sw", lambda s: s["w"]).alias("wv"))
    return (
        wvec.select(F.posexplode("wv").alias("dim", "w"), nrm.alias("nrm"))
        .select(
            "dim",
            F.round(F.col("w") / F.col("nrm"), 9).alias("loading"),
            F.round("nrm", 6).alias("eigenvalue"),
        )
        .orderBy("dim")
    )


# --- IVF-PQ end-to-end (trained coarse quantizer + residual PQ + ADC) -------

_SQL_RES_SUB_L2 = (
    "list_sum(list_transform(range(1, 9), i -> "
    "(v8[i] - cv[i]) * (v8[i] - cv[i])))"
)

# ADC shortlist size for the exact re-rank stage.  With a 10-codeword
# residual codebook the ADC ordering is crude (measured: only ~35% of
# reachable true neighbors survive a direct top-5 cut); re-ranking the top
# ADC_RERANK candidates with exact distances recovers essentially the whole
# probe ceiling, which is the standard IVF-PQ serving layout.
ADC_RERANK = 64


@query(
    "sim_ivfpq_trained",
    oracle=f"""
    WITH init AS (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid,
               list_transform(embedding, v -> CAST(v AS DOUBLE)) AS cv
        FROM (SELECT vec_id, embedding FROM embeddings
              ORDER BY vec_id LIMIT {KM_K})
    ),
    {_sql_km_round("init", "a1", "m1", "c1")},
    {_sql_km_round("c1", "a2", "m2", "c2")},
    lists AS (
        SELECT vec_id, cid FROM (
            SELECT e.vec_id, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                      ORDER BY {_SQL_KM_ASSIGN_DIST} ASC,
                                               c.cid ASC) AS rn
            FROM embeddings e CROSS JOIN c2 c)
        WHERE rn = 1
    ),
    res AS (
        SELECT l.vec_id, l.cid, e.label,
               list_transform(range(1, 65),
                              i -> CAST(e.embedding[i] AS DOUBLE) - c.cv[i])
                   AS r
        FROM lists l
        JOIN embeddings e ON e.vec_id = l.vec_id
        JOIN c2 c ON c.cid = l.cid
    ),
    rflat AS (
        SELECT label, unnest(r) AS v,
               unnest(range(1, len(r) + 1)) AS pos
        FROM res
    ),
    rcent AS (
        SELECT label, (pos - 1) // 8 AS sub, (pos - 1) % 8 AS p,
               CAST(SUM(CAST(ROUND(v, 6) AS DECIMAL(18,6))) AS DOUBLE)
                   / COUNT(*) AS c
        FROM rflat GROUP BY label, sub, p
    ),
    rcarr AS (
        SELECT label, sub, list(c ORDER BY p) AS cv
        FROM rcent GROUP BY label, sub
    ),
    rsv AS (
        SELECT vec_id, cid, t.m AS sub,
               list_slice(r, t.m * 8 + 1, t.m * 8 + 8) AS v8
        FROM res, range(0, 8) t(m)
    ),
    rscored AS (
        SELECT rsv.vec_id, rsv.cid, rsv.sub, rcarr.label,
               {_SQL_RES_SUB_L2} AS dist
        FROM rsv JOIN rcarr ON rsv.sub = rcarr.sub
    ),
    rbest AS (
        SELECT vec_id, cid, sub, label AS code,
               row_number() OVER (PARTITION BY vec_id, sub
                                  ORDER BY dist, label) AS rn
        FROM rscored
    ),
    codes AS (SELECT vec_id, cid, sub, code FROM rbest WHERE rn = 1),
    probe AS (
        SELECT query_id, cid FROM (
            SELECT e.vec_id AS query_id, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                      ORDER BY {_SQL_KM_ASSIGN_DIST} ASC,
                                               c.cid ASC) AS rn
            FROM embeddings e CROSS JOIN c2 c
            WHERE e.vec_id % {QUERY_MOD} = 0
              AND e.vec_id < {QUERY_CAP})
        WHERE rn <= {N_PROBE}
    ),
    qres AS (
        SELECT p.query_id, p.cid,
               list_transform(range(1, 65),
                              i -> CAST(q.embedding[i] AS DOUBLE) - c.cv[i])
                   AS qr
        FROM probe p
        JOIN embeddings q ON q.vec_id = p.query_id
        JOIN c2 c ON c.cid = p.cid
    ),
    qsv AS (
        SELECT query_id, cid, t.m AS sub,
               list_slice(qr, t.m * 8 + 1, t.m * 8 + 8) AS v8
        FROM qres, range(0, 8) t(m)
    ),
    lut AS (
        SELECT query_id, cid, qsv.sub, rcarr.label AS code,
               CAST(ROUND({_SQL_RES_SUB_L2}, 9) AS DECIMAL(28,9)) AS d9
        FROM qsv JOIN rcarr ON qsv.sub = rcarr.sub
    ),
    adc AS (
        SELECT l.query_id, c.vec_id,
               CAST(SUM(l.d9) AS DOUBLE) AS approx_dist
        FROM codes c
        JOIN lut l ON l.cid = c.cid AND l.sub = c.sub AND l.code = c.code
        WHERE c.vec_id <> l.query_id
        GROUP BY l.query_id, c.vec_id
    ),
    cand AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY approx_dist, vec_id) AS ar
            FROM adc) WHERE ar <= {ADC_RERANK}
    ),
    rr AS (
        SELECT cand.query_id, cand.vec_id,
               list_sum(list_transform(range(1, 65),
                   i -> (CAST(q.embedding[i] AS DOUBLE)
                         - CAST(c.embedding[i] AS DOUBLE))
                      * (CAST(q.embedding[i] AS DOUBLE)
                         - CAST(c.embedding[i] AS DOUBLE)))) AS dist
        FROM cand
        JOIN embeddings q ON q.vec_id = cand.query_id
        JOIN embeddings c ON c.vec_id = cand.vec_id
    )
    SELECT query_id, neighbor_id, l2_dist, CAST(rk AS BIGINT) AS rk
    FROM (
        SELECT query_id, vec_id AS neighbor_id, ROUND(dist, 6) AS l2_dist,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY dist, vec_id) AS rk
        FROM rr) WHERE rk <= {TOP_K}
    ORDER BY query_id, rk
    """,
    tags=("pipeline", "similarity", "kmeans", "ivf", "pq", "ann"),
    bench=True,
)
def sim_ivfpq_trained(
    spark: SparkSession, sf_dir: str, k: int = KM_K
) -> DataFrame:
    """IVF-PQ end-to-end — the composition a production vector pipeline
    actually serves (Jégou et al., TPAMI 2011): k-means-trained coarse
    quantizer (sim_kmeans_lloyd's `_lloyd`), corpus residuals against the
    assigned centroid, a deterministic PQ codebook over residual subvectors
    (per-(label, sub) decimal-exact means — same construction as
    sim_pq_codes, but on residuals), 8-byte codes per vector, then serving:
    each query probes its N_PROBE nearest lists, builds a per-(query, list)
    LUT of exact subvector→codeword distances from its OWN residual in that
    list, and candidates are scored by summing 8 LUT entries — asymmetric
    distance computation, the corpus is never decoded.  The ADC shortlist
    (top ADC_RERANK per query) is then re-ranked with EXACT distances by
    fetching just the shortlist's embeddings — the standard two-stage
    IVF-PQ serving layout that recovers the probe ceiling's recall from a
    crude codebook.

    Scale shape (the plan you'd run at 100 TB):
    - training shuffles k×64 decimal partials per Lloyd round (`_lloyd`);
    - corpus assignment AND residuals AND encoding are all map-side Arrow
      batch kernels over broadcast model state (`_ivfpq_train_frames`;
      every argmin is the exact kernel, not a window — nothing
      corpus-sized shuffles to pick a code);
    - the serving LUT is (queries × nprobe × 8 × n_codes) rows, hard-capped
      by QUERY_BUDGET, broadcast;
    - the candidate scan joins codes⋈LUT on (cid, sub, code) — an equi-join
      whose corpus side carries ONLY (vec_id, cid, sub, code) ints, 32×
      smaller than the embeddings; with the corpus laid out by cid the join
      prunes to probed lists, so work per query is |corpus| × nprobe/k.
    The only window functions are the ADC shortlist and the final
    per-query top-k (WindowGroupLimit).  Arithmetic contract: distances are
    index-ordered double folds (the kernels' argmins pick exactly the
    fold's winner, smallest id on a tie); LUT entries round to
    DECIMAL(28,9) so the 8-entry ADC sums are order-insensitive; codebook
    means go through DECIMAL(18,6) — DuckDB's unrolled CTE chain
    reproduces every value bit-exactly.
    """
    t = Tables(spark, sf_dir)
    emb = t.embeddings.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda v: v.cast("double")).alias("e"),
    )
    cent, cents_row, cmap_row, rcarr, codes = _ivfpq_train_frames(
        spark, emb, k
    )
    return _ivfpq_serve_stage(
        emb.select("vec_id", "e"), cents_row, cmap_row, rcarr, codes
    )


def _ivfpq_train_frames(spark: SparkSession, emb: DataFrame, k: int = KM_K):
    """Training half of IVF-PQ (shared by the end-to-end query and the
    persisted-index builder): Lloyd coarse quantizer, residual PQ codebook,
    8-byte codes per corpus vector.  ``emb`` is (vec_id, label, e).
    Returns ``(cent, cents_row, cmap_row, rcarr, codes)`` — the model
    frames `_ivfpq_serve_stage` and `build_ivfpq_index` consume.

    Two Arrow passes over the corpus run the per-vector hot loops with the
    exact argmin kernel (`_vector_kernels`): the first assigns each vector
    to its nearest centroid and emits its residual, feeding the
    decimal-exact PQ codeword means; the second ENCODES — coarse argmin,
    residual, and one code argmin per 8-dim subvector against that sub's
    codewords (label order, so a tie goes to the smallest label).  The
    residual is x − c elementwise IEEE double, as in the oracle.  Model
    state (k×64 centroids, n_codes×8×8 codewords) is broadcast, the
    codebook-sized collect every trainer already does; nothing
    corpus-sized shuffles."""
    import numpy as np
    import pandas as pd

    cvs, mean_rows = _lloyd_rounds(spark, emb.select("vec_id", "e"), k)
    cent, _ = _lloyd_frames(spark, cvs, mean_rows)
    cents_row = cent.agg(F.collect_list(F.struct("cid", "cv")).alias("cents"))
    cmap_row = cent.agg(
        F.map_from_entries(F.collect_list(F.struct("cid", "cv"))).alias("cmap")
    )
    argmin = _vector_kernels().argmin
    # rows in cid order; an empty corpus trains none and runs no batch
    bcent = spark.sparkContext.broadcast(np.array(cvs, dtype=np.float64))

    def _residuals(it):
        b_c = bcent.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            mat = np.array(pdf["e"].tolist(), dtype=np.float64)
            idx = argmin(mat, b_c)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "label": pdf["label"].to_numpy(),
                    "cid": idx.astype(np.int32),
                    "r": list(mat - b_c[idx]),
                }
            )

    res = emb.select("vec_id", "label", "e").mapInPandas(
        python_task(_residuals),
        "vec_id long, label int, cid int, r array<double>",
    )
    # deterministic PQ codebook over residual subvectors
    rcent = (
        res.select("label", F.posexplode("r").alias("pos0", "v"))
        .withColumn("sub", (F.col("pos0") / 8).cast("int"))
        .withColumn("p", F.col("pos0") % 8)
        .groupBy("label", "sub", "p")
        .agg(
            (
                F.sum(F.round("v", 6).cast("decimal(18,6)")).cast("double")
                / F.count("*")
            ).alias("c")
        )
    )
    # n_labels x 8 rows of model state, consumed three times (the collect
    # below, the serving LUT broadcast, the index writer): the lazy
    # checkpoint computes the corpus-residual aggregation behind it once,
    # inside the collect's own job.
    rcarr = rcent.groupBy("label", "sub").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("p", "c"))), lambda s: s["c"]
        ).alias("cv")
    ).localCheckpoint(eager=False)
    rc_rows = rcarr.collect()
    cb = []
    for sub in range(8):
        ent = sorted((r.label, r.cv) for r in rc_rows if r.sub == sub)
        cb.append(
            (
                np.array([x[0] for x in ent], dtype=np.int32),
                np.array([x[1] for x in ent], dtype=np.float64),
            )
        )
    bcb = spark.sparkContext.broadcast(cb)

    def _encode(it):
        b_c, b_cb = bcent.value, bcb.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            mat = np.array(pdf["e"].tolist(), dtype=np.float64)
            idx = argmin(mat, b_c)
            r = mat - b_c[idx]
            code_cols = [
                labels[argmin(r[:, sub * 8 : (sub + 1) * 8], cw)]
                for sub, (labels, cw) in enumerate(b_cb)
            ]
            n = len(mat)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), 8),
                    "cid": np.repeat(idx.astype(np.int32), 8),
                    "sub": np.tile(np.arange(8, dtype=np.int32), n),
                    "code": np.stack(code_cols, axis=1).ravel(),
                }
            )

    codes = emb.select("vec_id", "e").mapInPandas(
        python_task(_encode), "vec_id long, cid int, sub int, code int"
    )
    return cent, cents_row, cmap_row, rcarr, codes


def _ivfpq_serve_stage(
    emb: DataFrame,
    cents_row: DataFrame,
    cmap_row: DataFrame,
    rcarr: DataFrame,
    codes: DataFrame,
) -> DataFrame:
    """Serving half of IVF-PQ: probe N_PROBE nearest lists per query,
    build the per-(query, list) LUT of subvector→codeword distances, score
    candidates by 8 LUT lookups (ADC), exact-re-rank the shortlist.  The
    model frames may come from the inline trainer (`sim_ivfpq_trained`)
    or a persisted parquet index (`sim_ivfpq_serve`) — the plan is the
    per-batch work a production vector pipeline actually runs."""
    dist_structs = F.transform(
        "cents",
        lambda c: F.struct(
            _sqdist(F.col("e"), c["cv"]).alias("d"), c["cid"].alias("cid")
        ),
    )
    with_state = emb.join(F.broadcast(cents_row)).join(F.broadcast(cmap_row))
    # serving: probe N_PROBE nearest lists, residual per probed list
    probes = (
        with_state.filter(
            (F.col("vec_id") % QUERY_MOD == 0) & (F.col("vec_id") < QUERY_CAP)
        )
        .select(
            F.col("vec_id").alias("query_id"),
            "e",
            "cmap",
            F.explode(
                F.transform(
                    F.slice(F.array_sort(dist_structs), 1, N_PROBE),
                    lambda s: s["cid"],
                )
            ).alias("cid"),
        )
        .select(
            "query_id",
            "cid",
            F.zip_with(
                "e", F.element_at("cmap", F.col("cid")), lambda x, c: x - c
            ).alias("qr"),
        )
    )
    lut = (
        probes.select(
            "query_id",
            "cid",
            F.explode(F.sequence(F.lit(0), F.lit(7))).alias("sub"),
            "qr",
        )
        .select(
            "query_id",
            "cid",
            "sub",
            F.slice("qr", F.col("sub") * 8 + 1, 8).alias("v8"),
        )
        .join(F.broadcast(rcarr), "sub")
        .select(
            "query_id",
            "cid",
            "sub",
            F.col("label").alias("code"),
            F.round(_sub_l2(F.col("v8"), F.col("cv")), 9)
            .cast("decimal(28,9)")
            .alias("d9"),
        )
    )
    adc = (
        codes.join(F.broadcast(lut), ["cid", "sub", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d9").cast("double").alias("approx_dist"))
    )
    from pyspark.sql import Window

    # ADC shortlist (WindowGroupLimit prunes to ADC_RERANK per query), then
    # exact re-rank: fetch the shortlist's full embeddings by equi-join —
    # Q x ADC_RERANK rows, broadcastable — and score exact L2.
    wa = Window.partitionBy("query_id").orderBy("approx_dist", "vec_id")
    cand = (
        adc.withColumn("ar", F.row_number().over(wa))
        .filter(F.col("ar") <= ADC_RERANK)
        .select("query_id", "vec_id")
    )
    q_emb = emb.select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("q_e")
    )
    c_emb = emb.select("vec_id", F.col("e").alias("c_e"))
    with_q = q_emb.join(F.broadcast(cand), "query_id")
    rr = c_emb.join(F.broadcast(with_q), "vec_id").select(
        "query_id",
        "vec_id",
        _sqdist(F.col("q_e"), F.col("c_e")).alias("dist"),
    )
    w = Window.partitionBy("query_id").orderBy("dist", "vec_id")
    return (
        rr.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round("dist", 6).alias("l2_dist"),
            F.col("rk").cast("long").alias("rk"),
        )
        .orderBy("query_id", "rk")
    )


# --- PCA top-m components (power iteration + modified Gram-Schmidt) --------

PCA_M = 3  # components emitted by sim_pca_top_m


def _sql_pca_m_oracle() -> str:
    """Unrolled DuckDB oracle for sim_pca_top_m: PCA_M components, each
    PCA_ITERS power-iteration rounds, deflated against the previously
    extracted components by modified Gram-Schmidt after EVERY round.  All
    corpus-side sums go through 6-dp-rounded DECIMAL(28,6); every 64-dim
    vector op (projections, norms) is an index-ordered list fold, so each
    CTE value is bit-identical to the Spark plan's.

    Every CTE is MATERIALIZED: DuckDB inlines an unmarked CTE at each
    reference, and each round references the previous one more than once,
    so the unrolled chain's work would grow exponentially with its depth
    (202 s at sf0.01 unmarked, against 0.16 s)."""
    ctes = []
    finals = []
    for j in range(PCA_M):
        for it in range(1, PCA_ITERS + 1):
            if it == 1:
                vexpr, vjoin = "0.125", ""
            else:
                vexpr, vjoin = "v[i]", f", v{j}_{it - 1}"
            ctes.append(f"""
    s{j}_{it} AS MATERIALIZED (
        SELECT vec_id, c,
               list_sum(list_transform(range(1, 65), i -> c[i] * {vexpr}))
                   AS s
        FROM cent{vjoin}
    ),
    w{j}_{it} AS MATERIALIZED (
        SELECT p.pos,
               CAST(SUM(CAST(ROUND(t.s * t.c[p.pos], 6) AS DECIMAL(28,6)))
                    AS DOUBLE) AS w
        FROM s{j}_{it} t
        CROSS JOIN (SELECT unnest(range(1, 65)) AS pos) p
        GROUP BY p.pos
    ),
    d{j}_{it}_0 AS MATERIALIZED (
        SELECT list(w ORDER BY pos) AS d FROM w{j}_{it}
    )""")
            for l in range(j):
                ctes.append(f"""
    p{j}_{it}_{l} AS MATERIALIZED (
        SELECT list_sum(list_transform(range(1, 65), k -> d[k] * vc[k]))
                   AS pr
        FROM d{j}_{it}_{l}, vc{l}
    ),
    d{j}_{it}_{l + 1} AS MATERIALIZED (
        SELECT list_transform(range(1, 65), k -> d[k] - pr * vc[k]) AS d
        FROM d{j}_{it}_{l}, p{j}_{it}_{l}, vc{l}
    )""")
            ctes.append(f"""
    n{j}_{it} AS MATERIALIZED (
        SELECT sqrt(list_sum(list_transform(range(1, 65), k -> d[k] * d[k])))
                   AS nrm
        FROM d{j}_{it}_{j}
    ),
    v{j}_{it} AS MATERIALIZED (
        SELECT list_transform(range(1, 65), k -> d[k] / nrm) AS v
        FROM d{j}_{it}_{j}, n{j}_{it}
    )""")
        ctes.append(
            f"    vc{j} AS MATERIALIZED (SELECT v AS vc FROM v{j}_{PCA_ITERS})"
        )
        finals.append(
            f"""
    SELECT {j} AS component, p.pos - 1 AS dim,
           ROUND(d[p.pos] / nrm, 9) AS loading,
           ROUND(nrm, 6) AS eigenvalue
    FROM d{j}_{PCA_ITERS}_{j}, n{j}_{PCA_ITERS},
         (SELECT unnest(range(1, 65)) AS pos) p"""
        )
    return (
        """
    WITH mu AS MATERIALIZED (
        SELECT pos,
               CAST(SUM(CAST(ROUND(CAST(v AS DOUBLE), 6) AS DECIMAL(18,6)))
                    AS DOUBLE) / COUNT(*) AS m
        FROM (SELECT unnest(embedding) AS v,
                     unnest(range(1, len(embedding) + 1)) AS pos
              FROM embeddings)
        GROUP BY pos
    ),
    muv AS MATERIALIZED (SELECT list(m ORDER BY pos) AS mv FROM mu),
    cent AS MATERIALIZED (
        SELECT vec_id,
               list_transform(range(1, 65),
                              i -> CAST(embedding[i] AS DOUBLE) - mv[i]) AS c
        FROM embeddings, muv
    ),"""
        + ",".join(ctes)
        + "\n    ".join([""] + [" UNION ALL ".join(finals)])
        + "\n    ORDER BY component, dim"
    )


def _arr_dot(a: Column, b: Column) -> Column:
    """Index-ordered fold dot product of two double arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


@query(
    "sim_pca_top_m",
    oracle=_sql_pca_m_oracle(),
    tags=("pipeline", "similarity", "pca", "iterative"),
)
def sim_pca_top_m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-PCA_M principal components by power iteration with deflation —
    the r5 single-component building block (sim_pca_power_iteration) turned
    into usable whitening prep.  Each component runs PCA_ITERS rounds of
    w = X_cT(X_c v); after every round the new w is deflated against the
    already-extracted components by modified Gram-Schmidt (sequentially
    subtract (w.vc_l) vc_l), which is what keeps component j converging to
    the j-th eigenvector instead of sliding back to the first.

    Distributed shape — identical per round to the r5 single-component op:
    v rides along as ONE broadcast row, s = c.v is a map-side fold, and the
    only exchange carries 64 decimal partial sums per partition; corpus
    rows never shuffle.  Everything downstream of w — deflation dots,
    norms, normalization — happens on ONE-row frames (64 doubles of model
    state, the same contract as _lloyd's k-row codebook); localCheckpoint
    cuts lineage per round so the final plan is m x iters corpus scans,
    each map-side.  At 100 TB you would cache X_c once; the scan count is
    m x iters either way and each pass is embarrassingly parallel.

    Arithmetic contract: corpus sums are 6-dp-rounded DECIMAL(28,6); every
    64-vector op is an index-ordered fold; division and sqrt are IEEE — so
    DuckDB's unrolled CTE chain reproduces loadings and eigenvalues
    bit-exactly.  Orthogonality/ordering are property-tested.
    """
    t = Tables(spark, sf_dir)
    emb = t.embeddings.select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double")).alias("e"),
    )
    mu = (
        emb.select(F.posexplode("e").alias("dim", "v"))
        .groupBy("dim")
        .agg(
            (
                F.sum(F.round(F.col("v"), 6).cast("decimal(18,6)")).cast(
                    "double"
                )
                / F.count("*")
            ).alias("m")
        )
        .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("sm"))
        .select(F.transform("sm", lambda s: s["m"]).alias("mv"))
    )
    cent = emb.join(F.broadcast(mu)).select(
        "vec_id", F.zip_with("e", "mv", lambda x, m: x - m).alias("c")
    )
    comps: list[DataFrame] = []  # one-row frames, column vc_{l}
    outs: list[DataFrame] = []
    for j in range(PCA_M):
        vdf = spark.range(1).select(
            F.array_repeat(F.lit(0.125), EMB_DIM).alias("v")
        )
        drow = None
        for _ in range(PCA_ITERS):
            scored = cent.join(F.broadcast(vdf)).select(
                "c", dot(F.col("c"), F.col("v")).alias("s")
            )
            w = (
                scored.select("s", F.posexplode("c").alias("dim", "x"))
                .groupBy("dim")
                .agg(
                    F.sum(
                        F.round(F.col("s") * F.col("x"), 6).cast(
                            "decimal(28,6)"
                        )
                    )
                    .cast("double")
                    .alias("w")
                )
            )
            drow = (
                w.agg(
                    F.array_sort(F.collect_list(F.struct("dim", "w"))).alias(
                        "sw"
                    )
                )
                .select(F.transform("sw", lambda s: s["w"]).alias("d"))
            )
            # modified Gram-Schmidt against the extracted components
            for l, vcrow in enumerate(comps):
                drow = (
                    drow.crossJoin(vcrow)
                    .withColumn(
                        "pr", _arr_dot(F.col("d"), F.col(f"vc_{l}"))
                    )
                    .select(
                        F.zip_with(
                            "d",
                            f"vc_{l}",
                            lambda x, p: x - F.col("pr") * p,
                        ).alias("d")
                    )
                )
            drow = drow.localCheckpoint(eager=False)  # one row of model state
            nrm = F.sqrt(
                F.aggregate(
                    F.transform("d", lambda x: x * x),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            )
            vdf = drow.select(
                F.transform("d", lambda x: x / nrm).alias("v")
            )
        comps.append(
            drow.select(
                F.transform("d", lambda x: x / nrm).alias(f"vc_{j}")
            ).localCheckpoint(eager=False)
        )
        outs.append(
            drow.withColumn("nrm", nrm)
            .select(F.posexplode("d").alias("dim", "w"), "nrm")
            .select(
                F.lit(j).alias("component"),
                "dim",
                F.round(F.col("w") / F.col("nrm"), 9).alias("loading"),
                F.round("nrm", 6).alias("eigenvalue"),
            )
        )
    from functools import reduce

    return reduce(lambda a, b: a.unionByName(b), outs).orderBy(
        "component", "dim"
    )


# --- centroid-distance outlier filter --------------------------------------

OUTLIER_FACTOR = 1.5  # dist > factor x per-label mean dist -> outlier


@query(
    "sim_outlier_filter",
    oracle=f"""
    WITH cent AS (
        SELECT label, pos,
               CAST(SUM(CAST(ROUND(CAST(v AS DOUBLE), 6) AS DECIMAL(18,6)))
                    AS DOUBLE) / COUNT(*) AS c
        FROM (SELECT label, unnest(embedding) AS v,
                     unnest(range(1, len(embedding) + 1)) AS pos
              FROM embeddings)
        GROUP BY label, pos
    ),
    carr AS (SELECT label, list(c ORDER BY pos) AS cv
             FROM cent GROUP BY label),
    d AS (
        SELECT e.label, e.vec_id,
               sqrt(list_sum(list_transform(range(1, 65),
                   i -> (CAST(e.embedding[i] AS DOUBLE) - cv[i])
                      * (CAST(e.embedding[i] AS DOUBLE) - cv[i])))) AS dist
        FROM embeddings e JOIN carr ON carr.label = e.label
    ),
    s AS (
        SELECT label, COUNT(*) AS n,
               CAST(SUM(CAST(ROUND(dist, 6) AS DECIMAL(28,6))) AS DOUBLE)
                   / COUNT(*) AS avg_dist,
               MAX(dist) AS max_dist
        FROM d GROUP BY label
    )
    SELECT s.label, CAST(s.n AS BIGINT) AS n,
           CAST(SUM(CASE WHEN d.dist > {OUTLIER_FACTOR} * s.avg_dist
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           ROUND(s.avg_dist, 6) AS avg_dist,
           ROUND(s.max_dist, 6) AS max_dist
    FROM d JOIN s ON s.label = d.label
    GROUP BY s.label, s.n, s.avg_dist, s.max_dist
    ORDER BY s.label
    """,
    tags=("pipeline", "similarity", "quality", "outlier"),
)
def sim_outlier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier detection for corpus cleaning: per label,
    the decimal-exact centroid, each vector's L2 distance to its own
    centroid, and a per-label report of how many vectors sit beyond
    OUTLIER_FACTOR x the label's mean distance — the standard "drop
    mislabeled / off-distribution examples before training" filter
    (downstream, the same predicate filters rows instead of counting
    them).

    Scale shape: two corpus passes, zero corpus shuffles — the centroid
    pass exchanges only per-(label, dim) decimal partials; distances are
    a map-side fold against the broadcast centroid table; the per-label
    stats broadcast back for the outlier comparison.  Arithmetic
    contract: centroid means DECIMAL(18,6), mean distance over
    6-dp-rounded DECIMAL(28,6) sums, index-ordered distance folds —
    bit-exact vs the oracle."""
    t = Tables(spark, sf_dir)
    emb = t.embeddings.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda v: v.cast("double")).alias("e"),
    )
    carr = (
        emb.select("label", F.posexplode("e").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(
            (
                F.sum(F.round("v", 6).cast("decimal(18,6)")).cast("double")
                / F.count("*")
            ).alias("c")
        )
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "c"))).alias("sc"))
        .select("label", F.transform("sc", lambda s: s["c"]).alias("cv"))
    )
    d = emb.join(F.broadcast(carr), "label").select(
        "label",
        "vec_id",
        F.sqrt(_sqdist(F.col("e"), F.col("cv"))).alias("dist"),
    )
    s = d.groupBy("label").agg(
        F.count("*").alias("n"),
        (
            F.sum(F.round("dist", 6).cast("decimal(28,6)")).cast("double")
            / F.count("*")
        ).alias("avg_dist"),
        F.max("dist").alias("max_dist"),
    )
    return (
        d.join(F.broadcast(s), "label")
        .groupBy("label", "n", "avg_dist", "max_dist")
        .agg(
            F.sum(
                F.when(
                    F.col("dist") > OUTLIER_FACTOR * F.col("avg_dist"), 1
                ).otherwise(0)
            ).cast("bigint").alias("n_outliers")
        )
        .select(
            "label",
            F.col("n").cast("bigint"),
            "n_outliers",
            F.round("avg_dist", 6).alias("avg_dist"),
            F.round("max_dist", 6).alias("max_dist"),
        )
        .orderBy("label")
    )


# --- Matryoshka (truncated-dimension) ANN ----------------------------------

MRL_DIM = 16  # leading dims used by the truncated search path

_SQL_MRL_DOT = (
    f"list_sum(list_transform(range(1, {MRL_DIM + 1}), i -> "
    "CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))"
)
_SQL_MRL_NORM_Q = (
    f"sqrt(list_sum(list_transform(range(1, {MRL_DIM + 1}), i -> "
    "CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))))"
)
_SQL_MRL_NORM_C = (
    f"sqrt(list_sum(list_transform(range(1, {MRL_DIM + 1}), i -> "
    "CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))))"
)


@query(
    "sim_matryoshka_topk",
    oracle=f"""
    SELECT query_id, neighbor_id, cos_sim FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROUND({_SQL_MRL_DOT} / ({_SQL_MRL_NORM_Q} * {_SQL_MRL_NORM_C}),
                     6) AS cos_sim,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY {_SQL_MRL_DOT} / ({_SQL_MRL_NORM_Q}
                                              * {_SQL_MRL_NORM_C}) DESC,
                            c.vec_id) AS rn
        FROM embeddings q CROSS JOIN embeddings c
        WHERE q.vec_id % {QUERY_MOD} = 0 AND q.vec_id < {QUERY_CAP}
          AND c.vec_id <> q.vec_id)
    WHERE rn <= {TOP_K}
    ORDER BY query_id, neighbor_id
    """,
    tags=("pipeline", "similarity", "matryoshka", "ann"),
)
def sim_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncated ANN: exact cosine top-k using only the LEADING
    MRL_DIM dimensions of each embedding — the serving trick
    matryoshka-trained embedding models enable (Kusupati et al., 2022):
    score with a 4x-smaller prefix, optionally re-rank survivors at full
    width.  Completes the repo's accuracy/cost ladder: full brute force >
    trained IVF / IVF-PQ > int8 > THIS (prefix truncation), each with the
    same capped-broadcast query side and exact oracle.  (The synthetic
    fixture is not matryoshka-trained, so prefix agreement with the full
    search is bounded — the overlap test pins an order of magnitude above
    the random baseline, not production recall.)

    Scale shape: that of sim_knn_bruteforce_arrow — the corpus streams and
    never shuffles; the only difference is 4x less arithmetic and (with a
    prefix-projected parquet column) 4x less I/O per scan.  Quality vs
    the full-width search is pinned by
    tests/test_functions.py::test_matryoshka_overlap_vs_full."""
    from pyspark.sql import Window

    t = Tables(spark, sf_dir)
    emb = t.embeddings.select(
        "vec_id",
        F.slice(
            F.transform("embedding", lambda v: v.cast("double")), 1, MRL_DIM
        ).alias("e"),
    )
    q = emb.filter(
        (F.col("vec_id") % QUERY_MOD == 0) & (F.col("vec_id") < QUERY_CAP)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("q_e"),
        norm(F.col("e")).alias("qn"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("e").alias("c_e"),
        norm(F.col("e")).alias("cn"),
    )
    scored = (
        c.join(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                dot(F.col("q_e"), F.col("c_e")) / (F.col("qn") * F.col("cn"))
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select(
            "query_id", "neighbor_id", F.round("cos", 6).alias("cos_sim")
        )
        .orderBy("query_id", "neighbor_id")
    )


SEMDEDUP_COS = 0.3  # same tail-hitting threshold as dedup_embedding_cosine


def _semdedup_assigned(spark: SparkSession, sf_dir: str, k: int):
    """SemDeDup front half: train the coarse quantizer (`_lloyd`) and
    assign every vector to its nearest centroid map-side (an index-ordered
    fold argmin over the broadcast codebook, smallest cid on a tie).
    Returns (vec_id, e, cid)."""
    t = Tables(spark, sf_dir)
    emb = t.embeddings.select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double")).alias("e"),
    )
    cent, _ = _lloyd(spark, emb, k)
    cents_row = cent.agg(F.collect_list(F.struct("cid", "cv")).alias("cents"))
    dist_structs = F.transform(
        "cents",
        lambda c: F.struct(
            _sqdist(F.col("e"), c["cv"]).alias("d"), c["cid"].alias("cid")
        ),
    )
    return emb.join(F.broadcast(cents_row)).select(
        "vec_id", "e", F.array_min(dist_structs)["cid"].alias("cid")
    )


_SQL_SEM_COS = (
    "list_sum(list_transform(range(1, 65), i -> "
    "CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) "
    "/ (sqrt(list_sum(list_transform(range(1, 65), i -> "
    "CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)))) "
    "* sqrt(list_sum(list_transform(range(1, 65), i -> "
    "CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))))"
)


@query(
    "sim_semantic_dedup",
    oracle=f"""
    WITH init AS (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid,
               list_transform(embedding, v -> CAST(v AS DOUBLE)) AS cv
        FROM (SELECT vec_id, embedding FROM embeddings
              ORDER BY vec_id LIMIT {KM_K})
    ),
    {_sql_km_round("init", "a1", "m1", "c1")},
    {_sql_km_round("c1", "a2", "m2", "c2")},
    fin AS (
        SELECT vec_id, cid FROM (
            SELECT e.vec_id, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                      ORDER BY {_SQL_KM_DIST} ASC, c.cid ASC)
                       AS rn
            FROM embeddings e CROSS JOIN c2 c)
        WHERE rn = 1
    ),
    v AS (
        SELECT f.cid, e.vec_id, e.embedding
        FROM fin f JOIN embeddings e ON e.vec_id = f.vec_id
    ),
    dropped AS (
        SELECT DISTINCT b.vec_id
        FROM v a JOIN v b
          ON a.cid = b.cid AND a.vec_id < b.vec_id
        WHERE {_SQL_SEM_COS} >= {SEMDEDUP_COS}
    )
    SELECT v.cid AS cid,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(COUNT(d.vec_id) AS BIGINT) AS n_dropped
    FROM v LEFT JOIN dropped d ON d.vec_id = v.vec_id
    GROUP BY v.cid
    ORDER BY cid
    """,
    tags=("pipeline", "similarity", "dedup", "kmeans", "semantic"),
    bench=True,
)
def sim_semantic_dedup(
    spark: SparkSession, sf_dir: str, k: int = KM_K
) -> DataFrame:
    """Semantic deduplication (the SemDeDup recipe, Abbas et al. 2023):
    cluster the corpus with the TRAINED coarse quantizer, then search for
    near-duplicate pairs only WITHIN each cluster and drop every vector
    that has a more-canonical (lower vec_id) similar neighbor.  This is
    the learned-blocking upgrade `dedup_embedding_cosine`'s docstring
    promises: label-blocking becomes k-means-blocking, so the operator
    needs no pre-existing label column.  Output is the per-cluster dedup
    report (cluster size, vectors dropped).

    Scale shape: training is `_lloyd` (per-round shuffles carry k x dim
    decimal partials only); final assignment is a map-side array_min over
    the broadcast codebook; the pair search is ONE exchange on cid, and
    each cluster block flows through `applyInPandas` as one group —
    quadratic only within a cluster, the knob being k (more clusters =
    smaller blocks; the bench vector_scale leg runs k = n/256, so blocks
    stay ~256 rows regardless of corpus size), which is how SemDeDup runs
    at web scale (BLAS within blocks).  The drop rule (exists a similar
    neighbor with smaller id) needs no iterative connected components and
    is deterministic.

    Exactness: the block's gram matrix only SCREENS pairs; the exact
    threshold kernel (`_vector_kernels` ``over_threshold``) recomputes
    every pair within KNN_SCREEN_MARGIN of SEMDEDUP_COS with the oracle's
    index-ordered fold cosine, so each drop decision is the oracle's.  A
    zero-norm vector that has a pair is outside the cosine's domain and
    fails loudly."""
    import numpy as np
    import pandas as pd

    kern = _vector_kernels()
    fold_dot, over_threshold = kern.fold_dot, kern.over_threshold

    def _per_cluster(pdf: "pd.DataFrame") -> "pd.DataFrame":
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        mat = np.array(pdf["e"].tolist(), dtype=np.float64)[order]
        nrm = np.sqrt(fold_dot(mat, mat))
        if len(ids) > 1 and not nrm.all():  # a pair's cosine would divide by 0
            raise ValueError(
                f"zero-norm embedding(s): vec_id {ids[nrm == 0][:5]}"
            )
        # rows are id-sorted, so j (> i) is the higher id of each pair
        _, j = over_threshold(mat, nrm, SEMDEDUP_COS)
        return pd.DataFrame(
            {
                "cid": [int(pdf["cid"].iloc[0])],
                "n_vectors": [len(ids)],
                "n_dropped": [len(np.unique(j))],
            }
        )

    return (
        _semdedup_assigned(spark, sf_dir, k)
        .groupBy("cid")
        .applyInPandas(_per_cluster, "cid int, n_vectors long, n_dropped long")
        .orderBy("cid")
    )


@query(
    "sim_silhouette_simplified",
    oracle=f"""
    WITH init AS (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid,
               list_transform(embedding, v -> CAST(v AS DOUBLE)) AS cv
        FROM (SELECT vec_id, embedding FROM embeddings
              ORDER BY vec_id LIMIT {KM_K})
    ),
    {_sql_km_round("init", "a1", "m1", "c1")},
    {_sql_km_round("c1", "a2", "m2", "c2")},
    scored AS (
        SELECT vec_id, cid,
               CASE WHEN greatest(d_own, d_other) = 0.0 THEN 0.0
                    ELSE (d_other - d_own) / greatest(d_own, d_other)
               END AS s
        FROM (
            SELECT vec_id,
                   MIN(CASE WHEN rn = 1 THEN cid END) AS cid,
                   MIN(CASE WHEN rn = 1 THEN d END) AS d_own,
                   MIN(CASE WHEN rn > 1 THEN d END) AS d_other
            FROM (
                SELECT e.vec_id, c.cid,
                       sqrt({_SQL_KM_DIST}) AS d,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                          ORDER BY {_SQL_KM_DIST} ASC,
                                                   c.cid ASC) AS rn
                FROM embeddings e CROSS JOIN c2 c
            )
            GROUP BY vec_id
        )
    )
    SELECT cid,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           ROUND(CAST(SUM(CAST(ROUND(s, 9) AS DECIMAL(28,9))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_silhouette
    FROM scored
    GROUP BY cid
    ORDER BY cid
    """,
    tags=("pipeline", "similarity", "kmeans", "evaluation", "silhouette"),
)
def sim_silhouette_simplified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-quality evaluation: the SIMPLIFIED silhouette
    coefficient (distance to own centroid vs nearest OTHER centroid,
    s = (b - a)/max(a, b)) per trained k-means cluster — the standard
    O(n*k) proxy for the O(n^2) true silhouette, and the metric that
    decides whether the IVF codebook's k is right before serving
    (near-zero or negative cluster means = merge/re-train signal).

    Scale shape: training is `_lloyd`; scoring is entirely MAP-SIDE —
    each vector computes all k centroid distances from the broadcast
    codebook and takes (own, next-best) in one array pass; the only
    exchange is the per-cluster rollup of 9-dp decimal partial sums
    (order-insensitive, hence oracle-exact).  Distances take a sqrt —
    IEEE-exact — of the shared index-ordered fold."""
    t = Tables(spark, sf_dir)
    emb = t.embeddings.select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double")).alias("e"),
    )
    cent, _ = _lloyd(spark, emb)
    cents_row = cent.agg(F.collect_list(F.struct("cid", "cv")).alias("cents"))
    dist_structs = F.array_sort(
        F.transform(
            "cents",
            lambda c: F.struct(
                _sqdist(F.col("e"), c["cv"]).alias("d"), c["cid"].alias("cid")
            ),
        )
    )
    scored = (
        emb.join(F.broadcast(cents_row))
        .select(
            "vec_id",
            F.element_at(dist_structs, 1)["cid"].alias("cid"),
            F.sqrt(F.element_at(dist_structs, 1)["d"]).alias("d_own"),
            F.sqrt(F.element_at(dist_structs, 2)["d"]).alias("d_other"),
        )
        .select(
            "vec_id",
            "cid",
            F.when(F.greatest("d_own", "d_other") == 0.0, F.lit(0.0))
            .otherwise(
                (F.col("d_other") - F.col("d_own"))
                / F.greatest("d_own", "d_other")
            )
            .alias("s"),
        )
    )
    return (
        scored.groupBy("cid")
        .agg(
            F.count("*").cast("bigint").alias("n_vectors"),
            F.round(
                F.sum(F.round("s", 9).cast("decimal(28,9)")).cast("double")
                / F.count("*"),
                6,
            ).alias("mean_silhouette"),
        )
        .orderBy("cid")
    )


NEG_K = 5  # hard negatives mined per query


@query(
    "sim_hard_negatives",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, label AS q_label, embedding AS qe
        FROM embeddings
        WHERE vec_id % {QUERY_MOD} = 0 AND vec_id < {QUERY_CAP}
    ),
    scored AS (
        SELECT q.query_id, e.vec_id AS neg_id, e.label AS neg_label,
               list_sum(list_transform(range(1, 65), i ->
                   CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(range(1, 65), i ->
                      CAST(e.embedding[i] AS DOUBLE)
                      * CAST(e.embedding[i] AS DOUBLE))))
                * sqrt(list_sum(list_transform(range(1, 65), i ->
                      CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))))
                   AS cos
        FROM embeddings e CROSS JOIN q
        WHERE e.label <> q.q_label
    )
    SELECT query_id, neg_id, CAST(neg_label AS INT) AS neg_label,
           ROUND(cos, 6) AS cos_sim, CAST(rk AS BIGINT) AS rk
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neg_id) AS rk
        FROM scored
    ) WHERE rk <= {NEG_K}
    ORDER BY query_id, rk
    """,
    tags=("pipeline", "similarity", "training", "hard-negatives"),
)
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive embedding training: for each
    query vector, the top-{NEG_K} most similar vectors with a DIFFERENT
    label — the negatives that sit closest to the decision boundary and
    dominate the training signal (in-batch random negatives are mostly
    trivial).  This is the retrieval shape every two-tower/CLIP-style
    data pipeline runs between epochs.

    Scale shape: the posture of sim_knn_bruteforce_arrow — the query set
    is hard-capped (QUERY_BUDGET) and broadcasts; the label-mismatch
    filter and cosine are map-side over the streamed corpus; per-query
    top-k goes through WindowGroupLimit.  At 100 TB the corpus scan
    swaps to the trained-IVF probe with the label filter as a residual —
    mining cost ∝ nprobe/k, same output contract."""
    t = Tables(spark, sf_dir)
    emb = t.embeddings
    q = emb.filter(
        (F.col("vec_id") % QUERY_MOD == 0) & (F.col("vec_id") < QUERY_CAP)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("qe"),
    ).withColumn("nq", norm(F.col("qe")))
    # r16 (guide §1.2): norms hoisted below the broadcast join — once per
    # corpus row / per query instead of per pair; same fold expressions
    # multiplied in the same order, bit-identical cosines.
    c = emb.select(
        "vec_id", "label", "embedding", norm(F.col("embedding")).alias("ne")
    )
    scored = (
        c.join(F.broadcast(q))
        .filter(F.col("label") != F.col("q_label"))
        .select(
            "query_id",
            F.col("vec_id").alias("neg_id"),
            F.col("label").alias("neg_label"),
            (
                dot(F.col("embedding"), F.col("qe"))
                / (F.col("ne") * F.col("nq"))
            ).alias("cos"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neg_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= NEG_K)
        .select(
            "query_id",
            "neg_id",
            F.col("neg_label").cast("int").alias("neg_label"),
            F.round("cos", 6).alias("cos_sim"),
            F.col("rk").cast("bigint").alias("rk"),
        )
        .orderBy("query_id", "rk")
    )


def _ann_recall_oracle() -> str:
    """Compose the brute-force and trained-IVF oracles verbatim (both are
    bit-exact), so ANN recall itself becomes a driver-provable number."""
    from auron_spark.registry import REGISTRY as _R

    brute = _R["sim_knn_bruteforce_arrow"].oracle
    ivf = _R["sim_knn_ivf_trained"].oracle
    return f"""
    WITH b AS ({brute}), v AS ({ivf})
    SELECT b.query_id,
           CAST(COUNT(*) AS BIGINT) AS n_true,
           CAST(COUNT(v.neighbor_id) AS BIGINT) AS n_hit,
           ROUND(CAST(COUNT(v.neighbor_id) AS DOUBLE) / COUNT(*), 6)
               AS recall
    FROM b LEFT JOIN v ON v.query_id = b.query_id
                      AND v.neighbor_id = b.neighbor_id
    GROUP BY b.query_id
    ORDER BY b.query_id
    """


@query(
    "sim_ann_recall_report",
    oracle=_ann_recall_oracle(),
    tags=("pipeline", "similarity", "evaluation", "recall"),
)
def sim_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation as a QUERY: per-query recall of the trained
    IVF tier against the exact brute-force top-k, computed in one plan —
    the serving-quality dashboard a vector platform watches (recall
    drops = retrain signal), and driver-provable because BOTH tiers have
    bit-exact oracles (the recall pytest checks a floor; this makes the
    exact per-query numbers part of the hash contract).

    Scale shape: both tiers share the capped broadcast query set; the
    overlap join is on (query_id, neighbor_id) — top-k-sized per query,
    tiny; the rollup is |queries| rows.  The oracle embeds both tier
    oracles verbatim so the report can never drift from the tiers."""
    from auron_spark.registry import REGISTRY as _R

    brute = _R["sim_knn_bruteforce_arrow"].build(spark, sf_dir)
    ivf = _R["sim_knn_ivf_trained"].build(spark, sf_dir)
    b = brute.select("query_id", "neighbor_id")
    v = ivf.select("query_id", "neighbor_id").withColumn("hit", F.lit(1))
    return (
        b.join(v, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("*").cast("bigint").alias("n_true"),
            F.count("hit").cast("bigint").alias("n_hit"),
            F.round(
                F.count("hit").cast("double") / F.count("*"), 6
            ).alias("recall"),
        )
        .orderBy("query_id")
    )


@query(
    "sim_pq_distortion_report",
    oracle="WITH "
    + _PQ_CTES
    + """
    , bestd AS (
        SELECT vec_id, own_label, sub, dist,
               row_number() OVER (PARTITION BY vec_id, sub
                                  ORDER BY dist, label) AS rn
        FROM scored
    ),
    per_vec AS (
        SELECT vec_id, own_label,
               CAST(SUM(CAST(ROUND(dist, 9) AS DECIMAL(28,9))) AS DOUBLE)
                   AS sq_err
        FROM bestd WHERE rn = 1
        GROUP BY vec_id, own_label
    )
    SELECT CAST(own_label AS INT) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           ROUND(CAST(SUM(CAST(ROUND(sq_err, 9) AS DECIMAL(28,9)))
                      AS DOUBLE) / COUNT(*), 6) AS mean_sq_err,
           ROUND(MAX(sq_err), 6) AS max_sq_err
    FROM per_vec
    GROUP BY own_label
    ORDER BY label
    """,
    tags=("pipeline", "similarity", "evaluation", "quantization"),
)
def sim_pq_distortion_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantization-distortion report — the third leg of the ANN
    evaluation family (recall: sim_ann_recall_report; cluster quality:
    sim_silhouette_simplified): per-label mean and max squared
    reconstruction error of the PQ code assignment, i.e. how much
    geometry the 8-byte codes destroy.  Rising distortion on fresh data
    is the retrain-the-codebook signal, and per-label breakdown
    localizes WHICH region of the space the codebook under-fits.

    Scale shape: the same broadcast-codebook scoring as sim_pq_codes
    (per-(vec, sub) distances map-side over the broadcast codeword
    arrays, argmin via the bounded (vec, sub) window); per-vector and
    per-label rollups sum 9-dp decimals so both engines agree
    bit-for-bit despite unordered aggregation."""
    t = Tables(spark, sf_dir)
    emb = t.embeddings
    carr = _pq_codebook(emb)
    from pyspark.sql.window import Window

    scored = _pq_subvectors(emb).join(F.broadcast(carr), "sub").select(
        "vec_id",
        "own_label",
        "sub",
        "label",
        _sub_l2(F.col("v8"), F.col("cv")).alias("dist"),
    )
    w = Window.partitionBy("vec_id", "sub").orderBy("dist", "label")
    best = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "own_label", "dist")
    )
    per_vec = best.groupBy("vec_id", "own_label").agg(
        F.sum(F.round("dist", 9).cast("decimal(28,9)"))
        .cast("double")
        .alias("sq_err")
    )
    return (
        per_vec.groupBy("own_label")
        .agg(
            F.count("*").cast("bigint").alias("n_vectors"),
            F.round(
                F.sum(F.round("sq_err", 9).cast("decimal(28,9)")).cast(
                    "double"
                )
                / F.count("*"),
                6,
            ).alias("mean_sq_err"),
            F.round(F.max("sq_err"), 6).alias("max_sq_err"),
        )
        .select(
            F.col("own_label").cast("int").alias("label"),
            "n_vectors",
            "mean_sq_err",
            "max_sq_err",
        )
        .orderBy("label")
    )


# --- persisted-index IVF-PQ serving (VERDICT r6 ask #4) --------------------

# Train-once/serve-many: the Lloyd centroids, residual PQ codebook and corpus
# codes are parquet ARTIFACTS, keyed by scale-factor directory name.  The
# artifact root is committed to the repo (deterministic training: seeded init
# + decimal-exact means, so rebuilds are byte-stable) — `sim_ivfpq_serve`
# then measures ONLY the per-batch serving work, which is what a 100 TB
# vector pipeline actually runs per query batch; `sim_ivfpq_trained` remains
# the end-to-end twin that re-trains inline.
from pathlib import Path as _Path

from auron_spark.artifacts import ORACLE_SF_DIR as _ORACLE_SF_DIR
from auron_spark.artifacts import artifact_dir as _artifact_dir
from auron_spark.artifacts import ensure_artifact


def ivfpq_artifact_dir(sf_dir: str) -> str:
    return _artifact_dir("ivfpq", sf_dir)


def build_ivfpq_index(spark: SparkSession, sf_dir: str) -> str:
    """Train the IVF-PQ model and persist it as parquet artifacts:

    - ``centroids/``  (cid, cv)            — k rows, the coarse quantizer;
    - ``codebook/``   (label, sub, cv)     — |labels| x 8 rows, residual PQ;
    - ``codes/cid=*/``(vec_id, sub, code)  — 8 rows per corpus vector,
      partitioned by inverted list so a cid-filtered scan prunes to the
      probed lists (the on-disk layout an IVF index wants: at 100 TB each
      list is a directory and a query batch touches nprobe/k of them).

    Idempotent: returns immediately when ``_INDEX_COMPLETE`` exists (the
    train-once contract).  Concurrency-safe via `artifacts.ensure_artifact`:
    the whole index trains into a temp dir and publishes with one atomic
    rename, so racing bench/test invocations can never commit a torn
    artifact."""

    def _build(into: str) -> None:
        t = Tables(spark, sf_dir)
        emb = t.embeddings.select(
            "vec_id",
            "label",
            F.transform("embedding", lambda v: v.cast("double")).alias("e"),
        )
        cent, _cents_row, _cmap_row, rcarr, codes = _ivfpq_train_frames(
            spark, emb
        )
        cent.coalesce(1).write.mode("overwrite").parquet(f"{into}/centroids")
        rcarr.coalesce(1).write.mode("overwrite").parquet(f"{into}/codebook")
        (
            codes.repartition(1)
            .write.mode("overwrite")
            .partitionBy("cid")
            .parquet(f"{into}/codes")
        )

    return ensure_artifact(
        ivfpq_artifact_dir(sf_dir), "_INDEX_COMPLETE", _build
    )


_SERVE_ART = ivfpq_artifact_dir(_ORACLE_SF_DIR)


@query(
    "sim_ivfpq_serve",
    oracle=f"""
    WITH cents AS (
        SELECT cid, cv FROM read_parquet('{_SERVE_ART}/centroids/*.parquet')
    ),
    rq AS (
        SELECT label, sub, cv
        FROM read_parquet('{_SERVE_ART}/codebook/*.parquet')
    ),
    codes AS (
        SELECT vec_id, CAST(cid AS INT) AS cid, sub, code
        FROM read_parquet('{_SERVE_ART}/codes/*/*.parquet',
                          hive_partitioning = true)
    ),
    probe AS (
        SELECT query_id, cid FROM (
            SELECT e.vec_id AS query_id, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                      ORDER BY {_SQL_KM_ASSIGN_DIST} ASC,
                                               c.cid ASC) AS rn
            FROM embeddings e CROSS JOIN cents c
            WHERE e.vec_id % {QUERY_MOD} = 0
              AND e.vec_id < {QUERY_CAP})
        WHERE rn <= {N_PROBE}
    ),
    qres AS (
        SELECT p.query_id, p.cid,
               list_transform(range(1, 65),
                              i -> CAST(q.embedding[i] AS DOUBLE) - c.cv[i])
                   AS qr
        FROM probe p
        JOIN embeddings q ON q.vec_id = p.query_id
        JOIN cents c ON c.cid = p.cid
    ),
    qsv AS (
        SELECT query_id, cid, t.m AS sub,
               list_slice(qr, t.m * 8 + 1, t.m * 8 + 8) AS v8
        FROM qres, range(0, 8) t(m)
    ),
    lut AS (
        SELECT query_id, cid, qsv.sub, rq.label AS code,
               CAST(ROUND({_SQL_RES_SUB_L2}, 9) AS DECIMAL(28,9)) AS d9
        FROM qsv JOIN rq ON qsv.sub = rq.sub
    ),
    adc AS (
        SELECT l.query_id, c.vec_id,
               CAST(SUM(l.d9) AS DOUBLE) AS approx_dist
        FROM codes c
        JOIN lut l ON l.cid = c.cid AND l.sub = c.sub AND l.code = c.code
        WHERE c.vec_id <> l.query_id
        GROUP BY l.query_id, c.vec_id
    ),
    cand AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY approx_dist, vec_id) AS ar
            FROM adc) WHERE ar <= {ADC_RERANK}
    ),
    rr AS (
        SELECT cand.query_id, cand.vec_id,
               list_sum(list_transform(range(1, 65),
                   i -> (CAST(q.embedding[i] AS DOUBLE)
                         - CAST(c.embedding[i] AS DOUBLE))
                      * (CAST(q.embedding[i] AS DOUBLE)
                         - CAST(c.embedding[i] AS DOUBLE)))) AS dist
        FROM cand
        JOIN embeddings q ON q.vec_id = cand.query_id
        JOIN embeddings c ON c.vec_id = cand.vec_id
    )
    SELECT query_id, neighbor_id, l2_dist, CAST(rk AS BIGINT) AS rk
    FROM (
        SELECT query_id, vec_id AS neighbor_id, ROUND(dist, 6) AS l2_dist,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY dist, vec_id) AS rk
        FROM rr) WHERE rk <= {TOP_K}
    ORDER BY query_id, rk
    """,
    tags=("pipeline", "similarity", "ivf", "pq", "ann", "serving"),
    bench=True,
)
def sim_ivfpq_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ SERVING against the persisted index (VERDICT r6 ask #4): the
    per-batch work of a production vector pipeline — probe, LUT, ADC scan,
    exact re-rank — with the model read from parquet artifacts instead of
    re-trained inline.  Bit-identical output to `sim_ivfpq_trained` (the
    artifact is the deterministic trainer's output, and the oracle reads
    the SAME parquet files — pinned to ORACLE_SF_DIR at registration, see
    `auron_spark/artifacts.py` for the static-SQL-vs-runtime-sf contract),
    but the bench number is an honest serving cost: no Lloyd rounds, no
    corpus encode.

    Scale shape: the model scans are k rows (centroids), |labels| x 8 rows
    (codebook) and the codes index — (vec_id, sub, code) ints partitioned
    by inverted list, 32x smaller than the embeddings; probing/LUT are
    map-side over the broadcast model; the ADC scan is the codes⋈LUT
    equi-join; the re-rank fetches Q x ADC_RERANK embeddings by broadcast
    equi-join.  Nothing corpus-sized shuffles.

    Reference frame: completes SURVEY §7 step 11's ANN ladder with the
    train-once/serve-many contract."""
    d = build_ivfpq_index(spark, sf_dir)
    cent = spark.read.parquet(f"{d}/centroids")
    rcarr = spark.read.parquet(f"{d}/codebook")
    codes = spark.read.parquet(f"{d}/codes").select(
        "vec_id", F.col("cid").cast("int").alias("cid"), "sub", "code"
    )
    cents_row = cent.agg(F.collect_list(F.struct("cid", "cv")).alias("cents"))
    cmap_row = cent.agg(
        F.map_from_entries(F.collect_list(F.struct("cid", "cv"))).alias("cmap")
    )
    t = Tables(spark, sf_dir)
    emb = t.embeddings.select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double")).alias("e"),
    )
    return _ivfpq_serve_stage(emb, cents_row, cmap_row, rcarr, codes)


@query(
    "sim_knn_ivf_serve",
    oracle=f"""
    WITH cents AS (
        SELECT cid, cv FROM read_parquet('{_SERVE_ART}/centroids/*.parquet')
    ),
    lists AS (
        SELECT vec_id, CAST(cid AS INT) AS cid
        FROM read_parquet('{_SERVE_ART}/codes/*/*.parquet',
                          hive_partitioning = true)
        WHERE sub = 0
    ),
    probe AS (
        SELECT query_id, cid FROM (
            SELECT e.vec_id AS query_id, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                      ORDER BY {_SQL_KM_ASSIGN_DIST} ASC,
                                               c.cid ASC) AS rn
            FROM embeddings e CROSS JOIN cents c
            WHERE e.vec_id % {QUERY_MOD} = 0
              AND e.vec_id < {QUERY_CAP})
        WHERE rn <= {N_PROBE}
    ),
    scored AS (
        SELECT p.query_id, l.vec_id AS neighbor_id,
               {_SQL_DOT} / ({_SQL_NORM_Q} * {_SQL_NORM_C}) AS cos
        FROM probe p
        JOIN lists l ON l.cid = p.cid AND l.vec_id <> p.query_id
        JOIN embeddings q ON q.vec_id = p.query_id
        JOIN embeddings c ON c.vec_id = l.vec_id
    )
    SELECT query_id, neighbor_id, cos_sim FROM (
        SELECT query_id, neighbor_id, ROUND(cos, 6) AS cos_sim,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rn
        FROM scored) WHERE rn <= {TOP_K}
    ORDER BY query_id, neighbor_id
    """,
    tags=("pipeline", "similarity", "ivf", "ann", "serving"),
    bench=True,
)
def sim_knn_ivf_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat SERVING against the persisted index (the milder sibling of
    `sim_ivfpq_serve` — VERDICT r6 noted `sim_knn_ivf_trained`'s inline
    `_lloyd` has the same train-in-the-bench shape): centroids and
    inverted-list membership come from the parquet artifacts
    (`build_ivfpq_index` — the coarse quantizer and cid assignment are
    shared between IVF-flat and IVF-PQ, so one index build serves both),
    queries probe their N_PROBE nearest lists map-side over the broadcast
    codebook, and exact cosine re-ranks within the probed lists with
    vectors fetched by equi-join.  Bit-identical to
    `sim_knn_ivf_trained`'s output.

    Scale shape: model scans are k rows + the codes index filtered to one
    sub (partition-pruned column subset); probing is map-side; the
    candidate fetch is a vec_id equi-join against the embeddings table
    (in production, the list-local vector store); per-query top-k is
    WindowGroupLimit.  No Lloyd rounds, no corpus assignment pass."""
    from pyspark.sql import Window

    d = build_ivfpq_index(spark, sf_dir)
    cent = spark.read.parquet(f"{d}/centroids")
    lists_idx = (
        spark.read.parquet(f"{d}/codes")
        .where(F.col("sub") == 0)
        .select("vec_id", F.col("cid").cast("int").alias("cid"))
    )
    t = Tables(spark, sf_dir)
    emb = t.embeddings.select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double")).alias("e"),
    )
    cents_row = cent.agg(F.collect_list(F.struct("cid", "cv")).alias("cents"))
    dist_structs = F.transform(
        "cents",
        lambda c: F.struct(
            _sqdist(F.col("e"), c["cv"]).alias("d"), c["cid"].alias("cid")
        ),
    )
    lists = emb.join(lists_idx, "vec_id").select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("e").alias("c_emb"),
        norm(F.col("e")).alias("cn"),
        "cid",
    )
    probe = (
        emb.join(F.broadcast(cents_row))
        .filter(
            (F.col("vec_id") % QUERY_MOD == 0) & (F.col("vec_id") < QUERY_CAP)
        )
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("e").alias("q_emb"),
            norm(F.col("e")).alias("qn"),
            F.explode(
                F.transform(
                    F.slice(F.array_sort(dist_structs), 1, N_PROBE),
                    lambda s: s["cid"],
                )
            ).alias("cid"),
        )
    )
    scored = (
        lists.join(F.broadcast(probe), "cid")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                dot(F.col("q_emb"), F.col("c_emb"))
                / (F.col("qn") * F.col("cn"))
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id", F.round("cos", 6).alias("cos_sim"))
        .orderBy("query_id", "neighbor_id")
    )


@query(
    "sim_semantic_dedup_serve",
    oracle=f"""
    WITH lists AS (
        SELECT vec_id, CAST(cid AS INT) AS cid
        FROM read_parquet('{_SERVE_ART}/codes/*/*.parquet',
                          hive_partitioning = true)
        WHERE sub = 0
    ),
    v AS (
        SELECT l.cid, e.vec_id, e.embedding
        FROM lists l JOIN embeddings e ON e.vec_id = l.vec_id
    ),
    dropped AS (
        SELECT DISTINCT b.vec_id
        FROM v a JOIN v b
          ON a.cid = b.cid AND a.vec_id < b.vec_id
        WHERE {_SQL_SEM_COS} >= {SEMDEDUP_COS}
    )
    SELECT v.cid AS cid,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(COUNT(d.vec_id) AS BIGINT) AS n_dropped
    FROM v LEFT JOIN dropped d ON d.vec_id = v.vec_id
    GROUP BY v.cid
    ORDER BY cid
    """,
    tags=("pipeline", "similarity", "dedup", "semantic", "serving"),
    bench=True,
)
def sim_semantic_dedup_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup against the PERSISTED cluster assignment (completing the
    train/serve split across the trained-ANN family — VERDICT r6 noted
    the inline `_lloyd` shape applies to `sim_semantic_dedup` too): the
    blocking comes from the committed index artifact (`build_ivfpq_index`
    — cid per vector, codes filtered to one sub), so the query measures
    ONLY the within-cluster pair search + drop rule, which is what a
    recurring dedup pass over a stable corpus clustering actually costs.
    Bit-identical to `sim_semantic_dedup`'s report.

    Scale shape: the assignment scan reads (vec_id, cid) ints; vectors
    attach by equi-join; the pair search is the cid equi-join — quadratic
    only within a block; the drop rule is one distinct + left join at
    vector grain."""
    d = build_ivfpq_index(spark, sf_dir)
    lists_idx = (
        spark.read.parquet(f"{d}/codes")
        .where(F.col("sub") == 0)
        .select("vec_id", F.col("cid").cast("int").alias("cid"))
    )
    t = Tables(spark, sf_dir)
    emb = t.embeddings.select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double")).alias("e"),
    )
    # r16 note: deliberately NOT checkpointed, unlike the inline variant —
    # here the per-row work is one broadcast-hash probe + the norm fold
    # (no trained argmin), and an isolated A/B read the cached version
    # consistently SLOWER (5.8-6.5 s vs 3.6-5.1 s warm): materializing the
    # corpus-sized 64-double arrays costs more than recomputing the cheap
    # join from columnar parquet with pushdown.
    assigned = emb.join(lists_idx, "vec_id").select(
        "vec_id", "e", norm(F.col("e")).alias("nrm"), "cid"
    )
    a = assigned.select(
        F.col("cid"),
        F.col("vec_id").alias("ai"),
        F.col("e").alias("ae"),
        F.col("nrm").alias("an"),
    )
    b = assigned.select(
        F.col("cid"),
        F.col("vec_id").alias("bi"),
        F.col("e").alias("be"),
        F.col("nrm").alias("bn"),
    )
    dropped = (
        a.join(b, "cid")
        .filter(F.col("ai") < F.col("bi"))
        .filter(
            dot(F.col("ae"), F.col("be")) / (F.col("an") * F.col("bn"))
            >= SEMDEDUP_COS
        )
        .select(F.col("bi").alias("vec_id"))
        .distinct()
    )
    return (
        assigned.join(
            dropped.withColumn("is_dropped", F.lit(1)), "vec_id", "left"
        )
        .groupBy("cid")
        .agg(
            F.count("*").cast("bigint").alias("n_vectors"),
            F.count("is_dropped").cast("bigint").alias("n_dropped"),
        )
        .orderBy("cid")
    )


# --- SRP-LSH: the driver-provable twin of sim_knn_lsh (round 8) -----------

_SRP_TABLES, _SRP_PLANES = 4, 4


def _srp_signs() -> list[list[list[float]]]:
    """Deterministic +/-1 hyperplane components: sign[t][p][d] from
    hashlib-md5 of 't:p:d' (bit 0).  Computed ONCE in Python and injected
    as identical literals into the Spark builder AND the DuckDB oracle,
    so no cross-engine hash agreement is needed at all — the classic
    Charikar'02 signed-random-projection family with a pinned seed."""
    import hashlib

    return [
        [
            [
                1.0
                if hashlib.md5(f"{t}:{p}:{d}".encode()).digest()[0] & 1
                else -1.0
                for d in range(EMB_DIM)
            ]
            for p in range(_SRP_PLANES)
        ]
        for t in range(_SRP_TABLES)
    ]


def _srp_bucket_sql(alias: str) -> str:
    """DuckDB: per-table SRP bucket key list for one embedding column."""
    signs = _srp_signs()
    keys = []
    for t in range(_SRP_TABLES):
        bits = []
        for p in range(_SRP_PLANES):
            lit = "[" + ",".join(str(s) for s in signs[t][p]) + "]"
            dot = (
                f"list_sum(list_transform(range(1, {EMB_DIM + 1}), i -> "
                f"CAST({alias}.embedding[i] AS DOUBLE) * ({lit})[i]))"
            )
            bits.append(f"(CASE WHEN {dot} > 0 THEN {1 << p} ELSE 0 END)")
        keys.append(f"'{t}:' || CAST({' + '.join(bits)} AS VARCHAR)")
    return "[" + ", ".join(keys) + "]"


def _srp_buckets_spark(emb_col) -> "Column":
    """Spark: the same per-table bucket keys, all map-side (zip_with dot
    against literal sign arrays — no explode, no shuffle)."""
    signs = _srp_signs()
    keys = []
    for t in range(_SRP_TABLES):
        bits = []
        for p in range(_SRP_PLANES):
            s = F.array(*[F.lit(x) for x in signs[t][p]])
            d = F.aggregate(
                F.zip_with(emb_col, s, lambda a, b: a.cast("double") * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            bits.append(F.when(d > 0, F.lit(1 << p)).otherwise(F.lit(0)))
        total = bits[0]
        for b in bits[1:]:
            total = total + b
        keys.append(F.concat_ws(":", F.lit(str(t)), total.cast("string")))
    return F.array(*keys)


@query(
    "sim_knn_srp_lsh",
    oracle=f"""
    WITH bucketed AS (
        SELECT e.vec_id, e.embedding,
               unnest({_srp_bucket_sql('e')}) AS tb
        FROM embeddings e
    ),
    q AS (
        SELECT vec_id AS query_id, embedding AS q_emb, tb FROM bucketed
        WHERE vec_id % {QUERY_MOD} = 0
          AND vec_id < {QUERY_MOD * QUERY_BUDGET}
    ),
    cand AS (
        SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id,
               q.q_emb, c.embedding AS c_emb
        FROM bucketed c JOIN q ON c.tb = q.tb
        WHERE c.vec_id <> q.query_id
    ),
    scored AS (
        SELECT query_id, neighbor_id,
               list_sum(list_transform(range(1, {EMB_DIM + 1}), i ->
                   CAST(q_emb[i] AS DOUBLE) * CAST(c_emb[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(range(1, {EMB_DIM + 1}), i ->
                      CAST(q_emb[i] AS DOUBLE) * CAST(q_emb[i] AS DOUBLE))))
                * sqrt(list_sum(list_transform(range(1, {EMB_DIM + 1}), i ->
                      CAST(c_emb[i] AS DOUBLE) * CAST(c_emb[i] AS DOUBLE)))))
                   AS cos
        FROM cand
    )
    SELECT query_id, neighbor_id, ROUND(cos, 6) AS cos_sim FROM (
        SELECT query_id, neighbor_id, cos,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rn
        FROM scored
    ) WHERE rn <= {TOP_K}
    ORDER BY query_id, neighbor_id
    """,
    tags=("pipeline", "similarity", "lsh", "ann", "srp"),
)
def sim_knn_srp_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed-random-projection LSH kNN (Charikar'02) — the EXACT,
    driver-provable twin of the rows-only `sim_knn_lsh` (whose xxhash64
    hyperplanes have no DuckDB equivalent): 4 tables x 4 hyperplanes with
    +/-1 components pinned by Python-side md5, so builder and oracle share
    identical literals and the whole approximate pipeline — bucketing,
    candidate generation, cosine re-rank, top-k — hash-matches.

    Scale shape (same as sim_knn_lsh): bucket keys are MAP-SIDE zip_with
    dot products against 16 broadcast-literal sign arrays (no explode, no
    per-dim shuffle); candidates come from an equi-join on 't:bucket' with
    the capped query side broadcast; only candidates pay the exact cosine;
    WindowGroupLimit takes the per-query top-k."""
    from pyspark.sql import Window

    t = Tables(spark, sf_dir)
    # r16 (guide §1.2): norms computed once per VECTOR, before the 4-way
    # bucket explode and the candidate join — the old shape paid two
    # 64-element folds per candidate pair; same fold expression, same
    # multiply order, bit-identical cosines.
    emb = (
        t.parallel("embeddings")
        .withColumn("nrm", norm(F.col("embedding")))
        .withColumn("tb", F.explode(_srp_buckets_spark(F.col("embedding"))))
    )
    q = emb.filter(
        (F.col("vec_id") % QUERY_MOD == 0)
        & (F.col("vec_id") < QUERY_MOD * QUERY_BUDGET)
    ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("nq"), "tb",
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"), F.col("nrm").alias("nc"), "tb",
    )
    cand = (
        c.join(F.broadcast(q), "tb")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        (dot(F.col("q_emb"), F.col("c_emb")) / (F.col("nq") * F.col("nc"))).alias(
            "cos"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id", F.round("cos", 6).alias("cos_sim"))
        .orderBy("query_id", "neighbor_id")
    )


@query(
    "sim_label_centroid_confusion",
    oracle="""
    WITH e AS (
        SELECT label, r.range AS dim,
               CAST(embedding[r.range] AS DOUBLE) AS v
        FROM embeddings CROSS JOIN range(1, 65) r
    ),
    cent AS (
        SELECT label, dim, SUM(v) / COUNT(*) AS c
        FROM e GROUP BY label, dim
    ),
    nrm AS (
        SELECT label, sqrt(SUM(c * c)) AS n FROM cent GROUP BY label
    ),
    pair AS (
        SELECT a.label AS label_a, b.label AS label_b,
               SUM(a.c * b.c) AS dot
        FROM cent a JOIN cent b ON b.dim = a.dim AND a.label < b.label
        GROUP BY label_a, label_b
    )
    SELECT pair.label_a, pair.label_b,
           ROUND(dot / (na.n * nb.n), 6) AS centroid_cosine
    FROM pair
    JOIN nrm na ON na.label = pair.label_a
    JOIN nrm nb ON nb.label = pair.label_b
    ORDER BY dot / (na.n * nb.n) DESC, pair.label_a, pair.label_b
    LIMIT 10
    """,
    tags=("pipeline", "similarity", "evaluation", "embedding-qa"),
)
def sim_label_centroid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space confusion risk: the 10 most similar LABEL-CENTROID
    pairs by cosine — classes whose centroids nearly coincide are the
    ones a nearest-centroid classifier (and any ANN-filtered retrieval
    with label routing) will confuse, so this is the embedding-QA
    report read after every re-embedding alongside
    `sim_silhouette_simplified` (which scores cohesion; this names the
    specific confusable pairs).

    Exactness: centroids are per-(label, dim) means of float32 values
    widened to double (addend sets identical across engines; the
    class-grain folds follow the second-stage sum contract); dots and
    norms fold 64 deterministic products; ties in the top-10 break on
    the (label_a, label_b) total order.

    Scale shape: the corpus collapses to |labels| x dim centroid state in
    one partial/final aggregate (k x dim model state — the
    `sim_kmeans_lloyd` reduction); the pair join runs at centroid grain
    (|labels|^2 bounded), never touching rows again."""
    t = Tables(spark, sf_dir)
    e = t.embeddings.select(
        "label", F.posexplode("embedding").alias("dim", "v")
    ).select("label", "dim", F.col("v").cast("double").alias("v"))
    cent = e.groupBy("label", "dim").agg(
        (F.sum("v") / F.count("*")).alias("c")
    )
    nrm = cent.groupBy("label").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("n")
    )
    b = cent.select(
        F.col("label").alias("label_b"),
        F.col("dim").alias("dim_b"),
        F.col("c").alias("cb"),
    )
    pair = (
        cent.join(
            b,
            (F.col("dim_b") == F.col("dim"))
            & (F.col("label") < F.col("label_b")),
        )
        .groupBy(F.col("label").alias("label_a"), "label_b")
        .agg(F.sum(F.col("c") * F.col("cb")).alias("dot"))
    )
    na = nrm.select(F.col("label").alias("label_a"), F.col("n").alias("na"))
    nb = nrm.select(F.col("label").alias("label_b"), F.col("n").alias("nb"))
    cos = F.col("dot") / (F.col("na") * F.col("nb"))
    return (
        pair.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            "label_a",
            "label_b",
            F.round(cos, 6).alias("centroid_cosine"),
            cos.alias("_ord"),
        )
        .orderBy(F.desc("_ord"), "label_a", "label_b")
        .limit(10)
        .drop("_ord")
    )


_MMR_LAMBDA = 0.7
_MMR_POOL = 12
_MMR_K = 5
# Pairwise fragments over candidate aliases a / b (the q/c fragments
# retargeted — same expression tree).
_SQL_DOT_AB = _SQL_DOT.replace("q.", "a.").replace("c.", "b.")
_SQL_NORM_A = _SQL_NORM_Q.replace("q.", "a.")
_SQL_NORM_B = _SQL_NORM_C.replace("c.", "b.")


def _mmr_round_sql(prev_sel: str, idx: int) -> str:
    """One MMR round: score the unselected pool against the selected set,
    pick argmax(0.7*rel - 0.3*max_sim) with a 9-dp round + vec_id tiebreak."""
    return f"""
    sc{idx} AS (
        SELECT c.vec_id, c.rel,
               {_MMR_LAMBDA} * c.rel - {1 - _MMR_LAMBDA:.1f} * MAX(p.sim) AS mmr
        FROM cand c
        JOIN pw p ON p.a = c.vec_id
        JOIN {prev_sel} s ON s.vec_id = p.b
        WHERE c.vec_id NOT IN (SELECT vec_id FROM {prev_sel})
        GROUP BY 1, 2
    ),
    p{idx} AS (
        SELECT vec_id, rel, mmr FROM sc{idx}
        ORDER BY ROUND(mmr, 9) DESC, vec_id LIMIT 1
    ),
    s{idx} AS (
        SELECT vec_id FROM {prev_sel} UNION ALL SELECT vec_id FROM p{idx}
    )"""


@query(
    "sim_mmr_diversify",
    oracle=f"""
    WITH cand AS (
        SELECT c.vec_id, c.embedding,
               {_SQL_DOT} / ({_SQL_NORM_Q} * {_SQL_NORM_C}) AS rel
        FROM embeddings c JOIN embeddings q ON q.vec_id = 0
        WHERE c.vec_id <> 0
        ORDER BY ROUND({_SQL_DOT} / ({_SQL_NORM_Q} * {_SQL_NORM_C}), 9) DESC,
                 c.vec_id
        LIMIT {_MMR_POOL}
    ),
    pw AS (
        SELECT a.vec_id AS a, b.vec_id AS b,
               {_SQL_DOT_AB} / ({_SQL_NORM_A} * {_SQL_NORM_B}) AS sim
        FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
    ),
    p1 AS (
        SELECT vec_id, rel, rel AS mmr FROM cand
        ORDER BY ROUND(rel, 9) DESC, vec_id LIMIT 1
    ),
    s1 AS (SELECT vec_id FROM p1),
    {_mmr_round_sql("s1", 2)},
    {_mmr_round_sql("s2", 3)},
    {_mmr_round_sql("s3", 4)},
    {_mmr_round_sql("s4", 5)}
    SELECT pick_order, vec_id, relevance, mmr_score FROM (
        SELECT 1 AS pick_order, vec_id,
               ROUND(rel, 6) AS relevance, ROUND(mmr, 6) AS mmr_score FROM p1
        UNION ALL SELECT 2, vec_id, ROUND(rel, 6), ROUND(mmr, 6) FROM p2
        UNION ALL SELECT 3, vec_id, ROUND(rel, 6), ROUND(mmr, 6) FROM p3
        UNION ALL SELECT 4, vec_id, ROUND(rel, 6), ROUND(mmr, 6) FROM p4
        UNION ALL SELECT 5, vec_id, ROUND(rel, 6), ROUND(mmr, 6) FROM p5
    ) ORDER BY pick_order
    """,
    tags=("pipeline", "similarity", "diversity", "rerank"),
)
def sim_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell-Goldstein '98):
    from the query's top-12 cosine pool, greedily pick 5 results
    maximizing 0.7*relevance - 0.3*max-similarity-to-already-picked — the
    diversity pass a retrieval stack (or a training-data selector picking
    varied exemplars) runs after ANN: near-duplicate hits that would all
    say the same thing are demoted in favor of coverage.

    Scale shape: the corpus-sized work is exactly one brute-force scoring
    pass against ONE query vector (TakeOrdered top-12, the
    exact brute-force shape); the pool and its 12x12 pairwise-sim
    table are then eagerly localCheckpoint-ed, so the greedy loop builds
    on two constant-size in-memory relations.  Without the checkpoint the
    loop NESTS the un-materialized pool plan into every round's
    left-anti/join/argmax — the compiled plan referenced the embeddings
    parquet scan 402 times (round-9 plan sweep); with it the corpus is
    scanned exactly once, and iteration cost is independent of corpus
    size.  Fixed k keeps the DuckDB oracle expressible as chained CTE
    rounds (the `graph_kcore_peel` contract).

    Exactness: relevance and pairwise sims are the same double cosine
    tree both engines; every argmax orders by the 9-dp-rounded score
    with a vec_id tiebreak."""
    from auron_spark.tables import Tables as _T

    t = _T(spark, sf_dir)
    emb = t.embeddings
    # r16 (guide §1.2): the query norm is constant across the corpus scan —
    # computed once in the 1-row broadcast instead of per corpus row; same
    # fold, same multiply order, bit-identical rel.
    qv = F.broadcast(
        emb.where(F.col("vec_id") == 0)
        .select(F.col("embedding").alias("qe"))
        .withColumn("nq", norm(F.col("qe")))
    )
    rel = dot(F.col("embedding"), F.col("qe")) / (
        norm(F.col("embedding")) * F.col("nq")
    )
    cand = (
        emb.where(F.col("vec_id") != 0)
        .crossJoin(qv)
        .select("vec_id", "embedding", rel.alias("rel"))
        .orderBy(F.desc(F.round("rel", 9)), "vec_id")
        .limit(_MMR_POOL)
        .localCheckpoint(eager=True)  # 12 rows — truncate lineage so the
        # greedy rounds never re-derive (and re-scan) the corpus pool.
    )
    a = cand.select(F.col("vec_id").alias("a"), F.col("embedding").alias("ea"))
    b = cand.select(F.col("vec_id").alias("b"), F.col("embedding").alias("eb"))
    sim = dot(F.col("ea"), F.col("eb")) / (norm(F.col("ea")) * norm(F.col("eb")))
    pw = (
        a.crossJoin(b)
        .where(F.col("a") != F.col("b"))
        .select("a", "b", sim.alias("sim"))
        .localCheckpoint(eager=True)  # 132 rows, reused by every round
    )
    cand = cand.drop("embedding")
    pick = (
        cand.orderBy(F.desc(F.round("rel", 9)), "vec_id")
        .limit(1)
        .select("vec_id", "rel", F.col("rel").alias("mmr"))
    )
    out = pick.select(
        F.lit(1).alias("pick_order"), "vec_id", "rel", "mmr"
    )
    sel = pick.select("vec_id")
    for r in range(2, _MMR_K + 1):
        rem = cand.join(sel, "vec_id", "left_anti")
        ms = (
            pw.join(sel.withColumnRenamed("vec_id", "b"), "b")
            .groupBy("a")
            .agg(F.max("sim").alias("maxsim"))
        )
        sc = rem.join(ms, rem.vec_id == ms.a).select(
            "vec_id",
            "rel",
            (
                _MMR_LAMBDA * F.col("rel") - (1 - _MMR_LAMBDA) * F.col("maxsim")
            ).alias("mmr"),
        )
        pick = sc.orderBy(F.desc(F.round("mmr", 9)), "vec_id").limit(1)
        out = out.unionAll(
            pick.select(F.lit(r).alias("pick_order"), "vec_id", "rel", "mmr")
        )
        sel = sel.unionAll(pick.select("vec_id"))
    return out.select(
        F.col("pick_order").cast("int").alias("pick_order"),
        "vec_id",
        F.round("rel", 6).alias("relevance"),
        F.round("mmr", 6).alias("mmr_score"),
    ).orderBy("pick_order")


_ANALOGY = (1, 2, 3)  # target = v(1) - v(2) + v(3)
_ANALOGY_SQL_T = (
    "list_transform(range(1, 65), i -> "
    "CAST(a.embedding[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE)"
    " + CAST(c.embedding[i] AS DOUBLE))"
)


@query(
    "sim_vector_analogy",
    oracle=f"""
    WITH t AS (
        SELECT {_ANALOGY_SQL_T} AS tv
        FROM embeddings a, embeddings b, embeddings c
        WHERE a.vec_id = {_ANALOGY[0]} AND b.vec_id = {_ANALOGY[1]}
          AND c.vec_id = {_ANALOGY[2]}
    )
    SELECT vec_id, cos_sim FROM (
        SELECT e.vec_id,
               ROUND(
                 list_sum(list_transform(range(1, 65), i ->
                     tv[i] * CAST(e.embedding[i] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(range(1, 65), i ->
                        tv[i] * tv[i])))
                    * sqrt(list_sum(list_transform(range(1, 65), i ->
                        CAST(e.embedding[i] AS DOUBLE)
                        * CAST(e.embedding[i] AS DOUBLE))))), 6) AS cos_sim,
               ROW_NUMBER() OVER (
                   ORDER BY list_sum(list_transform(range(1, 65), i ->
                       tv[i] * CAST(e.embedding[i] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(range(1, 65), i ->
                        tv[i] * tv[i])))
                    * sqrt(list_sum(list_transform(range(1, 65), i ->
                        CAST(e.embedding[i] AS DOUBLE)
                        * CAST(e.embedding[i] AS DOUBLE))))) DESC,
                   e.vec_id) AS rn
        FROM embeddings e, t
        WHERE e.vec_id NOT IN {_ANALOGY!r}
    ) WHERE rn <= 5
    ORDER BY vec_id
    """,
    tags=("pipeline", "similarity", "analogy"),
)
def sim_vector_analogy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-arithmetic analogy retrieval (the word2vec 'king - man +
    woman' probe): target = v(1) - v(2) + v(3), then cosine top-5 over
    the corpus excluding the probe ids — the embedding-space sanity check
    an embedding-quality harness runs per training epoch (alongside
    `sim_ann_recall_report`).

    Scale shape: the target vector is a 1-row broadcast (three dim-table
    lookups + map-side arithmetic); scoring is one streamed corpus pass;
    top-5 is TakeOrdered with a vec_id tiebreak — the
    exact brute-force shape with a synthesized query."""
    from auron_spark.tables import Tables as _T

    t = _T(spark, sf_dir)
    emb = t.embeddings
    a_, b_, c_ = (
        emb.where(F.col("vec_id") == i).select(
            F.col("embedding").alias(n)
        )
        for i, n in zip(_ANALOGY, ("ea", "eb", "ec"))
    )
    tv = F.zip_with(
        F.zip_with(
            F.col("ea"),
            F.col("eb"),
            lambda x, y: x.cast("double") - y.cast("double"),
        ),
        F.col("ec"),
        lambda d, z: d + z.cast("double"),
    )
    # r16 (guide §1.2): the target norm is constant across the corpus scan
    # — computed once in the 1-row broadcast; bit-identical cos.
    target = F.broadcast(
        a_.crossJoin(b_)
        .crossJoin(c_)
        .select(tv.alias("tv"))
        .withColumn("nt", norm(F.col("tv")))
    )
    cos = dot(F.col("tv"), F.col("embedding")) / (
        F.col("nt") * norm(F.col("embedding"))
    )
    return (
        emb.where(~F.col("vec_id").isin(*_ANALOGY))
        .crossJoin(target)
        .select("vec_id", cos.alias("raw"))
        .orderBy(F.desc("raw"), "vec_id")
        .limit(5)
        .select("vec_id", F.round("raw", 6).alias("cos_sim"))
        .orderBy("vec_id")
    )


@query(
    "sim_centroid_stability",
    oracle="""
    WITH ex AS (
        SELECT label, half, pos - 1 AS dim,
               CAST(ROUND(CAST(v AS DOUBLE), 6) AS DECIMAL(18,6)) AS v
        FROM (
            SELECT label, vec_id % 2 AS half,
                   unnest(embedding) AS v,
                   unnest(range(1, len(embedding) + 1)) AS pos
            FROM embeddings
        )
    ),
    cent AS (
        SELECT label, half, dim,
               CAST(SUM(v) AS DOUBLE) / COUNT(*) AS c
        FROM ex GROUP BY label, half, dim
    ),
    pair AS (
        SELECT a.label,
               SUM(a.c * b.c) AS dot,
               SUM(a.c * a.c) AS na2,
               SUM(b.c * b.c) AS nb2
        FROM cent a JOIN cent b
          ON b.label = a.label AND b.dim = a.dim
         AND a.half = 0 AND b.half = 1
        GROUP BY a.label
    ),
    sizes AS (
        SELECT label,
               SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS n0,
               SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS n1
        FROM embeddings GROUP BY label
    )
    SELECT p.label, CAST(s.n0 AS BIGINT) AS n_half0,
           CAST(s.n1 AS BIGINT) AS n_half1,
           ROUND(dot / (sqrt(na2) * sqrt(nb2)), 6) AS centroid_cosine,
           ROUND(sqrt(na2) / sqrt(nb2), 6) AS norm_ratio
    FROM pair p JOIN sizes s ON s.label = p.label
    ORDER BY p.label
    """,
    tags=("pipeline", "similarity", "drift", "stability"),
)
def sim_centroid_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-centroid stability audit: split each label's vectors
    into two pseudo-batches (vec_id parity — in production, two ingest
    batches or time windows) and report the cosine between the two
    half-centroids plus their norm ratio — the drift monitor a vector
    platform runs per load (centroid cosine falling from ~1 says the
    new batch's embedding distribution moved; the upstream-model-change
    signature that silently poisons ANN recall).

    Scale shape: one corpus scan collapses to (label, half, dim) grain
    (the `sim_centroids` posexplode posture — k x 2 x dims rows); the
    cosine is a dim-equi-join of that tiny frame; sizes ride a second
    label-grain flag-sum of the same scan's worth.

    Exactness: component sums are DECIMAL(18,6) of 6-dp-rounded
    components (the `sim_centroids` device); the cosine tree is
    identical doubles."""
    t = Tables(spark, sf_dir)
    ex = t.embeddings.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode("embedding").alias("dim", "v"),
    )
    cent = ex.groupBy("label", "half", "dim").agg(
        (
            F.sum(
                F.round(F.col("v").cast("double"), 6).cast("decimal(18,6)")
            ).cast("double")
            / F.count("*")
        ).alias("c")
    )
    a = cent.where(F.col("half") == 0).select(
        "label", "dim", F.col("c").alias("ca")
    )
    b = cent.where(F.col("half") == 1).select(
        F.col("label").alias("lb"), F.col("dim").alias("db"),
        F.col("c").alias("cb"),
    )
    pair = (
        a.join(b, (F.col("lb") == F.col("label")) & (F.col("db") == F.col("dim")))
        .groupBy("label")
        .agg(
            F.sum(F.col("ca") * F.col("cb")).alias("dot"),
            F.sum(F.col("ca") * F.col("ca")).alias("na2"),
            F.sum(F.col("cb") * F.col("cb")).alias("nb2"),
        )
    )
    sizes = t.embeddings.groupBy("label").agg(
        F.sum(F.when(F.col("vec_id") % 2 == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("vec_id") % 2 == 1, 1).otherwise(0)).alias("n1"),
    )
    return (
        pair.join(sizes, "label")
        .select(
            "label",
            F.col("n0").cast("bigint").alias("n_half0"),
            F.col("n1").cast("bigint").alias("n_half1"),
            F.round(
                F.col("dot") / (F.sqrt("na2") * F.sqrt("nb2")), 6
            ).alias("centroid_cosine"),
            F.round(F.sqrt("na2") / F.sqrt("nb2"), 6).alias("norm_ratio"),
        )
        .orderBy("label")
    )


_SWEEP_PROBES = (1, 2, 4)


def _nprobe_sweep_oracle() -> str:
    from auron_spark.registry import REGISTRY as _R

    brute = _R["sim_knn_bruteforce_arrow"].oracle
    return f"""
    WITH b AS ({brute}),
    cents AS (
        SELECT cid, cv FROM read_parquet('{_SERVE_ART}/centroids/*.parquet')
    ),
    lists AS (
        SELECT vec_id, CAST(cid AS INT) AS cid
        FROM read_parquet('{_SERVE_ART}/codes/*/*.parquet',
                          hive_partitioning = true)
        WHERE sub = 0
    ),
    nps (np) AS (VALUES (1), (2), (4)),
    proberk AS (
        SELECT query_id, cid, prk FROM (
            SELECT e.vec_id AS query_id, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                      ORDER BY {_SQL_KM_ASSIGN_DIST} ASC,
                                               c.cid ASC) AS prk
            FROM embeddings e CROSS JOIN cents c
            WHERE e.vec_id % {QUERY_MOD} = 0
              AND e.vec_id < {QUERY_CAP})
        WHERE prk <= {max(_SWEEP_PROBES)}
    ),
    cand AS (
        SELECT p.query_id, l.vec_id AS neighbor_id,
               MIN(p.prk) AS minprk,
               MIN({_SQL_DOT} / ({_SQL_NORM_Q} * {_SQL_NORM_C})) AS cos
        FROM proberk p
        JOIN lists l ON l.cid = p.cid AND l.vec_id <> p.query_id
        JOIN embeddings q ON q.vec_id = p.query_id
        JOIN embeddings c ON c.vec_id = l.vec_id
        GROUP BY p.query_id, l.vec_id
    ),
    topk AS (
        SELECT np, query_id, neighbor_id FROM (
            SELECT n.np, c.query_id, c.neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY n.np, c.query_id
                                      ORDER BY c.cos DESC, c.neighbor_id)
                       AS rn
            FROM cand c JOIN nps n ON c.minprk <= n.np
        ) WHERE rn <= {TOP_K}
    ),
    costs AS (
        SELECT n.np, c.query_id, COUNT(*) AS n_cand
        FROM cand c JOIN nps n ON c.minprk <= n.np
        GROUP BY n.np, c.query_id
    ),
    rec AS (
        SELECT n.np, b.query_id,
               COUNT(t.neighbor_id) AS hit, COUNT(*) AS n_true
        FROM nps n CROSS JOIN b
        LEFT JOIN topk t ON t.np = n.np AND t.query_id = b.query_id
                        AND t.neighbor_id = b.neighbor_id
        GROUP BY n.np, b.query_id
    )
    SELECT CAST(r.np AS INT) AS nprobe,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           ROUND(CAST(SUM(c.n_cand) AS DOUBLE) / COUNT(*), 6)
               AS avg_candidates,
           ROUND(CAST(SUM(r.hit) AS DOUBLE) / SUM(r.n_true), 6)
               AS recall_at_k
    FROM rec r JOIN costs c ON c.np = r.np AND c.query_id = r.query_id
    GROUP BY r.np
    ORDER BY nprobe
    """


@query(
    "sim_nprobe_recall_sweep",
    oracle=_nprobe_sweep_oracle(),  # composes the brute oracle, already
    # registered above in this module (the _ann_recall_oracle device)
    tags=("pipeline", "similarity", "ann", "tuning", "serving"),
)
def sim_nprobe_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF nprobe tuning frontier: recall@5 vs candidate-set cost at
    nprobe = 1 / 2 / 4, all from the persisted index — the table a
    vector platform reads to pick its latency/recall operating point
    (the missing piece between `sim_knn_ivf_serve`, which serves ONE
    setting, and `sim_ann_recall_report`, which evaluates it).

    Single-subtree construction: the probed-candidate frame is computed
    ONCE at the widest setting, carrying each (query, neighbor)'s
    MINIMUM probe rank; every nprobe leg is then a filter
    (minprk <= np) + per-leg WindowGroupLimit over that one frame — no
    per-setting re-probe, no corpus re-scan.  Ground truth is the exact
    brute-force top-k (both tiers bit-exact, the
    `sim_ann_recall_report` composition device).

    Scale shape: model scans are k centroid rows + the sub=0 slice of
    the codes index; the candidate fetch is one vec_id equi-join; legs
    multiply only the top-k-sized frame (x3).  Exactness: cosines are
    the shared double tree (deduplicated per pair via MIN — identical
    per group); recalls and costs are exact-integer ratios."""
    from pyspark.sql import Window

    from auron_spark.registry import REGISTRY as _R

    d = build_ivfpq_index(spark, sf_dir)
    cent = spark.read.parquet(f"{d}/centroids")
    lists_idx = (
        spark.read.parquet(f"{d}/codes")
        .where(F.col("sub") == 0)
        .select("vec_id", F.col("cid").cast("int").alias("cid"))
    )
    t = Tables(spark, sf_dir)
    emb = t.embeddings.select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double")).alias("e"),
    )
    cents_row = cent.agg(F.collect_list(F.struct("cid", "cv")).alias("cents"))
    dist_structs = F.transform(
        "cents",
        lambda c: F.struct(
            _sqdist(F.col("e"), c["cv"]).alias("d"), c["cid"].alias("cid")
        ),
    )
    probes = (
        emb.join(F.broadcast(cents_row))
        .filter(
            (F.col("vec_id") % QUERY_MOD == 0) & (F.col("vec_id") < QUERY_CAP)
        )
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("e").alias("q_emb"),
            norm(F.col("e")).alias("qn"),
            F.posexplode(
                F.transform(
                    F.slice(
                        F.array_sort(dist_structs), 1, max(_SWEEP_PROBES)
                    ),
                    lambda s: s["cid"],
                )
            ).alias("pos", "cid"),
        )
        .withColumn("prk", F.col("pos") + 1)
    )
    lists = emb.join(lists_idx, "vec_id").select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("e").alias("c_emb"),
        norm(F.col("e")).alias("cn"),
        "cid",
    )
    cand = (
        lists.join(F.broadcast(probes), "cid")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.min("prk").alias("minprk"),
            F.min(
                dot(F.col("q_emb"), F.col("c_emb"))
                / (F.col("qn") * F.col("cn"))
            ).alias("cos"),
        )
        .localCheckpoint(eager=False)  # ONE probe pass feeds all legs
    )
    nps = spark.range(0).sparkSession.createDataFrame(
        [(n,) for n in _SWEEP_PROBES], "np int"
    )
    legged = cand.join(
        F.broadcast(nps), F.col("minprk") <= F.col("np")
    )
    w = Window.partitionBy("np", "query_id").orderBy(
        F.desc("cos"), "neighbor_id"
    )
    topk = (
        legged.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= TOP_K)
        .select("np", "query_id", "neighbor_id")
    )
    costs = legged.groupBy("np", "query_id").agg(
        F.count("*").alias("n_cand")
    )
    brute = (
        _R["sim_knn_bruteforce_arrow"]
        .build(spark, sf_dir)
        .select("query_id", "neighbor_id")
    )
    rec = (
        brute.crossJoin(F.broadcast(nps))
        .join(
            topk.withColumn("hit", F.lit(1)),
            ["np", "query_id", "neighbor_id"],
            "left",
        )
        .groupBy("np", "query_id")
        .agg(F.count("hit").alias("hit"), F.count("*").alias("n_true"))
    )
    return (
        rec.join(costs, ["np", "query_id"])
        .groupBy("np")
        .agg(
            F.count("*").cast("bigint").alias("n_queries"),
            F.round(
                F.sum("n_cand").cast("double") / F.count("*"), 6
            ).alias("avg_candidates"),
            F.round(
                F.sum("hit").cast("double") / F.sum("n_true"), 6
            ).alias("recall_at_k"),
        )
        .select(
            F.col("np").cast("int").alias("nprobe"),
            "n_queries",
            "avg_candidates",
            "recall_at_k",
        )
        .orderBy("nprobe")
    )

