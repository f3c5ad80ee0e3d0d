"""Property tests for the surface with no cross-engine oracle:
nondeterministic functions, Spark-specific hashes, approximate aggregates,
SimHash determinism, and LSH recall against the brute-force ground truth."""

from __future__ import annotations

import pyspark.sql.functions as F

from auron_spark.registry import load_all
from auron_spark.tables import table
from tests.conftest import SF_DIR, SF_SMOKE

SPECS = load_all()


def test_spark_hashes_deterministic(spark):
    """murmur3 hash() and xxhash64() — Spark-pinned algorithms
    (`spark_hash.rs`, `datafusion-ext-commons/src/hash/`): stable across runs
    and sessions by spec; checked against themselves on re-evaluation."""
    df = table(spark, SF_SMOKE, "part").select(
        "p_partkey",
        F.hash("p_name").alias("h32"),
        F.xxhash64("p_name").alias("h64"),
    )
    a = {r["p_partkey"]: (r["h32"], r["h64"]) for r in df.collect()}
    b = {r["p_partkey"]: (r["h32"], r["h64"]) for r in df.collect()}
    assert a == b
    # known-answer pin: murmur3 of 'abc' with Spark's seed 42
    known = spark.range(1).select(
        F.hash(F.lit("abc")).alias("h"), F.xxhash64(F.lit("abc")).alias("x")
    ).collect()[0]
    assert known["h"] == 1322437556  # Spark murmur3('abc', seed=42)
    assert known["x"] == 1423657621850124518  # Spark xxhash64('abc', seed=42)


def test_nondeterministic_functions_properties(spark):
    """rand/randn/monotonically_increasing_id/spark_partition_id — tested by
    property (range, uniqueness, seed-stability), per SURVEY.md §7."""
    df = spark.range(0, 10000, 1, 8).select(
        "id",
        F.rand(42).alias("u"),
        F.randn(42).alias("g"),
        F.monotonically_increasing_id().alias("mid"),
        F.spark_partition_id().alias("pid"),
    )
    rows = df.collect()
    assert all(0.0 <= r["u"] < 1.0 for r in rows)
    assert len({r["mid"] for r in rows}) == len(rows)  # unique ids
    assert {r["pid"] for r in rows} == set(range(8))
    # seeded rand is reproducible for identical partitioning
    again = spark.range(0, 10000, 1, 8).select(F.rand(42).alias("u")).collect()
    assert [r["u"] for r in rows] == [r["u"] for r in again]


def test_approx_aggregates_close_to_exact(spark):
    li = table(spark, SF_DIR, "lineitem")
    row = SPECS["agg_approx"].build(spark, SF_DIR).collect()[0]
    exact = li.select(F.count_distinct("l_orderkey")).collect()[0][0]
    assert abs(row["approx_orders"] - exact) / exact < 0.05
    p50, p99 = row["p50_price"], row["p99_price"]
    n = li.count()
    below50 = li.filter(F.col("l_extendedprice") <= p50).count()
    assert 0.45 < below50 / n < 0.55
    below99 = li.filter(F.col("l_extendedprice") <= p99).count()
    assert below99 / n > 0.985


def test_simhash_deterministic_and_discriminative(spark):
    df = SPECS["dedup_simhash"].build(spark, SF_DIR)
    a = {r["doc_id"]: r["simhash"] for r in df.collect()}
    b = {r["doc_id"]: r["simhash"] for r in df.collect()}
    assert a == b
    # synthetic docs are near-random word bags: the vast majority of hashes
    # must be distinct
    assert len(set(a.values())) > 0.9 * len(a)


def test_lsh_recall_vs_bruteforce(spark):
    """sim_knn_lsh is approximate: measure recall of its neighbor sets
    against the exact brute-force top-k; random-hyperplane LSH with bucket
    probing must recover a meaningful fraction of true neighbors on the
    planted-cluster fixture."""
    brute = SPECS["sim_knn_bruteforce_arrow"].build(spark, SF_DIR).collect()
    lsh = SPECS["sim_knn_lsh"].build(spark, SF_DIR).collect()
    truth: dict[int, set[int]] = {}
    for r in brute:
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    got: dict[int, set[int]] = {}
    for r in lsh:
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
    total = sum(len(v) for v in truth.values())
    assert hits / total > 0.3, f"LSH recall too low: {hits}/{total}"


def test_mapinpandas_batch_shape(spark):
    """mm_decode_features must hold its declared schema and row count — the
    contract a real codec implementation inherits."""
    df = SPECS["mm_decode_features"].build(spark, SF_DIR)
    assert df.schema.simpleString() == (
        "struct<doc_id:bigint,width:int,height:int,codec:string,n_pixels:bigint>"
    )
    n_docs = table(spark, SF_DIR, "documents").count()
    assert df.count() == n_docs


def test_hll_sketch_union_accuracy(spark):
    """Merged per-group HLL sketches must estimate the global distinct count
    within 3% — the union-of-sketches path is what replaces exact distinct at
    scale."""
    row = SPECS["agg_hll_sketch_mergeable"].build(spark, SF_DIR).collect()[0]
    from auron_spark.tables import table

    exact = (
        table(spark, SF_DIR, "lineitem").select("l_orderkey").distinct().count()
    )
    est = row["approx_distinct_orders"]
    assert abs(est - exact) / exact < 0.03, (est, exact)


def test_connected_components_chain_converges_logarithmically(spark):
    """Pointer jumping must converge on a 200-node path graph (eccentricity
    199 from the min node) well inside the 20-round budget — pure one-hop
    propagation would need 199 rounds and previously exited silently."""
    import pytest

    from auron_spark.pipeline.dedup import connected_components

    n = 200
    nodes = spark.range(n).selectExpr("id AS doc_id")
    fwd = spark.range(n - 1).selectExpr("id AS u", "id + 1 AS v")
    edges = fwd.union(fwd.selectExpr("v AS u", "u AS v"))
    labels = connected_components(nodes, edges, max_rounds=12)
    assert labels.filter(F.col("canonical_id") != 0).count() == 0
    # and the budget is a loud contract, not a silent cap
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(nodes, edges, max_rounds=2)


def test_theta_sketch_setops_accuracy(spark):
    """Theta union/intersection/difference estimates must track the exact
    distinct-user set algebra within 5% (fixture cardinalities are far below
    the sketch's exact-mode threshold, so they are typically spot-on)."""
    row = SPECS["agg_theta_sketch_setops"].build(spark, SF_DIR).collect()[0]
    ev = table(spark, SF_DIR, "events")
    p = {r.user_id for r in ev.where(F.col("event_type") == "purchase").select("user_id").distinct().collect()}
    c = {r.user_id for r in ev.where(F.col("event_type") == "click").select("user_id").distinct().collect()}
    exact = {
        "est_purchase_users": len(p),
        "est_click_users": len(c),
        "est_union": len(p | c),
        "est_intersect": len(p & c),
        "est_purchase_only": len(p - c),
    }
    for k, want in exact.items():
        got = getattr(row, k)
        assert abs(got - want) <= max(1.0, 0.05 * want), (k, got, want)


def test_kll_sketch_quantile_accuracy(spark):
    """KLL p50/p90 estimates must sit within 3% RANK error of the exact
    distribution (the sketch's guarantee is on rank, not value)."""
    rows = SPECS["agg_kll_quantile_sketch"].build(spark, SF_DIR).collect()
    li = table(spark, SF_DIR, "lineitem")
    for r in rows:
        vals = sorted(
            x.v
            for x in li.where(F.col("l_returnflag") == r.l_returnflag)
            .select(F.col("l_extendedprice").cast("double").alias("v"))
            .collect()
        )
        n = len(vals)
        assert r.n == n
        for q, got in ((0.5, r.p50), (0.9, r.p90)):
            import bisect

            rank = bisect.bisect_left(vals, got) / n
            assert abs(rank - q) <= 0.03, (r.l_returnflag, q, got, rank)


def test_aes_encrypt_decrypt_roundtrip(spark):
    """aes_encrypt/aes_decrypt: column-level encryption for sensitive fields
    at rest.  ECB mode is deterministic (same plaintext+key -> same bytes:
    testable, but never use ECB for real secrets); GCM (default) salts with
    a random IV, so only the roundtrip is asserted there."""
    key = "0123456789abcdef"  # 16-byte AES-128 key
    df = spark.range(32).select(F.concat(F.lit("doc-"), F.col("id")).alias("s"))
    ecb = df.select(
        "s",
        F.aes_decrypt(
            F.aes_encrypt(F.col("s").cast("binary"), F.lit(key), F.lit("ECB")),
            F.lit(key),
            F.lit("ECB"),
        ).cast("string").alias("rt_ecb"),
        F.aes_decrypt(
            F.aes_encrypt(F.col("s").cast("binary"), F.lit(key)),
            F.lit(key),
        ).cast("string").alias("rt_gcm"),
    )
    rows = ecb.collect()
    assert all(r.s == r.rt_ecb == r.rt_gcm for r in rows)
    # ECB determinism (the property that makes it testable AND unsafe)
    e1 = df.select(F.base64(F.aes_encrypt(F.col("s").cast("binary"), F.lit(key), F.lit("ECB"))).alias("e")).collect()
    e2 = df.select(F.base64(F.aes_encrypt(F.col("s").cast("binary"), F.lit(key), F.lit("ECB"))).alias("e")).collect()
    assert e1 == e2


def test_parameterized_sql(spark):
    """spark.sql named-parameter binding — safe templating for the SQL entry
    point (no string interpolation injection)."""
    from auron_spark.tables import table

    table(spark, SF_DIR, "orders").createOrReplaceTempView("p_orders")
    got = spark.sql(
        "SELECT COUNT(*) AS n FROM p_orders WHERE o_totalprice > :lo AND o_orderstatus = :st",
        args={"lo": 100000, "st": "F"},
    ).collect()[0].n
    want = (
        table(spark, SF_DIR, "orders")
        .where((F.col("o_totalprice") > 100000) & (F.col("o_orderstatus") == "F"))
        .count()
    )
    assert got == want > 0


def test_kmeans_lloyd_inertia_monotone(spark):
    """Lloyd's algorithm contract: total within-cluster squared distance
    (inertia) never increases across iterations.  Checked by re-running the
    assignment step against the iteration-1 and iteration-2 codebooks that
    sim_kmeans_lloyd produces internally — a semantic property the value
    oracle can't express."""
    import pyspark.sql.functions as F

    from auron_spark.pipeline.similarity import KM_K
    from auron_spark.tables import Tables

    t = Tables(spark, SF_SMOKE)
    emb = t.embeddings.select(
        "vec_id", F.transform("embedding", lambda v: v.cast("double")).alias("e")
    )

    def sqdist(e, cv):
        return F.aggregate(
            F.zip_with(e, cv, lambda x, c: (x - c) * (x - c)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    def inertia(cent_df) -> float:
        cents_row = cent_df.agg(
            F.collect_list(F.struct("cid", "cv")).alias("cents")
        )
        return (
            emb.join(F.broadcast(cents_row))
            .select(
                F.array_min(
                    F.transform(
                        "cents",
                        lambda c: F.struct(
                            sqdist(F.col("e"), c["cv"]).alias("d"),
                            c["cid"].alias("cid"),
                        ),
                    )
                )["d"].alias("d")
            )
            .agg(F.sum("d"))
            .collect()[0][0]
        )

    init = spark.createDataFrame(
        [
            (i, r.e)
            for i, r in enumerate(emb.orderBy("vec_id").limit(KM_K).collect())
        ],
        "cid int, cv array<double>",
    )
    # iteration-1 codebook: plain (non-decimal) means of the init assignment
    cents_row = init.agg(F.collect_list(F.struct("cid", "cv")).alias("cents"))
    assigned = emb.join(F.broadcast(cents_row)).select(
        "e",
        F.array_min(
            F.transform(
                "cents",
                lambda c: F.struct(
                    sqdist(F.col("e"), c["cv"]).alias("d"),
                    c["cid"].alias("cid"),
                ),
            )
        )["cid"].alias("cid"),
    )
    c1 = (
        assigned.select("cid", F.posexplode("e").alias("dim", "v"))
        .groupBy("cid", "dim")
        .agg(F.avg("v").alias("c"))
        .groupBy("cid")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "c"))).alias("sc"))
        .select("cid", F.transform("sc", lambda s: s["c"]).alias("cv"))
    )
    i0, i1 = inertia(init), inertia(c1)
    assert i1 <= i0 + 1e-9, (i0, i1)


def test_weighted_sample_is_length_biased(spark):
    """sample_weighted_topk draws proportional to n_chars, so the sampled
    docs' mean length must exceed the corpus mean (statistical contract of
    the exponential-keys method, beyond the oracle's value equality)."""
    import pyspark.sql.functions as F

    from auron_spark.pipeline.sampling import sample_weighted_topk
    from auron_spark.tables import Tables

    t = Tables(spark, SF_SMOKE)
    corpus_mean = t.documents.agg(F.avg("n_chars")).collect()[0][0]
    sample_mean = (
        sample_weighted_topk(spark, SF_SMOKE).agg(F.avg("n_chars")).collect()[0][0]
    )
    assert sample_mean > corpus_mean, (sample_mean, corpus_mean)


def test_trained_ivf_recall_vs_bruteforce(spark):
    """sim_knn_ivf_trained is approximate (probes N_PROBE of KM_K trained
    lists): its neighbor sets must recover a meaningful fraction of the
    exact brute-force top-k on the planted-cluster fixture — the end-to-end
    quality contract of the trained coarse quantizer."""
    brute = SPECS["sim_knn_bruteforce_arrow"].build(spark, SF_DIR).collect()
    ivf = SPECS["sim_knn_ivf_trained"].build(spark, SF_DIR).collect()
    truth: dict[int, set[int]] = {}
    for r in brute:
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    got: dict[int, set[int]] = {}
    for r in ivf:
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
    total = sum(len(v) for v in truth.values())
    assert hits / total > 0.5, f"trained-IVF recall too low: {hits}/{total}"


def test_pca_power_iteration_properties(spark):
    """Semantic contract of the power iteration: the emitted loadings are a
    unit vector, the eigenvalue estimate is positive, and one more
    iteration changes the direction only slightly (convergence) — checked
    via the variance captured along the component exceeding the
    per-dimension average (a top component must beat the mean direction)."""
    import pyspark.sql.functions as F

    from auron_spark.registry import load_all
    from auron_spark.tables import Tables

    rows = (
        load_all()["sim_pca_power_iteration"].build(spark, SF_DIR).collect()
    )
    loadings = [r.loading for r in sorted(rows, key=lambda r: r.dim)]
    ev = rows[0].eigenvalue
    assert abs(sum(x * x for x in loadings) - 1.0) < 1e-6
    assert ev > 0
    # variance along the component > average per-dim variance
    t = Tables(spark, SF_DIR)
    emb = t.embeddings.select(
        F.transform("embedding", lambda v: v.cast("double")).alias("e")
    )
    n = emb.count()
    vec = F.array(*[F.lit(x) for x in loadings])
    proj_var = (
        emb.select(
            F.aggregate(
                F.zip_with("e", vec, lambda x, v: x * v),
                F.lit(0.0),
                lambda a, x: a + x,
            ).alias("p")
        )
        .agg((F.var_pop("p")).alias("vp"))
        .collect()[0][0]
    )
    total_var = (
        emb.select(F.posexplode("e").alias("d", "x"))
        .groupBy("d")
        .agg(F.var_pop("x").alias("v"))
        .agg(F.sum("v"))
        .collect()[0][0]
    )
    assert proj_var > total_var / 64, (proj_var, total_var)


def test_ivfpq_recall_vs_exact_l2(spark):
    """sim_ivfpq_trained approximates exact-L2 top-k: probing N_PROBE of
    KM_K lists caps recall at the probe ceiling (~0.52 on this fixture) and
    the exact re-rank of the ADC shortlist must recover most of it — the
    end-to-end quality contract of the two-stage IVF-PQ serving path.
    (Direct ADC top-5 with the 10-codeword residual codebook measured 0.18;
    the re-rank lifts it to ~0.46.)"""
    import duckdb

    from auron_spark.pipeline.similarity import QUERY_CAP, QUERY_MOD

    pq = SPECS["sim_ivfpq_trained"].build(spark, SF_DIR).collect()
    got: dict[int, set[int]] = {}
    for r in pq:
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS "
        f"SELECT * FROM read_parquet('{SF_DIR}/embeddings.parquet')"
    )
    l2 = con.execute(f"""
        WITH q AS (SELECT vec_id, embedding FROM embeddings
                   WHERE vec_id % {QUERY_MOD} = 0 AND vec_id < {QUERY_CAP})
        SELECT query_id, neighbor_id FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 row_number() OVER (PARTITION BY q.vec_id ORDER BY
                   list_sum(list_transform(range(1, 65),
                     i -> (CAST(q.embedding[i] AS DOUBLE)
                           - CAST(c.embedding[i] AS DOUBLE))
                        * (CAST(q.embedding[i] AS DOUBLE)
                           - CAST(c.embedding[i] AS DOUBLE)))),
                   c.vec_id) AS rk
          FROM q CROSS JOIN embeddings c WHERE c.vec_id <> q.vec_id)
        WHERE rk <= 5
    """).fetchall()
    truth: dict[int, set[int]] = {}
    for q_, n_ in l2:
        truth.setdefault(q_, set()).add(n_)
    hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
    total = sum(len(v) for v in truth.values())
    assert hits / total > 0.4, f"IVF-PQ recall too low: {hits}/{total}"


def test_pca_top_m_properties(spark):
    """Semantic contract of the deflated power iteration: each component is
    unit-norm, pairwise orthogonal (modified Gram-Schmidt), eigenvalue
    estimates are positive and non-increasing, and component 0 must equal
    sim_pca_power_iteration's output exactly (deflation is a no-op for the
    first component)."""
    import math

    rows = SPECS["sim_pca_top_m"].build(spark, SF_DIR).collect()
    comps: dict[int, list[float]] = {}
    eigs: dict[int, float] = {}
    for r in rows:
        comps.setdefault(r["component"], [0.0] * 64)[r["dim"]] = r["loading"]
        eigs[r["component"]] = r["eigenvalue"]
    assert sorted(comps) == [0, 1, 2]
    for j, v in comps.items():
        assert abs(math.sqrt(sum(x * x for x in v)) - 1.0) < 1e-6, j
    for a in range(3):
        for b in range(a + 1, 3):
            d = sum(x * y for x, y in zip(comps[a], comps[b]))
            assert abs(d) < 1e-6, (a, b, d)
    assert eigs[0] >= eigs[1] >= eigs[2] > 0, eigs
    one = SPECS["sim_pca_power_iteration"].build(spark, SF_DIR).collect()
    for r in one:
        assert comps[0][r["dim"]] == r["loading"], r
        assert eigs[0] == r["eigenvalue"]


def test_feature_pca_top_m_component0_pinned(spark):
    """feature_pca_top_m component 0 must equal
    feature_pca_power_iteration EXACTLY (deflation is a no-op for the
    first component, and both ride the shared _pca_matvec_iterations /
    _pca_rayleigh devices on the same covariance build): loading,
    eigenvalue and var_explained bit-equal on every one of the 8 dims
    the single-component report emits.  Also the deflated spectrum
    contract: eigenvalues positive and non-increasing, each component
    unit-norm, pairwise approximately orthogonal — approximate because
    Hotelling deflation removes the ESTIMATED direction and the fixture
    spectrum is near-isotropic, so 8 iterations leave a residual
    overlap (~0.07 observed; sim_pca_top_m's per-round Gram-Schmidt is
    the exact-orthogonality variant, this query is the
    zero-corpus-I/O one)."""
    import math

    rows = SPECS["feature_pca_top_m"].build(spark, SF_DIR).collect()
    comps: dict[int, dict[int, float]] = {}
    eigs: dict[int, float] = {}
    var_exp: dict[int, float] = {}
    for r in rows:
        comps.setdefault(r["component"], {})[r["dim"]] = r["loading"]
        eigs[r["component"]] = r["eigenvalue"]
        var_exp[r["component"]] = r["var_explained"]
    assert sorted(comps) == [0, 1, 2]
    one = SPECS["feature_pca_power_iteration"].build(spark, SF_DIR).collect()
    assert len(one) == 8
    for r in one:
        assert comps[0][r["dim"]] == r["loading"], r
        assert eigs[0] == r["lambda1"], r
        assert var_exp[0] == r["var_explained"], r
    for j, v in comps.items():
        # loadings are 6-dp rounded, so the unit norm holds to ~64*1e-6
        assert abs(math.sqrt(sum(x * x for x in v.values())) - 1.0) < 1e-4, j
    for a in range(3):
        for b in range(a + 1, 3):
            d = sum(comps[a][k] * comps[b][k] for k in comps[a])
            assert abs(d) < 0.2, (a, b, d)
    # Near-isotropic fixture spectrum: the deflated estimates cluster
    # (~0.024-0.026) and strict monotonicity past component 0 is not an
    # 8-iteration guarantee — assert what the algorithm does promise:
    # the undeflated component carries the largest Rayleigh quotient,
    # all are positive, and together they explain less than everything.
    assert eigs[0] >= eigs[1] > 0 and eigs[0] >= eigs[2] > 0, eigs
    assert 0 < sum(var_exp.values()) < 1, var_exp


def test_matryoshka_overlap_vs_full(spark):
    """The 16-dim prefix search must beat the random baseline by an order
    of magnitude on the fixture.  These embeddings are NOT
    matryoshka-trained (the planted signal spreads over all 64 dims), so
    full agreement is impossible by construction — random top-5-of-499
    overlap is ~1%; measured prefix overlap is ~13%.  With MRL-trained
    embeddings the same plan serves the real trick; this pins the
    plumbing plus non-degeneracy."""
    full = SPECS["sim_knn_bruteforce_arrow"].build(spark, SF_DIR).collect()
    trunc = SPECS["sim_matryoshka_topk"].build(spark, SF_DIR).collect()
    t_full: dict[int, set[int]] = {}
    for r in full:
        t_full.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    t_tr: dict[int, set[int]] = {}
    for r in trunc:
        t_tr.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(len(t_full[q] & t_tr.get(q, set())) for q in t_full)
    total = sum(len(v) for v in t_full.values())
    assert hits / total > 0.05, f"matryoshka overlap too low: {hits}/{total}"


def test_bpe_merge_supports_non_increasing(spark):
    """BPE invariant: each learned merge's support is <= the previous
    step's.  A later pair either existed in the earlier round (where the
    earlier winner dominated it) or contains a merged token, whose
    occurrence count is bounded by the support that created it — so
    supports are monotone non-increasing.  Also checks the merge rules
    compose (merged = left || right) and the encode rollup's arithmetic
    invariants (tokens per word in [1, chars], ratio >= 1)."""
    rows = (
        SPECS["text_bpe_train"].build(spark, SF_DIR).orderBy("step").collect()
    )
    assert [r.step for r in rows] == [1, 2, 3]
    assert all(r.merged == r.left_sym + r.right_sym for r in rows)
    supports = [r.support for r in rows]
    assert supports == sorted(supports, reverse=True), supports

    enc = SPECS["text_bpe_encode"].build(spark, SF_DIR).collect()
    assert enc, "encode produced no rows"
    for r in enc:
        assert r.n_words <= r.n_tokens <= r.n_chars, r
        assert r.chars_per_token >= 1.0, r


def test_kcenter_radius_non_increasing(spark):
    """Greedy farthest-point invariant: each selection's radius (its
    distance to the prior selection) is <= the previous selection's —
    the coverage-radius curve is monotone non-increasing, and every
    selected vec_id is distinct."""
    rows = (
        SPECS["sample_kcenter_coreset"].build(spark, SF_DIR)
        .orderBy("step")
        .collect()
    )
    radii = [r.radius for r in rows[1:]]  # step 1 is the seed (radius 0)
    assert radii == sorted(radii, reverse=True), radii
    ids = [r.vec_id for r in rows]
    assert len(set(ids)) == len(ids), ids


def test_approx_bounds_headroom(spark):
    """ADVICE r7 #3: the agg_approx_bounds / agg_hll_bounds oracles
    hardcode TRUE for their ok_* booleans, and the HLL++ +/-5% band is an
    empirical ~2.5-sigma band, not a hard bound — a Spark bump or fixture
    regen can flip a boolean into a driver hash mismatch with no real
    regression.  This test measures the REALIZED relative errors and
    alerts at HALF the contract bands, so drift is caught here first,
    with the numbers in the failure message (see the re-measurement
    contract in the agg_approx_bounds docstring)."""
    import pyspark.sql.functions as F

    from auron_spark.tables import Tables
    from tests.conftest import SF_DIR

    t = Tables(spark, SF_DIR)
    price = F.col("l_extendedprice").cast("double")
    rows = (
        t.lineitem.groupBy("l_returnflag")
        .agg(
            F.count_distinct("l_orderkey").alias("exact_d"),
            F.approx_count_distinct("l_orderkey", 0.02).alias("approx_d"),
            F.percentile(price, F.lit(0.5)).alias("exact_p50"),
            F.percentile_approx(price, 0.5, 10000).alias("approx_p50"),
            F.percentile(price, F.lit(0.99)).alias("exact_p99"),
            F.percentile_approx(price, 0.99, 10000).alias("approx_p99"),
            F.hll_sketch_estimate(F.hll_sketch_agg("l_orderkey")).alias(
                "hll_d"
            ),
        )
        .collect()
    )
    assert rows
    for r in rows:
        d_err = abs(r["approx_d"] - r["exact_d"]) / r["exact_d"]
        hll_err = abs(r["hll_d"] - r["exact_d"]) / r["exact_d"]
        p50_err = abs(r["approx_p50"] - r["exact_p50"]) / r["exact_p50"]
        p99_err = abs(r["approx_p99"] - r["exact_p99"]) / r["exact_p99"]
        msg = (
            f"flag={r['l_returnflag']} realized errors: hll++={d_err:.4f} "
            f"(contract 0.05), ds-hll={hll_err:.4f} (contract 0.05), "
            f"p50={p50_err:.4f} p99={p99_err:.4f} (contract 0.02) — "
            "within contract but past the 2x-headroom alert line: "
            "re-measure per the agg_approx_bounds docstring before the "
            "driver window runs"
        )
        assert d_err <= 0.025 and hll_err <= 0.025, msg
        assert p50_err <= 0.01 and p99_err <= 0.01, msg


def test_ams_f2_sketch_estimate_quality(spark):
    """agg_ams_f2_sketch semantic contract: the median-of-means F2
    estimate must land within a loose relative band of the exact second
    moment (16 sketches give ~35% standard error on this distribution;
    observed -21% at sf0.01), and the exact side must equal the
    brute-force sum of squared key counts."""
    row = SPECS["agg_ams_f2_sketch"].build(spark, SF_DIR).collect()[0]
    assert row["f2_exact"] > 0
    assert abs(row["rel_err"]) < 0.6, row
    from auron_spark.tables import Tables
    import pyspark.sql.functions as F

    brute = (
        Tables(spark, SF_DIR).lineitem.groupBy("l_partkey").count()
        .agg(F.sum(F.col("count") * F.col("count")).alias("f2"))
        .collect()[0]["f2"]
    )
    assert row["f2_exact"] == brute
