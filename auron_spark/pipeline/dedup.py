"""Deduplication operators for training-data pipelines.

Not present in the reference (its surface stops at relational ops) — these are
the north-star extensions, built from the same Spark primitives so they scale
like any other aggregation:

- exact dedup: hash-groupBy on a content digest (one shuffle on the digest);
- MinHash + LSH near-dup: shingle → per-seed min-hash signature → band →
  bucket-join.  All map-side except one groupBy(doc) and one groupBy(band) —
  no pairwise O(n²) stage ever materializes at 100 TB; candidate pairs are
  bounded by bucket collisions;
- n-gram Jaccard verification on the LSH candidates only;
- SimHash: 64-bit hash from signed token-bit sums (xxhash64-based; rows-only
  check since DuckDB has no xxhash64).

Determinism: all hashing is md5/xxhash64 of explicit strings — stable across
engines, sessions and partitionings.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from auron_spark.registry import query
from auron_spark.tables import Tables

N_MINHASH = 8  # seeds; 4 bands x 2 rows
N_BANDS = 4


def shingles(words_col: str = "w", n: int = 3) -> Column:
    """3-word shingles from a words array column (0-based Spark arrays).

    Documents shorter than ``n`` words yield an EMPTY array: unguarded,
    ``sequence(1, size-2)`` on a 1-word doc produces a *descending* sequence
    and ``element_at(w, 0)`` raises, where DuckDB's ``range(1, len-1)`` is
    simply empty."""
    w = F.col(words_col)
    shingled = F.transform(
        F.sequence(F.lit(1), F.size(w) - (n - 1)),
        lambda i: F.concat_ws(
            " ", F.element_at(w, i), F.element_at(w, i + 1), F.element_at(w, i + 2)
        ),
    )
    return F.when(F.size(w) >= n, shingled).otherwise(
        F.array().cast("array<string>")
    )


_SQL_SHINGLES = (
    "list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])"
)


def _doc_shingles(t: Tables, dedup: bool = True) -> DataFrame:
    """(doc_id, shingle) — exploded; `dedup=True` makes it a set (needed for
    Jaccard set sizes).  MinHash signatures skip the dedup shuffle entirely:
    MIN over duplicates equals MIN over the set."""
    sh = t.parallel("documents", "doc_id").select(
        "doc_id", F.split(F.lower(F.col("text")), " ").alias("w")
    ).select("doc_id", F.explode(shingles()).alias("shingle"))
    return sh.dropDuplicates(["doc_id", "shingle"]) if dedup else sh


# Universal-hash family for MinHash: ONE md5 per shingle (vs the naive
# md5-per-seed, 8× the digest work — measured 2.4× faster end-to-end at
# sf0.1), then per-seed (a*x + b) mod p permutations of its 32-bit prefix.
# Ranges are chosen so every product stays below 2^63: x < 2^32 (8 hex
# chars), a < 2^30 — BIGINT-safe in Spark (which would wrap silently) AND in
# DuckDB (which would raise), so the oracle computes bit-identical values.
_MH_P = (1 << 61) - 1
_MH_AB = [
    ((2654435761 * (s + 1)) % (1 << 30) | 1, (40503 * (s + 7) ** 2 + 12345) % (1 << 30))
    for s in range(N_MINHASH)
]


def minhash_signature(doc_shingles: DataFrame) -> DataFrame:
    """One row per doc with N_MINHASH min-hash columns mh0..mhN-1 (bigint).

    Classic MinHash with a universal-hash family: min over
    (a_s * h(shingle) + b_s) mod p, h = 32-bit md5 prefix — one digest per
    shingle, the 8 permutations are codegen'd multiply-add-mod.

    Deliberately explode+groupBy, NOT array_min(transform(...)): the
    higher-order form is interpreted (no codegen) and measured 2× slower at
    sf0.1, while this shuffle is already minimal — partial MIN reduces to one
    signature row per doc map-side, so only signatures cross the exchange."""
    x = F.conv(F.substring(F.md5(F.col("shingle")), 1, 8), 16, 10).cast("bigint")
    hashed = doc_shingles.select("doc_id", x.alias("x"))
    aggs = [
        F.min((F.lit(a) * F.col("x") + F.lit(b)) % F.lit(_MH_P)).alias(f"mh{s}")
        for s, (a, b) in enumerate(_MH_AB)
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def band_assignments(sig: DataFrame) -> DataFrame:
    """(doc_id, band) rows from a signature frame: N_BANDS bands x 2 rows,
    band key = '<band#>#<mh even>#<mh odd>' — the shared banding of
    `lsh_candidate_pairs` (inline pairing) and the persisted-index serve
    path (`build_lsh_index` / `dedup_lsh_serve`)."""
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        "#",
                        F.lit(str(b)),
                        F.col(f"mh{2 * b}").cast("string"),
                        F.col(f"mh{2 * b + 1}").cast("string"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("band"),
    )


def lsh_candidate_pairs(sig: DataFrame) -> DataFrame:
    """Band the signature (N_BANDS bands × 2 rows) and join docs sharing any
    band bucket.  Returns distinct (a, b) with a < b.

    Consumers that read the pairs TWICE (every symmetric-edges union:
    ``pairs ∪ reverse(pairs)``) wrap the result in a lazy
    ``localCheckpoint`` so the whole shingle→minhash→band→join pipeline
    runs once per execution instead of once per branch (measured
    3.9 → 2.8 s warm for `dedup_canonical_selection` at sf0.1; the same
    shared-relation contract as the simjoin/tfidf materializations —
    fresh per build, no cross-run cache)."""
    bands = band_assignments(sig)
    left = bands.select(F.col("doc_id").alias("a"), "band")
    right = bands.select(F.col("doc_id").alias("b"), "band")
    return (
        left.join(right, "band")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .dropDuplicates()
    )


def _sql_signature_cte(
    recursive: bool = False,
    docs_cte: str = "",
    docs_from: str = "documents",
) -> str:
    """DuckDB CTEs computing the identical signature/bands.  ``recursive``
    emits WITH RECURSIVE so a downstream CTE in the same chain may
    self-reference (the connected-components closure).  ``docs_cte`` /
    ``docs_from`` let a derived corpus (the 10x scale proofs in
    pipeline/simjoin.py) replace the fixture table."""
    mh_cols = ",\n               ".join(
        f"MIN(({a} * x + {b}) % {_MH_P}) AS mh{s}"
        for s, (a, b) in enumerate(_MH_AB)
    )
    band_exprs = ", ".join(
        f"('{b}' || '#' || CAST(mh{2 * b} AS VARCHAR) || '#' || "
        f"CAST(mh{2 * b + 1} AS VARCHAR))"
        for b in range(N_BANDS)
    )
    return f"""
    WITH {"RECURSIVE " if recursive else ""}{docs_cte}sh AS (
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id, unnest({_SQL_SHINGLES}) AS shingle
            FROM (SELECT doc_id, string_split(lower(text), ' ') AS w
                  FROM {docs_from})
        )
    ),
    sig AS (
        SELECT doc_id,
               {mh_cols}
        FROM (SELECT doc_id,
                     CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT) AS x
              FROM sh)
        GROUP BY doc_id
    ),
    bands AS (
        SELECT doc_id, unnest([{band_exprs}]) AS band FROM sig
    )
    """


@query(
    "dedup_exact",
    oracle="""
    SELECT h, min_id, n_copies FROM (
        SELECT md5(text) AS h, MIN(doc_id) AS min_id, COUNT(*) AS n_copies
        FROM documents GROUP BY md5(text)
    )
    ORDER BY min_id
    """,
    tags=("pipeline", "dedup", "exact"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: digest-groupBy keeping the smallest doc_id as canonical.
    One shuffle on the digest; at 100 TB the digest (16 bytes) shuffles, not
    the document text."""
    t = Tables(spark, sf_dir)
    return (
        t.parallel("documents").groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("min_id"), F.count("*").alias("n_copies"))
        .orderBy("min_id")
    )


@query(
    "dedup_minhash_signature",
    oracle=_sql_signature_cte()
    + f"""
    SELECT doc_id, {", ".join(f"mh{s}" for s in range(N_MINHASH))}
    FROM sig ORDER BY doc_id
    """,
    tags=("pipeline", "dedup", "minhash"),
    bench=True,
)
def dedup_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (8 seeds over 3-word shingles)."""
    t = Tables(spark, sf_dir)
    return minhash_signature(_doc_shingles(t, dedup=False)).orderBy("doc_id")


@query(
    "dedup_minhash_lsh_pairs",
    oracle=_sql_signature_cte()
    + """
    SELECT l.doc_id AS a, r.doc_id AS b
    FROM bands l JOIN bands r ON l.band = r.band AND l.doc_id < r.doc_id
    GROUP BY a, b
    ORDER BY a, b
    """,
    tags=("pipeline", "dedup", "minhash", "lsh"),
)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate near-duplicate pairs (4 bands × 2 rows)."""
    t = Tables(spark, sf_dir)
    return lsh_candidate_pairs(
        minhash_signature(_doc_shingles(t, dedup=False))
    ).orderBy("a", "b")


def _pairs_exact_overlap(sh: DataFrame, cand: DataFrame) -> DataFrame:
    """(a, b, n_common, na, nb) for every candidate pair — the exact-verify
    device shared by the LSH verify family (`dedup_ngram_jaccard`,
    `dedup_lsh_quality`, `dedup_minhash_bbit`).

    r16 rewrite (guide §2.3 — shuffle fewer bytes; same device as the
    simjoin verify): the old shape expanded every candidate by doc_a's
    full shingle set and shuffled the |cand| x doc_size relation through
    a second join + a pair-grain COUNT, then joined per-doc sizes twice
    more.  Collapsing each doc's (distinct) shingles to ONE array row,
    the verify is two 1:1 doc-grain joins and the intersection count AND
    both set sizes are row-local array ops — no expansion, no pair-grain
    aggregate, no sizes joins.  Pairs with zero overlap now appear with
    n_common = 0 (the old INNER-join-grouped shape dropped them; callers
    that exposed that absence filter n_common > 0 explicitly).

    Precondition (ADVICE r16 #3): a document's distinct-shingle set must
    fit in a single row — collect_list concentrates the whole set in one
    cell, so a pathologically long document becomes a row-size /
    executor-memory bound where the old pair-grain shuffle degraded
    gracefully.  The corpus contract upstream (gopher-style length
    filters precede dedup in the curation pipeline) bounds doc length;
    the scale legs run 30-120-word docs.  The same precondition applies
    to simjoin's prefix/verify doc-grain arrays."""
    sets = sh.groupBy("doc_id").agg(F.collect_list("shingle").alias("shs"))
    return (
        cand.join(
            sets.select(F.col("doc_id").alias("a"), F.col("shs").alias("sha")),
            "a",
        )
        .join(
            sets.select(F.col("doc_id").alias("b"), F.col("shs").alias("shb")),
            "b",
        )
        .select(
            "a",
            "b",
            F.size(F.array_intersect("sha", "shb"))
            .cast("long")
            .alias("n_common"),
            F.size("sha").cast("long").alias("na"),
            F.size("shb").cast("long").alias("nb"),
        )
    )


@query(
    "dedup_ngram_jaccard",
    oracle=_sql_signature_cte()
    + """
    , cand AS (
        SELECT l.doc_id AS a, r.doc_id AS b
        FROM bands l JOIN bands r ON l.band = r.band AND l.doc_id < r.doc_id
        GROUP BY a, b
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT c.a, c.b, COUNT(*) AS n_common
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.a
        JOIN sh sb ON sb.doc_id = c.b AND sb.shingle = sa.shingle
        GROUP BY c.a, c.b
    )
    SELECT i.a, i.b,
           ROUND(CAST(i.n_common AS DOUBLE) / (za.n + zb.n - i.n_common), 9) AS jaccard
    FROM inter i
    JOIN sizes za ON za.doc_id = i.a
    JOIN sizes zb ON zb.doc_id = i.b
    ORDER BY a, b
    """,
    tags=("pipeline", "dedup", "jaccard"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-set Jaccard similarity, computed only for LSH candidates —
    the verify stage of near-dup detection.  Set sizes and intersections are
    exact integers; the ratio is one double division."""
    t = Tables(spark, sf_dir)
    sh = _doc_shingles(t)
    cand = lsh_candidate_pairs(minhash_signature(sh))
    # n_common > 0 preserves the pre-r16 output contract exactly: the old
    # inner-join-grouped intersection emitted only overlapping pairs.
    return (
        _pairs_exact_overlap(sh, cand)
        .where(F.col("n_common") > 0)
        .select(
            "a",
            "b",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_common")),
                9,
            ).alias("jaccard"),
        )
        .orderBy("a", "b")
    )


@query(
    "dedup_simhash",
    oracle=None,  # xxhash64 has no DuckDB twin; checked by property in tests
    tags=("pipeline", "dedup", "simhash"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document: sign-sum of token hash bits.

    token bit b contributes +1 if set else -1; simhash bit b = (sum > 0).
    Pure built-in bit arithmetic (xxhash64, shiftright, sum) — no UDF."""
    t = Tables(spark, sf_dir)
    toks = t.parallel("documents", "doc_id").select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    )
    hashed = toks.select("doc_id", F.xxhash64("tok").alias("h"))
    # per (doc, bit): sum of (+1/-1); then assemble the 64-bit value
    bit_cols = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(64)
    ]
    sums = hashed.groupBy("doc_id").agg(*bit_cols)
    simhash = sums.select(
        "doc_id",
        sum(
            [
                F.when(F.col(f"s{b}") > 0, F.lit(1).cast("long") * (2**b if b < 63 else 0))
                .otherwise(0)
                for b in range(63)
            ]
        ).alias("simhash"),
        (F.col("s63") > 0).alias("high_bit"),
    )
    return simhash.orderBy("doc_id")


def _simhash32_oracle() -> str:
    sum_cols = ",\n               ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(32)
    )
    assemble = " + ".join(
        f"CASE WHEN s{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END"
        for b in range(32)
    )
    return f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents
    ),
    hashed AS (
        SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS h
        FROM toks
    ),
    sums AS (
        SELECT doc_id,
               {sum_cols}
        FROM hashed GROUP BY doc_id
    )
    SELECT doc_id, {assemble} AS simhash
    FROM sums ORDER BY doc_id
    """


@query(
    "dedup_simhash_md5",
    oracle=_simhash32_oracle(),
    tags=("pipeline", "dedup", "simhash"),
)
def dedup_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash with md5-derived token hashes — the oracle-checkable
    twin of dedup_simhash (xxhash64 has no DuckDB equivalent; the first 32
    md5 bits do).  Same construction: token bit b contributes ±1, simhash
    bit b = (sum > 0).  Same plan shape: map-side hash, one groupBy(doc)."""
    t = Tables(spark, sf_dir)
    toks = t.parallel("documents", "doc_id").select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    )
    hashed = toks.select(
        "doc_id",
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long").alias("h"),
    )
    bit_cols = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(32)
    ]
    sums = hashed.groupBy("doc_id").agg(*bit_cols)
    return sums.select(
        "doc_id",
        sum(
            [
                F.when(F.col(f"s{b}") > 0, F.lit(1 << b).cast("long")).otherwise(0)
                for b in range(32)
            ]
        ).alias("simhash"),
    ).orderBy("doc_id")


@query(
    "contamination_ngram_overlap",
    oracle=f"""
    WITH sh AS (
        SELECT DISTINCT doc_id, source, shingle FROM (
            SELECT doc_id, source, unnest({_SQL_SHINGLES}) AS shingle
            FROM (SELECT doc_id, source, string_split(lower(text), ' ') AS w
                  FROM documents)
        )
    ),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src0'),
    corpus AS (SELECT doc_id, shingle FROM sh WHERE source <> 'src0'),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM corpus GROUP BY doc_id),
    hits AS (
        SELECT c.doc_id, COUNT(*) AS n_hit
        FROM corpus c JOIN bench b ON c.shingle = b.shingle
        GROUP BY c.doc_id
    )
    SELECT h.doc_id AS doc_id, h.n_hit, s.n AS n_shingles,
           ROUND(CAST(h.n_hit AS DOUBLE) / s.n, 9) AS contamination
    FROM hits h JOIN sizes s ON s.doc_id = h.doc_id
    ORDER BY h.doc_id
    """,
    tags=("pipeline", "dedup", "contamination"),
)
def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination detection: for every corpus document, the
    fraction of its 3-word shingles that collide with a held-out benchmark
    set (source='src0' stands in for the eval suite).  The core hygiene
    check before any training run — eval n-grams leaking into train data
    silently inflate benchmark scores.

    Scale shape: shingle sets on both sides, one equi-join on the shingle
    string (at 100 TB: on a shingle hash, with the benchmark side — eval
    suites are small — broadcast), groupBy per doc.  No O(n^2) stage; cost
    is linear in corpus shingles."""
    t = Tables(spark, sf_dir)
    sh = (
        t.parallel("documents", "doc_id")
        .select(
            "doc_id", "source", F.split(F.lower(F.col("text")), " ").alias("w")
        )
        .select("doc_id", "source", F.explode(shingles()).alias("shingle"))
        .dropDuplicates(["doc_id", "shingle"])
    )
    bench = (
        sh.filter(F.col("source") == "src0").select("shingle").dropDuplicates()
    )
    corpus = sh.filter(F.col("source") != "src0").select("doc_id", "shingle")
    sizes = corpus.groupBy("doc_id").agg(F.count("*").alias("n"))
    hits = (
        corpus.join(bench, "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hit"))
    )
    return (
        hits.join(sizes, "doc_id")
        .select(
            "doc_id",
            "n_hit",
            F.col("n").alias("n_shingles"),
            F.round(F.col("n_hit").cast("double") / F.col("n"), 9).alias(
                "contamination"
            ),
        )
        .orderBy("doc_id")
    )


@query(
    "dedup_connected_components",
    oracle=_sql_signature_cte(recursive=True)
    + """
    , pairs AS (
        SELECT l.doc_id AS a, r.doc_id AS b
        FROM bands l JOIN bands r ON l.band = r.band AND l.doc_id < r.doc_id
        GROUP BY a, b
    ),
    edges AS (
        SELECT a AS u, b AS v FROM pairs
        UNION ALL
        SELECT b AS u, a AS v FROM pairs
    ),
    reach (src, dst) AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.src, e.v FROM reach r JOIN edges e ON e.u = r.dst
    )
    SELECT d.doc_id,
           LEAST(d.doc_id, COALESCE(MIN(r.dst), d.doc_id)) AS canonical_id
    FROM documents d LEFT JOIN reach r ON r.src = d.doc_id
    GROUP BY d.doc_id
    ORDER BY d.doc_id
    """,
    tags=("pipeline", "dedup", "connected-components", "iterative"),
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate clustering: connected components over the LSH candidate
    graph, canonical id = min(doc_id) of the component — the step that turns
    pairwise candidates into keep/drop decisions.

    Uses :func:`connected_components` (min-label propagation + pointer
    jumping, O(log n) rounds on any topology, loud RuntimeError if the round
    budget is ever exceeded).  Each round is two equi-joins + a groupBy — the
    standard distributed CC shape; the loop is driver-side control flow over
    DataFrames, data never leaves the cluster (convergence is checked with a
    scalar count).  The DuckDB oracle computes the same fixpoint exactly via
    a recursive CTE — an exact oracle for an iterative algorithm."""
    t = Tables(spark, sf_dir)
    return lsh_components(
        t.documents.select("doc_id"), _doc_shingles(t, dedup=False)
    ).orderBy("doc_id")


def lsh_components(nodes: DataFrame, doc_shingles: DataFrame) -> DataFrame:
    """(doc_id, canonical_id) for every row of ``nodes``: the connected
    components of the MinHash-LSH candidate graph over ``doc_shingles``
    (doc_id, shingle), canonical id = the component's smallest doc_id.
    The candidate pairs become a symmetric edge list, persisted for the
    iterative `connected_components` and released once it converges."""
    pairs = lsh_candidate_pairs(minhash_signature(doc_shingles)).localCheckpoint(
        eager=False
    )
    edges = (
        pairs.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .union(pairs.select(F.col("b").alias("u"), F.col("a").alias("v")))
        .persist()
    )
    labels = connected_components(nodes, edges)
    edges.unpersist()
    return labels


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_rounds: int = 20
) -> DataFrame:
    """Distributed connected components: min-label propagation accelerated by
    pointer jumping (path halving).

    Each round does (1) the classic min-neighbor step — every node takes the
    minimum of its own label and its neighbors' labels (one equi-join +
    groupBy) — then (2) a pointer jump: ``label := label(label)`` (one
    self-join on the label table).  The jump doubles the distance a component
    minimum travels per round, so a path graph of n nodes converges in
    O(log n) rounds instead of the O(n) a pure propagation needs — the same
    acceleration idea as the large-star/small-star algorithm (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14), in two
    dataframe joins.  Both steps preserve the invariant that a node's label
    is the doc_id of some member of its own component that is <= its own id,
    and the fixpoint (no change anywhere) forces labels equal across every
    edge, i.e. label = component minimum.

    ``nodes`` is (doc_id), ``edges`` is a directed (u, v) pair list that must
    already contain both directions of each undirected edge.  Raises
    RuntimeError if the fixpoint is not reached in ``max_rounds`` — a silent
    non-converged result would diverge from the exact oracle.

    Each round ends in ``localCheckpoint`` (the standard lineage cut for
    iterative DataFrame algorithms): the pointer jump references the stepped
    labels twice, so without truncation the logical plan would double every
    round and analysis cost would explode exponentially.

    Round-6 shape improvements (results identical):
    - the iteration runs only over nodes that actually appear in ``edges``
      (both directions are present, so ``u`` covers every endpoint);
      isolated nodes are their own component by definition and rejoin
      map-side at the end.  Near-dup candidate graphs are sparse — at
      100 TB this shrinks every per-round join from corpus-size to
      candidate-size;
    - the convergence check reads a change flag carried through the round's
      own plan instead of re-joining against the previous labels — one
      shuffle join fewer per round;
    - round 1 is fused into initialization: with labels = identity, the
      min-neighbor step degenerates to ``least(u, min(v))`` — one
      aggregation over the edge list, no label join, no separate identity
      checkpoint.
    """
    labels = (
        edges.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select(
            F.col("u").alias("doc_id"),
            F.least("u", "mn").alias("canonical_id"),
        )
        # Lazy (r16): round 1's convergence count is the first consumer and
        # materializes this cache inside its own job — one driver round trip
        # fewer, identical rows/lineage-cut semantics.
        .localCheckpoint(eager=False)
    )
    changed = -1
    for _ in range(max_rounds):
        neigh = (
            edges.join(labels, edges.v == labels.doc_id)
            .groupBy("u")
            .agg(F.min("canonical_id").alias("neigh_min"))
        )
        stepped = labels.join(neigh, labels.doc_id == neigh.u, "left").select(
            "doc_id",
            F.col("canonical_id").alias("orig"),
            F.least(
                F.col("canonical_id"),
                F.coalesce(F.col("neigh_min"), F.col("canonical_id")),
            ).alias("canonical_id"),
        )
        # pointer jump: follow one hop through the label table; the target's
        # label is <= the current label by the invariant, so least() is only
        # a guard against ties
        updated = (
            stepped.alias("x")
            .join(
                stepped.select(
                    F.col("doc_id").alias("t_id"),
                    F.col("canonical_id").alias("t_label"),
                ),
                F.col("x.canonical_id") == F.col("t_id"),
            )
            .select(
                "doc_id",
                F.least(F.col("canonical_id"), F.col("t_label")).alias(
                    "canonical_id"
                ),
                F.col("orig"),
            )
            .withColumn("chg", F.col("canonical_id") != F.col("orig"))
            # Lazy (r16): the convergence count right below is the round's
            # action and materializes the cache as it runs — fusing the old
            # eager-checkpoint job and the count job into ONE job per round
            # (the count itself then reads the cached partitions).  Lineage
            # is cut exactly as before; rows identical.
            .localCheckpoint(eager=False)
        )
        changed = updated.filter("chg").count()
        labels = updated.select("doc_id", "canonical_id")
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds"
        )
    isolated = nodes.join(labels.select("doc_id"), "doc_id", "left_anti").select(
        "doc_id", F.col("doc_id").alias("canonical_id")
    )
    return labels.unionByName(isolated)


@query(
    "dedup_incremental_anti_join",
    oracle="""
    WITH corpus AS (
        SELECT md5(text) AS h FROM documents WHERE source = 'src0'
        GROUP BY md5(text)
    ),
    batch AS (
        SELECT doc_id, source, md5(text) AS h FROM documents
        WHERE source <> 'src0'
    )
    SELECT b.source, COUNT(*) AS n_new,
           COUNT(DISTINCT b.h) AS n_distinct_new
    FROM batch b
    WHERE b.h NOT IN (SELECT h FROM corpus)
    GROUP BY b.source
    ORDER BY b.source
    """,
    tags=("pipeline", "dedup", "incremental"),
)
def dedup_incremental_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: a new batch is admitted only where its
    content digest does not already exist in the accumulated corpus — a LEFT
    ANTI join on the 16-byte digest (src0 plays the historical corpus here,
    the other sources the incoming batch).

    This is the production shape for append-only pipelines: the historical
    side is a digest-only table (16 bytes/doc — 100 TB of text reduces to
    ~100s of GB of digests), the anti join shuffles digests not text, and
    when the digest table is bucketed by `h` the ingest join is co-located
    and shuffle-free on the corpus side.  Spark additionally gates the probe
    with the runtime bloom filter (session.py) so most new-batch rows never
    reach the exchange.  md5 is never NULL here, so NOT IN and LEFT ANTI
    agree (the null-aware case is covered by join_null_aware_anti)."""
    t = Tables(spark, sf_dir)
    docs = t.documents
    corpus = (
        docs.where(F.col("source") == "src0")
        .select(F.md5("text").alias("h"))
        .dropDuplicates()
    )
    batch = docs.where(F.col("source") != "src0").select(
        "doc_id", "source", F.md5("text").alias("h")
    )
    return (
        batch.join(corpus, "h", "left_anti")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_new"),
            F.count_distinct("h").alias("n_distinct_new"),
        )
        .orderBy("source")
    )


@query(
    "dedup_fuzzy_name_match",
    oracle="""
    WITH probe AS (
        SELECT p_partkey AS probe_id, p_brand, p_name
        FROM part WHERE p_partkey % 50 = 0 AND p_partkey < 5000
    ),
    cand AS (
        SELECT pr.probe_id, c.p_partkey AS match_id,
               levenshtein(pr.p_name, c.p_name) AS dist
        FROM probe pr JOIN part c
          ON c.p_brand = pr.p_brand AND c.p_partkey <> pr.probe_id
    )
    SELECT probe_id, match_id, CAST(dist AS BIGINT) AS dist FROM (
        SELECT probe_id, match_id, dist,
               row_number() OVER (PARTITION BY probe_id
                                  ORDER BY dist, match_id) AS rn
        FROM cand
    ) WHERE rn <= 3
    ORDER BY probe_id, rn
    """,
    tags=("pipeline", "dedup", "fuzzy", "levenshtein"),
)
def dedup_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching: for each probe item, the 3 closest catalog
    names by edit distance, candidates fetched by equi-join on a blocking
    key (brand) — the record-linkage primitive for catalog/entity dedup
    where near-duplicates differ by typos rather than token sets (MinHash
    misses single-character edits in short strings).

    100 TB shape: the probe side is a bounded query set (the same
    capped-prefix pattern as the ANN queries — here new/suspect items, never
    the whole catalog), candidates come from the blocking-key equi-join
    (brand locally; brand × size × container in production for tighter
    blocks), and the per-probe top-3 prunes through WindowGroupLimit.
    Levenshtein is a codegen'd scalar; both engines implement the same
    unweighted edit distance, so the oracle is exact."""
    from pyspark.sql.window import Window

    t = Tables(spark, sf_dir)
    probe = t.part.where(
        (F.col("p_partkey") % 50 == 0) & (F.col("p_partkey") < 5000)  # bounded probe
    ).select(
        F.col("p_partkey").alias("probe_id"),
        F.col("p_brand").alias("b"),
        F.col("p_name").alias("probe_name"),
    )
    cand = probe.join(
        t.part, (F.col("p_brand") == F.col("b")) & (F.col("p_partkey") != F.col("probe_id"))
    ).select(
        "probe_id",
        F.col("p_partkey").alias("match_id"),
        F.levenshtein("probe_name", "p_name").alias("dist"),
    )
    w = Window.partitionBy("probe_id").orderBy("dist", "match_id")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("probe_id", "match_id", F.col("dist").cast("long").alias("dist"))
        .orderBy("probe_id", "rn")
    )


PR_ITERS = 10
PR_SCALE = 1_000_000  # fixed-point rank units


@query(
    "graph_pagerank_fixed_point",
    oracle=_sql_signature_cte(recursive=True)
    + f"""
    , pairs AS (
        SELECT l.doc_id AS a, r.doc_id AS b
        FROM bands l JOIN bands r ON l.band = r.band AND l.doc_id < r.doc_id
        GROUP BY a, b
    ),
    edges AS (
        SELECT a AS u, b AS v FROM pairs
        UNION ALL
        SELECT b AS u, a AS v FROM pairs
    ),
    deg AS (SELECT u, COUNT(*) AS d FROM edges GROUP BY u),
    pr AS (
        SELECT doc_id, 0 AS it, CAST({PR_SCALE} AS BIGINT) AS r
        FROM documents
        UNION ALL
        SELECT p.doc_id, p.it + 1,
               CAST(150000 + (850000 * COALESCE(n.s, 0)) // {PR_SCALE}
                    AS BIGINT)
        FROM pr p
        LEFT JOIN (
            SELECT e.v AS doc_id, p2.it, SUM(p2.r // dg.d) AS s
            FROM pr p2
            JOIN edges e ON e.u = p2.doc_id
            JOIN deg dg ON dg.u = p2.doc_id
            GROUP BY e.v, p2.it
        ) n ON n.doc_id = p.doc_id AND n.it = p.it
        WHERE p.it < {PR_ITERS}
    )
    SELECT doc_id, r AS rank
    FROM pr WHERE it = {PR_ITERS}
    ORDER BY doc_id
    """,
    tags=("pipeline", "graph", "pagerank", "iterative"),
)
def graph_pagerank_fixed_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the LSH near-duplicate graph in EXACT fixed-point
    arithmetic — the second iterative-algorithm demo beyond connected
    components, with the same engineering pattern (driver-side loop,
    localCheckpoint lineage cuts) and an exact oracle despite 10 iterations:
    ranks live in integer micro-units and every step is integer
    multiply/floor-divide, so Spark and DuckDB's recursive CTE compute
    bit-identical values (float PageRank could differ in the last ulp per
    aggregation order, compounding per iteration).

    Update rule: r'(v) = 0.15·SCALE + floor(0.85 · Σ_{{u→v}} floor(r(u)/deg(u)) /
    SCALE·SCALE) with dangling mass dropped (documented simplification).
    100 TB shape: each iteration is one equi-join on the edge list + one
    groupBy — shuffle ∝ edges, exactly like distributed PageRank anywhere;
    degrees are precomputed once."""
    t = Tables(spark, sf_dir)
    pairs = lsh_candidate_pairs(
        minhash_signature(_doc_shingles(t, dedup=False))
    ).localCheckpoint(eager=False)
    edges = (
        pairs.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .union(pairs.select(F.col("b").alias("u"), F.col("a").alias("v")))
        .localCheckpoint(eager=False)
    )
    deg = edges.groupBy("u").agg(F.count("*").alias("d")).localCheckpoint(eager=False)
    ranks = t.documents.select(
        "doc_id", F.lit(PR_SCALE).cast("long").alias("r")
    ).localCheckpoint(eager=False)
    for _ in range(PR_ITERS):
        contrib = (
            ranks.join(edges, ranks.doc_id == edges.u)
            .join(deg, "u")
            .select("v", F.expr("r DIV d").alias("c"))
            .groupBy("v")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            ranks.join(contrib, ranks.doc_id == contrib.v, "left")
            .select(
                "doc_id",
                (
                    F.lit(150000)
                    + F.expr(f"850000 * coalesce(s, 0) DIV {PR_SCALE}")
                ).cast("long").alias("r"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks.select("doc_id", F.col("r").alias("rank")).orderBy("doc_id")


@query(
    "graph_triangle_count",
    oracle=_sql_signature_cte()
    + """
    , pairs AS (
        SELECT l.doc_id AS a, r.doc_id AS b
        FROM bands l JOIN bands r ON l.band = r.band AND l.doc_id < r.doc_id
        GROUP BY a, b
    ),
    tri AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM pairs e1
        JOIN pairs e2 ON e2.a = e1.b
        JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles,
           CAST(COUNT(DISTINCT x) + COUNT(DISTINCT y) + COUNT(DISTINCT z)
                AS BIGINT) AS corner_card
    FROM tri
    """,
    tags=("pipeline", "graph", "triangles"),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the near-duplicate graph — completes the graph
    trio (components, PageRank, triangles); triangle density distinguishes
    true duplicate cliques from chains of borderline pairs.

    The classic distributed formulation: orient every edge low-id → high-id,
    then count paths x→y→z that close with an x→z edge — each triangle is
    counted exactly once, and the ordering bounds the join fan-out by
    out-degree (at scale, degree-ordering instead of id-ordering caps
    fan-out at O(sqrt(|E|)) per node — the standard refinement; id-ordering
    keeps the DuckDB oracle identical here).  Two equi-joins on the edge
    list, shuffle ∝ edges + wedges."""
    t = Tables(spark, sf_dir)
    pairs = lsh_candidate_pairs(
        minhash_signature(_doc_shingles(t, dedup=False))
    ).localCheckpoint(eager=False)
    e1 = pairs.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = pairs.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = pairs.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    return tri.agg(
        F.count("*").alias("n_triangles"),
        (
            F.count_distinct("x") + F.count_distinct("y") + F.count_distinct("z")
        ).cast("long").alias("corner_card"),
    )


@query(
    "cdc_snapshot_diff",
    oracle="""
    WITH snap_a AS (
        SELECT doc_id, source,
               md5(text || CASE WHEN doc_id % 5 = 0 THEN '' ELSE '' END) AS h
        FROM documents WHERE doc_id % 10 <> 0
    ),
    snap_b AS (
        SELECT doc_id, source,
               md5(text || CASE WHEN doc_id % 5 = 0 THEN '+rev2' ELSE '' END)
                   AS h
        FROM documents WHERE doc_id % 7 <> 0
    ),
    classified AS (
        SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
               COALESCE(a.source, b.source) AS source,
               CASE WHEN a.doc_id IS NULL THEN 'added'
                    WHEN b.doc_id IS NULL THEN 'removed'
                    WHEN a.h <> b.h THEN 'changed'
                    ELSE 'unchanged' END AS change_type
        FROM snap_a a FULL OUTER JOIN snap_b b ON a.doc_id = b.doc_id
    )
    SELECT source, change_type, COUNT(*) AS n
    FROM classified
    GROUP BY source, change_type
    ORDER BY source, change_type
    """,
    tags=("pipeline", "cdc", "diff"),
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture between two corpus snapshots: FULL OUTER join on
    the stable key, rows classified added / removed / changed (content
    digest differs) / unchanged, rolled up per source — the delta report a
    corpus refresh pipeline emits before committing an upsert
    (``sources/io.py::upsert_parquet_partitioned``).

    The snapshots are synthesized deterministically from the documents
    fixture (membership by doc_id residue; 'rev2' edits to every 5th doc)
    so the oracle sees identical inputs.

    Scale shape: one sort-merge FULL OUTER join on the key — both snapshots
    shuffle once; with both stored bucketed by doc_id the join is
    co-located and the diff is shuffle-free.  Classification is map-side
    (digest compare), and only the small per-source rollup aggregates;
    a row-level variant would instead write `classified` partitioned by
    change_type."""
    t = Tables(spark, sf_dir)

    def snap(pred, edited):
        return t.documents.filter(pred).select(
            "doc_id",
            "source",
            F.md5(
                F.concat(
                    "text",
                    F.when(edited & (F.col("doc_id") % 5 == 0), F.lit("+rev2"))
                    .otherwise(F.lit("")),
                )
            ).alias("h"),
        )

    a = snap(F.col("doc_id") % 10 != 0, edited=F.lit(False))
    b = snap(F.col("doc_id") % 7 != 0, edited=F.lit(True))
    classified = (
        a.alias("a")
        .join(b.alias("b"), F.col("a.doc_id") == F.col("b.doc_id"), "full_outer")
        .select(
            F.coalesce("a.source", "b.source").alias("source"),
            F.when(F.col("a.doc_id").isNull(), "added")
            .when(F.col("b.doc_id").isNull(), "removed")
            .when(F.col("a.h") != F.col("b.h"), "changed")
            .otherwise("unchanged")
            .alias("change_type"),
        )
    )
    return (
        classified.groupBy("source", "change_type")
        .agg(F.count("*").alias("n"))
        .orderBy("source", "change_type")
    )


@query(
    "dedup_canonical_selection",
    oracle=_sql_signature_cte(recursive=True)
    + """
    , pairs AS (
        SELECT l.doc_id AS a, r.doc_id AS b
        FROM bands l JOIN bands r ON l.band = r.band AND l.doc_id < r.doc_id
        GROUP BY a, b
    ),
    edges AS (
        SELECT a AS u, b AS v FROM pairs
        UNION ALL
        SELECT b AS u, a AS v FROM pairs
    ),
    reach (src, dst) AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.src, e.v FROM reach r JOIN edges e ON e.u = r.dst
    ),
    comp AS (
        SELECT d.doc_id,
               LEAST(d.doc_id, COALESCE(MIN(r.dst), d.doc_id)) AS component
        FROM documents d LEFT JOIN reach r ON r.src = d.doc_id
        GROUP BY d.doc_id
    ),
    ranked AS (
        SELECT c.doc_id, c.component, d.n_chars,
               ROW_NUMBER() OVER (PARTITION BY c.component
                                  ORDER BY d.n_chars DESC, c.doc_id) AS rn
        FROM comp c JOIN documents d ON d.doc_id = c.doc_id
    ),
    reps AS (SELECT component, doc_id AS rep_id FROM ranked WHERE rn = 1)
    SELECT k.doc_id, r.rep_id,
           CAST(CASE WHEN k.doc_id = r.rep_id THEN 1 ELSE 0 END AS INT)
               AS keep
    FROM ranked k JOIN reps r ON r.component = k.component
    ORDER BY k.doc_id
    """,
    tags=("pipeline", "dedup", "canonicalization"),
    bench=True,
)
def dedup_canonical_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-representative selection — the final step of near-dup
    dedup: within each connected component of the LSH candidate graph,
    keep the highest-quality document (longest text, doc_id tiebreak) and
    map every member to its representative.  Downstream, `keep = 1` rows
    form the deduplicated corpus and the (doc_id -> rep_id) mapping
    rewrites references.

    Scale shape: component labels come from the pointer-jumping CC (one
    equi-join + groupBy per O(log n) round); representative election is
    one window pass partitioned by component (WindowGroupLimit prunes to
    the per-component head before any full sort) plus a broadcast-size
    reps join — components are small, so reps ≪ corpus and the final map
    is a broadcast hash join."""
    from pyspark.sql import Window

    t = Tables(spark, sf_dir)
    labels = lsh_components(
        t.documents.select("doc_id"), _doc_shingles(t, dedup=False)
    )
    ranked = labels.withColumnRenamed("canonical_id", "component").join(
        t.documents.select("doc_id", "n_chars"), "doc_id"
    )
    w = Window.partitionBy("component").orderBy(F.desc("n_chars"), "doc_id")
    ranked = ranked.withColumn("rn", F.row_number().over(w))
    reps = ranked.filter(F.col("rn") == 1).select(
        "component", F.col("doc_id").alias("rep_id")
    )
    return (
        ranked.join(F.broadcast(reps), "component")
        .select(
            "doc_id",
            "rep_id",
            (F.col("doc_id") == F.col("rep_id")).cast("int").alias("keep"),
        )
        .orderBy("doc_id")
    )


@query(
    "dedup_component_stats",
    oracle=_sql_signature_cte(recursive=True)
    + """
    , pairs AS (
        SELECT l.doc_id AS a, r.doc_id AS b
        FROM bands l JOIN bands r ON l.band = r.band AND l.doc_id < r.doc_id
        GROUP BY a, b
    ),
    edges AS (
        SELECT a AS u, b AS v FROM pairs
        UNION ALL
        SELECT b AS u, a AS v FROM pairs
    ),
    reach (src, dst) AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.src, e.v FROM reach r JOIN edges e ON e.u = r.dst
    ),
    comp AS (
        SELECT d.doc_id,
               LEAST(d.doc_id, COALESCE(MIN(r.dst), d.doc_id)) AS component
        FROM documents d LEFT JOIN reach r ON r.src = d.doc_id
        GROUP BY d.doc_id
    ),
    sizes AS (
        SELECT component, COUNT(*) AS component_size
        FROM comp GROUP BY component
    )
    SELECT CAST(component_size AS BIGINT) AS component_size,
           CAST(COUNT(*) AS BIGINT) AS n_components,
           CAST(component_size * COUNT(*) AS BIGINT) AS n_docs
    FROM sizes
    GROUP BY component_size
    ORDER BY component_size
    """,
    tags=("pipeline", "dedup", "diagnostics"),
)
def dedup_component_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size profile — the dedup run's health report: how
    many singletons (unique docs), how many small clusters, and whether a
    mega-cluster exists (the classic LSH failure mode where boilerplate
    chains everything into one component and dedup would delete the
    corpus).  Operators gate corpus releases on exactly this histogram.

    Scale shape: component labels from the shared pointer-jumping CC
    (candidate-size rounds), then two tiny aggregations (per-component
    size, then size histogram) — output is O(distinct sizes)."""
    t = Tables(spark, sf_dir)
    labels = lsh_components(
        t.documents.select("doc_id"), _doc_shingles(t, dedup=False)
    )
    return (
        labels.groupBy("canonical_id")
        .agg(F.count("*").alias("component_size"))
        .groupBy("component_size")
        .agg(F.count("*").alias("n_components"))
        .select(
            F.col("component_size").cast("bigint"),
            F.col("n_components").cast("bigint"),
            (F.col("component_size") * F.col("n_components"))
            .cast("bigint")
            .alias("n_docs"),
        )
        .orderBy("component_size")
    )


@query(
    "dedup_lsh_quality",
    oracle=_sql_signature_cte()
    + """
    , cand AS (
        SELECT l.doc_id AS a, r.doc_id AS b
        FROM bands l JOIN bands r ON l.band = r.band AND l.doc_id < r.doc_id
        GROUP BY a, b
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT c.a, c.b, COUNT(*) AS n_common
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.a
        JOIN sh sb ON sb.doc_id = c.b AND sb.shingle = sa.shingle
        GROUP BY c.a, c.b
    ),
    j AS (
        SELECT i.a, i.b,
               CAST(i.n_common AS DOUBLE) / (za.n + zb.n - i.n_common) AS jac
        FROM inter i
        JOIN sizes za ON za.doc_id = i.a
        JOIN sizes zb ON zb.doc_id = i.b
    ),
    tot AS (SELECT COUNT(*) AS n_cand FROM cand),
    taus AS (SELECT CAST(unnest([0.5, 0.7, 0.9]) AS DOUBLE) AS tau)
    SELECT taus.tau AS threshold,
           CAST(tot.n_cand AS BIGINT) AS n_candidates,
           CAST(SUM(CASE WHEN j.jac >= taus.tau THEN 1 ELSE 0 END) AS BIGINT)
               AS n_verified,
           ROUND(SUM(CASE WHEN j.jac >= taus.tau THEN 1 ELSE 0 END)
                 / CAST(tot.n_cand AS DOUBLE), 9) AS prec
    FROM taus CROSS JOIN tot CROSS JOIN j
    GROUP BY taus.tau, tot.n_cand
    ORDER BY threshold
    """,
    tags=("pipeline", "dedup", "evaluation"),
)
def dedup_lsh_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding quality report — evaluation-as-a-query: how many
    candidate pairs the 4x2 banding produced and what fraction survive
    exact-Jaccard verification at 0.5 / 0.7 / 0.9.  Low precision at the
    operating threshold means the banding is too loose (wasted verify
    work); operators tune bands x rows against exactly this table before
    a corpus-scale run.  (Recall needs all-pairs ground truth, which is
    O(n^2) by definition — deliberately out of scope; the banding theory
    curve is the recall argument.)

    Scale shape: candidate-pairs-sized joins only (the verify stage's
    own contract), one 3-row threshold frame cross-joined at the end —
    nothing new shuffles beyond what dedup_ngram_jaccard already pays."""
    t = Tables(spark, sf_dir)
    sh = _doc_shingles(t)
    cand = lsh_candidate_pairs(minhash_signature(sh))
    # n_common > 0 mirrors the oracle's INNER-grouped `inter` CTE: only
    # overlapping pairs reach `j` (zero-overlap pairs would contribute 0
    # to every threshold anyway, but the empty-j edge case must agree).
    j = (
        _pairs_exact_overlap(sh, cand)
        .where(F.col("n_common") > 0)
        .select(
            (
                F.col("n_common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_common"))
            ).alias("jac")
        )
    )
    tot = cand.agg(F.count("*").alias("n_cand"))
    taus = spark.createDataFrame([(0.5,), (0.7,), (0.9,)], "tau double")
    # broadcast the 3-row threshold frame so the fan-out is a bounded
    # BroadcastNestedLoopJoin, never a CartesianProduct (repo-wide gate)
    return (
        j.crossJoin(F.broadcast(taus.crossJoin(F.broadcast(tot))))
        .groupBy("tau", "n_cand")
        .agg(
            F.sum(F.when(F.col("jac") >= F.col("tau"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_verified")
        )
        .select(
            F.col("tau").alias("threshold"),
            F.col("n_cand").cast("bigint").alias("n_candidates"),
            "n_verified",
            F.round(
                F.col("n_verified") / F.col("n_cand").cast("double"), 9
            ).alias("prec"),
        )
        .orderBy("threshold")
    )


from auron_spark.pipeline.sampling import _sql_bucket as _split_bucket_sql

_SPLIT_SQL = (
    "CASE WHEN " + _split_bucket_sql("{id}") + " < 80 THEN 'train' "
    "WHEN " + _split_bucket_sql("{id}") + " < 90 THEN 'val' "
    "ELSE 'test' END"
)


@query(
    "split_leakage_audit",
    oracle=_sql_signature_cte()
    + f"""
    , cand AS (
        SELECT l.doc_id AS a, r.doc_id AS b
        FROM bands l JOIN bands r ON l.band = r.band AND l.doc_id < r.doc_id
        GROUP BY a, b
    ),
    labeled AS (
        SELECT CASE WHEN {_SPLIT_SQL.format(id="a")} <= {_SPLIT_SQL.format(id="b")}
                    THEN {_SPLIT_SQL.format(id="a")}
                    ELSE {_SPLIT_SQL.format(id="b")} END AS split_lo,
               CASE WHEN {_SPLIT_SQL.format(id="a")} <= {_SPLIT_SQL.format(id="b")}
                    THEN {_SPLIT_SQL.format(id="b")}
                    ELSE {_SPLIT_SQL.format(id="a")} END AS split_hi
        FROM cand
    )
    SELECT split_lo, split_hi,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           (split_lo <> split_hi) AS is_leak
    FROM labeled
    GROUP BY split_lo, split_hi
    ORDER BY split_lo, split_hi
    """,
    tags=("pipeline", "dedup", "split", "leakage", "minhash"),
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split contamination audit — the check every LM data pipeline
    must run before trusting an eval: how many NEAR-DUPLICATE candidate
    pairs (MinHash-LSH, same bands as dedup_minhash_lsh_pairs) straddle
    the train/val/test boundary (same hash-based 80/10/10 assignment as
    split_train_val_test)?  A single leaked near-dup inflates held-out
    metrics; this emits the full split-pair matrix with an is_leak flag
    so within-split duplication (harmless to evals) and cross-split
    leakage (fatal) are separately countable.

    Scale shape: candidate pairs come from the banded LSH equi-join
    (linear in corpus, never all-pairs); the split label is recomputed
    MAP-SIDE from each doc_id's hash — no join against an assignment
    table at all, which is the payoff of deterministic hash splits
    (sampling.py's contract).  Output is at most |splits|^2 rows."""
    from auron_spark.pipeline.sampling import hash_bucket

    def split_of(c: Column) -> Column:
        b = hash_bucket(c)
        return (
            F.when(b < 80, "train").when(b < 90, "val").otherwise("test")
        )

    t = Tables(spark, sf_dir)
    pairs = lsh_candidate_pairs(
        minhash_signature(_doc_shingles(t, dedup=False))
    )
    sa, sb = split_of(F.col("a")), split_of(F.col("b"))
    lo = F.when(sa <= sb, sa).otherwise(sb)
    hi = F.when(sa <= sb, sb).otherwise(sa)
    return (
        pairs.select(lo.alias("split_lo"), hi.alias("split_hi"))
        .groupBy("split_lo", "split_hi")
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
        .select(
            "split_lo",
            "split_hi",
            "n_pairs",
            (F.col("split_lo") != F.col("split_hi")).alias("is_leak"),
        )
        .orderBy("split_lo", "split_hi")
    )


CONTAIN_T = 0.8  # embedded-duplicate call threshold


@query(
    "dedup_minhash_containment",
    oracle=_sql_signature_cte()
    + f"""
    , cand AS (
        SELECT l.doc_id AS a, r.doc_id AS b
        FROM bands l JOIN bands r ON l.band = r.band AND l.doc_id < r.doc_id
        GROUP BY a, b
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT c.a, c.b, COUNT(*) AS n_common
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.a
        JOIN sh sb ON sb.doc_id = c.b AND sb.shingle = sa.shingle
        GROUP BY c.a, c.b
    )
    SELECT i.a, i.b,
           CAST(i.n_common AS BIGINT) AS n_common,
           CAST(za.n AS BIGINT) AS n_a,
           CAST(zb.n AS BIGINT) AS n_b,
           ROUND(greatest(CAST(i.n_common AS DOUBLE) / za.n,
                          CAST(i.n_common AS DOUBLE) / zb.n), 6)
               AS containment,
           (greatest(CAST(i.n_common AS DOUBLE) / za.n,
                     CAST(i.n_common AS DOUBLE) / zb.n) >= {CONTAIN_T})
               AS is_embedded
    FROM inter i
    JOIN sizes za ON za.doc_id = i.a
    JOIN sizes zb ON zb.doc_id = i.b
    ORDER BY a, b
    """,
    tags=("pipeline", "dedup", "minhash", "containment"),
)
def dedup_minhash_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric CONTAINMENT scoring over the LSH candidate pairs —
    max(|A∩B|/|A|, |A∩B|/|B|): catches the small-document-embedded-in-a-
    big-document duplicates that symmetric Jaccard (dedup_ngram_jaccard)
    under-scores (a 50-shingle doc fully copied into a 500-shingle doc has
    Jaccard 0.1 but containment 1.0).  Pairs with containment >=
    {CONTAIN_T} are flagged as embedded dups — the quote/boilerplate-
    inclusion signal `text_substring_dedup` finds positionally, computed
    here set-wise from the same shingle space.

    Scale shape: identical to the Jaccard verifier — candidates are
    banded-LSH (linear), the intersection count joins shingles ONLY for
    candidate pairs, and sizes are doc-count-sized.  Divisions are doubles
    of exact integers; greatest() of two deterministic doubles — exact in
    both engines."""
    t = Tables(spark, sf_dir)
    sh = _doc_shingles(t, dedup=True)
    pairs = lsh_candidate_pairs(
        minhash_signature(_doc_shingles(t, dedup=False))
    ).localCheckpoint(eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    sa = sh.select(F.col("doc_id").alias("a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("b"), "shingle")
    inter = (
        pairs.join(sa, "a").join(sb, ["b", "shingle"])
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_common"))
    )
    cont = F.greatest(
        F.col("n_common").cast("double") / F.col("n_a"),
        F.col("n_common").cast("double") / F.col("n_b"),
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("a"), F.col("n").alias("n_a")), "a")
        .join(sizes.select(F.col("doc_id").alias("b"), F.col("n").alias("n_b")), "b")
        .select(
            "a",
            "b",
            F.col("n_common").cast("bigint").alias("n_common"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.round(cont, 6).alias("containment"),
            (cont >= CONTAIN_T).alias("is_embedded"),
        )
        .orderBy("a", "b")
    )


INCR_BATCH_FROM = 400  # doc_id >= this is the "new batch"; below is corpus


@query(
    "dedup_incremental_neardup",
    oracle=_sql_signature_cte()
    + f"""
    , cand AS (
        SELECT n.doc_id AS new_id, o.doc_id AS corpus_id
        FROM bands n JOIN bands o
          ON o.band = n.band
         AND n.doc_id >= {INCR_BATCH_FROM} AND o.doc_id < {INCR_BATCH_FROM}
        GROUP BY new_id, corpus_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    verified AS (
        SELECT c.new_id, c.corpus_id,
               CAST(COUNT(*) AS DOUBLE)
               / (zn.n + zo.n - COUNT(*)) AS jaccard
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.new_id
        JOIN sh sb ON sb.doc_id = c.corpus_id AND sb.shingle = sa.shingle
        JOIN sizes zn ON zn.doc_id = c.new_id
        JOIN sizes zo ON zo.doc_id = c.corpus_id
        GROUP BY c.new_id, c.corpus_id, zn.n, zo.n
    )
    SELECT b.doc_id AS new_id,
           CAST(COALESCE(v.n_cand, 0) AS BIGINT) AS n_candidates,
           ROUND(COALESCE(v.best_j, 0.0), 6) AS best_jaccard,
           COALESCE(v.best_j, 0.0) >= 0.5 AS is_near_dup
    FROM (SELECT DISTINCT doc_id FROM sh
          WHERE doc_id >= {INCR_BATCH_FROM}) b
    LEFT JOIN (
        SELECT new_id, COUNT(*) AS n_cand, MAX(jaccard) AS best_j
        FROM verified GROUP BY new_id
    ) v ON v.new_id = b.doc_id
    ORDER BY new_id
    """,
    tags=("pipeline", "dedup", "minhash", "incremental"),
)
def dedup_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup admission control — the fuzzy sibling of
    `dedup_incremental_anti_join` (which only blocks byte-identical
    re-ingests): each new-batch document is LSH-probed against the
    EXISTING corpus only (band join restricted to new x old — never
    new x new or the old x old quadratic), candidates are verified with
    exact shingle Jaccard, and the batch comes back flagged with its
    best corpus match.  This is the steady-state shape of production
    dedup: the corpus's band table is a persisted index that each
    incoming batch probes.

    Scale shape: band join with the new/old split as scan predicates on
    each side — the corpus side is the persisted banded index (bucketed
    by band, probe prunes), the batch side is delta-sized; verification
    joins shingles for candidate pairs only; the rollup is batch-sized.
    Integer set sizes make Jaccard exact in both engines."""
    t = Tables(spark, sf_dir)
    sh = _doc_shingles(t, dedup=True)
    sig = minhash_signature(_doc_shingles(t, dedup=False))
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        "#",
                        F.lit(str(b)),
                        F.col(f"mh{2 * b}").cast("string"),
                        F.col(f"mh{2 * b + 1}").cast("string"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("band"),
    )
    new_b = bands.where(F.col("doc_id") >= INCR_BATCH_FROM).select(
        F.col("doc_id").alias("new_id"), "band"
    )
    old_b = bands.where(F.col("doc_id") < INCR_BATCH_FROM).select(
        F.col("doc_id").alias("corpus_id"), "band"
    )
    cand = new_b.join(old_b, "band").select("new_id", "corpus_id").distinct()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    sa = sh.select(F.col("doc_id").alias("new_id"), "shingle")
    sb = sh.select(F.col("doc_id").alias("corpus_id"), "shingle")
    verified = (
        cand.join(sa, "new_id")
        .join(sb, ["corpus_id", "shingle"])
        .groupBy("new_id", "corpus_id")
        .agg(F.count("*").alias("n_common"))
        .join(sizes.select(F.col("doc_id").alias("new_id"), F.col("n").alias("zn")), "new_id")
        .join(sizes.select(F.col("doc_id").alias("corpus_id"), F.col("n").alias("zo")), "corpus_id")
        .select(
            "new_id",
            (
                F.col("n_common").cast("double")
                / (F.col("zn") + F.col("zo") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )
    best = verified.groupBy("new_id").agg(
        F.count("*").alias("n_candidates"), F.max("jaccard").alias("best_j")
    )
    batch_ids = (
        sh.where(F.col("doc_id") >= INCR_BATCH_FROM)
        .select(F.col("doc_id").alias("new_id"))
        .distinct()
    )
    return (
        batch_ids.join(best, "new_id", "left")
        .select(
            "new_id",
            F.coalesce("n_candidates", F.lit(0)).cast("bigint").alias(
                "n_candidates"
            ),
            F.round(F.coalesce("best_j", F.lit(0.0)), 6).alias(
                "best_jaccard"
            ),
            (F.coalesce("best_j", F.lit(0.0)) >= 0.5).alias("is_near_dup"),
        )
        .orderBy("new_id")
    )


@query(
    "dedup_degree_distribution",
    oracle=_sql_signature_cte()
    + """
    , cand AS (
        SELECT l.doc_id AS a, r.doc_id AS b
        FROM bands l JOIN bands r ON l.band = r.band AND l.doc_id < r.doc_id
        GROUP BY a, b
    ),
    deg AS (
        SELECT doc_id, COUNT(*) AS degree
        FROM (SELECT a AS doc_id FROM cand
              UNION ALL SELECT b AS doc_id FROM cand)
        GROUP BY doc_id
    )
    SELECT CAST(degree AS BIGINT) AS degree,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS example_doc
    FROM deg
    GROUP BY degree
    ORDER BY degree
    """,
    tags=("pipeline", "dedup", "graph", "degree"),
)
def dedup_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the LSH candidate graph — the dedup-health
    diagnostic read BEFORE running connected components: a heavy-tailed
    degree histogram (hub documents colliding with everything) predicts
    the mega-cluster failure mode `dedup_component_stats` detects
    after the fact, and the example_doc column points straight at the
    boilerplate/template documents causing it.

    Scale shape: candidates from the banded equi-join (linear), degrees
    by one pairs-sized aggregation, histogram by a degree-sized one —
    output is O(distinct degrees)."""
    t = Tables(spark, sf_dir)
    pairs = lsh_candidate_pairs(
        minhash_signature(_doc_shingles(t, dedup=False))
    )
    deg = (
        pairs.select(F.col("a").alias("doc_id"))
        .unionAll(pairs.select(F.col("b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count("*").alias("degree"))
    )
    return (
        deg.groupBy("degree")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("example_doc"),
        )
        .select(F.col("degree").cast("bigint"), "n_docs", "example_doc")
        .orderBy("degree")
    )


_BLOOM_M_BITS = 16384


def _bloom_positions(col):
    h1 = F.pmod(F.xxhash64(col), F.lit(_BLOOM_M_BITS))
    h2 = F.pmod(F.xxhash64(col, F.lit("salt2")), F.lit(_BLOOM_M_BITS))
    return F.array(
        *[F.pmod(h1 + i * h2, F.lit(_BLOOM_M_BITS)) for i in range(3)]
    )


def bloom_bitmap_row(corpus: DataFrame) -> DataFrame:
    """One-row bloom bitmap over corpus["text"]: partial/final bit_or per
    64-bit word, collected into a map literal — the distributed build the
    plan gate asserts on (pre-materialization)."""
    word = F.expr("CAST(pos / 64 AS INT)")
    bit = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))")
    bits = corpus.select(
        F.explode(_bloom_positions(F.col("text"))).alias("pos")
    ).select(word.alias("word"), bit.alias("bit"))
    return (
        bits.groupBy("word")
        .agg(F.bit_or("bit").alias("bits"))
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("word", "bits"))
            ).alias("bloom")
        )
    )


@query(
    "dedup_bloom_prefilter",
    oracle="""
    WITH corpus AS (
        SELECT text FROM documents WHERE doc_id % 10 <> 0
    ),
    batch AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
    )
    SELECT b.doc_id,
           EXISTS (SELECT 1 FROM corpus c WHERE c.text = b.text)
               AS is_known_dup
    FROM batch b
    ORDER BY b.doc_id
    """,
    tags=("pipeline", "dedup", "bloom", "incremental"),
    bench=True,  # VERDICT r7 ask #6: the scale-defining incremental-ingest
    # pattern needs a round-over-round timing series
)
def dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered incremental exact dedup: an arriving batch is
    checked against the corpus through a DISTRIBUTED Bloom filter built
    with pure DataFrame ops — k=3 double-hashed positions per corpus text
    (xxhash64 pair), bits packed into 64-bit words by the commutative
    `bit_or` aggregate (256 words for m=16384 bits), folded into ONE
    broadcast map row.  Batch rows whose k bits are all set are *maybe
    seen* and pay the exact verification join; rows with any bit clear
    are new with CERTAINTY (a Bloom filter has no false negatives), so
    the final answer is exactly the anti-join's (the oracle) while the
    corpus-keyed join probes only |batch| x fp_rate rows.

    This is the user-level twin of the optimizer's runtime bloom join
    pruning (`spark.sql.optimizer.runtime.bloomFilter.*` in session.py;
    reference analog `agg/bloom_filter.rs`,
    `bloom_filter_might_contain.rs`) — the same structure a 100 TB
    incremental ingest uses when the corpus key set is far too large to
    broadcast but 2 KB of bloom state is not.

    Determinism: xxhash64 is seed-fixed, bit positions are pure column
    functions, and bit_or is commutative — the bitmap is identical under
    any partitioning, so the routing (and a fortiori the exact output)
    is reproducible."""
    docs = Tables(spark, sf_dir).documents
    corpus = docs.where(F.col("doc_id") % 10 != 0).select("text")
    batch = docs.where(F.col("doc_id") % 10 == 0).select("doc_id", "text")
    positions = _bloom_positions
    word = F.expr("CAST(pos / 64 AS INT)")
    bit = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))")
    # The 2 KB bitmap is THE model state — materialize it once: both
    # probe branches below otherwise re-derived the corpus bloom build
    # (round-9 single-subtree rule).  `bloom_bitmap_row` stays factored
    # un-checkpointed so the plan gate can assert its partial/final
    # bit_or shape directly.
    bloom_row = bloom_bitmap_row(corpus).localCheckpoint(eager=False)
    probe_pos = batch.select(
        "doc_id", "text", F.explode(positions(F.col("text"))).alias("pos")
    ).join(F.broadcast(bloom_row)).select(
        "doc_id",
        "text",
        (
            F.coalesce(
                F.element_at("bloom", word), F.lit(0).cast("long")
            ).bitwiseAND(bit)
            != 0
        ).alias("hit"),
    )
    # Batch-grain probe verdicts, referenced by BOTH branches below —
    # materialized once (round-9 single-subtree rule; the incremental
    # batch is small by definition, that is the whole premise of the op)
    probed = probe_pos.groupBy("doc_id", "text").agg(
        F.min("hit").alias("maybe")
    ).localCheckpoint(eager=False)  # batch-grain verdicts, two consumers
    cleared = probed.where(~F.col("maybe")).select(
        "doc_id", F.lit(False).alias("is_known_dup")
    )
    verified = (
        probed.where(F.col("maybe"))
        .join(
            corpus.select("text", F.lit(1).alias("hit")).distinct(),
            "text",
            "left",
        )
        .select("doc_id", F.col("hit").isNotNull().alias("is_known_dup"))
    )
    return cleared.unionAll(verified).orderBy("doc_id")


@query(
    "graph_label_propagation",
    oracle=_sql_signature_cte()
    + """
    , pairs AS (
        SELECT l.doc_id AS a, r.doc_id AS b
        FROM bands l JOIN bands r ON l.band = r.band AND l.doc_id < r.doc_id
        GROUP BY a, b
    ),
    edges AS (
        SELECT a AS u, b AS v FROM pairs
        UNION ALL
        SELECT b AS u, a AS v FROM pairs
    ),
    l0 AS (SELECT doc_id, doc_id AS label FROM documents),
    w1 AS (
        SELECT doc_id, label FROM (
            SELECT e.v AS doc_id, l.label,
                   ROW_NUMBER() OVER (PARTITION BY e.v
                                      ORDER BY COUNT(*) DESC, l.label ASC)
                       AS rk
            FROM edges e JOIN l0 l ON l.doc_id = e.u
            GROUP BY e.v, l.label)
        WHERE rk = 1
    ),
    l1 AS (
        SELECT d.doc_id, COALESCE(w.label, d.label) AS label
        FROM l0 d LEFT JOIN w1 w ON w.doc_id = d.doc_id
    ),
    w2 AS (
        SELECT doc_id, label FROM (
            SELECT e.v AS doc_id, l.label,
                   ROW_NUMBER() OVER (PARTITION BY e.v
                                      ORDER BY COUNT(*) DESC, l.label ASC)
                       AS rk
            FROM edges e JOIN l1 l ON l.doc_id = e.u
            GROUP BY e.v, l.label)
        WHERE rk = 1
    ),
    l2 AS (
        SELECT d.doc_id, COALESCE(w.label, d.label) AS label
        FROM l1 d LEFT JOIN w2 w ON w.doc_id = d.doc_id
    ),
    comm AS (SELECT label, COUNT(*) AS n_members FROM l2 GROUP BY label)
    SELECT CAST(n_members AS BIGINT) AS n_members,
           CAST(COUNT(*) AS BIGINT) AS n_communities
    FROM comm
    GROUP BY n_members
    ORDER BY n_members
    """,
    tags=("pipeline", "graph", "label-propagation", "community"),
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation (LPA, Raghavan et al. 2007) over the
    LSH near-duplicate graph — community detection, completing the graph
    family (components = connectivity, PageRank = centrality, triangles =
    density, LPA = communities).  Two deterministic synchronized rounds:
    each node adopts its neighbors' MODE label (count-desc, label-asc
    tiebreak — the arbitrary-tiebreak variant of LPA is nondeterministic,
    so the tiebreak is part of the contract), isolated nodes keep their
    own.  Output is the community-size histogram.

    Scale shape: each round is one edge-list equi-join + a (node, label)
    count aggregate + a per-node argmax window (partitioned by node, never
    global).  Shuffle ∝ edges per round, the same contract as PageRank;
    rounds are a fixed small constant (unrolled in the oracle).  Unlike
    min-label propagation (which converges to connected components), mode
    propagation splits weakly-bridged clusters — the dedup-graph signal
    CC cannot give."""
    from pyspark.sql import Window

    t = Tables(spark, sf_dir)
    pairs = lsh_candidate_pairs(
        minhash_signature(_doc_shingles(t, dedup=False))
    )
    edges = (
        pairs.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .union(pairs.select(F.col("b").alias("u"), F.col("a").alias("v")))
        .localCheckpoint(eager=False)
    )
    labels = t.documents.select("doc_id", F.col("doc_id").alias("label"))
    w_mode = Window.partitionBy("doc_id").orderBy(
        F.desc("c"), F.asc("label")
    )
    for _ in range(2):
        winners = (
            edges.join(labels, edges.u == labels.doc_id)
            .groupBy(F.col("v").alias("doc_id"), "label")
            .agg(F.count("*").alias("c"))
            .withColumn("rk", F.row_number().over(w_mode))
            .filter(F.col("rk") == 1)
            .select("doc_id", F.col("label").alias("new_label"))
        )
        labels = (
            labels.join(winners, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("new_label", "label").alias("label"),
            )
            .localCheckpoint(eager=False)
        )
    comm = labels.groupBy("label").agg(F.count("*").alias("n_members"))
    return (
        comm.groupBy("n_members")
        .agg(F.count("*").cast("bigint").alias("n_communities"))
        .select(F.col("n_members").cast("bigint"), "n_communities")
        .orderBy("n_members")
    )


@query(
    "dedup_minhash_bbit",
    oracle=_sql_signature_cte()
    + """
    , cand AS (
        SELECT l.doc_id AS a, r.doc_id AS b
        FROM bands l JOIN bands r ON l.band = r.band AND l.doc_id < r.doc_id
        GROUP BY a, b
    ),
    matches AS (
        SELECT c.a, c.b,
               ((CASE WHEN sa.mh0 % 2 = sb.mh0 % 2 THEN 1 ELSE 0 END)
              + (CASE WHEN sa.mh1 % 2 = sb.mh1 % 2 THEN 1 ELSE 0 END)
              + (CASE WHEN sa.mh2 % 2 = sb.mh2 % 2 THEN 1 ELSE 0 END)
              + (CASE WHEN sa.mh3 % 2 = sb.mh3 % 2 THEN 1 ELSE 0 END)
              + (CASE WHEN sa.mh4 % 2 = sb.mh4 % 2 THEN 1 ELSE 0 END)
              + (CASE WHEN sa.mh5 % 2 = sb.mh5 % 2 THEN 1 ELSE 0 END)
              + (CASE WHEN sa.mh6 % 2 = sb.mh6 % 2 THEN 1 ELSE 0 END)
              + (CASE WHEN sa.mh7 % 2 = sb.mh7 % 2 THEN 1 ELSE 0 END))
                   AS n_match
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.a
        JOIN sig sb ON sb.doc_id = c.b
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT c.a, c.b, COUNT(*) AS n_common
        FROM cand c
        JOIN sh ha ON ha.doc_id = c.a
        JOIN sh hb ON hb.doc_id = c.b AND hb.shingle = ha.shingle
        GROUP BY c.a, c.b
    )
    SELECT m.a, m.b, CAST(m.n_match AS BIGINT) AS n_match,
           ROUND(GREATEST(2.0 * m.n_match / 8 - 1.0, 0.0), 6) AS est_1bit,
           ROUND(CAST(COALESCE(i.n_common, 0) AS DOUBLE)
                 / (za.n + zb.n - COALESCE(i.n_common, 0)), 6) AS jaccard
    FROM matches m
    LEFT JOIN inter i ON i.a = m.a AND i.b = m.b
    JOIN sizes za ON za.doc_id = m.a
    JOIN sizes zb ON zb.doc_id = m.b
    ORDER BY m.a, m.b
    """,
    tags=("pipeline", "dedup", "minhash", "b-bit"),
)
def dedup_minhash_bbit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b-bit MinHash (Li & König, 2010) with b=1: keep only the LOWEST bit
    of each of the 8 minhashes, so a signature is one byte instead of 64 —
    the storage/bandwidth trick web-scale dedup indexes use (at b=1 the
    unbiased Jaccard estimator is 2·(matchrate) − 1, since unequal minhash
    values still collide on their low bit half the time).  For every LSH
    candidate pair the query reports the 1-bit match count, the corrected
    estimate, and the EXACT shingle Jaccard — the estimator's calibration
    table, oracle-verified.

    Scale shape: the 1-bit compare is a map-side XOR over two broadcastable
    signature columns after the same banded candidate join as the exact
    verify; nothing new shuffles — the whole point is that the per-doc
    index state shrinks 64×."""
    t = Tables(spark, sf_dir)
    sh = _doc_shingles(t)
    # sig is the per-doc signature index and cand the LSH candidate set —
    # both referenced more than once below; un-materialized, the banding
    # shuffle re-ran three times and the compiled plan re-derived the
    # corpus subtree 10x (round-9 plan sweep).  In production both are the
    # STORED dedup index, so materializing them here mirrors that posture.
    sig = minhash_signature(sh).localCheckpoint(eager=False)
    cand = lsh_candidate_pairs(sig).localCheckpoint(eager=False)
    bits = sig.select(
        "doc_id", *[(F.col(f"mh{s}") % 2).alias(f"bit{s}") for s in range(8)]
    )
    ba = bits.select(
        F.col("doc_id").alias("a"),
        *[F.col(f"bit{s}").alias(f"ba{s}") for s in range(8)],
    )
    bb = bits.select(
        F.col("doc_id").alias("b"),
        *[F.col(f"bit{s}").alias(f"bb{s}") for s in range(8)],
    )
    n_match = sum(
        F.when(F.col(f"ba{s}") == F.col(f"bb{s}"), 1).otherwise(0)
        for s in range(8)
    )
    matches = (
        cand.join(ba, "a").join(bb, "b").select("a", "b", n_match.alias("m"))
    )
    # _pairs_exact_overlap emits EVERY candidate pair (n_common = 0 when
    # disjoint — every cand doc has a shingle-set row by construction), so
    # the 1:1 inner join reproduces the oracle's LEFT JOIN + COALESCE(.., 0).
    return (
        matches.join(_pairs_exact_overlap(sh, cand), ["a", "b"])
        .select(
            "a",
            "b",
            F.col("m").cast("bigint").alias("n_match"),
            F.round(
                F.greatest(2.0 * F.col("m") / 8 - 1.0, F.lit(0.0)), 6
            ).alias("est_1bit"),
            F.round(
                F.col("n_common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
        .orderBy("a", "b")
    )


@query(
    "graph_kcore_peel",
    oracle=_sql_signature_cte()
    + """
    , pairs AS (
        SELECT l.doc_id AS a, r.doc_id AS b
        FROM bands l JOIN bands r ON l.band = r.band AND l.doc_id < r.doc_id
        GROUP BY a, b
    ),
    e0 AS (
        SELECT a AS u, b AS v FROM pairs
        UNION ALL
        SELECT b AS u, a AS v FROM pairs
    ),
    a1 AS (SELECT u FROM e0 GROUP BY u HAVING COUNT(*) >= 2),
    e1 AS (
        SELECT e.u, e.v FROM e0 e
        JOIN a1 x ON x.u = e.u JOIN a1 y ON y.u = e.v
    ),
    a2 AS (SELECT u FROM e1 GROUP BY u HAVING COUNT(*) >= 2),
    e2 AS (
        SELECT e.u, e.v FROM e1 e
        JOIN a2 x ON x.u = e.u JOIN a2 y ON y.u = e.v
    ),
    a3 AS (SELECT u FROM e2 GROUP BY u HAVING COUNT(*) >= 2),
    e3 AS (
        SELECT e.u, e.v FROM e2 e
        JOIN a3 x ON x.u = e.u JOIN a3 y ON y.u = e.v
    )
    SELECT 1 AS round,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM a1) AS n_nodes,
           (SELECT CAST(FLOOR(COUNT(*) / 2.0) AS BIGINT) FROM e1) AS n_edges
    UNION ALL
    SELECT 2,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM a2),
           (SELECT CAST(FLOOR(COUNT(*) / 2.0) AS BIGINT) FROM e2)
    UNION ALL
    SELECT 3,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM a3),
           (SELECT CAST(FLOOR(COUNT(*) / 2.0) AS BIGINT) FROM e3)
    ORDER BY round
    """,
    tags=("pipeline", "graph", "k-core"),
)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core peeling of the LSH near-duplicate graph, three synchronized
    rounds: drop every node with degree < 2, re-induce the edge set,
    repeat — per-round survivor counts show how much of the graph is
    chains/pendants (gone by round 1-2) versus dense duplicate cores
    (the stable 2-core a cluster-then-canonicalize pipeline should trust;
    pendant edges are the borderline pairs `graph_kcore` filters before
    `dedup_canonical_selection` spends verify joins on them).

    Fixed-round peeling keeps the DuckDB oracle expressible (the same
    synchronized-rounds contract as `graph_label_propagation`); at full
    scale the identical loop runs until fixpoint with an active-set that
    only shrinks (the `dedup_connected_components` posture) — each round
    is a degree aggregate plus two semi-joins on the edge key, never a
    global structure.

    Exactness: every round's survivor set is a deterministic integer
    degree filter; outputs are exact counts."""
    pairs = lsh_candidate_pairs(
        minhash_signature(_doc_shingles(Tables(spark, sf_dir), dedup=False))
    ).localCheckpoint(eager=False)
    edges = pairs.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        pairs.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    out = None
    for rnd in (1, 2, 3):
        alive = (
            edges.groupBy("u").agg(F.count("*").alias("d"))
            .where(F.col("d") >= 2)
            .select("u")
        )
        edges = edges.join(alive, "u").join(
            alive.select(F.col("u").alias("v")), "v"
        ).select("u", "v")
        n_nodes = alive.agg(F.count("*").cast("bigint").alias("n_nodes"))
        n_edges = edges.agg(
            F.floor(F.count("*") / 2.0).cast("bigint").alias("n_edges")
        )
        row = (
            n_nodes.join(F.broadcast(n_edges))
            .select(F.lit(rnd).cast("int").alias("round"), "n_nodes", "n_edges")
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("round")


@query(
    "graph_link_prediction",
    oracle=_sql_signature_cte()
    + """
    , pairs AS (
        SELECT l.doc_id AS a, r.doc_id AS b
        FROM bands l JOIN bands r ON l.band = r.band AND l.doc_id < r.doc_id
        GROUP BY a, b
    ),
    e0 AS (
        SELECT a AS u, b AS v FROM pairs
        UNION ALL
        SELECT b AS u, a AS v FROM pairs
    ),
    deg AS (SELECT u, COUNT(*) AS d FROM e0 GROUP BY u),
    cand AS (
        SELECT w1.u AS u, w2.v AS w,
               COUNT(*) AS cn,
               CAST(SUM(CAST(ROUND(1.0 / ln(dm.d), 9) AS DECIMAL(28,9)))
                    AS DOUBLE) AS aa
        FROM e0 w1
        JOIN e0 w2 ON w1.v = w2.u AND w1.u < w2.v
        JOIN deg dm ON dm.u = w1.v
        WHERE NOT EXISTS (
            SELECT 1 FROM e0 e WHERE e.u = w1.u AND e.v = w2.v
        )
        GROUP BY 1, 2
    )
    SELECT c.u, c.w,
           CAST(cn AS BIGINT) AS common_neighbors,
           ROUND(CAST(cn AS DOUBLE) / (du.d + dw.d - cn), 6) AS jaccard,
           ROUND(aa, 6) AS adamic_adar
    FROM cand c
    JOIN deg du ON du.u = c.u
    JOIN deg dw ON dw.u = c.w
    ORDER BY common_neighbors DESC, c.u, c.w
    LIMIT 20
    """,
    tags=("pipeline", "graph", "link-prediction"),
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the LSH near-duplicate graph: for every
    NON-adjacent pair with at least one common neighbor, common-neighbor
    count, Jaccard overlap of neighborhoods and Adamic-Adar score — the
    'pairs the banding likely MISSED' report (two docs sharing near-dup
    neighbors are near-dups of each other with high probability; a
    curation pipeline feeds this top list back into the exact-verify
    join, the same recall-recovery role as `dedup_lsh_quality`).

    Scale shape: the wedge join is the triangle-counting shape
    (edge |x| edge on the middle vertex, id-ordered to halve fan-out);
    degrees join in at vertex grain; the anti-join on existing edges is
    an equi-join.  Everything keys on vertex ids — no global structure.

    Exactness: counts are integers; Adamic-Adar per-wedge terms are
    9-dp-rounded into DECIMAL before the (order-insensitive) sum — the
    `text_word_entropy` containment device for transcendental sums."""
    pairs = lsh_candidate_pairs(
        minhash_signature(_doc_shingles(Tables(spark, sf_dir), dedup=False))
    ).localCheckpoint(eager=False)
    e0 = pairs.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        pairs.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    # deg feeds both endpoint joins; single-subtree rule: cut the lineage
    # so the degree aggregate compiles and runs once (lazy — pairs is
    # already pinned, this only dedups the plan subtree).
    deg = (
        e0.groupBy("u")
        .agg(F.count("*").alias("d"))
        .localCheckpoint(eager=False)
    )
    w1 = e0.select(F.col("u").alias("u"), F.col("v").alias("mid"))
    w2 = e0.select(F.col("u").alias("mid"), F.col("v").alias("w"))
    wedges = (
        w1.join(w2, "mid")
        .where(F.col("u") < F.col("w"))
        .join(
            e0.select(F.col("u").alias("u"), F.col("v").alias("w")),
            ["u", "w"],
            "left_anti",
        )
        .join(deg.select(F.col("u").alias("mid"), F.col("d").alias("dm")), "mid")
    )
    cand = wedges.groupBy("u", "w").agg(
        F.count("*").alias("cn"),
        F.sum(
            F.round(1.0 / F.log(F.col("dm")), 9).cast("decimal(28,9)")
        )
        .cast("double")
        .alias("aa"),
    )
    out = (
        cand.join(deg.select(F.col("u").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("u").alias("w"), F.col("d").alias("dw")), "w")
        .select(
            "u",
            "w",
            F.col("cn").cast("bigint").alias("common_neighbors"),
            F.round(
                F.col("cn").cast("double")
                / (F.col("du") + F.col("dw") - F.col("cn")),
                6,
            ).alias("jaccard"),
            F.round(F.col("aa"), 6).alias("adamic_adar"),
        )
    )
    return out.orderBy(F.desc("common_neighbors"), "u", "w").limit(20)


@query(
    "graph_bfs_reach",
    oracle=_sql_signature_cte()
    + """
    , pairs AS (
        SELECT l.doc_id AS a, r.doc_id AS b
        FROM bands l JOIN bands r ON l.band = r.band AND l.doc_id < r.doc_id
        GROUP BY a, b
    ),
    e0 AS (
        SELECT a AS u, b AS v FROM pairs
        UNION ALL
        SELECT b AS u, a AS v FROM pairs
    ),
    nodes AS (SELECT u FROM e0 GROUP BY u),
    d0 AS (SELECT u AS node, 0 AS dist FROM nodes WHERE u % 5 = 0),
    d1 AS (
        SELECT node, MIN(dist) AS dist FROM (
            SELECT node, dist FROM d0
            UNION ALL
            SELECT e.v AS node, d.dist + 1 FROM d0 d JOIN e0 e ON e.u = d.node
        ) GROUP BY node
    ),
    d2 AS (
        SELECT node, MIN(dist) AS dist FROM (
            SELECT node, dist FROM d1
            UNION ALL
            SELECT e.v AS node, d.dist + 1 FROM d1 d JOIN e0 e ON e.u = d.node
        ) GROUP BY node
    ),
    d3 AS (
        SELECT node, MIN(dist) AS dist FROM (
            SELECT node, dist FROM d2
            UNION ALL
            SELECT e.v AS node, d.dist + 1 FROM d2 d JOIN e0 e ON e.u = d.node
        ) GROUP BY node
    ),
    labeled AS (
        SELECT n.u, COALESCE(d3.dist, -1) AS dist
        FROM nodes n LEFT JOIN d3 ON d3.node = n.u
    )
    SELECT CAST(dist AS INT) AS dist, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM labeled
    GROUP BY dist
    ORDER BY dist
    """,
    tags=("pipeline", "graph", "bfs"),
)
def graph_bfs_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the LSH near-duplicate graph, three
    synchronized rounds from the seed set {doc_id % 5 = 0}: per-distance
    node counts plus the still-unreachable mass (dist = -1) — the
    blast-radius query ('how much of the corpus is within k near-dup
    hops of this batch?') behind contamination spread analysis and
    incremental-dedup invalidation.

    Each round is the textbook distributed BFS step: frontier |x| edges
    on the vertex key, then MIN(dist) per vertex — shuffle proportional
    to touched edges, state one (node, dist) row per reached vertex.
    Fixed rounds keep the DuckDB oracle expressible (the
    `graph_kcore_peel` contract); the full loop runs to fixpoint with a
    shrinking frontier at scale.

    Exactness: distances and counts are integers; MIN is
    order-insensitive."""
    pairs = lsh_candidate_pairs(
        minhash_signature(_doc_shingles(Tables(spark, sf_dir), dedup=False))
    ).localCheckpoint(eager=False)
    e0 = pairs.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        pairs.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    nodes = e0.groupBy("u").agg(F.lit(1)).select("u")
    d = (
        nodes.where(F.col("u") % 5 == 0)
        .select(F.col("u").alias("node"), F.lit(0).alias("dist"))
    )
    for _ in range(3):
        expanded = d.join(e0, F.col("node") == F.col("u")).select(
            F.col("v").alias("node"), (F.col("dist") + 1).alias("dist")
        )
        d = (
            d.unionAll(expanded)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
    labeled = nodes.join(d, nodes.u == d.node, "left").select(
        F.coalesce(F.col("dist"), F.lit(-1)).alias("dist")
    )
    return (
        labeled.groupBy("dist")
        .agg(F.count("*").cast("bigint").alias("n_nodes"))
        .select(F.col("dist").cast("int").alias("dist"), "n_nodes")
        .orderBy("dist")
    )


_ED_BAND = 8  # candidate length band: |len(a) - len(b)| <= _ED_BAND


@query(
    "dedup_editdistance_knn",
    oracle=f"""
    WITH cand AS (
        SELECT a.doc_id AS doc_id, b.doc_id AS nn_id,
               levenshtein(a.text, b.text) AS dist,
               a.n_chars AS len_a, b.n_chars AS len_b
        FROM documents a JOIN documents b
          ON b.doc_id <> a.doc_id
         AND abs(a.n_chars - b.n_chars) <= {_ED_BAND}
    ),
    best AS (
        SELECT doc_id, nn_id, dist, len_a, len_b,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY dist, nn_id) AS rk
        FROM cand
    )
    SELECT doc_id, nn_id, CAST(dist AS BIGINT) AS dist,
           ROUND(CAST(dist AS DOUBLE)
                 / greatest(len_a, len_b), 6) AS norm_dist
    FROM best WHERE rk = 1
    ORDER BY doc_id
    """,
    tags=("pipeline", "dedup", "edit-distance", "knn"),
)
def dedup_editdistance_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance nearest neighbor per document within a LENGTH BAND:
    for every doc, the closest other doc by Levenshtein distance among
    candidates whose character count differs by <= 8 — the
    character-level near-dup detector that catches small in-place edits
    (typo fixes, template fills) which shingle Jaccard under-weights on
    short texts.  The band is the op's CONTRACT, not an approximation
    shortcut: levenshtein(a,b) >= |len(a)-len(b)|, so any pair outside
    the band is provably at distance > 8 — the band loses no pair that
    a distance-8 near-dup join would keep (the `geo_radius_join`
    lossless-pruning device, 1-D).

    Scale shape: candidates come from an EQUI-JOIN on floor(len/8)
    buckets with a 3-bucket explode on one side (never all-pairs; the
    per-bucket population bounds the quadratic, and a production corpus
    adds more blocking keys — lang, simhash prefix — as extra equi-join
    columns); `levenshtein` is a JVM built-in evaluated inside codegen,
    no Python; the per-doc argmin is one WindowGroupLimit pass.

    Exactness: distances are exact integers (same Wagner-Fischer
    definition in both engines); the argmin is tiebroken on nn_id; the
    normalized distance is one integer division rounded at 6dp."""
    from pyspark.sql import Window

    d = Tables(spark, sf_dir).documents.select("doc_id", "text", "n_chars")
    a = d.select(
        F.col("doc_id").alias("a_id"),
        F.col("text").alias("a_text"),
        F.col("n_chars").alias("len_a"),
        F.explode(
            F.array(
                *[
                    (F.floor(F.col("n_chars") / _ED_BAND) + off).cast("long")
                    for off in (-1, 0, 1)
                ]
            )
        ).alias("bucket"),
    )
    b = d.select(
        F.col("doc_id").alias("nn_id"),
        F.col("text").alias("b_text"),
        F.col("n_chars").alias("len_b"),
        F.floor(F.col("n_chars") / _ED_BAND).cast("long").alias("bucket"),
    )
    cand = (
        a.join(b, "bucket")
        .where(
            (F.col("nn_id") != F.col("a_id"))
            & (F.abs(F.col("len_a") - F.col("len_b")) <= _ED_BAND)
        )
        .select(
            F.col("a_id").alias("doc_id"),
            "nn_id",
            F.levenshtein("a_text", "b_text").alias("dist"),
            "len_a",
            "len_b",
        )
    )
    w = Window.partitionBy("doc_id").orderBy("dist", "nn_id")
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            "doc_id",
            "nn_id",
            F.col("dist").cast("bigint").alias("dist"),
            F.round(
                F.col("dist").cast("double")
                / F.greatest("len_a", "len_b"),
                6,
            ).alias("norm_dist"),
        )
        .orderBy("doc_id")
    )


@query(
    "graph_modularity_score",
    oracle=_sql_signature_cte()
    + """
    , pairs AS (
        SELECT l.doc_id AS a, r.doc_id AS b
        FROM bands l JOIN bands r ON l.band = r.band AND l.doc_id < r.doc_id
        GROUP BY a, b
    ),
    edges AS (
        SELECT a AS u, b AS v FROM pairs
        UNION ALL
        SELECT b AS u, a AS v FROM pairs
    ),
    l0 AS (SELECT doc_id, doc_id AS label FROM documents),
    w1 AS (
        SELECT doc_id, label FROM (
            SELECT e.v AS doc_id, l.label,
                   ROW_NUMBER() OVER (PARTITION BY e.v
                                      ORDER BY COUNT(*) DESC, l.label ASC)
                       AS rk
            FROM edges e JOIN l0 l ON l.doc_id = e.u
            GROUP BY e.v, l.label)
        WHERE rk = 1
    ),
    l1 AS (
        SELECT d.doc_id, COALESCE(w.label, d.label) AS label
        FROM l0 d LEFT JOIN w1 w ON w.doc_id = d.doc_id
    ),
    w2 AS (
        SELECT doc_id, label FROM (
            SELECT e.v AS doc_id, l.label,
                   ROW_NUMBER() OVER (PARTITION BY e.v
                                      ORDER BY COUNT(*) DESC, l.label ASC)
                       AS rk
            FROM edges e JOIN l1 l ON l.doc_id = e.u
            GROUP BY e.v, l.label)
        WHERE rk = 1
    ),
    l2 AS (
        SELECT d.doc_id, COALESCE(w.label, d.label) AS label
        FROM l1 d LEFT JOIN w2 w ON w.doc_id = d.doc_id
    ),
    m AS (SELECT COUNT(*) AS m FROM pairs),
    deg AS (SELECT u AS doc_id, COUNT(*) AS deg FROM edges GROUP BY u),
    intra AS (
        SELECT la.label, COUNT(*) AS mc
        FROM pairs p
        JOIN l2 la ON la.doc_id = p.a
        JOIN l2 lb ON lb.doc_id = p.b
        WHERE la.label = lb.label
        GROUP BY la.label
    ),
    comm AS (
        SELECT l2.label, COUNT(*) AS n_members,
               SUM(COALESCE(deg.deg, 0)) AS dc
        FROM l2 LEFT JOIN deg ON deg.doc_id = l2.doc_id
        GROUP BY l2.label
        HAVING SUM(COALESCE(deg.deg, 0)) > 0
    ),
    terms AS (
        SELECT c.label, c.n_members,
               COALESCE(i.mc, 0) AS intra_edges, c.dc AS degree_sum,
               CAST(ROUND(
                   CAST(COALESCE(i.mc, 0) AS DOUBLE) / m.m
                   - (CAST(c.dc AS DOUBLE) / (2 * m.m))
                     * (CAST(c.dc AS DOUBLE) / (2 * m.m)), 9)
                   AS DECIMAL(28,9)) AS q_term
        FROM comm c LEFT JOIN intra i ON i.label = c.label CROSS JOIN m
    )
    SELECT label, CAST(n_members AS BIGINT) AS n_members,
           CAST(intra_edges AS BIGINT) AS intra_edges,
           CAST(degree_sum AS BIGINT) AS degree_sum,
           CAST(q_term AS DOUBLE) AS q_term,
           CAST((SELECT SUM(q_term) FROM terms) AS DOUBLE) AS modularity
    FROM terms
    ORDER BY label
    """,
    tags=("pipeline", "graph", "community", "modularity"),
)
def graph_modularity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA communities over the LSH near-dup
    graph: Q = sum over communities of [m_c/m - (d_c/2m)^2] — the
    partition-quality score that tells a dedup pipeline whether its
    cluster structure is real (Q near 0 = no better than random wiring)
    before canonical-selection trusts it.  Completes the graph family's
    measurement leg: LPA finds communities, this scores them.  Isolated
    nodes (degree 0) contribute nothing and are excluded from the
    community rows.

    Scale shape: the LPA rounds are the `graph_label_propagation`
    contract (edge-join + per-node argmax window per round); modularity
    itself is two label-joins of the pair list + a community-grain
    rollup — shuffle ∝ edges, output ∝ communities.

    Exactness: m / m_c / d_c are exact integers; each community's Q term
    is 9-dp-rounded into DECIMAL before the order-insensitive total (the
    `parts_supplier_hhi` containment device)."""
    from pyspark.sql import Window

    t = Tables(spark, sf_dir)
    pairs = lsh_candidate_pairs(
        minhash_signature(_doc_shingles(t, dedup=False))
    ).localCheckpoint(eager=False)
    edges = pairs.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
        pairs.select(F.col("b").alias("u"), F.col("a").alias("v"))
    ).localCheckpoint(eager=False)
    labels = t.documents.select("doc_id", F.col("doc_id").alias("label"))
    w_mode = Window.partitionBy("doc_id").orderBy(F.desc("c"), F.asc("label"))
    for _ in range(2):
        winners = (
            edges.join(labels, edges.u == labels.doc_id)
            .groupBy(F.col("v").alias("doc_id"), "label")
            .agg(F.count("*").alias("c"))
            .withColumn("rk", F.row_number().over(w_mode))
            .filter(F.col("rk") == 1)
            .select("doc_id", F.col("label").alias("new_label"))
        )
        labels = labels.join(winners, "doc_id", "left").select(
            "doc_id", F.coalesce("new_label", "label").alias("label")
        )
    labels = labels.localCheckpoint(eager=False)
    m = pairs.count()  # scalar edge count — constant driver state
    deg = edges.groupBy(F.col("u").alias("doc_id")).agg(
        F.count("*").alias("deg")
    )
    la = labels.select(F.col("doc_id").alias("a"), F.col("label").alias("lab_a"))
    lb = labels.select(F.col("doc_id").alias("b"), F.col("label").alias("lab_b"))
    intra = (
        pairs.join(la, "a")
        .join(lb, "b")
        .where(F.col("lab_a") == F.col("lab_b"))
        .groupBy(F.col("lab_a").alias("label"))
        .agg(F.count("*").alias("mc"))
    )
    comm = (
        labels.join(deg, "doc_id", "left")
        .groupBy("label")
        .agg(
            F.count("*").alias("n_members"),
            F.sum(F.coalesce("deg", F.lit(0))).alias("dc"),
        )
        .where(F.col("dc") > 0)
    )
    q_term = F.round(
        F.col("mc_f").cast("double") / m
        - (F.col("dc").cast("double") / (2 * m))
        * (F.col("dc").cast("double") / (2 * m)),
        9,
    ).cast("decimal(28,9)")
    terms = (
        comm.join(intra, "label", "left")
        .withColumn("mc_f", F.coalesce("mc", F.lit(0)))
        .withColumn("q_term", q_term)
    )
    w_all = Window.partitionBy()
    return (
        terms.withColumn("modularity", F.sum("q_term").over(w_all))
        .select(
            "label",
            F.col("n_members").cast("bigint").alias("n_members"),
            F.col("mc_f").cast("bigint").alias("intra_edges"),
            F.col("dc").cast("bigint").alias("degree_sum"),
            F.col("q_term").cast("double").alias("q_term"),
            F.col("modularity").cast("double").alias("modularity"),
        )
        .orderBy("label")
    )


@query(
    "dedup_url_canonical",
    oracle="""
    WITH urls AS (
        -- deterministic synthetic URLs (the fixture has no URL column):
        -- mixed-case host from the doc's source, a path bucket, and a
        -- doc_id-dependent suffix in {tracking query, fragment, trailing
        -- slash, none} — the four variants canonicalization must unify
        SELECT doc_id,
               'https://WWW.' || source || '.Example.COM/p/'
               || CAST(doc_id % 10 AS VARCHAR)
               -- variant selector floor((doc_id % 40) / 10) is COPRIME with
               -- the %10 path bucket, so every canonical cluster of >= 4
               -- docs exercises all four variants against each other
               || CASE CAST(floor((doc_id % 40) / 10) AS BIGINT)
                      WHEN 0 THEN '?utm_source=feed'
                      WHEN 1 THEN '#section-2'
                      WHEN 2 THEN '/'
                      ELSE '' END AS url
        FROM documents
    ),
    canon AS (
        SELECT doc_id,
               regexp_replace(
                   regexp_replace(lower(url), '[?#].*$', ''),
                   '/$', '') AS curl
        FROM urls
    )
    SELECT curl AS canonical_url,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_doc,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped
    FROM canon
    GROUP BY curl
    HAVING COUNT(*) > 1
    ORDER BY canonical_url
    """,
    tags=("pipeline", "dedup", "url", "canonicalization"),
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup — the cheapest and first dedup pass of
    every web-scale corpus pipeline (before any content hashing): lowercase
    the URL, strip tracking query strings and fragments, strip the trailing
    slash, then group by the canonical form and keep the smallest doc_id
    per cluster.  The fixture carries no URL column, so both engines
    synthesize the SAME deterministic URLs from (source, doc_id) — four
    surface variants per canonical form — and the report lists every
    canonical URL that actually deduplicates, with its keeper and drop
    count.

    Scale shape: canonicalization is a map-side string expression (two
    end-anchored regexp_replace + lower — identical single-match semantics
    in both engines); the only shuffle is the canonical-key groupBy, which
    moves one short string per doc.  At 100 TB this is the exact-dedup
    posture: the key shuffles, the document body never does."""
    t = Tables(spark, sf_dir)
    url = F.concat(
        F.lit("https://WWW."),
        F.col("source"),
        F.lit(".Example.COM/p/"),
        (F.col("doc_id") % 10).cast("string"),
        F.when(
            F.floor((F.col("doc_id") % 40) / 10) == 0,
            F.lit("?utm_source=feed"),
        )
        .when(F.floor((F.col("doc_id") % 40) / 10) == 1, F.lit("#section-2"))
        .when(F.floor((F.col("doc_id") % 40) / 10) == 2, F.lit("/"))
        .otherwise(F.lit("")),
    )
    curl = F.regexp_replace(
        F.regexp_replace(F.lower(url), r"[?#].*$", ""), r"/$", ""
    )
    return (
        t.documents.select("doc_id", curl.alias("curl"))
        .groupBy(F.col("curl").alias("canonical_url"))
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("keeper_doc"),
            (F.count("*") - 1).cast("bigint").alias("n_dropped"),
        )
        .filter(F.col("n_docs") > 1)
        .orderBy("canonical_url")
    )


@query(
    "text_ngram_novelty",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id, unnest({_SQL_SHINGLES}) AS shingle FROM w
        )
    ),
    first_seen AS (
        SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle
    )
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           ROUND(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1.0 ELSE 0 END)
                 / COUNT(*), 6) AS novelty
    FROM sh s JOIN first_seen f ON f.shingle = s.shingle
    WHERE s.doc_id % 5 = 0
    GROUP BY s.doc_id
    ORDER BY s.doc_id
    """,
    tags=("pipeline", "text", "novelty", "curation"),
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty under doc_id ingestion order: the share
    of a doc's distinct 3-shingles whose GLOBAL first occurrence is that
    doc — the diversity/redundancy signal a curation pipeline uses to
    down-weight documents that only repeat earlier content (near-dup
    scoring's cheap streaming cousin; 1.0 = all-new, 0.0 = fully seen).

    Scale shape: the first-occurrence table is one shingle-keyed MIN
    aggregate (the running-distinct device of `window_running_distinct`,
    applied corpus-wide); the novelty join is shingle-keyed equi, and the
    report is a doc-grain aggregate sampled at doc_id % 5 = 0.  No stage
    is quadratic; the shuffles carry (shingle, doc_id) pairs."""
    t = Tables(spark, sf_dir)
    sh = _doc_shingles(t).localCheckpoint(eager=False)
    first_seen = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(first_seen, "shingle")
        .filter(F.col("doc_id") % 5 == 0)
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_novel"),
            F.round(
                F.sum(
                    F.when(
                        F.col("first_doc") == F.col("doc_id"), 1.0
                    ).otherwise(0.0)
                )
                / F.count("*"),
                6,
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


@query(
    "graph_degree_assortativity",
    oracle=_sql_signature_cte()
    + """
    , pairs AS (
        SELECT l.doc_id AS a, r.doc_id AS b
        FROM bands l JOIN bands r ON l.band = r.band AND l.doc_id < r.doc_id
        GROUP BY a, b
    ),
    e0 AS (
        SELECT a AS u, b AS v FROM pairs
        UNION ALL
        SELECT b AS u, a AS v FROM pairs
    ),
    deg AS (SELECT u, COUNT(*) AS d FROM e0 GROUP BY u),
    ends AS (
        SELECT du.d AS x, dv.d AS y
        FROM e0 JOIN deg du ON du.u = e0.u JOIN deg dv ON dv.u = e0.v
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy,
               CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM ends
    )
    SELECT CAST(n / 2 AS BIGINT) AS n_edges,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_vertices,
           ROUND(CAST(sx AS DOUBLE) / n, 6) AS mean_end_degree,
           ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / NULLIF(sqrt((CAST(n AS DOUBLE) * sxx
                                - CAST(sx AS DOUBLE) * sx)
                               * (CAST(n AS DOUBLE) * syy
                                  - CAST(sy AS DOUBLE) * sy)), 0.0),
                 6) AS assortativity
    FROM s
    """,
    tags=("pipeline", "graph", "assortativity", "degree"),
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the LSH near-duplicate graph: the Pearson
    correlation of endpoint degrees over (double-counted) directed edges
    — Newman's r, the standard 'do hubs connect to hubs?' summary.  A
    strongly positive r on a near-dup graph means duplicate clusters are
    dense cliques (hub-hub); negative r flags star-shaped templates (one
    boilerplate doc near-dup to many unrelated ones) — a different
    cleanup strategy in a curation pipeline.

    Scale shape: degrees are one vertex-grain aggregate; endpoint degrees
    join in by vertex key (two equi-joins); the correlation is a 6-term
    integer power-sum fold in ONE scalar aggregate — the `agg_corr_covar`
    contract applied to graph structure.  No global ordering anywhere.

    Exactness: degrees and all power sums are integers (bit-exact in both
    engines); the only doubles are the final formula's divisions; a
    regular graph (zero degree variance) yields NULL via NULLIF."""
    pairs = lsh_candidate_pairs(
        minhash_signature(_doc_shingles(Tables(spark, sf_dir), dedup=False))
    ).localCheckpoint(eager=False)
    e0 = pairs.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        pairs.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    # deg feeds three consumers (both endpoint joins + the vertex count);
    # single-subtree rule: cut the lineage so the degree aggregate runs
    # once instead of once per consumer (ADVICE r11 #3).  Lazy — pairs is
    # already pinned, so this only dedups the plan subtree.
    deg = (
        e0.groupBy("u")
        .agg(F.count("*").alias("d"))
        .localCheckpoint(eager=False)
    )
    ends = (
        e0.join(deg.select(F.col("u"), F.col("d").alias("x")), "u")
        .join(
            deg.select(F.col("u").alias("v"), F.col("d").alias("y")), "v"
        )
        .select("x", "y")
    )
    s = ends.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    n_vert = deg.agg(F.count("*").cast("bigint").alias("n_vertices"))
    nd = F.col("n").cast("double")
    denom = F.sqrt(
        (nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
        * (nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
    )
    return s.crossJoin(F.broadcast(n_vert)).select(
        (F.col("n") / 2).cast("bigint").alias("n_edges"),
        "n_vertices",
        F.round(F.col("sx").cast("double") / F.col("n"), 6).alias(
            "mean_end_degree"
        ),
        F.round(
            (nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy"))
            / F.nullif(denom, F.lit(0.0)),
            6,
        ).alias("assortativity"),
    )


@query(
    "dedup_record_linkage_fs",
    oracle="""
    WITH n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM part),
    u AS (
        SELECT
            (SELECT CAST(SUM(c * c) AS DOUBLE)
             FROM (SELECT COUNT(*) AS c FROM part GROUP BY p_brand))
                / (n * n) AS u_brand,
            (SELECT CAST(SUM(c * c) AS DOUBLE)
             FROM (SELECT COUNT(*) AS c FROM part GROUP BY p_type))
                / (n * n) AS u_type,
            (SELECT CAST(SUM(c * c) AS DOUBLE)
             FROM (SELECT COUNT(*) AS c FROM part GROUP BY p_size))
                / (n * n) AS u_size
        FROM n
    ),
    cand AS (
        SELECT a.p_partkey AS pk_a, b.p_partkey AS pk_b,
               CAST(a.p_brand = b.p_brand AS INT) AS agree_brand,
               CAST(a.p_type = b.p_type AS INT) AS agree_type,
               CAST(a.p_size = b.p_size AS INT) AS agree_size
        FROM part a JOIN part b
          ON a.p_name = b.p_name AND a.p_partkey < b.p_partkey
    ),
    scored AS (
        SELECT pk_a, pk_b, agree_brand, agree_type, agree_size,
               (CASE WHEN agree_brand = 1 THEN 0.9 / u_brand
                     ELSE 0.1 / (1.0 - u_brand) END)
             * (CASE WHEN agree_type = 1 THEN 0.9 / u_type
                     ELSE 0.1 / (1.0 - u_type) END)
             * (CASE WHEN agree_size = 1 THEN 0.9 / u_size
                     ELSE 0.1 / (1.0 - u_size) END) AS lr
        FROM cand CROSS JOIN u
    )
    SELECT pk_a, pk_b, agree_brand, agree_type, agree_size,
           ROUND(lr, 6) AS score
    FROM scored
    WHERE lr >= 10.0
    ORDER BY pk_a, pk_b
    """,
    tags=("pipeline", "dedup", "record-linkage", "fellegi-sunter"),
)
def dedup_record_linkage_fs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage over the parts catalog:
    name-blocked candidate pairs scored by the product of per-field
    likelihood ratios — agree on field f contributes m_f/u_f, disagree
    (1-m_f)/(1-u_f) — with the u-probabilities (chance agreement between
    UNRELATED records) estimated from the data itself as each field's
    value-collision probability sum((n_v/N)^2).  m_f is the classic 0.9
    prior.  Pairs with LR >= 10 are emitted with their agreement
    pattern — the canonical entity-resolution scoring rule (Fellegi &
    Sunter, JASA 1969) the dedup family's fuzzy-name and edit-distance
    joins feed into.

    Exactness: u values are ratios of exact integer aggregates; the score
    is a fixed-order chain of IEEE divisions/multiplications (no
    transcendentals — the LR product form, not the log-weight sum, so
    both engines compute bit-identical doubles), rounded at the edge.

    Scale shape: field-frequency profiles are three tiny aggregates
    folded into ONE broadcast row; blocking is a key-partitioned
    self-equi-join on the blocking key (never all-pairs); scoring is
    map-side over the broadcast u-row.  At 100 TB the blocking key is the
    knob (phonetic/qgram keys for higher recall) and the same plan holds:
    block-join shuffle + broadcast model."""
    t = Tables(spark, sf_dir)
    part = t.part
    n = part.agg(F.count("*").cast("double").alias("n"))

    def _usq(col: str, alias: str) -> DataFrame:
        return (
            part.groupBy(col)
            .agg(F.count("*").alias("c"))
            .agg(F.sum(F.col("c") * F.col("c")).cast("double").alias(alias))
        )

    u = (
        _usq("p_brand", "sq_brand")
        .crossJoin(F.broadcast(_usq("p_type", "sq_type")))
        .crossJoin(F.broadcast(_usq("p_size", "sq_size")))
        .crossJoin(F.broadcast(n))
        .select(
            (F.col("sq_brand") / (F.col("n") * F.col("n"))).alias("u_brand"),
            (F.col("sq_type") / (F.col("n") * F.col("n"))).alias("u_type"),
            (F.col("sq_size") / (F.col("n") * F.col("n"))).alias("u_size"),
        )
    )
    a = part.select(
        F.col("p_partkey").alias("pk_a"),
        F.col("p_name").alias("name"),
        F.col("p_brand").alias("brand_a"),
        F.col("p_type").alias("type_a"),
        F.col("p_size").alias("size_a"),
    )
    b = part.select(
        F.col("p_partkey").alias("pk_b"),
        F.col("p_name").alias("name"),
        F.col("p_brand").alias("brand_b"),
        F.col("p_type").alias("type_b"),
        F.col("p_size").alias("size_b"),
    )
    cand = (
        a.join(b, "name")
        .filter(F.col("pk_a") < F.col("pk_b"))
        .select(
            "pk_a",
            "pk_b",
            (F.col("brand_a") == F.col("brand_b")).cast("int").alias("agree_brand"),
            (F.col("type_a") == F.col("type_b")).cast("int").alias("agree_type"),
            (F.col("size_a") == F.col("size_b")).cast("int").alias("agree_size"),
        )
    )

    def _factor(agree: str, ucol: str) -> Column:
        return F.when(
            F.col(agree) == 1, F.lit(0.9) / F.col(ucol)
        ).otherwise(F.lit(0.1) / (F.lit(1.0) - F.col(ucol)))

    lr = (
        _factor("agree_brand", "u_brand")
        * _factor("agree_type", "u_type")
        * _factor("agree_size", "u_size")
    )
    return (
        cand.crossJoin(F.broadcast(u))
        .withColumn("lr", lr)
        .filter(F.col("lr") >= 10.0)
        .select(
            "pk_a", "pk_b", "agree_brand", "agree_type", "agree_size",
            F.round("lr", 6).alias("score"),
        )
        .orderBy("pk_a", "pk_b")
    )


# --- persisted band-index serve path (train-once/serve-many, LSH leg) --------

from auron_spark.artifacts import (  # noqa: E402
    ORACLE_SF_DIR as _ORACLE_SF_DIR,
    artifact_dir as _lsh_artifact_dir,
    ensure_artifact as _lsh_ensure_artifact,
)

# Band-hash partition buckets of the persisted index.  64 keeps fixture
# files sane; a production index would scale this with the corpus (the
# pruning ratio is |batch bands| / N_LSH_BUCKETS per probe batch).
N_LSH_BUCKETS = 64


def lsh_index_dir(sf_dir: str) -> str:
    return _lsh_artifact_dir("lsh", sf_dir)


def _doc_bucket(doc_id: Column) -> Column:
    """Partition bucket of an indexed doc — murmur3 mod N_LSH_BUCKETS/4.
    Spark-only (the oracle reads all shingle files; db is a pure function
    of doc_id, so carrying it as a join key changes nothing)."""
    return F.pmod(F.hash(doc_id), N_LSH_BUCKETS // 4)


def _band_bucket(band: Column) -> Column:
    """Partition bucket of a band key — murmur3 (Spark's hash, fixed seed
    42) mod N_LSH_BUCKETS.  Spark-only: the oracle never needs it (bb is a
    pure function of band, so joining on (bb, band) == joining on band)."""
    return F.pmod(F.hash(band), N_LSH_BUCKETS)


def build_lsh_index(
    spark: SparkSession, sf_dir: str, force: bool = False,
    out_dir: str | None = None,
) -> str:
    """Build and persist the MinHash/LSH band index of the STANDING corpus
    (doc_id % 10 <> 0, the same convention as `dedup_bloom_prefilter`'s
    incremental-admission split) as a parquet artifact:

    - ``bands/bb=*/`` (doc_id, band) — partitioned by the band's hash
      bucket, so a probe batch's band keys prune to their buckets via
      dynamic partition pruning (the letter-partitioned-postings layout
      applied to an LSH band index);
    - ``shingles/db=*/`` (doc_id, shingle) — the corpus docs' DISTINCT
      shingle sets, partitioned by the doc's hash bucket, so exact
      Jaccard VERIFICATION of a candidate set prunes to the matched
      docs' buckets (`dedup_lsh_serve_verified`);
    - ``setsize/`` (doc_id, n_sh) — shingle-set sizes, the |B| term.

    Idempotent + concurrency-safe via `artifacts.ensure_artifact`; the
    signature/banding pipeline is the EXACT inline one
    (`minhash_signature` + `band_assignments`), so the persisted index
    is definitionally consistent with `dedup_minhash_lsh_pairs`."""
    d = out_dir or lsh_index_dir(sf_dir)

    def _build(into: str) -> None:
        t = Tables(spark, sf_dir)
        corpus_sh = _doc_shingles(t, dedup=False).where(
            F.col("doc_id") % 10 != 0
        )
        bands = band_assignments(minhash_signature(corpus_sh))
        (
            bands.withColumn("bb", _band_bucket(F.col("band")))
            .repartition(1)
            .write.mode("overwrite")
            .partitionBy("bb")
            .parquet(f"{into}/bands")
        )
        sh_set = corpus_sh.dropDuplicates(["doc_id", "shingle"])
        (
            sh_set.withColumn("db", _doc_bucket(F.col("doc_id")))
            .repartition(1)
            .write.mode("overwrite")
            .partitionBy("db")
            .parquet(f"{into}/shingles")
        )
        (
            sh_set.groupBy("doc_id")
            .agg(F.count("*").cast("bigint").alias("n_sh"))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{into}/setsize")
        )

    return _lsh_ensure_artifact(d, "_INDEX_COMPLETE", _build, force=force)


_LSH_ART = lsh_index_dir(_ORACLE_SF_DIR)


@query(
    "dedup_lsh_serve",
    oracle=_sql_signature_cte(
        docs_cte=(
            "batch AS (SELECT doc_id, text FROM documents "
            "WHERE doc_id % 10 = 0), "
        ),
        docs_from="batch",
    )
    + f""",
    idx AS (
        SELECT doc_id AS match_id, band
        FROM read_parquet('{_LSH_ART}/bands/*/*.parquet',
                          hive_partitioning = true)
    )
    SELECT b.doc_id AS probe_id, idx.match_id,
           CAST(COUNT(*) AS BIGINT) AS n_shared_bands
    FROM bands b JOIN idx USING (band)
    GROUP BY b.doc_id, idx.match_id
    ORDER BY probe_id, match_id
    """,
    tags=("pipeline", "dedup", "minhash", "lsh", "serving"),
    bench=True,  # serve-family series (near-dup admission leg)
)
def dedup_lsh_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate ADMISSION served from the PERSISTED band index
    (`build_lsh_index` artifacts) — the incremental pattern production
    dedup actually runs (VERDICT r15 ask #6): the arriving batch
    (doc_id % 10 = 0, the `dedup_bloom_prefilter` split) computes its
    signatures inline (shingle → minhash → band, the exact
    `dedup_minhash_lsh_pairs` pipeline) and probes the standing corpus's
    band→bucket index for near-dup candidates, WITHOUT re-signaturing
    the corpus.  Output: (probe_id, match_id, n_shared_bands).

    Scale shape: serve cost is probe-sized — the corpus appears ONLY as
    the persisted index (one documents scan in the whole plan: the
    batch's); the join carries the band's hash bucket `bb` (a partition
    column of the index) as a leading equi-key, so the batch's band keys
    reach the index scan as a dynamicpruning PartitionFilter and a small
    admission batch reads |batch bands| buckets, not the index
    (plan-gated: `test_lsh_serve_reads_index_with_partition_pruning`).
    At 100 TB the index is the big side and the probe broadcast — the
    same asymmetry as `retrieval_bm25_serve`/`sim_ivfpq_serve`.

    Exactness: the artifact stores the identical BIGINT band keys the
    oracle recomputes from the same md5 universal-hash family; the pair
    count is integer."""
    d = build_lsh_index(spark, sf_dir)
    t = Tables(spark, sf_dir)
    batch_sh = _doc_shingles(t, dedup=False).where(F.col("doc_id") % 10 == 0)
    probe = band_assignments(minhash_signature(batch_sh)).withColumn(
        "bb", _band_bucket(F.col("band"))
    )
    idx = spark.read.parquet(f"{d}/bands")
    return (
        probe.alias("p")
        .join(idx.alias("i"), ["bb", "band"])
        .groupBy(
            F.col("p.doc_id").alias("probe_id"),
            F.col("i.doc_id").alias("match_id"),
        )
        .agg(F.count("*").cast("bigint").alias("n_shared_bands"))
        .orderBy("probe_id", "match_id")
    )


@query(
    "dedup_lsh_serve_verified",
    oracle=_sql_signature_cte(
        docs_cte=(
            "batch AS (SELECT doc_id, text FROM documents "
            "WHERE doc_id % 10 = 0), "
        ),
        docs_from="batch",
    )
    + f""",
    idx AS (
        SELECT doc_id AS match_id, band
        FROM read_parquet('{_LSH_ART}/bands/*/*.parquet',
                          hive_partitioning = true)
    ),
    cand AS (
        SELECT b.doc_id AS probe_id, idx.match_id,
               CAST(COUNT(*) AS BIGINT) AS n_shared_bands
        FROM bands b JOIN idx USING (band)
        GROUP BY b.doc_id, idx.match_id
    ),
    ish AS (
        SELECT doc_id, shingle
        FROM read_parquet('{_LSH_ART}/shingles/*/*.parquet',
                          hive_partitioning = true)
    ),
    isz AS (
        SELECT doc_id, n_sh FROM read_parquet('{_LSH_ART}/setsize/*.parquet')
    ),
    bsz AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh
        FROM sh GROUP BY doc_id
    ),
    inter AS (
        SELECT c.probe_id, c.match_id, CAST(COUNT(*) AS BIGINT) AS n_common
        FROM cand c
        JOIN sh  p ON p.doc_id = c.probe_id
        JOIN ish i ON i.doc_id = c.match_id AND i.shingle = p.shingle
        GROUP BY c.probe_id, c.match_id
    )
    SELECT c.probe_id, c.match_id, c.n_shared_bands,
           COALESCE(n.n_common, 0) AS n_common,
           ROUND(CAST(COALESCE(n.n_common, 0) AS DOUBLE)
                 / (b.n_sh + z.n_sh - COALESCE(n.n_common, 0)), 6)
               AS jaccard,
           CAST(COALESCE(n.n_common, 0) AS DOUBLE)
               / (b.n_sh + z.n_sh - COALESCE(n.n_common, 0)) >= 0.5
               AS admitted_dup
    FROM cand c
    JOIN bsz b ON b.doc_id = c.probe_id
    JOIN isz z ON z.doc_id = c.match_id
    LEFT JOIN inter n
           ON n.probe_id = c.probe_id AND n.match_id = c.match_id
    ORDER BY c.probe_id, c.match_id
    """,
    tags=("pipeline", "dedup", "minhash", "lsh", "jaccard", "serving"),
)
def dedup_lsh_serve_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VERIFIED near-duplicate admission from the persisted index — the
    full production decision `dedup_lsh_serve` starts: LSH band
    collisions are only CANDIDATES (minhash collisions can over-report),
    so each candidate pair is verified with the EXACT Jaccard similarity
    |A∩B| / (|A|+|B|-|A∩B|) between the batch doc's shingle set
    (computed inline) and the matched corpus doc's shingle set read from
    the index's ``shingles/db=*/`` layout — the corpus text is never
    touched.  Output adds n_common, the exact jaccard, and the
    admitted_dup decision at the standard 0.5 near-dup threshold.

    Scale shape: verification cost is CANDIDATE-bounded, not
    corpus-bounded — the matched docs' ids carry their hash bucket `db`
    (a partition column of the shingle layout) as a leading equi-key,
    so candidate ids reach the shingle scan as a dynamicpruning
    PartitionFilter and only the matched buckets are read (plan-gated:
    `test_lsh_serve_verified_pruned_verification`); set sizes broadcast;
    every documents scan is the batch side.

    Exactness: shingle sets are exact string sets in both engines
    (identical lowercase/split text); counts and the 0.5 comparison run
    on identical integer/IEEE values."""
    d = build_lsh_index(spark, sf_dir)
    t = Tables(spark, sf_dir)
    # NOT checkpointed (unlike the symmetric-edges consumers): DPP on the
    # band AND shingle index scans needs the batch pipeline's selective
    # doc_id filter visible through every join's build side — re-deriving
    # the probe-bounded shingle set per consumer buys corpus-bounded
    # pruning on both persisted layouts.
    batch_sh = _doc_shingles(t, dedup=True).where(F.col("doc_id") % 10 == 0)
    probe = band_assignments(minhash_signature(batch_sh)).withColumn(
        "bb", _band_bucket(F.col("band"))
    )
    idx = spark.read.parquet(f"{d}/bands")
    cand = (
        probe.alias("p")
        .join(idx.alias("i"), ["bb", "band"])
        .groupBy(
            F.col("p.doc_id").alias("probe_id"),
            F.col("i.doc_id").alias("match_id"),
        )
        .agg(F.count("*").cast("bigint").alias("n_shared_bands"))
        # deliberately NOT checkpointed: the shingle-verify join's dynamic
        # partition pruning needs the candidate subtree's selective
        # filters visible (a checkpoint scan carries none, and DPP then
        # declines) — re-deriving the probe-bounded candidate pipeline
        # per consumer buys corpus-bounded index pruning
    )
    ish = spark.read.parquet(f"{d}/shingles")
    isz = spark.read.parquet(f"{d}/setsize")
    bsz = batch_sh.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_sh")
    )
    inter = (
        cand.withColumn("m_db", _doc_bucket(F.col("match_id")))
        .join(
            batch_sh.select(
                F.col("doc_id").alias("probe_id"),
                F.col("shingle").alias("p_shingle"),
            ),
            "probe_id",
        )
        .join(
            ish.alias("i"),
            (F.col("m_db") == F.col("i.db"))
            & (F.col("match_id") == F.col("i.doc_id"))
            & (F.col("p_shingle") == F.col("i.shingle")),
        )
        .groupBy("probe_id", "match_id")
        .agg(F.count("*").cast("bigint").alias("n_common"))
    )
    jac = F.coalesce(F.col("n_common"), F.lit(0)).cast("double") / (
        F.col("b_sh") + F.col("z_sh") - F.coalesce(F.col("n_common"), F.lit(0))
    )
    return (
        cand.join(
            F.broadcast(bsz.select(F.col("doc_id").alias("probe_id"),
                                   F.col("n_sh").alias("b_sh"))),
            "probe_id",
        )
        .join(
            F.broadcast(isz.select(F.col("doc_id").alias("match_id"),
                                   F.col("n_sh").alias("z_sh"))),
            "match_id",
        )
        .join(inter, ["probe_id", "match_id"], "left")
        .select(
            "probe_id", "match_id", "n_shared_bands",
            F.coalesce(F.col("n_common"), F.lit(0)).cast("bigint")
            .alias("n_common"),
            F.round(jac, 6).alias("jaccard"),
            (jac >= 0.5).alias("admitted_dup"),
        )
        .orderBy("probe_id", "match_id")
    )
