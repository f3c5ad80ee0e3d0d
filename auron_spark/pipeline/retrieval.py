"""Retrieval scoring over the documents table: TF-IDF and BM25.

Beyond-reference capability, but core to training-data pipelines: quality
filtering by lexical statistics, query-based corpus curation ("find documents
like these probe terms"), and contamination triage all reduce to TF-IDF /
BM25 scoring at corpus scale.

Scale design (the 100 TB shape):
- tokenize + explode is map-side; the only shuffles are (doc_id, term)
  partial-count aggregation (map-side combine collapses repeated terms within
  a doc before the exchange) and the per-term document-frequency aggregate
  (shuffle ∝ |vocab|, orders of magnitude below token count).
- the DF/IDF table is vocabulary-sized and broadcasts back onto the term
  stream — no second shuffle of the corpus.
- ranking uses integer sort keys (tf, df, ids) wherever cross-engine float
  ordering could diverge, and the BM25 variant uses the log-free idf ratio
  (N - df + .5)/(df + .5) — a strictly monotone transform of the classic
  log idf, so single-term rankings are identical while every score is pure
  +,*,/ IEEE arithmetic that DuckDB and the JVM compute bit-identically
  (ln() goes through libm and may differ in the last ulp between engines).
- per-doc / per-term top-k goes through WindowGroupLimit (rank-filter
  pruning before the final sort), same as window_top_k_per_group.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from auron_spark.pipeline.similarity import dot, norm
from auron_spark.registry import query
from auron_spark.tables import Tables

#: BM25 parameters (Robertson-Walker defaults).
BM25_K1 = 1.2
BM25_B = 0.75

#: Probe terms for the single-term BM25 query — a bounded, constant query
#: set (the broadcastable side), like QUERY_BUDGET elsewhere.
BM25_TERMS = ("spark", "agg", "join", "hash", "window")


def _tokens(df: DataFrame) -> DataFrame:
    """(doc_id, term) token stream: lowercase whitespace split + explode.
    Map-side only."""
    return df.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("term")
    ).where(F.col("term") != "")


def _tf(df: DataFrame) -> DataFrame:
    """(doc_id, term, tf) — two-phase count; map-side combine collapses
    within-doc repeats before the exchange."""
    return _tokens(df).groupBy("doc_id", "term").agg(F.count("*").alias("tf"))


_SQL_TOKENS = """
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
    FROM documents
"""

_SQL_TF = f"""
    SELECT doc_id, term, COUNT(*) AS tf
    FROM ({_SQL_TOKENS}) WHERE term <> ''
    GROUP BY doc_id, term
"""


@query(
    "tfidf_top_terms",
    oracle=f"""
    WITH tf AS ({_SQL_TF}),
    df AS (
        SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, df.df,
               ROUND(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6)
                   AS tfidf,
               row_number() OVER (PARTITION BY tf.doc_id
                                  ORDER BY tf.tf DESC, df.df ASC, tf.term)
                   AS rk
        FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, tfidf, CAST(rk AS BIGINT) AS rk
    FROM scored WHERE rk <= 3
    ORDER BY doc_id, rk
    """,
    tags=("pipeline", "retrieval", "tfidf"),
    bench=True,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document.

    Ranking uses the integer keys (tf DESC, df ASC, term) — within one
    document this is exactly tfidf order for smoothed idf = ln((N+1)/(df+1))+1
    whenever tf dominates, and more importantly it is *engine-exact*: no
    float comparison decides a rank, so Spark and DuckDB agree bit-for-bit.
    The reported tfidf value itself is ROUND(·, 6) display math.

    Plan: token explode (map-side) → (doc,term) two-phase count → vocabulary
    DF aggregate → broadcast idf back → WindowGroupLimit top-3 per doc.

    Deliberate shape note: computing df as `count() OVER (PARTITION BY term)`
    instead of aggregate+broadcast-join measures ~1.5× faster at sf0.1 (one
    fewer scan) but shuffles the ENTIRE tf stream keyed by term with no
    map-side combine — and term frequency is zipfian, so the hot-term
    partitions ("the", "of") become stragglers at 100 TB.  The aggregate path
    shuffles only partial per-term counts (collapsed map-side) and broadcasts
    a vocabulary-sized table; the extra columnar scan is the cheap side of
    that trade.
    """
    t = Tables(spark, sf_dir)
    # tf feeds TWO branches (vocabulary DF aggregate + the scored join);
    # a lazy localCheckpoint computes the tokenize+count once per
    # execution and shares it (measured 1.8 -> 1.1 s warm at sf0.1; same
    # reuse statement as the simjoin shingle relation, no cross-run cache).
    tf = _tf(t.documents).localCheckpoint(eager=False)
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = t.documents.select(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .join(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf")
                * (
                    F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
                    + F.lit(1.0)
                ),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("term")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("doc_id", "term", "tf", "df", "tfidf", F.col("rk").cast("long").alias("rk"))
        .orderBy("doc_id", "rk")
    )


def _bm25_score(tf: Column, df: Column, n_docs: Column, dl: Column, avgdl: Column) -> Column:
    """Log-free BM25: idf-ratio × saturated tf.  Pure +,*,/ on doubles —
    bit-identical across engines."""
    idf = (n_docs - df + F.lit(0.5)) / (df + F.lit(0.5))
    sat = (tf * F.lit(BM25_K1 + 1.0)) / (
        tf + F.lit(BM25_K1) * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * dl / avgdl)
    )
    return idf * sat


@query(
    "bm25_single_term",
    oracle=f"""
    WITH tf AS ({_SQL_TF}),
    dl AS (
        SELECT doc_id, COUNT(*) AS dl
        FROM ({_SQL_TOKENS}) WHERE term <> ''
        GROUP BY doc_id
    ),
    stats AS (
        SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, COUNT(*) AS n_docs
        FROM dl
    ),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    scored AS (
        SELECT tf.term, tf.doc_id,
               ((stats.n_docs - df.df + 0.5) / (df.df + 0.5))
               * ((tf.tf * {BM25_K1 + 1.0}) /
                  (tf.tf + {BM25_K1} * ({1.0 - BM25_B} + {BM25_B} * dl.dl / stats.avgdl)))
                   AS score
        FROM tf
        JOIN dl USING (doc_id)
        JOIN df USING (term)
        CROSS JOIN stats
        WHERE tf.term IN {BM25_TERMS!r}
    )
    SELECT term, doc_id, ROUND(score, 6) AS bm25, CAST(rk AS BIGINT) AS rk
    FROM (
        SELECT term, doc_id, score,
               row_number() OVER (PARTITION BY term
                                  ORDER BY score DESC, doc_id) AS rk
        FROM scored
    ) WHERE rk <= 5
    ORDER BY term, rk
    """,
    tags=("pipeline", "retrieval", "bm25"),
)
def bm25_single_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 documents per probe term by BM25 (k1=1.2, b=0.75), log-free idf
    variant (see module docstring — rank-identical to classic BM25 for
    single-term queries, engine-exact arithmetic).

    Plan: the term filter lands BEFORE the tf aggregate's exchange (only
    probe-term postings shuffle); doc lengths aggregate once; the tiny
    (avgdl, n_docs) scalar and vocabulary slice broadcast.  Per-term top-5
    through WindowGroupLimit.  At 100 TB the scored stream is
    |probe terms| × |docs containing them|, not the corpus.
    """
    t = Tables(spark, sf_dir)
    toks = _tokens(t.documents)
    tf = (
        toks.where(F.col("term").isin(*BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        F.count("*").alias("n_docs"),
    )
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(df_), "term")
        .join(F.broadcast(stats))
        .select(
            "term",
            "doc_id",
            _bm25_score(
                F.col("tf").cast("double"),
                F.col("df").cast("double"),
                F.col("n_docs").cast("double"),
                F.col("dl").cast("double"),
                F.col("avgdl"),
            ).alias("score"),
        )
    )
    w = Window.partitionBy("term").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 5)
        .select(
            "term",
            "doc_id",
            F.round("score", 6).alias("bm25"),
            F.col("rk").cast("long").alias("rk"),
        )
        .orderBy("term", "rk")
    )


RRF_K = 60  # standard reciprocal-rank-fusion constant
RRF_POOL = 20  # fuse over the top-20 of each ranking
_SQL_RRF_COS = (
    "list_sum(list_transform(range(1, 65), i -> "
    "CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))) "
    "/ (sqrt(list_sum(list_transform(range(1, 65), i -> "
    "CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))) "
    "* sqrt(list_sum(list_transform(range(1, 65), i -> "
    "CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))))"
)


@query(
    "retrieval_rrf_fusion",
    oracle=f"""
    WITH tf AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM ({_SQL_TOKENS}) WHERE term <> ''
        GROUP BY doc_id, term
    ),
    ptf AS (SELECT * FROM tf WHERE term IN {BM25_TERMS!r}),
    dl AS (
        SELECT doc_id, COUNT(*) AS dl
        FROM ({_SQL_TOKENS}) WHERE term <> ''
        GROUP BY doc_id
    ),
    stats AS (
        SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, COUNT(*) AS n_docs
        FROM dl
    ),
    df AS (SELECT term, COUNT(*) AS df FROM ptf GROUP BY term),
    lex AS (
        SELECT term, doc_id,
               row_number() OVER (PARTITION BY term
                                  ORDER BY score DESC, doc_id) AS lrk
        FROM (
            SELECT ptf.term, ptf.doc_id,
                   ((stats.n_docs - df.df + 0.5) / (df.df + 0.5))
                   * ((ptf.tf * {BM25_K1 + 1.0}) /
                      (ptf.tf + {BM25_K1} * ({1.0 - BM25_B}
                       + {BM25_B} * dl.dl / stats.avgdl))) AS score
            FROM ptf JOIN dl USING (doc_id) JOIN df USING (term)
            CROSS JOIN stats
        )
        QUALIFY lrk <= {RRF_POOL}
    ),
    qvec AS (
        SELECT p.term, emb.embedding AS qe
        FROM (SELECT term, MIN(doc_id) AS qid FROM ptf GROUP BY term) p
        JOIN embeddings emb ON emb.vec_id = p.qid
    ),
    sem AS (
        SELECT term, doc_id,
               row_number() OVER (PARTITION BY term
                                  ORDER BY cos DESC, doc_id) AS srk
        FROM (
            SELECT q.term, e.vec_id AS doc_id, {_SQL_RRF_COS} AS cos
            FROM embeddings e CROSS JOIN qvec q
        )
        QUALIFY srk <= {RRF_POOL}
    )
    SELECT term, doc_id, rrf_score,
           CAST(lrk AS BIGINT) AS lex_rank, CAST(srk AS BIGINT) AS sem_rank,
           CAST(rk AS BIGINT) AS rk
    FROM (
        SELECT term, doc_id, lrk, srk,
               ROUND(COALESCE(1.0 / ({RRF_K} + lrk), 0.0)
                     + COALESCE(1.0 / ({RRF_K} + srk), 0.0), 6) AS rrf_score,
               row_number() OVER (
                   PARTITION BY term
                   ORDER BY COALESCE(1.0 / ({RRF_K} + lrk), 0.0)
                           + COALESCE(1.0 / ({RRF_K} + srk), 0.0) DESC,
                           doc_id) AS rk
        FROM (
            SELECT COALESCE(l.term, s.term) AS term,
                   COALESCE(l.doc_id, s.doc_id) AS doc_id, l.lrk, s.srk
            FROM lex l FULL OUTER JOIN sem s
              ON s.term = l.term AND s.doc_id = l.doc_id
        )
    ) WHERE rk <= 5
    ORDER BY term, rk
    """,
    tags=("pipeline", "retrieval", "hybrid", "rrf"),
    bench=True,
)
def retrieval_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion — the RAG-serving
    recipe (Cormack et al. 2009; what Elasticsearch/Vespa/OpenSearch run
    for hybrid search): a lexical BM25 ranking and a dense cosine ranking
    are fused as sum of 1/(60 + rank) over the top-{RRF_POOL} of each
    list, and the top-5 fused hits per query are returned.  Each probe
    term doubles as a hybrid query: its lexical side is BM25, its dense
    side is the embedding of the lowest-id document containing it
    (doc_id and vec_id share the key space).

    Exactness contract: ranks are integers, fusion scores are fixed-order
    double arithmetic (coalesce(lex)+coalesce(sem), never an aggregation
    whose order could differ), cosine is the index-ordered fold shared
    with the ANN family — every value bit-identical in DuckDB.

    Scale shape: the lexical side filters to probe-term postings BEFORE
    its shuffle (bm25_single_term's plan); the dense side broadcasts
    |queries| vectors and ranks map-side + WindowGroupLimit; the fusion
    join touches only 2 x {RRF_POOL} rows per query.  At 100 TB the dense
    side swaps in the trained-IVF probe (sim_knn_ivf_trained) — the
    fusion stage is unchanged, which is the point of fusing on ranks
    rather than scores."""
    t = Tables(spark, sf_dir)
    # The token stream feeds both the postings branch (ptf) and the
    # doc-length branch (dl); materializing it once per execution
    # (measured 2.4 -> 2.1 s warm at sf0.1) is the local analog of what a
    # production retrieval stack does anyway — tokenize the corpus ONCE
    # into a persisted inverted-index artifact (the serve-family pattern)
    # rather than re-exploding per consumer.
    toks = _tokens(t.documents).localCheckpoint(eager=False)
    # r16: ptf feeds THREE consumers (lexical scoring, document frequency,
    # query-vector seeds) and dl TWO (scoring, corpus stats); without their
    # own materialization each consumer re-scans the cached token relation
    # and re-runs the filter/agg exchange (5 scans of toks in the executed
    # plan -> 2).  ptf is probe-term-bounded and dl is one row per doc —
    # both safely cacheable at any corpus size (dl IS the persisted
    # doclen artifact in the serve-family layout).
    ptf = (
        toks.where(F.col("term").isin(*BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=False)
    )
    dl = (
        toks.groupBy("doc_id")
        .agg(F.count("*").alias("dl"))
        .localCheckpoint(eager=False)
    )
    stats = dl.agg(
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        F.count("*").alias("n_docs"),
    )
    df_ = ptf.groupBy("term").agg(F.count("*").alias("df"))
    wl = Window.partitionBy("term").orderBy(F.desc("score"), F.asc("doc_id"))
    lex = (
        ptf.join(dl, "doc_id")
        .join(F.broadcast(df_), "term")
        .join(F.broadcast(stats))
        .select(
            "term",
            "doc_id",
            _bm25_score(
                F.col("tf").cast("double"),
                F.col("df").cast("double"),
                F.col("n_docs").cast("double"),
                F.col("dl").cast("double"),
                F.col("avgdl"),
            ).alias("score"),
        )
        .withColumn("lrk", F.row_number().over(wl))
        .where(F.col("lrk") <= RRF_POOL)
        .select("term", "doc_id", "lrk")
    )
    emb = t.embeddings
    # r16 (guide §1.2 — don't recompute per pair what varies per row):
    # hoist norm(qe) into the |queries|-row qvec and norm(e) into the
    # per-doc projection, so each (doc, term) pair pays ONE 64-element
    # fold (the dot) instead of three.  `ne * nq` multiplies the same
    # doubles the inline `norm(e) * norm(qe)` did — bit-identical cos.
    qvec = (
        ptf.groupBy("term")
        .agg(F.min("doc_id").alias("qid"))
        .join(emb, F.col("qid") == F.col("vec_id"))
        .select(
            "term",
            F.transform("embedding", lambda v: v.cast("double")).alias("qe"),
        )
        .withColumn("nq", norm(F.col("qe")))
    )
    e_d = emb.select(
        F.col("vec_id").alias("doc_id"),
        F.transform("embedding", lambda v: v.cast("double")).alias("e"),
    ).withColumn("ne", norm(F.col("e")))
    ws = Window.partitionBy("term").orderBy(F.desc("cos"), F.asc("doc_id"))
    sem = (
        e_d.crossJoin(F.broadcast(qvec))
        .select(
            "term",
            "doc_id",
            (dot(F.col("e"), F.col("qe")) / (F.col("ne") * F.col("nq"))).alias(
                "cos"
            ),
        )
        .withColumn("srk", F.row_number().over(ws))
        .where(F.col("srk") <= RRF_POOL)
        .select("term", "doc_id", "srk")
    )
    fused = lex.join(sem, ["term", "doc_id"], "full").select(
        "term",
        "doc_id",
        "lrk",
        "srk",
        (
            F.coalesce(1.0 / (RRF_K + F.col("lrk")), F.lit(0.0))
            + F.coalesce(1.0 / (RRF_K + F.col("srk")), F.lit(0.0))
        ).alias("rrf"),
    )
    wf = Window.partitionBy("term").orderBy(F.desc("rrf"), F.asc("doc_id"))
    return (
        fused.withColumn("rk", F.row_number().over(wf))
        .where(F.col("rk") <= 5)
        .select(
            "term",
            "doc_id",
            F.round("rrf", 6).alias("rrf_score"),
            F.col("lrk").cast("bigint").alias("lex_rank"),
            F.col("srk").cast("bigint").alias("sem_rank"),
            F.col("rk").cast("bigint").alias("rk"),
        )
        .orderBy("term", "rk")
    )


@query(
    "retrieval_eval_ndcg",
    oracle=f"""
    WITH tf AS ({_SQL_TF}),
    dl AS (
        SELECT doc_id, COUNT(*) AS dl
        FROM ({_SQL_TOKENS}) WHERE term <> ''
        GROUP BY doc_id
    ),
    stats AS (
        SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, COUNT(*) AS n_docs
        FROM dl
    ),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    scored AS (
        SELECT tf.term, tf.doc_id, tf.tf,
               ((stats.n_docs - df.df + 0.5) / (df.df + 0.5))
               * ((tf.tf * {BM25_K1 + 1.0}) /
                  (tf.tf + {BM25_K1} * ({1.0 - BM25_B} + {BM25_B} * dl.dl / stats.avgdl)))
                   AS score
        FROM tf
        JOIN dl USING (doc_id)
        JOIN df USING (term)
        CROSS JOIN stats
        WHERE tf.term IN {BM25_TERMS!r}
    ),
    ranked AS (
        SELECT term, tf, row_number() OVER (PARTITION BY term
                       ORDER BY score DESC, doc_id) AS rk
        FROM scored
    ),
    ideal AS (
        SELECT term, tf, row_number() OVER (PARTITION BY term
                       ORDER BY tf DESC, doc_id) AS rk
        FROM scored
    ),
    dcg AS (
        SELECT term,
               SUM((pow(2.0, LEAST(tf, 10)) - 1) / log2(rk + 1.0)) AS dcg
        FROM ranked WHERE rk <= 10 GROUP BY term
    ),
    idcg AS (
        SELECT term,
               SUM((pow(2.0, LEAST(tf, 10)) - 1) / log2(rk + 1.0)) AS idcg
        FROM ideal WHERE rk <= 10 GROUP BY term
    )
    SELECT dcg.term, ROUND(dcg.dcg, 6) AS dcg_at_10,
           ROUND(idcg.idcg, 6) AS idcg_at_10,
           ROUND(dcg.dcg / idcg.idcg, 6) AS ndcg_at_10
    FROM dcg JOIN idcg USING (term)
    ORDER BY dcg.term
    """,
    tags=("pipeline", "retrieval", "evaluation", "ndcg"),
)
def retrieval_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality evaluation: NDCG@10 of the BM25 ranking per probe
    term, with graded relevance = the raw term frequency (capped at 10)
    as a deterministic label — the offline eval loop every retrieval
    stack runs when tuning k1/b or swapping rankers (pairs with
    `sim_ann_recall_report`, which evaluates the dense leg).  DCG uses
    the standard (2^rel - 1)/log2(rank+1) gains; IDCG re-ranks the same
    pool by relevance (doc-id tiebroken), so NDCG = 1 iff BM25 ordered
    the pool label-perfectly.

    Scale shape: scoring touches only probe-term postings (the term
    filter lands before the tf aggregate's exchange); both rank passes
    are per-term WindowGroupLimit top-10s; the gains aggregate at term
    grain.  Eval cost is O(|terms| x postings), independent of corpus
    width.

    Exactness: 2^rel is exact for integer rel <= 10; log2 of small
    integers evaluates identically in both engines; the rank cuts are
    tiebroken — the divisions round at 6dp."""
    from pyspark.sql import Window

    t = Tables(spark, sf_dir)
    toks = _tokens(t.documents)
    tf = (
        toks.where(F.col("term").isin(*BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        F.count("*").alias("n_docs"),
    )
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(df_), "term")
        .join(F.broadcast(stats))
        .select(
            "term",
            "doc_id",
            "tf",
            (
                (
                    (F.col("n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                )
                * (
                    (F.col("tf") * (BM25_K1 + 1.0))
                    / (
                        F.col("tf")
                        + BM25_K1
                        * (
                            (1.0 - BM25_B)
                            + BM25_B * F.col("dl") / F.col("avgdl")
                        )
                    )
                )
            ).alias("score"),
        )
        # The scored pool feeds BOTH rank passes (DCG and IDCG) —
        # un-materialized, each pass re-derived the corpus tokenization
        # (8 scans compiled, round-9 plan sweep); materialized it is
        # |probe terms| x postings, eval-pool-sized.
        .localCheckpoint(eager=False)
    )
    gain = (F.pow(F.lit(2.0), F.least(F.col("tf"), F.lit(10))) - 1)
    w_rank = Window.partitionBy("term").orderBy(F.desc("score"), "doc_id")
    w_ideal = Window.partitionBy("term").orderBy(F.desc("tf"), "doc_id")
    dcg = (
        scored.withColumn("rk", F.row_number().over(w_rank))
        .filter(F.col("rk") <= 10)
        .groupBy("term")
        .agg(F.sum(gain / F.log2(F.col("rk") + 1.0)).alias("dcg"))
    )
    idcg = (
        scored.withColumn("rk", F.row_number().over(w_ideal))
        .filter(F.col("rk") <= 10)
        .groupBy("term")
        .agg(F.sum(gain / F.log2(F.col("rk") + 1.0)).alias("idcg"))
    )
    return (
        dcg.join(idcg, "term")
        .select(
            "term",
            F.round("dcg", 6).alias("dcg_at_10"),
            F.round("idcg", 6).alias("idcg_at_10"),
            F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg_at_10"),
        )
        .orderBy("term")
    )


@query(
    "retrieval_eval_map_mrr",
    oracle=f"""
    WITH tf AS ({_SQL_TF}),
    dl AS (
        SELECT doc_id, COUNT(*) AS dl
        FROM ({_SQL_TOKENS}) WHERE term <> ''
        GROUP BY doc_id
    ),
    stats AS (
        SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, COUNT(*) AS n_docs
        FROM dl
    ),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    scored AS (
        SELECT tf.term, tf.doc_id,
               CASE WHEN tf.tf >= 2 THEN 1 ELSE 0 END AS rel,
               ((stats.n_docs - df.df + 0.5) / (df.df + 0.5))
               * ((tf.tf * {BM25_K1 + 1.0}) /
                  (tf.tf + {BM25_K1} * ({1.0 - BM25_B} + {BM25_B} * dl.dl / stats.avgdl)))
                   AS score
        FROM tf
        JOIN dl USING (doc_id)
        JOIN df USING (term)
        CROSS JOIN stats
        WHERE tf.term IN {BM25_TERMS!r}
    ),
    pool AS (SELECT term, SUM(rel) AS n_rel_pool FROM scored GROUP BY term),
    ranked AS (
        SELECT term, rel, row_number() OVER (PARTITION BY term
                       ORDER BY score DESC, doc_id) AS rk
        FROM scored
    ),
    top AS (
        SELECT term, rel, rk,
               SUM(rel) OVER (PARTITION BY term ORDER BY rk
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cum_rel
        FROM ranked WHERE rk <= 10
    ),
    m AS (
        SELECT term,
               SUM(CASE WHEN rk <= 5 THEN rel ELSE 0 END) AS rel5,
               SUM(rel) AS rel10,
               MIN(CASE WHEN rel = 1 THEN rk END) AS first_rel,
               CAST(SUM(CAST(ROUND(rel * CAST(cum_rel AS DOUBLE) / rk, 9)
                             AS DECIMAL(28,9))) AS DOUBLE) AS ap_num
        FROM top GROUP BY term
    )
    SELECT m.term,
           CAST(n_rel_pool AS BIGINT) AS n_rel_pool,
           ROUND(rel5 / 5.0, 6) AS p_at_5,
           ROUND(rel10 / 10.0, 6) AS p_at_10,
           ROUND(COALESCE(1.0 / first_rel, 0.0), 6) AS mrr_at_10,
           ROUND(ap_num / LEAST(n_rel_pool, 10), 6) AS ap_at_10
    FROM m JOIN pool ON pool.term = m.term
    ORDER BY m.term
    """,
    tags=("pipeline", "retrieval", "evaluation"),
)
def retrieval_eval_map_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-relevance ranking metrics for the BM25 probe terms:
    Precision@5/@10, MRR@10 and AP@10 (relevant = tf >= 2) — the metric
    sweep that complements `retrieval_eval_ndcg`'s graded view; MRR is
    what a known-item / navigational eval reads, AP what a recall-heavy
    one reads, and disagreement between them localizes WHERE in the
    ranking the quality is lost.

    Scale shape: identical to the ndcg query — probe-term postings only,
    per-term WindowGroupLimit top-10, term-grain aggregates.

    Exactness: precisions and MRR are small-integer divisions; the AP
    summands (rel_k * cum_rel_k / k) are 9-dp-rounded into DECIMAL
    before summing, so aggregation order cannot perturb the hash."""
    from pyspark.sql import Window

    t = Tables(spark, sf_dir)
    toks = _tokens(t.documents)
    tf = (
        toks.where(F.col("term").isin(*BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        F.count("*").alias("n_docs"),
    )
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(df_), "term")
        .join(F.broadcast(stats))
        .select(
            "term",
            "doc_id",
            F.when(F.col("tf") >= 2, 1).otherwise(0).alias("rel"),
            (
                ((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
                * (
                    (F.col("tf") * (BM25_K1 + 1.0))
                    / (
                        F.col("tf")
                        + BM25_K1
                        * ((1.0 - BM25_B) + BM25_B * F.col("dl") / F.col("avgdl"))
                    )
                )
            ).alias("score"),
        )
        # Referenced by pool AND top — materialized once (see
        # retrieval_eval_ndcg's note; same 8-scan compile otherwise).
        .localCheckpoint(eager=False)
    )
    pool = scored.groupBy("term").agg(F.sum("rel").alias("n_rel_pool"))
    w_rank = Window.partitionBy("term").orderBy(F.desc("score"), "doc_id")
    w_cum = (
        Window.partitionBy("term")
        .orderBy("rk")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    top = (
        scored.withColumn("rk", F.row_number().over(w_rank))
        .filter(F.col("rk") <= 10)
        .withColumn("cum_rel", F.sum("rel").over(w_cum))
    )
    m = top.groupBy("term").agg(
        F.sum(F.when(F.col("rk") <= 5, F.col("rel")).otherwise(0)).alias("rel5"),
        F.sum("rel").alias("rel10"),
        F.min(F.when(F.col("rel") == 1, F.col("rk"))).alias("first_rel"),
        F.sum(
            F.round(
                F.col("rel") * F.col("cum_rel").cast("double") / F.col("rk"), 9
            ).cast("decimal(28,9)")
        )
        .cast("double")
        .alias("ap_num"),
    )
    return (
        m.join(pool, "term")
        .select(
            "term",
            F.col("n_rel_pool").cast("bigint").alias("n_rel_pool"),
            F.round(F.col("rel5") / 5.0, 6).alias("p_at_5"),
            F.round(F.col("rel10") / 10.0, 6).alias("p_at_10"),
            F.round(F.coalesce(1.0 / F.col("first_rel"), F.lit(0.0)), 6).alias(
                "mrr_at_10"
            ),
            F.round(
                F.col("ap_num") / F.least(F.col("n_rel_pool"), F.lit(10)), 6
            ).alias("ap_at_10"),
        )
        .orderBy("term")
    )


# --- persisted inverted-index serve path (train-once/serve-many, text leg) --

from auron_spark.artifacts import (  # noqa: E402
    ORACLE_SF_DIR as _ORACLE_SF_DIR,
    artifact_dir as _artifact_dir,
    ensure_artifact as _ensure_artifact,
)


def bm25_index_dir(sf_dir: str) -> str:
    return _artifact_dir("bm25", sf_dir)


def build_bm25_index(spark: SparkSession, sf_dir: str) -> str:
    """Build and persist the BM25 inverted index as parquet artifacts —
    the text-leg twin of `build_ivfpq_index`:

    - ``postings/tb=*/`` (term, doc_id, tf) — partitioned by the term's
      first letter, so a probe-term scan PRUNES to its letter directories
      (the cid-partitioned-codes layout applied to an inverted index; a
      production index partitions by term hash bucket);
    - ``doclen/`` (doc_id, dl) — the length normalizer;
    - ``vocab/``  (term, df)  — document frequencies;
    - ``stats/``  (n_docs, avgdl) — one row.

    Idempotent + concurrency-safe via `artifacts.ensure_artifact` (atomic
    temp-dir rename; the `_INDEX_COMPLETE` marker is the publish bit)."""

    def _build(into: str) -> None:
        t = Tables(spark, sf_dir)
        tf = _tf(t.documents).localCheckpoint(eager=False)
        dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
        (
            tf.withColumn("tb", F.substring("term", 1, 1))
            .repartition(1)
            .write.mode("overwrite")
            .partitionBy("tb")
            .parquet(f"{into}/postings")
        )
        dl.coalesce(1).write.mode("overwrite").parquet(f"{into}/doclen")
        (
            tf.groupBy("term")
            .agg(F.count("*").alias("df"))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{into}/vocab")
        )
        (
            dl.agg(
                F.count("*").alias("n_docs"),
                (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{into}/stats")
        )

    return _ensure_artifact(bm25_index_dir(sf_dir), "_INDEX_COMPLETE", _build)


_BM25_ART = bm25_index_dir(_ORACLE_SF_DIR)


@query(
    "retrieval_bm25_serve",
    oracle=f"""
    WITH tf AS (
        SELECT term, doc_id, tf
        FROM read_parquet('{_BM25_ART}/postings/*/*.parquet',
                          hive_partitioning = true)
        WHERE term IN {BM25_TERMS!r}
    ),
    dl AS (SELECT doc_id, dl FROM read_parquet('{_BM25_ART}/doclen/*.parquet')),
    df AS (SELECT term, df FROM read_parquet('{_BM25_ART}/vocab/*.parquet')),
    stats AS (
        SELECT n_docs, avgdl FROM read_parquet('{_BM25_ART}/stats/*.parquet')
    ),
    scored AS (
        SELECT tf.term, tf.doc_id,
               ((stats.n_docs - df.df + 0.5) / (df.df + 0.5))
               * ((tf.tf * {BM25_K1 + 1.0}) /
                  (tf.tf + {BM25_K1} * ({1.0 - BM25_B} + {BM25_B} * dl.dl / stats.avgdl)))
                   AS score
        FROM tf
        JOIN dl USING (doc_id)
        JOIN df USING (term)
        CROSS JOIN stats
    )
    SELECT term, doc_id, ROUND(score, 6) AS bm25, CAST(rk AS BIGINT) AS rk
    FROM (
        SELECT term, doc_id, score,
               row_number() OVER (PARTITION BY term
                                  ORDER BY score DESC, doc_id) AS rk
        FROM scored
    ) WHERE rk <= 5
    ORDER BY term, rk
    """,
    tags=("pipeline", "retrieval", "bm25", "serving"),
    bench=True,  # serve-family round-over-round series (text leg)
)
def retrieval_bm25_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-5 per probe term served from the PERSISTED inverted
    index (`build_bm25_index` artifacts) instead of re-tokenizing the
    corpus — the text-retrieval twin of `sim_ivfpq_serve`, completing the
    train-once/serve-many split for the hybrid (BM25 + ANN) stack: both
    legs of `retrieval_rrf_fusion` now have an honest per-batch serving
    cost.  Output is defined to equal `bm25_single_term` exactly (same
    score tree over the same statistics, now read from parquet).

    Scale shape: the probe-term filter lands on the letter-partitioned
    postings layout, so a query batch touches |distinct first letters|
    directories, not the index (partition pruning on an inverted index);
    doclen joins key-colocated on doc_id; vocab slice and the 1-row
    stats broadcast.  NO tokenization, NO corpus aggregate at serve time
    — the plan gate pins both.

    Exactness: the artifact stores exact integer tf/df/dl and the
    identical double avgdl both engines read back; the score is the same
    log-free double tree as `bm25_single_term`."""
    from pyspark.sql import Window

    d = build_bm25_index(spark, sf_dir)
    tf = (
        spark.read.parquet(f"{d}/postings")
        .where(
            F.col("tb").isin(*sorted({t[0] for t in BM25_TERMS}))
            & F.col("term").isin(*BM25_TERMS)
        )
        .select("term", "doc_id", "tf")
    )
    dl = spark.read.parquet(f"{d}/doclen")
    dfv = spark.read.parquet(f"{d}/vocab")
    stats = spark.read.parquet(f"{d}/stats")
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(dfv), "term")
        .join(F.broadcast(stats))
        .select(
            "term",
            "doc_id",
            _bm25_score(
                F.col("tf").cast("double"),
                F.col("df").cast("double"),
                F.col("n_docs").cast("double"),
                F.col("dl").cast("double"),
                F.col("avgdl"),
            ).alias("score"),
        )
    )
    w = Window.partitionBy("term").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 5)
        .select(
            "term",
            "doc_id",
            F.round("score", 6).alias("bm25"),
            F.col("rk").cast("long").alias("rk"),
        )
        .orderBy("term", "rk")
    )


# --- round-10 wave: pseudo-relevance-feedback query expansion ----------------


@query(
    "retrieval_query_expansion_rm3",
    oracle=f"""
    WITH tf AS ({_SQL_TF}),
    dl AS (
        SELECT doc_id, COUNT(*) AS dl
        FROM ({_SQL_TOKENS}) WHERE term <> ''
        GROUP BY doc_id
    ),
    stats AS (
        SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, COUNT(*) AS n_docs
        FROM dl
    ),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    scored AS (
        SELECT tf.term, tf.doc_id,
               ((stats.n_docs - df.df + 0.5) / (df.df + 0.5))
               * ((tf.tf * {BM25_K1 + 1.0}) /
                  (tf.tf + {BM25_K1} * ({1.0 - BM25_B}
                   + {BM25_B} * dl.dl / stats.avgdl))) AS score
        FROM tf
        JOIN dl USING (doc_id)
        JOIN df USING (term)
        CROSS JOIN stats
        WHERE tf.term IN {BM25_TERMS!r}
    ),
    pool AS (
        SELECT term AS probe, doc_id,
               row_number() OVER (PARTITION BY term
                                  ORDER BY score DESC, doc_id) AS rk
        FROM scored
        QUALIFY rk <= 10
    ),
    expansion AS (
        SELECT pool.probe, tf.term AS exp_term,
               CAST(COUNT(*) AS BIGINT) AS n_pool_docs,
               CAST(SUM(tf.tf) AS BIGINT) AS total_tf
        FROM pool JOIN tf USING (doc_id)
        WHERE tf.term <> pool.probe
        GROUP BY pool.probe, tf.term
        HAVING COUNT(*) >= 2
    )
    SELECT probe, exp_term, n_pool_docs, total_tf,
           CAST(rk AS BIGINT) AS rk
    FROM (
        SELECT probe, exp_term, n_pool_docs, total_tf,
               row_number() OVER (PARTITION BY probe
                                  ORDER BY total_tf DESC, n_pool_docs DESC,
                                           exp_term) AS rk
        FROM expansion
    )
    WHERE rk <= 5
    ORDER BY probe, rk
    """,
    tags=("pipeline", "retrieval", "query-expansion", "prf"),
)
def retrieval_query_expansion_rm3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (the RM3 recipe, integer
    evidence only): for each probe term, take the BM25 top-10 documents as
    the pseudo-relevant pool, score every other term in the pool by its
    summed term frequency (requiring support in >= 2 pool docs — the
    classic PRF noise guard), and return the top-5 expansion terms per
    probe with deterministic (tf, df, term) tiebreaks.

    Exactness contract: expansion evidence is pure integer aggregation
    (SUM(tf), COUNT(docs)); BM25 doubles only ORDER the pool, they never
    enter the output.

    Scale shape: the pool is |probes| x 10 doc ids (WindowGroupLimit
    prunes per probe); the expansion join touches only pool docs' token
    rows via an equi-join on doc_id — at 100 TB this is a probe-sized
    semi-join against the posting lists, the same posture as the
    persisted-index serve path."""
    t = Tables(spark, sf_dir)
    toks = _tokens(t.documents).localCheckpoint(eager=False)
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        F.count("*").alias("n_docs"),
    )
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        tf.where(F.col("term").isin(*BM25_TERMS))
        .join(dl, "doc_id")
        .join(F.broadcast(df_), "term")
        .join(F.broadcast(stats))
        .select(
            "term",
            "doc_id",
            _bm25_score(
                F.col("tf").cast("double"),
                F.col("df").cast("double"),
                F.col("n_docs").cast("double"),
                F.col("dl").cast("double"),
                F.col("avgdl"),
            ).alias("score"),
        )
    )
    wp = Window.partitionBy("term").orderBy(F.desc("score"), F.asc("doc_id"))
    pool = (
        scored.withColumn("rk", F.row_number().over(wp))
        .where(F.col("rk") <= 10)
        .select(F.col("term").alias("probe"), "doc_id")
    )
    expansion = (
        pool.join(tf, "doc_id")
        .where(F.col("term") != F.col("probe"))
        .groupBy("probe", F.col("term").alias("exp_term"))
        .agg(
            F.count("*").cast("bigint").alias("n_pool_docs"),
            F.sum("tf").cast("bigint").alias("total_tf"),
        )
        .where(F.col("n_pool_docs") >= 2)
    )
    we = Window.partitionBy("probe").orderBy(
        F.desc("total_tf"), F.desc("n_pool_docs"), F.asc("exp_term")
    )
    return (
        expansion.withColumn("rk", F.row_number().over(we).cast("bigint"))
        .where(F.col("rk") <= 5)
        .select("probe", "exp_term", "n_pool_docs", "total_tf", "rk")
        .orderBy("probe", "rk")
    )
