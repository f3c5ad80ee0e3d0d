"""Text-analysis operators: language ID, quality scoring, token counting,
fingerprinting.  All pure built-in expressions (JVM-side, codegen) — no Python
in the hot path; at 100 TB these run map-side with zero shuffles except the
final order in the test harness.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from auron_spark.registry import query
from auron_spark.tables import Tables

# Tiny marker vocabularies for the n-gram language heuristic.  The fixture
# text is synthetic English-ish; the point is deterministic scoring logic.
_LANG_MARKERS = {
    "en": ("the", "a", "of"),
    "de": ("der", "die", "und"),
    "fr": ("le", "la", "et"),
    "es": ("el", "los", "y"),
}


def _tokens(col: str = "text") -> Column:
    return F.split(F.lower(F.col(col)), " ")


def _marker_hits(lang: str) -> Column:
    toks = _tokens()
    hits = F.lit(0)
    for m in _LANG_MARKERS[lang]:
        hits = hits + F.size(F.filter(toks, lambda t: t == F.lit(m)))
    return hits


@query(
    "text_stats",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           length(text) AS n_chars_obs,
           length(text) = n_chars AS chars_ok,
           len(list_distinct(string_split(lower(text), ' '))) AS n_unique,
           ROUND(CAST(length(text) AS DOUBLE)
                 / len(string_split(text, ' ')), 9) AS avg_tok_len,
           length(text) - length(replace(text, ' ', '')) AS n_spaces
    FROM documents
    ORDER BY doc_id
    """,
    tags=("pipeline", "text", "stats"),
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token/char/uniqueness stats incl. the n_chars invariant check."""
    t = Tables(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    return t.documents.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.length("text").alias("n_chars_obs"),
        (F.length("text") == F.col("n_chars")).alias("chars_ok"),
        F.size(F.array_distinct(_tokens())).alias("n_unique"),
        F.round(F.length("text").cast("double") / F.size(toks), 9).alias("avg_tok_len"),
        (F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))).alias(
            "n_spaces"
        ),
    ).orderBy("doc_id")


def _sql_hits(lang: str) -> str:
    terms = " + ".join(
        f"len(list_filter(string_split(lower(text), ' '), t -> t = '{m}'))"
        for m in _LANG_MARKERS[lang]
    )
    return f"({terms})"


@query(
    "text_lang_id",
    oracle=f"""
    SELECT doc_id, lang AS lang_label,
           CASE
             WHEN {_sql_hits("en")} >= {_sql_hits("de")}
              AND {_sql_hits("en")} >= {_sql_hits("fr")}
              AND {_sql_hits("en")} >= {_sql_hits("es")} THEN 'en'
             WHEN {_sql_hits("de")} >= {_sql_hits("fr")}
              AND {_sql_hits("de")} >= {_sql_hits("es")} THEN 'de'
             WHEN {_sql_hits("fr")} >= {_sql_hits("es")} THEN 'fr'
             ELSE 'es'
           END AS lang_pred,
           {_sql_hits("en")} AS en_hits
    FROM documents
    ORDER BY doc_id
    """,
    tags=("pipeline", "text", "lang-id"),
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language heuristic — argmax over per-language hit counts
    with a deterministic tie order (en > de > fr > es)."""
    t = Tables(spark, sf_dir)
    en, de, fr, es = (_marker_hits(lang) for lang in ("en", "de", "fr", "es"))
    pred = (
        F.when((en >= de) & (en >= fr) & (en >= es), "en")
        .when((de >= fr) & (de >= es), "de")
        .when(fr >= es, "fr")
        .otherwise("es")
    )
    return t.documents.select(
        "doc_id",
        F.col("lang").alias("lang_label"),
        pred.alias("lang_pred"),
        en.alias("en_hits"),
    ).orderBy("doc_id")


@query(
    "text_quality_score",
    oracle="""
    SELECT doc_id,
           ROUND(
             0.4 * LEAST(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100, 1.0)
           + 0.3 * (CAST(len(list_distinct(string_split(lower(text), ' '))) AS DOUBLE)
                    / len(string_split(text, ' ')))
           + 0.3 * (CAST(len(list_filter(string_split(lower(text), ' '),
                                         t -> t IN ('the', 'a', 'of', 'and', 'is')))
                         AS DOUBLE)
                    / len(string_split(text, ' '))), 9) AS quality
    FROM documents
    ORDER BY doc_id
    """,
    tags=("pipeline", "text", "quality"),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score: length saturation + lexical diversity +
    stopword ratio (the classic Gopher-style rule trio, simplified)."""
    t = Tables(spark, sf_dir)
    toks = _tokens()
    n = F.size(toks)
    stop = F.size(
        F.filter(toks, lambda x: x.isin("the", "a", "of", "and", "is"))
    )
    quality = F.round(
        0.4 * F.least(n.cast("double") / 100, F.lit(1.0))
        + 0.3 * (F.size(F.array_distinct(toks)).cast("double") / n)
        + 0.3 * (stop.cast("double") / n),
        9,
    )
    return t.documents.select("doc_id", quality.alias("quality")).orderBy("doc_id")


@query(
    "text_token_regex",
    oracle="""
    SELECT doc_id,
           len(regexp_split_to_array(text, '\\s+')) AS ws_tokens,
           len(regexp_split_to_array(lower(text), '[^a-z0-9]+')) -
             CASE WHEN regexp_matches(lower(text), '[^a-z0-9]$') THEN 1 ELSE 0 END -
             CASE WHEN regexp_matches(lower(text), '^[^a-z0-9]') THEN 1 ELSE 0 END
             AS word_tokens,
           length(regexp_replace(text, '[a-zA-Z ]', '', 'g')) AS non_alpha
    FROM documents
    ORDER BY doc_id
    """,
    tags=("pipeline", "text", "tokenize"),
)
def text_token_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex tokenization counts (whitespace tokens vs BPE-ish word tokens) —
    Spark `split` drops no empty trailing fields the way DuckDB keeps them, so
    the oracle compensates explicitly (documented engine delta)."""
    t = Tables(spark, sf_dir)
    lower = F.lower(F.col("text"))
    word_arr = F.filter(
        F.split(lower, "[^a-z0-9]+"), lambda x: x != F.lit("")
    )
    return t.documents.select(
        "doc_id",
        F.size(F.split(F.col("text"), "\\s+")).alias("ws_tokens"),
        F.size(word_arr).alias("word_tokens"),
        F.length(F.regexp_replace(F.col("text"), "[a-zA-Z ]", "")).alias("non_alpha"),
    ).orderBy("doc_id")


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(
               string_split(lower(text), ' '))), ' ')) AS fp
    FROM documents
    ORDER BY doc_id
    """,
    tags=("pipeline", "text", "fingerprint"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-form document fingerprint: sorted distinct token bag → md5.
    Robust to token reordering — a cheap near-dup pre-filter."""
    t = Tables(spark, sf_dir)
    return t.documents.select(
        "doc_id",
        F.md5(F.array_join(F.sort_array(F.array_distinct(_tokens())), " ")).alias("fp"),
    ).orderBy("doc_id")


@query(
    "text_rolling_hash",
    oracle="""
    SELECT doc_id,
           list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                   list_transform(string_split(lower(text), ' '),
                       t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT))),
               (acc, x) -> (acc * 31 + x) % 1000000007) AS rolling_fp
    FROM documents
    ORDER BY doc_id
    """,
    tags=("pipeline", "text", "fingerprint", "rolling-hash"),
)
def text_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive polynomial rolling hash over the token stream
    (Rabin–Karp style): fp = fold((acc*31 + h(tok)) mod p).  Complements
    text_fingerprint (order-insensitive bag hash): equal bag + different
    rolling hash ⟹ same vocabulary, different order.  Token values are the
    first 32 md5 bits, so both engines fold identical int64 sequences —
    exact, no floating point anywhere."""
    t = Tables(spark, sf_dir)
    tokvals = F.transform(
        _tokens(),
        lambda tok: F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long"),
    )
    fp = F.aggregate(
        tokvals,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % 1000000007,
    )
    return t.documents.select("doc_id", fp.alias("rolling_fp")).orderBy("doc_id")


CHUNK_SIZE = 20
CHUNK_STRIDE = 15  # 5-token overlap between consecutive chunks


@query(
    "text_chunk_windows",
    oracle=f"""
    SELECT doc_id, k AS chunk_idx,
           array_to_string(w[k * {CHUNK_STRIDE} + 1 : k * {CHUNK_STRIDE} + {CHUNK_SIZE}], ' ')
             AS chunk_text,
           LEAST({CHUNK_SIZE}, len(w) - k * {CHUNK_STRIDE}) AS chunk_len
    FROM (
        SELECT doc_id, w, unnest(range(0, ((len(w) - 1) // {CHUNK_STRIDE}) + 1)) AS k
        FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)
    )
    ORDER BY doc_id, chunk_idx
    """,
    tags=("pipeline", "text", "chunking"),
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking ({CHUNK_SIZE}-token chunks,
    {CHUNK_STRIDE}-token stride → 5-token overlap) — the standard
    training-data prep step between cleaning and tokenization.  Map-side
    explode over chunk starts; amplification is bounded by
    ceil(n_tokens/stride) rows per doc, no shuffle."""
    t = Tables(spark, sf_dir)
    docs = t.parallel("documents", "doc_id").select(
        "doc_id", F.split(F.lower(F.col("text")), " ").alias("w")
    )
    n = F.size("w")
    chunked = docs.select(
        "doc_id",
        "w",
        F.explode(
            F.sequence(F.lit(0), F.floor((n - 1) / CHUNK_STRIDE).cast("int"))
        ).alias("chunk_idx"),
    )
    start = F.col("chunk_idx") * CHUNK_STRIDE + 1
    return chunked.select(
        "doc_id",
        "chunk_idx",
        F.array_join(F.slice("w", start, F.lit(CHUNK_SIZE)), " ").alias("chunk_text"),
        F.least(F.lit(CHUNK_SIZE), F.size("w") - F.col("chunk_idx") * CHUNK_STRIDE).alias(
            "chunk_len"
        ),
    ).orderBy("doc_id", "chunk_idx")


QUALITY_MIN = 0.55  # end-to-end pipeline keep-threshold


@query(
    "pipeline_end_to_end",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, text,
               0.4 * LEAST(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100, 1.0)
             + 0.3 * (CAST(len(list_distinct(string_split(lower(text), ' '))) AS DOUBLE)
                      / len(string_split(text, ' ')))
             + 0.3 * (CAST(len(list_filter(string_split(lower(text), ' '),
                                           t -> t IN ('the', 'a', 'of', 'and', 'is')))
                           AS DOUBLE)
                      / len(string_split(text, ' '))) AS quality
        FROM documents
    ),
    kept AS (SELECT doc_id, text FROM scored WHERE quality >= {QUALITY_MIN}),
    canonical AS (
        SELECT MIN(doc_id) AS doc_id, ANY_VALUE(text) AS text
        FROM kept GROUP BY md5(text)
    ),
    chunked AS (
        SELECT doc_id, k AS chunk_idx,
               array_to_string(w[k * {CHUNK_STRIDE} + 1 : k * {CHUNK_STRIDE} + {CHUNK_SIZE}], ' ')
                 AS chunk_text
        FROM (
            SELECT doc_id, w,
                   unnest(range(0, ((len(w) - 1) // {CHUNK_STRIDE}) + 1)) AS k
            FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM canonical)
        )
    )
    SELECT doc_id, chunk_idx,
           md5(chunk_text) AS chunk_fp,
           len(string_split(chunk_text, ' ')) AS n_tokens
    FROM chunked
    ORDER BY doc_id, chunk_idx
    """,
    tags=("pipeline", "end-to-end", "dedup", "chunking"),
    bench=True,
)
def pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data prep pipeline as ONE declarative plan:
    quality-score → filter → exact-dedup (canonical = min doc_id per digest)
    → sliding-window chunking → per-chunk fingerprint + token count.

    Composition is the point: each stage is the registered operator
    (text_quality_score / dedup_exact / text_chunk_windows) fused by Catalyst
    into a single job — scan once, score+filter map-side, one digest shuffle,
    chunk+fingerprint map-side.  At 100 TB this is the plan you actually run;
    the per-stage queries exist for oracle isolation."""
    t = Tables(spark, sf_dir)
    toks = F.split(F.lower(F.col("text")), " ")
    n = F.size(toks)
    stop = F.size(F.filter(toks, lambda x: x.isin("the", "a", "of", "and", "is")))
    quality = (
        0.4 * F.least(n.cast("double") / 100, F.lit(1.0))
        + 0.3 * (F.size(F.array_distinct(toks)).cast("double") / n)
        + 0.3 * (stop.cast("double") / n)
    )
    kept = (
        t.parallel("documents", "doc_id")
        .withColumn("quality", quality)
        .filter(F.col("quality") >= QUALITY_MIN)
    )
    canonical = (
        kept.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("doc_id"), F.any_value("text").alias("text"))
        .drop("h")
    )
    docs = canonical.select("doc_id", F.split(F.lower(F.col("text")), " ").alias("w"))
    chunked = docs.select(
        "doc_id",
        "w",
        F.explode(
            F.sequence(F.lit(0), F.floor((F.size("w") - 1) / CHUNK_STRIDE).cast("int"))
        ).alias("chunk_idx"),
    ).select(
        "doc_id",
        "chunk_idx",
        F.array_join(
            F.slice("w", F.col("chunk_idx") * CHUNK_STRIDE + 1, F.lit(CHUNK_SIZE)), " "
        ).alias("chunk_text"),
    )
    return chunked.select(
        "doc_id",
        "chunk_idx",
        F.md5("chunk_text").alias("chunk_fp"),
        F.size(F.split("chunk_text", " ")).alias("n_tokens"),
    ).orderBy("doc_id", "chunk_idx")


@query(
    "pack_length_buckets",
    oracle="""
    SELECT bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           (CAST(SUM(n_tok) AS BIGINT) + 511) // 512 AS min_batches
    FROM (
        SELECT len(string_split(text, ' ')) AS n_tok,
               (len(string_split(text, ' ')) + 15) // 16 AS bucket
        FROM documents
    )
    GROUP BY bucket
    ORDER BY bucket
    """,
    tags=("pipeline", "text", "packing"),
)
def pack_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing prep: bucket documents by token-length band (16
    tokens per band here; 128 for real corpora) and size each bucket's
    minimum 512-token batch count.
    Length-bucketed batching is how training pipelines avoid padding waste;
    the greedy packing itself is a per-bucket streaming pass downstream —
    this operator is the distributed part (map-side bucket assignment, one
    aggregate).  All integer arithmetic, identical in both engines."""
    t = Tables(spark, sf_dir)
    n_tok = F.size(F.split(F.col("text"), " "))
    df = t.documents.select(
        n_tok.alias("n_tok"),
        F.floor((n_tok + 15) / F.lit(16)).alias("bucket"),
    )
    return (
        df.groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
        )
        .select(
            "bucket",
            "n_docs",
            "total_tokens",
            F.floor((F.col("total_tokens") + 511) / F.lit(512)).alias("min_batches"),
        )
        .orderBy("bucket")
    )


@query(
    "text_repetition_filter",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ), grams AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(w)),
                                     i -> w[i] || ' ' || w[i + 1])) AS gram
        FROM toks WHERE len(w) >= 2
    ), cnt AS (
        SELECT doc_id, gram, COUNT(*) AS c FROM grams GROUP BY doc_id, gram
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_bigrams,
           CAST(MAX(c) AS BIGINT) AS top_bigram_count,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_bigrams,
           ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 9) AS top_bigram_frac,
           ROUND((CAST(SUM(c) AS DOUBLE) - COUNT(*)) / SUM(c), 9)
               AS dup_bigram_frac,
           CAST(MAX(c) AS DOUBLE) / SUM(c) <= 0.125
               AND (CAST(SUM(c) AS DOUBLE) - COUNT(*)) / SUM(c) <= 0.75
               AS keep
    FROM cnt
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    tags=("pipeline", "text", "quality"),
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filtering: per-document top-bigram fraction
    and duplicate-bigram fraction, with a keep/drop decision.

    Excessively repetitive documents (boilerplate, keyword stuffing, decode
    loops) are the first thing large-corpus quality pipelines drop; the two
    standard signals are "most frequent n-gram's share of all n-grams" and
    "share of n-grams occurring more than once" (n=2 here; other n are the
    same plan with a wider zip).

    100 TB shape: bigrams come from zip_with over two slices (codegen,
    map-side), then explode + two-level groupBy — the same
    shuffle-on-(doc_id, gram) pattern as MinHash, whose partial-aggregate
    map-side combine keeps shuffle bytes proportional to *distinct* grams
    per doc, not total.  Both shuffles key on doc_id so they co-partition;
    no Python in the hot path.
    """
    t = Tables(spark, sf_dir)
    w = F.split(F.lower(F.col("text")), " ")
    d = t.documents.select("doc_id", w.alias("w")).where(F.size("w") >= 2)
    grams = d.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("w", F.lit(1), F.size("w") - 1),
                F.slice("w", F.lit(2), F.size("w") - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("gram"),
    )
    cnt = grams.groupBy("doc_id", "gram").agg(F.count("*").alias("c"))
    top_frac = F.max("c").cast("double") / F.sum("c")
    dup_frac = (F.sum("c").cast("double") - F.count("*")) / F.sum("c")
    return (
        cnt.groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_bigrams"),
            F.max("c").cast("long").alias("top_bigram_count"),
            F.count("*").cast("long").alias("n_distinct_bigrams"),
            F.round(top_frac, 9).alias("top_bigram_frac"),
            F.round(dup_frac, 9).alias("dup_bigram_frac"),
            ((top_frac <= 0.125) & (dup_frac <= 0.75)).alias("keep"),
        )
        .orderBy("doc_id")
    )


_EMAIL_RE = "[a-zA-Z0-9._]+@[a-zA-Z0-9.]+"
_PHONE_RE = "\\+1-555-[0-9]{4}"


@query(
    "text_pii_redact",
    oracle=f"""
    WITH synth AS (
        SELECT doc_id,
               text
               || CASE WHEN doc_id % 3 <> 0
                       THEN ' contact user' || CAST(doc_id AS VARCHAR)
                            || '@example.com'
                       ELSE '' END
               || CASE WHEN doc_id % 2 = 0
                       THEN ' call +1-555-'
                            || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                       ELSE '' END AS text
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS BIGINT)
               AS n_emails,
           CAST(len(regexp_extract_all(text, '{_PHONE_RE}')) AS BIGINT)
               AS n_phones,
           md5(regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>',
                                             'g'),
                              '{_PHONE_RE}', '<PHONE>', 'g')) AS clean_md5
    FROM synth
    ORDER BY doc_id
    """,
    tags=("pipeline", "text", "pii"),
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — the scrubbing pass every training-data pipeline runs
    before anything else: find-and-mask emails and phone numbers, report
    per-document match counts, and emit a digest of the cleaned text (the
    full cleaned column in production; hashed here so the oracle compares it
    without shipping megabytes through the harness).

    The fixture corpus contains no PII, so a deterministic synthetic layer is
    appended first (email on doc_id % 3 != 0, phone on doc_id % 2 == 0 —
    identical expressions in the DuckDB oracle), making the match counts
    verifiable, not vacuously zero.

    100 TB shape: pure map-side regexp built-ins (codegen, no Python, no
    shuffle) — the scan streams, each row is redacted in place, and the only
    exchange is the demo's final ORDER BY.  Regex patterns are restricted to
    constructs with identical semantics in Java regex and DuckDB's RE2
    (character classes, +, bounded repetition; no backrefs/lookaround)."""
    t = Tables(spark, sf_dir)
    synth = t.documents.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 != 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(""),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(
                    F.lit(" call +1-555-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(""),
        ).alias("text"),
    )
    return synth.select(
        "doc_id",
        F.regexp_count("text", F.lit(_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count("text", F.lit(_PHONE_RE)).cast("long").alias("n_phones"),
        F.md5(
            F.regexp_replace(
                F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"),
                _PHONE_RE,
                "<PHONE>",
            )
        ).alias("clean_md5"),
    ).orderBy("doc_id")


@query(
    "pipeline_curation_end_to_end",
    oracle=f"""
    WITH sampled AS (
        SELECT doc_id, source, text
        FROM documents
        WHERE CAST('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 8)
                   AS BIGINT) % 100
              < 10 + (CAST(substr(source, 4) AS BIGINT) % 4) * 20
    ),
    cleaned AS (
        SELECT doc_id, source,
               regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                              '{_PHONE_RE}', '<PHONE>', 'g') AS text
        FROM sampled
    ),
    quality AS (
        SELECT * FROM cleaned WHERE len(string_split(text, ' ')) >= 8
    ),
    fresh AS (
        SELECT q.doc_id, q.source, q.text FROM quality q
        WHERE q.source <> 'src0'
          AND md5(q.text) NOT IN
              (SELECT md5(text) FROM documents WHERE source = 'src0')
    )
    SELECT source,
           len(string_split(text, ' ')) // 16 AS len_bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           md5(string_agg(md5(text), '|' ORDER BY doc_id)) AS bucket_fp
    FROM fresh
    GROUP BY source, len_bucket
    ORDER BY source, len_bucket
    """,
    tags=("pipeline", "end-to-end", "curation"),
    bench=True,
)
def pipeline_curation_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-3 curation pipeline as ONE declarative plan: mixture-weight
    sampling → PII redaction → minimum-length quality gate → incremental
    dedup against the historical corpus (src0) → sequence-pack length
    buckets with a per-bucket content fingerprint.

    Composition is again the point (see pipeline_end_to_end): the sampling
    decision, redaction and quality gate are all map-side in the first scan;
    the only shuffles are the digest anti-join probe and the final bucket
    aggregate.  Every stage is individually registered and oracle-checked
    (sample_mixture_weights / text_pii_redact / dedup_incremental_anti_join /
    pack_length_buckets); this query proves they FUSE."""
    from auron_spark.pipeline.sampling import hash_bucket

    t = Tables(spark, sf_dir)
    keep_pct = F.lit(10) + (F.substring("source", 4, 10).cast("bigint") % 4) * F.lit(20)
    sampled = t.parallel("documents", "doc_id").where(
        hash_bucket(F.col("doc_id")) < keep_pct
    )
    cleaned = sampled.select(
        "doc_id",
        "source",
        F.regexp_replace(
            F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
        ).alias("text"),
    )
    quality = cleaned.where(F.size(F.split("text", " ")) >= 8)
    corpus = (
        t.documents.where(F.col("source") == "src0")
        .select(F.md5("text").alias("h"))
        .dropDuplicates()
    )
    fresh = (
        quality.where(F.col("source") != "src0")
        .withColumn("h", F.md5("text"))
        .join(corpus, "h", "left_anti")
    )
    n_tok = F.size(F.split("text", " "))
    return (
        fresh.select(
            "doc_id",
            "source",
            "h",
            n_tok.alias("n_tokens"),
            F.floor(n_tok / 16).cast("long").alias("len_bucket"),
        )
        .groupBy("source", "len_bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("doc_id", "h"))),
                        lambda s: s["h"],
                    ),
                    "|",
                )
            ).alias("bucket_fp"),
        )
        .orderBy("source", "len_bucket")
    )


@query(
    "text_url_canonicalize",
    oracle="""
    WITH urls AS (
        SELECT doc_id,
               'https://' || source || '.Example.COM/docs/'
                 || CAST(doc_id AS VARCHAR)
                 || '?utm_source=feed&lang=' || lang || '&utm_campaign=x'
                 AS url
        FROM documents
    ),
    canon AS (
        SELECT doc_id,
               lower(regexp_extract(url, '^https?://([^/?#]+)', 1)) AS host,
               regexp_extract(url, '^https?://[^/?#]+([^?#]*)', 1) AS path,
               regexp_extract(url, 'lang=([^&#]*)', 1) AS lang_param
        FROM urls
    )
    SELECT host, lang_param,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS first_doc
    FROM canon
    GROUP BY host, lang_param
    ORDER BY host, lang_param
    """,
    tags=("pipeline", "text", "url"),
)
def text_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + host/param extraction — the first step of any
    web-corpus pipeline (host-level filtering, per-domain quotas, URL-key
    dedup after stripping tracking params).  Spark side uses the built-in
    `parse_url` for HOST/PATH/QUERY-param extraction (host lowercased —
    canonical form); the oracle re-derives identical values with portable
    regexes since DuckDB has no parse_url.  Synthetic URLs are built
    deterministically from fixture columns so extraction is verifiable.

    100 TB: parse_url is a codegen'd scalar — the whole canonicalization is
    map-side; the per-(host, lang) rollup groups by domain cardinality, not
    document count."""
    t = Tables(spark, sf_dir)
    urls = t.documents.select(
        "doc_id",
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".Example.COM/docs/"),
            F.col("doc_id").cast("string"),
            F.lit("?utm_source=feed&lang="),
            F.col("lang"),
            F.lit("&utm_campaign=x"),
        ).alias("url"),
    )
    canon = urls.select(
        "doc_id",
        F.lower(F.parse_url("url", F.lit("HOST"))).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
    )
    return (
        canon.groupBy("host", "lang_param")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("first_doc"))
        .orderBy("host", "lang_param")
    )


@query(
    "text_html_strip",
    oracle="""
    WITH html AS (
        SELECT doc_id,
               '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
               || '</title><script>var x=1;</script></head><body><p>'
               || replace(text, ' ', '</p> <p>')
               || '</p><div class="footer">&amp; more</div></body></html>'
               AS page
        FROM documents
    ),
    stripped AS (
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                   page,
                   '<script[^>]*>.*?</script>|<style[^>]*>.*?</style>', '', 'gs'),
                   '<[^>]+>', ' ', 'g'),
                   '&amp;', '&', 'g'),
                   ' +', ' ', 'g')) AS clean
        FROM html
    )
    SELECT doc_id,
           length(clean) AS n_chars,
           len(string_split(clean, ' ')) AS n_words,
           md5(clean) AS clean_md5
    FROM stripped
    ORDER BY doc_id
    """,
    tags=("pipeline", "text", "html"),
)
def text_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate removal — the extraction step between a raw web
    crawl and every other text operator: drop <script>/<style> blocks
    wholesale, replace remaining tags with spaces, decode entities, collapse
    whitespace.  A deterministic synthetic HTML wrapper (title, script,
    per-word <p> tags, footer div, &amp; entity) is built around each
    fixture document so the stripper has real work that both engines can
    verify byte-for-byte (clean_md5).

    100 TB: four regexp_replace passes, all codegen'd map-side scalars over
    the scan — no Python, no shuffle except the demo ORDER BY.  Patterns
    stay in the Java/RE2-portable subset — NO backreferences (RE2 lacks
    them; paired script/style tags use explicit alternation instead)."""
    t = Tables(spark, sf_dir)
    html = t.documents.select(
        "doc_id",
        F.concat(
            F.lit("<html><head><title>Doc "),
            F.col("doc_id").cast("string"),
            F.lit("</title><script>var x=1;</script></head><body><p>"),
            F.regexp_replace("text", " ", "</p> <p>"),
            F.lit('</p><div class="footer">&amp; more</div></body></html>'),
        ).alias("page"),
    )
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(
                        "page", "(?s)<script[^>]*>.*?</script>|<style[^>]*>.*?</style>", ""
                    ),
                    "<[^>]+>",
                    " ",
                ),
                "&amp;",
                "&",
            ),
            " +",
            " ",
        )
    )
    return (
        html.select(
            "doc_id",
            F.length(clean).alias("n_chars"),
            F.size(F.split(clean, " ")).alias("n_words"),
            F.md5(clean).alias("clean_md5"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_quality_percentile_filter",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, source, n_chars,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY n_chars, doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY source) AS n
        FROM documents
    ),
    thresholds AS (
        SELECT source, n_chars AS cutoff
        FROM ranked
        WHERE rn = CAST(ceil(0.25 * n) AS BIGINT)
    )
    SELECT r.source,
           t.cutoff,
           COUNT(*) FILTER (WHERE r.n_chars >= t.cutoff) AS n_kept,
           COUNT(*) AS n_total
    FROM ranked r JOIN thresholds t ON t.source = r.source
    GROUP BY r.source, t.cutoff
    ORDER BY r.source
    """,
    tags=("pipeline", "text", "quality", "percentile"),
)
def text_quality_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative quality cutoff — curation by per-group percentile rather
    than a global constant: drop the bottom quartile of each source's
    length distribution (the common 'filter the worst X% per domain'
    step).  The threshold is RANK-BASED (the value at row ceil(0.25·n) in
    (n_chars, doc_id) order), not interpolated, so Spark and DuckDB agree
    bit-for-bit — interpolating percentile implementations differ across
    engines.

    Scale shape: one window pass per source computes rank and group size
    in a single exchange; thresholds are |sources| rows → broadcast back;
    the filter itself is map-side.  A production variant writes the kept
    rows instead of the rollup."""
    from pyspark.sql import Window

    t = Tables(spark, sf_dir)
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = t.documents.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("source")).alias("n"),
    )
    thresholds = ranked.filter(
        F.col("rn") == F.ceil(0.25 * F.col("n")).cast("bigint")
    ).select("source", F.col("n_chars").alias("cutoff"))
    return (
        ranked.join(F.broadcast(thresholds), "source")
        .groupBy("source", "cutoff")
        .agg(
            F.count(F.when(F.col("n_chars") >= F.col("cutoff"), 1)).alias(
                "n_kept"
            ),
            F.count("*").alias("n_total"),
        )
        .orderBy("source")
    )


@query(
    "text_zscore_per_source",
    oracle="""
    WITH moments AS (
        SELECT source,
               COUNT(*) AS n,
               CAST(SUM(CAST(n_chars AS DECIMAL(28,6))) AS DOUBLE) AS s,
               CAST(SUM(CAST(n_chars AS DECIMAL(28,6))
                        * CAST(n_chars AS DECIMAL(28,6))) AS DOUBLE) AS sq
        FROM documents
        GROUP BY source
    )
    SELECT d.doc_id,
           d.source,
           ROUND((d.n_chars - m.s / m.n)
                 / sqrt(m.sq / m.n - (m.s / m.n) * (m.s / m.n)), 6) AS z
    FROM documents d JOIN moments m ON m.source = d.source
    ORDER BY d.doc_id
    """,
    tags=("pipeline", "text", "normalize", "zscore"),
)
def text_zscore_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group feature standardization: z-score each document's length
    within its source, making quality features comparable across domains
    (a long doc is unremarkable in one corpus and an outlier in another).
    Sums and sums-of-squares go through DECIMAL(28,6) so the group moments
    are order-insensitive and bit-identical in both engines; the final
    z = (x - mean)/std is deterministic double arithmetic.

    Scale shape: one partial/final aggregate produces |sources| moment
    rows -> broadcast back; the standardization itself is map-side.  The
    same two-pass shape standardizes any per-row feature at 100 TB."""
    t = Tables(spark, sf_dir)
    dec = F.col("n_chars").cast("decimal(28,6)")
    moments = t.documents.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum(dec).cast("double").alias("s"),
        F.sum(dec * dec).cast("double").alias("sq"),
    )
    mean = F.col("s") / F.col("n")
    std = F.sqrt(F.col("sq") / F.col("n") - mean * mean)
    return (
        t.documents.join(F.broadcast(moments), "source")
        .select(
            "doc_id",
            "source",
            F.round((F.col("n_chars") - mean) / std, 6).alias("z"),
        )
        .orderBy("doc_id")
    )


BIGRAM_VOCAB = 2000  # top corpus bigrams kept in the fluency table


@query(
    "text_bigram_fluency",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ), bg AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(w)),
                                     i -> w[i] || ' ' || w[i + 1])) AS b
        FROM toks WHERE len(w) >= 2
    ), counts AS (
        SELECT b, COUNT(*) AS c FROM bg GROUP BY b
    ), top AS (
        SELECT b, c FROM counts ORDER BY c DESC, b LIMIT {BIGRAM_VOCAB}
    )
    SELECT bg.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(CASE WHEN top.b IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_known,
           CAST(SUM(CASE WHEN top.b IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS known_frac,
           CAST(COALESCE(SUM(top.c), 0) AS BIGINT) AS hit_weight
    FROM bg LEFT JOIN top ON top.b = bg.b
    GROUP BY bg.doc_id
    ORDER BY bg.doc_id
    """,
    tags=("pipeline", "text", "quality", "fluency"),
)
def text_bigram_fluency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level bigram fluency score — the integer-exact stand-in for
    n-gram-LM (KenLM-style) quality scoring that large-corpus pipelines
    run before training: build the corpus's top-BIGRAM_VOCAB bigram table
    (deterministic count-desc/bigram-asc cut), then score every document
    by how much of it is made of common bigrams (known_frac) and how
    heavy those hits are (hit_weight = sum of matched table counts).
    Gibberish, boilerplate and non-prose documents score near zero
    against the corpus's own statistics.  Unlike
    `text_repetition_filter` (within-doc n-gram stats) this is a
    CROSS-doc signal: the model table is shared corpus state.

    Scale shape: the count pass is the standard explode + partial-agg
    shuffle (distinct bigrams per partition cross the wire, not
    occurrences); the top-V cut is TakeOrderedAndProject; the scoring
    pass joins each document's bigrams against the BROADCAST table —
    map-side, no second corpus shuffle except the per-doc rollup, which
    keys on doc_id.  Integer counts and exact fractions keep the oracle
    bit-exact (no transcendental log smoothing — by design, so the
    contract is provable)."""
    t = Tables(spark, sf_dir)
    w = F.split(F.lower(F.col("text")), " ")
    d = t.documents.select("doc_id", w.alias("w")).where(F.size("w") >= 2)
    bg = d.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("w", F.lit(1), F.size("w") - 1),
                F.slice("w", F.lit(2), F.size("w") - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("b"),
    )
    top = (
        bg.groupBy("b")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), "b")
        .limit(BIGRAM_VOCAB)
    )
    return (
        bg.join(F.broadcast(top), "b", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.sum(F.when(F.col("c").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_known"),
            (
                F.sum(
                    F.when(F.col("c").isNotNull(), 1).otherwise(0)
                ).cast("double")
                / F.count("*")
            ).alias("known_frac"),
            F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias(
                "hit_weight"
            ),
        )
        .orderBy("doc_id")
    )


SUBSTR_W = 20  # token-window width for exact substring dedup


@query(
    "text_substring_dedup",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ), wins AS (
        SELECT doc_id,
               md5(array_to_string(list_slice(w, i, i + {SUBSTR_W} - 1), ' '))
                   AS h
        FROM toks, unnest(range(1, len(w) - {SUBSTR_W} + 2)) AS t(i)
        WHERE len(w) >= {SUBSTR_W}
    ), shared AS (
        SELECT h, COUNT(DISTINCT doc_id) AS n_docs FROM wins GROUP BY h
    )
    SELECT w.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(SUM(CASE WHEN s.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared,
           CAST(SUM(CASE WHEN s.n_docs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS shared_frac
    FROM wins w JOIN shared s ON s.h = w.h
    GROUP BY w.doc_id
    ORDER BY w.doc_id
    """,
    tags=("pipeline", "dedup", "substring", "text"),
)
def text_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-window dedup signal (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): slide a SUBSTR_W-token
    window over every document, hash each window, and measure per
    document how much of it is verbatim-shared with OTHER documents
    (n_docs > 1 for the window hash).  Near-dup (MinHash) finds
    whole-document copies; THIS finds embedded verbatim spans — quoted
    boilerplate, license headers, copied passages — the signal used to
    cut exact substrings out of training corpora.

    Scale shape: window expansion is map-side (explode of per-doc
    sequences); the only corpus shuffles key on the window hash (partial
    count-distinct state per partition) and back on doc_id for the
    rollup.  The 16-byte hash crosses the wire, never the window text.
    At 100 TB the hash-keyed shuffle is the same shape as MinHash
    banding; a suffix-array build would be the exact-match upgrade, this
    is its hash-windowed streaming approximation (windows are exact,
    span merging is the part left to the consumer)."""
    t = Tables(spark, sf_dir)
    w = F.split(F.lower(F.col("text")), " ")
    d = t.documents.select("doc_id", w.alias("w")).where(
        F.size("w") >= SUBSTR_W
    )
    wins = d.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - (SUBSTR_W - 1)),
                lambda i: F.md5(
                    F.array_join(F.slice("w", i, SUBSTR_W), " ")
                ),
            )
        ).alias("h"),
    )
    shared = wins.groupBy("h").agg(
        F.count_distinct("doc_id").alias("n_docs")
    )
    return (
        wins.join(shared, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_windows"),
            F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_shared"),
            (
                F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0)).cast(
                    "double"
                )
                / F.count("*")
            ).alias("shared_frac"),
        )
        .orderBy("doc_id")
    )


@query(
    "feature_quantile_binning",
    oracle="""
    WITH binned AS (
        SELECT source, n_chars,
               NTILE(4) OVER (PARTITION BY source
                              ORDER BY n_chars, doc_id) AS bin
        FROM documents
    )
    SELECT source, CAST(bin AS INT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(n_chars) AS BIGINT) AS lo,
           CAST(MAX(n_chars) AS BIGINT) AS hi
    FROM binned
    GROUP BY source, bin
    ORDER BY source, bin
    """,
    tags=("pipeline", "text", "features", "binning"),
)
def feature_quantile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group equi-depth (quantile) binning of a numeric feature —
    NTILE quartiles of document length within each source, reported as
    per-bin counts and value ranges.  The feature-engineering complement
    of `agg_histogram_width_bucket` (equi-WIDTH bins): equi-depth bins
    adapt to the distribution, which is what length-balanced sampling
    and per-domain curricula bucket on.

    Scale shape: the window partitions by source, so the sort is
    group-local — one hash exchange, no global single-partition sort
    (a GLOBAL exact ntile would serialize at 100 TB; for global
    equi-depth cuts use approx_percentile boundaries instead — that
    trade is deliberate and documented here).  The rollup reuses the
    window's partitioning prefix."""
    from pyspark.sql import Window

    docs = Tables(spark, sf_dir).documents
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    return (
        docs.select(
            "source", "n_chars", F.ntile(4).over(w).alias("bin")
        )
        .groupBy("source", "bin")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("n_chars").cast("bigint").alias("lo"),
            F.max("n_chars").cast("bigint").alias("hi"),
        )
        .select("source", F.col("bin").cast("int"), "n_docs", "lo", "hi")
        .orderBy("source", "bin")
    )


@query(
    "text_word_entropy",
    oracle="""
    WITH wc AS (
        SELECT doc_id, word, COUNT(*) AS c
        FROM (
            SELECT doc_id,
                   unnest(list_filter(string_split(lower(text), ' '),
                                      s -> s <> '')) AS word
            FROM documents
        )
        GROUP BY doc_id, word
    ),
    agg AS (
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_words,
               CAST(COUNT(*) AS BIGINT) AS n_distinct,
               CAST(SUM(CAST(ROUND(c * log2(c), 9) AS DECIMAL(28,9)))
                    AS DOUBLE) AS clogc
        FROM wc GROUP BY doc_id
    )
    SELECT doc_id, n_words, n_distinct,
           ROUND(log2(CAST(n_words AS DOUBLE)) - clogc / n_words, 6)
               AS entropy
    FROM agg
    ORDER BY doc_id
    """,
    tags=("pipeline", "text", "quality", "entropy"),
)
def text_word_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the word distribution — the
    information-density quality signal that catches degenerate documents
    (keyword stuffing, template spam, low-diversity boilerplate) that
    length and punctuation ratios miss: H = log2(n) - (sum c*log2(c))/n
    over per-document word counts c.

    Exactness contract: the per-term c*log2(c) values are 9-dp-rounded
    and summed as DECIMAL(28,9), so the doc-level sum is order-insensitive
    (double addition is not associative; Spark's and DuckDB's aggregation
    orders differ); the final H is deterministic double arithmetic rounded
    to 6 dp.

    Scale shape: explode words map-side, one hash aggregate on
    (doc_id, word), then a second aggregate of the (already much smaller)
    per-word counts up to doc level — the same two-level shape as TF-IDF's
    term counting.  Output is one row per document; a real pipeline joins
    H back as a filter column (entropy below ~2 bits at realistic lengths
    is near-certain boilerplate)."""
    docs = Tables(spark, sf_dir).documents
    wc = (
        docs.select(
            "doc_id",
            F.explode(
                F.filter(F.split(F.lower("text"), " "), lambda s: s != "")
            ).alias("word"),
        )
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("c"))
    )
    agg = wc.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_words"),
        F.count("*").cast("bigint").alias("n_distinct"),
        F.sum(
            F.round(F.col("c") * F.log2("c"), 9).cast("decimal(28,9)")
        ).cast("double").alias("clogc"),
    )
    return agg.select(
        "doc_id",
        "n_words",
        "n_distinct",
        F.round(
            F.log2(F.col("n_words").cast("double"))
            - F.col("clogc") / F.col("n_words"),
            6,
        ).alias("entropy"),
    ).orderBy("doc_id")


# Shared bigram-LM cross-entropy stage (with source carried) over an
# arbitrary docs relation: the one entropy implementation, consumed by
# `text_bigram_perplexity`, `text_perplexity_buckets` and
# `pipeline_quality_training_set`.
_SQL_ENTROPY_STAGES = """toks AS (
        SELECT doc_id, source, string_split(lower(text), ' ') AS w
        FROM {docs}
    ),
    vocab AS (
        SELECT COUNT(DISTINCT t.word) AS v FROM (
            SELECT unnest(w) AS word FROM toks
        ) t
    ),
    bg AS (
        SELECT doc_id, source,
               unnest(list_transform(range(1, len(w)), i -> w[i])) AS w1,
               unnest(list_transform(range(1, len(w)), i -> w[i + 1])) AS w2
        FROM toks WHERE len(w) >= 2
    ),
    c2 AS (SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY w1, w2),
    c1 AS (SELECT w1, COUNT(*) AS c FROM bg GROUP BY w1),
    h AS (
        SELECT bg.doc_id, bg.source,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               ROUND(-CAST(SUM(CAST(ROUND(
                         log2((c2.c + 1.0) / (c1.c + v.v)), 9)
                     AS DECIMAL(28,9))) AS DOUBLE) / COUNT(*), 6) AS h
        FROM bg
        JOIN c2 ON c2.w1 = bg.w1 AND c2.w2 = bg.w2
        JOIN c1 ON c1.w1 = bg.w1
        CROSS JOIN vocab v
        GROUP BY bg.doc_id, bg.source
    )"""


def _entropy_by_doc(docs: DataFrame) -> DataFrame:
    """Spark side of `_SQL_ENTROPY_STAGES`: (doc_id, source, n_bigrams, h)
    over an arbitrary (doc_id, source, text) relation."""
    w = F.split(F.lower(F.col("text")), " ")
    toks = docs.select("doc_id", "source", w.alias("w"))
    vocab = toks.select(F.explode("w").alias("word")).agg(
        F.count_distinct("word").alias("v")
    )
    d = toks.where(F.size("w") >= 2)
    bg = d.select(
        "doc_id",
        "source",
        F.explode(
            F.zip_with(
                F.slice("w", F.lit(1), F.size("w") - 1),
                F.slice("w", F.lit(2), F.size("w") - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p"),
    ).select("doc_id", "source", "p.w1", "p.w2")
    # Bigram TYPE-count table: checkpoint once (single-subtree rule), and
    # derive the context totals FROM it (c1(w1) = sum_w2 c2) instead of a
    # second corpus aggregate — the plan pays one vocab pass + two bigram
    # derivations total instead of four.
    c2 = (
        bg.groupBy("w1", "w2")
        .agg(F.count("*").alias("c2"))
        .localCheckpoint(eager=False)
    )
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    term = F.round(
        F.log2((F.col("c2") + F.lit(1.0)) / (F.col("c1") + F.col("v"))), 9
    ).cast("decimal(28,9)")
    return (
        bg.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .join(F.broadcast(vocab))
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.round(-F.sum(term).cast("double") / F.count("*"), 6).alias("h"),
        )
    )


@query(
    "text_bigram_perplexity",
    oracle=f"""
    WITH {_SQL_ENTROPY_STAGES.format(docs="documents")}
    SELECT doc_id, n_bigrams, h AS cross_entropy_bits
    FROM h
    ORDER BY doc_id
    """,
    tags=("pipeline", "text", "quality", "perplexity", "lm"),
)
def text_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM cross-entropy per document (log2 of perplexity) with
    add-one smoothing — the CCNet-style perplexity filter, scored against
    the corpus's own bigram model: H = -(1/n) sum log2((c(w1 w2)+1) /
    (c(w1 .)+V)).  Complements `text_bigram_fluency`, which deliberately
    avoids logs to stay integer-exact: this query takes the
    transcendental step and contains it — each per-occurrence log2 term
    is 9-dp-rounded into DECIMAL before summing, so aggregation order
    cannot perturb the result and the DuckDB oracle hash-matches
    (the same containment device as text_word_entropy).

    Scale shape: bigram and context counts are the standard explode +
    partial-agg shuffles (model-table-sized outputs); scoring joins the
    occurrence stream against both tables by key — vocabulary-scale
    equi-joins, broadcastable while the model fits and shuffled hash
    joins beyond; the vocab size is one broadcast scalar; the per-doc
    rollup keys on doc_id (the shared `_entropy_by_doc` stage, which
    carries each document's source along).  A production filter then drops docs above a
    per-source entropy percentile (text_quality_percentile_filter's
    threshold machinery)."""
    t = Tables(spark, sf_dir)
    return (
        _entropy_by_doc(t.documents.select("doc_id", "source", "text"))
        .select("doc_id", "n_bigrams", F.col("h").alias("cross_entropy_bits"))
        .orderBy("doc_id")
    )


@query(
    "text_pmi_collocations",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ),
    uni AS (
        SELECT unnest(w) AS term FROM toks
    ),
    ucnt AS (
        SELECT term, COUNT(*) AS c FROM uni WHERE term <> '' GROUP BY term
    ),
    utot AS (SELECT SUM(c) AS nu FROM ucnt),
    bg AS (
        SELECT unnest(list_transform(range(1, len(w)), i -> w[i])) AS a,
               unnest(list_transform(range(1, len(w)), i -> w[i + 1])) AS b
        FROM toks WHERE len(w) >= 2
    ),
    bcnt AS (
        SELECT a, b, COUNT(*) AS cab
        FROM bg WHERE a <> '' AND b <> ''
        GROUP BY a, b
    ),
    btot AS (SELECT SUM(cab) AS nb FROM bcnt)
    SELECT a, b, CAST(cab AS BIGINT) AS cab,
           ROUND(ln((CAST(cab AS DOUBLE) * t.nu * t.nu)
                    / (CAST(bt.nb AS DOUBLE) * ua.c * ub.c)), 6) AS pmi
    FROM bcnt
    JOIN ucnt ua ON ua.term = bcnt.a
    JOIN ucnt ub ON ub.term = bcnt.b
    CROSS JOIN utot t CROSS JOIN btot bt
    WHERE cab >= 5
    ORDER BY pmi DESC, a, b
    LIMIT 20
    """,
    tags=("pipeline", "text", "pmi", "collocations", "phrase-mining"),
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise-mutual-information collocation mining: the top bigrams
    whose words co-occur far more than chance —
    PMI = ln(p(ab) / (p(a)·p(b))) with a min-count floor of 5 — the
    classic phrase-extraction pass (word2phrase, spaCy merge-phrases)
    a tokenizer pipeline runs before vocabulary induction
    (`text_bpe_train`'s statistical complement).

    Exactness: the log argument assembles as ONE double product in fixed
    association order on both engines, so libm ln sees identical inputs;
    counts are exact ints; top-20 is (pmi, a, b)-tiebroken.

    Scale shape: unigram and bigram counts are the standard explode +
    partial/final shuffles (distinct-gram grain on the wire); the PMI
    join attaches vocabulary-sized unigram counts to the bigram table by
    two equi-joins (broadcast at fixture scale, shuffled-hash at web
    scale — both sides are gram-grain, never corpus-grain); totals are
    1-row broadcasts; the final cut is TakeOrderedAndProject."""
    docs = Tables(spark, sf_dir).documents
    toks = docs.select(F.split(F.lower("text"), " ").alias("w"))
    uni = toks.select(F.explode("w").alias("term")).where(F.col("term") != "")
    # vocab-grain index, referenced three times (total, both join legs) —
    # materialized once per the round-9 single-subtree rule
    ucnt = (
        uni.groupBy("term")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)
    )
    utot = ucnt.agg(F.sum("c").alias("nu"))
    idx = F.sequence(F.lit(1), F.size("w") - 1)
    bg = (
        toks.where(F.size("w") >= 2)
        .select(
            F.explode(
                F.transform(
                    idx,
                    lambda i: F.struct(
                        F.element_at("w", i).alias("a"),
                        F.element_at("w", i + 1).alias("b"),
                    ),
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
        .where((F.col("a") != "") & (F.col("b") != ""))
    )
    bcnt = (
        bg.groupBy("a", "b")
        .agg(F.count("*").alias("cab"))
        .localCheckpoint(eager=False)  # bigram TYPE table, referenced twice
    )
    btot = bcnt.agg(F.sum("cab").alias("nb"))
    ua = ucnt.select(F.col("term").alias("a"), F.col("c").alias("ca"))
    ub = ucnt.select(F.col("term").alias("b"), F.col("c").alias("cb"))
    return (
        bcnt.where(F.col("cab") >= 5)
        .join(F.broadcast(ua), "a")
        .join(F.broadcast(ub), "b")
        .join(F.broadcast(utot))
        .join(F.broadcast(btot))
        .select(
            "a",
            "b",
            F.col("cab").cast("bigint").alias("cab"),
            F.round(
                F.log(
                    (F.col("cab").cast("double") * F.col("nu") * F.col("nu"))
                    / (
                        F.col("nb").cast("double")
                        * F.col("ca")
                        * F.col("cb")
                    )
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "a", "b")
        .limit(20)
    )


@query(
    "text_zipf_slope",
    oracle="""
    WITH toks AS (
        SELECT unnest(string_split(lower(text), ' ')) AS token
        FROM documents
    ),
    freq AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token),
    top AS (
        SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rank
        FROM freq
        ORDER BY cnt DESC, token
        LIMIT 500
    ),
    xy AS (
        SELECT ln(CAST(rank AS DOUBLE)) AS x, ln(CAST(cnt AS DOUBLE)) AS y
        FROM top
    ),
    ps AS (
        SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy
        FROM xy
    )
    SELECT CAST(n AS BIGINT) AS n_ranks,
           ROUND((sxy - sx * sy / n) / (sxx - sx * sx / n), 6) AS zipf_slope,
           ROUND(sy / n - (sxy - sx * sy / n) / (sxx - sx * sx / n) * sx / n,
                 6) AS log_intercept,
           ROUND((sxy - sx * sy / n) * (sxy - sx * sy / n)
                 / ((sxx - sx * sx / n) * (syy - sy * sy / n)), 6) AS r2
    FROM ps
    """,
    tags=("pipeline", "text", "zipf", "statistics"),
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: OLS slope of
    log(frequency) against log(rank) for the top-500 tokens — the
    classic corpus-health diagnostic (natural language sits near -1;
    a flat slope flags template/boilerplate corpora, a cliff flags
    vocabulary collapse), with r2 as goodness-of-Zipf.

    Exactness: ranks are a deterministic total order (count desc, token);
    x/y are libm ln of exact integers (identical arguments both
    engines); the regression folds 500 deterministic doubles
    (second-stage contract as `eval_anova_oneway`).

    Scale shape: corpus scan -> vocabulary-grain count (the shuffle), a
    TakeOrderedAndProject(500) — never a global sort — then scalar
    power sums over the bounded head.  At 100 TB only the vocabulary
    aggregate grows; the fit stays 500 rows."""
    from pyspark.sql import Window

    d = Tables(spark, sf_dir).documents
    toks = d.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("token")
    )
    freq = toks.groupBy("token").agg(F.count("*").alias("cnt"))
    top = (
        freq.orderBy(F.desc("cnt"), "token")
        .limit(500)
        .select(
            "cnt",
            F.row_number()
            .over(Window.orderBy(F.desc("cnt"), "token"))
            .alias("rank"),
        )
    )
    xy = top.select(
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log(F.col("cnt").cast("double")).alias("y"),
    )
    ps = xy.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy, syy = F.col("sxx"), F.col("sxy"), F.col("syy")
    slope = (sxy - sx * sy / n) / (sxx - sx * sx / n)
    return ps.select(
        n.cast("bigint").alias("n_ranks"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(sy / n - slope * sx / n, 6).alias("log_intercept"),
        F.round(
            (sxy - sx * sy / n)
            * (sxy - sx * sy / n)
            / ((sxx - sx * sx / n) * (syy - sy * sy / n)),
            6,
        ).alias("r2"),
    )


@query(
    "text_kneser_ney_bigram",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ),
    bg AS (
        SELECT unnest(list_transform(range(1, len(w)), i -> w[i])) AS w1,
               unnest(list_transform(range(1, len(w)), i -> w[i + 1])) AS w2
        FROM toks WHERE len(w) >= 2
    ),
    c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY w1, w2),
    ctx AS (
        SELECT w1, SUM(c2) AS c1, COUNT(*) AS n1_fwd FROM c2 GROUP BY w1
    ),
    cont AS (SELECT w2, COUNT(*) AS n1_bwd FROM c2 GROUP BY w2),
    btypes AS (SELECT COUNT(*) AS b FROM c2)
    SELECT c2.w1, c2.w2,
           CAST(c2.c2 AS BIGINT) AS c_bigram,
           CAST(ctx.c1 AS BIGINT) AS c_context,
           ROUND(CAST(c2.c2 AS DOUBLE) / ctx.c1, 6) AS p_mle,
           ROUND((c2.c2 - 0.75) / ctx.c1
                 + 0.75 * n1_fwd / ctx.c1
                   * (CAST(n1_bwd AS DOUBLE) / b), 6) AS p_kn
    FROM c2
    JOIN ctx ON ctx.w1 = c2.w1
    JOIN cont ON cont.w2 = c2.w2
    CROSS JOIN btypes
    ORDER BY c_bigram DESC, c2.w1, c2.w2
    LIMIT 30
    """,
    tags=("pipeline", "text", "lm"),
)
def text_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities (absolute discount
    d = 0.75, the standard value) for the corpus's top bigrams —
    P_KN(w2|w1) = max(c-d,0)/c(w1) + d*N1+(w1:)/c(w1) * N1+(:w2)/|B| —
    the smoothing every n-gram LM quality filter should use instead of
    add-one (`text_bigram_perplexity`'s deliberately simple baseline):
    continuation counts demote high-frequency-but-narrow-context tokens.

    The sufficient statistics all derive from the bigram TYPE table
    (c2): context totals and forward continuation counts are one
    re-aggregate of c2 at w1 grain (SUM + COUNT — no second corpus
    pass), backward continuation counts one at w2 grain, and |B| is a
    broadcast scalar.  Corpus-sized data is touched exactly once, by the
    bigram count; everything after runs at vocabulary grain.

    Exactness: counts are integers; every bigram's probability rides on
    c > 0.75 (so the max() never fires on observed bigrams) and the
    final expression is one shared double tree, 6-dp rounded."""
    t = Tables(spark, sf_dir)
    w = F.split(F.lower(F.col("text")), " ")
    d = t.documents.select("doc_id", w.alias("w")).where(F.size("w") >= 2)
    bg = d.select(
        F.explode(
            F.zip_with(
                F.slice("w", F.lit(1), F.size("w") - 1),
                F.slice("w", F.lit(2), F.size("w") - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    # one corpus pass: every KN statistic derives from the bigram TYPE
    # table, so materialize it once (round-9 single-subtree rule — four
    # consumers otherwise re-ran the explode+count)
    c2 = (
        bg.groupBy("w1", "w2")
        .agg(F.count("*").alias("c2"))
        .localCheckpoint(eager=False)
    )
    # r16 limit-below-join rewrite (guide §2.3/§2.4 — shuffle fewer bytes):
    # the emitted 30 rows are selected by (c2 DESC, w1, w2), a key computed
    # ENTIRELY by the bigram-type table, and every join downstream is 1:1
    # (ctx unique per w1, cont per w2, |B| scalar) — so the LIMIT commutes
    # below the joins.  Take the top-30 first (TakeOrderedAndProject over
    # the cached c2), then semi-filter the context/continuation aggregates
    # to the 30 rows' keys BEFORE their exchanges: the old plan shuffled
    # the full |B|-row type table through two vocabulary-grain joins; the
    # new plan's joins carry 30 rows, and the ctx/cont aggregations shuffle
    # only the surviving contexts' partial states.  Rows identical (oracle
    # unchanged, 1:1 joins preserve the selection); at 100 TB the join
    # traffic drops from O(|B|) to O(occurrences of 30 contexts).
    # EAGER (ADVICE r16 #4): `top` is 30 rows, but materializing it lazily
    # meant the corpus-sized c2 aggregation behind it ran inside the FIRST
    # consumer's BroadcastExchange build thread — putting the whole bigram
    # aggregation under spark.sql.broadcastTimeout (300 s default) at
    # scale, with three broadcast consumers on that critical path.  The
    # eager checkpoint runs the same one corpus pass as a normal job (c2's
    # lazy checkpoint materializes inside it), so the broadcasts build
    # from cached 30-row/k-row state.
    # A/B'd on the 65k corpus (r17): eager 3.25 s vs lazy 3.77 s min-warm
    # (same GC-weather band, 12 vs 11 jobs) — the extra driver job costs
    # nothing measurable and the timeout exposure is gone.
    top = (
        c2.orderBy(F.desc("c2"), "w1", "w2")
        .limit(30)
        .localCheckpoint(eager=True)
    )
    ctx = (
        c2.join(F.broadcast(top.select("w1").distinct()), "w1", "semi")
        .groupBy("w1")
        .agg(F.sum("c2").alias("c1"), F.count("*").alias("n1_fwd"))
    )
    cont = (
        c2.join(F.broadcast(top.select("w2").distinct()), "w2", "semi")
        .groupBy("w2")
        .agg(F.count("*").alias("n1_bwd"))
    )
    btypes = c2.agg(F.count("*").alias("b"))
    out = (
        top.join(F.broadcast(ctx), "w1")
        .join(F.broadcast(cont), "w2")
        .crossJoin(F.broadcast(btypes))
        .select(
            "w1",
            "w2",
            F.col("c2").cast("bigint").alias("c_bigram"),
            F.col("c1").cast("bigint").alias("c_context"),
            F.round(F.col("c2").cast("double") / F.col("c1"), 6).alias("p_mle"),
            F.round(
                (F.col("c2") - 0.75) / F.col("c1")
                + 0.75
                * F.col("n1_fwd")
                / F.col("c1")
                * (F.col("n1_bwd").cast("double") / F.col("b")),
                6,
            ).alias("p_kn"),
        )
    )
    return out.orderBy(F.desc("c_bigram"), "w1", "w2")


@query(
    "text_gopher_filters",
    oracle="""
    WITH scored AS (
        SELECT source,
               len(list_filter(string_split(lower(text), ' '), s -> s <> ''))
                   AS n_words,
               length(replace(text, ' ', '')) AS n_nonspace,
               length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))
                   AS n_symbols,
               len(list_distinct(
                     list_filter(string_split(lower(text), ' '), s -> s <> '')))
                   AS n_distinct,
               len(list_filter(string_split(lower(text), ' '),
                               s -> s IN ('the', 'a', 'of', 'and', 'is')))
                   AS n_stop
        FROM documents
    ),
    flags AS (
        SELECT source,
               CASE WHEN n_words BETWEEN 30 AND 80 THEN 1 ELSE 0 END AS r_len,
               CASE WHEN CAST(n_nonspace AS DOUBLE) / n_words
                         BETWEEN 3 AND 7 THEN 1 ELSE 0 END AS r_wordlen,
               CASE WHEN CAST(n_symbols AS DOUBLE) / n_nonspace < 0.1
                    THEN 1 ELSE 0 END AS r_symbol,
               CASE WHEN CAST(n_distinct AS DOUBLE) / n_words > 0.5
                    THEN 1 ELSE 0 END AS r_rep,
               CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS r_stop
        FROM scored
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(r_len) AS BIGINT) AS pass_len,
           CAST(SUM(r_wordlen) AS BIGINT) AS pass_wordlen,
           CAST(SUM(r_symbol) AS BIGINT) AS pass_symbol,
           CAST(SUM(r_rep) AS BIGINT) AS pass_repetition,
           CAST(SUM(r_stop) AS BIGINT) AS pass_stopword,
           CAST(SUM(r_len * r_wordlen * r_symbol * r_rep * r_stop)
                AS BIGINT) AS pass_all
    FROM flags
    GROUP BY source
    ORDER BY source
    """,
    tags=("pipeline", "text", "quality"),
)
def text_gopher_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality gate (Rae et al. 2021, §A1.1
    simplified to the fixture's single-line docs): word-count window,
    mean-word-length window, symbol-to-char ratio, repetition
    (distinct/total) floor, and a stopword-presence floor — reported as
    per-source pass counts per rule plus the all-rules conjunction, the
    shape a curation dashboard renders to show WHICH rule is dropping a
    source's mass (vs `text_quality_score`, which blends signals into
    one number).

    Scale shape: all five flags are map-side string/array arithmetic on
    one scan; the only exchange is the final source-grain aggregate.
    Every flag and count is integer-exact; the two ratio rules compare
    identical double divisions in both engines."""
    t = Tables(spark, sf_dir)
    toks = F.filter(F.split(F.lower(F.col("text")), " "), lambda s: s != "")
    n_words = F.size(toks)
    n_nonspace = F.length(F.regexp_replace(F.col("text"), " ", ""))
    n_symbols = F.length(
        F.regexp_replace(F.col("text"), "[a-zA-Z0-9 ]", "")
    )
    n_distinct = F.size(F.array_distinct(toks))
    n_stop = F.size(
        F.filter(toks, lambda s: s.isin("the", "a", "of", "and", "is"))
    )
    flags = t.documents.select(
        "source",
        F.when((n_words >= 30) & (n_words <= 80), 1).otherwise(0).alias("r_len"),
        F.when(
            (n_nonspace.cast("double") / n_words >= 3)
            & (n_nonspace.cast("double") / n_words <= 7),
            1,
        )
        .otherwise(0)
        .alias("r_wordlen"),
        F.when(n_symbols.cast("double") / n_nonspace < 0.1, 1)
        .otherwise(0)
        .alias("r_symbol"),
        F.when(n_distinct.cast("double") / n_words > 0.5, 1)
        .otherwise(0)
        .alias("r_rep"),
        F.when(n_stop >= 2, 1).otherwise(0).alias("r_stop"),
    )
    return (
        flags.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("r_len").cast("bigint").alias("pass_len"),
            F.sum("r_wordlen").cast("bigint").alias("pass_wordlen"),
            F.sum("r_symbol").cast("bigint").alias("pass_symbol"),
            F.sum("r_rep").cast("bigint").alias("pass_repetition"),
            F.sum("r_stop").cast("bigint").alias("pass_stopword"),
            F.sum(
                F.col("r_len")
                * F.col("r_wordlen")
                * F.col("r_symbol")
                * F.col("r_rep")
                * F.col("r_stop")
            )
            .cast("bigint")
            .alias("pass_all"),
        )
        .orderBy("source")
    )


_HEAPS_CUTS = (50, 100, 150, 200, 250, 300, 350, 400, 450, 500)


@query(
    "text_heaps_law_fit",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        FROM documents
    ),
    tok AS (SELECT doc_id, term FROM toks WHERE term <> ''),
    pts AS (
        SELECT
          {', '.join(
              f"COUNT(CASE WHEN doc_id < {c} THEN 1 END) AS n_{c}, "
              f"COUNT(DISTINCT CASE WHEN doc_id < {c} THEN term END) AS v_{c}"
              for c in _HEAPS_CUTS
          )}
        FROM tok
    ),
    curve AS (
        {' UNION ALL '.join(
            f"SELECT {c} AS n_docs, n_{c} AS n_tokens, v_{c} AS vocab "
            f"FROM pts" for c in _HEAPS_CUTS
        )}
    ),
    ll AS (
        SELECT n_docs, n_tokens, vocab,
               ln(CAST(n_tokens AS DOUBLE)) AS x,
               ln(CAST(vocab AS DOUBLE)) AS y
        FROM curve
    ),
    fit AS (
        SELECT COUNT(*) AS k, SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * x) AS sxx, SUM(x * y) AS sxy
        FROM ll
    )
    SELECT l.n_docs, CAST(l.n_tokens AS BIGINT) AS n_tokens,
           CAST(l.vocab AS BIGINT) AS vocab,
           ROUND((f.k * f.sxy - f.sx * f.sy)
                 / (f.k * f.sxx - f.sx * f.sx), 6) AS heaps_beta,
           ROUND(exp((f.sy - (f.k * f.sxy - f.sx * f.sy)
                            / (f.k * f.sxx - f.sx * f.sx) * f.sx) / f.k), 6)
               AS heaps_kappa
    FROM ll l CROSS JOIN fit f
    ORDER BY n_docs
    """,
    tags=("pipeline", "text", "corpus-stats", "heaps-law"),
)
def text_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit — vocabulary growth V(n) = kappa * n^beta as the
    corpus grows: ten prefix checkpoints of (tokens seen, distinct types
    seen) computed as CONDITIONAL counts + conditional multi-distincts in
    ONE aggregate over one scan (the `dq_schema_drift` device — no
    per-checkpoint re-scan, no sequential running-distinct), then a
    closed-form log-log OLS for (beta, kappa).  Pairs with
    `text_zipf_slope` (frequency law) to complete the corpus-statistics
    leg; a falling beta across loads means the corpus is saturating
    (dedup working), a jump means new-domain inflow.

    Scale shape: one corpus scan; the Expand for 10 conditional
    distincts is the standard exact-profile cost (the 100-TB swap is
    one HLL sketch per checkpoint); the fit runs on a 10-row frame.

    Exactness: token/vocab counts exact integers; ln/exp of identical
    doubles; the OLS is the shared closed-form power-sum tree
    (`feature_ols_two_var` contract)."""
    from pyspark.sql import Window

    toks = (
        Tables(spark, sf_dir).documents.select(
            "doc_id", F.explode(_tokens()).alias("term")
        ).where(F.col("term") != "")
    )
    aggs = []
    for c in _HEAPS_CUTS:
        aggs.append(
            F.count(F.when(F.col("doc_id") < c, 1)).alias(f"n_{c}")
        )
        aggs.append(
            F.countDistinct(
                F.when(F.col("doc_id") < c, F.col("term"))
            ).alias(f"v_{c}")
        )
    pts = toks.agg(*aggs)
    stack = "stack({}, {}) AS (n_docs, n_tokens, vocab)".format(
        len(_HEAPS_CUTS),
        ", ".join(f"{c}, n_{c}, v_{c}" for c in _HEAPS_CUTS),
    )
    ll = pts.select(F.expr(stack)).select(
        "n_docs",
        "n_tokens",
        "vocab",
        F.log(F.col("n_tokens").cast("double")).alias("x"),
        F.log(F.col("vocab").cast("double")).alias("y"),
    )
    w0 = Window.partitionBy()
    ll = (
        ll.withColumn("k", F.count("*").over(w0))
        .withColumn("sx", F.sum("x").over(w0))
        .withColumn("sy", F.sum("y").over(w0))
        .withColumn("sxx", F.sum(F.col("x") * F.col("x")).over(w0))
        .withColumn("sxy", F.sum(F.col("x") * F.col("y")).over(w0))
    )
    beta = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    kappa = F.exp((F.col("sy") - beta * F.col("sx")) / F.col("k"))
    return ll.select(
        F.col("n_docs").cast("int").alias("n_docs"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("vocab").cast("bigint").alias("vocab"),
        F.round(beta, 6).alias("heaps_beta"),
        F.round(kappa, 6).alias("heaps_kappa"),
    ).orderBy("n_docs")


# --- round-10 wave: RAKE-lite keyword extraction -----------------------------

_RAKE_STOPS = ("the", "a")


@query(
    "text_rake_keywords",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, i AS pos, w[i] AS term
        FROM (SELECT doc_id, string_split(lower(text), ' ') AS w
              FROM documents),
             unnest(range(1, len(w) + 1)) AS t(i)
        WHERE w[i] <> ''
    ),
    marked AS (
        SELECT doc_id, pos, term,
               CASE WHEN term IN {_RAKE_STOPS!r} THEN 1 ELSE 0 END AS is_stop
        FROM toks
    ),
    pid AS (
        SELECT doc_id, pos, term, is_stop,
               SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS UNBOUNDED PRECEDING) AS phrase_id
        FROM marked
    ),
    members AS (
        SELECT doc_id, phrase_id, pos, term FROM pid WHERE is_stop = 0
    ),
    phrases AS (
        SELECT doc_id, phrase_id,
               string_agg(term, ' ' ORDER BY pos) AS phrase,
               COUNT(*) AS len
        FROM members GROUP BY doc_id, phrase_id
        HAVING COUNT(*) BETWEEN 1 AND 3
    ),
    pm AS (
        SELECT m.term, p.len, p.phrase, m.doc_id, m.phrase_id
        FROM members m JOIN phrases p USING (doc_id, phrase_id)
    ),
    wstat AS (
        SELECT term, COUNT(*) AS freq, SUM(len) AS degree FROM pm
        GROUP BY term
    ),
    pocc AS (
        SELECT pm.doc_id, pm.phrase_id, pm.phrase, MAX(pm.len) AS n_words,
               CAST(SUM(CAST(ROUND(CAST(w.degree AS DOUBLE) / w.freq, 9)
                             AS DECIMAL(28,9))) AS DOUBLE) AS score
        FROM pm JOIN wstat w USING (term)
        GROUP BY pm.doc_id, pm.phrase_id, pm.phrase
    ),
    agg AS (
        SELECT phrase, CAST(MAX(n_words) AS BIGINT) AS n_words,
               CAST(COUNT(*) AS BIGINT) AS n_occurrences,
               MAX(score) AS score
        FROM pocc GROUP BY phrase
    )
    SELECT phrase, n_words, n_occurrences, ROUND(score, 6) AS score,
           CAST(rk AS BIGINT) AS rk
    FROM (
        SELECT *, row_number() OVER (ORDER BY score DESC, phrase) AS rk
        FROM agg
    )
    WHERE rk <= 10
    ORDER BY rk
    """,
    tags=("pipeline", "text", "keywords", "rake"),
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE-lite keyword extraction (Rose et al. 2010): split each doc
    into candidate phrases at stopword boundaries (1-3 content words),
    score each word by degree/frequency over the retained phrases (degree
    = summed length of phrases it appears in), score a phrase as the sum
    of its member word scores, and return the corpus top-10 phrases with
    occurrence counts.

    Exactness contract: word degree/freq are integers; each member-word
    double score is 9-dp-rounded into DECIMAL(28,9) so the per-phrase sum
    is order-insensitive; identical phrase texts have identical member
    multisets, hence identical scores, so the text-grain regroup is
    well-defined.

    Scale shape: phrase segmentation is a per-doc cumulative window
    (partitioned by doc, never global); word stats are one token-grain
    aggregate; the top-10 head is TakeOrderedAndProject (orderBy+limit),
    not a global row_number window."""
    t = Tables(spark, sf_dir)
    toks = (
        t.parallel("documents", "doc_id")
        .select(
            "doc_id",
            F.posexplode(F.split(F.lower("text"), " ")).alias("pos0", "term"),
        )
        .where(F.col("term") != "")
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "term")
    )
    from pyspark.sql import Window

    marked = toks.withColumn(
        "is_stop", F.col("term").isin(*_RAKE_STOPS).cast("int")
    )
    wp = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    members = (
        marked.withColumn("phrase_id", F.sum("is_stop").over(wp))
        .where(F.col("is_stop") == 0)
        .select("doc_id", "phrase_id", "pos", "term")
        .localCheckpoint(eager=False)
    )
    phrases = (
        members.groupBy("doc_id", "phrase_id")
        .agg(
            F.array_join(
                F.expr(
                    "transform(sort_array(collect_list(struct(pos, term))),"
                    " s -> s.term)"
                ),
                " ",
            ).alias("phrase"),
            F.count("*").alias("len"),
        )
        .where(F.col("len").between(1, 3))
    )
    pm = members.join(phrases, ["doc_id", "phrase_id"])
    wstat = pm.groupBy("term").agg(
        F.count("*").alias("freq"), F.sum("len").alias("degree")
    )
    pocc = (
        pm.join(wstat, "term")
        .groupBy("doc_id", "phrase_id", "phrase")
        .agg(
            F.max("len").alias("n_words"),
            F.sum(
                F.round(
                    F.col("degree").cast("double") / F.col("freq"), 9
                ).cast("decimal(28,9)")
            )
            .cast("double")
            .alias("score"),
        )
    )
    agg = pocc.groupBy("phrase").agg(
        F.max("n_words").cast("bigint").alias("n_words"),
        F.count("*").cast("bigint").alias("n_occurrences"),
        F.max("score").alias("score"),
    )
    top = agg.orderBy(F.desc("score"), "phrase").limit(10)
    wr = Window.orderBy(F.desc("score"), "phrase")
    return top.select(
        "phrase",
        "n_words",
        "n_occurrences",
        F.round("score", 6).alias("score"),
        F.row_number().over(wr).cast("bigint").alias("rk"),
    ).orderBy("rk")


@query(
    "text_perplexity_buckets",
    oracle=f"""
    WITH {_SQL_ENTROPY_STAGES.format(docs="documents")},
    tiled AS (
        SELECT source, h,
               ntile(3) OVER (PARTITION BY source ORDER BY h, doc_id) AS t
        FROM h
    )
    SELECT source,
           CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                  ELSE 'tail' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(CAST(SUM(CAST(h AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_entropy,
           MIN(h) AS min_entropy,
           MAX(h) AS max_entropy
    FROM tiled
    GROUP BY source, t
    ORDER BY source, bucket
    """,
    tags=("pipeline", "text", "quality", "perplexity", "ccnet"),
)
def text_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail bucketing: per-source NTILE(3) over the
    bigram-LM cross-entropy of `text_bigram_perplexity` (lower entropy =
    'head', the cleanest third of each source) — the standard corpus
    stratification step before sampling more heavily from the head.  The
    per-doc entropy stage is `_entropy_by_doc` / `_SQL_ENTROPY_STAGES`,
    the one implementation `text_bigram_perplexity` and
    `pipeline_quality_training_set` also consume; bucket means sum the
    6-dp entropies as exact DECIMAL, so every output cell is
    summation-order-free.

    Scale shape: the LM scoring is the perplexity plan (model-table
    shuffles + vocabulary-scale equi-joins); the NTILE runs per-source
    (partitioned window, no global sort), and the final rollup is a
    source x 3 aggregate.  At 100 TB the per-source tiles come from the
    distributed-NTILE device (`window.py` integer-DIV twin) instead of a
    single window pass; semantics are identical."""
    t = Tables(spark, sf_dir)
    h = _entropy_by_doc(t.documents.select("doc_id", "source", "text"))
    from pyspark.sql import Window

    tile = F.ntile(3).over(
        Window.partitionBy("source").orderBy("h", "doc_id")
    )
    tiled = h.select("source", "h", tile.alias("t"))
    bucket = (
        F.when(F.col("t") == 1, "head")
        .when(F.col("t") == 2, "middle")
        .otherwise("tail")
    )
    return (
        tiled.groupBy("source", "t")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.round(
                F.sum(F.col("h").cast("decimal(18,6)")).cast("double")
                / F.count("*"),
                6,
            ).alias("mean_entropy"),
            F.min("h").alias("min_entropy"),
            F.max("h").alias("max_entropy"),
        )
        .select(
            "source",
            bucket.alias("bucket"),
            "n_docs",
            "mean_entropy",
            "min_entropy",
            "max_entropy",
        )
        .orderBy("source", "bucket")
    )


@query(
    "pipeline_quality_training_set",
    oracle=f"""
    WITH kept AS (
        SELECT doc_id, source, text FROM (
            SELECT doc_id, source, text,
                   MIN(doc_id) OVER (PARTITION BY md5(text)) AS canon
            FROM documents
        ) WHERE doc_id = canon
    ),
    {_SQL_ENTROPY_STAGES.format(docs="kept")},
    tiled AS (
        SELECT doc_id, source, h,
               ntile(3) OVER (PARTITION BY source ORDER BY h, doc_id) AS t
        FROM h
    ),
    final AS (
        SELECT ti.source, ti.h,
               len(string_split(lower(k.text), ' ')) AS n_tok
        FROM tiled ti JOIN kept k ON k.doc_id = ti.doc_id
        WHERE ti.t <= 2
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           ROUND(CAST(SUM(CAST(h AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_entropy
    FROM final
    GROUP BY source
    ORDER BY source
    """,
    tags=("pipeline", "composition", "dedup", "quality", "ccnet"),
)
def pipeline_quality_training_set(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Second flagship composition (next to `pipeline_curation_end_to_end`):
    the CCNet-ordered training-set build chaining this round's operators —
    (1) exact dedup (md5 canonical-min keeps one copy per text), (2) the
    bigram-LM scored ON the deduped corpus (dedup-then-LM is the CCNet
    order: duplicated boilerplate must not distort the model), (3)
    per-source head+middle NTILE cut dropping the noisiest third, (4) the
    per-source training-set report: docs kept, token budget, mean
    entropy.  One query = the data a sampler consumes.

    Scale shape: each stage keeps its own posture — digest-window dedup
    shuffles 16-byte hashes, the LM stages are the shared perplexity
    stage over the kept relation, the NTILE partitions by source, and the
    final rollup is source-grain.  Nothing quadratic, nothing global but
    the vocab scalar."""
    t = Tables(spark, sf_dir)
    from pyspark.sql import Window

    kept = (
        t.parallel("documents", "doc_id")
        .select(
            "doc_id",
            "source",
            "text",
            F.min("doc_id")
            .over(Window.partitionBy(F.md5("text")))
            .alias("canon"),
        )
        .where(F.col("doc_id") == F.col("canon"))
        .select("doc_id", "source", "text")
        .localCheckpoint(eager=False)
    )
    h = _entropy_by_doc(kept)
    tile = F.ntile(3).over(Window.partitionBy("source").orderBy("h", "doc_id"))
    tiled = h.select("doc_id", "source", "h", tile.alias("t"))
    final = (
        tiled.where(F.col("t") <= 2)
        .join(kept.select("doc_id", "text"), "doc_id")
        .select(
            "source",
            "h",
            F.size(F.split(F.lower(F.col("text")), " ")).alias("n_tok"),
        )
    )
    return (
        final.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            F.round(
                F.sum(F.col("h").cast("decimal(18,6)")).cast("double")
                / F.count("*"),
                6,
            ).alias("mean_entropy"),
        )
        .orderBy("source")
    )
