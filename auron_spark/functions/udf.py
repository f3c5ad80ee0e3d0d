"""UDF / UDAF surface (SURVEY.md §2.11).

The reference ships arbitrary Spark expressions to a JVM callback over Arrow
FFI (`SparkAuronUDFWrapperContext.scala:64`, `spark_udf_wrapper.rs`); the
PySpark-native analogue is the Arrow-vectorized pandas UDF — same
batch-columnar transport, Python instead of JVM.  Row-at-a-time Python UDFs
exist but are the slow path; everything here is pandas/Arrow.

Each UDF query has a pure-SQL oracle computing the same formula, proving the
Python boundary does not change semantics.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from auron_spark.functions.pytask import python_task
from auron_spark.registry import query
from auron_spark.tables import Tables


def _price_score_udf():
    # pandas_udf parses its DDL type against the active session -> build lazily.
    @pandas_udf("double")
    def _price_score(price: pd.Series, discount: pd.Series) -> pd.Series:
        # Exact integer arithmetic on cent values -> deterministic double.
        cents = (price * 100).round().astype("int64")
        disc_pct = (discount * 100).round().astype("int64")
        return (cents * (100 - disc_pct)).astype("float64") / 10000.0

    return _price_score


@query(
    "udf_pandas_scalar",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE) / 10000.0
             AS score
    FROM lineitem
    WHERE l_orderkey < 1000
    ORDER BY l_orderkey, l_linenumber
    """,
    tags=("udf", "pandas"),
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas UDF (Arrow batches) computing discounted price in exact
    cent arithmetic — matches the SQL oracle bit-for-bit."""
    t = Tables(spark, sf_dir)
    return (
        t.lineitem.filter(F.col("l_orderkey") < 1000)
        .select(
            "l_orderkey",
            "l_linenumber",
            _price_score_udf()("l_extendedprice", "l_discount").alias("score"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


def _weighted_avg_price_udf():
    @pandas_udf("double")
    def _weighted_avg_price(price: pd.Series, qty: pd.Series) -> float:
        cents = (price * 100).round().astype("int64")
        q = qty.round().astype("int64")
        denom = int(q.sum())
        if denom == 0:
            return float("nan")
        return float(int((cents * q).sum()) / denom / 100.0)

    return _weighted_avg_price


@query(
    "udf_pandas_grouped_agg",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * CAST(round(l_quantity) AS BIGINT)) AS DOUBLE)
             / SUM(CAST(round(l_quantity) AS BIGINT)) / 100.0 AS wavg_price
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("udf", "udaf", "pandas"),
)
def udf_pandas_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG pandas UDF — the rebuild's UDAF path (reference:
    `SparkUDAFWrapperContext.scala:114-147`).  Integer-exact weighted average;
    note the caveat from SURVEY.md §7: no partial-merge for Python UDAFs, so
    heavy aggregations should prefer built-ins (this one groups 3 keys)."""
    t = Tables(spark, sf_dir)
    return (
        t.lineitem.groupBy("l_returnflag")
        .agg(_weighted_avg_price_udf()("l_extendedprice", "l_quantity").alias("wavg_price"))
        .orderBy("l_returnflag")
    )


@query(
    "udf_python_row",
    oracle="""
    SELECT p_partkey,
           CASE WHEN len(string_split(p_name, ' ')) >= 2
                THEN upper(split_part(p_name, ' ', 2)) ELSE '?' END AS noun
    FROM part
    WHERE p_size > 40
    ORDER BY p_partkey
    """,
    tags=("udf", "python"),
)
def udf_python_row(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF — exists for parity with the reference's
    generic UDF fallback; the docstring warning *is* the feature: use
    pandas_udf in hot paths."""

    @F.udf("string")
    def noun_of(name):
        parts = (name or "").split(" ")
        return parts[1].upper() if len(parts) >= 2 else "?"

    t = Tables(spark, sf_dir)
    return (
        t.part.filter(F.col("p_size") > 40)
        .select("p_partkey", noun_of("p_name").alias("noun"))
        .orderBy("p_partkey")
    )


@query(
    "udf_map_in_pandas",
    oracle="""
    SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
    tags=("udf", "mapInPandas"),
)
def udf_map_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas custom operator: per-partition Arrow batch iterator doing a
    partial (map-side) reduction, finalized by a tiny built-in agg — the shape
    of every custom scan/operator at 100 TB (partials shrink data before the
    shuffle, mirroring the reference's PARTIAL/FINAL AggMode split)."""

    def partial_counts(batches):
        for pdf in batches:
            yield pdf.groupby("source", as_index=False).agg(
                n_docs=("doc_id", "count"), total_chars=("n_chars", "sum")
            )

    t = Tables(spark, sf_dir)
    partial = t.documents.select("doc_id", "source", "n_chars").mapInPandas(
        python_task(partial_counts),
        "source string, n_docs long, total_chars long",
    )
    return (
        partial.groupBy("source")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("total_chars").alias("total_chars"),
        )
        .orderBy("source")
    )


@query(
    "udf_apply_in_pandas_grouped_map",
    oracle="""
    SELECT l_returnflag, l_orderkey, l_linenumber,
           CASE WHEN mx = mn THEN 0.5
                ELSE ROUND(CAST(cents - mn AS DOUBLE) / (mx - mn), 9) END AS norm_price
    FROM (
        SELECT l_returnflag, l_orderkey, l_linenumber,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
               MIN(CAST(round(l_extendedprice * 100) AS BIGINT))
                 OVER (PARTITION BY l_returnflag) AS mn,
               MAX(CAST(round(l_extendedprice * 100) AS BIGINT))
                 OVER (PARTITION BY l_returnflag) AS mx
        FROM lineitem
        WHERE l_orderkey < 800
    )
    ORDER BY l_returnflag, l_orderkey, l_linenumber
    """,
    tags=("udf", "applyInPandas", "grouped-map"),
)
def udf_apply_in_pandas_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas grouped-map: per-group min-max normalization — the
    whole-group pandas transform the reference cannot express natively (its
    UDAF wrapper is aggregate-only).  Exact integer cents keep the oracle
    bit-identical; groups are bounded (3 return flags) so a group fits a task
    even at 100 TB only if keys stay low-cardinality — the docstring caveat
    that applies to every grouped-map op."""

    def minmax_norm(pdf: pd.DataFrame) -> pd.DataFrame:
        cents = (pdf["l_extendedprice"] * 100).round().astype("int64")
        mn, mx = int(cents.min()), int(cents.max())
        if mx == mn:
            norm = pd.Series(0.5, index=pdf.index)
        else:
            norm = ((cents - mn).astype("float64") / float(mx - mn)).round(9)
        return pd.DataFrame(
            {
                "l_returnflag": pdf["l_returnflag"],
                "l_orderkey": pdf["l_orderkey"],
                "l_linenumber": pdf["l_linenumber"],
                "norm_price": norm,
            }
        )

    t = Tables(spark, sf_dir)
    return (
        t.lineitem.filter(F.col("l_orderkey") < 800)
        .select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice")
        .groupBy("l_returnflag")
        .applyInPandas(
            minmax_norm,
            "l_returnflag string, l_orderkey long, l_linenumber int, norm_price double",
        )
        .orderBy("l_returnflag", "l_orderkey", "l_linenumber")
    )


@query(
    "collect_limit_unordered",
    oracle=None,  # LIMIT without ORDER BY is non-deterministic by definition
    tags=("limit", "collect"),
)
def collect_limit_unordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CollectLimit (`plan/NativeCollectLimitBase.scala:81-84`): limit with no
    ordering — row *content* is partition-order-dependent, so the check is
    rows-only (count + schema); determinism of count is the contract."""
    t = Tables(spark, sf_dir)
    return t.orders.select("o_orderkey", "o_orderstatus").limit(37)


@query(
    "udf_arrow_python",
    oracle="""
    SELECT p_partkey,
           CASE WHEN len(string_split(p_name, ' ')) >= 2
                THEN upper(split_part(p_name, ' ', 2)) ELSE '?' END AS noun
    FROM part
    WHERE p_size > 40
    ORDER BY p_partkey
    """,
    tags=("udf", "python", "arrow"),
)
def udf_arrow_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized Python UDF (`useArrow=True`, Spark 3.5+): same function
    body as udf_python_row but Arrow-batch serialized — the architecture of
    the reference's Arrow-FFI UDF wrapper (`SparkAuronUDFWrapperContext.scala:64`)
    with Python in place of the JVM callback.  ~2-5× over pickled row UDFs;
    still below built-ins — see fn_string_basic for the codegen spelling."""

    @F.udf("string", useArrow=True)
    def noun_of_arrow(name: str) -> str:
        parts = (name or "").split(" ")
        return parts[1].upper() if len(parts) >= 2 else "?"

    t = Tables(spark, sf_dir)
    return (
        t.part.filter(F.col("p_size") > 40)
        .select("p_partkey", noun_of_arrow("p_name").alias("noun"))
        .orderBy("p_partkey")
    )


@query(
    "udf_map_in_arrow",
    oracle="""
    SELECT p_partkey, octet_length(encode(p_name)) AS name_bytes
    FROM part
    ORDER BY p_partkey
    """,
    tags=("udf", "arrow", "mapInArrow"),
)
def udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`mapInArrow` — the lowest-level Python boundary: raw Arrow
    RecordBatches in and out, zero pandas conversion.  This is literally the
    reference's FFI architecture (`ArrowFFIExporter.scala` /
    `ffi_reader_exec.rs:46`) surfaced as an operator: batch in, compute
    against Arrow buffers, batch out."""
    import pyarrow as pa

    def batch_bytes(batches):
        for batch in batches:
            names = batch.column("p_name")
            out = pa.RecordBatch.from_arrays(
                [
                    batch.column("p_partkey"),
                    pa.compute.binary_length(
                        pa.compute.cast(names, pa.binary())
                    ).cast(pa.int32()),
                ],
                names=["p_partkey", "name_bytes"],
            )
            yield out

    t = Tables(spark, sf_dir)
    return (
        t.part.select("p_partkey", "p_name")
        .mapInArrow(python_task(batch_bytes), "p_partkey long, name_bytes int")
        .orderBy("p_partkey")
    )
