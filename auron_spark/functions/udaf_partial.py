"""Reusable partial-merge UDAF: custom Python aggregation with map-side
partials and a built-in (JVM) merge.

The reference wraps Spark UDAFs so its native engine can drive the full
PARTIAL / PARTIAL_MERGE / FINAL lifecycle across its shuffle
(`auron.proto:729-750` AggMode, `SparkUDAFWrapperContext.scala:114-147`,
`agg/spark_udaf_wrapper.rs`).  PySpark's own pandas GROUPED_AGG UDAF cannot
partial-merge — Spark plans it as a single ObjectHashAggregate that ships
RAW ROWS through the shuffle (SURVEY §7 risk).  This helper restores the
two-level contract Spark-natively:

- PARTIAL       → ``mapInPandas``: each Arrow batch reduces to per-key
  partial-state rows in Python (arbitrary user logic — the part builtins
  can't express);
- PARTIAL_MERGE → built-in algebraic aggregates (sum/min/max/count/...)
  merge states across partitions — JVM-side, codegen'd, and the ONLY thing
  that crosses the exchange;
- FINAL         → built-in column expressions evaluate the result from the
  merged state.

At 100 TB the difference is the shuffle payload: grouped-agg UDAFs move the
input, this moves one state row per (partition × key).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from auron_spark.functions.pytask import python_task
from auron_spark.registry import query
from auron_spark.tables import Tables

#: Built-in merge functions that are algebraic (state ⊕ state = state), the
#: property PARTIAL_MERGE requires.  Names map to pyspark.sql.functions.
ALGEBRAIC_MERGES = {"sum", "min", "max", "count", "bit_or", "bit_and"}


def two_level_agg(
    df: DataFrame,
    keys: Sequence[str],
    partial_fn: Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]],
    state_schema: str,
    merges: dict[str, str],
    finals: Sequence[Column],
) -> DataFrame:
    """Run a custom aggregation as PARTIAL (Python) → PARTIAL_MERGE (JVM
    builtin) → FINAL (JVM expressions).

    ``partial_fn`` is a mapInPandas iterator: for each input batch it yields a
    frame with ``keys`` plus the state columns of ``state_schema``.  It MUST
    be a true partial reduction — one output row per key per batch — and each
    state column must merge correctly under its declared ``merges`` function
    (e.g. a count state merges with ``sum``).  ``merges`` maps state column →
    builtin name from ALGEBRAIC_MERGES; merged states keep the same column
    names.  ``finals`` are expressions over keys + merged states.
    """
    bad = set(merges.values()) - ALGEBRAIC_MERGES
    if bad:
        raise ValueError(
            f"non-algebraic merge function(s) {sorted(bad)}: PARTIAL_MERGE "
            f"requires state ⊕ state = state (use one of "
            f"{sorted(ALGEBRAIC_MERGES)})"
        )
    state = df.mapInPandas(python_task(partial_fn), state_schema)
    merged = state.groupBy(*keys).agg(
        *[getattr(F, fn)(col).alias(col) for col, fn in merges.items()]
    )
    return merged.select(*keys, *finals)


@query(
    "udaf_partial_merge_stats",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS mean_chars,
           (CAST(SUM(n_chars * n_chars) AS DOUBLE)
              - CAST(SUM(n_chars) AS DOUBLE) * CAST(SUM(n_chars) AS DOUBLE)
                / COUNT(*))
             / COUNT(*) AS var_chars
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
    tags=("udaf", "partial-merge", "mapInPandas"),
)
def udaf_partial_merge_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean/variance/max of document length per source through the two-level
    helper: the Python partial computes exact int64 moment sums per batch, the
    JVM merges them with algebraic builtins, and the final expressions derive
    the moments — the exact shape of the reference's UDAF lifecycle, with only
    (sum, sumsq, count, max) states crossing the shuffle.

    Both engines derive variance from the same exact integer sums with the
    same double-division order, so the comparison is hash-exact (no reliance
    on the engines' own VARIANCE implementations agreeing)."""

    def partial_moments(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            x = pdf["n_chars"].astype("int64")
            g = pd.DataFrame(
                {"source": pdf["source"], "s1": x, "s2": x * x, "mx": x}
            ).groupby("source", as_index=False)
            yield g.agg(
                n=("s1", "size"), s1=("s1", "sum"), s2=("s2", "sum"), mx=("mx", "max")
            )

    t = Tables(spark, sf_dir)
    n, s1, s2 = F.col("n"), F.col("s1").cast("double"), F.col("s2").cast("double")
    return two_level_agg(
        t.documents.select("source", "n_chars"),
        keys=["source"],
        partial_fn=partial_moments,
        state_schema="source string, n long, s1 long, s2 long, mx long",
        merges={"n": "sum", "s1": "sum", "s2": "sum", "mx": "max"},
        finals=[
            n.alias("n"),
            F.col("mx").alias("max_chars"),
            (s1 / n).alias("mean_chars"),
            ((s2 - s1 * s1 / n) / n).alias("var_chars"),
        ],
    ).orderBy("source")
