"""Table catalog over the driver-generated parquet fixtures.

Scans take a resolved schema: ``spark.read.schema(s).parquet(path)``, where
``s`` was inferred from the files' footers once per path and is inferred again
only when a file under the path or a conf that steers parquet inference
changes (:func:`_read_parquet`).  Building a query is then planning, not
execution: a schema-less read launches a footer-inference Spark job, a read
with the schema launches none.  The reference's native ParquetScan likewise
never infers at scan time; it takes its schema from Spark's plan (converter
``AuronConverters.scala:478-533``).  Spark's vectorized parquet reader with
predicate pushdown / column pruning plays the role of that scan
(``native-engine/datafusion-ext-plans/src/parquet_exec.rs:70``): pruning
predicates, projection and partition values are all handled by Catalyst + the
file source scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}")
    # Every query goes through here, so this is the one reliable hook for
    # runtime-settable conf the engine depends on even when the session is
    # driver-provided (bypassing session.get_spark): timestamps must be UTC
    # (epoch/unix_timestamp semantics match DuckDB's naive-as-UTC reading).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # Legacy-fixture compatibility: only affects parquet TIMESTAMP(NANOS)
        # columns (read as bigint); a no-op on the current TIMESTAMP(MICROS)
        # fixtures, which Spark reads natively as timestamp.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_events_ts(df)
    return df


# Session confs whose values change the schema parquet inference returns.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
)

# path -> (signature, inferred schema).  One entry per path: a changed
# signature replaces it, so the cache never outgrows the distinct paths read.
# Concurrent readers of one path at worst both infer; each stores a whole
# entry.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def files_signature(path: str) -> tuple:
    """(relative name, size, mtime_ns) of every file under ``path`` (a file
    or a directory walked recursively), sorted: it changes whenever a
    fixture is regenerated."""
    if not os.path.isdir(path):
        st = os.stat(path)
        return ((os.path.basename(path), st.st_size, st.st_mtime_ns),)
    files = []
    for root, _dirs, names in os.walk(path):
        for n in names:
            f = os.path.join(root, n)
            st = os.stat(f)
            files.append((os.path.relpath(f, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(files))


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema once per path.

    A hit reads with the cached schema and launches no Spark job.  A miss
    returns the inferring read itself and stores its schema, so the first
    read costs what it always did.  A path that is not a local file or
    directory (a missing one, a non-``file:`` URI) bypasses the cache,
    keeping Spark's own behaviour and errors for it."""
    if not os.path.exists(path):
        return spark.read.parquet(path)
    sig = (
        files_signature(path),
        tuple(spark.conf.get(k, None) for k in _INFERENCE_CONFS),
    )
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == sig:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (sig, df.schema)
    return df


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to TIMESTAMP regardless of fixture generation.

    Fixture schema has drifted across driver regens: older fixtures wrote
    parquet TIMESTAMP(NANOS), which (with nanosAsLong) Spark reads as a raw
    bigint of epoch-nanos; current fixtures write TIMESTAMP(MICROS), read
    natively as timestamp / timestamp_ntz.  Guard each conversion on the read
    dtype so every generation works — the reference gates timestamp-typed
    scans the same way (AuronConverters.scala:506-527).

    Used by both the batch catalog (:func:`table`) and the streaming file
    source (tests/test_streaming.py), which must agree exactly for the
    stream-equals-batch contracts to hold.
    """
    from pyspark.sql import functions as F

    ts_dtype = dict(df.dtypes)["ts"]
    if ts_dtype == "bigint":
        # Integer `div` keeps full int64 precision (a double division would
        # lose low bits of the epoch-nanos).
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_dtype == "timestamp_ntz":
        # NTZ → LTZ.  Session tz is pinned to UTC (table()), so the cast is
        # value-preserving and matches DuckDB's naive-as-UTC reading;
        # downstream code (epoch casts, range frames, windows) uniformly
        # sees TIMESTAMP.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def parallel_table(
    spark: SparkSession, sf_dir: str, name: str, key: str | None = None
) -> DataFrame:
    """Scan with a minimum-parallelism guarantee for CPU-dense consumers.

    Parquet scan parallelism is bounded by row groups; a source written as few
    large row groups would otherwise pin an expensive map stage (hashing,
    vector folds) to a handful of cores.  If the scan already yields at least
    the session's parallelism (the normal case at scale, where files ≫ cores),
    this is a no-op — no exchange is added.  Otherwise repartition once:
    keyed when the consumer aggregates/joins on ``key`` (the later shuffle is
    then already satisfied), round-robin for purely map-side work.
    """
    return min_parallel(table(spark, sf_dir, name), key)


def min_parallel(df: DataFrame, key: str | None = None) -> DataFrame:
    """:func:`parallel_table` on a scan the caller already holds — reuse one
    read instead of building a second scan of the same table."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    from pyspark.sql import functions as F

    return df.repartition(target, F.col(key)) if key else df.repartition(target)


class Tables:
    """Lazy attribute access: ``t = Tables(spark, sf_dir); t.lineitem``."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self._spark = spark
        self._sf_dir = sf_dir
        self._cache: dict[str, DataFrame] = {}

    def __getattr__(self, name: str) -> DataFrame:
        if name.startswith("_"):
            raise AttributeError(name)
        if name not in self._cache:
            self._cache[name] = table(self._spark, self._sf_dir, name)
        return self._cache[name]

    def parallel(self, name: str, key: str | None = None) -> DataFrame:
        """See :func:`parallel_table` — scan with minimum parallelism for
        CPU-dense consumers (hashing, vector folds)."""
        return parallel_table(self._spark, self._sf_dir, name, key)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all fixture tables as temp views (for the SQL entry point)."""
    for name in TABLE_NAMES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
