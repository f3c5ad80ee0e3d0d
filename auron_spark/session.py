"""Engine session bootstrap.

The reference engine (apache/auron) is an acceleration layer whose public API
surface *is* Spark's API plus a config surface
(``spark-extension/src/main/java/org/apache/auron/spark/configuration/SparkAuronConfiguration.java``)
and a session extension that force-enables AQE
(``spark-extension/src/main/scala/org/apache/spark/sql/auron/AuronSparkSessionExtension.scala:35-36``).

Our PySpark-native equivalent is this module: one place that builds a
``SparkSession`` tuned for columnar scans, adaptive execution, runtime filter
pruning and skew handling — the same physical-layer levers the reference pulls
natively (SURVEY.md §4), expressed as Spark configuration.

Scale posture (100 TB / 1000 executors): every knob here is sized relative to
the data, not hard-coded to the laptop case. AQE re-plans shuffle partition
counts at runtime, so ``spark.sql.shuffle.partitions`` is only an upper bound;
skew-join splitting and partition coalescing are on; broadcast threshold stays
moderate so dimension tables broadcast but fact tables never do.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Configuration applied to every engine session.  Mirrors the *intent* of the
#: reference's `spark.auron.*` keys where stock Spark has the same lever.
ENGINE_CONF: dict[str, str] = {
    # Deterministic oracle comparison + sane lakehouse default.
    "spark.sql.session.timeZone": "UTC",
    # The reference force-enables AQE (AuronSparkSessionExtension.scala:35-36).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Runtime bloom-filter join pruning — the reference implements this
    # natively (agg/bloom_filter.rs, bloom_filter_might_contain.rs); Spark 3.3+
    # has it built in.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    # Columnar scan + pushdown (reference: parquet_exec.rs pruning predicates).
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.parquet.recordLevelFilter.enabled": "false",
    "spark.sql.files.maxPartitionBytes": "128m",
    # Arrow interchange for every Python boundary (pandas UDFs, toPandas) —
    # the reference's Arrow-FFI role (ArrowFFIExporter.scala) is played by
    # Spark's own Arrow serialization in PySpark.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Join strategy: dimensions broadcast, facts shuffle.  64 MB is sized so a
    # TPC-H `nation`/`region`/`part`-class dim at SF100k still broadcasts.
    "spark.sql.autoBroadcastJoinThreshold": "64MB",
    # Top-k rank pruning before full window sort (reference window group
    # limit, window_exec.rs:54-71; Spark 3.5 WindowGroupLimitExec).
    "spark.sql.window.group.limit.threshold": "1000",
    # Parquet TIMESTAMP(NANOS) columns (Spark has no ns timestamp type):
    # read as raw long, converted to µs timestamps in the table catalog
    # (tables.py) — mirrors DuckDB's ns→µs truncation semantics.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Shuffle hygiene at scale.
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
    "spark.shuffle.compress": "true",
    "spark.shuffle.spill.compress": "true",
    "spark.sql.execution.sortBeforeRepartition": "true",
}


def default_parallelism() -> int:
    """``SPARK_GRAFT_CPUS`` when set, else this machine's core count."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def get_spark(
    app_name: str = "auron-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    On a real cluster, ``master`` comes from the environment / spark-submit; the
    ``local[N]`` fallback is only for tests and bench runs.
    """
    cpus = default_parallelism()
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = builder.master(master)
    conf = dict(ENGINE_CONF)
    # Upper bound for shuffle partitions; AQE coalesces below it at runtime.
    conf.setdefault("spark.sql.shuffle.partitions", str(cpus))
    conf.setdefault("spark.default.parallelism", str(cpus))
    conf.setdefault("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return spark


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable conf to an externally-provided
    session (the driver hands us one in ``__spark_entry__.entry``)."""
    for k, v in ENGINE_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Static conf on a running session — keep going; these are tuning
            # hints, not correctness requirements.
            pass
    return spark
