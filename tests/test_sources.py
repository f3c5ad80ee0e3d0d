"""Source/sink round trips: parquet (plain + partitioned), ORC, CSV, JSON —
the reference's scan/sink surface (§2.1) expressed through Spark readers and
writers, verified by exact round-trip equality."""

from __future__ import annotations

import os
import tempfile

import pyspark.sql.functions as F
import pytest

from auron_spark.sources import io
from auron_spark.tables import table
from tests.conftest import SF_DIR, SF_SMOKE, normalize, spark_jobs


@pytest.fixture()
def tmpdir():
    with tempfile.TemporaryDirectory(prefix="auron-io-") as d:
        yield d


def _roundtrip_equal(df_out, df_back):
    assert normalize(df_back.toPandas()) == normalize(df_out.toPandas())


def test_parquet_roundtrip(spark, tmpdir):
    src = table(spark, SF_SMOKE, "supplier")
    io.write_parquet(src, f"{tmpdir}/supplier")
    _roundtrip_equal(src, io.read_parquet(spark, f"{tmpdir}/supplier"))


def test_parquet_partitioned_write(spark, tmpdir):
    """Dynamic-partition write (reference `num_dyn_parts`,
    `parquet_sink_exec.rs:55`): partition dirs exist, data survives, and the
    partition column prunes — the scan with a partition filter reads only
    that directory."""
    src = table(spark, SF_SMOKE, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    io.write_partitioned(src, f"{tmpdir}/orders", ["o_year"])
    back = io.read_parquet(spark, f"{tmpdir}/orders")
    assert back.count() == src.count()
    one_year = back.filter(F.col("o_year") == 1996)
    plan = one_year._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(o_year" in plan
    assert one_year.count() == src.filter(F.col("o_year") == 1996).count()


def test_orc_roundtrip(spark, tmpdir):
    src = table(spark, SF_SMOKE, "nation")
    io.write_orc(src, f"{tmpdir}/nation")
    _roundtrip_equal(src, io.read_orc(spark, f"{tmpdir}/nation"))


def test_csv_roundtrip(spark, tmpdir):
    src = table(spark, SF_SMOKE, "region")
    src.write.mode("overwrite").option("header", "true").csv(f"{tmpdir}/region")
    back = io.read_csv(spark, f"{tmpdir}/region", schema="r_regionkey int, r_name string")
    _roundtrip_equal(src, back)


def test_json_roundtrip(spark, tmpdir):
    src = table(spark, SF_SMOKE, "part")
    src.write.mode("overwrite").json(f"{tmpdir}/part")
    back = io.read_json(
        spark,
        f"{tmpdir}/part",
        schema="p_partkey long, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double",
    ).select(*src.columns)
    _roundtrip_equal(src, back)


@pytest.mark.parametrize("fmt", ["iceberg", "delta", "hudi", "paimon"])
def test_lakehouse_gated(spark, fmt):
    """Environment-blocked (verified 2026-08: no network, pip install
    forbidden, delta-spark absent from site-packages, no connector jar in
    pyspark/jars): every lakehouse format must fail with the pinned
    actionable gate message, never an opaque classpath error.  The moment a
    connector jar IS present, lakehouse_available flips true and
    read_lakehouse becomes a real scan with no code change."""
    assert not io.lakehouse_available(spark, fmt)
    with pytest.raises(NotImplementedError, match=f"{fmt}.*spark.jars.packages"):
        io.read_lakehouse(spark, fmt, "/tmp/nope")
    with pytest.raises(NotImplementedError):
        io.write_lakehouse(
            table(spark, SF_SMOKE, "region"), fmt, "/tmp/nope"
        )


def test_empty_relation_shortcut(spark):
    """Empty input short-circuit (reference EmptyPartitionsExec,
    `empty_partitions_exec.rs:36`): an always-false filter still yields a
    correct empty result with the full schema."""
    src = table(spark, SF_SMOKE, "customer").filter(F.lit(False))
    assert src.count() == 0
    assert src.columns == ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]


def test_local_table_scan(spark):
    """LocalTableScan (`AuronConverters.scala:1123-1128`): createDataFrame
    rows join against parquet tables."""
    dims = spark.createDataFrame(
        [(0, "x"), (1, "y")], "r_regionkey int, tag string"
    )
    joined = (
        table(spark, SF_SMOKE, "region")
        .join(F.broadcast(dims), "r_regionkey")
        .select("r_name", "tag")
    )
    assert joined.count() == 2


def test_parquet_schema_evolution_merge(spark, tmpdir):
    """Schema evolution: v1 files lack a column later files carry —
    mergeSchema unifies, old rows read NULL.  The reference gates ORC/Parquet
    schema evolution behind positional/case-sensitive flags
    (`AuronConverters.scala:517-527`); Spark's mergeSchema is the engine-native
    equivalent."""
    import pyspark.sql.functions as F

    base = f"{tmpdir}/evolve"
    v1 = spark.range(5).select(F.col("id"), (F.col("id") * 2).alias("a"))
    v2 = spark.range(5, 10).select(
        F.col("id"), (F.col("id") * 2).alias("a"), F.lit("new").alias("b")
    )
    v1.write.parquet(f"{base}/p=1")
    v2.write.parquet(f"{base}/p=2")
    merged = spark.read.option("mergeSchema", "true").parquet(base)
    assert set(merged.columns) == {"id", "a", "b", "p"}
    rows = {r["id"]: (r["a"], r["b"]) for r in merged.collect()}
    assert rows[0] == (0, None)      # old file: evolved column is NULL
    assert rows[9] == (18, "new")    # new file carries it
    assert len(rows) == 10


def test_python_datasource_partition_parallel(spark):
    """The custom Python DataSource must plan one task per InputPartition —
    a single-partition read would serialize the whole generate/ingest on one
    executor core."""
    from auron_spark.sources import pyds

    pyds.register(spark)
    df = spark.read.format("synthdocs").option("partitions", "4").load()
    assert df.rdd.getNumPartitions() == 4
    assert df.count() == pyds.N_DOCS
    # partition pruning of work: a 2-partition read plans 2 tasks
    df2 = spark.read.format("synthdocs").option("partitions", "2").load()
    assert df2.rdd.getNumPartitions() == 2


def test_small_file_compaction(spark, tmpdir):
    """Write-path hygiene: a fragmented table (32 tiny files) compacts to a
    bounded file count with coalesce + maxRecordsPerFile, preserving rows.
    At 100 TB unmanaged small files destroy scan throughput (per-file open
    cost, starved row groups) — compaction is the periodic fix."""
    from auron_spark.tables import table

    src = table(spark, SF_DIR, "orders")
    frag = f"{tmpdir}/fragmented"
    src.repartition(32).write.mode("overwrite").parquet(frag)
    n_frag = len([f for f in os.listdir(frag) if f.endswith(".parquet")])
    assert n_frag >= 16

    compacted = f"{tmpdir}/compacted"
    (
        spark.read.parquet(frag)
        .coalesce(2)  # no shuffle: merges partitions in place
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 10000)  # upper-bounds file size too
        .parquet(compacted)
    )
    n_comp = len([f for f in os.listdir(compacted) if f.endswith(".parquet")])
    assert n_comp < n_frag / 4, (n_frag, n_comp)
    assert spark.read.parquet(compacted).count() == src.count()


def _write(path: str, columns: dict) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(columns), path)


def test_table_schema_resolved_once(spark, tmpdir):
    """table() infers a path's schema once: the first read launches the
    footer-inference job, a second read of the same files launches none."""
    _write(f"{tmpdir}/region.parquet", {"r_regionkey": [0, 1], "r_name": ["A", "B"]})
    with spark_jobs(spark) as cold:
        table(spark, tmpdir, "region")
    with spark_jobs(spark) as warm:
        df = table(spark, tmpdir, "region")
    assert cold, "the first read should run the footer-inference job"
    assert not warm, f"a second read of an unchanged table launched {warm}"
    assert sorted(df.collect()) == [(0, "A"), (1, "B")]


def test_table_rewrite_is_reinferred(spark, tmpdir):
    """A rewritten file changes the path's signature, so the next read
    infers again and sees the new column."""
    path = f"{tmpdir}/region.parquet"
    _write(path, {"r_regionkey": [0]})
    assert table(spark, tmpdir, "region").columns == ["r_regionkey"]
    _write(path, {"r_regionkey": [0], "r_comment": ["new"]})
    df = table(spark, tmpdir, "region")
    assert df.columns == ["r_regionkey", "r_comment"]
    assert df.collect() == [(0, "new")]


def test_table_inference_conf_change_is_reinferred(spark, tmpdir):
    """The signature carries the confs that steer inference: flipping
    binaryAsString re-infers a BINARY column as string."""
    _write(f"{tmpdir}/region.parquet", {"r_name": [b"A"]})
    assert dict(table(spark, tmpdir, "region").dtypes)["r_name"] == "binary"
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try:
        df = table(spark, tmpdir, "region")
    finally:
        spark.conf.unset("spark.sql.parquet.binaryAsString")
    assert dict(df.dtypes)["r_name"] == "string"


def test_table_events_nanos_cached_read_matches_inference(spark, tmpdir):
    """A TIMESTAMP(NANOS) events file (the legacy fixture generation) read
    with its cached schema normalizes ``ts`` to timestamp and returns what
    an uncached inferring read returns under the same conf."""
    import pyarrow as pa

    from auron_spark.tables import normalize_events_ts

    ns = [1_700_000_000_123_456_789, 1_600_000_000_000_000_001]
    path = f"{tmpdir}/events.parquet"
    _write(path, {"ts": pa.array(ns, pa.timestamp("ns")), "v": [1, 2]})
    table(spark, tmpdir, "events")  # infers and caches the schema
    with spark_jobs(spark) as jobs:
        cached = table(spark, tmpdir, "events")
    assert not jobs, jobs
    assert dict(cached.dtypes)["ts"] == "timestamp"
    uncached = normalize_events_ts(spark.read.parquet(path))
    assert cached.schema == uncached.schema
    assert sorted(cached.collect()) == sorted(uncached.collect())


def test_table_missing_path_raises_spark_error(spark, tmpdir):
    """A path that does not exist bypasses the cache: Spark's own
    path-not-found error reaches the caller."""
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        table(spark, f"{tmpdir}/missing", "region")


class _RecordingReader:
    """Stands in for spark.read / spark.readStream: records format + options
    and serves a caller-supplied DataFrame from .load() — lets the gated
    connector wiring execute end-to-end without the connector jar."""

    def __init__(self, result_df):
        self.result_df = result_df
        self.fmt = None
        self.opts: dict = {}
        self.loaded_path = None

    def format(self, fmt):
        self.fmt = fmt
        return self

    def option(self, k, v):
        self.opts[k] = v
        return self

    def load(self, path=None):
        self.loaded_path = path
        return self.result_df


def test_read_lakehouse_flip_path_dry_run(spark, monkeypatch):
    """VERDICT r4 stretch: execute read_lakehouse PAST its capability gate by
    faking jar presence — proves the live path (format selection, load call,
    returned DataFrame) is correct wiring, not just a gate message."""
    import types

    from auron_spark.sources import io

    want = table(spark, SF_SMOKE, "region")
    rec = _RecordingReader(want)
    fake_spark = types.SimpleNamespace(read=rec)
    monkeypatch.setattr(io, "lakehouse_available", lambda s, f: True)
    got = io.read_lakehouse(fake_spark, "iceberg", "db.tbl")
    assert rec.fmt == "iceberg"
    assert rec.loaded_path == "db.tbl"
    assert got.count() == want.count()


def test_read_kafka_json_flip_path_dry_run(spark, monkeypatch):
    """Same dry run for the Kafka source: fake broker availability, serve a
    synthetic kafka-shaped frame (binary key/value + metadata columns) from
    the recorded reader, and check (a) every startup mode lands in the right
    reader option and (b) the JSON decode stage parses the frame end-to-end
    with ONE from_json (parse-once contract)."""
    import json
    import types

    from auron_spark.streaming import kafka as kmod

    payloads = [{"a": 1, "b": "x"}, {"a": 2, "b": "y"}]
    raw = spark.createDataFrame(
        [
            (None, json.dumps(p).encode(), "t", 0, i, None)
            for i, p in enumerate(payloads)
        ],
        "key binary, value binary, topic string, partition int, "
        "offset long, timestamp timestamp",
    )
    monkeypatch.setattr(kmod, "kafka_available", lambda s: True)

    for mode, ts_ms, opt_key, opt_val in [
        ("EARLIEST", None, "startingOffsets", "earliest"),
        ("LATEST", None, "startingOffsets", "latest"),
        ("GROUP_OFFSET", None, "startingOffsets", "earliest"),
        (
            "TIMESTAMP",
            1700000000000,
            "startingOffsetsByTimestamp",
            '{"t": {"-1": 1700000000000}}',
        ),
    ]:
        rec = _RecordingReader(raw)
        fake_spark = types.SimpleNamespace(readStream=rec)
        out = kmod.read_kafka_json(
            fake_spark, "broker:9092", "t", "a long, b string",
            startup_mode=mode, timestamp_ms=ts_ms,
        )
        assert rec.fmt == "kafka"
        assert rec.opts["kafka.bootstrap.servers"] == "broker:9092"
        assert rec.opts["subscribe"] == "t"
        assert rec.opts[opt_key] == opt_val, (mode, rec.opts)
        # decode stage ran for real on the served frame
        rows = {(r.a, r.b) for r in out.select("a", "b").collect()}
        assert rows == {(1, "x"), (2, "y")}
        assert "value" not in out.columns  # raw binary replaced by typed cols


def test_upsert_parquet(spark, tmpdir):
    """MERGE semantics on plain parquet: updates replace, inserts append,
    untouched rows survive; staging-swap leaves no stage/old dirs behind."""
    base = f"{tmpdir}/dim"
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k int, v string"
    ).write.parquet(base)
    batch = spark.createDataFrame([(2, "B2"), (4, "d")], "k int, v string")
    io.upsert_parquet(spark, batch, base, ["k"])
    got = {(r.k, r.v) for r in spark.read.parquet(base).collect()}
    assert got == {(1, "a"), (2, "B2"), (3, "c"), (4, "d")}
    assert not os.path.exists(base + "__stage") and not os.path.exists(
        base + "__old"
    )


def test_upsert_parquet_partitioned_touches_only_affected(spark, tmpdir):
    """Partition-scoped MERGE: only the partitions present in the new batch
    are rewritten — the files of untouched partitions are bit-identical
    (same names, same mtimes), which is the O(affected partitions) upsert
    contract that makes this viable at fact scale."""
    base = f"{tmpdir}/facts"
    spark.createDataFrame(
        [(1, "p1", 10.0), (2, "p1", 20.0), (3, "p2", 30.0), (4, "p3", 40.0)],
        "k int, part string, v double",
    ).write.partitionBy("part").parquet(base)

    def files_in(part):
        d = f"{base}/part={part}"
        return {
            f: os.path.getmtime(f"{d}/{f}")
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    before_p2, before_p3 = files_in("p2"), files_in("p3")
    batch = spark.createDataFrame(
        [(2, "p1", 99.0), (5, "p1", 50.0)], "k int, part string, v double"
    )
    io.upsert_parquet_partitioned(spark, batch, base, ["k"], "part")
    got = {(r.k, r.part, r.v) for r in spark.read.parquet(base).collect()}
    assert got == {
        (1, "p1", 10.0),
        (2, "p1", 99.0),
        (5, "p1", 50.0),
        (3, "p2", 30.0),
        (4, "p3", 40.0),
    }
    assert files_in("p2") == before_p2
    assert files_in("p3") == before_p3


def test_upsert_rejects_duplicate_source_keys(spark, tmpdir):
    """A CDC micro-batch with two changes for one key must raise, not
    silently duplicate the key (real MERGE errors on ambiguous source
    matches); same contract in both upsert variants."""
    base = f"{tmpdir}/dim"
    spark.createDataFrame([(1, "a")], "k int, v string").write.parquet(base)
    dup = spark.createDataFrame(
        [(2, "first"), (2, "second")], "k int, v string"
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        io.upsert_parquet(spark, dup, base, ["k"])
    # table untouched on rejection
    assert [(r.k, r.v) for r in spark.read.parquet(base).collect()] == [(1, "a")]

    pbase = f"{tmpdir}/facts"
    spark.createDataFrame(
        [(1, "p1", 1.0)], "k int, part string, v double"
    ).write.partitionBy("part").parquet(pbase)
    pdup = spark.createDataFrame(
        [(2, "p1", 2.0), (2, "p1", 3.0)], "k int, part string, v double"
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        io.upsert_parquet_partitioned(spark, pdup, pbase, ["k"], "part")


def test_upsert_rejects_null_keys_and_null_partitions(spark, tmpdir):
    """NULL merge keys never match (un-updatable forever) and NULL partition
    values defeat the isin partition prune (existing null-partition rows
    would be dropped by the dynamic overwrite) — both raise upfront."""
    base = f"{tmpdir}/dim"
    spark.createDataFrame([(1, "a")], "k int, v string").write.parquet(base)
    nullkey = spark.createDataFrame([(None, "x")], "k int, v string")
    with pytest.raises(ValueError, match="NULL"):
        io.upsert_parquet(spark, nullkey, base, ["k"])

    pbase = f"{tmpdir}/facts"
    spark.createDataFrame(
        [(1, "p1", 1.0)], "k int, part string, v double"
    ).write.partitionBy("part").parquet(pbase)
    nullpart = spark.createDataFrame(
        [(2, None, 2.0)], "k int, part string, v double"
    )
    with pytest.raises(ValueError, match="NULL 'part'"):
        io.upsert_parquet_partitioned(spark, nullpart, pbase, ["k"], "part")


def test_upsert_fails_fast_on_unfinished_swap(spark, tmpdir):
    """Leftover __stage/__old dirs mean a previous swap died mid-flight;
    the next invocation must refuse (os.rename onto a non-empty dir would
    fail halfway through anyway) and point at the recovery procedure."""
    base = f"{tmpdir}/dim"
    spark.createDataFrame([(1, "a")], "k int, v string").write.parquet(base)
    batch = spark.createDataFrame([(2, "b")], "k int, v string")
    os.makedirs(base + "__stage")
    with pytest.raises(RuntimeError, match="unfinished upsert swap"):
        io.upsert_parquet(spark, batch, base, ["k"])
    os.rmdir(base + "__stage")
    os.makedirs(base + "__old")
    with pytest.raises(RuntimeError, match="unfinished upsert swap"):
        io.upsert_parquet(spark, batch, base, ["k"])
    os.rmdir(base + "__old")
    # clean state: the same call now succeeds
    io.upsert_parquet(spark, batch, base, ["k"])
    got = {(r.k, r.v) for r in spark.read.parquet(base).collect()}
    assert got == {(1, "a"), (2, "b")}


def test_bucketed_join_is_shuffle_free(spark, tmpdir):
    """SCALE.md's recurring claim — 'shuffle-free when bucketed' — proven:
    two tables written with write_bucketed on the same key and bucket
    count join with NO exchange on either side (bucketed scans already
    satisfy the join's hashpartitioning requirement), and bucket-local
    sort means no Sort above the scans either.  The same layout serves
    groupBy on the key without an exchange."""
    docs = table(spark, SF_DIR, "documents").select("doc_id", "source", "n_chars")
    meta = table(spark, SF_DIR, "documents").select("doc_id", "lang")
    try:
        io.write_bucketed(docs, "b_docs", f"{tmpdir}/b_docs", 4, ["doc_id"])
        io.write_bucketed(meta, "b_meta", f"{tmpdir}/b_meta", 4, ["doc_id"])
        # hint("merge"): at fixture scale Spark would broadcast the tiny
        # side (and disable bucketed reads entirely); at fact scale SMJ is
        # what the planner picks on its own — the hint makes the test
        # exercise the at-scale path
        joined = (
            spark.table("b_docs")
            .hint("merge")
            .join(spark.table("b_meta"), "doc_id")
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "Bucketed: true" in plan, plan
        assert joined.count() == docs.count()
        # same layout serves a key-grouped aggregate with no exchange
        agg = spark.table("b_docs").groupBy("doc_id").count()
        aplan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in aplan, aplan
    finally:
        spark.sql("DROP TABLE IF EXISTS b_docs")
        spark.sql("DROP TABLE IF EXISTS b_meta")


def test_avro_gated(spark):
    """Avro is an external Spark module (spark-avro) absent from this
    container; the gate must raise the pinned actionable message on both
    read and write, and flips to a real scan when the jar appears."""
    import pytest

    from auron_spark.sources.io import avro_available, read_avro, write_avro

    assert not avro_available(spark)
    with pytest.raises(NotImplementedError, match="spark-avro"):
        read_avro(spark, "/tmp/never-read")
    with pytest.raises(NotImplementedError, match="spark-avro"):
        write_avro(spark.range(1), "/tmp/never-written")


def test_merge_schema_rejects_type_widening(spark, tmpdir):
    """Pinned negative: parquet `mergeSchema` hard-rejects an int/bigint
    conflict across generations (CANNOT_MERGE_SCHEMAS) — the reason
    `scan_schema_evolution_widening` reads through an EXPLICIT target
    schema instead.  If a Spark upgrade starts merging widened types,
    this fires and the read contract can simplify."""
    import pyspark.sql.functions as F
    import pytest

    base = f"{tmpdir}/widen"
    spark.range(5).select(
        F.col("id").cast("int").alias("k")
    ).write.parquet(f"{base}/gen1")
    spark.range(5, 10).select(
        F.col("id").cast("bigint").alias("k")
    ).write.parquet(f"{base}/gen2")
    with pytest.raises(Exception) as ei:
        spark.read.option("mergeSchema", "true").option(
            "recursiveFileLookup", "true"
        ).parquet(base)
    assert "CANNOT_MERGE_SCHEMAS" in str(ei.value), ei.value
    # the explicit-schema read of the SAME files succeeds and widens
    got = sorted(
        r.k
        for r in spark.read.schema("k BIGINT")
        .option("recursiveFileLookup", "true")
        .parquet(base)
        .collect()
    )
    assert got == list(range(10))


def test_explicit_schema_rejects_int_to_string(spark, tmpdir):
    """Pinned negative: the vectorized reader's widening stops at numeric
    promotions — an INT32 parquet column read through a STRING target
    fails per file (PARQUET_COLUMN_DATA_TYPE_MISMATCH), it does not
    silently stringify."""
    import pyspark.sql.functions as F
    import pytest

    base = f"{tmpdir}/nostring"
    spark.range(5).select(
        F.col("id").cast("int").alias("k")
    ).write.parquet(base)
    with pytest.raises(Exception) as ei:
        spark.read.schema("k STRING").parquet(base).collect()
    assert "PARQUET_COLUMN_DATA_TYPE_MISMATCH" in str(ei.value) or (
        "Data type mismatches" in str(ei.value)
    ), str(ei.value)[:500]


def test_embeddings_vec_id_unique_fixture_invariant(spark):
    """Fixture invariant the PCA family's n-divisor rests on (ADVICE r14
    #3): `_pca_covariance` counts embeddings ROWS (metadata-cheap) where
    the oracle counts DISTINCT vec_id — equivalent only while vec_id is
    unique.  Pin the invariant so a future fixture regen with duplicate
    rows fails HERE instead of silently skewing every covariance cell."""
    emb = table(spark, SF_DIR, "embeddings")
    total = emb.count()
    distinct = emb.select("vec_id").distinct().count()
    assert total == distinct, (total, distinct)
