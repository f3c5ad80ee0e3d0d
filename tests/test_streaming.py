"""Structured Streaming: the batch-registered event-time operators must
produce identical results when fed through readStream (AvailableNow trigger
over the same parquet), plus watermark/dedup behavior and a custom stateful
operator via applyInPandasWithState."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from auron_spark.streaming.ops import dedup_events, tumbling_counts
from auron_spark.tables import table
from tests.conftest import SF_SMOKE, normalize


def _stream_events(spark):
    import os
    import tempfile

    from auron_spark.tables import normalize_events_ts

    batch = table(spark, SF_SMOKE, "events")
    # the streaming file source requires a directory of files
    d = tempfile.mkdtemp(prefix="auron-stream-")
    os.symlink(f"{SF_SMOKE}/events.parquet", f"{d}/events.parquet")
    # The streaming source needs an explicit schema; take it from a raw batch
    # read of the same file so it tracks fixture regens, then apply the SAME
    # dtype-guarded ts normalization the batch catalog applies — stream and
    # batch must agree exactly for the stream-equals-batch contracts to hold.
    raw_schema = spark.read.parquet(f"{SF_SMOKE}/events.parquet").schema
    stream = normalize_events_ts(
        spark.readStream.schema(raw_schema).format("parquet").load(d)
    )
    return stream, batch


def _run_stream(df, name: str):
    q = (
        df.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_stream_tumbling_equals_batch(spark):
    # The explicit TimestampType schema makes the streaming parquet source
    # down-convert the file's ns timestamps itself — no manual conversion.
    stream, batch = _stream_events(spark)
    _run_stream(tumbling_counts(stream), "tumbling_out")
    got = normalize(spark.sql("SELECT * FROM tumbling_out").toPandas())
    want = normalize(tumbling_counts(batch).toPandas())
    assert got == want


def test_stream_dedup_with_watermark(spark):
    stream, batch = _stream_events(spark)
    deduped = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy()
        .agg(F.count("*").alias("n"))
    )
    _run_stream(deduped, "dedup_out")
    got = spark.sql("SELECT n FROM dedup_out").collect()[0]["n"]
    # fixture has unique event_ids; dedup must be a no-op count
    assert got == dedup_events(batch).count()


@pytest.mark.slow
def test_stateful_apply_in_pandas_with_state(spark):
    """Custom stateful streaming operator: running per-user event count via
    applyInPandasWithState (the rebuild's custom-operator escape hatch,
    SURVEY.md §2.10)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream_raw, batch = _stream_events(spark)

    def count_per_user(key, pdf_iter, state):
        running = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            running += len(pdf)
        state.update((running,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [running]})

    out = (
        stream_raw.groupBy("user_id")
        .applyInPandasWithState(
            count_per_user,
            outputStructType="user_id long, n_events long",
            stateStructType="n long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("stateful_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["user_id"]: r["n_events"]
        for r in spark.sql(
            "SELECT user_id, MAX(n_events) AS n_events FROM stateful_out GROUP BY user_id"
        ).collect()
    }
    want = {
        r["user_id"]: r["n"]
        for r in batch.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert got == want


@pytest.mark.slow
def test_stream_stream_interval_join_equals_batch(spark):
    """True stream-stream interval join: purchases and clicks as two
    watermarked streams; results must equal the batch formulation of the same
    function (and therefore its DuckDB oracle)."""
    from auron_spark.streaming.ops import purchase_click_attribution

    stream, batch = _stream_events(spark)
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") < F.col("p_ts")),
        "inner",  # stream-stream outer joins need watermark-bounded state; inner is the core
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = normalize(
        spark.sql(
            "SELECT p_id, p_user, COUNT(c_ts) AS n FROM ssj_out GROUP BY p_id, p_user"
        ).toPandas()
    )
    want = normalize(
        purchase_click_attribution(batch)
        .filter(F.col("n_clicks_30m") > 0)
        .withColumnRenamed("n_clicks_30m", "n")
        .toPandas()
    )
    assert got == want


def test_foreach_batch_idempotent_sink(spark):
    """foreachBatch sink with batch-id-based idempotence — the exactly-once
    pattern for sinks without transactional support: each micro-batch writes
    to a batch-id-keyed location, so replays overwrite instead of duplicate."""
    import tempfile

    stream, batch = _stream_events(spark)
    out_dir = tempfile.mkdtemp(prefix="auron-fb-sink-")
    seen: list[int] = []

    def write_batch(df, batch_id: int):
        seen.append(batch_id)
        # idempotent: path keyed by batch_id, overwrite mode
        df.groupBy("event_type").agg(F.count("*").alias("n")).write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/batch_id={batch_id}")

    q = (
        stream.writeStream.foreachBatch(write_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert seen, "foreachBatch never fired"
    got = (
        spark.read.parquet(out_dir)
        .groupBy("event_type")
        .agg(F.sum("n").alias("n"))
        .collect()
    )
    want = batch.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    assert {r["event_type"]: r["n"] for r in got} == {
        r["event_type"]: r["n"] for r in want
    }


def test_kafka_gated_and_decode_stage(spark):
    """Kafka jars absent -> clean NotImplementedError; the JSON decode stage
    itself runs against any binary `value` column (here: synthesized from the
    events fixture, exactly what a broker would deliver)."""
    import pytest as _pytest

    from auron_spark.streaming.kafka import (
        decode_json_values,
        kafka_available,
        read_kafka_json,
    )

    if not kafka_available(spark):
        with _pytest.raises(NotImplementedError, match="kafka"):
            read_kafka_json(spark, "localhost:9092", "t", "a int")
    batch = table(spark, SF_SMOKE, "events")
    raw = batch.select(
        F.col("event_id").alias("offset"),
        F.encode(
            F.to_json(F.struct("user_id", "event_type", "value")), "utf-8"
        ).alias("value"),
    )
    decoded = decode_json_values(
        raw, "user_id long, event_type string, value double"
    )
    assert decoded.columns == ["offset", "user_id", "event_type", "value"]
    got = {r["offset"]: (r["user_id"], r["event_type"]) for r in decoded.collect()}
    want = {
        r["event_id"]: (r["user_id"], r["event_type"])
        for r in batch.select("event_id", "user_id", "event_type").collect()
    }
    assert got == want


def test_protobuf_decode_gated(spark):
    """PROTOBUF is the reference Kafka source's second codec — the decode
    stage exists with the same shape as JSON decode and gates cleanly when
    the spark-protobuf module is absent."""
    from auron_spark.streaming.kafka import (
        decode_protobuf_values,
        protobuf_available,
    )

    batch = table(spark, SF_SMOKE, "events")
    raw = batch.select("event_id", F.encode(F.to_json(F.struct("user_id")), "utf-8").alias("value"))
    if not protobuf_available():
        with pytest.raises(NotImplementedError, match="protobuf"):
            decode_protobuf_values(raw, "Event", "/nonexistent.desc")
    else:
        # jar present (not this container): the call should at least construct
        # a plan or raise a descriptor-file error, not an ImportError
        try:
            decode_protobuf_values(raw, "Event", "/nonexistent.desc")
        except Exception as e:
            assert "ImportError" not in type(e).__name__


@pytest.mark.slow
def test_chained_stateful_aggregations(spark):
    """Two chained stateful ops in one streaming query (Spark 3.4+): hourly
    windowed counts re-aggregated into daily maxima.  Append mode only emits
    watermark-finalized windows, so the stream result must be a non-empty
    subset of the batch equivalent with identical values."""
    stream, batch = _stream_events(spark)
    hourly_s = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    daily_s = (
        hourly_s.groupBy(F.window(F.col("window"), "1 day"), "event_type")
        .agg(F.max("n").alias("max_hourly"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd").alias("day"),
            "event_type",
            "max_hourly",
        )
    )
    q = (
        daily_s.writeStream.outputMode("append")
        .format("memory")
        .queryName("chain_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["day"], r["event_type"]): r["max_hourly"]
        for r in spark.sql("SELECT * FROM chain_out").collect()
    }
    hourly_b = batch.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count("*").alias("n")
    )
    want = {
        (r["day"], r["event_type"]): r["max_hourly"]
        for r in hourly_b.groupBy(
            F.window(F.col("window"), "1 day"), "event_type"
        )
        .agg(F.max("n").alias("max_hourly"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd").alias("day"),
            "event_type",
            "max_hourly",
        )
        .collect()
    }
    assert got, "append mode emitted nothing — watermark never advanced"
    assert set(got).issubset(set(want))
    assert all(want[k] == v for k, v in got.items())


def test_kafka_startup_option_mapping():
    """Startup-mode → reader-option mapping (auron.proto:780-802), pure and
    broker-free: every reference mode maps to the right Spark option, bad
    modes and a TIMESTAMP without a timestamp are rejected."""
    import pytest

    from auron_spark.streaming.kafka import startup_options

    assert startup_options("t", "EARLIEST") == {"startingOffsets": "earliest"}
    assert startup_options("t", "LATEST") == {"startingOffsets": "latest"}
    # Spark persists offsets in the checkpoint, not the consumer group
    assert startup_options("t", "GROUP_OFFSET") == {"startingOffsets": "earliest"}
    assert startup_options("events", "TIMESTAMP", 1700000000000) == {
        "startingOffsetsByTimestamp": '{"events": {"-1": 1700000000000}}'
    }
    with pytest.raises(ValueError, match="unknown startup mode"):
        startup_options("t", "FROM_THE_FUTURE")
    with pytest.raises(ValueError, match="requires timestamp_ms"):
        startup_options("t", "TIMESTAMP")


def test_stream_static_enrich_equals_batch(spark):
    from auron_spark.streaming.ops import enrich_with_segment
    from auron_spark.tables import table

    stream, batch = _stream_events(spark)
    cust = table(spark, SF_SMOKE, "customer")
    _run_stream(enrich_with_segment(stream, cust), "enrich_out")
    got = normalize(spark.sql("SELECT * FROM enrich_out").toPandas())
    want = normalize(enrich_with_segment(batch, cust).toPandas())
    assert got == want


def test_python_stream_source_equals_batch(spark):
    """The custom Python DataSource's STREAMING path must deliver exactly the
    batch table: micro-batches advance the {pos} offset through the bounded
    corpus (16-doc batches -> 3 batches for 40 docs), and the union of all
    batches equals the one-shot batch read.  This is the offset/replay
    contract of the reference's Kafka scan, live-tested without a broker."""
    import time

    from auron_spark.sources import pyds

    pyds.register(spark)

    last_exc: list = []

    def run_stream(attempt: int) -> list:
        name = f"pyds_stream_out_{attempt}"
        q = (
            spark.readStream.format("synthdocs")
            .option("n_docs", "40")
            .option("batch_size", "16")
            .load()
            .writeStream.format("memory")
            .queryName(name)
            .trigger(processingTime="1 second")
            .start()
        )
        try:
            for _ in range(60):
                if spark.sql(f"SELECT COUNT(*) n FROM {name}").collect()[0].n >= 40:
                    break
                time.sleep(1)
        finally:
            last_exc[:] = [q.exception()]
            q.stop()
        return sorted(
            tuple(r) for r in spark.sql(f"SELECT * FROM {name}").collect()
        )

    # Retry ONCE on the empty-sink infra signature: under heavy box load
    # (when sharded, N JVMs share the box) the Python streaming-source
    # worker can fail its connect-back handshake, killing the query before
    # the first micro-batch — the sink is then EMPTY, which is
    # distinguishable from every data bug this test exists to catch
    # (wrong/partial/duplicated rows still fail the equality below).
    streamed = run_stream(0)
    if not streamed:
        # Make the absorbed first failure visible in CI history (ADVICE
        # r12 #3): a RECURRING empty-sink signature would point at a real
        # emptiness bug rather than the handshake flake this retry exists
        # for, and silence would halve its detection probability.
        import warnings

        warnings.warn(
            "synthdocs stream sink empty on first attempt; retrying once "
            "(empty-first-micro-batch signature — see retry rationale "
            f"above); query exception: {last_exc[0] if last_exc else None}",
            stacklevel=1,
        )
        streamed = run_stream(1)
    batch = sorted(
        tuple(r)
        for r in spark.read.format("synthdocs").option("n_docs", "40").load().collect()
    )
    assert streamed == batch and len(streamed) == 40


def test_stream_stream_interval_join_left_outer(spark):
    """LEFT OUTER stream-stream interval join: zero-click purchases must ALSO
    emit (with NULL click time) — the outer rows materialize only when the
    watermark passes a purchase's state-retention bound, so the stream
    appends a far-future sentinel file as a second micro-batch
    (maxFilesPerTrigger=1) to advance the watermark past every real event;
    without it the tail of unmatched purchases would stay in state forever.
    Results must equal the batch LEFT formulation (the registered
    stream_interval_join oracle shape)."""
    import os
    import tempfile

    from auron_spark.streaming.ops import purchase_click_attribution

    batch = table(spark, SF_SMOKE, "events")
    d = tempfile.mkdtemp(prefix="auron-stream-outer-")
    os.symlink(f"{SF_SMOKE}/events.parquet", f"{d}/00-events.parquet")
    # sentinel micro-batch: one purchase + one click 10h past the real data
    far = batch.select(F.max("ts").alias("m")).collect()[0].m
    import datetime

    far_ts = far + datetime.timedelta(hours=10)
    # Sentinel must carry the SAME physical ts type as the real fixture file
    # (the streaming source reads both under one schema); take the raw batch
    # schema and synthesize the sentinel in it, dtype-guarded like the catalog.
    from auron_spark.tables import normalize_events_ts

    raw = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    raw_schema = raw.schema
    if dict(raw.dtypes)["ts"] == "bigint":
        ts_val = int(
            far_ts.replace(tzinfo=datetime.timezone.utc).timestamp() * 1e9
        )
    else:
        ts_val = far_ts
    sent = spark.createDataFrame(
        [
            (-1, ts_val, -1, "purchase", 0.0, "{}"),
            (-2, ts_val, -1, "click", 0.0, "{}"),
        ],
        raw_schema,
    )
    sent.coalesce(1).write.mode("overwrite").parquet(f"{d}/zz-sentinel")
    stream = normalize_events_ts(
        spark.readStream.schema(raw_schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(f"{d}/*")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") < F.col("p_ts")),
        "leftOuter",
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj_outer_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = normalize(
        spark.sql(
            """SELECT p_id, p_user, COUNT(c_ts) AS n FROM ssj_outer_out
               WHERE p_user >= 0 GROUP BY p_id, p_user"""
        ).toPandas()
    )
    want = normalize(
        purchase_click_attribution(batch)
        .withColumnRenamed("n_clicks_30m", "n")
        .toPandas()
    )
    assert got == want


def test_transform_with_state_gated(spark):
    """transformWithStateInPandas (Spark 4 stateful API) is environment-
    gated on the google.protobuf python package; the gate must raise the
    actionable message, and the moment protobuf appears the helper runs the
    real operator (covered today by the applyInPandasWithState twin)."""
    from auron_spark.streaming.ops import (
        running_count_transform_with_state,
        transform_with_state_available,
    )

    stream, _ = _stream_events(spark)
    grouped = stream.groupBy("user_id")
    if transform_with_state_available():
        df = running_count_transform_with_state(grouped)
        assert df.schema.simpleString() == "struct<user_id:bigint,n:bigint>"
    else:
        with pytest.raises(NotImplementedError, match="google.protobuf"):
            running_count_transform_with_state(grouped)


def test_stream_upsert_sink_merges_microbatches(spark):
    """Streaming CDC-into-parquet: foreachBatch + the partition-scoped MERGE
    (sources/io.py::upsert_parquet_partitioned).  Each micro-batch upserts
    keyed rows into a parquet table partitioned by event_type, rewriting
    only affected partitions — the standard pattern for maintaining a
    queryable mirror of a stream without a lakehouse format.  With
    maxFilesPerTrigger forcing multiple micro-batches over the same keys,
    the final table must equal the batch last-event-per-key projection."""
    import tempfile

    from pyspark.sql import Window

    from auron_spark.sources import io
    from auron_spark.tables import normalize_events_ts

    batch = table(spark, SF_SMOKE, "events").filter(F.col("event_id") < 500)
    d = tempfile.mkdtemp(prefix="auron-upsert-src-")
    # two source files -> two micro-batches with maxFilesPerTrigger=1
    batch.filter(F.col("event_id") < 250).write.parquet(f"{d}/f1")
    batch.filter(F.col("event_id") >= 250).write.parquet(f"{d}/f2")
    raw_schema = spark.read.parquet(f"{d}/f1").schema

    target = tempfile.mkdtemp(prefix="auron-upsert-tgt-") + "/t"
    # seed the table so the first micro-batch exercises a real merge:
    # stale values for some keys that the stream will overwrite
    batch.filter(F.col("event_id") < 100).withColumn(
        "value", F.lit(-1.0)
    ).select("event_id", "event_type", "value").write.partitionBy(
        "event_type"
    ).parquet(target)

    def upsert_batch(df, batch_id: int):
        rows = df.select("event_id", "event_type", "value")
        if rows.isEmpty():
            return
        io.upsert_parquet_partitioned(
            spark, rows, target, ["event_id"], "event_type"
        )

    stream = normalize_events_ts(
        spark.readStream.schema(raw_schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(f"{d}/f*")
    ).filter(F.col("event_id") < 500)
    q = (
        stream.writeStream.foreachBatch(upsert_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = normalize(
        spark.read.parquet(target)
        .select("event_id", "event_type", "value")
        .toPandas()
    )
    want = normalize(
        batch.select("event_id", "event_type", "value").toPandas()
    )
    assert got == want


def _derive_events_10x(spark):
    """The 10x derived corpus (VERDICT r13 stretch #8): replicas 0-8 get
    disjoint event_ids, replica 9 DUPLICATES replica 0's ids, every
    replica keeps the SAME event-time calendar — so streaming state is
    10x the fixture's with a planted 10% duplicate signal."""
    base = table(spark, SF_SMOKE, "events")
    n_base = base.count()
    offset = base.agg(F.max("event_id")).collect()[0][0] + 1
    derived = (
        base.select(
            "event_id", "ts", "user_id", "event_type", "value",
            F.explode(F.sequence(F.lit(0), F.lit(9))).alias("rep"),
        )
        .withColumn(
            "event_id",
            F.when(F.col("rep") == 9, F.col("event_id")).otherwise(
                F.col("event_id") + F.col("rep") * F.lit(offset)
            ),
        )
        .drop("rep")
    )
    return derived, n_base


@pytest.fixture(scope="module")
def events10x_corpus(spark):
    """The 10x derived corpus written ONCE per module as 8 parquet files
    (the largest artifact in this suite — r15 review #3: the two scale
    tests previously each materialized their own copy), removed at
    teardown (mkdtemp + rmtree, not tmp_path: must never accumulate
    across runs, ADVICE r14 #4).  Yields (corpus_path, n_base)."""
    import os
    import shutil
    import tempfile

    derived, n_base = _derive_events_10x(spark)
    d = tempfile.mkdtemp(prefix="auron-stream10x-")
    derived.repartition(8).write.parquet(f"{d}/events10x")
    files = [
        f for f in os.listdir(f"{d}/events10x") if f.endswith(".parquet")
    ]
    assert len(files) == 8
    yield f"{d}/events10x", n_base
    shutil.rmtree(d, ignore_errors=True)


def _stream_corpus(spark, path, schema):
    from auron_spark.tables import normalize_events_ts

    return normalize_events_ts(
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "2")
        .load(path)
    )


@pytest.mark.slow
def test_stream_scale_10x_watermark_state(spark, events10x_corpus):
    """Streaming joins the 10x derived-corpus scale-proof program
    (VERDICT r13 stretch #8): the events fixture replicates 10x with
    deterministic id shifts — replicas 0-8 get disjoint event_ids,
    replica 9 DUPLICATES replica 0's ids (a planted 10% duplicate
    signal) — while every replica keeps the SAME event-time calendar,
    so the windowed state is 10x the fixture's.  The corpus streams as
    8 files with maxFilesPerTrigger=2 (4 micro-batches: watermark and
    aggregation state must carry across batch boundaries), and BOTH the
    tumbling windowed aggregate and dropDuplicatesWithinWatermark must
    match their batch twins on the identical derived frame."""
    from auron_spark.streaming.ops import tumbling_counts

    path, n_base = events10x_corpus
    batch = spark.read.parquet(path)
    assert batch.count() == 10 * n_base

    _run_stream(
        tumbling_counts(
            _stream_corpus(spark, path, batch.schema)
            .withWatermark("ts", "1 hour")
        ),
        "tumbling10x_out",
    )
    got = normalize(spark.sql("SELECT * FROM tumbling10x_out").toPandas())
    want = normalize(tumbling_counts(batch).toPandas())
    assert got == want

    # The dedup watermark must cover the fixture's whole 30-day
    # calendar: the 4 micro-batches arrive in file order, not
    # event-time order, so a short delay would legitimately DROP later
    # batches' older rows as late data (observed: 4758 survivors at
    # "1 hour") — the state-scale claim needs every row retained, only
    # true duplicates removed.
    deduped = (
        _stream_corpus(spark, path, batch.schema)
        .withWatermark("ts", "1000 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy()
        .agg(F.count("*").alias("n"))
    )
    _run_stream(deduped, "dedup10x_out")
    got_n = spark.sql("SELECT n FROM dedup10x_out").collect()[0]["n"]
    # replicas 0-8 carry disjoint ids; replica 9's rows are exact id
    # duplicates
    assert got_n == 9 * n_base
    assert got_n == batch.select("event_id").distinct().count()


@pytest.mark.slow
def test_stream_scale_10x_interval_join(spark, events10x_corpus):
    """Stream-stream interval join at 10x (VERDICT r14 stretch #9): both
    sides of the purchase<-clicks-in-30-minutes join stream from the 10x
    derived corpus in 4 micro-batches, so join state builds on BOTH
    sides across batch boundaries at 10x the fixture scale.  The result
    must equal the batch inner-join twin on the identical derived frame.
    Watermarks are calendar-covering ('1000 hours', the same device the
    10x dedup leg uses): the micro-batches arrive in file order, not
    event-time order, so a short delay would legitimately evict state
    and drop cross-batch matches — the state-scale claim needs every
    pair found."""
    path, _ = events10x_corpus
    batch = spark.read.parquet(path)

    def side(event_type, cols):
        return (
            _stream_corpus(spark, path, batch.schema)
            .filter(F.col("event_type") == event_type)
            .select(*cols)
        )

    purchases = side(
        "purchase",
        [
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        ],
    ).withWatermark("p_ts", "1000 hours")
    clicks = side(
        "click",
        [F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")],
    ).withWatermark("c_ts", "1000 hours")
    cond = (
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") < F.col("p_ts"))
    )
    q = (
        purchases.join(clicks, cond, "inner")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj10x_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = normalize(
        spark.sql(
            "SELECT p_id, p_user, COUNT(*) AS n FROM ssj10x_out "
            "GROUP BY p_id, p_user"
        ).toPandas()
    )
    bp = batch.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    bc = batch.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    want = normalize(
        bp.join(bc, cond, "inner")
        .groupBy("p_id", "p_user")
        .agg(F.count("*").alias("n"))
        .toPandas()
    )
    assert got == want
    assert len(spark.sql("SELECT 1 FROM ssj10x_out").collect()) > 0
