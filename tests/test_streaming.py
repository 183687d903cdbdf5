"""Streaming-semantics tests — the behaviors the reference implements by
hand become assertions here (SURVEY.md §5.3):

- resume-from-checkpoint with no loss/duplication (the reference's
  syncShardState + AfterSequenceNumber path, src/Kinesis/Coordination.hs:343-359
  + src/Kinesis/Kinesis.hs:62-65 — but exactly-once, not at-least-once);
- the Processor callback surface (src/Kinesis/Coordination.hs:51-53) via
  foreachBatch with epoch-commit acks;
- watermark/late-data handling (absent in the reference — at-tip only);
- ClusterState-parity monitoring (src/Kinesis/Types.hs:133-142).
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from kinesis_app_spark.sources.batch import load_table
from kinesis_app_spark.streaming import ClusterStateListener, StreamRunner, file_stream
from kinesis_app_spark.streaming.runner import Processor

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_schema(spark):
    return load_table(spark, SF_DIR, "events").schema


@pytest.fixture()
def events_dir(spark, tmp_path):
    """Half the events as an initial file-stream directory (one file)."""
    d = str(tmp_path / "stream_in")
    ev = load_table(spark, SF_DIR, "events")
    ev.filter(F.col("event_id") < 500).coalesce(1).write.parquet(d)
    return d


def _drain(query):
    query.awaitTermination(120)
    assert not query.isActive


def test_stream_counts_match_batch(spark, tmp_path, events_dir, events_schema):
    stream = file_stream(spark, events_dir, events_schema)
    counts = stream.groupBy("event_type").count()
    runner = StreamRunner(str(tmp_path / "ckpt"))
    q = runner.run(counts, sink_format="memory", query_name="t_counts",
                   output_mode="complete", available_now=True)
    _drain(q)
    got = {
        r["event_type"]: r["count"]
        for r in spark.sql("select * from t_counts").collect()
    }
    ev = load_table(spark, SF_DIR, "events").filter(F.col("event_id") < 500)
    want = {r["event_type"]: r["count"] for r in ev.groupBy("event_type").count().collect()}
    assert got == want


def test_checkpoint_resume_exactly_once(spark, tmp_path, events_dir, events_schema):
    """Kill/restart mid-stream: adding data and rerunning with the same
    checkpoint must process each record exactly once (SURVEY.md §7.2
    acceptance)."""
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt2")
    runner = StreamRunner(ckpt)

    q = runner.run(
        file_stream(spark, events_dir, events_schema).select("event_id"),
        sink_format="parquet", query_name="t_resume", path=out, available_now=True,
    )
    _drain(q)
    n1 = spark.read.parquet(out).count()
    assert n1 == 500

    # "restart": new data arrives, same checkpoint
    ev = load_table(spark, SF_DIR, "events")
    ev.filter(F.col("event_id") >= 500).coalesce(1).write.mode("append").parquet(events_dir)
    q = runner.run(
        file_stream(spark, events_dir, events_schema).select("event_id"),
        sink_format="parquet", query_name="t_resume", path=out, available_now=True,
    )
    _drain(q)
    result = spark.read.parquet(out)
    assert result.count() == 1000                      # no loss
    assert result.select("event_id").distinct().count() == 1000  # no dupes


def test_processor_foreach_batch(spark, tmp_path, events_dir, events_schema):
    """The Processor surface: every record delivered to user code exactly
    once; the epoch commit is the ack."""
    seen: list[tuple[int, int]] = []

    def processor(batch_df, batch_id):
        seen.append((batch_id, batch_df.count()))

    runner = StreamRunner(str(tmp_path / "ckpt3"))
    q = runner.run_processor(
        file_stream(spark, events_dir, events_schema),
        processor, available_now=True,
    )
    _drain(q)
    assert sum(n for _, n in seen) == 500


def test_watermark_drops_late_rows(spark, tmp_path, events_schema):
    """Late-data semantics the reference lacks entirely (at-tip consumption
    only): a row older than watermark arriving in a later batch is
    dropped from the aggregation."""
    src = str(tmp_path / "late_in")
    out = str(tmp_path / "late_out")
    ckpt = str(tmp_path / "ckpt4")
    ev = load_table(spark, SF_DIR, "events")

    # batch 1: the "on-time" majority (events after Jan 10)
    on_time = ev.filter(F.col("ts") >= F.lit("2024-01-10").cast("timestamp"))
    on_time.coalesce(1).write.parquet(src)

    def run_once():
        stream = file_stream(spark, src, events_schema).withWatermark("ts", "1 hour")
        agg = (
            stream.groupBy(F.window("ts", "1 day").alias("w"))
            .count()
            .select(F.col("w.start").alias("wstart"), F.col("count"))
        )
        runner = StreamRunner(ckpt)
        q = runner.run(agg, sink_format="parquet", query_name="t_late",
                       path=out, output_mode="append", available_now=True)
        _drain(q)

    run_once()
    # batch 2 (restart with same checkpoint -> watermark persisted at
    # max(ts)-1h): one very late row from Jan 1
    late = ev.filter(F.col("ts") < F.lit("2024-01-02").cast("timestamp")).limit(1)
    assert late.count() == 1
    late.coalesce(1).write.mode("append").parquet(src)
    run_once()

    emitted = spark.read.parquet(out).collect()
    total_emitted = sum(r["count"] for r in emitted)
    # all emitted counts come from closed on-time windows; the late Jan-1
    # row must not appear in any emitted window
    jan1_windows = [r for r in emitted if str(r["wstart"]).startswith("2024-01-01")]
    assert jan1_windows == []
    assert total_emitted <= on_time.count()


def test_session_window_streaming_subset_of_batch(spark, tmp_path, events_dir, events_schema):
    """Streamed session_window results (append mode, finalized sessions
    only) must be a subset of the batch session_window computation."""
    stream = file_stream(spark, events_dir, events_schema).withWatermark("ts", "10 minutes")
    agg = (
        stream.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    runner = StreamRunner(str(tmp_path / "ckpt5"))
    q = runner.run(agg, sink_format="memory", query_name="t_sess",
                   output_mode="append", available_now=True)
    _drain(q)
    streamed = {
        (r["user_id"], r["w"].start, r["w"].end, r["n"])
        for r in spark.sql("select * from t_sess").collect()
    }
    ev = load_table(spark, SF_DIR, "events").filter(F.col("event_id") < 500)
    batch = {
        (r["user_id"], r["w"].start, r["w"].end, r["n"])
        for r in ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert streamed <= batch


def test_rate_limited_multi_batch_drain(spark, tmp_path, events_schema):
    """maxFilesPerTrigger (the configRecordBatch analogue,
    src/Kinesis/Types.hs:79-80): four input files with a 1-file trigger
    limit must drain in four separate epochs, records intact."""
    src = str(tmp_path / "rl_in")
    ev = load_table(spark, SF_DIR, "events").filter(F.col("event_id") < 400)
    for lo in range(0, 400, 100):
        ev.filter((F.col("event_id") >= lo) & (F.col("event_id") < lo + 100)) \
            .coalesce(1).write.mode("append").parquet(src)

    batches: list[tuple[int, int]] = []

    def processor(batch_df, batch_id):
        batches.append((batch_id, batch_df.count()))

    runner = StreamRunner(str(tmp_path / "rl_ckpt"))
    q = runner.run_processor(
        file_stream(spark, src, events_schema, max_files_per_trigger=1),
        processor, available_now=True,
    )
    _drain(q)
    assert sum(n for _, n in batches) == 400
    assert len(batches) >= 4  # one epoch per file


def test_dedup_within_watermark_across_batches(spark, tmp_path, events_schema):
    """dropDuplicatesWithinWatermark: a duplicate arriving in a later
    micro-batch within the watermark horizon is dropped; dedup state stays
    bounded by the horizon (the 100 TB-sane variant). The horizon here
    exceeds the fixture's time span so no record is dropped as late."""
    from kinesis_app_spark.streaming.ops import streaming_dedup

    src = str(tmp_path / "ddw_in")
    ev = load_table(spark, SF_DIR, "events").filter(F.col("event_id") < 200)
    ev.coalesce(1).write.parquet(src)
    time.sleep(1.1)
    # second file: the same 200 events again (redelivery), in-horizon
    ev.coalesce(1).write.mode("append").parquet(src)

    stream = file_stream(spark, src, events_schema, max_files_per_trigger=1)
    deduped = streaming_dedup(stream, ["event_id"], watermark=("ts", "3650 days"))
    out = str(tmp_path / "ddw_out")
    q = StreamRunner(str(tmp_path / "ddw_ckpt")).run(
        deduped.select("event_id"), sink_format="parquet", path=out,
        available_now=True,
    )
    _drain(q)
    got = spark.read.parquet(out)
    assert got.count() == 200          # each event exactly once
    assert got.distinct().count() == 200


def test_stateful_counter_resumes_from_state_store(spark, tmp_path, events_schema):
    """applyInPandasWithState state survives a restart: after new data
    arrives and the query reruns on the same checkpoint, the running
    counters continue from the stored values (the reference's _workerItems
    MVar, src/Kinesis/Coordination.hs:331-336, made durable)."""
    from kinesis_app_spark.streaming.ops import running_count_per_key

    src = str(tmp_path / "st_in")
    ckpt = str(tmp_path / "st_ckpt")
    ev = load_table(spark, SF_DIR, "events").filter(F.col("user_id") < 10)
    first = ev.filter(F.col("event_id") < 500)
    second = ev.filter(F.col("event_id") >= 500)
    first.coalesce(1).write.parquet(src)

    def run_once():
        out: dict[int, int] = {}

        def collect(batch_df, _bid):
            for r in batch_df.collect():
                out[r["key"]] = max(r["n"], out.get(r["key"], 0))

        counts = running_count_per_key(
            file_stream(spark, src, ev.schema), "user_id"
        )
        q = (
            counts.writeStream.outputMode("update")
            .foreachBatch(collect)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)
        return out

    run_once()
    second.coalesce(1).write.mode("append").parquet(src)
    final = run_once()
    want = {
        r["user_id"]: r["count"]
        for r in ev.groupBy("user_id").count().collect()
    }
    assert final == want  # totals continue across the restart, no reset


def test_cluster_state_listener(spark, tmp_path, events_dir, events_schema):
    """LiveStats "records" counter parity (src/Kinesis/Coordination.hs:92-94):
    the listener's total_records equals the rows ingested."""
    listener = ClusterStateListener()
    spark.streams.addListener(listener)
    try:
        runner = StreamRunner(str(tmp_path / "ckpt6"))
        q = runner.run(
            file_stream(spark, events_dir, events_schema).select("event_id"),
            sink_format="memory", query_name="t_mon", available_now=True,
        )
        _drain(q)
        qid = str(q.id)
        for _ in range(60):  # listener events are async
            snap = listener.snapshot(qid)
            if snap and snap.total_records >= 500 and not snap.is_active:
                break
            time.sleep(0.5)
        snap = listener.snapshot(qid)
        assert snap is not None
        assert snap.total_records == 500
        assert snap.batch_id >= 0
    finally:
        spark.streams.removeListener(listener)


def test_record_processor_delivers_each_record_once_with_resume(spark, tmp_path):
    """Per-record Processor parity (src/Kinesis/Coordination.hs:51-53 —
    record-at-a-time delivery): each record reaches the callback exactly
    once across a checkpointed restart (no failures injected; with retries
    the contract is at-least-once, see run_record_processor docstring)."""
    import os

    from kinesis_app_spark.sources.fake_kinesis import register as reg_fk

    reg_fk(spark)
    rec_dir = tmp_path / "records"
    rec_dir.mkdir()
    rd = str(rec_dir)
    ckpt = str(tmp_path / "ckpt_rec")

    def process(row):
        # append one byte per delivery: a re-delivered record would leave a
        # 2-byte file, a missed one no file
        with open(os.path.join(rd, f"{row.shardId}_{row.sequenceNumber}"), "a") as fh:
            fh.write("x")

    def run(records_per_shard: int):
        stream = (
            spark.readStream.format("fake_kinesis")
            .option("numShards", 2)
            .option("recordsPerShard", records_per_shard)
            .option("maxRecordsPerFetch", 30)
            .load()
        )
        q = StreamRunner(ckpt).run_record_processor(
            stream, process, available_now=True
        )
        q.awaitTermination(120)

    run(60)
    assert len(os.listdir(rd)) == 120
    run(100)  # resume: only records 60..99 per shard are new
    files = os.listdir(rd)
    assert len(files) == 200
    assert all(os.path.getsize(os.path.join(rd, f)) == 1 for f in files)


def test_stats_reporter_emits_on_interval(spark, tmp_path, events_dir, events_schema):
    """Periodic LiveStats reporting parity (src/Kinesis/Coordination.hs:92-94,
    30 s tick): the reporter thread emits JSON summaries on its interval and
    totals accumulate across batches."""
    import json as _json

    from kinesis_app_spark.streaming import StatsReporter

    listener = ClusterStateListener()
    spark.streams.addListener(listener)
    lines: list[str] = []
    try:
        runner = StreamRunner(str(tmp_path / "ckpt_rep"))
        with StatsReporter(listener, interval_s=0.2, emit=lines.append) as rep:
            q = runner.run(
                file_stream(spark, events_dir, events_schema).select("event_id"),
                sink_format="memory", query_name="t_rep", available_now=True,
            )
            _drain(q)
            for _ in range(60):  # listener events are async
                snap = listener.snapshot(str(q.id))
                if snap and snap.total_records >= 500:
                    break
                time.sleep(0.5)
            time.sleep(0.5)  # at least two more reporter ticks
        assert rep.reports_emitted >= 2
        payload = _json.loads(lines[-1])
        totals = [v["records"] for v in payload["live_stats"].values()]
        assert sum(totals) == 500
    finally:
        spark.streams.removeListener(listener)


def test_foreachbatch_multi_sink_fanout_idempotent(spark, tmp_path):
    """One stream, TWO sinks in a single foreachBatch (the fan-out shape:
    archive + serving store). batchId-keyed idempotence: each sink writes
    batch partitions under the epoch id, so a replayed epoch overwrites
    instead of duplicating — asserted by running the same source through
    a second checkpointed run (fresh checkpoint => every epoch replays)
    and checking both sinks still equal the source exactly."""
    from kinesis_app_spark.streaming.sources import file_stream

    df = spark.createDataFrame(
        [(i, float(i) * 0.5) for i in range(30)], "id long, v double"
    )
    src = str(tmp_path / "src")
    df.repartition(3).write.mode("overwrite").parquet(src)
    sink_a = str(tmp_path / "archive")
    sink_b = str(tmp_path / "serving")

    def fanout(batch_df, batch_id):
        # epoch-partitioned dynamic overwrite = replay-safe idempotence
        for sink in (sink_a, sink_b):
            (
                batch_df.withColumn("epoch", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("epoch")
                .parquet(sink)
            )

    def run(ckpt):
        stream = file_stream(spark, src, df.schema, max_files_per_trigger=1)
        q = (
            stream.writeStream.foreachBatch(fanout)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    run(str(tmp_path / "ckpt1"))
    expected = sorted((r["id"], r["v"]) for r in df.collect())
    for sink in (sink_a, sink_b):
        got = sorted(
            (r["id"], r["v"]) for r in spark.read.parquet(sink).collect()
        )
        assert got == expected, sink
    # full replay through a fresh checkpoint: same epochs, same overwrites
    run(str(tmp_path / "ckpt2"))
    for sink in (sink_a, sink_b):
        got = sorted(
            (r["id"], r["v"]) for r in spark.read.parquet(sink).collect()
        )
        assert got == expected, f"replay duplicated rows in {sink}"


@pytest.mark.parametrize("pin_strategy", ["local", "none"])
def test_foreachbatch_running_aggregate_merges_across_epochs(
    spark, tmp_path, monkeypatch, pin_strategy
):
    """The cross-epoch accumulator is an eager snapshot whatever the
    pin strategy: the result holds no plan over earlier batches."""
    from kinesis_app_spark.streaming.ops import foreachbatch_running_aggregate
    from kinesis_app_spark.streaming.sources import file_stream

    monkeypatch.setenv("SPARK_GRAFT_PIN", pin_strategy)

    df = spark.createDataFrame(
        [(1, 10.0), (2, 5.0), (1, 2.5), (3, 1.0), (2, 0.5), (1, 4.0)],
        "user_id long, value double",
    )
    src = str(tmp_path / "src")
    # three source files => with maxFilesPerTrigger=1, three epochs, so the
    # merge path (union + re-aggregate) is genuinely exercised
    df.repartition(3).write.mode("overwrite").parquet(src)
    stream = file_stream(spark, src, df.schema, max_files_per_trigger=1)
    acc = foreachbatch_running_aggregate(
        stream, keys=["user_id"], value_col="value",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    got = {
        r["user_id"]: (float(r["total"]), r["n"]) for r in acc.collect()
    }
    assert got == {1: (16.5, 3), 2: (5.5, 2), 3: (1.0, 1)}
    assert "Union" not in acc._jdf.queryExecution().analyzed().toString()
