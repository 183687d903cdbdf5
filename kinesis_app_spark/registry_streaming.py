"""Streaming queries under the batch correctness gate.

Each entry materializes a bounded stream (events rewritten as a parquet
file-stream source), runs a genuine Structured Streaming query with
``availableNow`` to a memory sink, and returns the finished result as a
batch DataFrame — so streaming operators get the same DuckDB-oracle check
as batch ones. The streamed result must equal what the oracle computes over
the same rows in batch; that equivalence (stream/batch duality over one
relational surface, SURVEY.md §1.3) is exactly what's being asserted.

Determinism notes: each source is written as a single file so availableNow
processes one micro-batch — watermarks then can't drop in-batch rows, and
stream-stream join output equals the batch interval join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_app_spark.streaming.ops import (
    GATE_STREAM_SHUFFLE,
    PYSTATE_STREAM_SHUFFLE,
)
from kinesis_app_spark.scratch import scratch_dir
from kinesis_app_spark.registry_util import QuerySpec, table as _t
from kinesis_app_spark.streaming.ops import (
    foreachbatch_running_aggregate,
    run_to_memory,
    running_count_per_key,
    stream_static_join,
    stream_stream_interval_join,
    streaming_dedup,
)
from kinesis_app_spark.streaming.sources import file_stream


#: (cache_key -> source dir) for stream source parquet dirs. Several
#: entries stream the same projection of the same table; the source write
#: is a real Spark job (~0.3-1 s) while the dir itself is immutable once
#: built (sentinels are appended at build time, before caching), so
#: reusing it across entries is free. Keys embed sf_dir so different
#: scale factors never collide; checkpoints are NEVER cached (each query
#: run gets a fresh one).
_SRC_CACHE: dict[str, str] = {}


def _mk_stream(
    spark: SparkSession,
    df: DataFrame,
    copies: int = 1,
    cache_key: str | None = None,
    sentinel_row: tuple | None = None,
    max_files_per_trigger: int | None = None,
) -> tuple[DataFrame, str]:
    """Write df as a single-file stream source dir; return (stream, ckpt).

    With ``sentinel_row`` the dir gets a far-future one-row second file
    (mtime-ordered after the data file) so ``max_files_per_trigger=1``
    yields a deterministic second micro-batch that advances the watermark.
    With ``cache_key`` the finished dir is memoized for the process
    lifetime and reused by any entry asking for the same key; the key is
    suffixed with the projection's schema so an edit to ONE sharing
    entry's select list cannot silently serve the other null-filled
    columns from a stale dir (parquet reads by name).
    """
    if cache_key:
        # EVERY option that shapes the dir's file layout (and the reader
        # batching that depends on it) is part of the key — a caller
        # reusing someone else's key with a different sentinel/batching
        # config must get a fresh dir, not a silently-wrong cached one
        cache_key = (
            f"{cache_key}|{df.schema.simpleString()}|c{copies}"
            f"|s{sentinel_row!r}|m{max_files_per_trigger}"
        )
    src = _SRC_CACHE.get(cache_key) if cache_key else None
    if src is None:
        src = scratch_dir("stream_src_")
        out = df
        for _ in range(copies - 1):
            out = out.unionByName(df)
        out.coalesce(1).write.mode("overwrite").parquet(src)
        if sentinel_row is not None:
            # a LIST of rows appends one mtime-staggered file per row —
            # N sentinels yield N extra micro-batches (EventTimeTimeout
            # needs one batch to ADVANCE the watermark and a later batch
            # to FIRE the timers it unlocked)
            rows = (
                sentinel_row
                if isinstance(sentinel_row, list)
                else [sentinel_row]
            )
            for r in rows:
                _append_sentinel(spark, src, df.schema, r)
        if cache_key:
            _SRC_CACHE[cache_key] = src
    ckpt = scratch_dir("stream_ckpt_")
    return (
        file_stream(
            spark, src, df.schema, max_files_per_trigger=max_files_per_trigger
        ),
        ckpt,
    )


def _arrow_type(dt_):
    """Spark type -> Arrow type for sentinel files. TimestampType maps to
    micros adjusted-to-UTC, which Spark's parquet reader accepts as
    TimestampType; TIMESTAMP_NTZ would need tz=None."""
    import pyarrow as pa
    from pyspark.sql import types as T

    mapping = {
        T.LongType(): pa.int64(),
        T.IntegerType(): pa.int32(),
        T.DoubleType(): pa.float64(),
        T.StringType(): pa.string(),
        T.TimestampType(): pa.timestamp("us", tz="UTC"),
    }
    return mapping[dt_]


def _append_sentinel(spark: SparkSession, src: str, schema, row) -> None:
    """Append a one-row sentinel file and push its mtime 5s ahead of every
    existing part so the file stream (mtime-ordered) consumes it in a later
    micro-batch — deterministic without sleeping between writes.

    Written driver-side with pyarrow, NOT spark.createDataFrame: a
    Python-rows DataFrame is a defaultParallelism-partition Python RDD, and
    even a coalesce(1) write boots one Python worker per parent partition
    (~140 ms each, ~5 s per sentinel at local[32] — measured); the arrow
    write is ~milliseconds and runs no Spark job at all."""
    import os
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    names = [f.name for f in schema.fields]
    arrow_schema = pa.schema(
        [(f.name, _arrow_type(f.dataType)) for f in schema.fields]
    )
    table = pa.Table.from_pydict(
        {n: [v] for n, v in zip(names, row)}, schema=arrow_schema
    )
    newest = max(
        (os.stat(os.path.join(src, f)).st_mtime for f in os.listdir(src)),
        default=0,
    )
    path = os.path.join(src, f"sentinel-{uuid.uuid4().hex[:8]}.parquet")
    pq.write_table(table, path)
    os.utime(path, (newest + 5, newest + 5))


def streaming_tumbling_counts(spark, sf_dir):
    """Daily tumbling-window counts per event type, computed by a streaming
    query (complete mode) — must equal the batch group-by."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 20000)
    stream, ckpt = _mk_stream(spark, ev, cache_key=f"{sf_dir}|ev20k")
    agg = (
        stream.groupBy(F.window("ts", "1 day").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    res = run_to_memory(agg, ckpt, output_mode="complete", shuffle_partitions=GATE_STREAM_SHUFFLE)
    return res.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "event_type",
        "n_events",
    )


STREAMING_TUMBLING_SQL = """
SELECT make_timestamp((epoch_us(ts) // 86400000000) * 86400000000) AS window_start,
       make_timestamp((epoch_us(ts) // 86400000000) * 86400000000 + 86400000000) AS window_end,
       event_type, count(*) AS n_events
FROM events
WHERE event_id < 20000
GROUP BY 1, 2, 3
"""


def streaming_dedup_counts(spark, sf_dir):
    """Exactly-once per key out of an at-least-once source: the stream
    carries every event TWICE (the reference's redelivery semantics,
    src/Kinesis/Coordination.hs:343-359); streaming dedup on event_id must
    reduce it to the batch counts of the original."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 20000)
    stream, ckpt = _mk_stream(
        spark, ev, copies=2, cache_key=f"{sf_dir}|ev20k_x2"
    )
    deduped = streaming_dedup(stream, ["event_id"])
    agg = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return run_to_memory(agg, ckpt, output_mode="complete", shuffle_partitions=GATE_STREAM_SHUFFLE)


STREAMING_DEDUP_SQL = """
SELECT event_type, count(*) AS n
FROM events WHERE event_id < 20000
GROUP BY event_type
"""


def streaming_stateful_counts(spark, sf_dir):
    """Custom per-key state (applyInPandasWithState): running per-user
    record counter — the reference's _workerItems counter
    (src/Kinesis/Coordination.hs:331-336) as a durable streaming operator.
    Single batch => the emitted running totals are the final counts."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 300)
    stream, ckpt = _mk_stream(spark, ev, cache_key=f"{sf_dir}|user300")
    counts = running_count_per_key(stream, "user_id")
    res = run_to_memory(counts, ckpt, output_mode="update", shuffle_partitions=PYSTATE_STREAM_SHUFFLE)
    # one batch => one update row per key; max() collapses re-runs safely
    return res.groupBy(F.col("key").alias("user_id")).agg(
        F.max("n").alias("n_events")
    )


STREAMING_STATEFUL_SQL = """
SELECT user_id, count(*) AS n_events
FROM events WHERE user_id < 300
GROUP BY user_id
"""


def streaming_static_enrich(spark, sf_dir):
    """Stream-static join: events enriched against the customer dimension
    (static side broadcast per micro-batch), aggregated by market segment."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 20000)
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    stream, ckpt = _mk_stream(spark, ev, cache_key=f"{sf_dir}|ev20k")
    joined = stream_static_join(
        stream, F.broadcast(c), stream.user_id == c.c_custkey
    )
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("value_sum"),
    )
    return run_to_memory(agg, ckpt, output_mode="complete", shuffle_partitions=GATE_STREAM_SHUFFLE)


STREAMING_STATIC_JOIN_SQL = """
SELECT c_mktsegment, count(*) AS n, round(sum(value), 2) AS value_sum
FROM events JOIN customer ON user_id = c_custkey
WHERE event_id < 20000
GROUP BY c_mktsegment
"""


def streaming_interval_join(spark, sf_dir):
    """Stream-stream inner join: each purchase matched to the same user's
    clicks within the preceding hour, both sides watermarked (the state-
    expiry contract). Single-batch source => equals the batch interval
    join."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 300)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("click_id"),
    )
    p_stream, ckpt = _mk_stream(
        spark, purchases, cache_key=f"{sf_dir}|purch300"
    )
    c_stream, _ = _mk_stream(spark, clicks, cache_key=f"{sf_dir}|click300")
    l = p_stream.withWatermark("p_ts", "1 hour")
    r = c_stream.withWatermark("c_ts", "2 hours")
    joined = l.join(
        r,
        (l.p_user == r.c_user)
        & (r.c_ts >= F.expr("p_ts - INTERVAL 1 HOUR"))
        & (r.c_ts <= F.col("p_ts")),
    )
    res = run_to_memory(
        joined.select("purchase_id", "click_id"), ckpt, output_mode="append",
        shuffle_partitions=GATE_STREAM_SHUFFLE,
    )
    return res


STREAMING_INTERVAL_JOIN_SQL = """
SELECT p.event_id AS purchase_id, c.event_id AS click_id
FROM (SELECT * FROM events WHERE user_id < 300 AND event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE user_id < 300 AND event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts >= p.ts - INTERVAL 1 HOUR
 AND c.ts <= p.ts
"""


def streaming_left_outer_interval_join(spark, sf_dir):
    """Stream-stream LEFT OUTER interval join: unmatched purchases emit
    with null click columns — but only once the watermark proves no future
    click can match, so each side carries a far-future sentinel row
    (consumed in a second micro-batch via maxFilesPerTrigger=1) to close
    all real state deterministically. Result must equal the batch left
    join."""
    import datetime as dt

    from kinesis_app_spark.streaming.ops import run_to_memory
    from kinesis_app_spark.streaming.sources import file_stream

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 300)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("click_id"),
    )

    far = dt.datetime(2030, 1, 1)

    p_stream, ckpt = _mk_stream(
        spark, purchases, cache_key=f"{sf_dir}|purch300_sent",
        sentinel_row=(-1, far, -1), max_files_per_trigger=1,
    )
    c_stream, _ = _mk_stream(
        spark, clicks, cache_key=f"{sf_dir}|click300_sent",
        sentinel_row=(-1, far, -2), max_files_per_trigger=1,
    )
    p_stream = p_stream.withWatermark("p_ts", "1 hour")
    c_stream = c_stream.withWatermark("c_ts", "2 hours")
    joined = p_stream.join(
        c_stream,
        (p_stream.p_user == c_stream.c_user)
        & (c_stream.c_ts >= F.expr("p_ts - INTERVAL 1 HOUR"))
        & (c_stream.c_ts <= F.col("p_ts")),
        "left_outer",
    )
    res = run_to_memory(
        joined.select("purchase_id", "p_user", "click_id"), ckpt,
        output_mode="append", shuffle_partitions=GATE_STREAM_SHUFFLE,
    )
    return res.filter(F.col("p_user") >= 0).select("purchase_id", "click_id")


STREAMING_LEFT_OUTER_SQL = """
SELECT p.event_id AS purchase_id, c.event_id AS click_id
FROM (SELECT * FROM events WHERE user_id < 300 AND event_type = 'purchase') p
LEFT JOIN (SELECT * FROM events WHERE user_id < 300 AND event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts >= p.ts - INTERVAL 1 HOUR
 AND c.ts <= p.ts
"""


def streaming_semi_join(spark, sf_dir):
    """Stream-stream LEFT SEMI interval join: purchases that had at least
    one click in the preceding hour emit once (no click columns, no
    duplicates from multiple matching clicks). Single-batch sources =>
    equals the batch semi join."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 300)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    # same 3-column clicks projection as the interval-join entry so both
    # share one cached source dir (the extra click_id column is inert in a
    # left_semi join — only purchase columns survive)
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("click_id"),
    )
    p_stream, ckpt = _mk_stream(
        spark, purchases, cache_key=f"{sf_dir}|purch300"
    )
    c_stream, _ = _mk_stream(spark, clicks, cache_key=f"{sf_dir}|click300")
    l = p_stream.withWatermark("p_ts", "1 hour")
    r = c_stream.withWatermark("c_ts", "2 hours")
    joined = l.join(
        r,
        (l.p_user == r.c_user)
        & (r.c_ts >= F.expr("p_ts - INTERVAL 1 HOUR"))
        & (r.c_ts <= F.col("p_ts")),
        "left_semi",
    )
    return run_to_memory(
        joined.select("purchase_id"), ckpt, output_mode="append",
        shuffle_partitions=GATE_STREAM_SHUFFLE,
    )


STREAMING_SEMI_SQL = """
SELECT p.event_id AS purchase_id
FROM (SELECT * FROM events WHERE user_id < 300 AND event_type = 'purchase') p
WHERE EXISTS (
  SELECT 1 FROM events c
  WHERE c.user_id = p.user_id AND c.event_type = 'click'
    AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
)
"""


def streaming_full_outer_interval_join(spark, sf_dir):
    """Stream-stream FULL OUTER interval join: unmatched rows from BOTH
    sides emit with nulls once the watermark proves no future match can
    arrive (sentinel second batch closes all real state). Equals the batch
    full join."""
    import datetime as dt

    from kinesis_app_spark.streaming.ops import run_to_memory
    from kinesis_app_spark.streaming.sources import file_stream

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 300)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("click_id"),
    )

    far = dt.datetime(2030, 1, 1)

    # same cached sentinel sources as the left-outer entry (identical
    # projections and sentinel rows)
    p_stream, ckpt = _mk_stream(
        spark, purchases, cache_key=f"{sf_dir}|purch300_sent",
        sentinel_row=(-1, far, -1), max_files_per_trigger=1,
    )
    c_stream, _ = _mk_stream(
        spark, clicks, cache_key=f"{sf_dir}|click300_sent",
        sentinel_row=(-1, far, -2), max_files_per_trigger=1,
    )
    p_stream = p_stream.withWatermark("p_ts", "1 hour")
    c_stream = c_stream.withWatermark("c_ts", "2 hours")
    joined = p_stream.join(
        c_stream,
        (p_stream.p_user == c_stream.c_user)
        & (c_stream.c_ts >= F.expr("p_ts - INTERVAL 1 HOUR"))
        & (c_stream.c_ts <= F.col("p_ts")),
        "full_outer",
    )
    res = run_to_memory(
        joined.select("purchase_id", "p_user", "click_id", "c_user"), ckpt,
        output_mode="append", shuffle_partitions=GATE_STREAM_SHUFFLE,
    )
    # drop the sentinel rows from either side (they never join to real rows)
    return res.filter(
        (F.col("p_user").isNull() | (F.col("p_user") >= 0))
        & (F.col("c_user").isNull() | (F.col("c_user") >= 0))
    ).select("purchase_id", "click_id")


STREAMING_FULL_OUTER_SQL = """
SELECT p.event_id AS purchase_id, c.event_id AS click_id
FROM (SELECT * FROM events WHERE user_id < 300 AND event_type = 'purchase') p
FULL JOIN (SELECT * FROM events WHERE user_id < 300 AND event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts >= p.ts - INTERVAL 1 HOUR
 AND c.ts <= p.ts
"""


def streaming_session_windows(spark, sf_dir):
    """Event-time session windows in append mode, emitted deterministically:
    the source has two files consumed one per micro-batch
    (maxFilesPerTrigger=1) — the real events, then a far-future sentinel
    row whose only job is to advance the watermark past every real session
    so append mode finalizes and emits them all. Result must equal the
    batch session computation (the oracle)."""
    import datetime as dt

    from kinesis_app_spark.streaming.ops import run_to_memory
    from kinesis_app_spark.streaming.sources import file_stream

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id") < 300)
        .select("user_id", "ts", "value")
    )
    stream, ckpt = _mk_stream(
        spark, ev, cache_key=f"{sf_dir}|user300_utv_sent",
        sentinel_row=(-1, dt.datetime(2030, 1, 1), 0.0),
        max_files_per_trigger=1,
    )
    stream = stream.withWatermark("ts", "10 minutes")
    agg = stream.groupBy(
        "user_id", F.session_window("ts", "30 minutes").alias("w")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("value_sum"),
    )
    res = run_to_memory(agg, ckpt, output_mode="append", shuffle_partitions=GATE_STREAM_SHUFFLE)
    return res.filter(F.col("user_id") >= 0).select(
        "user_id",
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        "n_events",
        "value_sum",
    )


STREAMING_SESSION_SQL = """
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events WHERE user_id < 300
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts, value,
         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
  FROM flagged
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events, round(sum(value), 2) AS value_sum
FROM sess GROUP BY user_id, sid
"""


def streaming_topk_users(spark, sf_dir):
    """Global top-20 users by total event value, maintained incrementally
    across micro-batches with a foreachBatch running-aggregate merge (the
    production "merge into a running table" shape — streaming/ops.py
    foreachbatch_running_aggregate). The final top-k is taken over the
    exact merged per-key totals, so the result equals the batch query;
    totals accumulate in DECIMAL so epoch order cannot change a sum."""
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 20000)
        .select("user_id", "value", "ts")
    )
    stream, ckpt = _mk_stream(spark, ev, cache_key=f"{sf_dir}|ev20k_uvt")
    acc = foreachbatch_running_aggregate(
        stream, keys=["user_id"], value_col="value", checkpoint_dir=ckpt
    )
    return (
        acc.select(
            "user_id",
            F.round("total", 2).cast("double").alias("value_total"),
            F.col("n").cast("long").alias("n_events"),
        )
        .orderBy(F.desc("value_total"), "user_id")
        .limit(20)
    )


STREAMING_TOPK_SQL = """
SELECT user_id,
       round(sum(CAST(value AS DECIMAL(30,8))), 2)::DOUBLE AS value_total,
       count(*) AS n_events
FROM events
WHERE event_id < 20000
GROUP BY user_id
ORDER BY value_total DESC, user_id
LIMIT 20
"""


def lateness_report_events(spark, sf_dir):
    """Watermark-tuning pre-flight: per event, lateness = how far behind
    the arrival-order high-water mark its event time is (arrival order =
    event_id; high-water mark = running max(ts) over preceding
    arrivals), bucketed into minutes and histogrammed. This is the
    distribution that DECIDES `withWatermark` — choose the bucket
    covering your completeness target and that delay is the state bound.
    One global-order window at gate scale; at 100 TB run it per
    partition/shard (lateness is a per-shard property) or on a sampled
    id range — the decision needs the distribution's shape, not every
    row.

    The synthetic feed assigns ids in event-time order (zero natural
    lateness), so arrival order is deterministically perturbed — every
    block of 10 ids arrives reversed — giving the histogram real mass;
    the same perturbation is in the oracle."""
    e = _t(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    w = W.orderBy(
        F.floor(F.col("event_id") / 10), (F.col("event_id") % 10).desc()
    ).rowsBetween(W.unboundedPreceding, -1)
    late = e.select(
        "event_id",
        "ts",
        (
            F.unix_micros(F.max("ts").over(w)) - F.unix_micros(F.col("ts"))
        ).alias("late_us"),
    ).select(
        F.when(F.col("late_us").isNull() | (F.col("late_us") <= 0), 0)
        .otherwise(F.floor(F.col("late_us") / 60_000_000) + 1)
        .cast("long")
        .alias("late_minutes_bucket")
    )
    return (
        late.groupBy("late_minutes_bucket")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("late_minutes_bucket")
    )


LATENESS_SQL = """
WITH late AS (
  SELECT CASE WHEN hwm IS NULL OR epoch_us(hwm) - epoch_us(ts) <= 0 THEN 0
              ELSE (epoch_us(hwm) - epoch_us(ts)) // 60000000 + 1 END AS late_minutes_bucket
  FROM (
    SELECT ts,
           max(ts) OVER (ORDER BY event_id // 10, event_id % 10 DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
    FROM events
  )
)
SELECT late_minutes_bucket, count(*) AS n_events
FROM late
GROUP BY 1
ORDER BY 1
"""


def streaming_sliding_counts(spark, sf_dir):
    """True streaming SLIDING windows (1h length, 15m slide — each event
    lands in 4 overlapping windows), complete mode, equal to the batch
    overlap expansion the oracle computes. Sliding windows are the
    standard smoothing topology; state is windows × types, bounded."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 20000)
    stream, ckpt = _mk_stream(spark, ev, cache_key=f"{sf_dir}|ev20k")
    agg = stream.groupBy(
        F.window("ts", "1 hour", "15 minutes").alias("w"), F.col("event_type")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    res = run_to_memory(agg, ckpt, output_mode="complete", shuffle_partitions=GATE_STREAM_SHUFFLE)
    return res.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "event_type",
        "n_events",
    )


STREAMING_SLIDING_SQL = """
WITH ev AS (
  SELECT ts, event_type FROM events WHERE event_id < 20000
), expanded AS (
  SELECT make_timestamp((epoch_us(ts) // 900000000 - k.k) * 900000000) AS window_start,
         event_type
  FROM ev, UNNEST(generate_series(0, 3)) AS k(k)
)
SELECT window_start,
       window_start + INTERVAL 1 HOUR AS window_end,
       event_type, count(*) AS n_events
FROM expanded
GROUP BY 1, 2, 3
"""


def streaming_running_totals(spark, sf_dir):
    """Complete-mode global running totals per event type — the live
    dashboard shape: counts plus DECIMAL value sums (float sums would be
    epoch-order-dependent; decimal accumulation is the same discipline as
    the batch side). State is O(types)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 20000)
    stream, ckpt = _mk_stream(spark, ev, cache_key=f"{sf_dir}|ev20k")
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(30,8)")), 2)
        .cast("double")
        .alias("value_sum"),
        # exact COUNT(DISTINCT) is unsupported on streams (state would be
        # unbounded per group); min/max are the order-independent extremes
        F.min("value").alias("value_min"),
        F.max("value").alias("value_max"),
    )
    res = run_to_memory(agg, ckpt, output_mode="complete", shuffle_partitions=GATE_STREAM_SHUFFLE)
    return res


STREAMING_TOTALS_SQL = """
SELECT event_type,
       count(*) AS n_events,
       round(sum(CAST(value AS DECIMAL(30,8))), 2)::DOUBLE AS value_sum,
       min(value) AS value_min,
       max(value) AS value_max
FROM events
WHERE event_id < 20000
GROUP BY event_type
"""


def streaming_union_sources(spark, sf_dir):
    """Multi-source consumption: TWO independent file streams (odd/even
    event halves — two topics, two regions, two shard groups) unioned
    into ONE streaming query and aggregated together. Stream-stream
    union is shuffle-free (a logical concat of sources); the aggregate
    sees one unified stream — the standard consolidation topology when a
    deployment splits ingestion. Counts must equal the batch aggregate
    over the whole table."""
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 20000)
        .select("event_id", "ts", "event_type")
    )
    srcs = []
    ckpt = None
    for parity in (0, 1):
        s, ckpt = _mk_stream(
            spark,
            ev.filter(F.col("event_id") % 2 == parity),
            cache_key=f"{sf_dir}|ev20k_par{parity}",
        )
        srcs.append(s)
    unioned = srcs[0].unionByName(srcs[1])
    agg = unioned.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )
    res = run_to_memory(agg, ckpt, output_mode="complete", shuffle_partitions=GATE_STREAM_SHUFFLE)
    return res


STREAMING_UNION_SQL = """
SELECT event_type,
       count(*) AS n_events,
       min(event_id) AS min_id,
       max(event_id) AS max_id
FROM events
WHERE event_id < 20000
GROUP BY event_type
"""


def streaming_dedup_then_window(spark, sf_dir):
    """The at-least-once → exactly-once counting topology:
    ``dropDuplicatesWithinWatermark`` followed by a windowed aggregate —
    two chained stateful operators in one append-mode query. The source
    delivers EVERY event twice (the union models redelivery after an ack
    loss, the reference's at-least-once contract,
    /root/reference/src/Kinesis/Coordination.hs:329-337); the dedup state
    absorbs the duplicates inside the watermark and the daily counts must
    equal the batch counts over DISTINCT events. Sentinel discipline as
    in the session-window entry."""
    import datetime as dt

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 20000)
        .select("event_id", "ts", "event_type")
    )
    dup = ev.unionByName(ev)
    stream, ckpt = _mk_stream(
        spark, dup, cache_key=f"{sf_dir}|ev20k_dup_sent",
        sentinel_row=(-1, dt.datetime(2030, 1, 1), "zz"),
        max_files_per_trigger=1,
    )
    stream = stream.withWatermark("ts", "10 minutes")
    deduped = stream.dropDuplicatesWithinWatermark(["event_id"])
    agg = deduped.groupBy(
        F.window("ts", "1 day").alias("w"), F.col("event_type")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    res = run_to_memory(agg, ckpt, output_mode="append", shuffle_partitions=GATE_STREAM_SHUFFLE)
    return res.filter(F.col("event_type") != "zz").select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "event_type",
        "n_events",
    )


STREAMING_DEDUP_WINDOW_SQL = """
SELECT make_timestamp((epoch_us(ts) // 86400000000) * 86400000000) AS window_start,
       make_timestamp((epoch_us(ts) // 86400000000) * 86400000000
                      + 86400000000) AS window_end,
       event_type, count(*) AS n_events
FROM events
WHERE event_id < 20000
GROUP BY 1, 2, 3
"""


def streaming_chained_windows(spark, sf_dir):
    """CHAINED stateful aggregation in one streaming query (Spark 3.4+
    multiple-stateful-operator support): hourly tumbling counts per event
    type, re-aggregated into daily windows via ``window_time()`` — two
    stateful operators back to back in append mode, the canonical
    "pre-aggregate then roll up" streaming topology (it cuts the state and
    the downstream emit rate by the hourly/daily fan-in factor at scale).

    Emission is made deterministic the same way as the session-window
    entry: the source is two mtime-ordered files (real events, then one
    far-future sentinel) consumed one per micro-batch, so the watermark
    passes every real daily window and append mode finalizes both operator
    states; the sentinel's own windows are filtered out of the result.
    Counts are integers — nothing float crosses the chained aggregation.
    """
    import datetime as dt

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 20000)
        .select("ts", "event_type")
    )
    stream, ckpt = _mk_stream(
        spark, ev, cache_key=f"{sf_dir}|ev20k_te_sent",
        sentinel_row=(dt.datetime(2030, 1, 1), "zz"),
        max_files_per_trigger=1,
    )
    stream = stream.withWatermark("ts", "10 minutes")
    hourly = stream.groupBy(
        F.window("ts", "1 hour").alias("hw"), F.col("event_type")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    daily = hourly.groupBy(
        F.window(F.window_time("hw"), "1 day").alias("dw"), F.col("event_type")
    ).agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("n_events").alias("n_events"),
    )
    res = run_to_memory(daily, ckpt, output_mode="append", shuffle_partitions=GATE_STREAM_SHUFFLE)
    return res.filter(F.col("event_type") != "zz").select(
        F.col("dw.start").alias("window_start"),
        F.col("dw.end").alias("window_end"),
        "event_type",
        "n_hours",
        "n_events",
    )


STREAMING_CHAINED_SQL = """
WITH hourly AS (
  SELECT make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS hw,
         event_type, count(*) AS n_events
  FROM events
  WHERE event_id < 20000
  GROUP BY 1, 2
)
SELECT make_timestamp((epoch_us(hw) // 86400000000) * 86400000000) AS window_start,
       make_timestamp((epoch_us(hw) // 86400000000) * 86400000000
                      + 86400000000) AS window_end,
       event_type,
       count(*) AS n_hours,
       sum(n_events) AS n_events
FROM hourly
GROUP BY 1, 2, 3
"""


def streaming_state_store_audit(spark, sf_dir):
    """Batch-read the STATE STORE of a finished stateful streaming query
    (Spark 4 ``statestore`` reader) and prove the persisted state equals
    the batch aggregate — the ops surface for debugging a stuck 100 TB
    streaming job: inspect exactly what each grouping key's state holds
    at a committed batch, without replaying the stream.

    The stream runs per-user count + decimal-exact value sums to a
    checkpoint; the audit then loads ``format("statestore")`` from that
    checkpoint and flattens key/value structs (columns selected
    positionally — state buffer field names are engine-internal).

    Scale: the state read is a partitioned scan of the checkpoint's
    state files (one task per state partition), never a stream replay."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 300)
    stream, ckpt = _mk_stream(spark, ev, cache_key=f"{sf_dir}|user300")
    agg = stream.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(30,8)")).alias("value_sum"),
    )
    run_to_memory(agg, ckpt, output_mode="update", shuffle_partitions=GATE_STREAM_SHUFFLE)
    flat = (
        spark.read.format("statestore").load(ckpt).select("key.*", "value.*")
    )
    c = flat.columns
    return flat.select(
        F.col(c[0]).alias("user_id"),
        F.col(c[1]).alias("n_events"),
        F.round(F.col(c[2]), 2).cast("double").alias("value_sum"),
    ).orderBy("user_id")


STREAMING_STATE_AUDIT_SQL = """
SELECT user_id, count(*) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(30,8))), 2) AS DOUBLE)
         AS value_sum
FROM events WHERE user_id < 300
GROUP BY user_id ORDER BY user_id
"""


def streaming_dynamic_gap_sessions(spark, sf_dir):
    """TRUE STREAMING dynamic-gap sessions: the same per-event gap
    expression as the batch twin (purchase closes after 60 s, else
    600 s) inside an append-mode session_window aggregation — watermark
    advanced past every real session by the far-future sentinel so
    append finalizes deterministically.  The oracle is the variable-end
    gaps-and-islands computation with the merge-on-boundary-tie rule
    (events exactly gap apart merge — pinned by test)."""
    import datetime as dt

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id") < 300)
        .select(
            "user_id",
            "event_type",
            F.col("ts").cast("long").cast("timestamp").alias("ts"),
        )
    )
    stream, ckpt = _mk_stream(
        spark, ev, cache_key=f"{sf_dir}|user300_dyn_sent",
        sentinel_row=(-1, "click", dt.datetime(2030, 1, 1)),
        max_files_per_trigger=1,
    )
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("60 seconds")
    ).otherwise(F.lit("600 seconds"))
    stream = stream.withWatermark("ts", "10 minutes")
    agg = stream.groupBy(
        "user_id", F.session_window("ts", gap).alias("w")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    res = run_to_memory(agg, ckpt, output_mode="append", shuffle_partitions=GATE_STREAM_SHUFFLE)
    return (
        res.filter(F.col("user_id") >= 0)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("total_events"),
            F.max("n_events").alias("max_session_events"),
        )
        .orderBy("user_id")
    )


STREAMING_DYNAMIC_GAP_SQL = """
WITH iv AS (
  SELECT user_id, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS start_s,
         CAST(floor(epoch(ts)) AS BIGINT)
           + CASE WHEN event_type = 'purchase' THEN 60 ELSE 600 END AS end_s
  FROM events WHERE user_id < 300
), flagged AS (
  SELECT user_id, start_s, end_s, event_id,
         CASE WHEN max(end_s) OVER (PARTITION BY user_id
                                    ORDER BY start_s, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND 1 PRECEDING) IS NULL
                OR start_s > max(end_s) OVER (PARTITION BY user_id
                                              ORDER BY start_s, event_id
                                              ROWS BETWEEN UNBOUNDED PRECEDING
                                                       AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_s
  FROM iv
), labeled AS (
  SELECT user_id,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY start_s, event_id
                          ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM flagged
), sess AS (
  SELECT user_id, session_idx, count(*) AS n_events
  FROM labeled GROUP BY 1, 2
)
SELECT user_id, count(*) AS n_sessions, sum(n_events) AS total_events,
       max(n_events) AS max_session_events
FROM sess GROUP BY user_id ORDER BY user_id
"""


REGISTRY_STREAMING = {
    "streaming_dynamic_gap_sessions": QuerySpec(
        streaming_dynamic_gap_sessions, STREAMING_DYNAMIC_GAP_SQL
    ),
    "streaming_state_store_audit": QuerySpec(
        streaming_state_store_audit, STREAMING_STATE_AUDIT_SQL
    ),
    "streaming_sliding_counts": QuerySpec(
        streaming_sliding_counts, STREAMING_SLIDING_SQL
    ),
    "streaming_dedup_then_window": QuerySpec(
        streaming_dedup_then_window, STREAMING_DEDUP_WINDOW_SQL
    ),
    "streaming_union_sources": QuerySpec(
        streaming_union_sources, STREAMING_UNION_SQL
    ),
    "streaming_running_totals": QuerySpec(
        streaming_running_totals, STREAMING_TOTALS_SQL
    ),
    "streaming_chained_windows": QuerySpec(
        streaming_chained_windows, STREAMING_CHAINED_SQL
    ),
    "streaming_topk_users": QuerySpec(streaming_topk_users, STREAMING_TOPK_SQL),
    "lateness_report_events": QuerySpec(lateness_report_events, LATENESS_SQL),
    "streaming_tumbling_counts": QuerySpec(
        streaming_tumbling_counts, STREAMING_TUMBLING_SQL
    ),
    "streaming_dedup_counts": QuerySpec(streaming_dedup_counts, STREAMING_DEDUP_SQL),
    "streaming_stateful_counts": QuerySpec(
        streaming_stateful_counts, STREAMING_STATEFUL_SQL
    ),
    "streaming_static_enrich": QuerySpec(
        streaming_static_enrich, STREAMING_STATIC_JOIN_SQL
    ),
    "streaming_interval_join": QuerySpec(
        streaming_interval_join, STREAMING_INTERVAL_JOIN_SQL
    ),
    "streaming_session_windows": QuerySpec(
        streaming_session_windows, STREAMING_SESSION_SQL
    ),
    "streaming_left_outer_interval_join": QuerySpec(
        streaming_left_outer_interval_join, STREAMING_LEFT_OUTER_SQL
    ),
    "streaming_full_outer_interval_join": QuerySpec(
        streaming_full_outer_interval_join, STREAMING_FULL_OUTER_SQL
    ),
    "streaming_semi_join": QuerySpec(streaming_semi_join, STREAMING_SEMI_SQL),
}
