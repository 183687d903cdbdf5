"""Streaming operator surface: dedup, stream-static / stream-stream joins,
and custom per-key state.

Reference parity notes:
- The reference delivers at-least-once (records between the last Redis sync
  and a crash re-deliver, src/Kinesis/Coordination.hs:343-359), so its users
  must dedup downstream by hand; ``streaming_dedup`` is that concern made an
  engine operator (exactly-once per key).
- ``running_count_per_key`` reproduces the reference's only stateful
  computation — the per-shard item counter ``_workerItems += 1`` kept in an
  MVar (src/Kinesis/Coordination.hs:331-336) — as a checkpointed
  ``applyInPandasWithState`` operator keyed by any column, surviving restarts
  via the state store instead of a node-local MVar.
- Joins have no reference counterpart (payloads are opaque there); they are
  engine surface per SURVEY.md §2.2.

Scale: state-store operators shard by ``spark.sql.shuffle.partitions``; at
100 TB use the RocksDB state-store provider and watermark discipline so state
is bounded (SURVEY.md §7.4).

Note on APIs: Spark 4's ``transformWithStateInPandas`` (the successor
stateful API: multiple named states, timers, TTL) is the intended upgrade
path for ``running_count_per_key``, but its Python runner needs a working
``google.protobuf`` which this container lacks. Re-verified rounds 4, 5,
6, 7 AND 8 (``import google.protobuf`` -> ModuleNotFoundError; ``import
delta`` likewise for the versioned-table layer; ``pip download
protobuf`` rounds 6-8: DNS resolution fails — no network; the
pyspark.zip walk finds only the 4 JVM-side from_protobuf SQL wrapper
.py files, no vendored Python protobuf runtime, so vendoring from the
container's own files is impossible): ``StatefulProcessor`` imports and the query plans, but the
first micro-batch dies with "TransformWithStateInPySpark driver worker
exited unexpectedly (crashed)" — the runner's protobuf import — and the
container has no protobuf wheel, no site-packages copy, and no installer
access, so vendoring is not possible either. The TTL/state-expiry
SEMANTICS are delivered on the supported API instead:
``running_sessions_ttl`` uses ``GroupStateTimeout.EventTimeTimeout`` +
``state.setTimeoutTimestamp`` + ``state.remove()`` — per-key state that
EXPIRES when the watermark passes its deadline, which is the 100 TB
bounded-state answer (idle keys cost nothing after ttl).
"""

from __future__ import annotations

import uuid
from collections.abc import Iterator, Sequence

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from kinesis_app_spark.streaming.runner import drain

#: State-store shard count for the bounded GATE/bench streams. Every
#: state-store instance pays a ~40-150 ms data-size-independent commit
#: per micro-batch (plans/r09 state_probe: the cost is per-store fixed,
#: filesystem-bound), so a tiny test stream wants FEW shards; results
#: never depend on the shard count (hash partitioning of exact
#: aggregations/joins/state fns). At 100 TB size this like any shuffle:
#: >= total cores (pass shuffle_partitions explicitly).
GATE_STREAM_SHUFFLE = 4

#: Shard count for applyInPandasWithState gate entries: their per-key
#: PYTHON work (hundreds of keys × a state fn call) scales with task
#: parallelism, so the fixed per-store commit saving of fewer shards
#: loses to the lost Python parallelism (A/B: ttl_sessions 7.7 s at 8
#: shards vs 10.9 s at 4). JVM-state operators keep the smaller count.
PYSTATE_STREAM_SHUFFLE = 8


def streaming_dedup(
    df: DataFrame,
    keys: Sequence[str],
    watermark: tuple[str, str] | None = None,
) -> DataFrame:
    """Drop duplicate records by key across the whole stream, or — with
    ``watermark=(ts_col, delay)`` — within the watermark horizon, which
    bounds the dedup state (the only sane variant at 100 TB: unbounded
    keyspace state otherwise grows forever)."""
    if watermark is not None:
        ts_col, delay = watermark
        return df.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(
            list(keys)
        )
    return df.dropDuplicates(list(keys))


def stream_static_join(
    stream: DataFrame, static: DataFrame, on, how: str = "inner"
) -> DataFrame:
    """Enrich a stream against a batch dimension. The static side is
    re-planned per micro-batch (picks up dim updates); broadcast it when it
    fits — no stream-side shuffle at all."""
    return stream.join(static, on, how)


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    left_delay: str,
    right_delay: str,
    lower_bound: str,
    upper_bound: str,
) -> DataFrame:
    """Stream-stream inner join on key + event-time interval:
    right_ts in [left_ts - lower_bound, left_ts + upper_bound].

    Watermarks on BOTH sides let the engine expire join state; without them
    a stream-stream join buffers both streams forever.
    """
    l = left.withWatermark(left_ts, left_delay)
    r = right.withWatermark(right_ts, right_delay)
    cond = (
        (l[key] == r[key])
        & (r[right_ts] >= F.expr(f"{left_ts} - INTERVAL {lower_bound}"))
        & (r[right_ts] <= F.expr(f"{left_ts} + INTERVAL {upper_bound}"))
    )
    return l.join(r, cond)


def running_count_per_key(
    df: DataFrame, key_col: str, key_type: str = "long"
) -> DataFrame:
    """Per-key running record count via applyInPandasWithState.

    Parity: the reference's ``_workerItems`` ack counter
    (src/Kinesis/Coordination.hs:331-336), but durable in the state store
    and keyed arbitrarily instead of per-shard-in-an-MVar.
    Emits (key, n) with the updated total each micro-batch (update mode).
    """

    def count_fn(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (prev,) = state.get if state.exists else (0,)
        n = prev + sum(len(p) for p in pdfs)
        state.update((n,))
        yield pd.DataFrame({"key": [key[0]], "n": [n]})

    return df.groupBy(key_col).applyInPandasWithState(
        count_fn,
        outputStructType=f"key {key_type}, n long",
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_to_memory(
    df: DataFrame,
    checkpoint_dir: str,
    output_mode: str = "append",
    timeout_s: int = 300,
    shuffle_partitions: int | None = 32,
) -> DataFrame:
    """Execute a streaming DataFrame to completion (availableNow) into a
    memory sink and return the result as a batch DataFrame — the bridge that
    lets streaming operators run under the batch correctness gate.

    ``shuffle_partitions`` pins the state-store shard count for this run
    (a caller session's default of 200 means 200 state tasks for a tiny
    test stream); the previous session value is restored afterwards —
    safe because execution completes inside this function.
    """
    spark = df.sparkSession
    name = f"mem_{uuid.uuid4().hex[:12]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        # a partially-populated memory table must FAIL the gate, not
        # silently compare truncated results
        drain(
            df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start(),
            f"streaming query {name}", timeout_s,
        )
    finally:
        if shuffle_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)


def foreachbatch_running_aggregate(
    stream: DataFrame,
    keys: Sequence[str],
    value_col: str,
    checkpoint_dir: str,
    timeout_s: int = 300,
    shuffle_partitions: int | None = 32,
) -> DataFrame:
    """Maintain an exact running per-key aggregate across micro-batches with
    ``foreachBatch`` — the "merge into a running table" production pattern
    (the foreachBatch twin of a state-store aggregation, and the shape a
    Delta/Iceberg MERGE INTO sink takes): each epoch aggregates ITS OWN
    rows only (map-side combine within the batch), then merges into the
    accumulator by key.

    The accumulator is lineage-truncated every epoch (localCheckpoint), so
    plan depth stays O(1) in the number of batches — without it, epoch N
    replays N unions and the query slows quadratically. State is bounded
    by the number of DISTINCT KEYS, not stream length; at 100 TB swap the
    driver-held DataFrame for a parquet/table-format target and make the
    merge an idempotent MERGE INTO keyed on (key, epoch) — operators/cdc.py
    has the merge primitive.

    Values accumulate in DECIMAL(30,8): float addition is order-sensitive
    and a retried epoch must not change the total by reassociation.
    """
    spark = stream.sparkSession
    state: dict[str, DataFrame | None] = {"acc": None}
    key_list = list(keys)

    def merge(batch_df: DataFrame, epoch_id: int) -> None:
        agg = batch_df.groupBy(*key_list).agg(
            F.sum(F.col(value_col).cast("decimal(30,8)")).alias("total"),
            F.count(F.lit(1)).alias("n"),
        )
        acc = state["acc"]
        if acc is not None:
            agg = (
                acc.unionByName(agg)
                .groupBy(*key_list)
                .agg(
                    F.sum("total").cast("decimal(30,8)").alias("total"),
                    F.sum("n").alias("n"),
                )
            )
        # a correctness snapshot, not a perf pin: the accumulator must
        # not point at earlier epochs' batch DataFrames, so it stays an
        # eager localCheckpoint under every $SPARK_GRAFT_PIN strategy
        state["acc"] = agg.localCheckpoint(eager=True)

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        drain(
            stream.writeStream.foreachBatch(merge)
            .outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start(),
            "foreachBatch aggregate", timeout_s,
        )
    finally:
        if shuffle_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    acc = state["acc"]
    if acc is None:  # zero batches: empty result with the right schema
        fields = [stream.schema[k] for k in key_list]
        schema = T.StructType(
            fields
            + [
                T.StructField("total", T.DecimalType(30, 8)),
                T.StructField("n", T.LongType(), False),
            ]
        )
        return spark.createDataFrame([], schema)
    return acc


def running_zscore_anomalies(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    seq_col: str,
    value_col: str,
    z: int = 3,
    min_history: int = 5,
    scale: int = 1000,
) -> DataFrame:
    """Per-key streaming anomaly detector on PRIOR history: an event is
    anomalous when its value deviates more than ``z`` standard deviations
    from the running mean of the events BEFORE it (>= ``min_history`` of
    them). State per key = (n, sum, sum-of-squares) of milli-scaled
    integer values, so the statistics are exact and the flag decision is
    pure integer arithmetic — the squared test
    (n*v - s)^2 > z^2 * (n*ss - s^2) avoids sqrt entirely, making the
    emitted set value-gateable against a window oracle (a float Welford
    recursion could never hash across engines).

    Within a micro-batch, rows are processed in (ts, seq) order; across
    batches the state carries the prefix forward — so with an ordered
    source the flag set equals the batch window semantics exactly.
    Python-int arithmetic inside the state fn dodges int64 overflow of
    the (n*v - s)^2 term; the per-row loop is bounded by events-per-key
    per batch (state ops are Python-side by construction — this is not
    the JVM hot path).

    Scale notes: state is three integers per key — millions of keys fit
    the RocksDB provider trivially; the only shuffle is the groupBy on
    the key that the state operator requires anyway.
    """

    def flag_fn(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import math

        n, s, ss = state.get if state.exists else (0, 0, 0)
        n, s, ss = int(n), int(s), int(ss)
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values([ts_col, seq_col], ignore_index=True)
        out_seq: list[int] = []
        out_n: list[int] = []
        for v_raw, seq in zip(pdf[value_col], pdf[seq_col]):
            # floor(x + 0.5): half-up on both engines (python round() and
            # numpy are half-even; DuckDB round() is half-away — floor is
            # the one rounding all three express identically)
            v = math.floor(float(v_raw) * scale + 0.5)
            if n >= min_history:
                lhs = (n * v - s) ** 2
                rhs = (z * z) * (n * ss - s * s)
                if lhs > rhs:
                    out_seq.append(int(seq))
                    out_n.append(n)
            n, s, ss = n + 1, s + v, ss + v * v
        state.update((n, s, ss))
        yield pd.DataFrame(
            {
                "key": pd.Series([key[0]] * len(out_seq), dtype="int64"),
                "seq": pd.Series(out_seq, dtype="int64"),
                "n_prior": pd.Series(out_n, dtype="int64"),
            }
        )

    return df.groupBy(key_col).applyInPandasWithState(
        flag_fn,
        outputStructType="key long, seq long, n_prior long",
        stateStructType="n long, s long, ss long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def running_cusum_flags(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    seq_col: str,
    value_col: str,
    k: int,
    h: int,
    scale: int = 1000,
) -> DataFrame:
    """Per-key streaming one-sided CUSUM: S <- max(0, S + x - k), flag
    rows where S crosses ``h``. The batch twin needs the two-window
    closed form (registry cusum_changepoints_events); the stream runs
    the recursion DIRECTLY — one integer of state per key, which is the
    whole point of CUSUM as a production monitor. Same milli-scaled
    exact-integer discipline as running_zscore_anomalies; rows are
    processed in (ts, seq) order within a batch and the state carries
    the prefix across batches."""

    def flag_fn(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import math

        (s,) = state.get if state.exists else (0,)
        s = int(s)
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values([ts_col, seq_col], ignore_index=True)
        out_seq: list[int] = []
        out_s: list[int] = []
        for v_raw, seq in zip(pdf[value_col], pdf[seq_col]):
            v = math.floor(float(v_raw) * scale + 0.5)
            s = max(0, s + v - k)
            if s > h:
                out_seq.append(int(seq))
                out_s.append(s)
        state.update((s,))
        yield pd.DataFrame(
            {
                "key": pd.Series([key[0]] * len(out_seq), dtype="int64"),
                "seq": pd.Series(out_seq, dtype="int64"),
                "cusum": pd.Series(out_s, dtype="int64"),
            }
        )

    return df.groupBy(key_col).applyInPandasWithState(
        flag_fn,
        outputStructType="key long, seq long, cusum long",
        stateStructType="s long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def running_twap(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    seq_col: str,
    value_col: str,
    scale: int = 1000,
) -> DataFrame:
    """Per-key streaming time-weighted average: state = (last event's
    timestamp + milli-scaled value, accumulated weighted sum, accumulated
    duration) — four integers, carried across micro-batches, closing the
    open holding segment when the next event arrives (possibly batches
    later). Emits the running (n_segments, total_us, twap) per key per
    batch; the LAST emit equals the batch operator
    (registry_round3b.time_weighted_avg_users) exactly because every
    accumulation is int64 — same milli-value x exact-microsecond
    discipline.

    Scale: state is O(1) per key; rows are processed in (ts, seq) order
    within a batch and the open segment is the only cross-batch carry."""

    def twap_fn(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import math

        if state.exists:
            last_t, last_v, wv, dur, nseg = state.get
        else:
            last_t, last_v, wv, dur, nseg = None, 0, 0, 0, 0
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values([ts_col, seq_col], ignore_index=True)
        for ts, v_raw in zip(pdf[ts_col], pdf[value_col]):
            t = int(ts.value // 1000)  # pandas ns -> us
            # sign-aware half-away-from-zero, matching the batch twin's
            # F.round(value*1000) and DuckDB's round() for negatives
            # (floor(v*s+0.5) alone rounds -1.5 milli to -1, not -2)
            fv = float(v_raw)
            v = int(math.copysign(math.floor(abs(fv) * scale + 0.5), fv))
            if last_t is not None:
                d = t - last_t
                wv += last_v * d
                dur += d
                nseg += 1
            last_t, last_v = t, v
        state.update((last_t, last_v, wv, dur, nseg))
        # half-away-from-zero at 1e-4 — the rounding DuckDB's round()
        # applies in the oracle (Python's round() is banker's)
        if dur > 0:
            y = wv / (float(dur) * scale)
            twap = math.copysign(math.floor(abs(y) * 1e4 + 0.5), y) / 1e4
        else:
            twap = None
        yield pd.DataFrame(
            {
                "user_id": pd.Series([key[0]], dtype="int64"),
                "n_segments": pd.Series([nseg], dtype="int64"),
                "total_us": pd.Series([dur], dtype="int64"),
                "twap": pd.Series([twap], dtype="float64"),
            }
        )

    return df.groupBy(key_col).applyInPandasWithState(
        twap_fn,
        outputStructType=(
            "user_id long, n_segments long, total_us long, twap double"
        ),
        stateStructType="last_t long, last_v long, wv long, dur long, nseg long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def running_kmv_distinct(
    df: DataFrame,
    key_col: str,
    id_col: str,
    k: int = 64,
) -> DataFrame:
    """Per-key streaming K-minimum-values distinct sketch: state = the
    k smallest distinct portable hashes (plus a batch counter), merged
    across micro-batches — the streaming twin of the batch
    kmv_grouped_distinct entry, down to the identical 60-bit md5 hash
    and the identical (k-1)/h_k estimate, so the SAME cross-engine
    oracle value-gates the stream.

    Scale: state is a bounded k-double array per key (k=64 -> 512
    bytes), merge cost is O(batch + k log k) per key per batch — the
    canonical mergeable-sketch shape (any two states union by keeping
    the k smallest of their union)."""

    def kmv_fn(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import hashlib
        import math

        if state.exists:
            prev, nb = state.get
            seen = set(prev)
        else:
            seen, nb = set(), 0
        for pdf in pdfs:
            for uid in pdf[id_col]:
                h = (
                    int(
                        hashlib.md5(str(int(uid)).encode()).hexdigest()[:15],
                        16,
                    )
                    / float(1 << 60)
                )
                seen.add(h)
        hashes = sorted(seen)[:k]
        nb += 1
        state.update((hashes, nb))
        n = len(hashes)
        if n < k:
            est = float(n)
        else:
            raw = (k - 1) / hashes[-1]
            # half-away-from-zero at 2 dp — matches the batch twin's
            # F.round and the DuckDB oracle on the same double
            est = math.floor(raw * 100 + 0.5) / 100
        yield pd.DataFrame(
            {
                "key": pd.Series([key[0]], dtype="object"),
                "est": pd.Series([est], dtype="float64"),
                "nb": pd.Series([nb], dtype="int64"),
            }
        )

    return df.groupBy(key_col).applyInPandasWithState(
        kmv_fn,
        outputStructType="key string, est double, nb long",
        stateStructType="hashes array<double>, nb long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def running_sequence_entropy(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    seq_col: str,
    type_col: str,
) -> DataFrame:
    """Per-key streaming bigram-entropy: state = (the LAST event type —
    so the bigram spanning a micro-batch boundary is counted exactly
    once — plus the bigram count table serialized as canonical JSON and
    a batch counter). Emits the running entropy per key per batch; the
    final emit equals the batch operator
    (registry_round3b.sequence_entropy_users) because the counts are
    exact integers and the entropy fold iterates keys in sorted order
    (deterministic summation).

    Scale: state is O(distinct bigrams per key) — bounded by
    |event types|^2, independent of stream length."""

    def ent_fn(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import json
        import math

        if state.exists:
            last, cj, nb = state.get
            counts = json.loads(cj)
        else:
            last, counts, nb = None, {}, 0
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values([ts_col, seq_col], ignore_index=True)
        for typ in pdf[type_col]:
            if last is not None:
                k = f"{last}>{typ}"
                counts[k] = counts.get(k, 0) + 1
            last = typ
        nb += 1
        state.update((last, json.dumps(counts, sort_keys=True), nb))
        n = sum(c for _, c in sorted(counts.items()))
        nd = len(counts)
        if n > 0:
            # each term quantized to the 1e-6 integer grid before the sum
            # (terms >= 0, so floor(x+0.5) == HALF_UP) — matches the batch
            # twin's reassociation-proof clogc_u6 aggregate exactly
            clogc_u6 = sum(
                math.floor(c * math.log(c) * 1e6 + 0.5)
                for _, c in sorted(counts.items())
            )
            h = math.log(n) - clogc_u6 / 1e6 / n
            ent = math.floor(h * 1e4 + 0.5) / 1e4
            norm = (
                math.floor((h / math.log(nd)) * 1e4 + 0.5) / 1e4
                if nd > 1
                else None
            )
        else:
            ent, norm = None, None
        yield pd.DataFrame(
            {
                "user_id": pd.Series([key[0]], dtype="int64"),
                "n_bigrams": pd.Series([n], dtype="int64"),
                "n_distinct": pd.Series([nd], dtype="int64"),
                "entropy": pd.Series([ent], dtype="float64"),
                "entropy_norm": pd.Series([norm], dtype="float64"),
                "nb": pd.Series([nb], dtype="int64"),
            }
        )

    return df.groupBy(key_col).applyInPandasWithState(
        ent_fn,
        outputStructType=(
            "user_id long, n_bigrams long, n_distinct long, "
            "entropy double, entropy_norm double, nb long"
        ),
        stateStructType="last_type string, counts string, nb long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def running_sessions_ttl(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    seq_col: str,
    ttl_seconds: int,
) -> DataFrame:
    """Per-key session statistics with TTL STATE EXPIRY — the bounded-
    state discipline a 100 TB stream needs: a key's state lives only
    ``ttl_seconds`` of event time past its last event, then the event-
    time timer fires, the final row is emitted, and ``state.remove()``
    frees the store. Idle keys cost nothing after the TTL; without
    expiry, per-key state grows with the key universe forever.

    Semantics: events split into sessions on gaps > ttl (processed in
    (ts, seq) order, cross-batch exact via the carried last-event
    timestamp); NOTHING is emitted until the key expires, then exactly
    one row (key, n_sessions, last_session_events, total_events) — so
    the final output equals the batch gaps-and-islands sessionization,
    which is the oracle.

    Mechanics: requires a watermark on ``ts_col``;
    ``setTimeoutTimestamp(last_event + ttl)`` arms the timer, the batch
    AFTER the watermark passes it calls the function with
    ``state.hasTimedOut`` and an empty row iterator. State is 4 int64s
    per live key. (This is Spark 4 transformWithState's TTL story on
    the fully-supported applyInPandasWithState API — see the module
    docstring for the verified transformWithState blocker.)"""
    ttl_us = ttl_seconds * 1_000_000

    def fn(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            n_sess, cur_n, total, _last_us = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": pd.Series([key[0]], dtype="int64"),
                    "n_sessions": pd.Series([n_sess], dtype="int64"),
                    "last_session_events": pd.Series([cur_n], dtype="int64"),
                    "total_events": pd.Series([total], dtype="int64"),
                }
            )
            return
        if state.exists:
            n_sess, cur_n, total, last_us = state.get
        else:
            n_sess, cur_n, total, last_us = 0, 0, 0, None
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values([ts_col, seq_col], ignore_index=True)
        for ts in pdf[ts_col]:
            t = int(ts.value // 1000)  # pandas ns -> us
            if last_us is None or t - last_us > ttl_us:
                n_sess += 1
                cur_n = 1
            else:
                cur_n += 1
            total += 1
            last_us = t
        state.update((n_sess, cur_n, total, last_us))
        # arm the expiry timer: watermark passing (last event + ttl)
        # fires hasTimedOut in a later batch
        state.setTimeoutTimestamp(last_us // 1000 + ttl_seconds * 1000)

    return df.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=(
            "user_id long, n_sessions long, last_session_events long, "
            "total_events long"
        ),
        stateStructType="n_sess long, cur_n long, total long, last_us long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
