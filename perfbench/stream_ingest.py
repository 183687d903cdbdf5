"""``stream_ingest``: an open-loop paced Kinesis stream through dedup and
an event-time windowed count, delivered to a Processor.

Phase 1 offers a fixed total rate over four shards (one hot) and
measures record latency: batch end (progress ``timestamp`` +
``triggerExecution``) minus each record's due time, computed from the
batch's start and end offsets so queue wait counts. Phase 2 stops the
query, lets a fixed backlog build, restarts from the same checkpoint and
times the catch-up.
"""

from __future__ import annotations

import ast
import datetime as dt
import os
import statistics
import time

import numpy as np

from perfbench import common
from perfbench.paced_source import due_count, due_us

USER_MOD = 100
CATCHUP_TIMEOUT_S = 60.0

#: per-layer metric prefixes of layers this workload does no work in
IDLE_LAYERS = ("versioned.",)


# ------------------------------------------------------------- the inputs


def make_inputs(seed: int, params: dict) -> dict:
    """Per-shard start sequence numbers and integer rates from the seed
    and the fixed load parameters."""
    rng = np.random.default_rng(seed)
    shares = params["shard_shares"]
    rates = [int(round(params["offered_rate"] * s)) for s in shares]
    starts = [int(x) for x in rng.integers(0, params["start_seq_max"], len(shares))]
    return {"rates": rates, "starts": starts}


def expected_key(shard: int, seq: int, start: int, rate: int, t0_us: int,
                 window_us: int) -> tuple[int, int]:
    """(window start in epoch micros, user) a record must count under."""
    due = due_us(t0_us, seq - start, rate)
    return due - due % window_us, (shard * 7919 + seq) % USER_MOD


# --------------------------------------------------------------- the job


def build_stream(spark, t0_us: int, inputs: dict, params: dict):
    """Source -> parse -> streaming_dedup -> windowed count per user."""
    from pyspark.sql import functions as F

    from kinesis_app_spark.streaming.ops import streaming_dedup

    rates, starts = inputs["rates"], inputs["starts"]
    src = (
        spark.readStream.format("paced_kinesis")
        .option("numShards", str(len(rates)))
        .option("maxRecordsPerFetch", str(params["max_records_per_fetch"]))
        .option("t0Us", str(t0_us))
        .option("rates", ",".join(map(str, rates)))
        .option("starts", ",".join(map(str, starts)))
        .load()
    )
    sid = F.substring_index("shardId", "-", -1).cast("int")
    start_of = F.create_map(*[F.lit(x) for i, s in enumerate(starts) for x in (i, s)])
    rate_of = F.create_map(*[F.lit(x) for i, r in enumerate(rates) for x in (i, r)])
    payload = F.from_json(F.col("data").cast("string"), "shard int, seq long, user int")
    # event time = the record's due time at the generator
    due = F.lit(t0_us) + F.expr("div((sequenceNumber - __start + 1) * 1000000, __rate)")
    parsed = (
        src.select("shardId", "sequenceNumber", payload.alias("p"),
                   start_of[sid].alias("__start"), rate_of[sid].alias("__rate"))
        .select("shardId", "sequenceNumber", F.col("p.user").alias("user"),
                F.timestamp_micros(due).alias("event_ts"))
    )
    deduped = streaming_dedup(
        parsed, ["shardId", "sequenceNumber"],
        watermark=("event_ts", f"{params['watermark_s']} seconds"),
    )
    return deduped.groupBy(
        F.window("event_ts", f"{params['window_s']} seconds"), "user"
    ).count()


class CountProcessor:
    """The Processor: keeps each epoch's updated (window, user, count)
    rows by batch id, so a batch re-run after a restart replaces its
    earlier delivery (the epoch commit is the ack)."""

    def __init__(self):
        self.outputs: dict[int, list[tuple[int, int, int]]] = {}
        self.calls: list[tuple[int, float, float]] = []

    def __call__(self, df, batch_id: int) -> None:
        from pyspark.sql import functions as F

        t = time.time()
        rows = df.select(
            F.unix_micros("window.start").alias("w"), "user", "count"
        ).collect()
        self.outputs[batch_id] = [(r["w"], r["user"], r["count"]) for r in rows]
        self.calls.append((batch_id, t, time.time()))


def start_query(spark, df, ckpt: str, processor: CountProcessor):
    from kinesis_app_spark.streaming.runner import StreamRunner

    return StreamRunner(ckpt).run_processor(
        df, processor, query_name=f"stream_ingest_{os.getpid()}",
        output_mode="update", trigger_interval="0 seconds",
    )


# ------------------------------------------------------ progress decoding


def _offsets(raw, starts) -> list[int]:
    if raw is None:
        return list(starts)
    d = ast.literal_eval(raw) if isinstance(raw, str) else raw
    return [int(d[str(s)]) for s in range(len(starts))]


def _ts(iso: str) -> float:
    return dt.datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=dt.timezone.utc).timestamp()


def decode_progress(p: dict, starts: list[int]) -> dict:
    """The fields of one StreamingQueryProgress the benchmark uses."""
    src = p["sources"][0]
    dur = p["durationMs"]
    begin = _ts(p["timestamp"])
    states = p.get("stateOperators") or []
    return {
        "batch_id": int(p["batchId"]),
        "begin": begin,
        "end": begin + dur.get("triggerExecution", 0) / 1000.0,
        "rows": int(p["numInputRows"]),
        "start": _offsets(src.get("startOffset"), starts),
        "stop": _offsets(src.get("endOffset"), starts),
        "dur": dict(dur),
        "state_commit_ms": sum(s.get("commitTimeMs", 0) for s in states),
        "state_update_ms": sum(s.get("allUpdatesTimeMs", 0) for s in states),
        "state_rows": sum(s.get("numRowsTotal", 0) for s in states),
        "state_bytes": sum(s.get("memoryUsedBytes", 0) for s in states),
        "state_ops": [(s.get("operatorName"), s.get("commitTimeMs", 0)) for s in states],
    }


def progress_of(query, starts) -> list[dict]:
    import json

    out = []
    for p in query.recentProgress:
        raw = json.loads(p.json) if hasattr(p, "json") else p
        out.append(decode_progress(raw, starts))
    return out


def record_latencies_ms(batch: dict, t0_us: int, inputs: dict) -> np.ndarray:
    """Latency of every record of a batch: batch end minus due time."""
    end_us = int(round(batch["end"] * 1e6))
    parts = []
    for s, (lo, hi) in enumerate(zip(batch["start"], batch["stop"])):
        if hi <= lo:
            continue
        k = np.arange(lo - inputs["starts"][s], hi - inputs["starts"][s], dtype=np.int64)
        due = t0_us + (k + 1) * 1_000_000 // inputs["rates"][s]
        parts.append((end_us - due) / 1000.0)
    return np.concatenate(parts) if parts else np.empty(0)


def lag_records(batch: dict, t0_us: int, inputs: dict) -> int:
    """Records due by the batch's end that it did not include."""
    elapsed = int(round(batch["end"] * 1e6)) - t0_us
    due_total = sum(
        st + due_count(elapsed, r) for st, r in zip(inputs["starts"], inputs["rates"])
    )
    return due_total - sum(batch["stop"])


# ----------------------------------------------------------------- checks


def check_outputs(batches: list[dict], outputs: dict, t0_us: int, inputs: dict,
                  window_us: int) -> tuple[int, int, list[str]]:
    """Every batch's updated rows equal the running per-(window, user)
    counts of the records it and the batches before it delivered.

    Batches must chain (each starts where the previous ended, from the
    seeded starts), so every (shard, seq) is counted exactly once across
    the restart. Returns (batches checked, batches failed, messages).
    """
    running: dict[tuple[int, int], int] = {}
    prev = list(inputs["starts"])
    failed, notes = 0, []
    for b in sorted(batches, key=lambda b: b["batch_id"]):
        ok = True
        if b["start"] != prev:
            ok = False
            notes.append(f"batch {b['batch_id']}: starts at {b['start']}, previous ended {prev}")
        touched = set()
        for s, (lo, hi) in enumerate(zip(b["start"], b["stop"])):
            for seq in range(lo, hi):
                key = expected_key(s, seq, inputs["starts"][s], inputs["rates"][s],
                                   t0_us, window_us)
                running[key] = running.get(key, 0) + 1
                touched.add(key)
        got = {(w, u): c for w, u, c in outputs.get(b["batch_id"], [])}
        if set(got) != touched:
            ok = False
            notes.append(f"batch {b['batch_id']}: updated keys differ "
                         f"({len(got)} emitted, {len(touched)} expected)")
        bad = [k for k, c in got.items() if running.get(k) != c]
        if bad:
            ok = False
            notes.append(f"batch {b['batch_id']}: {len(bad)} counts wrong, e.g. {bad[0]} "
                         f"= {got[bad[0]]} != {running.get(bad[0])}")
        failed += not ok
        prev = b["stop"]
    return len(batches), failed, notes


# ---------------------------------------------------------------- the run


def _setup(factory, rdir, params, inputs, tag):
    """Program set-up: session, source registration, query start."""
    from perfbench.paced_source import PacedKinesisDataSource

    spark = factory()
    spark.dataSource.register(PacedKinesisDataSource)
    t0_us = time.time_ns() // 1000
    df = build_stream(spark, t0_us, inputs, params)
    proc = CountProcessor()
    ckpt = os.path.join(rdir, f"ckpt-{tag}")
    query = start_query(spark, df, ckpt, proc)
    return spark, df, t0_us, proc, ckpt, query


def _stop(query, starts, tracer, aligned=False) -> list[dict]:
    """Stop the query and return its progress. ``aligned`` stops just
    after a batch completes, once the next one is planned, so a restart
    always re-runs exactly that one small batch before the backlog."""
    if aligned:
        seen = len(query.recentProgress)
        deadline = time.time() + CATCHUP_TIMEOUT_S
        while len(query.recentProgress) == seen and time.time() < deadline:
            time.sleep(0.01)
        time.sleep(0.1)
    with tracer.span("query.stop", "streaming"):
        query.stop()
    if query.exception() is not None:
        raise RuntimeError(f"stream failed: {query.exception()}")
    return progress_of(query, starts)


def _committed(progress) -> list[int]:
    """End offsets of the last completed batch."""
    return max(progress, key=lambda b: b["batch_id"])["stop"]


def _restart(spark, df, ckpt, proc, committed, t0_us, inputs, backlog_s, tracer):
    """Let the backlog build, restart from the checkpoint and time until
    a batch covers every record due at the restart."""
    starts = inputs["starts"]
    time.sleep(backlog_s)
    t_restart = time.time()
    elapsed = int(t_restart * 1e6) - t0_us
    target = [st + due_count(elapsed, r) for st, r in zip(starts, inputs["rates"])]
    with tracer.span("query.restart", "streaming"):
        query = start_query(spark, df, ckpt, proc)
    deadline = t_restart + CATCHUP_TIMEOUT_S
    caught = None
    while caught is None:
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        if time.time() > deadline:
            raise TimeoutError(f"no catch-up to {target} within {CATCHUP_TIMEOUT_S} s")
        time.sleep(0.05)
        after = progress_of(query, starts)
        caught = next((b for b in after
                       if all(e >= t for e, t in zip(b["stop"], target))), None)
    backlog = sum(target) - sum(committed)
    return query, {
        "backlog_records": backlog,
        "catchup_s": caught["end"] - t_restart,
        "throughput_per_s": backlog / (caught["end"] - t_restart),
        "restart_to_first_batch_s": after[0]["begin"] - t_restart,
    }


def _window(batches, t0_us, inputs, w0, w1) -> dict:
    """Record latency over the batches that ended inside [w0, w1]. The
    sample is a batch: records of one batch share its end time."""
    win = [b for b in batches if w0 <= b["end"] <= w1]
    data = [b for b in win if b["rows"] > 0]
    lats = [record_latencies_ms(b, t0_us, inputs) for b in data]
    every = np.concatenate(lats) if lats else np.empty(0)
    return {
        "win": win,
        "data": data,
        "latency_p50_ms": common.percentile(every, 0.5, n_samples=len(data)),
        "per_batch": [float(np.median(x)) for x in lats],
    }


def run(seed: int, seconds: float, tracer: common.Tracer, rdir: str) -> dict:
    params_all = common.load_params()
    params, eng = params_all["stream_ingest"], params_all["engine"]
    inputs = make_inputs(seed, params)
    starts = inputs["starts"]
    session_start: list[float] = []

    def factory(cores=None):
        t = time.perf_counter()
        with tracer.span("get_spark", "engine"):
            spark = common.get_session("stream_ingest", rdir, cores)
        session_start.append(time.perf_counter() - t)
        return spark

    # set-up; the query runs the warm-up and the measured phases, then
    # the set-up is repeated in fresh sessions for a median
    t = time.perf_counter()
    with tracer.span("setup 0", "bench"):
        spark, df, t0_us, proc, ckpt, query = _setup(factory, rdir, params, inputs, 0)
    setup_s = [time.perf_counter() - t]
    # warm-up: the first, cold batch (JVM, Python workers, codegen) takes
    # 8-12 s; then the same load runs on for warmup_s
    deadline = time.time() + CATCHUP_TIMEOUT_S
    while not query.recentProgress and time.time() < deadline:
        time.sleep(0.1)
    time.sleep(params["warmup_s"])

    # the measured window: at least `seconds`, and enough batches for p50
    need = 2 * common.MIN_BEYOND

    def data_batches():
        return sum(1 for b in progress_of(query, starts) if b["end"] >= w0 and b["rows"])

    rss = common.PeakRss() if tracer.enabled else None
    if rss:
        rss.start()
    segments = []  # traced run: (start, end, sampler on) to measure its cost
    try:
        w0 = time.time()
        if rss:
            _toggled_sleep(rss, seconds, segments)
        else:
            time.sleep(seconds)
        common.wait_for_samples(data_batches, need)
        w1 = time.time()
        # phase 2: one unmeasured stop and catch-up warms the restart path
        # (a restart before the latency window unsettles it), then the
        # measured one
        progress = _stop(query, starts, tracer, aligned=True)
        query, _ = _restart(spark, df, ckpt, proc, _committed(progress), t0_us, inputs,
                            params["warmup_backlog_s"], tracer)
        catchups = []
        for _ in range(params["catchups"]):
            progress += _stop(query, starts, tracer, aligned=True)
            query, cu = _restart(spark, df, ckpt, proc, _committed(progress), t0_us,
                                 inputs, params["backlog_s"], tracer)
            catchups.append(cu)
        time.sleep(0.5)
        progress += _stop(query, starts, tracer)
        ops = baseline = None
        if tracer.enabled:
            ops = common.collect_job_groups(spark, (w0, w1))
            # single-threaded baseline of the catch-up phase
            spark.stop()
            spark = factory(cores=1)
            from perfbench.paced_source import PacedKinesisDataSource

            spark.dataSource.register(PacedKinesisDataSource)
            df = build_stream(spark, t0_us, inputs, params)
            query, base = _restart(spark, df, ckpt, proc, _committed(progress), t0_us, inputs,
                                   params["backlog_s"], tracer)
            baseline = base["throughput_per_s"]
            time.sleep(0.5)
            progress += _stop(query, starts, tracer)
    finally:
        if rss:
            rss.stop()
    batches = list({b["batch_id"]: b for b in progress}.values())
    for i in range(1, eng["setups"]):
        spark.stop()
        t = time.perf_counter()
        with tracer.span(f"setup {i}", "bench"):
            spark, _, _, _, _, extra = _setup(factory, rdir, params, inputs, i)
        setup_s.append(time.perf_counter() - t)
        extra.stop()

    # output checks, outside the timed windows
    checked, failed, notes = check_outputs(
        batches, proc.outputs, t0_us, inputs, params["window_s"] * 1_000_000)

    m = _window(batches, t0_us, inputs, w0, w1)
    result = {
        "attempted": checked,
        "failed": failed,
        "notes": notes[:5],
        "e2e": {
            "setup_s": statistics.median(setup_s),
            "throughput_per_s": sum(c["backlog_records"] for c in catchups)
            / sum(c["catchup_s"] for c in catchups),
            "latency_p50_ms": m["latency_p50_ms"],
        },
        "info": {
            "window_s": round(w1 - w0, 2),
            "samples": {"latency_p50_ms": f"{len(m['data'])} batches",
                        "throughput_per_s": f"{len(catchups)} catch-ups",
                        "setup_s": f"{len(setup_s)} set-ups"},
            "trend_latency": common.trend(m["per_batch"]),
            "per_batch_ms": [round(x) for x in m["per_batch"]],
            "rates": inputs["rates"],
            "starts": starts,
            "setup_s_all": [round(x, 3) for x in setup_s],
            "backlog_records": [c["backlog_records"] for c in catchups],
            "catchup_s": [round(c["catchup_s"], 3) for c in catchups],
        },
    }
    if tracer.enabled:
        layers = _layers(tracer, m, batches, proc, t0_us, inputs, params, ops)
        on = [b for b in m["data"] if _in_segments(b["end"], segments, True)]
        off = [b for b in m["data"] if _in_segments(b["end"], segments, False)]
        layers.update({
            "engine.session_start_s": session_start[0],
            "engine.peak_rss_mb": rss.peak_mb,
            "streaming.restart_to_first_batch_s":
                statistics.median(c["restart_to_first_batch_s"] for c in catchups),
            "streaming.catchup_local1_per_s": baseline,
            "trace.overhead_latency_p50_ms":
                _p50_latency(on, t0_us, inputs) - _p50_latency(off, t0_us, inputs),
        })
        result["layers"] = layers
    return result


#: the traced run alternates its RSS sampler on and off in segments this
#: long, and reports the latency difference as the tracing overhead
TRACE_SEGMENT_S = 2.0


def _toggled_sleep(rss, seconds, segments) -> None:
    end = time.time() + seconds
    on = True
    while time.time() < end:
        t = time.time()
        (rss.active.set if on else rss.active.clear)()
        time.sleep(min(TRACE_SEGMENT_S, max(0.0, end - t)))
        segments.append((t, time.time(), on))
        on = not on
    rss.active.set()


def _in_segments(t, segments, on) -> bool:
    return any(lo <= t < hi and flag == on for lo, hi, flag in segments)


def _p50_latency(batches, t0_us, inputs) -> float:
    if not batches:
        return 0.0
    return float(np.median(np.concatenate(
        [record_latencies_ms(b, t0_us, inputs) for b in batches])))


def _med(xs) -> float:
    return float(np.median(xs)) if len(xs) else 0.0


def _layers(tracer, m, batches, proc, t0_us, inputs, params, ops) -> dict:
    """Per-layer metrics of the measured window, and child spans rebuilt
    from each micro-batch's durationMs and stateOperators."""
    win, data = m["win"], m["data"]
    maxf = params["max_records_per_fetch"]
    lags = [lag_records(b, t0_us, inputs) for b in win]
    ends = [b["end"] for b in win]
    growth = float(np.polyfit(ends, lags, 1)[0]) if len(win) >= 2 else 0.0
    calls = {bid: (t1 - t0) * 1000.0 for bid, t0, t1 in proc.calls}
    data_ids = {b["batch_id"] for b in data}
    out = {
        "sources.latest_offset_ms_p50": _med([b["dur"].get("latestOffset", 0) for b in data]),
        "sources.slices_per_batch_p50": _med([
            sum(-(-(hi - lo) // maxf) for lo, hi in zip(b["start"], b["stop"]) if hi > lo)
            for b in data]),
        "sources.lag_records_p50": _med(lags),
        "sources.lag_growth_per_s": growth,
        "streaming.batches": len(data),
        "streaming.no_data_batches": len(win) - len(data),
        "streaming.records_per_batch_p50": _med([b["rows"] for b in data]),
        "streaming.trigger_ms_p50": _med([b["dur"].get("triggerExecution", 0) for b in data]),
        "streaming.query_planning_ms_p50": _med([b["dur"].get("queryPlanning", 0) for b in data]),
        "streaming.add_batch_ms_p50": _med([b["dur"].get("addBatch", 0) for b in data]),
        "streaming.wal_commit_ms_p50": _med([b["dur"].get("walCommit", 0) for b in data]),
        "streaming.commit_offsets_ms_p50": _med([b["dur"].get("commitOffsets", 0) for b in data]),
        "streaming.state_commit_ms_p50": _med([b["state_commit_ms"] for b in data]),
        "streaming.state_update_ms_p50": _med([b["state_update_ms"] for b in data]),
        "streaming.state_rows": data[-1]["state_rows"],
        "streaming.state_bytes": data[-1]["state_bytes"],
        "streaming.processor_ms_p50": _med([calls[i] for i in data_ids if i in calls]),
    }
    out.update(common.job_group_metrics(ops or {}, len(win)))
    # child spans: trigger -> phases -> state commits / processor / stages
    phases = ("latestOffset", "walCommit", "queryPlanning", "addBatch", "commitOffsets")
    layer_of = {"latestOffset": "sources"}
    call_at = {bid: (t0, t1) for bid, t0, t1 in proc.calls}
    triggers = []
    for b in win:
        tid = tracer.add(f"batch {b['batch_id']}", "streaming", b["begin"], b["end"],
                         op_id=str(b["batch_id"]))
        triggers.append((b["begin"], b["end"], tid))
        t = b["begin"]
        for ph in phases:
            d = b["dur"].get(ph, 0) / 1000.0
            pid = tracer.add(ph, layer_of.get(ph, "streaming"), t, t + d, parent=tid,
                             op_id=str(b["batch_id"]))
            if ph == "addBatch":
                if b["batch_id"] in call_at:
                    c0, c1 = call_at[b["batch_id"]]
                    tracer.add("processor", "processor", max(c0, t), min(c1, t + d),
                               parent=pid, op_id=str(b["batch_id"]))
                end = t + d
                for name, ms in b["state_ops"]:
                    tracer.add(f"state commit {name}", "state", end - ms / 1000.0, end,
                               parent=pid, op_id=str(b["batch_id"]))
            t += d
    for st in (ops or {}).values():
        for stage_id, lo, hi in st.stage_spans:
            parent = next((tid for b0, b1, tid in triggers if b0 <= lo <= b1), None)
            tracer.add(f"stage {stage_id}", "spark.stage", lo, hi, parent=parent)
    return out
