"""``lakehouse_upsert``: one closed-loop client alternating versioned-table
merges with snapshot reads on the same table.

Set-up creates a seeded table of ``key_space`` rows with ``vt_create``.
Each cycle then commits one ``vt_merge`` of a seeded change batch
(mostly updates of recent keys, some inserts and deletes) and reads the
latest snapshot: a key-range ``vt_scan`` on even cycles, a full
aggregate over ``vt_read`` on odd ones. Values are integers, so every
read is checked exactly against a last-writer-wins fold of the batches.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import time

import numpy as np

from perfbench import common

SCHEMA = "k long, g int, v long, ver long"

#: per-layer metric prefixes of layers this workload does no work in
IDLE_LAYERS = ("sources.", "streaming.")


# ------------------------------------------------------------- the inputs


class ChangeFeed:
    """Seeded change batches over a fixed key space, and the reference
    table they fold to (key -> (g, v, ver))."""

    def __init__(self, seed: int, params: dict):
        self.seed = seed
        self.p = params
        rng = np.random.default_rng([seed, 0])
        n = params["key_space"]
        self.table = {
            k: (int(k % 17), int(v), 0)
            for k, v in zip(range(n), rng.integers(0, 1_000_000, n))
        }
        self.absent: list[int] = []
        self.version = 0

    def initial_rows(self) -> list[tuple]:
        return [(k, g, v, ver) for k, (g, v, ver) in sorted(self.table.items())]

    def next_batch(self) -> list[tuple]:
        """The next change batch (k, g, v, ver, op); folds it into
        ``table``. Keys within a batch are distinct."""
        p, n = self.p, self.p["key_space"]
        self.version += 1
        rng = np.random.default_rng([self.seed, self.version])
        cursor = (self.version * p["change_rows"]) % n
        hot = (cursor + rng.permutation(p["hot_keys"])) % n
        present = [int(k) for k in hot if int(k) in self.table]
        mix = p["change_mix"]
        n_ins = min(int(p["change_rows"] * mix["I"]), len(self.absent))
        n_del = int(p["change_rows"] * mix["D"])
        n_upd = p["change_rows"] - n_ins - n_del
        upd, dele = present[:n_upd], present[n_upd:n_upd + n_del]
        pick = rng.permutation(len(self.absent))[:n_ins]
        ins = [self.absent[i] for i in sorted(pick)]
        batch = []
        for k in upd:
            batch.append((k, int(rng.integers(0, 17)), int(rng.integers(0, 1_000_000)),
                          self.version, "U"))
        for k in ins:
            batch.append((k, int(k % 17), int(rng.integers(0, 1_000_000)),
                          self.version, "I"))
        for k in dele:
            g, v, ver = self.table[k]
            batch.append((k, g, v, ver, "D"))
        ins_set = set(ins)
        self.absent = [k for k in self.absent if k not in ins_set] + dele
        for k, g, v, ver, op in batch:
            if op == "D":
                del self.table[k]
            else:
                self.table[k] = (g, v, ver)
        return batch


def expected_read(table: dict, lo: int | None, hi: int | None) -> tuple[int, int]:
    """(row count, sum of v) over keys in [lo, hi), or the whole table."""
    if lo is None:
        return len(table), sum(v for _, v, _ in table.values())
    vals = [table[k][1] for k in range(lo, hi) if k in table]
    return len(vals), sum(vals)


# ---------------------------------------------------------------- the ops


def merge(spark, table_dir: str, batch: list[tuple]) -> int:
    from kinesis_app_spark.operators.versioned import vt_merge

    changes = spark.createDataFrame(batch, SCHEMA + ", op string")
    return vt_merge(spark, table_dir, changes, ["k"])


def read(spark, table_dir: str, lo: int | None, hi: int | None) -> tuple[int, int]:
    from pyspark.sql import functions as F

    from kinesis_app_spark.operators.versioned import vt_read, vt_scan

    if lo is None:
        df = vt_read(spark, table_dir)
    else:
        df = vt_scan(spark, table_dir, [("k", ">=", lo), ("k", "<", hi)])
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")).collect()[0]
    return int(row["n"]), int(row["s"] or 0)


# ---------------------------------------------------------------- the run


def _setup(factory, rdir: str, feed_rows, tag: int):
    from kinesis_app_spark.operators.versioned import vt_create

    spark = factory()
    table_dir = os.path.join(rdir, f"table-{tag}")
    df = spark.createDataFrame(feed_rows, SCHEMA).repartitionByRange(8, "k")
    vt_create(df, table_dir)
    return spark, table_dir


def check_reads(reads: list[dict], batches: list[list[tuple]], seed: int,
                params: dict) -> tuple[int, list[str]]:
    """Replay the change batches into a fresh fold and compare every read
    with the fold at the version it read. Returns (failed, messages)."""
    feed = ChangeFeed(seed, params)
    by_version: dict[int, list[dict]] = {}
    for r in reads:
        by_version.setdefault(r["version"], []).append(r)
    failed, notes = 0, []
    for version in range(len(batches) + 1):
        if version:
            replayed = feed.next_batch()
            if replayed != batches[version - 1]:
                failed += 1
                notes.append(f"batch {version} is not reproducible from the seed")
        for r in by_version.get(version, []):
            want = expected_read(feed.table, r["lo"], r["hi"])
            if tuple(r["got"]) != want:
                failed += 1
                notes.append(f"read at v{version} [{r['lo']}, {r['hi']}): "
                             f"{r['got']} != {want}")
    return failed, notes


def check_table(spark, table_dir: str, table: dict) -> list[str]:
    """The final table equals the fold of every change batch."""
    from kinesis_app_spark.operators.versioned import vt_read

    got = {r["k"]: (r["g"], r["v"], r["ver"]) for r in vt_read(spark, table_dir).collect()}
    if got == table:
        return []
    diff = [k for k in set(got) | set(table) if got.get(k) != table.get(k)]
    return [f"final table differs from the fold on {len(diff)} keys, e.g. {sorted(diff)[:3]}"]


def run(seed: int, seconds: float, tracer: common.Tracer, rdir: str) -> dict:
    params_all = common.load_params()
    params, eng = params_all["lakehouse_upsert"], params_all["engine"]
    feed = ChangeFeed(seed, params)
    initial = feed.initial_rows()
    session_start: list[float] = []

    def factory():
        t = time.perf_counter()
        with tracer.span("get_spark", "engine"):
            spark = common.get_session("lakehouse_upsert", rdir)
        session_start.append(time.perf_counter() - t)
        return spark

    t = time.perf_counter()
    with tracer.span("setup 0", "bench"):
        spark, table_dir = _setup(factory, rdir, initial, 0)
    setup_s = [time.perf_counter() - t]

    batches: list[list[tuple]] = []
    reads: list[dict] = []
    rng = np.random.default_rng([seed, 1 << 20])

    def cycle(label: str, traced: bool) -> dict:
        batch = feed.next_batch()
        batches.append(batch)
        n = len(batches)
        op = f"merge-{n}"
        if traced:
            spark.sparkContext.setJobGroup(op, op)
        t0 = time.perf_counter()
        with tracer.span("vt_merge", "versioned", op) if traced else contextlib.nullcontext():
            version = merge(spark, table_dir, batch)
        t1 = time.perf_counter()
        if n % 2:
            lo = int(rng.integers(0, params["key_space"] - params["range_rows"]))
            hi = lo + params["range_rows"]
        else:
            lo = hi = None
        rop = f"read-{n}"
        plan_ms = None
        if traced:
            spark.sparkContext.setJobGroup(rop, rop)
            plan_ms = _snapshot_plan_ms(table_dir)
        t2 = time.perf_counter()
        with tracer.span("vt_scan" if lo is not None else "vt_read", "versioned", rop) \
                if traced else contextlib.nullcontext():
            got = read(spark, table_dir, lo, hi)
        t3 = time.perf_counter()
        reads.append({"version": version, "lo": lo, "hi": hi, "got": got})
        out = {"label": label, "op": op, "rop": rop, "version": version,
               "rows": len(batch), "merge_ms": (t1 - t0) * 1000,
               "read_ms": (t3 - t2) * 1000}
        if traced:
            out.update(plan_ms=plan_ms, batch_bytes=_batch_bytes(batch),
                       files_ratio=_files_ratio(spark, table_dir, version, lo, hi))
        return out

    for _ in range(params["warmup_cycles"]):
        cycle("warmup", False)

    # the measured window: at least `seconds`, and enough merges for p50.
    # A traced run traces every other cycle and reports the difference as
    # the tracing overhead.
    need = 2 * common.MIN_BEYOND
    cycles = []
    rss = common.PeakRss() if tracer.enabled else None
    if rss:
        rss.start()
    start = time.perf_counter()
    while True:
        elapsed = time.perf_counter() - start
        if elapsed >= seconds and (len(cycles) >= need
                                   or elapsed >= seconds + common.MAX_EXTENSION_S):
            break
        traced = tracer.enabled and len(cycles) % 2 == 0
        if rss:
            (rss.active.set if traced else rss.active.clear)()
        cycles.append(cycle("traced" if traced else "measured", traced))
    if rss:
        rss.stop()
    if tracer.enabled:
        spark.sparkContext.setJobGroup("checks", "checks")

    # output checks, outside the timed windows
    failed, notes = check_reads(reads, batches, seed, params)
    final_notes = check_table(spark, table_dir, feed.table)
    if final_notes:
        failed += len(batches)
        notes += final_notes
    layers = None
    if tracer.enabled:
        layers = _layers(spark, tracer, table_dir, cycles)

    # the set-up again, in fresh sessions, for a median
    for i in range(1, eng["setups"]):
        spark.stop()
        t = time.perf_counter()
        with tracer.span(f"setup {i}", "bench"):
            spark, _ = _setup(factory, rdir, initial, i)
        setup_s.append(time.perf_counter() - t)

    merge_ms = [c["merge_ms"] for c in cycles]
    result = {
        "attempted": 2 * len(batches) + 1,
        "failed": failed,
        "notes": notes[:5],
        "e2e": {
            "setup_s": statistics.median(setup_s),
            "throughput_per_s": sum(c["rows"] for c in cycles) / elapsed,
            "latency_p50_ms": common.percentile(merge_ms, 0.5),
        },
        "info": {
            "window_s": round(elapsed, 2),
            "samples": {"latency_p50_ms": f"{len(cycles)} merges",
                        "throughput_per_s": f"{len(cycles)} cycles",
                        "setup_s": f"{len(setup_s)} set-ups"},
            "trend_latency": common.trend(merge_ms),
            "read_latency_p50_ms": statistics.median(c["read_ms"] for c in cycles),
            "setup_s_all": [round(x, 3) for x in setup_s],
            "rows": len(feed.table),
        },
    }
    if tracer.enabled:
        result["layers"] = layers
        result["layers"]["engine.session_start_s"] = session_start[0]
        result["layers"]["engine.peak_rss_mb"] = rss.peak_mb
    return result


def _batch_bytes(batch) -> int:
    """In-memory Arrow size of a change batch."""
    import pyarrow as pa

    cols = list(zip(*batch))
    return pa.table({
        "k": pa.array(cols[0], pa.int64()), "g": pa.array(cols[1], pa.int32()),
        "v": pa.array(cols[2], pa.int64()), "ver": pa.array(cols[3], pa.int64()),
        "op": pa.array(cols[4], pa.string()),
    }).nbytes


def _snapshot_plan_ms(table_dir: str) -> float:
    from kinesis_app_spark.operators.versioned import vt_files, vt_latest_version

    t = time.perf_counter()
    vt_files(table_dir, vt_latest_version(table_dir))
    return (time.perf_counter() - t) * 1000


def _files_ratio(spark, table_dir, version, lo, hi) -> float | None:
    """Files a range read opens over the snapshot's live files."""
    from kinesis_app_spark.operators.versioned import vt_files, vt_scan

    if lo is None:
        return None
    opened = vt_scan(spark, table_dir, [("k", ">=", lo), ("k", "<", hi)], version)
    return len(opened.inputFiles()) / max(len(vt_files(table_dir, version)), 1)


def _file_sizes(paths) -> int:
    return sum(os.path.getsize(p.removeprefix("file:")) for p in paths)


def _layers(spark, tracer, table_dir, cycles) -> dict:
    """Per-layer metrics over the traced cycles; stage spans from the
    status store become children of each op's span."""
    from kinesis_app_spark.operators.versioned import vt_files

    m = [c for c in cycles if c["label"] == "traced"]
    u = [c for c in cycles if c["label"] == "measured"]
    groups = {c["op"] for c in m} | {c["rop"] for c in m}
    ops = common.collect_job_groups(spark, groups=groups)
    rewritten, carried, amp = [], [], []
    for c in m:
        before = {f["path"] for f in vt_files(table_dir, c["version"] - 1)}
        after = {f["path"] for f in vt_files(table_dir, c["version"])}
        rewritten.append(len(before - after))
        carried.append(len(before & after))
        amp.append(_file_sizes(after - before) / c["batch_bytes"])
    last = vt_files(table_dir, m[-1]["version"])
    live_rows = sum(f["n_rows"] for f in last)
    ratios = [c["files_ratio"] for c in m if c["files_ratio"] is not None]
    out = common.job_group_metrics(ops, len(groups))
    out.update({
        "versioned.snapshot_plan_ms": statistics.median(c["plan_ms"] for c in m),
        "versioned.files_rewritten_per_merge": statistics.mean(rewritten),
        "versioned.files_carried_per_merge": statistics.mean(carried),
        "versioned.write_amplification": statistics.median(amp),
        "versioned.live_files": len(last),
        "versioned.bytes_per_live_row": _file_sizes(f["path"] for f in last) / max(live_rows, 1),
        "versioned.read_files_ratio": statistics.mean(ratios),
        "versioned.read_ms_p50": statistics.median(c["read_ms"] for c in m),
        "trace.overhead_latency_p50_ms":
            statistics.median(c["merge_ms"] for c in m)
            - statistics.median(c["merge_ms"] for c in u),
    })
    op_spans = {s.op_id: s.span_id for s in tracer.spans if s.op_id}
    common.add_stage_spans(tracer, ops, op_spans)
    return out
