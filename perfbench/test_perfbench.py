"""Tests of the benchmark's own logic; no Spark session is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json

import pytest

from perfbench import common, lakehouse_upsert, stream_ingest
from perfbench.paced_source import due_count, due_us

STREAM = common.load_params()["stream_ingest"]
LAKE = common.load_params()["lakehouse_upsert"]


# ------------------------------------------------------------- the inputs


def test_same_seed_same_stream_inputs():
    assert stream_ingest.make_inputs(7, STREAM) == stream_ingest.make_inputs(7, STREAM)
    assert stream_ingest.make_inputs(7, STREAM)["starts"] != \
        stream_ingest.make_inputs(8, STREAM)["starts"]
    # the load does not depend on the seed, only the payloads do
    assert stream_ingest.make_inputs(7, STREAM)["rates"] == \
        stream_ingest.make_inputs(8, STREAM)["rates"]


def test_same_seed_same_change_batches():
    a, b = lakehouse_upsert.ChangeFeed(3, LAKE), lakehouse_upsert.ChangeFeed(3, LAKE)
    assert a.initial_rows() == b.initial_rows()
    for _ in range(30):
        assert a.next_batch() == b.next_batch()
    assert a.table == b.table
    c = lakehouse_upsert.ChangeFeed(4, LAKE)
    assert c.initial_rows() != lakehouse_upsert.ChangeFeed(3, LAKE).initial_rows()


def test_change_batches_keep_the_key_space_and_row_count_level():
    feed = lakehouse_upsert.ChangeFeed(1, LAKE)
    sizes = []
    for _ in range(60):
        batch = feed.next_batch()
        keys = [r[0] for r in batch]
        assert len(keys) == len(set(keys)) == LAKE["change_rows"]
        assert all(0 <= k < LAKE["key_space"] for k in keys)
        assert {r[4] for r in batch} <= {"U", "I", "D"}
        sizes.append(len(feed.table))
    # inserts re-create deleted keys, so after the first batches the row
    # count stays within one batch's deletes of its level
    assert max(sizes[10:]) - min(sizes[10:]) <= LAKE["change_rows"] * LAKE["change_mix"]["D"]


def test_due_count_inverts_due_time():
    for rate in (1, 7, 150, 550, 999):
        for k in range(0, 3000, 13):
            t = due_us(0, k, rate)
            assert due_count(t, rate) == k + 1
            assert due_count(t - 1, rate) <= k
    assert due_count(-5, 100) == 0


# ------------------------------------------------------------- percentiles


def test_percentile_needs_ten_samples_beyond_it():
    with pytest.raises(ValueError):
        common.percentile(list(range(19)), 0.5)
    assert common.percentile(list(range(20)), 0.5) == 9.5
    with pytest.raises(ValueError):
        common.percentile(list(range(99)), 0.9)
    assert common.percentile(list(range(100)), 0.9) == pytest.approx(89.1)
    # many values from few independent samples (records of a few batches)
    with pytest.raises(ValueError):
        common.percentile(list(range(10_000)), 0.5, n_samples=19)
    with pytest.raises(ValueError):
        common.percentile([], 0.5)


def test_trend_check():
    flat = [100.0, 102.0, 99.0, 101.0, 100.0, 98.0, 101.0, 100.0]
    assert common.trend(flat)["steady"]
    falling = [120.0, 118.0, 116.0, 114.0, 100.0, 98.0, 96.0, 95.0]
    t = common.trend(falling)
    assert not t["steady"] and t["change"] < -common.TREND_LIMIT
    assert not common.trend([1.0, 2.0])["steady"]


# --------------------------------------------- latency from batch offsets


def _progress(batch_id, ts, trigger_ms, start, end, rows):
    def off(d):
        return None if d is None else str({str(i): v for i, v in enumerate(d)})

    return {
        "batchId": batch_id,
        "timestamp": ts,
        "numInputRows": rows,
        "durationMs": {"latestOffset": 3, "addBatch": trigger_ms - 10,
                       "triggerExecution": trigger_ms},
        "stateOperators": [{"operatorName": "dedupeWithinWatermark",
                            "commitTimeMs": 40, "allUpdatesTimeMs": 5,
                            "numRowsTotal": 10, "memoryUsedBytes": 100}],
        "sources": [{"startOffset": off(start), "endOffset": off(end)}],
    }


def test_latency_from_offsets_of_a_synthetic_progress_record():
    # two shards at 1000 and 500 rec/s from t0 = 1_700_000_000 s
    t0_us = 1_700_000_000 * 1_000_000
    inputs = {"rates": [1000, 500], "starts": [100, 40]}
    # the batch started 2.0 s after t0, ran 250 ms and took records 0..1999
    # of shard 0 (due 1 ms .. 2000 ms) and 0..999 of shard 1 (due 2 ms ..
    # 2000 ms)
    raw = _progress(5, "2023-11-14T22:13:22.000Z", 250, [100, 40], [2100, 1040], 3000)
    b = stream_ingest.decode_progress(json.loads(json.dumps(raw)), inputs["starts"])
    assert b["begin"] == 1_700_000_002.0 and b["end"] == 1_700_000_002.25
    lat = stream_ingest.record_latencies_ms(b, t0_us, inputs)
    assert len(lat) == 3000
    assert lat.min() == pytest.approx(250.0)      # last due at 2.000 s
    assert lat.max() == pytest.approx(2249.0)     # first due at 0.001 s
    assert stream_ingest.lag_records(b, t0_us, inputs) == 250 + 125
    # the first batch of a query has no start offset: it starts at the seeded starts
    first = stream_ingest.decode_progress(
        _progress(0, "2023-11-14T22:13:20.500Z", 100, None, [150, 60], 70), inputs["starts"])
    assert first["start"] == [100, 40]


# ----------------------------------------------------------- output checks


def _stream_case():
    t0_us = 1_700_000_000 * 1_000_000
    inputs = {"rates": [200, 100], "starts": [1000, 5000]}
    window_us = 2_000_000
    cuts = [[1000, 5000], [1300, 5150], [1700, 5350], [2000, 5500]]
    batches, outputs, running = [], {}, {}
    for i, (lo, hi) in enumerate(zip(cuts, cuts[1:])):
        touched = set()
        for s in range(2):
            for seq in range(lo[s], hi[s]):
                key = stream_ingest.expected_key(
                    s, seq, inputs["starts"][s], inputs["rates"][s], t0_us, window_us)
                running[key] = running.get(key, 0) + 1
                touched.add(key)
        outputs[i] = [(w, u, running[(w, u)]) for w, u in sorted(touched)]
        batches.append({"batch_id": i, "start": lo, "stop": hi})
    return batches, outputs, t0_us, inputs, window_us


def test_stream_check_passes_on_exact_counts():
    batches, outputs, *rest = _stream_case()
    assert stream_ingest.check_outputs(batches, outputs, *rest) == (3, 0, [])


def test_stream_check_catches_a_dropped_record():
    batches, outputs, *rest = _stream_case()
    w, u, c = outputs[1][0]
    outputs[1][0] = (w, u, c - 1)
    checked, failed, notes = stream_ingest.check_outputs(batches, outputs, *rest)
    assert (checked, failed) == (3, 1) and "counts wrong" in notes[0]


def test_stream_check_catches_a_missing_update_and_a_gap():
    batches, outputs, *rest = _stream_case()
    outputs[2] = outputs[2][1:]
    assert stream_ingest.check_outputs(batches, outputs, *rest)[1] >= 1
    batches, outputs, *rest = _stream_case()
    # a restart that skipped records: batch 2 starts after batch 1 ended
    batches[2] = dict(batches[2], start=[batches[2]["start"][0] + 1, batches[2]["start"][1]])
    checked, failed, notes = stream_ingest.check_outputs(batches, outputs, *rest)
    assert failed >= 1 and any("previous ended" in n for n in notes)


def test_lakehouse_check_catches_a_wrong_read():
    feed = lakehouse_upsert.ChangeFeed(5, LAKE)
    batches, reads = [], []
    for v in range(1, 6):
        batches.append(feed.next_batch())
        lo, hi = (100 * v, 100 * v + 500) if v % 2 else (None, None)
        reads.append({"version": v, "lo": lo, "hi": hi,
                      "got": lakehouse_upsert.expected_read(feed.table, lo, hi)})
    assert lakehouse_upsert.check_reads(reads, batches, 5, LAKE) == (0, [])
    n, s = reads[2]["got"]
    reads[2]["got"] = (n - 1, s)  # one row lost from a snapshot
    failed, notes = lakehouse_upsert.check_reads(reads, batches, 5, LAKE)
    assert failed == 1 and "v3" in notes[0]


# ------------------------------------------------------------ spans, metrics


def test_self_time_subtracts_covered_child_intervals():
    tr = common.Tracer(enabled=True)
    root = tr.add("batch", "streaming", 0.0, 1.0)
    tr.add("addBatch", "streaming", 0.1, 0.9, parent=root)
    tr.add("stage a", "spark.stage", 0.2, 0.5, parent=1)
    tr.add("stage b", "spark.stage", 0.4, 0.6, parent=1)  # overlaps a
    out = tr.self_ms_by_layer()
    # batch: 1.0 - 0.8; addBatch: 0.8 - 0.4 (union of 0.2..0.6)
    assert out["streaming"] == pytest.approx(600.0)
    assert out["spark.stage"] == pytest.approx(500.0)
    assert common.Tracer(enabled=False).add("x", "y", 0, 1) is None


def test_benchmark_declares_what_the_runner_prints():
    with open(f"{common.ROOT}/BENCHMARK.json") as fh:
        bench = json.load(fh)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    assert {"setup_s", "latency_p50_ms", "throughput_per_s"} <= set(names)
    assert [w["name"] for w in bench["workloads"]] == ["stream_ingest", "lakehouse_upsert"]
    for layer in common.SPAN_LAYERS:
        assert f"trace.self_ms.{layer}" in names
