"""``vt_merge`` semantics and cost on both of its paths.

A batch of at most ``max_prune_keys`` rows is read once into the driver
and merged from there (the local path); a larger one keeps its source
frame and interval pruning (the over-bound path, forced here with
``max_prune_keys=1``). Both must give the result of the Python fold
below, reject op codes other than U, I and D before anything commits,
and a small merge must stay a fixed, small number of Spark jobs.

A merge that loses its commit race to an overlapping writer re-plans at
the latest version inside the one commit loop and commits the table the
serial order gives; the last section pins that, and the planning-base
rule it shares with predicate DML, CLUSTER and COMPACT. The tail checks
that a change batch missing a table column, and a failed OPTIMIZE,
CLUSTER or COMPACT write, commit nothing and leave no staged dir.
"""

from __future__ import annotations

import datetime
import decimal
import json
import os
import threading

import pytest
from pyspark.sql import functions as F

from kinesis_app_spark.operators import versioned as VT

PATHS = {"local": {}, "over_bound": {"max_prune_keys": 1}}


def _fold(table, changes, keys, seq_col=None, extra=()):
    """MERGE on plain dicts: every table row whose (non-null) key some
    change carries is replaced by that key's U/I change rows; under
    ``seq_col`` a key keeps only its highest-seq change, 'D' < 'I' < 'U'
    breaking ties. Null keys never match."""
    def key(r):
        return tuple(r[k] for k in keys)

    if seq_col is not None:
        best = {}
        for c in changes:
            k = key(c)
            if k not in best or (-c[seq_col], c["op"]) < (-best[k][seq_col], best[k]["op"]):
                best[k] = c
        changes = list(best.values())
    hit = {key(c) for c in changes if None not in key(c)}
    out = [dict(r, **{e: None for e in extra})
           for r in table if None in key(r) or key(r) not in hit]
    for c in changes:
        if c["op"] in ("U", "I"):
            out.append({k: v for k, v in c.items() if k not in ("op", seq_col)})
    return out


def _norm(v):
    if hasattr(v, "asDict"):
        return _norm(v.asDict(recursive=True))
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, bytearray):
        return bytes(v)
    return v


def _rows(rows):
    return sorted((_norm(r) for r in rows), key=repr)


_TS = datetime.datetime(2024, 3, 1, 12, 30, 15, 250000)
_WIDE = ("k long, ts timestamp, d date, amt decimal(12,2), raw binary, "
         "vec array<float>, info struct<a:int,b:string>, tags map<string,int>")


def _wide(k, v):
    return {"k": k, "ts": _TS + datetime.timedelta(hours=k),
            "d": datetime.date(2024, 1, 1) + datetime.timedelta(days=v),
            "amt": decimal.Decimal(f"{v}.25"), "raw": bytes([k % 256, v % 256]),
            "vec": [float(v), 0.5], "info": {"a": v, "b": f"s{v}"},
            "tags": {"t": v}}


# name -> (table schema, table rows, change schema, change rows, keys,
#          merge kwargs)
CASES = {
    "null_keys": (
        "k long, v long",
        [{"k": None, "v": 5}, {"k": 1, "v": 10}, {"k": 2, "v": 20}, {"k": 3, "v": 30}],
        "k long, v long, op string",
        [{"k": None, "v": 7, "op": "U"}, {"k": None, "v": 8, "op": "D"},
         {"k": 1, "v": 11, "op": "U"}, {"k": 2, "v": None, "op": "D"},
         {"k": 9, "v": 90, "op": "I"}],
        ["k"], {},
    ),
    "two_column_key": (
        "a long, b string, v long",
        [{"a": a, "b": b, "v": a * 10} for a in range(4) for b in ("x", "y")],
        "a long, b string, v long, op string",
        [{"a": 1, "b": "x", "v": 111, "op": "U"}, {"a": 1, "b": "y", "v": 0, "op": "D"},
         {"a": 2, "b": "z", "v": 222, "op": "I"}, {"a": 5, "b": "x", "v": 555, "op": "U"}],
        ["a", "b"], {},
    ),
    "duplicate_keys_no_seq": (
        "k long, v long",
        [{"k": k, "v": k} for k in range(6)],
        "k long, v long, op string",
        [{"k": 1, "v": 11, "op": "U"}, {"k": 1, "v": 12, "op": "U"},
         {"k": 2, "v": 0, "op": "D"}, {"k": 2, "v": 21, "op": "U"},
         {"k": 3, "v": 0, "op": "D"}, {"k": 3, "v": 0, "op": "D"}],
        ["k"], {},
    ),
    "same_seq_delete_wins": (
        "k long, v long",
        [{"k": k, "v": k} for k in range(6)],
        "k long, v long, op string, seq int",
        [{"k": 1, "v": 11, "op": "U", "seq": 5}, {"k": 1, "v": 0, "op": "D", "seq": 5},
         {"k": 2, "v": 22, "op": "U", "seq": 1}, {"k": 2, "v": 23, "op": "U", "seq": 2},
         {"k": 7, "v": 77, "op": "I", "seq": 3}, {"k": 7, "v": 78, "op": "U", "seq": 3}],
        ["k"], {"seq_col": "seq"},
    ),
    "merge_schema": (
        "k long, v long",
        [{"k": k, "v": k} for k in range(6)],
        "k long, v long, w string, op string",
        [{"k": 1, "v": 11, "w": "one", "op": "U"}, {"k": 8, "v": 88, "w": None, "op": "I"},
         {"k": 4, "v": 0, "w": None, "op": "D"}],
        ["k"], {"merge_schema": True},
    ),
    "column_mapped": (
        "k long, v long",
        [{"k": k, "v": k} for k in range(6)],
        "k long, amount long, op string",
        [{"k": 1, "amount": 11, "op": "U"}, {"k": 8, "amount": 88, "op": "I"},
         {"k": 4, "amount": 0, "op": "D"}],
        ["k"], {},
    ),
    "wide_types": (
        _WIDE,
        [_wide(k, k) for k in range(6)],
        _WIDE + ", op string",
        [dict(_wide(1, 41), op="U"), dict(_wide(3, 0), op="D"),
         dict(_wide(9, 49), op="I")],
        ["k", "ts"], {},
    ),
    "empty_batch": (
        "k long, v long",
        [{"k": k, "v": k} for k in range(6)],
        "k long, v long, op string",
        [],
        ["k"], {},
    ),
}


def _create(spark, path, schema, rows, key):
    df = spark.createDataFrame([tuple(r.values()) for r in rows], schema)
    VT.vt_create(df.repartitionByRange(3, key), path)


@pytest.mark.parametrize("path", sorted(PATHS))
@pytest.mark.parametrize("case", sorted(CASES))
def test_merge_equals_python_fold(spark, tmp_path, monkeypatch, case, path):
    schema, table, cschema, changes, keys, kwargs = CASES[case]
    t = str(tmp_path / "t")
    _create(spark, t, schema, table, keys[0])
    if case == "column_mapped":
        VT.vt_rename_column(t, "v", "amount")
        table = [{"k": r["k"], "amount": r["v"]} for r in table]
    local = []
    real = VT._local_change_batch

    def spy(*args, **kw):
        got = real(*args, **kw)
        local.append(got is not None)
        return got

    monkeypatch.setattr(VT, "_local_change_batch", spy)
    chg = spark.createDataFrame([tuple(c.values()) for c in changes], cschema)
    VT.vt_merge(spark, t, chg, keys=keys, **kwargs, **PATHS[path])
    # an empty batch fits any bound; every other case takes its path
    assert local == [path == "local" or not changes]
    want = _fold(table, changes, keys, kwargs.get("seq_col"),
                 extra=["w"] if kwargs.get("merge_schema") else ())
    assert _rows(VT.vt_read(spark, t).collect()) == _rows(want)


@pytest.mark.parametrize("path", sorted(PATHS))
@pytest.mark.parametrize("bad", ["X", None])
def test_odd_op_fails_before_commit(spark, tmp_path, path, bad):
    """A change row whose op is not U, I or D (null included) fails the
    merge: no version is committed and no staged data dir is left."""
    t = str(tmp_path / "t")
    _create(spark, t, "k long, v long", [{"k": k, "v": k} for k in range(6)], "k")
    v0 = VT.vt_latest_version(t)
    data_before = sorted(os.listdir(os.path.join(t, "data")))
    chg = spark.createDataFrame(
        [(1, 11, "U"), (2, 22, bad), (3, 33, "D")], "k long, v long, op string"
    )
    with pytest.raises(Exception, match="must be one of"):
        VT.vt_merge(spark, t, chg, keys=["k"], **PATHS[path])
    assert VT.vt_latest_version(t) == v0
    assert sorted(os.listdir(os.path.join(t, "data"))) == data_before
    assert _rows(VT.vt_read(spark, t).collect()) == _rows(
        [{"k": k, "v": k} for k in range(6)])


def test_small_merge_is_three_jobs_and_one_evaluation(spark, tmp_path):
    """A 400-row merge into a multi-file table: the change batch is
    evaluated once (an accumulator in a pass-through UDF counts its
    rows) and the whole merge runs at most 3 Spark jobs — the bounded
    collect and the write, not a key-set job pair plus a shuffled
    full outer join."""
    t = str(tmp_path / "t")
    VT.vt_create(spark.range(4000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"),
    ).repartitionByRange(4, "k"), t)
    assert len(VT.vt_files(t, VT.vt_latest_version(t))) == 4
    sc = spark.sparkContext
    seen = sc.accumulator(0)

    def through(v):
        seen.add(1)
        return v

    passthrough = F.udf(through, "long")
    chg = spark.createDataFrame(
        [(k * 10, k, "U" if k % 10 else "D") for k in range(400)],
        "k long, v long, op string",
    ).withColumn("k", passthrough("k"))
    sc.setJobGroup("small-merge", "small-merge")
    try:
        VT.vt_merge(spark, t, chg, keys=["k"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert seen.value == 400
    assert len(sc.statusTracker().getJobIdsForGroup("small-merge")) <= 3
    got = {r["k"]: r["v"] for r in VT.vt_read(spark, t).collect()}
    assert len(got) == 4000 - 40 and got[10] == 1 and 0 not in got


def test_commit_never_exposes_an_empty_manifest(spark, tmp_path, monkeypatch):
    """A version's manifest appears with its content in place: while the
    commit writes it, the manifest path does not exist yet. Concurrent
    writers read each other's fresh manifests in their conflict check,
    and an empty one fails that read."""
    t = str(tmp_path / "t")
    _create(spark, t, "k long, v long", [{"k": k, "v": k} for k in range(6)], "k")
    target = VT._manifest_path(t, 1)
    visible = []
    real_dump = json.dump

    def dump(obj, fh, *args, **kwargs):
        if isinstance(obj, dict) and obj.get("version") == 1:
            visible.append(os.path.exists(target))
        return real_dump(obj, fh, *args, **kwargs)

    monkeypatch.setattr(json, "dump", dump)
    chg = spark.createDataFrame([(1, 11, "U")], "k long, v long, op string")
    assert VT.vt_merge(spark, t, chg, keys=["k"]) == 1
    assert visible == [False]
    assert VT._read_manifest(t, 1)["version"] == 1


# ---------------------------------------------------------------------
# a conflict re-plans inside the one commit loop
# ---------------------------------------------------------------------


def _interpose_once(monkeypatch, action):
    """Run ``action(table_dir)`` right after the FIRST staged write,
    between a writer's write and its commit; returns the list of staged
    data dirs written, in order. The writes ``action`` itself makes are
    not counted."""
    staged = []
    acting = False
    real = VT._write_data

    def write(df, table_dir, version, *rest):
        nonlocal acting
        data_dir = real(df, table_dir, version, *rest)
        if acting:
            return data_dir
        staged.append(data_dir)
        if len(staged) == 1:
            acting = True
            try:
                action(table_dir)
            finally:
                acting = False
        return data_dir

    monkeypatch.setattr(VT, "_write_data", write)
    return staged


def _unreferenced_dirs(t):
    """Data dirs no committed manifest names: a staged dir left behind."""
    named = {VT._read_manifest(t, v).get("data_dir")
             for v in range(VT.vt_latest_version(t) + 1)}
    root = os.path.join(t, "data")
    return {os.path.join(root, d) for d in os.listdir(root)} - named


def _chg_df(spark, changes):
    return spark.createDataFrame(
        [tuple(c.values()) for c in changes], "k long, v long, op string"
    )


def test_foreach_batch_epoch_survives_a_concurrent_optimize(
    spark, tmp_path, monkeypatch
):
    """An OPTIMIZE landing between a foreachBatch epoch's write and its
    commit removes every file the merge read: the epoch re-plans on top
    of it and commits once, with its batch_id, the serial-order table."""
    t = str(tmp_path / "t")
    table = [{"k": k, "v": k} for k in range(40)]
    _create(spark, t, "k long, v long", table, "k")
    changes = [{"k": 3, "v": 33, "op": "U"}, {"k": 5, "v": 0, "op": "D"},
               {"k": 50, "v": 500, "op": "I"}]
    staged = _interpose_once(
        monkeypatch, lambda td: VT.vt_optimize(spark, td, ["k"]))
    merger = VT.vt_foreach_batch_merger(spark, t, keys=["k"])
    merger(_chg_df(spark, changes), 7)
    hist = VT.vt_history(spark, t).orderBy("version").collect()
    assert [r["operation"] for r in hist] == ["CREATE", "OPTIMIZE", "MERGE"]
    assert VT._read_manifest(t, 2)["batch_id"] == 7
    assert VT.vt_committed_batch_ids(t) == {7}
    assert _rows(VT.vt_read(spark, t).collect()) == _rows(
        _fold(table, changes, ["k"]))
    assert len(staged) == 2 and not os.path.exists(staged[0])
    assert not _unreferenced_dirs(t)
    merger(_chg_df(spark, changes), 7)  # a replayed epoch is skipped
    assert VT.vt_latest_version(t) == 2


def test_overlapping_threaded_merges_commit_in_serial_order(
    spark, tmp_path, monkeypatch
):
    """Four threads merge batches that all rewrite key 1's file. Each
    writes its first plan before any commits (a barrier), so three lose
    the race and re-plan: all four commit, versions 1-4, and the table
    is the fold of the batches in commit order."""
    t = str(tmp_path / "t")
    table = [{"k": k, "v": k} for k in range(20)]
    _create(spark, t, "k long, v long", table, "k")
    batches = [
        [{"k": 1, "v": 100 + i, "op": "U"}, {"k": 2 + i, "v": 0, "op": "D"},
         {"k": 30 + i, "v": i, "op": "I"}]
        for i in range(4)
    ]
    barrier = threading.Barrier(4, timeout=120)
    planned = set()
    writes = []
    real = VT._write_data

    def write(df, table_dir, version):
        data_dir = real(df, table_dir, version)
        writes.append(data_dir)
        me = threading.get_ident()
        if me not in planned:
            planned.add(me)
            barrier.wait()
        return data_dir

    monkeypatch.setattr(VT, "_write_data", write)
    got, errs = {}, []

    def writer(i):
        try:
            got[i] = VT.vt_merge(spark, t, _chg_df(spark, batches[i]),
                                 keys=["k"])
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(180)
    assert not any(th.is_alive() for th in threads)
    assert not errs, errs
    assert sorted(got.values()) == [1, 2, 3, 4]
    assert len(writes) >= 4 + 3  # every loser planned again
    by_version = {v: i for i, v in got.items()}
    want = table
    for r in VT.vt_history(spark, t).orderBy("version").collect()[1:]:
        assert r["operation"] == "MERGE"
        want = _fold(want, batches[by_version[r["version"]]], ["k"])
    assert _rows(VT.vt_read(spark, t).collect()) == _rows(want)
    assert not _unreferenced_dirs(t)


def test_replanned_local_merge_evaluates_its_batch_once(
    spark, tmp_path, monkeypatch
):
    """A local-path merge that loses to an OPTIMIZE and re-plans reuses
    the batch it holds on the driver: the source is evaluated once (an
    accumulator in a pass-through UDF counts its rows)."""
    t = str(tmp_path / "t")
    VT.vt_create(spark.range(400).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"),
    ).repartitionByRange(4, "k"), t)
    seen = spark.sparkContext.accumulator(0)

    def through(v):
        seen.add(1)
        return v

    changes = [{"k": k * 10, "v": k, "op": "U" if k % 4 else "D"}
               for k in range(40)]
    chg = _chg_df(spark, changes).withColumn("k", F.udf(through, "long")("k"))
    staged = _interpose_once(
        monkeypatch, lambda td: VT.vt_optimize(spark, td, ["k"]))
    assert VT.vt_merge(spark, t, chg, keys=["k"]) == 2
    assert len(staged) == 2  # planned, lost to the OPTIMIZE, re-planned
    assert seen.value == 40
    table = [{"k": k, "v": k * 2} for k in range(400)]
    assert _rows(VT.vt_read(spark, t).collect()) == _rows(
        _fold(table, changes, ["k"]))


_PINNED_WRITERS = {
    "merge": lambda spark, t, v: VT.vt_merge(
        spark, t, _chg_df(spark, [{"k": 1, "v": 11, "op": "U"}]),
        keys=["k"], expected_version=v),
    "update": lambda spark, t, v: VT.vt_update(
        spark, t, [("k", "=", 1)], {"v": "0"}, expected_version=v),
    "cluster": lambda spark, t, v: VT.vt_cluster_incremental(
        spark, t, ["k"], expected_version=v),
    "compact": lambda spark, t, v: VT.vt_compact(
        spark, t, expected_version=v),
}


@pytest.mark.parametrize("writer", sorted(_PINNED_WRITERS))
def test_expected_version_past_the_latest_is_a_conflict(
    spark, tmp_path, writer
):
    """Every writer that takes ``expected_version`` refuses one the
    table has not reached, with ``VersionConflictError``."""
    t = str(tmp_path / "t")
    _create(spark, t, "k long, v long", [{"k": k, "v": k} for k in range(6)], "k")
    with pytest.raises(VT.VersionConflictError,
                       match="expected version 1, table is at 0"):
        _PINNED_WRITERS[writer](spark, t, 1)
    assert VT.vt_latest_version(t) == 0


def test_change_batch_missing_a_table_column_is_a_clear_error(
    spark, tmp_path, monkeypatch
):
    """A change batch without one of the table's columns fails with a
    ValueError naming it, before any job writes: directly, and when a
    merge re-plans over a ``merge_schema`` merge that added the column.
    Nothing of the failed merge is committed or left staged."""
    t = str(tmp_path / "t")
    _create(spark, t, "k long, v long, w long",
            [{"k": k, "v": k, "w": k} for k in range(6)], "k")
    chg = _chg_df(spark, [{"k": 1, "v": 11, "op": "U"}])
    with pytest.raises(ValueError, match=r"lacks table column\(s\) \['w'\]"):
        VT.vt_merge(spark, t, chg, keys=["k"])
    assert VT.vt_latest_version(t) == 0
    assert not _unreferenced_dirs(t)

    t2 = str(tmp_path / "t2")
    _create(spark, t2, "k long, v long",
            [{"k": k, "v": k} for k in range(6)], "k")
    wide = spark.createDataFrame([(2, 22, 7, "U")],
                                 "k long, v long, w long, op string")
    staged = _interpose_once(monkeypatch, lambda td: VT.vt_merge(
        spark, td, wide, keys=["k"], merge_schema=True))
    with pytest.raises(ValueError, match=r"lacks table column\(s\) \['w'\]"):
        VT.vt_merge(spark, t2, chg, keys=["k"])
    assert len(staged) == 1 and not os.path.exists(staged[0])
    assert VT.vt_latest_version(t2) == 1  # the schema-evolving merge only
    assert not _unreferenced_dirs(t2)


_MAINTENANCE = {
    "optimize": lambda spark, t: VT.vt_optimize(spark, t, ["k"]),
    "cluster": lambda spark, t: VT.vt_cluster_incremental(
        spark, t, ["k", "v"]),
    "compact": lambda spark, t: VT.vt_compact(spark, t),
}


@pytest.mark.parametrize("writer", sorted(_MAINTENANCE))
def test_failed_maintenance_write_leaves_nothing_behind(
    spark, tmp_path, monkeypatch, writer
):
    """OPTIMIZE, CLUSTER and COMPACT write through the one file-set
    writer: when the write job fails, the Spark error propagates, no
    version is committed and no staged dir is left under data/."""
    t = str(tmp_path / "t")
    _create(spark, t, "k long, v long",
            [{"k": k, "v": k * 2} for k in range(40)], "k")
    real = VT._to_physical
    monkeypatch.setattr(VT, "_to_physical", lambda df, mapping: real(
        df, mapping).withColumn("__boom", F.raise_error(
            F.lit("maintenance write failed")).cast("long")))
    with pytest.raises(Exception, match="maintenance write failed"):
        _MAINTENANCE[writer](spark, t)
    assert VT.vt_latest_version(t) == 0
    assert not _unreferenced_dirs(t)
