"""Multi-table ACID transactions (operators/txn.py): atomic
visibility through the shared decision file, clean aborts with
contiguous versions, lease-based crash recovery in both directions,
and conflict detection at finalize.
"""

from __future__ import annotations

import json
import os
import threading
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from kinesis_app_spark.operators import txn as TX
from kinesis_app_spark.operators import versioned as VT
from kinesis_app_spark.operators.txn import (
    TxnAbortedError,
    VtTransaction,
    vt_transaction,
)


def _mk_pair(spark, tmp_path, files=4):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    dfa = spark.range(400).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    dfb = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("w")
    )
    VT.vt_create(dfa, a)
    VT.vt_optimize(spark, a, cluster_cols=["k"],
                   max_records_per_file=400 // files)
    VT.vt_create(dfb, b)
    return a, b, dfa, dfb


def _chg(spark, lo, hi, val):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), F.lit(val).cast("long").alias("v"),
        F.lit("U").alias("op"),
    )


def test_commit_lands_both_atomically(spark, tmp_path):
    a, b, _dfa, _dfb = _mk_pair(spark, tmp_path)
    coord = str(tmp_path / "coord")
    va, vb = VT.vt_latest_version(a), VT.vt_latest_version(b)
    extra = spark.range(200, 230).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("w")
    )
    with vt_transaction(spark, coord) as txn:
        txn.stage_merge(a, _chg(spark, 0, 25, 999), keys=["k"])
        txn.stage_append(b, extra)
        # mid-transaction: NOTHING visible, on either table
        assert VT.vt_latest_version(a) == va
        assert VT.vt_latest_version(b) == vb
    assert VT.vt_latest_version(a) == va + 1
    assert VT.vt_latest_version(b) == vb + 1
    assert VT.vt_read(spark, a).filter(F.col("v") == 999).count() == 25
    assert VT.vt_read(spark, b).count() == 230
    assert not os.path.exists(TX._lock_path(a))
    assert not os.path.exists(TX._lock_path(b))
    # audit lineage: both committed manifests carry the SAME txn id
    ma = VT._read_manifest(a, va + 1)
    mb = VT._read_manifest(b, vb + 1)
    assert ma.get("txn") and ma["txn"] == mb["txn"]


def test_abort_leaves_nothing_and_versions_contiguous(spark, tmp_path):
    a, b, _dfa, _dfb = _mk_pair(spark, tmp_path)
    coord = str(tmp_path / "coord")
    va, vb = VT.vt_latest_version(a), VT.vt_latest_version(b)
    with pytest.raises(RuntimeError, match="boom"):
        with vt_transaction(spark, coord) as txn:
            txn.stage_merge(a, _chg(spark, 0, 10, 111), keys=["k"])
            txn.stage_merge(b, spark.range(5).select(
                F.col("id").alias("k"), F.lit(7).cast("long").alias("w"),
                F.lit("U").alias("op"),
            ), keys=["k"])
            raise RuntimeError("boom")
    assert VT.vt_latest_version(a) == va
    assert VT.vt_latest_version(b) == vb
    assert VT.vt_read(spark, a).filter(F.col("v") == 111).count() == 0
    # next single-table write takes the NEXT version (no gap)
    v = VT.vt_merge(spark, a, _chg(spark, 0, 5, 5), keys=["k"])
    assert v == va + 1


def test_same_table_twice_refused(spark, tmp_path):
    a, b, _dfa, _dfb = _mk_pair(spark, tmp_path)
    txn = VtTransaction(spark, str(tmp_path / "coord"))
    txn.stage_merge(a, _chg(spark, 0, 5, 1), keys=["k"])
    with pytest.raises(ValueError, match="already staged"):
        txn.stage_merge(a, _chg(spark, 5, 9, 2), keys=["k"])
    txn.abort()


def _stage_and_reserve(spark, a, b, coord, lease=0.4):
    """Drive a transaction to the reserved-but-undecided state, then
    abandon it (the crash-between-reservation-and-decision shape)."""
    txn = VtTransaction(spark, coord, lease=lease)
    txn.stage_merge(a, _chg(spark, 0, 20, 445), keys=["k"])
    txn.stage_append(b, spark.range(200, 210).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("w")
    ))
    TX._local.txn_id = txn.txn_id
    try:
        txn._acquire_locks()
        reserved = txn._validate_and_reserve()
    finally:
        TX._local.txn_id = None
    return txn, reserved


def test_crash_before_decision_is_rolled_back_by_lease(spark, tmp_path):
    a, b, _dfa, _dfb = _mk_pair(spark, tmp_path)
    coord = str(tmp_path / "coord")
    va, vb = VT.vt_latest_version(a), VT.vt_latest_version(b)
    txn, reserved = _stage_and_reserve(spark, a, b, coord, lease=0.4)
    # reservations exist on disk but are INVISIBLE
    assert os.path.exists(VT._manifest_path(a, reserved[a]))
    assert VT.vt_latest_version(a) == va
    assert VT.vt_latest_version(b) == vb
    assert VT.vt_read(spark, a).filter(F.col("v") == 445).count() == 0
    time.sleep(0.5)  # lease expires
    # the next writer's barrier aborts the dead transaction and lands
    v = VT.vt_merge(spark, a, _chg(spark, 0, 5, 5), keys=["k"])
    assert v == va + 1, "rolled-back reservation must free its slot"
    assert not os.path.exists(VT._manifest_path(a, reserved[a]) + ".txn")
    assert TX._decision_state(txn.decision_path) == "aborted"
    # table b resolves on its next touch too
    vb2 = VT.vt_merge(spark, b, spark.range(3).select(
        F.col("id").alias("k"), F.lit(1).cast("long").alias("w"),
        F.lit("U").alias("op"),
    ), keys=["k"])
    assert vb2 == vb + 1
    assert VT.vt_read(spark, b).count() == 200


def test_crash_after_decision_rolls_forward(spark, tmp_path):
    a, b, _dfa, _dfb = _mk_pair(spark, tmp_path)
    coord = str(tmp_path / "coord")
    va, vb = VT.vt_latest_version(a), VT.vt_latest_version(b)
    txn, reserved = _stage_and_reserve(spark, a, b, coord, lease=0.4)
    # neither table visible yet...
    assert VT.vt_latest_version(a) == va
    # ... then the DECISION lands (and the finalizer dies)
    assert TX._write_decision(txn.decision_path, "committed")
    # ATOMIC visibility: both tables show the new version instantly,
    # markers or not
    assert VT.vt_latest_version(a) == reserved[a] == va + 1
    assert VT.vt_latest_version(b) == reserved[b] == vb + 1
    assert VT.vt_read(spark, a).filter(F.col("v") == 445).count() == 20
    assert VT.vt_read(spark, b).count() == 210
    # the next writer's barrier finishes the cleanup
    time.sleep(0.5)
    VT.vt_merge(spark, a, _chg(spark, 0, 3, 6), keys=["k"])
    assert not os.path.exists(TX._lock_path(a))
    assert not os.path.exists(
        VT._manifest_path(a, reserved[a]) + ".txn"
    )


def test_inflight_lock_blocks_writers_without_breaking_lease(
    spark, tmp_path
):
    a, b, _dfa, _dfb = _mk_pair(spark, tmp_path)
    # a FRESH lock (lease not expired): single-table commits must fail
    # loudly instead of slipping a version under the transaction
    with open(TX._lock_path(a), "w") as fh:
        json.dump({"id": "someoneelse", "lease": 300.0,
                   "decision": str(tmp_path / "coord" / "x.decision"),
                   "ts": time.time()}, fh)
    try:
        with pytest.raises(VT.VersionConflictError):
            VT.vt_merge(spark, a, _chg(spark, 0, 5, 1), keys=["k"])
    finally:
        os.remove(TX._lock_path(a))
    # lock gone: the same merge lands
    VT.vt_merge(spark, a, _chg(spark, 0, 5, 1), keys=["k"])


def _mk_narrow(spark, path):
    """A 4-row table whose ``v`` is an int, so every writer below —
    the widen included — has something to commit."""
    VT.vt_create(spark.range(4).select(
        F.col("id").alias("k"), (F.col("id") * 10).cast("int").alias("v"),
    ), path)


def _hold_lock(table, coord):
    """Plant another transaction's lock with a live 300 s lease."""
    with open(TX._lock_path(table), "w") as fh:
        json.dump({"id": "someoneelse", "lease": 300.0,
                   "decision": os.path.join(coord, "x.decision"),
                   "ts": time.time()}, fh)


def _sink_append(spark, table):
    from kinesis_app_spark.sources import vt_writer as W

    conn = W._conn({"path": table}, StructType.fromJson(
        VT._read_manifest(table, VT.vt_latest_version(table))["schema"]
    ))
    msg = W._stage_rows(conn, iter([(100, 1000)]))
    W._append_staged(conn, [msg], None)


_LOCKED_WRITERS = {
    "merge": lambda spark, t: VT.vt_merge(
        spark, t, spark.createDataFrame(
            [(1, 11, "U")], "k long, v int, op string"
        ), keys=["k"],
    ),
    "update": lambda spark, t: VT.vt_update(
        spark, t, [("k", "=", 1)], {"v": "v + 1"}
    ),
    "delete_dv": lambda spark, t: VT.vt_delete_dv(
        spark, t, [("k", "=", 3)]
    ),
    "add_constraint": lambda spark, t: VT.vt_add_constraint(
        spark, t, "v_nonneg", "v >= 0"
    ),
    "widen_column": lambda spark, t: VT.vt_widen_column(t, "v", "long"),
    "sink_append": _sink_append,
}


@pytest.mark.parametrize("writer", sorted(_LOCKED_WRITERS))
def test_live_lock_is_waited_out_not_spun_against(
    spark, tmp_path, monkeypatch, writer
):
    """A transaction's live lock released while a writer's commit waits
    at the barrier: the writer enters the barrier once, commits exactly
    one version after the release, and nothing lands while the lock is
    held."""
    table = str(tmp_path / "t")
    _mk_narrow(spark, table)
    v0 = VT.vt_latest_version(table)
    _hold_lock(table, str(tmp_path / "coord"))
    seen = {"barrier_hits": 0, "tip_at_release": None}

    def release():
        seen["tip_at_release"] = VT.vt_latest_version(table)
        os.remove(TX._lock_path(table))

    timer = threading.Timer(0.5, release)

    real_resolve = TX._resolve_table

    def barrier(table_dir):
        if os.path.exists(TX._lock_path(table_dir)):
            seen["barrier_hits"] += 1
            if seen["barrier_hits"] == 1:
                timer.start()
        return real_resolve(table_dir)

    monkeypatch.setattr(TX, "_resolve_table", barrier)
    _LOCKED_WRITERS[writer](spark, table)
    timer.join(timeout=5)
    assert not timer.is_alive()
    assert seen["barrier_hits"] == 1
    assert seen["tip_at_release"] == v0
    assert VT.vt_latest_version(table) == v0 + 1


@pytest.mark.parametrize("writer,planner", [
    ("delete_dv", "_plan_delete_dv"),
    ("add_constraint", "vt_read"),
])
def test_never_released_lock_fails_once_with_the_lock_error(
    spark, tmp_path, monkeypatch, writer, planner
):
    """Under a lock that is never released, a re-planning writer scans
    (or validates) once, waits out the barrier and raises the lock
    error — not a starvation error after re-planning 50 times — and
    leaves no staged files behind."""
    table = str(tmp_path / "t")
    _mk_narrow(spark, table)
    v0 = VT.vt_latest_version(table)
    _hold_lock(table, str(tmp_path / "coord"))
    calls = []
    real_plan = getattr(VT, planner)

    def counting(*args, **kwargs):
        calls.append(1)
        return real_plan(*args, **kwargs)

    monkeypatch.setattr(VT, planner, counting)
    t0 = time.monotonic()
    try:
        with pytest.raises(VT.TableLockedError, match="locked"):
            _LOCKED_WRITERS[writer](spark, table)
    finally:
        os.remove(TX._lock_path(table))
    assert time.monotonic() - t0 >= 2.0  # the barrier waited it out
    assert len(calls) == 1
    assert VT.vt_latest_version(table) == v0
    dv_root = os.path.join(table, "_dv")
    assert not os.path.isdir(dv_root) or os.listdir(dv_root) == []


def test_merge_raises_the_lock_error_after_one_plan(
    spark, tmp_path, monkeypatch
):
    """Under a lock that is never released, ``vt_merge`` plans once
    (one join, one file write) and raises ``TableLockedError``: the
    barrier already waited the lock out, so re-planning could only
    repeat the same wait. Nothing is committed or left staged."""
    table = str(tmp_path / "t")
    _mk_narrow(spark, table)
    v0 = VT.vt_latest_version(table)
    _hold_lock(table, str(tmp_path / "coord"))
    calls = []
    real_write = VT._write_files_with_stats

    def counting(*args, **kwargs):
        calls.append(1)
        return real_write(*args, **kwargs)

    monkeypatch.setattr(VT, "_write_files_with_stats", counting)
    chg = spark.createDataFrame([(1, 11, "U")], "k long, v int, op string")
    try:
        with pytest.raises(VT.TableLockedError, match="locked"):
            VT.vt_merge(spark, table, chg, keys=["k"])
    finally:
        os.remove(TX._lock_path(table))
    assert len(calls) == 1
    assert VT.vt_latest_version(table) == v0
    assert len(os.listdir(os.path.join(table, "data"))) == 1


def test_finalize_conflict_aborts_cleanly(spark, tmp_path):
    """An OVERLAPPING single-table commit that lands between staging
    and finalize must abort the transaction — and the interloper's
    commit survives untouched."""
    a, b, _dfa, _dfb = _mk_pair(spark, tmp_path)
    coord = str(tmp_path / "coord")
    txn = VtTransaction(spark, coord)
    txn.stage_merge(a, _chg(spark, 0, 20, 7), keys=["k"])
    txn.stage_append(b, spark.range(200, 205).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("w")
    ))
    # interloper rewrites the same keys (same files) on table a
    v_interloper = VT.vt_merge(
        spark, a, _chg(spark, 0, 20, 13), keys=["k"]
    )
    vb = VT.vt_latest_version(b)
    with pytest.raises(TxnAbortedError):
        txn.commit()
    assert VT.vt_latest_version(a) == v_interloper
    assert VT.vt_read(spark, a).filter(F.col("v") == 13).count() == 20
    assert VT.vt_read(spark, a).filter(F.col("v") == 7).count() == 0
    assert VT.vt_latest_version(b) == vb, (
        "the append must not land when the sibling merge aborted"
    )
    assert not os.path.exists(TX._lock_path(a))


def test_finalize_rebase_over_disjoint_commit(spark, tmp_path):
    """A DISJOINT commit landing between staging and finalize is
    rebased over (the vt_merge discipline): the transaction still
    lands, one version later, with both effects present."""
    a, b, _dfa, _dfb = _mk_pair(spark, tmp_path)
    coord = str(tmp_path / "coord")
    txn = VtTransaction(spark, coord)
    txn.stage_merge(a, _chg(spark, 0, 20, 7), keys=["k"])
    txn.stage_append(b, spark.range(200, 205).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("w")
    ))
    # interloper touches a DIFFERENT key range (different files on the
    # clustered table)
    v_i = VT.vt_merge(spark, a, _chg(spark, 350, 380, 9), keys=["k"])
    got = txn.commit()
    assert got[a] == v_i + 1
    assert VT.vt_read(spark, a).filter(F.col("v") == 7).count() == 20
    assert VT.vt_read(spark, a).filter(F.col("v") == 9).count() == 30
    assert VT.vt_read(spark, b).count() == 205


def test_txn_merger_exactly_once_and_torn_ledger_guard(spark, tmp_path):
    """The multi-table foreachBatch merger: a replayed epoch is a
    no-op on BOTH tables; a torn ledger (impossible through the sink)
    is refused loudly."""
    from kinesis_app_spark.operators.txn import (
        vt_foreach_batch_txn_merger,
    )

    fact = str(tmp_path / "fact")
    roll = str(tmp_path / "roll")
    coord = str(tmp_path / "coord")
    VT.vt_create(spark.range(0).select(
        F.col("id").alias("k"), (F.col("id")).alias("v")
    ), fact)
    VT.vt_create(spark.createDataFrame(
        [], "grp long, n long"
    ), roll)

    def derive_fact(b):
        return b.withColumn("op", F.lit("U"))

    def derive_roll(b):
        agg = b.groupBy((F.col("k") % 3).alias("grp")).agg(
            F.count(F.lit(1)).alias("d")
        )
        cur = VT.vt_read(spark, roll)
        return (
            agg.join(cur, "grp", "left")
            .select(
                "grp",
                (F.coalesce(F.col("n"), F.lit(0)) + F.col("d"))
                .cast("long").alias("n"),
            )
            .withColumn("op", F.lit("U"))
        )

    sink = vt_foreach_batch_txn_merger(spark, coord, [
        {"table_dir": fact, "derive": derive_fact, "keys": ["k"]},
        {"table_dir": roll, "derive": derive_roll, "keys": ["grp"]},
    ])
    batch = spark.range(30).select(
        F.col("id").alias("k"), (F.col("id") * 7).alias("v")
    )
    sink(batch, 0)
    vf, vr = VT.vt_latest_version(fact), VT.vt_latest_version(roll)
    n_roll = sorted(VT.vt_read(spark, roll).collect())
    sink(batch, 0)  # REPLAY: must be a no-op on both tables
    assert VT.vt_latest_version(fact) == vf
    assert VT.vt_latest_version(roll) == vr
    assert sorted(VT.vt_read(spark, roll).collect()) == n_roll
    assert [r["n"] for r in n_roll] == [10, 10, 10]
    # a SECOND epoch accumulates
    sink(spark.range(30, 45).select(
        F.col("id").alias("k"), (F.col("id") * 7).alias("v")
    ), 1)
    assert sorted(
        r["n"] for r in VT.vt_read(spark, roll).collect()
    ) == [15, 15, 15]
    # torn ledger: fake an epoch present in one table only
    VT.vt_merge(spark, fact, spark.range(1).select(
        F.col("id").alias("k"), F.lit(1).cast("long").alias("v"),
        F.lit("U").alias("op"),
    ), keys=["k"], batch_id=7)
    with pytest.raises(RuntimeError, match="some tables but not all"):
        sink(batch, 7)


def test_stage_delete_and_update_atomic_gdpr_purge(spark, tmp_path):
    """Predicate DML inside a transaction — the cross-table GDPR
    purge: the id leaves table A (DELETE) and is redacted in table B
    (UPDATE) atomically; the abort path leaves both intact."""
    a, b, _dfa, _dfb = _mk_pair(spark, tmp_path)
    coord = str(tmp_path / "coord")
    va, vb = VT.vt_latest_version(a), VT.vt_latest_version(b)
    with vt_transaction(spark, coord) as txn:
        txn.stage_delete(a, [("k", "<", 10)])
        txn.stage_update(b, [("k", "<", 5)], {"w": "-1"})
    assert VT.vt_latest_version(a) == va + 1
    assert VT.vt_latest_version(b) == vb + 1
    assert VT.vt_read(spark, a).filter(F.col("k") < 10).count() == 0
    assert VT.vt_read(spark, b).filter(F.col("w") == -1).count() == 5
    # abort path: both stay intact
    try:
        with vt_transaction(spark, coord) as txn:
            txn.stage_delete(a, [("k", ">=", 390)])
            txn.stage_update(b, [("k", ">=", 190)], {"w": "-2"})
            raise RuntimeError("abort")
    except RuntimeError:
        pass
    assert VT.vt_read(spark, a).filter(F.col("k") >= 390).count() == 10
    assert VT.vt_read(spark, b).filter(F.col("w") == -2).count() == 0


def test_second_txn_never_breaks_a_live_lease(spark, tmp_path):
    """Two transactions racing on the same table: the second must NOT
    abort the first's healthy (unexpired) lease — it gives up on the
    lock itself, and the first still commits."""
    a, b, _dfa, _dfb = _mk_pair(spark, tmp_path)
    coord = str(tmp_path / "coord")
    t1, reserved = _stage_and_reserve(spark, a, b, coord, lease=60.0)
    t2 = VtTransaction(spark, coord, lease=60.0)
    t2.stage_merge(a, _chg(spark, 30, 40, 21), keys=["k"])
    with pytest.raises(TxnAbortedError, match="could not lock"):
        t2.commit()
    assert TX._decision_state(t1.decision_path) is None, (
        "the loser must not have broken the live lease"
    )
    # the first transaction finishes normally
    assert TX._write_decision(t1.decision_path, "committed")
    for d in (a, b):
        TX._finish_committed(d, t1.txn_id)
    assert VT.vt_latest_version(a) == reserved[a]
    assert VT.vt_read(spark, a).filter(F.col("v") == 445).count() == 20


def test_cdf_tail_sees_txn_versions_only_after_decision(spark, tmp_path):
    """The change-feed tail (the vt_cdf stream through foreach_version)
    respects transactional visibility: an undecided reservation delivers
    nothing; the moment the decision commits, exactly that version
    arrives, once."""
    from kinesis_app_spark.registry_round6 import _drain_cdf
    from kinesis_app_spark.sources.vt_cdf import foreach_version

    a, b, _dfa, _dfb = _mk_pair(spark, tmp_path)
    coord = str(tmp_path / "coord")
    ckpt = str(tmp_path / "ckpt")
    seen: list[int] = []

    def apply_fn(changes, version):
        seen.append(version)
        changes.count()

    def tail():
        _drain_cdf(spark, a, "k", foreach_version(apply_fn), ckpt,
                   "txn cdf tail")

    tail()
    pre = list(seen)
    txn, reserved = _stage_and_reserve(spark, a, b, coord, lease=60.0)
    tail()
    assert seen == pre, "undecided reservation must deliver nothing"
    assert TX._write_decision(txn.decision_path, "committed")
    tail()
    assert seen == pre + [reserved[a]], (
        "the decided version must arrive exactly once"
    )
    for d in (a, b):
        TX._finish_committed(d, txn.txn_id)


def test_vacuum_sweeps_orphaned_txn_data_dirs(spark, tmp_path):
    """A transaction that staged a rewrite and DIED before finalize
    leaves a data dir no manifest references. An undecided staging is
    indistinguishable from a long-OPEN transaction (the round-7 advice
    defect: sweeping by TTL alone corrupted slow transactions), so the
    sweep only fires once the staging registration's grace expires —
    and never touches referenced dirs."""
    import glob

    a, b, _dfa, _dfb = _mk_pair(spark, tmp_path)
    txn = VtTransaction(spark, str(tmp_path / "coord"))
    txn.stage_merge(a, _chg(spark, 0, 20, 445), keys=["k"])
    txn_id = txn.txn_id
    orphan = txn._staged[0]["data_dir"]
    assert os.path.isdir(orphan)
    # the process "dies" here: no finalize, no abort
    del txn
    # within the staging grace the dir is protected — it may be a LIVE
    # transaction mid-join, and deleting it would corrupt its commit
    VT.vt_vacuum(a, stage_ttl_seconds=0.0)
    assert os.path.isdir(orphan), "in-grace staging must survive"
    # age the registration past the grace (the stager is truly dead:
    # it never locked, so no lease-breaker will ever decide it)
    reg = TX._staging_reg_path(a, txn_id)
    with open(reg) as fh:
        rec = json.load(fh)
    rec["ts"] = time.time() - 2 * VT._TXN_STAGING_GRACE_SECONDS
    with open(reg, "w") as fh:
        json.dump(rec, fh)
    before = set(glob.glob(os.path.join(a, "data", "*")))
    VT.vt_vacuum(a, stage_ttl_seconds=0.0)  # drops the aged reg and
    # sweeps the now-unprotected dir in the same pass
    after = set(glob.glob(os.path.join(a, "data", "*")))
    assert not os.path.isdir(orphan), "aged orphan must be swept"
    assert before - after == {orphan}, "only the orphan may go"
    got = sorted(VT.vt_read(spark, a).collect())
    assert len(got) == 400 and all(r["v"] != 445 for r in got)


def test_rollback_never_deletes_a_foreign_manifest(spark, tmp_path):
    """The orphaned-marker hazard: a reservation writes its marker
    BEFORE attempting the slot; if a sneaked-in writer took the version
    first and the finalizer died, the marker sits on SOMEONE ELSE'S
    committed manifest. Lease-breaking rollback must remove the marker
    but KEEP the foreign manifest (ownership = the manifest's txn
    stamp)."""
    a, b, _dfa, _dfb = _mk_pair(spark, tmp_path)
    v = VT.vt_merge(spark, a, _chg(spark, 0, 5, 21), keys=["k"])
    decision = str(tmp_path / "coord" / "deadbeef.decision")
    # the dead finalizer's leftovers: marker on v, expired lock
    mk = TX._marker_path(a, v)
    with open(mk, "w") as fh:
        json.dump({"id": "deadbeef", "decision": decision}, fh)
    assert TX._atomic_create(TX._lock_path(a), {
        "id": "deadbeef", "decision": decision, "lease": 0.0,
        "ts": time.time(),
    })
    # while unresolved: the tip is (conservatively) invisible
    assert VT.vt_latest_version(a) == v - 1
    time.sleep(0.05)
    # the next writer's barrier resolves: aborts the dead txn, drops
    # the marker, KEEPS the foreign manifest. The writer planned
    # against the stale (stepped-back) tip, so its commit goes through
    # the ordinary conflict detection and, on overlap, re-plans against
    # the restored tip.
    v2 = VT.vt_merge(spark, a, _chg(spark, 5, 9, 23), keys=["k"])
    assert v2 == v + 1, "the foreign manifest must survive rollback"
    assert not os.path.exists(mk)
    assert VT.vt_read(spark, a).filter(F.col("v") == 21).count() == 5


def test_stage_delete_dv_atomic_no_rewrite_purge(spark, tmp_path):
    """The CHEAP GDPR half inside a transaction: a deletion-vector
    delete on table A (no data file rewritten) lands atomically with a
    merge on table B; the abort path leaves both intact and removes
    the orphan sidecar."""
    import glob

    a, b, _dfa, _dfb = _mk_pair(spark, tmp_path)
    coord = str(tmp_path / "coord")
    files_before = sorted(
        glob.glob(os.path.join(a, "data", "**", "*.parquet"),
                  recursive=True)
    )
    with vt_transaction(spark, coord) as txn:
        txn.stage_delete_dv(a, [("k", "in", [7, 11])])
        txn.stage_merge(b, spark.range(3).select(
            F.col("id").alias("k"), F.lit(901).cast("long").alias("w"),
            F.lit("U").alias("op"),
        ), keys=["k"])
    assert sorted(
        glob.glob(os.path.join(a, "data", "**", "*.parquet"),
                  recursive=True)
    ) == files_before, "a DV delete must rewrite no data file"
    assert VT.vt_read(spark, a).filter(
        F.col("k").isin(7, 11)
    ).count() == 0
    assert VT.vt_read(spark, b).filter(F.col("w") == 901).count() == 3
    # abort path: rows stay, the attempt's sidecar is removed
    try:
        with vt_transaction(spark, coord) as txn:
            txn.stage_delete_dv(a, [("k", "in", [13])])
            sidecar = txn._staged[0]["data_dir"]
            assert os.path.isdir(sidecar)
            raise RuntimeError("abort")
    except RuntimeError:
        pass
    assert VT.vt_read(spark, a).filter(F.col("k") == 13).count() > 0
    assert not os.path.isdir(sidecar), "aborted sidecar must be removed"


def test_txn_vacuum_drops_only_aged_aborted_decisions(spark, tmp_path):
    from kinesis_app_spark.operators.txn import txn_vacuum

    a, b, _dfa, _dfb = _mk_pair(spark, tmp_path)
    coord = str(tmp_path / "coord")
    with vt_transaction(spark, coord) as t1:  # commits
        t1.stage_append(b, spark.range(1).select(
            F.col("id").alias("k"), F.lit(1).cast("long").alias("w"),
        ))
    t2 = VtTransaction(spark, coord)
    t2.stage_merge(a, _chg(spark, 0, 3, 9), keys=["k"])
    t2.abort()
    assert txn_vacuum(coord, ttl_seconds=0.0) == 1, (
        "exactly the aborted decision goes"
    )
    assert os.path.exists(t1.decision_path), (
        "committed decisions are kept — a pending marker may still "
        "point at one"
    )
    assert not os.path.exists(t2.decision_path)


def test_reader_steps_back_past_undecided_tip_only(spark, tmp_path):
    """vt_read/vt_history through the visible tip while a reservation
    is pending; full content returns the pre-txn state."""
    a, b, dfa, _dfb = _mk_pair(spark, tmp_path)
    coord = str(tmp_path / "coord")
    va = VT.vt_latest_version(a)
    txn, reserved = _stage_and_reserve(spark, a, b, coord, lease=60.0)
    try:
        assert VT.vt_latest_version(a) == va
        got = sorted(VT.vt_read(spark, a).collect())
        want = sorted(dfa.collect())
        assert got == want
    finally:
        TX._local.txn_id = txn.txn_id
        try:
            txn._rollback_all()
        finally:
            TX._local.txn_id = None
