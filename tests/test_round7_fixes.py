"""Regression tests for the round-6 ADVICE.md fixes (applied round 7):

- vt_table sink: epoch ledger re-checked after every lost commit race
  (a zombie committer of the SAME batchId must not double-append);
- vt_cdf: null-key rows survive component sub-splitting (exactly one
  sub-task owns them, via the unbounded-lo is-null disjunct);
- vt_delete_dv: a lost commit race removes the attempt's DV sidecar;
- vt_vacuum: aged _stage/ orphans are swept;
- vt_version_at_timestamp: non-monotonic commit clocks are clamped.
"""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from kinesis_app_spark.operators import versioned as VT


def _mk_table(spark, path, n=10, with_null_key=False):
    df = spark.range(n).select(
        F.col("id").cast("long").alias("k"),
        (F.col("id") * 10).cast("long").alias("v"),
    )
    if with_null_key:
        null_row = spark.createDataFrame(
            [(None, 999)], "k long, v long"
        )
        df = df.unionByName(null_row)
    VT.vt_create(df, path)
    return df


# ---------------------------------------------------------------------
# vt_table sink: ledger re-check inside the commit spin loop (medium)
# ---------------------------------------------------------------------


def test_sink_zombie_same_batchid_does_not_double_append(
    spark, tmp_path, monkeypatch
):
    """Two committers of the SAME batchId racing (zombie query vs its
    restarted replacement): the loser must detect the epoch in the
    ledger AFTER the lost race and skip, not re-append."""
    from kinesis_app_spark.sources import vt_writer as W

    table = str(tmp_path / "t")
    _mk_table(spark, table, n=4)
    base_version = VT.vt_latest_version(table)

    # stage one parquet file the way a sink task would
    base = VT._read_manifest(table, base_version)
    conn = {
        "path": table,
        "schema_json": json.dumps(VT._manifest_schema(base).jsonValue()),
        "meta": VT._table_meta(base),
    }
    msg = W._stage_rows(
        conn, iter([(100, 1000), (101, 1010)])
    )
    assert msg.path and os.path.isfile(msg.path)

    # simulate the zombie: on the loser's FIRST commit attempt, a
    # competing committer lands the same batch_id at that version first
    real_commit = VT._commit
    state = {"raced": False}

    def racing_commit(table_dir, version, manifest, cleanup_dir=None):
        if not state["raced"] and manifest.get("operation") == "APPEND":
            state["raced"] = True
            zombie = dict(manifest)
            # zombie epoch: same batch_id, its own (empty) file payload
            zombie.update({"add": [], "remove": []})
            zombie.pop("files", None)
            real_commit(table_dir, version, zombie)
            # now the loser's own attempt hits the occupied slot
        return real_commit(table_dir, version, manifest,
                           cleanup_dir=cleanup_dir)

    monkeypatch.setattr(VT, "_commit", racing_commit)
    W._append_staged(conn, [msg], batch_id=7)
    monkeypatch.setattr(VT, "_commit", real_commit)

    # exactly ONE new version (the zombie's) — the loser skipped
    assert VT.vt_latest_version(table) == base_version + 1
    assert VT.vt_committed_batch_ids(table) == {7}
    # the loser's promoted-but-unreferenced files were removed
    rows = VT.vt_read(spark, table).count()
    assert rows == 4  # zombie's payload was empty; no double-append
    # the loser's promoted directory (v00001_*) was removed wholesale —
    # only v0's data dirs remain (the zombie added no files)
    data_root = os.path.join(table, "data")
    assert all(
        d.startswith("v00000_") for d in os.listdir(data_root)
    )


def test_merge_sink_zombie_same_batchid_does_not_double_apply(
    spark, tmp_path, monkeypatch
):
    """The foreachBatch MERGE sink gets the same ledger re-check: a
    lost race whose winner already holds this epoch's batchId returns
    without committing and drops the loser's staged files."""
    table = str(tmp_path / "t")
    _mk_table(spark, table, n=4)
    base_version = VT.vt_latest_version(table)
    real_commit = VT._commit
    state = {"raced": False}

    def racing_commit(table_dir, version, manifest, cleanup_dir=None):
        if not state["raced"] and manifest.get("operation") == "MERGE":
            state["raced"] = True
            # zombie epoch: same batch_id, an empty file payload
            zombie = {**manifest, "add": [], "remove": []}
            zombie.pop("files", None)
            real_commit(table_dir, version, zombie)
        return real_commit(table_dir, version, manifest,
                           cleanup_dir=cleanup_dir)

    monkeypatch.setattr(VT, "_commit", racing_commit)
    VT.vt_foreach_batch_merger(spark, table, keys=["k"])(
        spark.createDataFrame([(1, -1, "U")], "k long, v long, op string"),
        7,
    )
    monkeypatch.setattr(VT, "_commit", real_commit)

    assert VT.vt_latest_version(table) == base_version + 1
    assert VT.vt_committed_batch_ids(table) == {7}
    assert VT.vt_read(spark, table).filter("v = -1").count() == 0
    assert all(
        d.startswith("v00000_")
        for d in os.listdir(os.path.join(table, "data"))
    )


# ---------------------------------------------------------------------
# vt_cdf: null-key rows under component sub-splitting (low)
# ---------------------------------------------------------------------


def test_cdf_subsplit_keeps_null_key_rows(spark, tmp_path, monkeypatch):
    """A split component must report the same change set as an unsplit
    one — including rows whose merge key is NULL (they fail every range
    predicate, so pre-fix they vanished from all sub-ranges)."""
    from kinesis_app_spark.sources import vt_cdf as CDF

    table = str(tmp_path / "t")
    # v0: keys 0..9 plus one null-key row, in several files
    df = spark.range(10).select(
        F.col("id").cast("long").alias("k"),
        (F.col("id") * 10).cast("long").alias("v"),
    ).unionByName(
        spark.createDataFrame([(None, 999)], "k long, v long")
    ).repartition(3)
    VT.vt_create(df, table)
    # v1: delete the null-key row and update k=5 by rewriting every file
    # through a full OPTIMIZE-free merge: use vt_delete on v IN (999,)
    VT.vt_delete(spark, table, [("v", "in", [999, 50])])

    CDF.register(spark)

    def read_cdf():
        return (
            spark.read.format("vt_cdf")
            .option("path", table).option("keys", "k")
            .option("startingVersion", "1")
            .load()
            .select("_change_type", "k", "v")
            .orderBy("_change_type", "k", "v")
            .collect()
        )

    unsplit = read_cdf()
    monkeypatch.setattr(CDF, "_DIFF_SPLIT_ROWS", 1)  # force splitting
    split = read_cdf()
    assert split == unsplit
    # the null-key delete is present exactly once
    null_deletes = [
        r for r in split
        if r["_change_type"] == "delete" and r["k"] is None
    ]
    assert len(null_deletes) == 1


def test_cdf_split_first_subrange_owns_every_file():
    """Planning: the unbounded-lo first sub-range includes ALL of the
    component's files (null-key rows can hide in any of them — manifest
    min/max ignore nulls)."""
    from kinesis_app_spark.sources import vt_cdf as CDF

    def fe(path, lo, hi, n):
        return {"path": path, "n_rows": n, "stats": {"k": [lo, hi]}}

    ga = [fe("a1", 0, 9, 5), fe("a2", 10, 19, 5)]
    gb = [fe("b1", 0, 9, 5), fe("b2", 10, 19, 5)]
    import unittest.mock as mock

    with mock.patch.object(CDF, "_DIFF_SPLIT_ROWS", 1):
        subs = CDF._split_component(ga, gb, "k")
    assert len(subs) >= 2
    first = next(s for s in subs if s[2][0] is None)
    assert len(first[0]) == len(ga) and len(first[1]) == len(gb)
    # later sub-ranges stay range-pruned (not everything everywhere)
    later = [s for s in subs if s[2][0] is not None]
    assert any(len(s[0]) < len(ga) for s in later)


# ---------------------------------------------------------------------
# vt_delete_dv: sidecar removed on a lost commit race (low)
# ---------------------------------------------------------------------


def test_delete_dv_lost_race_removes_sidecar(spark, tmp_path, monkeypatch):
    table = str(tmp_path / "t")
    _mk_table(spark, table, n=8)

    real_commit = VT._commit

    def losing_commit(table_dir, version, manifest, cleanup_dir=None):
        if manifest.get("operation") == "DELETE_DV":
            raise VT.VersionConflictError("simulated lost race")
        return real_commit(table_dir, version, manifest,
                           cleanup_dir=cleanup_dir)

    monkeypatch.setattr(VT, "_commit", losing_commit)
    with pytest.raises(VT.VersionConflictError):
        VT.vt_delete_dv(spark, table, [("k", "=", 3)])
    monkeypatch.setattr(VT, "_commit", real_commit)

    dv_root = os.path.join(table, "_dv")
    orphans = os.listdir(dv_root) if os.path.isdir(dv_root) else []
    assert orphans == []  # the attempt's sidecar was cleaned up
    # and a subsequent (un-raced) delete still works end to end
    v = VT.vt_delete_dv(spark, table, [("k", "=", 3)])
    assert v == VT.vt_latest_version(table)
    assert VT.vt_read(spark, table).filter("k = 3").count() == 0


# ---------------------------------------------------------------------
# vt_vacuum: aged _stage orphans swept (low)
# ---------------------------------------------------------------------


def test_vacuum_sweeps_aged_stage_orphans(spark, tmp_path):
    table = str(tmp_path / "t")
    _mk_table(spark, table, n=4)
    stage = os.path.join(table, "_stage")
    os.makedirs(stage, exist_ok=True)
    old = os.path.join(stage, "dead-task-attempt.parquet")
    fresh = os.path.join(stage, "live-epoch.parquet")
    for p in (old, fresh):
        with open(p, "wb") as fh:
            fh.write(b"x")
    os.utime(old, (time.time() - 7200, time.time() - 7200))
    VT.vt_vacuum(table, retain_last=2, stage_ttl_seconds=3600)
    assert not os.path.exists(old)       # orphan swept
    assert os.path.exists(fresh)         # live epoch's file untouched


# ---------------------------------------------------------------------
# vt_version_at_timestamp: monotonic clamp (low)
# ---------------------------------------------------------------------


def _restamp(table, stamps):
    for v, t in enumerate(stamps):
        p = VT._manifest_path(table, v)
        with open(p) as fh:
            m = json.load(fh)
        m["committed_at"] = t
        with open(p, "w") as fh:
            json.dump(m, fh)


def test_timestamp_as_of_clamps_clock_stepback(spark, tmp_path):
    table = str(tmp_path / "t")
    _mk_table(spark, table, n=4)
    chg = spark.createDataFrame([(1, 111, "U")], "k long, v long, op string")
    VT.vt_merge(spark, table, chg, keys=["k"])
    VT.vt_merge(
        spark, table,
        spark.createDataFrame([(2, 222, "U")], "k long, v long, op string"),
        keys=["k"],
    )
    # simulate a clock step-back between commits: stamps 100, 50, 60
    _restamp(table, [100.0, 50.0, 60.0])
    # effective (clamped) times are 100, 100, 100
    assert VT.vt_version_at_timestamp(table, 100.0) == 2
    with pytest.raises(ValueError, match="predates"):
        VT.vt_version_at_timestamp(table, 99.0)
    # a later step-back must not let an early ts resolve PAST the spike
    _restamp(table, [10.0, 200.0, 50.0])  # effective: 10, 200, 200
    assert VT.vt_version_at_timestamp(table, 60.0) == 0
    assert VT.vt_version_at_timestamp(table, 200.0) == 2
