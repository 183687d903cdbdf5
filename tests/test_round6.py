"""Round-6 tests: disjoint-commit optimistic concurrency, the
change-feed streaming source, file-targeted dedup-index erasure, and
the crash-safe IVF cell swap.

The reference serializes all progress through one coordinator lock
(/root/reference/src/Kinesis/Coordination.hs); multi-writer table
commits are engine surface per SURVEY.md §2.2 (lakehouse row), modeled
on Delta's conflict-detection rules (public protocol spec).
"""

from __future__ import annotations

import glob
import os

import pytest

from kinesis_app_spark.operators import versioned as VT


def _mk_clustered(spark, tmp_path, n=100, files=4):
    """A versioned table whose v0 is `files` range-clustered files over
    k in [0, n) — the layout where disjoint-key writers touch disjoint
    file sets."""
    table = str(tmp_path / "vt6")
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(n)], "k long, v string"
    ).repartitionByRange(files, "k")
    VT.vt_create(df, table)
    assert len(VT.vt_files(table, 0)) == files
    return table


def _chg(spark, rows):
    return spark.createDataFrame(rows, "k long, v string, op string")


# ---------- disjoint-commit concurrency (round-6 task 4) ----------

def test_disjoint_merges_both_commit_without_reexecution(spark, tmp_path):
    """Two writers race from the same base version on DISJOINT key
    ranges: the first commits normally; the second (stale
    expected_version) must commit via the metadata-only fast path —
    no VersionConflictError — and the final state must equal
    sequential application."""
    table = _mk_clustered(spark, tmp_path)
    v_a = VT.vt_merge(
        spark, table, _chg(spark, [(5, "A", "U")]), keys=["k"],
        expected_version=0,
    )
    assert v_a == 1
    # writer B based its merge on version 0 — by the time it commits,
    # A's commit has landed; keys are file-disjoint, so B must succeed
    v_b = VT.vt_merge(
        spark, table, _chg(spark, [(95, "B", "U")]), keys=["k"],
        expected_version=0,
    )
    assert v_b == 2
    rows = {r["k"]: r["v"] for r in VT.vt_read(spark, table).collect()}
    assert rows[5] == "A" and rows[95] == "B"
    assert len(rows) == 100
    # B's commit is incremental: it added exactly its rewritten file(s)
    # and removed exactly the file(s) it read — never A's
    m2 = VT._read_manifest(table, 2)
    assert "add" in m2 and "remove" in m2
    a_added = {f["path"] for f in VT._read_manifest(table, 1)["add"]}
    assert not (set(m2["remove"]) & a_added)


def test_overlapping_merges_conflict_and_clean_up(spark, tmp_path):
    """Writers whose key ranges land in the same file must NOT take the
    fast path: the loser's staged data files are removed and it
    re-plans against the winner, committing the serial-order table."""
    table = _mk_clustered(spark, tmp_path)
    VT.vt_merge(
        spark, table, _chg(spark, [(5, "A", "U")]), keys=["k"],
        expected_version=0,
    )
    dirs_before = set(glob.glob(os.path.join(table, "data", "v*")))
    v2 = VT.vt_merge(
        spark, table, _chg(spark, [(6, "B", "U")]), keys=["k"],
        expected_version=0,  # stale AND in the file the winner rewrote
    )
    assert v2 == 2
    rows = {r["k"]: r["v"] for r in VT.vt_read(spark, table).collect()}
    assert rows[5] == "A" and rows[6] == "B" and len(rows) == 100
    # exactly one new data dir: the re-plan's; the losing attempt's
    # (planned at version 1) is gone
    new_dirs = set(glob.glob(os.path.join(table, "data", "v*"))) - dirs_before
    assert new_dirs == {VT._read_manifest(table, 2)["data_dir"]}


def test_concurrent_schema_change_conflicts(spark, tmp_path):
    """A concurrent commit that evolved the schema conflicts even when
    the file sets are disjoint — the loser's staged files carry the
    stale schema — so the loser re-plans under the evolved schema."""
    table = _mk_clustered(spark, tmp_path)
    wide = spark.createDataFrame(
        [(5, "A", "U", 1.5)], "k long, v string, op string, w double"
    )
    VT.vt_merge(
        spark, table, wide, keys=["k"], expected_version=0,
        merge_schema=True,
    )
    # the loser evolves the same column from the stale base: its
    # re-plan finds ``w`` already in the table and adds nothing
    v = VT.vt_merge(
        spark, table,
        spark.createDataFrame(
            [(95, "B", "U", 2.5)], "k long, v string, op string, w double"
        ),
        keys=["k"], expected_version=0, merge_schema=True,
    )
    assert v == 2
    rows = {r["k"]: (r["v"], r["w"]) for r in VT.vt_read(spark, table).collect()}
    assert rows[5] == ("A", 1.5) and rows[95] == ("B", 2.5)
    assert rows[50] == ("v50", None) and len(rows) == 100
    m2 = VT._read_manifest(table, 2)
    assert [f["name"] for f in m2["schema"]["fields"]] == ["k", "v", "w"]
    assert all("w" in f["stats"] for f in m2["add"])


# ---------- per-file bloom buckets (secondary-key skipping) ----------

def test_bloom_index_prunes_secondary_key_point_lookup(spark, tmp_path):
    """On a table clustered by k, min/max stats cannot prune a lookup on
    the scattered column s — the per-file bloom buckets can: the scan
    must open a strict file subset and return exactly the filter
    replay."""
    from pyspark.sql import functions as F

    table = str(tmp_path / "vt")
    df = spark.range(200).select(
        F.col("id").alias("k"),
        ((F.col("id") * 37) % 101).alias("s"),
    )
    VT.vt_create(df.repartitionByRange(8, "k"), table)
    v = VT.vt_index_bloom(spark, table, ["s"])
    assert v == 1
    assert VT._read_manifest(table, 1)["operation"] == "BLOOM"
    # observe which files the scan opens
    opened = []
    real = VT._read_snapshot_files

    def spy(spark_, paths, schema):
        opened.append(list(paths))
        return real(spark_, paths, schema)

    VT._read_snapshot_files = spy
    try:
        got = sorted(
            r["k"] for r in VT.vt_scan(spark, table, [("s", "=", 5)]).collect()
        )
    finally:
        VT._read_snapshot_files = real
    expect = sorted(
        r["k"] for r in df.filter("s = 5").collect()
    )
    assert got == expect and got  # non-trivial result
    n_total = len(VT.vt_files(table, 1))
    assert len(opened[0]) < n_total  # bloom actually skipped files
    # idempotent: everything indexed -> no new commit
    assert VT.vt_index_bloom(spark, table, ["s"]) == 1


def test_bloom_index_is_incremental_across_merges(spark, tmp_path):
    """A merge rewrites some files (their blooms drop with them); the
    next vt_index_bloom reads ONLY the un-indexed files, and the scan
    stays exact across the mix of old and new blooms."""
    from pyspark.sql import functions as F

    table = str(tmp_path / "vt")
    df = spark.range(200).select(
        F.col("id").alias("k"),
        ((F.col("id") * 37) % 101).alias("s"),
    )
    VT.vt_create(df.repartitionByRange(8, "k"), table)
    VT.vt_index_bloom(spark, table, ["s"])
    # rewrite one key's file: that file's bloom is gone, others keep theirs
    chg = spark.createDataFrame([(5, 999, "U")], "k long, s long, op string")
    VT.vt_merge(spark, table, chg, keys=["k"])
    files = VT.vt_files(table, 2)
    missing = [f for f in files if "bloom" not in f]
    assert missing and len(missing) < len(files)
    v = VT.vt_index_bloom(spark, table, ["s"])
    assert v == 3
    assert all("bloom" in f for f in VT.vt_files(table, 3))
    got = sorted(
        r["k"] for r in VT.vt_scan(spark, table, [("s", "=", 999)]).collect()
    )
    assert got == [5]
    # the old value at k=5 is gone; its former bucket no longer matches 5
    got5 = sorted(
        r["k"] for r in VT.vt_scan(spark, table, [("s", "=", 5)]).collect()
    )
    assert 5 not in got5 or df.filter("s = 5 and k = 5").count() == 0


# ---------- consolidated streaming batch-id ledger ----------

def test_batch_id_ledger_consolidates_at_checkpoints(spark, tmp_path):
    """Checkpoint commits absorb the cumulative batch-id set, so the
    per-epoch idempotence probe walks back at most one checkpoint
    interval instead of the whole history."""
    table = str(tmp_path / "vt")
    VT.vt_create(
        spark.createDataFrame([(0, "z")], "k long, v string"), table
    )
    for i in range(12):
        VT.vt_merge(
            spark, table, _chg(spark, [(i + 1, f"v{i}", "U")]),
            keys=["k"], batch_id=100 + i,
        )
    assert VT.vt_committed_batch_ids(table) == set(range(100, 112))
    # the checkpoint version carries the consolidated ledger
    m10 = VT._read_manifest(table, 10)
    assert "files" in m10 and set(m10["batch_ids"]) == set(range(100, 110))
    # the probe's walk stops at the nearest ledger: versions below the
    # checkpoint are never read
    reads = []
    real = VT._read_manifest

    def counting(table_dir, version):
        reads.append(version)
        return real(table_dir, version)

    VT._read_manifest = counting
    try:
        assert VT.vt_committed_batch_ids(table) == set(range(100, 112))
    finally:
        VT._read_manifest = real
    assert min(reads) == 10


# ---------- incremental small-file compaction ----------

def _insert_single(spark, table, k):
    VT.vt_merge(
        spark, table, _chg(spark, [(k, f"n{k}", "U")]), keys=["k"]
    )


def test_vt_compact_sweeps_small_files_only(spark, tmp_path):
    """vt_compact coalesces ONLY the files below the threshold; every
    already-large file carries forward by path (byte-identical), and
    row content is unchanged."""
    table = str(tmp_path / "vt")
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(100)], "k long, v string"
    )
    VT.vt_create(df.repartition(10), table)  # 10 × ~10-row files
    v1 = VT.vt_compact(
        spark, table, min_rows_per_file=50, max_records_per_file=50
    )
    assert v1 == 1
    files1 = VT.vt_files(table, 1)
    # 10 small files swept into a handful (coalesce target 2, plus at
    # most one maxRecordsPerFile spill), rows intact
    assert 2 <= len(files1) <= 3
    assert sum(f["n_rows"] for f in files1) == 100
    # two trickle inserts land as two 1-row files
    _insert_single(spark, table, 200)
    _insert_single(spark, table, 201)
    files3 = VT.vt_files(table, 3)
    big_paths = {f["path"] for f in files3 if f["n_rows"] >= 50}
    small_n = len(files3) - len(big_paths)
    assert small_n >= 2
    v4 = VT.vt_compact(spark, table, min_rows_per_file=50)
    assert v4 == 4
    files4 = VT.vt_files(table, 4)
    # full-size files carried by path; every small file swept away
    small_paths = {f["path"] for f in files3} - big_paths
    paths4 = {f["path"] for f in files4}
    assert big_paths <= paths4
    assert not (small_paths & paths4)
    assert len(files4) < len(files3)
    assert VT.vt_read(spark, table).count() == 102
    m = VT._read_manifest(table, 4)
    assert m["operation"] == "COMPACT"
    # nothing to sweep -> no commit
    assert VT.vt_compact(spark, table, min_rows_per_file=50) == 4


def test_vt_compact_co_commits_with_disjoint_merge(spark, tmp_path):
    """Delta's OPTIMIZE-vs-writer story: a merge that lands between the
    compaction's read and its commit co-commits when it touched files
    the compaction did not read; a merge that removed one of the small
    files being compacted forces the conflict."""
    table = str(tmp_path / "vt")
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(100)], "k long, v string"
    )
    VT.vt_create(df.repartitionByRange(2, "k"), table)  # 2 big files
    _insert_single(spark, table, 200)
    _insert_single(spark, table, 201)  # two small files, version 2
    # a racing merge rewrites a BIG file (k=5) after the compaction's base
    VT.vt_merge(spark, table, _chg(spark, [(5, "RACE", "U")]), keys=["k"])
    v = VT.vt_compact(
        spark, table, min_rows_per_file=10, expected_version=2
    )
    assert v == 4  # fast path: committed on top of the racing merge
    rows = {r["k"]: r["v"] for r in VT.vt_read(spark, table).collect()}
    assert rows[5] == "RACE" and rows[200] == "n200" and len(rows) == 102
    # overlap: a delete that kills one of the small files conflicts
    VT.vt_merge(spark, table, _chg(spark, [(300, "x", "U")]), keys=["k"])
    VT.vt_merge(spark, table, _chg(spark, [(301, "y", "U")]), keys=["k"])
    base = VT.vt_latest_version(table)
    VT.vt_merge(spark, table, _chg(spark, [(300, None, "D")]), keys=["k"])
    with pytest.raises(VT.VersionConflictError):
        VT.vt_compact(
            spark, table, min_rows_per_file=10, expected_version=base
        )


# ---------- file-targeted dedup-index erasure (round-6 task 5) ----------

def _docs6(spark, n=120):
    return spark.createDataFrame(
        [(i, f"document number {i} carries its own distinct words "
              f"alpha{i} beta{i} gamma{i} delta{i}") for i in range(n)],
        "doc_id long, text string",
    )


def test_dedup_index_erasure_rewrites_strict_file_subset(spark, tmp_path):
    """After optimize the shingle table is range-clustered on doc id, so
    erasing a few low ids must rewrite only the file(s) holding them —
    the other files carry forward byte-identical (same basenames via
    hardlink) — while still erasing the ids from every probe table."""
    from kinesis_app_spark.operators import dedupindex as DI

    idx = str(tmp_path / "idx")
    DI.dedup_index_build(_docs6(spark), idx)
    DI.dedup_index_optimize(spark, idx, max_records_per_file=16)
    sh_dir = os.path.join(idx, "shingles.parquet")
    before = {
        n for n in os.listdir(sh_dir) if n.endswith(".parquet")
    }
    assert len(before) >= 4  # enough files for subset reasoning
    n = DI.dedup_index_remove(
        spark, idx, spark.createDataFrame([(0,), (1,), (2,)], "doc_id long")
    )
    assert n == 3
    after = {n for n in os.listdir(sh_dir) if n.endswith(".parquet")}
    carried = before & after
    # a strict, non-empty file subset was rewritten
    assert carried and after != before
    assert len(carried) >= len(before) - 2
    # and the erasure is complete in every probe table
    for name in ("fingerprints.parquet", "shingles.parquet", "bands.parquet"):
        tbl = spark.read.parquet(os.path.join(idx, name))
        assert tbl.filter("id IN (0, 1, 2)").count() == 0
    assert spark.read.parquet(sh_dir).count() == 117


def test_ivf_remove_crash_between_renames_loses_nothing(spark, tmp_path,
                                                        monkeypatch):
    """Kill the removal between parking a live cell aside and renaming
    the rebuilt cell in (the round-5 data-loss window): the next call's
    recovery preamble must restore the parked cell, and the redone
    erasure must leave exactly the surviving rows."""
    from pyspark.sql import functions as F

    from kinesis_app_spark.operators import vectorindex as VI

    idx = str(tmp_path / "idx")
    emb = spark.range(64).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[((F.col("id") * (i + 3) % 23) / 23.0 + 0.1).cast("float")
              for i in range(8)]
        ).alias("embedding"),
    )
    VI.ivf_build(emb, idx, n_centroids=4)
    removed = spark.createDataFrame([(3,), (17,), (42,)], "vec_id long")

    real_rename = os.rename
    calls = {"n": 0}

    def crashing_rename(src, dst):
        calls["n"] += 1
        if calls["n"] == 2:  # after the first park, before the swap-in
            raise OSError("simulated crash mid-swap")
        real_rename(src, dst)

    monkeypatch.setattr(
        "kinesis_app_spark.operators.vectorindex.os.rename", crashing_rename
    )
    with pytest.raises(OSError, match="simulated crash"):
        VI.ivf_remove(spark, idx, removed)
    monkeypatch.setattr(
        "kinesis_app_spark.operators.vectorindex.os.rename", real_rename
    )
    # at least one cell is parked in the holding area, not deleted
    old_dir = os.path.join(idx, "postings.parquet.old-erase")
    assert os.path.isdir(old_dir) and os.listdir(old_dir)
    # rerun: recovery restores the parked cell, erasure completes
    assert VI.ivf_remove(spark, idx, removed) == 3
    left = spark.read.parquet(os.path.join(idx, "postings.parquet"))
    assert left.count() == 61
    assert left.filter("vec_id IN (3, 17, 42)").count() == 0
    assert not os.path.isdir(old_dir)


# ---------- change-feed streaming source (round-6 task 3) ----------

def _mk_upstream(spark, tmp_path):
    """3-version upstream: create → price update → delete."""
    from pyspark.sql import functions as F

    up = str(tmp_path / "up")
    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b", float(i)) for i in range(1, 9)],
        "k long, g string, x double",
    )
    VT.vt_create(df, up)
    VT.vt_merge(
        spark, up,
        df.filter("k <= 2").withColumn("x", F.col("x") + 10.0)
        .withColumn("op", F.lit("U")),
        keys=["k"],
    )
    VT.vt_merge(
        spark, up,
        df.filter("k >= 7").withColumn("op", F.lit("D")), keys=["k"],
    )
    return up


def _mk_downstream(spark, tmp_path):
    down = str(tmp_path / "down")
    VT.vt_create(
        spark.createDataFrame(
            [], "g string, n_orders long, price_sum decimal(30,8)"
        ),
        down,
    )
    return down


def _expect_rollup(spark, up):
    from pyspark.sql import functions as F

    return {
        r["g"]: (r["n"], float(r["s"]))
        for r in VT.vt_read(spark, up)
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("x"), 2).alias("s"))
        .collect()
    }


def _read_rollup(spark, down):
    return {
        r["g"]: (r["n_orders"], float(r["price_sum"]))
        for r in VT.vt_read(spark, down).collect()
    }


def _tail(spark, up, ckpt, apply_fn, keys="k"):
    """One availableNow drain of ``up``'s vt_cdf stream into
    ``foreach_version(apply_fn)`` from the checkpoint ``ckpt``."""
    from kinesis_app_spark.registry_round6 import _drain_cdf
    from kinesis_app_spark.sources.vt_cdf import foreach_version

    _drain_cdf(spark, up, keys, foreach_version(apply_fn), ckpt, "cdf tail")


def test_stream_changes_tails_every_version_once(spark, tmp_path):
    """The vt_cdf stream, split by foreach_version, delivers v0
    (all-insert) then each CDF batch in order; the stream checkpoint
    records progress, so a second drain delivers nothing and a new
    upstream commit arrives alone."""
    from kinesis_app_spark.registry_round6 import vt_cdf_rollup_applier

    up = _mk_upstream(spark, tmp_path)
    down = _mk_downstream(spark, tmp_path)
    ckpt = str(tmp_path / "ckpt")
    applier = vt_cdf_rollup_applier(spark, down, "g", "x")
    seen = []

    def recording(changes, version):
        seen.append(version)
        applier(changes, version)

    _tail(spark, up, ckpt, recording)
    assert seen == [0, 1, 2]
    assert _read_rollup(spark, down) == _expect_rollup(spark, up)
    # caught up: nothing redelivered
    _tail(spark, up, ckpt, recording)
    assert seen == [0, 1, 2]
    # new upstream commit: exactly the new version arrives
    VT.vt_merge(
        spark, up,
        spark.createDataFrame([(1, "a", 99.0, "U")],
                              "k long, g string, x double, op string"),
        keys=["k"],
    )
    _tail(spark, up, ckpt, recording)
    assert seen == [0, 1, 2, 3]
    assert _read_rollup(spark, down) == _expect_rollup(spark, up)


def test_stream_changes_restart_mid_stream_exactly_once(spark, tmp_path):
    """A crash INSIDE the epoch, after v1 merged downstream but before
    the stream checkpoint committed: the restart replays the whole
    epoch, the downstream batch_id ledger skips v0 and v1, and v2
    applies — each upstream version merged exactly once."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from kinesis_app_spark.registry_round6 import vt_cdf_rollup_applier

    up = _mk_upstream(spark, tmp_path)
    down = _mk_downstream(spark, tmp_path)
    ckpt = str(tmp_path / "ckpt")
    applier = vt_cdf_rollup_applier(spark, down, "g", "x")

    def crashing(changes, version):
        applier(changes, version)
        if version == 1:
            raise RuntimeError("simulated crash before the epoch commit")

    with pytest.raises(StreamingQueryException, match="simulated crash"):
        _tail(spark, up, ckpt, crashing)
    assert VT.vt_committed_batch_ids(down) == {0, 1}
    # restart: the epoch is redelivered whole; v0/v1 skip via batch_id
    seen = []

    def recording(changes, version):
        seen.append(version)
        applier(changes, version)

    _tail(spark, up, ckpt, recording)
    assert seen == [0, 1, 2]
    assert _read_rollup(spark, down) == _expect_rollup(spark, up)
    # each upstream version committed exactly one downstream merge
    assert VT.vt_committed_batch_ids(down) == {0, 1, 2}
    assert VT.vt_latest_version(down) == 3


def test_disjoint_delete_then_merge_fast_path(spark, tmp_path):
    """The intervening commit can be any file-delta operation, not just
    MERGE: a predicate DELETE on the low range races with a merge on the
    high range — disjoint, both commit."""
    table = _mk_clustered(spark, tmp_path)
    VT.vt_delete(spark, table, [("k", "<", 10)])
    v = VT.vt_merge(
        spark, table, _chg(spark, [(95, "B", "U")]), keys=["k"],
        expected_version=0,
    )
    assert v == 2
    rows = {r["k"]: r["v"] for r in VT.vt_read(spark, table).collect()}
    assert len(rows) == 90 and rows[95] == "B"


def test_predicate_dml_fast_path_and_conflict(spark, tmp_path):
    """Predicate DML rides the same conflict resolution: a stale-base
    DELETE whose predicate's file set is disjoint from the intervening
    merge commits metadata-only; an overlapping UPDATE re-plans and
    commits the serial-order table."""
    table = _mk_clustered(spark, tmp_path)
    VT.vt_merge(
        spark, table, _chg(spark, [(95, "A", "U")]), keys=["k"],
        expected_version=0,
    )
    v = VT.vt_delete(
        spark, table, [("k", "<", 10)], expected_version=0
    )
    assert v == 2
    rows = {r["k"]: r["v"] for r in VT.vt_read(spark, table).collect()}
    assert len(rows) == 90 and rows[95] == "A" and 5 not in rows
    dirs_before = set(glob.glob(os.path.join(table, "data", "v*")))
    v3 = VT.vt_update(
        spark, table, [("k", ">=", 90)], {"v": "concat(v, 'X')"},
        expected_version=0,  # stale AND overlapping the merge's file
    )
    assert v3 == 3
    rows = {r["k"]: r["v"] for r in VT.vt_read(spark, table).collect()}
    # the update saw the merge's row: serial order, not the v0 snapshot
    assert rows[95] == "AX" and rows[90] == "v90X" and rows[89] == "v89"
    assert len(rows) == 90
    new_dirs = set(glob.glob(os.path.join(table, "data", "v*"))) - dirs_before
    assert new_dirs == {VT._read_manifest(table, 3)["data_dir"]}


def test_four_threaded_writers_all_commit(spark, tmp_path):
    """Four REAL concurrent writers (threads sharing the session) merge
    disjoint key ranges through plain vt_merge: every writer must land
    (fast path or re-plan), and the final state must equal sequential
    application — the multi-writer contract end to end."""
    from concurrent.futures import ThreadPoolExecutor

    table = _mk_clustered(spark, tmp_path)
    ranges = [(5, "W0"), (35, "W1"), (65, "W2"), (95, "W3")]

    def write(args):
        k, tag = args
        return VT.vt_merge(
            spark, table, _chg(spark, [(k, tag, "U")]), keys=["k"],
        )
    with ThreadPoolExecutor(max_workers=4) as ex:
        versions = list(ex.map(write, ranges))
    assert sorted(versions) == [1, 2, 3, 4]
    rows = {r["k"]: r["v"] for r in VT.vt_read(spark, table).collect()}
    assert len(rows) == 100
    for k, tag in ranges:
        assert rows[k] == tag


# ---------- bloom bitmap sidecar (round-6 follow-up) ----------

def test_bloom_sidecar_keeps_manifest_small_and_prunes(spark, tmp_path):
    """The bloom index stores bitmaps in a parquet sidecar; the manifest
    entry carries only {m, sidecar path}, so manifest JSON stays O(files)
    regardless of bucket density — and pruning still opens a strict file
    subset that returns exactly the filter replay."""
    import json as _json
    import os as _os

    from pyspark.sql import functions as F

    table = str(tmp_path / "vt")
    df = spark.range(400).select(
        F.col("id").alias("k"),
        ((F.col("id") * 37) % 211).alias("s"),
    )
    VT.vt_create(df.repartitionByRange(8, "k"), table)
    VT.vt_index_bloom(spark, table, ["s"])
    files = VT.vt_files(table, 1)
    for f in files:
        bl = f["bloom"]["s"]
        assert "sc" in bl and "b" not in bl
        assert _os.path.exists(bl["sc"])
    # the whole manifest stays small: no bucket lists inline
    raw = open(VT._manifest_path(table, 1)).read()
    assert len(raw) < 20_000
    assert '"b":' not in raw
    # sidecar rows: one per (file, col), bitmap is m/8 bytes or null
    import pyarrow.parquet as pq
    sc = pq.read_table(files[0]["bloom"]["s"]["sc"])
    assert set(sc.column_names) == {"path", "col", "m", "bitmap"}
    bms = [b for b in sc["bitmap"].to_pylist() if b is not None]
    assert bms and all(len(b) == VT._BLOOM_M // 8 for b in bms)
    # pruning still exact and strict-subset
    opened = []
    real = VT._read_snapshot_files

    def spy(spark_, paths, schema):
        opened.append(list(paths))
        return real(spark_, paths, schema)

    VT._read_snapshot_files = spy
    try:
        got = sorted(
            r["k"] for r in VT.vt_scan(spark, table, [("s", "=", 5)]).collect()
        )
    finally:
        VT._read_snapshot_files = real
    assert got == sorted(r["k"] for r in df.filter("s = 5").collect())
    assert got and len(opened[0]) < len(files)


def test_bloom_legacy_inline_entries_still_prune(spark, tmp_path):
    """Pre-sidecar manifests carried {"m","b"} bucket lists inline —
    they must keep pruning unchanged (compat path)."""
    import json as _json

    from pyspark.sql import functions as F

    table = str(tmp_path / "vt")
    df = spark.range(100).select(
        F.col("id").alias("k"), ((F.col("id") * 7) % 53).alias("s")
    )
    VT.vt_create(df.repartitionByRange(4, "k"), table)
    VT.vt_index_bloom(spark, table, ["s"])
    # rewrite the manifest's blooms into the legacy inline form
    import pyarrow.parquet as pq
    m = VT._read_manifest(table, 1)
    m.pop("add", None)
    m.pop("remove", None)
    m["files"] = VT.vt_files(table, 1)
    for f in m["files"]:
        bl = f["bloom"]["s"]
        t = pq.read_table(bl["sc"])
        rows = {
            (p, c): bm for p, c, bm in zip(
                t["path"].to_pylist(), t["col"].to_pylist(),
                t["bitmap"].to_pylist(),
            )
        }
        bm = rows[(f["path"], "s")]
        buckets = [
            i for i in range(VT._BLOOM_M)
            if bm[i >> 3] & (1 << (i & 7))
        ]
        f["bloom"]["s"] = {"m": VT._BLOOM_M, "b": buckets}
    with open(VT._manifest_path(table, 1), "w") as fh:
        _json.dump(m, fh)
    got = sorted(
        r["k"] for r in VT.vt_scan(spark, table, [("s", "=", 5)]).collect()
    )
    assert got == sorted(r["k"] for r in df.filter("s = 5").collect())


def test_vacuum_sweeps_unreferenced_bloom_sidecars(spark, tmp_path):
    """A bloom whose indexed files were all rewritten leaves a dangling
    sidecar once the referencing versions age out — vt_vacuum sweeps it;
    sidecars any retained version references survive."""
    import glob as _glob
    import os as _os

    from pyspark.sql import functions as F

    table = str(tmp_path / "vt")
    df = spark.range(60).select(
        F.col("id").alias("k"), (F.col("id") % 13).alias("s")
    )
    VT.vt_create(df.coalesce(1), table)
    VT.vt_index_bloom(spark, table, ["s"])       # v1: sidecar A
    first_sc = VT.vt_files(table, 1)[0]["bloom"]["s"]["sc"]
    # rewrite EVERY file (single-file table, full-range update)
    VT.vt_update(
        spark, table, [("k", ">=", 0)], {"s": "s + 100"}
    )                                            # v2: file replaced
    VT.vt_index_bloom(spark, table, ["s"])       # v3: sidecar B
    second_sc = VT.vt_files(table, 3)[0]["bloom"]["s"]["sc"]
    assert first_sc != second_sc
    VT.vt_vacuum(table, retain_last=2)           # retains v2, v3
    assert not _os.path.exists(first_sc)         # A: unreferenced, swept
    assert _os.path.exists(second_sc)            # B: referenced, kept
    got = sorted(
        r["k"] for r in VT.vt_scan(spark, table, [("s", "=", 105)]).collect()
    )
    assert got == sorted(
        r["k"] for r in df.filter("s % 13 = 5 and s = 5").collect()
    )


def test_in_list_scan_prunes_and_matches_filter_replay(spark, tmp_path):
    """IN-list filters prune through both min/max stats and the bloom
    bitmaps (a file survives if ANY listed literal could be present) and
    return exactly the isin() replay — on scan AND predicate DELETE."""
    from pyspark.sql import functions as F

    table = str(tmp_path / "vt")
    df = spark.range(400).select(
        F.col("id").alias("k"),
        ((F.col("id") * 37) % 211).alias("s"),
    )
    VT.vt_create(df.repartitionByRange(8, "k"), table)
    VT.vt_index_bloom(spark, table, ["s"])
    opened = []
    real = VT._read_snapshot_files

    def spy(spark_, paths, schema):
        opened.append(list(paths))
        return real(spark_, paths, schema)

    VT._read_snapshot_files = spy
    try:
        got = sorted(
            r["k"] for r in VT.vt_scan(
                spark, table, [("s", "in", [5, 77])]
            ).collect()
        )
        # range IN-list on the clustered column prunes via min/max alone
        got_k = sorted(
            r["k"] for r in VT.vt_scan(
                spark, table, [("k", "in", [3, 397])]
            ).collect()
        )
    finally:
        VT._read_snapshot_files = real
    assert got == sorted(
        r["k"] for r in df.filter(F.col("s").isin(5, 77)).collect()
    )
    n_total = len(VT.vt_files(table, 1))
    assert got and len(opened[0]) < n_total     # bloom-pruned
    assert got_k == [3, 397]
    assert len(opened[1]) == 2                  # stats-pruned: 2 files
    # predicate DELETE with an IN list rewrites only admitting files
    v = VT.vt_delete(spark, table, [("k", "in", [3, 397])])
    assert sorted(
        r["k"] for r in VT.vt_read(spark, table, v).filter(
            F.col("k").isin(3, 397)
        ).collect()
    ) == []
    delta = VT._commit_delta(table, v)
    assert delta is not None and len(delta[1]) == 2  # 2 files removed


def test_parquet_checkpoint_manifest_spill(spark, tmp_path, monkeypatch):
    """Checkpoint manifests at/above _CHECKPOINT_PQ_MIN file entries
    spill the list to a parquet sidecar (Delta's parquet-checkpoint
    discipline): the manifest JSON stays small, and every reader —
    vt_files, vt_read, merge pruning, conflict detection, the batch-id
    ledger — reconstructs identically."""
    import json as _json

    from pyspark.sql import functions as F

    monkeypatch.setattr(VT, "_CHECKPOINT_PQ_MIN", 4)
    table = str(tmp_path / "vt")
    df = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("s")
    )
    VT.vt_create(df.repartitionByRange(8, "k"), table)
    m0 = VT._read_manifest(table, 0)
    assert "files_pq" in m0 and "files" not in m0
    assert m0["n_files"] == 8 and os.path.exists(m0["files_pq"])
    files = VT.vt_files(table, 0)
    assert len(files) == 8
    assert all(f["stats"]["k"] is not None for f in files)
    assert VT.vt_read(spark, table).count() == 200
    # a pruned merge against the spilled checkpoint still prunes
    chg = spark.createDataFrame([(5, 999, "U")], "k long, s long, op string")
    VT.vt_merge(spark, table, chg, keys=["k"], batch_id=77)
    m1 = VT._read_manifest(table, 1)
    assert "add" in m1 and len(m1["remove"]) == 1  # one file rewritten
    assert VT.vt_committed_batch_ids(table) == {77}
    got = {r["k"]: r["s"] for r in VT.vt_read(spark, table).collect()}
    assert got[5] == 999 and len(got) == 200
    # the CDF source diffs the spilled-checkpoint version normally
    from kinesis_app_spark.sources import vt_cdf as SRC
    SRC.register(spark)
    cdf = (
        spark.read.format("vt_cdf")
        .option("path", table).option("keys", "k").load()
        .filter(F.col("_commit_version") == 1)
    )
    types = {r["_change_type"] for r in cdf.collect()}
    assert types == {"update_preimage", "update_postimage"}


def test_timestamp_as_of_time_travel(spark, tmp_path):
    """TIMESTAMP AS OF resolves to the latest version committed at or
    before the probe time (Delta's rule); probes before v0 raise,
    future probes clamp to latest."""
    import time as _time

    table = str(tmp_path / "vt")
    VT.vt_create(
        spark.createDataFrame([(0, "a")], "k long, v string"), table
    )
    _time.sleep(0.05)
    VT.vt_merge(spark, table, _chg(spark, [(1, "b", "U")]), keys=["k"])
    _time.sleep(0.05)
    VT.vt_merge(spark, table, _chg(spark, [(2, "c", "U")]), keys=["k"])
    t0 = os.stat(VT._manifest_path(table, 0)).st_mtime
    t1 = os.stat(VT._manifest_path(table, 1)).st_mtime
    t2 = os.stat(VT._manifest_path(table, 2)).st_mtime
    assert VT.vt_version_at_timestamp(table, (t0 + t1) / 2) == 0
    assert VT.vt_version_at_timestamp(table, (t1 + t2) / 2) == 1
    assert VT.vt_version_at_timestamp(table, t2 + 1000) == 2
    assert VT.vt_read(
        spark, table, timestamp=(t1 + t2) / 2
    ).count() == 2
    with pytest.raises(ValueError, match="predates"):
        VT.vt_version_at_timestamp(table, t0 - 10)
    with pytest.raises(ValueError, match="not both"):
        VT.vt_read(spark, table, version=1, timestamp=t1)


def test_timestamp_as_of_survives_vacuum(spark, tmp_path):
    """VACUUM's tombstone rewrite bumps old manifests' mtimes; resolution
    must use the recorded commit instant and skip vacuumed versions, so
    a probe after a later commit still resolves (the mtime-monotonicity
    trap)."""
    import time as _time

    table = str(tmp_path / "vt")
    VT.vt_create(
        spark.createDataFrame([(0, "a")], "k long, v string"), table
    )
    _time.sleep(0.05)
    VT.vt_merge(spark, table, _chg(spark, [(0, "b", "U")]), keys=["k"])
    _time.sleep(0.05)
    VT.vt_merge(spark, table, _chg(spark, [(0, "c", "U")]), keys=["k"])
    t1 = VT._read_manifest(table, 1)["committed_at"]
    t2 = VT._read_manifest(table, 2)["committed_at"]
    VT.vt_vacuum(table, retain_last=2)  # rewrites v0's manifest (mtime!)
    assert VT._read_manifest(table, 0).get("vacuumed")
    assert VT.vt_version_at_timestamp(table, (t1 + t2) / 2) == 1
    assert VT.vt_version_at_timestamp(table, t2 + 100) == 2
    # a probe before the earliest READABLE commit raises
    with pytest.raises(ValueError, match="earliest readable"):
        VT.vt_version_at_timestamp(table, t1 - 100)


def test_incremental_clustering_rewrites_only_debt(spark, tmp_path):
    """vt_cluster_incremental sweeps only files NOT yet clustered on the
    requested columns (merge rewrites + appends), carries clustered
    files by reference, and leaves values identical; a point scan then
    opens at most one file per clustered run."""
    from pyspark.sql import functions as F

    table = str(tmp_path / "vt")
    df = spark.range(800).select(
        F.col("id").alias("k"), (F.col("id") % 9).cast("double").alias("v")
    )
    VT.vt_create(df.repartition(3), table)
    VT.vt_optimize(spark, table, cluster_cols=["k"],
                   max_records_per_file=100)
    v_opt = VT.vt_latest_version(table)
    assert all(
        f.get("clustered") == ["k"] for f in VT.vt_files(table, v_opt)
    )
    # scattered merge: rewrites some clustered files (their replacements
    # lose the flag) and appends new keys
    chg = spark.range(10).select(
        (F.col("id") + 40).alias("k"), F.lit(-1.0).alias("v"),
        F.lit("U").alias("op"),
    ).union(
        spark.range(5).select(
            (F.col("id") + 800).alias("k"), F.lit(-2.0).alias("v"),
            F.lit("U").alias("op"),
        )
    )
    VT.vt_merge(spark, table, chg, keys=["k"])
    v_m = VT.vt_latest_version(table)
    files_m = VT.vt_files(table, v_m)
    debt = [f for f in files_m if f.get("clustered") != ["k"]]
    assert debt and len(debt) < len(files_m)
    v_c = VT.vt_cluster_incremental(
        spark, table, ["k"], max_records_per_file=100
    )
    assert v_c == v_m + 1
    files_c = VT.vt_files(table, v_c)
    assert all(f.get("clustered") == ["k"] for f in files_c)
    # only the debt was rewritten
    delta = VT._commit_delta(table, v_c)
    assert delta is not None
    assert set(delta[1]) == {f["path"] for f in debt}
    # values identical to the replay
    expect = {r["k"]: r["v"] for r in df.collect()}
    for i in range(10):
        expect[i + 40] = -1.0
    for i in range(5):
        expect[800 + i] = -2.0
    got = {r["k"]: r["v"] for r in VT.vt_read(spark, table).collect()}
    assert got == expect
    # point lookup opens at most one file per clustered run (2 runs)
    opened = []
    real = VT._read_snapshot_files

    def spy(spark_, paths, schema):
        opened.append(list(paths))
        return real(spark_, paths, schema)

    VT._read_snapshot_files = spy
    try:
        assert VT.vt_scan(spark, table, [("k", "=", 45)]).count() == 1
    finally:
        VT._read_snapshot_files = real
    assert len(opened[0]) <= 2
    # idempotent: no debt left -> no new commit
    assert VT.vt_cluster_incremental(spark, table, ["k"]) == v_c


def test_clustered_marker_survives_parquet_spill(spark, tmp_path,
                                                 monkeypatch):
    """The `clustered` provenance marker rides the parquet checkpoint's
    `extra` column — a spilled OPTIMIZE commit must reconstruct entries
    the incremental clusterer still recognizes (no phantom debt)."""
    from pyspark.sql import functions as F

    monkeypatch.setattr(VT, "_CHECKPOINT_PQ_MIN", 4)
    table = str(tmp_path / "vt")
    df = spark.range(300).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("s")
    )
    VT.vt_create(df.repartition(2), table)
    v = VT.vt_optimize(spark, table, cluster_cols=["k"],
                       max_records_per_file=50)
    assert "files_pq" in VT._read_manifest(table, v)
    files = VT.vt_files(table, v)
    assert all(f.get("clustered") == ["k"] for f in files)
    # no debt -> idempotent no-op
    assert VT.vt_cluster_incremental(spark, table, ["k"]) == v


# ---------- deletion vectors (round-6b) ----------

def test_deletion_vectors_delete_without_rewrite(spark, tmp_path):
    """vt_delete_dv soft-deletes by (path, row position) in a sidecar:
    NO data file is rewritten, reads anti-join the DV, the CDF reports
    the soft deletes, re-deleting is a no-op, and a later merge that
    rewrites a DV'd file materializes the deletions and drops the DV."""
    import glob as _glob

    from pyspark.sql import functions as F

    table = str(tmp_path / "vt")
    df = spark.range(400).select(
        F.col("id").alias("k"), (F.col("id") % 7).cast("double").alias("v")
    )
    VT.vt_create(df.repartitionByRange(4, "k"), table)
    data_before = sorted(_glob.glob(os.path.join(table, "data", "**", "*.parquet"),
                                    recursive=True))
    mtimes = {p: os.stat(p).st_mtime_ns for p in data_before}
    v = VT.vt_delete_dv(spark, table, [("k", "in", [5, 150, 399])])
    assert v == 1
    # no data file added, none rewritten (byte-identical carry)
    data_after = sorted(_glob.glob(os.path.join(table, "data", "**", "*.parquet"),
                                   recursive=True))
    assert data_after == data_before
    assert all(os.stat(p).st_mtime_ns == mtimes[p] for p in data_after)
    # reads hide the soft-deleted rows; manifest counts are logical
    got = sorted(r["k"] for r in VT.vt_read(spark, table).collect())
    assert len(got) == 397 and not {5, 150, 399} & set(got)
    assert VT._read_manifest(table, 1)["n_rows"] == 397
    # stats-pruned scan still applies the DV
    assert VT.vt_scan(spark, table, [("k", "<", 10)]).count() == 9
    # CDF reports exactly the three soft deletes
    ch = VT.vt_changes(spark, table, 0, 1, ["k"]).collect()
    assert sorted((r["_change_type"], r["k"]) for r in ch) == [
        ("delete", 5), ("delete", 150), ("delete", 399)
    ]
    # idempotent: same predicate again deletes nothing, no new version
    assert VT.vt_delete_dv(spark, table, [("k", "in", [5])]) == 1
    # a second DV on another file stacks
    v2 = VT.vt_delete_dv(spark, table, [("k", "=", 6)])
    assert v2 == 2 and VT.vt_read(spark, table).count() == 396
    # a merge rewriting the DV'd low file applies+drops its DV
    chg = spark.createDataFrame([(7, -1.0, "U")],
                                "k long, v double, op string")
    v3 = VT.vt_merge(spark, table, chg, keys=["k"])
    files = VT.vt_files(table, v3)
    low = [f for f in files if f["stats"]["k"][0] == 0]
    assert low and all(not f.get("dv") for f in low)
    got3 = {r["k"]: r["v"] for r in VT.vt_read(spark, table, v3).collect()}
    assert got3[7] == -1.0 and 5 not in got3 and 6 not in got3
    assert len(got3) == 396


def test_deletion_vector_vacuum_sweeps_dead_sidecars(spark, tmp_path):
    from pyspark.sql import functions as F

    table = str(tmp_path / "vt")
    df = spark.range(100).select(F.col("id").alias("k"),
                                 F.lit(1.0).alias("v"))
    VT.vt_create(df.coalesce(1), table)
    VT.vt_delete_dv(spark, table, [("k", "=", 3)])          # v1: DV A
    dv_a = VT.vt_files(table, 1)[0]["dv"][0]
    # full rewrite materializes the deletion and drops the DV
    VT.vt_update(spark, table, [("k", ">=", 0)], {"v": "v + 1.0"})  # v2
    VT.vt_merge(
        spark, table,
        spark.createDataFrame([(0, 9.0, "U")], "k long, v double, op string"),
        keys=["k"],
    )                                                       # v3
    assert os.path.isdir(dv_a)
    VT.vt_vacuum(table, retain_last=2)  # retains v2, v3 (no DV refs)
    assert not os.path.isdir(dv_a)
    got = {r["k"]: r["v"] for r in VT.vt_read(spark, table).collect()}
    assert 3 not in got and got[0] == 9.0 and len(got) == 99


def test_bloom_pruned_dv_purge_scans_file_subset(spark, tmp_path):
    """The GDPR composition: with a bloom index on the id column, a
    vt_delete_dv id-list purge plans only the files whose bitmap admits
    one of the ids — the find-the-rows scan is O(matching files), not
    O(table)."""
    from pyspark.sql import functions as F

    table = str(tmp_path / "vt")
    df = spark.range(400).select(
        F.col("id").alias("k"),
        ((F.col("id") * 37) % 211).alias("s"),
        F.lit(1.0).alias("v"),
    )
    VT.vt_create(df.repartitionByRange(8, "k"), table)
    VT.vt_index_bloom(spark, table, ["s"])
    files = VT.vt_files(table, VT.vt_latest_version(table))
    pruned = VT._prune_files(
        spark, files, [("s", "in", [5, 77])],
        VT._manifest_schema(VT._read_manifest(table, 1)),
    )
    assert pruned and len(pruned) < len(files)  # bloom actually pruned
    v = VT.vt_delete_dv(spark, table, [("s", "in", [5, 77])])
    # only the pruned candidates could have gained a DV
    dvd = [f for f in VT.vt_files(table, v) if f.get("dv")]
    assert {f["path"] for f in dvd} <= {f["path"] for f in pruned}
    got = VT.vt_read(spark, table).filter(F.col("s").isin(5, 77)).count()
    assert got == 0
    exp = 400 - df.filter(F.col("s").isin(5, 77)).count()
    assert VT.vt_read(spark, table).count() == exp


def test_dv_revocation_propagates_to_index_via_cdf(spark, tmp_path):
    """The GDPR loop, DV edition: revoking docs via vt_delete_dv is a
    metadata-only commit, and the near-dup index follows by tailing the
    change feed — the CDF reports the soft deletes, the index applier
    erases them. Nobody rewrites the corpus files, nobody remembers to
    call the index's erase."""
    from pyspark.sql import functions as F

    from kinesis_app_spark.operators import dedupindex as DI
    from kinesis_app_spark.registry_round6 import vt_cdf_index_applier

    corpus_dir = str(tmp_path / "corpus")
    idx = str(tmp_path / "idx")
    docs = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("tok"), (F.col("id") % 8).cast("string"),
            F.lit(" alpha beta gamma delta epsilon zeta eta theta "),
            F.lit("iota kappa lambda mu nu xi omicron pi rho sigma"),
        ).alias("text"),
    )
    VT.vt_create(docs, corpus_dir)
    VT.vt_delete_dv(spark, corpus_dir, [("doc_id", "in", [3, 11])])
    _tail(spark, corpus_dir, str(tmp_path / "ckpt"),
          vt_cdf_index_applier(spark, idx), keys="doc_id")
    # the revoked ids are gone from every probe table
    fp = spark.read.parquet(os.path.join(idx, "fingerprints.parquet"))
    assert fp.filter(F.col("id").isin(3, 11)).count() == 0
    assert fp.count() == 38
    # and a screen never names a revoked doc as dup_of
    batch = docs.filter(F.col("doc_id") < 8).select(
        "doc_id", "text"
    )
    scr = DI.dedup_index_screen(spark, idx, batch, threshold=0.5)
    assert scr.filter(F.col("dup_of").isin(3, 11)).count() == 0


def test_maintenance_materializes_deletion_vectors(spark, tmp_path):
    """Compaction and incremental clustering read DV'd files through the
    entry-aware path: the rewritten run drops the vectors and the
    deleted rows stay gone — maintenance IS the DV purge mechanism."""
    from pyspark.sql import functions as F

    table = str(tmp_path / "vt")
    df = spark.range(300).select(
        F.col("id").alias("k"), (F.col("id") % 5).cast("double").alias("v")
    )
    VT.vt_create(df.repartition(6), table)
    VT.vt_delete_dv(spark, table, [("k", "in", [1, 101, 201])])
    assert any(f.get("dv") for f in VT.vt_files(table, 1))
    # compaction sweeps the small DV'd files into clean full-size files
    v = VT.vt_compact(spark, table, min_rows_per_file=1 << 20)
    files = VT.vt_files(table, v)
    assert all(not f.get("dv") for f in files)
    got = sorted(r["k"] for r in VT.vt_read(spark, table).collect())
    assert len(got) == 297 and not {1, 101, 201} & set(got)
    # DV again, then incremental clustering materializes it too
    VT.vt_delete_dv(spark, table, [("k", "=", 7)])
    v2 = VT.vt_cluster_incremental(spark, table, ["k"])
    files2 = VT.vt_files(table, v2)
    assert all(not f.get("dv") for f in files2)
    assert all(f.get("clustered") == ["k"] for f in files2)
    assert VT.vt_read(spark, table).count() == 296


def test_history_operation_metrics(spark, tmp_path):
    """vt_history(metrics=True) derives Delta-style operationMetrics
    from the manifest log: per-version file totals and the commit's
    add/remove counts; the gated 3-column default is unchanged."""
    table = _mk_clustered(spark, tmp_path)  # 4 clustered files
    VT.vt_merge(spark, table, _chg(spark, [(5, "A", "U")]), keys=["k"])
    h = {r["version"]: r for r in VT.vt_history(
        spark, table, metrics=True
    ).collect()}
    assert h[0]["n_files"] == 4 and h[0]["n_added_files"] == 4
    assert h[0]["n_removed_files"] == 0
    assert h[1]["n_removed_files"] == 1  # pruned merge: one file swapped
    assert h[1]["n_files"] == 4
    assert VT.vt_history(spark, table).columns == [
        "version", "operation", "n_rows"
    ]


def test_threaded_disjoint_writers_race_for_real(spark, tmp_path):
    """Two OS threads merge disjoint key ranges simultaneously from the
    same base — whatever the interleaving (true race on the O_EXCL
    manifest commit), both land and the final state equals sequential
    application."""
    import threading

    table = _mk_clustered(spark, tmp_path, n=100, files=4)
    errs = []

    def writer(lo, label):
        try:
            VT.vt_merge(
                spark, table,
                _chg(spark, [(lo + i, label, "U") for i in range(5)]),
                keys=["k"],
            )
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    t1 = threading.Thread(target=writer, args=(5, "A"))
    t2 = threading.Thread(target=writer, args=(90, "B"))
    t1.start(); t2.start(); t1.join(120); t2.join(120)
    assert not errs, errs
    assert VT.vt_latest_version(table) == 2
    rows = {r["k"]: r["v"] for r in VT.vt_read(spark, table).collect()}
    assert all(rows[5 + i] == "A" for i in range(5))
    assert all(rows[90 + i] == "B" for i in range(5))
    assert len(rows) == 100
