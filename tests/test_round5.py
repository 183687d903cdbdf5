"""Round-5 surfaces: file-level pruned copy-on-write MERGE (carry
untouched files by reference, per-file key stats in manifests),
file-level reference-counted VACUUM, CHECK validated from the written
files (single merge execution), CDF file-diff pruning + evolved-column
diffs, and RESTORE provenance propagation."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from kinesis_app_spark.operators import versioned as VT


def _clustered_table(spark, tmp_path, n=100, files=4):
    """A table whose files hold disjoint key ranges (create + OPTIMIZE
    — the layout a production table maintains for exactly this)."""
    table = str(tmp_path / "vt")
    df = spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    VT.vt_create(df.coalesce(1), table)
    VT.vt_optimize(
        spark, table, cluster_cols=["k"], max_records_per_file=n // files
    )
    return table


def _manifest(table, version):
    with open(VT._manifest_path(table, version)) as fh:
        return json.load(fh)


def _vfiles(table, version):
    """Resolved per-file entries (round 6: manifests are incremental
    add/remove actions with periodic checkpoints — vt_files reconstructs
    the full list)."""
    return {f["path"]: f for f in VT.vt_files(table, version)}


def test_pruned_merge_carries_untouched_files_by_reference(spark, tmp_path):
    """A merge whose change keys hit ONE file's range rewrites that file
    only: every other file appears in the new manifest with an
    IDENTICAL path (byte-level carry-forward, nothing re-written), and
    the merged table still reads exactly right."""
    table = _clustered_table(spark, tmp_path)
    v_base = VT.vt_latest_version(table)
    base_files = _vfiles(table, v_base)
    assert len(base_files) >= 3  # the pruning claim needs >1 file

    # keys 1..3 live in the lowest-range file only
    ch = spark.createDataFrame(
        [(1, -1, "U"), (2, None, "D"), (3, -3, "U")],
        "k long, v long, op string",
    )
    stamp_before = {
        p: os.stat(p).st_mtime_ns for p in base_files
    }
    v_new = VT.vt_merge(spark, table, ch, keys=["k"])
    new_files = _vfiles(table, v_new)

    carried = set(base_files) & set(new_files)
    rewritten_old = set(base_files) - set(new_files)
    assert len(rewritten_old) == 1, (
        f"exactly the low-range file should be replaced: {rewritten_old}"
    )
    assert len(carried) == len(base_files) - 1
    for p in carried:
        # carried by reference: same path, untouched bytes on disk
        assert os.stat(p).st_mtime_ns == stamp_before[p]
        assert new_files[p]["n_rows"] == base_files[p]["n_rows"]

    got = {r["k"]: r["v"] for r in VT.vt_read(spark, table).collect()}
    expect = {k: k * 2 for k in range(100)}
    expect[1] = -1
    expect[3] = -3
    del expect[2]
    assert got == expect
    # n_rows is manifest arithmetic (carried counts + new file counts)
    assert _manifest(table, v_new)["n_rows"] == 99

    # CDF across the pruned merge reports exactly the three changes
    cdf = VT.vt_changes(spark, table, v_base, v_new, keys=["k"]).collect()
    by_type = {}
    for r in cdf:
        by_type.setdefault(r["_change_type"], set()).add(r["k"])
    assert by_type == {
        "delete": {2},
        "update_preimage": {1, 3},
        "update_postimage": {1, 3},
    }


def test_pure_insert_merge_touches_no_existing_file(spark, tmp_path):
    """Inserts whose keys land beyond every file's range carry the
    ENTIRE old file set forward and write only the new rows."""
    table = _clustered_table(spark, tmp_path)
    v_base = VT.vt_latest_version(table)
    base_paths = set(_vfiles(table, v_base))
    ch = spark.createDataFrame(
        [(1000, 1, "U"), (1001, 2, "U")], "k long, v long, op string"
    )
    v_new = VT.vt_merge(spark, table, ch, keys=["k"])
    new_paths = set(_vfiles(table, v_new))
    assert base_paths <= new_paths  # every old file carried
    assert len(new_paths - base_paths) >= 1  # plus the insert file(s)
    assert VT.vt_read(spark, table).count() == 102


def test_vacuum_file_level_reference_counting(spark, tmp_path):
    """An aged version whose files are ALL shared with the retained
    tail stays readable (deleting them would corrupt the tail); once a
    later full rewrite makes them dead, vacuum reclaims them."""
    table = _clustered_table(spark, tmp_path)  # v0 create, v1 optimize
    ch = spark.createDataFrame([(1000, 1, "U")], "k long, v long, op string")
    VT.vt_merge(spark, table, ch, keys=["k"])  # v2: carries ALL of v1
    # v0 (the pre-optimize layout) is genuinely dead; v1 is FULLY shared
    # with the retained v2 — deleting its files would corrupt the tail
    assert VT.vt_vacuum(table, retain_last=1) == [0]
    assert VT.vt_read(spark, table, 1).count() == 100  # still readable
    # a full rewrite (optimize) makes v1..v2's exclusive files dead
    VT.vt_optimize(spark, table, cluster_cols=["k"])  # v3
    gone = VT.vt_vacuum(table, retain_last=1)
    assert gone == [1, 2]
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        VT.vt_read(spark, table, 1)
    assert VT.vt_read(spark, table).count() == 101


def test_check_constraint_validates_written_files_only_once(
    spark, tmp_path
):
    """CHECK is validated from the files the merge already wrote (one
    merge execution); a violation unstages them — no version, no
    leftover staging directory."""
    table = _clustered_table(spark, tmp_path)
    v_base = VT.vt_latest_version(table)
    dirs_before = set(glob.glob(os.path.join(table, "data", "v*")))
    bad = spark.createDataFrame(
        [(5, None, "U")], "k long, v long, op string"
    )
    with pytest.raises(ValueError, match="CHECK"):
        VT.vt_merge(spark, table, bad, keys=["k"], check="v IS NOT NULL")
    assert VT.vt_latest_version(table) == v_base
    assert set(glob.glob(os.path.join(table, "data", "v*"))) == dirs_before
    ok = spark.createDataFrame([(5, 55, "U")], "k long, v long, op string")
    v_new = VT.vt_merge(spark, table, ok, keys=["k"], check="v IS NOT NULL")
    assert v_new == v_base + 1
    assert {
        r["v"] for r in VT.vt_read(spark, table).filter("k = 5").collect()
    } == {55}


def test_schema_evolution_diffs_and_null_fills_carried_files(
    spark, tmp_path
):
    """Schema evolution under pruned merge: carried files lack the new
    column and must read as null; the CDF between the versions reports
    a row whose ONLY change is in the evolved column (round-4 advice:
    the diff must use the UNION of the two schemas)."""
    table = _clustered_table(spark, tmp_path)
    v_base = VT.vt_latest_version(table)
    ch = spark.createDataFrame(
        [(1, 2, "web", "U")], "k long, v long, chan string, op string"
    )
    v_new = VT.vt_merge(
        spark, table, ch, keys=["k"], merge_schema=True
    )
    latest = VT.vt_read(spark, table)
    assert latest.schema.names == ["k", "v", "chan"]
    rows = {r["k"]: (r["v"], r["chan"]) for r in latest.collect()}
    assert rows[1] == (2, "web")  # v unchanged (1*2=2): only chan changed
    assert rows[50] == (100, None)  # carried file: evolved column null
    cdf = VT.vt_changes(spark, table, v_base, v_new, keys=["k"]).collect()
    upd = {
        r["k"]: (r["_change_type"], r["chan"])
        for r in cdf
        if r["_change_type"].startswith("update")
    }
    # k=1's only change is the evolved column — it MUST be reported
    assert set(upd) == {1}
    post = [
        r for r in cdf if r["_change_type"] == "update_postimage"
    ]
    assert [(r["k"], r["v"], r["chan"]) for r in post] == [(1, 2, "web")]


def test_restore_propagates_external_flag(spark, tmp_path):
    """Restoring a shallow clone to a cloned (external) version must
    commit an EXTERNAL manifest: the restored commit's files are
    source-owned, and a later vacuum on the clone must leave the
    source's data intact (round-4 advice)."""
    table = str(tmp_path / "src")
    VT.vt_create(
        spark.createDataFrame(
            [(1, "a"), (2, "b")], "k long, v string"
        ).coalesce(1),
        table,
    )
    clone = str(tmp_path / "clone")
    VT.vt_clone(table, clone)
    # diverge the clone (own files), then restore it to the cloned v0
    VT.vt_merge(
        spark, clone,
        spark.createDataFrame(
            [(1, "zz", "U"), (2, "yy", "U")], "k long, v string, op string"
        ),
        keys=["k"],
    )
    v_restored = VT.vt_restore(spark, clone, 0)
    assert _manifest(clone, v_restored).get("external") is True
    # age everything out but the restored head: source data must survive
    VT.vt_vacuum(clone, retain_last=1)
    assert VT.vt_read(spark, table, 0).count() == 2  # source intact
    assert VT.vt_read(spark, clone, v_restored).count() == 2


def test_optimize_stats_power_later_pruned_merges(spark, tmp_path):
    """OPTIMIZE's per-file stats are what make the NEXT merge prune: a
    point update after optimize rewrites one file, not the table."""
    table = str(tmp_path / "vt")
    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    VT.vt_create(df.coalesce(1), table)
    VT.vt_optimize(spark, table, cluster_cols=["k"], max_records_per_file=100)
    v1 = VT.vt_latest_version(table)
    n_files = len(_vfiles(table, v1))
    assert n_files >= 8
    ch = spark.createDataFrame([(500, -1, "U")], "k long, v long, op string")
    v2 = VT.vt_merge(spark, table, ch, keys=["k"])
    old = set(_vfiles(table, v1))
    new = set(_vfiles(table, v2))
    assert len(old - new) == 1  # exactly one file rewritten
    assert VT.vt_read(spark, table).filter("k = 500").collect()[0]["v"] == -1


# ---------- persisted-index maintenance: compaction + deletion ----------

def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_index_optimize_collapses_files_same_verdicts(
    spark, tmp_path
):
    """After many small appends the index tables are a pile of tiny
    files; OPTIMIZE must collapse the file count while leaving every
    screen verdict bit-identical (same rows, new layout)."""
    from kinesis_app_spark.operators import dedupindex as DI

    idx = str(tmp_path / "idx")
    DI.dedup_index_build(
        _docs(spark, [(1, "the quick brown fox jumps over the lazy dog")]),
        idx,
    )
    for i in range(6):  # six micro-batch appends -> six file sets
        DI.dedup_index_add(
            spark, idx,
            _docs(spark, [(10 + i, f"fresh unique document number {i} "
                                   f"with plenty of original words")]),
        )
    batch = _docs(spark, [
        (100, "the quick brown fox jumps over the lazy dog"),   # exact 1
        (101, "fresh unique document number 3 with plenty of "
              "original words"),                                 # exact 13
        (102, "a wholly different new text"),                    # new
    ])
    before = sorted(
        tuple(r) for r in DI.dedup_index_screen(spark, idx, batch).collect()
    )
    stats = DI.dedup_index_optimize(spark, idx)
    for name, (n_before, n_after) in stats.items():
        assert n_after < n_before, (name, n_before, n_after)
    after = sorted(
        tuple(r) for r in DI.dedup_index_screen(spark, idx, batch).collect()
    )
    assert before == after


def test_dedup_index_remove_erases_from_every_probe(spark, tmp_path):
    """After removing a doc, no screen may name it as dup_of via ANY
    probe path (fingerprint, band, shingle) — the erased doc's
    near-variants and exact copies fall through to the next-best match
    or 'new'."""
    from kinesis_app_spark.operators import dedupindex as DI

    idx = str(tmp_path / "idx")
    DI.dedup_index_build(
        _docs(spark, [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely unrelated text about spark and parquet files"),
        ]),
        idx,
    )
    batch = _docs(spark, [
        (10, "the quick brown fox jumps over the lazy dog today"),   # exact 1
        (11, "the quick brown fox jumps over the lazy dog tonight"),  # near 1
        (12, "completely unrelated text about spark and parquet files"),
    ])
    v1 = {r["doc_id"]: (r["verdict"], r["dup_of"])
          for r in DI.dedup_index_screen(spark, idx, batch).collect()}
    assert v1[10] == ("exact_dup", 1) and v1[11][1] == 1
    assert DI.dedup_index_remove(
        spark, idx, spark.createDataFrame([(1,)], "doc_id long")
    ) == 1
    v2 = {r["doc_id"]: (r["verdict"], r["dup_of"])
          for r in DI.dedup_index_screen(spark, idx, batch).collect()}
    assert v2[10] == ("new", None)       # its only match was erased
    assert v2[11] == ("new", None)
    assert v2[12] == ("exact_dup", 2)    # untouched doc still matches
    # idempotent / unknown ids: nothing to remove
    assert DI.dedup_index_remove(
        spark, idx, spark.createDataFrame([(1,), (999,)], "doc_id long")
    ) == 0


def _emb5(spark, n=64, d=8):
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                ((F.col("id") * (i + 3) % 23) / 23.0 + 0.1).cast("float")
                for i in range(d)
            ]
        ).alias("embedding"),
    )


def test_ivf_optimize_collapses_files_identical_results(spark, tmp_path):
    from kinesis_app_spark.operators import vectorindex as VI

    idx = str(tmp_path / "idx")
    emb = _emb5(spark)
    VI.ivf_build(emb.filter(F.col("vec_id") < 32), idx, n_centroids=8)
    for lo in (32, 40, 48, 56):  # four nightly deltas
        VI.ivf_append(
            emb.filter(
                (F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 8)
            ),
            idx,
        )
    queries = emb.filter(F.col("vec_id") < 5)
    r1 = sorted(
        tuple(r)
        for r in VI.ivf_query(spark, idx, queries, k=5, nprobe=8).collect()
    )
    before, after = VI.ivf_optimize(spark, idx)
    assert after < before, (before, after)
    r2 = sorted(
        tuple(r)
        for r in VI.ivf_query(spark, idx, queries, k=5, nprobe=8).collect()
    )
    assert r1 == r2
    assert int(VI._read_manifest(spark, idx)["n_rows"]) == 64


def test_ivf_remove_erases_neighbors_and_empty_cells(spark, tmp_path):
    """Removed vectors never come back as neighbors; a cell emptied by
    the removal disappears cleanly (no stale files); manifest n_rows
    tracks the survivors; full-probe query equals brute force over the
    remaining corpus."""
    import os

    from kinesis_app_spark.operators import similarity as SIM
    from kinesis_app_spark.operators import vectorindex as VI

    idx = str(tmp_path / "idx")
    emb = _emb5(spark, n=16)
    VI.ivf_build(emb, idx, n_centroids=4)
    # cell seeded by vec 0..3; vec i is its own nearest centroid, so
    # removing vec 2 plus every vector assigned with it empties a cell
    removed_ids = [2, 6, 10, 14]
    removed = spark.createDataFrame(
        [(i,) for i in removed_ids], "vec_id long"
    )
    n = VI.ivf_remove(spark, idx, removed)
    assert n >= 1
    assert int(VI._read_manifest(spark, idx)["n_rows"]) == 16 - n
    queries = emb.filter(F.col("vec_id") < 4)
    got = VI.ivf_query(spark, idx, queries, k=5, nprobe=4).collect()
    assert {r["neighbor_id"] for r in got}.isdisjoint(set(removed_ids))
    # value contract: full probe over the pruned index == brute force
    # over the surviving corpus
    survivors = emb.join(removed, "vec_id", "left_anti")
    want = sorted(
        (r["query_id"], r["neighbor_id"], round(r["cos"], 6), r["rank"])
        for r in SIM.brute_force_topk(survivors, queries, k=5).collect()
    )
    have = sorted(
        (r["query_id"], r["neighbor_id"], round(r["cos"], 6), r["rank"])
        for r in VI.ivf_query(spark, idx, queries, k=5, nprobe=4).collect()
    )
    assert have == want
    # no stale cell directory holds parquet files for removed-only cells
    for d in os.listdir(os.path.join(idx, "postings.parquet")):
        if d.startswith("cell="):
            full = os.path.join(idx, "postings.parquet", d)
            assert any(
                f.endswith(".parquet") for f in os.listdir(full)
            ), f"stale empty cell dir {d}"
    # removing nothing is a no-op
    assert VI.ivf_remove(
        spark, idx, spark.createDataFrame([(999,)], "vec_id long")
    ) == 0


def test_ann_query_set_guards_raise_clearly(spark, tmp_path):
    """A bulk query set must hit a clear ValueError at the documented
    bound, not a driver OOM (VERDICT r4 missing item #5); the probe
    reads at most bound+1 rows."""
    from kinesis_app_spark.operators import vectorindex as VI

    emb = _emb5(spark, n=32)
    ivf = str(tmp_path / "ivf")
    VI.ivf_build(emb, ivf, n_centroids=4)
    with pytest.raises(ValueError, match="max_queries"):
        VI.ivf_query(spark, ivf, emb, k=3, nprobe=2, max_queries=8)
    assert (
        VI.ivf_query(spark, ivf, emb, k=3, nprobe=2, max_queries=32).count()
        > 0
    )
    pq = str(tmp_path / "pq")
    VI.pq_build(emb, pq, m=4, n_codes=8)
    with pytest.raises(ValueError, match="max_queries"):
        VI.pq_query(spark, pq, emb, k=3, max_queries=8)


# ---------- stats-pruned scan + predicate DML ----------

def test_vt_scan_prunes_files_by_stats(spark, tmp_path):
    """A range read on the cluster key opens only the files whose
    min/max admit a match — and returns exactly read+filter."""
    table = _clustered_table(spark, tmp_path)
    total = len(_vfiles(table, VT.vt_latest_version(table)))
    scanned = VT.vt_scan(spark, table, [("k", ">=", 10), ("k", "<", 20)])
    opened = len(scanned.inputFiles())
    assert opened < total, (opened, total)
    got = sorted(r["k"] for r in scanned.collect())
    assert got == list(range(10, 20))
    # unpruneable op (no stats logic for it) still returns right rows
    all_rows = VT.vt_scan(spark, table, [("v", "=", 50)]).collect()
    assert [r["k"] for r in all_rows] == [25]


def test_vt_delete_prunes_and_removes(spark, tmp_path):
    table = _clustered_table(spark, tmp_path)
    v_base = VT.vt_latest_version(table)
    base_paths = set(_vfiles(table, v_base))
    v_new = VT.vt_delete(spark, table, [("k", "<", 10)])
    m = _manifest(table, v_new)
    assert m["operation"] == "DELETE"
    new_paths = set(_vfiles(table, v_new))
    assert len(base_paths - new_paths) == 1  # only the low file rewritten
    assert m["n_rows"] == 90
    assert sorted(r["k"] for r in VT.vt_read(spark, table).collect()) == (
        list(range(10, 100))
    )
    # time travel unaffected
    assert VT.vt_read(spark, table, v_base).count() == 100


def test_vt_update_prunes_and_applies(spark, tmp_path):
    table = _clustered_table(spark, tmp_path)
    v_base = VT.vt_latest_version(table)
    base_paths = set(_vfiles(table, v_base))
    v_new = VT.vt_update(
        spark, table, [("k", ">=", 90)], {"v": "v * 100 + 7"}
    )
    m = _manifest(table, v_new)
    assert m["operation"] == "UPDATE"
    assert len(base_paths - set(_vfiles(table, v_new))) == 1
    rows = {r["k"]: r["v"] for r in VT.vt_read(spark, table).collect()}
    assert rows[95] == 95 * 2 * 100 + 7
    assert rows[50] == 100  # untouched (carried file, same bytes)
    assert rows[89] == 178  # in a rewritten file? no — below the range
    import pytest as _pytest
    with _pytest.raises(ValueError, match="unknown column"):
        VT.vt_update(spark, table, [("k", ">", 0)], {"nope": "1"})


def test_vt_dml_on_no_matching_files_is_metadata_only(spark, tmp_path):
    """A DELETE whose predicate lies outside every file's range carries
    ALL files forward — a metadata-only commit."""
    table = _clustered_table(spark, tmp_path)
    v_base = VT.vt_latest_version(table)
    base_paths = set(_vfiles(table, v_base))
    v_new = VT.vt_delete(spark, table, [("k", ">", 10_000)])
    m = _manifest(table, v_new)
    assert set(_vfiles(table, v_new)) == base_paths
    assert m["n_rows"] == 100


# ---------- PQ index lifecycle: append / remove / compact ----------

def test_pq_append_then_big_rerank_equals_brute_force(spark, tmp_path):
    """Codes appended against FROZEN codebooks: with rerank wide enough
    the exact-rerank result equals brute force over old+new regardless
    of quantization drift (the stored vectors make rerank exact) — the
    pq twin of the ivf_append contract."""
    from kinesis_app_spark.operators import similarity as SIM
    from kinesis_app_spark.operators import vectorindex as VI

    emb = _emb5(spark, n=64, d=8)
    idx = str(tmp_path / "pq")
    VI.pq_build(emb.filter(F.col("vec_id") < 32), idx, m=4, n_codes=8)
    VI.pq_append(emb.filter(F.col("vec_id") >= 32), idx)
    assert int(VI._read_manifest(spark, idx)["n_rows"]) == 64
    queries = emb.filter(F.col("vec_id") < 5)
    have = sorted(
        (r["query_id"], r["neighbor_id"], round(r["cos"], 6), r["rank"])
        for r in VI.pq_query(
            spark, idx, queries, k=5, rerank_factor=13
        ).collect()
    )
    want = sorted(
        (r["query_id"], r["neighbor_id"], round(r["cos"], 6), r["rank"])
        for r in SIM.brute_force_topk(emb, queries, k=5).collect()
    )
    assert have == want


def test_pq_remove_and_optimize(spark, tmp_path):
    """Erased ids never return as neighbors (and the result equals
    brute force over survivors at full-width rerank); compaction
    collapses the appended files with bit-identical results."""
    import os

    from kinesis_app_spark.operators import similarity as SIM
    from kinesis_app_spark.operators import vectorindex as VI

    emb = _emb5(spark, n=48, d=8)
    idx = str(tmp_path / "pq")
    VI.pq_build(emb.filter(F.col("vec_id") < 16), idx, m=4, n_codes=8)
    for lo in (16, 24, 32, 40):
        VI.pq_append(
            emb.filter(
                (F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 8)
            ),
            idx,
        )
    removed_ids = [3, 17, 33]
    removed = spark.createDataFrame(
        [(i,) for i in removed_ids], "vec_id long"
    )
    assert VI.pq_remove(spark, idx, removed) == 3
    assert int(VI._read_manifest(spark, idx)["n_rows"]) == 45
    queries = emb.filter(F.col("vec_id") < 4)
    r1 = sorted(
        tuple(r)
        for r in VI.pq_query(
            spark, idx, queries, k=5, rerank_factor=9
        ).collect()
    )
    assert not {x[1] for x in r1} & set(removed_ids)
    survivors = emb.join(removed, "vec_id", "left_anti")
    want = sorted(
        (r["query_id"], r["neighbor_id"], round(r["cos"], 6), r["rank"])
        for r in SIM.brute_force_topk(survivors, queries, k=5).collect()
    )
    assert [(a, b, round(c, 6), d) for a, b, c, d in r1] == want
    before, after = VI.pq_optimize(spark, idx)
    assert after < before, (before, after)
    r2 = sorted(
        tuple(r)
        for r in VI.pq_query(
            spark, idx, queries, k=5, rerank_factor=9
        ).collect()
    )
    assert r1 == r2
    # removing unknown ids is a no-op
    assert VI.pq_remove(
        spark, idx, spark.createDataFrame([(999,)], "vec_id long")
    ) == 0


def test_pq_append_on_empty_index_raises(spark, tmp_path):
    from kinesis_app_spark.operators import vectorindex as VI

    idx = str(tmp_path / "pq")
    VI.pq_build(_emb5(spark).filter(F.lit(False)), idx, m=4, n_codes=8)
    with pytest.raises(ValueError, match="codebooks"):
        VI.pq_append(_emb5(spark, n=8), idx)
    assert VI.pq_remove(
        spark, idx, _emb5(spark, n=4).select("vec_id")
    ) == 0  # empty index: nothing to erase


def test_vt_optimize_zorder_prunes_on_every_cluster_column(
    spark, tmp_path
):
    """OPTIMIZE ZORDER: after Morton clustering on (a, b), a vt_scan
    filter on b ALONE opens a strict subset of files — plain range
    clustering on (a, b) gives b no locality at all (a is unique, so
    the lead column absorbs the whole sort). Rows identical either
    way."""
    table = str(tmp_path / "vt")
    n = 4096
    df = spark.range(n).select(
        F.col("id").alias("a"),
        # b is a decorrelated permutation of the same domain: bit-mixed
        ((F.col("id") * 2654435761) % n).alias("b"),
        (F.col("id") % 7).alias("v"),
    )
    VT.vt_create(df.coalesce(1), table)
    # plain range clustering on (a, b): a is unique -> b unsorted
    VT.vt_optimize(
        spark, table, cluster_cols=["a", "b"], max_records_per_file=256
    )
    v_range = VT.vt_latest_version(table)
    n_files = len(_vfiles(table, v_range))
    assert n_files >= 8
    b_filter = [("b", ">=", 100), ("b", "<", 200)]
    opened_range = len(VT.vt_scan(spark, table, b_filter).inputFiles())
    assert opened_range == n_files  # no b-locality under range clustering

    VT.vt_optimize(
        spark, table, cluster_cols=["a", "b"], max_records_per_file=256,
        zorder=True,
    )
    v_z = VT.vt_latest_version(table)
    nz_files = len(_vfiles(table, v_z))
    opened_z = len(VT.vt_scan(spark, table, b_filter).inputFiles())
    assert opened_z < nz_files, (opened_z, nz_files)
    # and the a-dimension still prunes too (the Z-curve trade: both
    # dimensions get locality, neither gets perfect locality)
    a_filter = [("a", ">=", 100), ("a", "<", 200)]
    assert len(VT.vt_scan(spark, table, a_filter).inputFiles()) < nz_files
    # OPTIMIZE contract: identical rows
    got = sorted(
        (r["a"], r["b"], r["v"])
        for r in VT.vt_read(spark, table, v_z).collect()
    )
    want = sorted(
        (r["a"], r["b"], r["v"]) for r in df.collect()
    )
    assert got == want


def test_vt_merge_rebases_past_a_concurrent_commit(spark, tmp_path):
    """A writer losing the commit race to a winner that removed the file
    it read re-plans against the winner's version and lands on top of
    it — both changes survive, and the losing attempt's staged files
    are gone."""
    table = str(tmp_path / "vt")
    VT.vt_create(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
        .coalesce(1),
        table,
    )
    orig_write = VT._write_data
    staged = []

    def racing_write(df, table_dir, version):
        data_dir = orig_write(df, table_dir, version)
        staged.append(data_dir)
        if len(staged) == 1:
            # the winner lands version `version` first, with real files
            win = orig_write(
                spark.createDataFrame([(9, "w")], "k long, v string"),
                table_dir, version,
            )
            files = VT._collect_file_stats(
                spark, win,
                spark.createDataFrame([(9, "w")], "k long, v string").schema,
            )
            VT._commit(table_dir, version, {
                "data_dir": win, "files": files, "n_rows": 1,
                "schema": spark.createDataFrame(
                    [(9, "w")], "k long, v string").schema.jsonValue(),
                "operation": "MERGE",
            })
        return data_dir

    VT._write_data = racing_write
    try:
        v = VT.vt_merge(
            spark, table,
            spark.createDataFrame([(2, "B", "U")], "k long, v string, op string"),
            keys=["k"],
        )
    finally:
        VT._write_data = orig_write
    assert v == 2  # re-planned onto the winner's v1
    rows = {r["k"]: r["v"] for r in VT.vt_read(spark, table).collect()}
    # the re-plan saw the winner's snapshot ({9: w}) and merged on top
    assert rows == {9: "w", 2: "B"}
    assert len(staged) == 2
    assert not os.path.exists(staged[0])  # the losing attempt's files
    assert VT._read_manifest(table, 2)["data_dir"] == staged[1]
