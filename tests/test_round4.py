"""Round-4 operator tests: DIMSUM-sampled itemsim statistical quality
vs the exact entry, Horvitz-Thompson exactness on unsampled items, and
persisted vector indexes (build-once/query-many, partition pruning,
query path independent of the corpus)."""

from __future__ import annotations

import math
import shutil

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def test_dimsum_exact_on_light_items(spark, tmp_path):
    """When every item's degree is <= gamma, p=1 everywhere: every
    entry survives the Bernoulli gate, every Horvitz-Thompson weight is
    exactly 1e6, and DIMSUM must reproduce the exact entry bit-for-bit
    (n_est == n_common, cosine_est == cosine)."""
    from kinesis_app_spark.registry_round3 import itemsim_cosine_parts
    from kinesis_app_spark.registry_round4 import itemsim_dimsum_parts

    d = str(tmp_path)
    # one order per customer; baskets chosen so (100,101) co-occurs x3
    # and (100,102) x2 (>= support 2); all degrees <= 5 < gamma=16
    baskets = {
        1: [100, 101, 102],
        2: [100, 101],
        3: [100, 101, 103],
        4: [102, 103],
        5: [100, 102],
    }
    spark.createDataFrame(
        [(c, c) for c in baskets], "o_orderkey long, o_custkey long"
    ).write.parquet(f"{d}/orders.parquet")
    spark.createDataFrame(
        [(c, i) for c, items in baskets.items() for i in items],
        "l_orderkey long, l_partkey long",
    ).write.parquet(f"{d}/lineitem.parquet")

    exact = {
        (r["item"], r["neighbor"]): (r["n_common"], r["cosine"])
        for r in itemsim_cosine_parts(spark, d).collect()
    }
    est = {
        (r["item"], r["neighbor"]): (r["n_est"], r["cosine_est"])
        for r in itemsim_dimsum_parts(spark, d).collect()
    }
    assert set(exact) == set(est)
    assert (100, 101) in exact
    for k, (nc, cos) in exact.items():
        n_est, cos_est = est[k]
        assert n_est == float(nc), k
        assert cos_est == cos, k


def test_dimsum_estimates_track_exact_counts(spark):
    """Across all pairs present in both top-k lists, the HT estimates
    must be unbiased enough to rank with: mean relative error bounded
    and correlation with the exact counts strongly positive."""
    from kinesis_app_spark.registry_round3 import itemsim_cosine_parts
    from kinesis_app_spark.registry_round4 import itemsim_dimsum_parts

    exact = {
        (r["item"], r["neighbor"]): r["n_common"]
        for r in itemsim_cosine_parts(spark, SF_DIR).collect()
    }
    est = {
        (r["item"], r["neighbor"]): r["n_est"]
        for r in itemsim_dimsum_parts(spark, SF_DIR).collect()
    }
    common = sorted(set(exact) & set(est))
    assert len(common) >= 50, f"only {len(common)} shared pairs"
    rel_errs = [abs(est[k] - exact[k]) / exact[k] for k in common]
    mean_rel = sum(rel_errs) / len(rel_errs)
    assert mean_rel < 0.8, f"mean relative error {mean_rel:.3f}"
    # Pearson r between est and exact over shared pairs
    xs = [float(exact[k]) for k in common]
    ys = [float(est[k]) for k in common]
    n = len(xs)
    mx, my = sum(xs) / n, sum(ys) / n
    cov = sum((x - mx) * (y - my) for x, y in zip(xs, ys))
    vx = math.sqrt(sum((x - mx) ** 2 for x in xs))
    vy = math.sqrt(sum((y - my) ** 2 for y in ys))
    r = cov / (vx * vy) if vx > 0 and vy > 0 else 0.0
    assert r > 0.6, f"estimate/exact correlation too weak: {r:.3f}"


# ---------- persisted vector indexes ----------

def _build_ivf(spark, tmp_path, **kw):
    from kinesis_app_spark.operators import vectorindex as VI
    from kinesis_app_spark.registry_util import table as _t

    emb = _t(spark, SF_DIR, "embeddings")
    idx = str(tmp_path / "ivf_idx")
    VI.ivf_build(emb, idx, **kw)
    return emb, idx


def test_ivf_query_prunes_unprobed_cells(spark, tmp_path):
    """With nprobe=2 of 16 cells, the postings scan must read ONLY the
    probed cell directories: partition pruning visible both in the plan
    (PartitionFilters) and in the actual input files."""
    from kinesis_app_spark.operators import vectorindex as VI

    import re

    emb, idx = _build_ivf(spark, tmp_path, n_centroids=16)
    queries = emb.filter(F.col("vec_id") < 3)
    res = VI.ivf_query(spark, idx, queries, k=5, nprobe=2)
    res.collect()
    # the postings scan must carry a static cell IN (...) partition
    # filter whose set is the probed cells — not all 16 (inputFiles()
    # can't show this: it lists the relation's files pre-pruning)
    # (anchor on the filter itself: Spark truncates the scan's Location
    # string at 100 chars, so the postings path may not appear verbatim)
    plan = res._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[cell#\d+ IN \(([^)]*)\)", plan)
    assert m, "postings scan has no static cell IN partition filter"
    probed = {int(c) for c in m.group(1).split(",")}
    assert 0 < len(probed) <= 3 * 2 < 16, probed  # <= |Q| * nprobe


def test_ivf_query_runs_without_corpus(spark, tmp_path):
    """The query path must touch ONLY the index tables: build from a
    throwaway COPY of the corpus, delete the copy, query again — the
    index answers without any corpus access or retraining."""
    from kinesis_app_spark.operators import vectorindex as VI
    from kinesis_app_spark.registry_util import table as _t

    corpus_copy = str(tmp_path / "corpus")
    _t(spark, SF_DIR, "embeddings").write.parquet(corpus_copy)
    emb_copy = spark.read.parquet(corpus_copy)
    idx = str(tmp_path / "idx")
    VI.ivf_build(emb_copy, idx, n_centroids=16)
    queries = [
        (r["vec_id"], r["embedding"])
        for r in emb_copy.filter(F.col("vec_id") < 5).collect()
    ]
    shutil.rmtree(corpus_copy)  # corpus gone; only the index remains
    qdf = spark.createDataFrame(
        queries, "vec_id long, embedding array<float>"
    )
    out = VI.ivf_query(spark, idx, qdf, k=5, nprobe=16).collect()
    assert len(out) == 5 * 5


def test_ivf_persisted_full_probe_equals_brute_force(spark, tmp_path):
    """nprobe = n_centroids probes every cell: the persisted path must
    reproduce exact brute-force top-k bit-for-bit."""
    from kinesis_app_spark.operators import similarity as SIM
    from kinesis_app_spark.operators import vectorindex as VI

    emb, idx = _build_ivf(spark, tmp_path, n_centroids=16)
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cos"])
        for r in SIM.brute_force_topk(emb, queries, k=5).collect()
    }
    got = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cos"])
        for r in VI.ivf_query(spark, idx, queries, k=5, nprobe=16).collect()
    }
    assert got == exact


def test_pq_persisted_matches_fused(spark, tmp_path):
    """The persisted PQ path (build once, query from the index tables)
    must equal the fused pq_topk at identical parameters."""
    from kinesis_app_spark.operators import similarity as SIM
    from kinesis_app_spark.operators import vectorindex as VI
    from kinesis_app_spark.registry_util import table as _t

    emb = _t(spark, SF_DIR, "embeddings")
    idx = str(tmp_path / "pq_idx")
    VI.pq_build(emb, idx, m=32, n_codes=16)
    queries = emb.filter(F.col("vec_id") < 5)
    fused = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cos"])
        for r in SIM.pq_topk(
            emb, queries, k=5, m=32, n_codes=16, rerank_factor=12
        ).collect()
    }
    got = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cos"])
        for r in VI.pq_query(
            spark, idx, queries, k=5, rerank_factor=12
        ).collect()
    }
    assert got == fused


# ---------- versioned table: optimistic concurrency ----------

def _mk_vt(spark, tmp_path):
    from kinesis_app_spark.operators import versioned as VT

    table = str(tmp_path / "vt")
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    # single file: these tests reason about which whole FILE SETS die;
    # a 3-file layout would (correctly) carry untouched key ranges
    # forward by reference, which the round-5 carry-forward tests cover
    VT.vt_create(df.coalesce(1), table)
    return VT, table


def _changes(spark, rows):
    return spark.createDataFrame(rows, "k long, v string, op string")


def test_versioned_stale_writer_conflicts(spark, tmp_path):
    """A writer that based its merge on version 0 conflicts once another
    commit moved the table to version 1 (read-set conflict): its staged
    files go, and it re-plans at version 1 and commits on top of it."""
    import glob
    import os

    VT, table = _mk_vt(spark, tmp_path)
    VT.vt_merge(
        spark, table, _changes(spark, [(2, "B", "U")]), keys=["k"],
        expected_version=0,
    )
    v2 = VT.vt_merge(
        spark, table, _changes(spark, [(3, "C", "U")]), keys=["k"],
        expected_version=0,  # stale: table is at 1 now
    )
    assert v2 == 2
    # the re-plan saw the first writer's row
    rows = {r["k"]: r["v"] for r in VT.vt_read(spark, table).collect()}
    assert rows == {1: "a", 2: "B", 3: "C"}
    # every data dir left belongs to a committed version
    dirs = set(glob.glob(os.path.join(table, "data", "v*")))
    assert dirs == {VT._read_manifest(table, v)["data_dir"] for v in range(3)}


def test_versioned_commit_race_loses_atomically(spark, tmp_path):
    """The put-if-absent commit: if the next manifest appears between a
    writer's read and its commit, the commit must fail AND the loser's
    orphaned data files must be cleaned up before it re-plans on top of
    the winner."""
    import glob
    import json
    import os

    VT, table = _mk_vt(spark, tmp_path)
    v0 = VT._read_manifest(table, 0)
    # interpose: another writer commits version 1 while ours is writing
    orig_write = VT._write_data
    staged = []

    def racing_write(df, table_dir, version):
        data_dir = orig_write(df, table_dir, version)
        staged.append(data_dir)
        if version == 1 and not os.path.exists(
            VT._manifest_path(table_dir, 1)
        ):
            # the winner's incremental commit lands while our writer is
            # still flushing data: it rewrote v0's file (into its own,
            # already written data dir), so our merge read a removed file
            win_dir = os.path.join(table_dir, "data", "v00001_winner")
            os.makedirs(win_dir, exist_ok=True)
            os.makedirs(VT._manifest_dir(table_dir), exist_ok=True)
            with open(VT._manifest_path(table_dir, 1), "w") as fh:
                json.dump({
                    "version": 1, "data_dir": win_dir, "n_rows": 0,
                    "schema": v0["schema"], "operation": "MERGE",
                    "add": [],
                    "remove": [f["path"] for f in v0["files"]],
                }, fh)
        return data_dir

    VT._write_data = racing_write
    try:
        v = VT.vt_merge(
            spark, table, _changes(spark, [(1, "z", "U")]), keys=["k"]
        )
    finally:
        VT._write_data = orig_write
    # the re-plan merged into the winner's (empty) snapshot
    assert v == 2
    rows = {r["k"]: r["v"] for r in VT.vt_read(spark, table).collect()}
    assert rows == {1: "z"}
    # loser's data dir was rolled back: only v0's, the winner's and the
    # re-plan's remain
    assert len(staged) == 2 and not os.path.exists(staged[0])
    dirs = glob.glob(os.path.join(table, "data", "v*"))
    assert len(dirs) == 3 and staged[1] in dirs, dirs


def test_versioned_time_travel_immutable(spark, tmp_path):
    """Older versions read identically after later merges (immutable
    file sets; nothing rewritten in place)."""
    VT, table = _mk_vt(spark, tmp_path)
    v0_before = sorted(
        (r["k"], r["v"]) for r in VT.vt_read(spark, table, 0).collect()
    )
    VT.vt_merge(
        spark, table,
        _changes(spark, [(1, "zz", "U"), (2, None, "D")]), keys=["k"],
    )
    v0_after = sorted(
        (r["k"], r["v"]) for r in VT.vt_read(spark, table, 0).collect()
    )
    assert v0_before == v0_after == [(1, "a"), (2, "b"), (3, "c")]
    latest = sorted(
        (r["k"], r["v"]) for r in VT.vt_read(spark, table).collect()
    )
    assert latest == [(1, "zz"), (3, "c")]


# ---------- TTL state expiry ----------

def test_ttl_sessions_expire_and_state_is_removed(spark, tmp_path):
    """running_sessions_ttl: sessions split on gaps > ttl, one final row
    per key at expiry, and — the TTL point — the state store holds NO
    live state for expired keys afterwards (state.remove() freed it)."""
    import datetime as dt

    from kinesis_app_spark.registry_streaming import _append_sentinel
    from kinesis_app_spark.streaming.ops import (
        run_to_memory,
        running_sessions_ttl,
    )
    from kinesis_app_spark.streaming.sources import file_stream

    t0 = dt.datetime(2024, 1, 1)
    schema = "user_id long, ts timestamp, event_id long"
    rows = [
        (1, t0, 1),
        (1, t0 + dt.timedelta(minutes=30), 2),
        (1, t0 + dt.timedelta(hours=4), 3),  # gap 3.5h > ttl 1h
        (2, t0 + dt.timedelta(hours=1), 4),
    ]
    df = spark.createDataFrame(rows, schema)
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    df.coalesce(1).write.parquet(src)
    _append_sentinel(spark, src, df.schema, (-1, dt.datetime(2030, 1, 1), -1))
    _append_sentinel(spark, src, df.schema, (-2, dt.datetime(2031, 1, 1), -2))
    stream = file_stream(spark, src, df.schema, max_files_per_trigger=1)
    out = running_sessions_ttl(
        stream.withWatermark("ts", "0 seconds"),
        "user_id", "ts", "event_id", ttl_seconds=3600,
    )
    res = run_to_memory(out, ckpt, output_mode="update", shuffle_partitions=4)
    got = {
        r["user_id"]: (
            r["n_sessions"], r["last_session_events"], r["total_events"]
        )
        for r in res.filter(F.col("user_id") >= 0).collect()
    }
    assert got == {1: (2, 1, 3), 2: (1, 1, 1)}
    # exactly one emission per expired key
    assert res.filter(F.col("user_id") >= 0).count() == 2
    # the TTL guarantee: expired keys left NOTHING in the state store
    state = (
        spark.read.format("statestore").load(ckpt).select("key.*")
    )
    live = {r[0] for r in state.collect()}
    assert live.isdisjoint({1, 2}), f"expired keys still in store: {live}"


def test_versioned_optimize_preserves_data_and_clusters(spark, tmp_path):
    """OPTIMIZE commits a row-identical version whose files carry
    DISJOINT key ranges (range clustering -> footer min/max skipping)."""
    import glob

    from kinesis_app_spark.operators import versioned as VT

    table = str(tmp_path / "vt")
    df = spark.range(0, 10000).select(
        F.col("id").alias("k"),
        (F.col("id") % 97).cast("string").alias("v"),
    )
    # shuffle the layout so pre-OPTIMIZE files interleave key ranges
    VT.vt_create(df.repartition(8, "v"), table)
    v1 = VT.vt_optimize(
        spark, table, cluster_cols=["k"], max_records_per_file=2000
    )
    assert v1 == 1
    before = sorted(r["k"] for r in VT.vt_read(spark, table, 0).collect())
    after = sorted(r["k"] for r in VT.vt_read(spark, table, 1).collect())
    assert before == after == list(range(10000))
    hist = {r["version"]: r["operation"] for r in
            VT.vt_history(spark, table).collect()}
    assert hist == {0: "CREATE", 1: "OPTIMIZE"}
    # disjoint per-file key ranges in the optimized version
    data_dir = VT._read_manifest(table, 1)["data_dir"]
    spans = []
    for f in glob.glob(f"{data_dir}/part-*.parquet"):
        pdf = spark.read.parquet(f).agg(
            F.min("k").alias("lo"), F.max("k").alias("hi")
        ).collect()[0]
        spans.append((pdf["lo"], pdf["hi"]))
    spans.sort()
    assert len(spans) >= 4  # maxRecordsPerFile split the table
    for (l1, h1), (l2, h2) in zip(spans, spans[1:]):
        assert h1 < l2, f"overlapping file ranges: {(l1,h1)} {(l2,h2)}"


def test_versioned_cdf_roundtrip_reconstructs(spark, tmp_path):
    """Applying the CDF of v0->vN onto v0 must reconstruct vN (the
    consumer contract of a change feed)."""
    from kinesis_app_spark.operators import versioned as VT

    VTmod, table = VT, str(tmp_path / "vt")
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "k long, v string"
    )
    VT.vt_create(df, table)
    ch = spark.createDataFrame(
        [(2, "B", "U"), (3, None, "D"), (9, "i", "U")],
        "k long, v string, op string",
    )
    VT.vt_merge(spark, table, ch, keys=["k"])
    cdf = VT.vt_changes(spark, table, 0, 1, keys=["k"]).collect()
    base = {r["k"]: r["v"] for r in VT.vt_read(spark, table, 0).collect()}
    for r in cdf:
        if r["_change_type"] in ("insert", "update_postimage"):
            base[r["k"]] = r["v"]
        elif r["_change_type"] == "delete":
            base.pop(r["k"])
    target = {r["k"]: r["v"] for r in VT.vt_read(spark, table, 1).collect()}
    assert base == target == {1: "a", 2: "B", 4: "d", 9: "i"}


def test_versioned_stream_merger_skips_replayed_epoch(spark, tmp_path):
    """The foreachBatch merger's batch_id ledger: re-applying an
    already-committed epoch is a no-op (history unchanged), a new epoch
    commits — the exactly-once contract under at-least-once replay."""
    from kinesis_app_spark.operators import versioned as VT

    table = str(tmp_path / "vt")
    VT.vt_create(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"),
        table,
    )
    merger = VT.vt_foreach_batch_merger(spark, table, keys=["k"])
    ch = spark.createDataFrame([(2, "B", "U")], "k long, v string, op string")
    merger(ch, 0)
    assert VT.vt_latest_version(table) == 1
    merger(ch, 0)  # replayed epoch: must skip
    assert VT.vt_latest_version(table) == 1
    merger(
        spark.createDataFrame([(3, "c", "U")], "k long, v string, op string"),
        1,
    )
    assert VT.vt_latest_version(table) == 2
    assert VT.vt_committed_batch_ids(table) == {0, 1}
    rows = {r["k"]: r["v"] for r in VT.vt_read(spark, table).collect()}
    assert rows == {1: "a", 2: "B", 3: "c"}


def test_ivf_append_then_full_probe_equals_brute_force(spark, tmp_path):
    """Incremental maintenance: build on the first half of the corpus,
    append the second half against the FROZEN centroids — a full-probe
    query over the appended index must equal brute force over the
    whole corpus (and the manifest row count must track the append)."""
    from kinesis_app_spark.operators import similarity as SIM
    from kinesis_app_spark.operators import vectorindex as VI
    from kinesis_app_spark.registry_util import table as _t

    emb = _t(spark, SF_DIR, "embeddings")
    n = emb.count()
    half = emb.filter(F.col("vec_id") % 2 == 0)
    rest = emb.filter(F.col("vec_id") % 2 == 1)
    idx = str(tmp_path / "idx")
    VI.ivf_build(half, idx, n_centroids=16)
    VI.ivf_append(rest, idx)
    import os

    mani = spark.read.json(os.path.join(idx, "manifest.json")).collect()[0]
    assert int(mani["n_rows"]) == n
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cos"])
        for r in SIM.brute_force_topk(emb, queries, k=5).collect()
    }
    got = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cos"])
        for r in VI.ivf_query(spark, idx, queries, k=5, nprobe=16).collect()
    }
    assert got == exact


def test_versioned_vacuum_reclaims_and_guards(spark, tmp_path):
    """VACUUM deletes old versions' files, keeps the history auditable,
    never touches the retained tail, and reading a vacuumed version
    raises a clear error (not a missing-file stack). Each merge here
    also UPDATES k=1, so its key range spans every existing file and
    each version genuinely rewrites its whole file set — old versions'
    files are dead, the case vacuum exists to reclaim (carry-forward
    sharing is covered in tests/test_round5.py)."""
    import glob
    import os

    import pytest

    from kinesis_app_spark.operators import versioned as VT

    table = str(tmp_path / "vt")
    VT.vt_create(
        spark.createDataFrame([(1, "a")], "k long, v string").coalesce(1),
        table,
    )
    for i, tag in enumerate(["b", "c", "d"]):
        VT.vt_merge(
            spark, table,
            spark.createDataFrame(
                [(1, f"u{tag}", "U"), (i + 2, tag, "U")],
                "k long, v string, op string",
            ),
            keys=["k"],
        )
    assert VT.vt_latest_version(table) == 3
    gone = VT.vt_vacuum(table, retain_last=2)
    assert gone == [0, 1]
    assert len(glob.glob(os.path.join(table, "data", "v*"))) == 2
    # retained versions still read; history still lists all 4 commits
    assert VT.vt_read(spark, table, 2).count() == 3
    assert VT.vt_read(spark, table, 3).count() == 4
    assert VT.vt_history(spark, table).count() == 4
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        VT.vt_read(spark, table, 0)
    # idempotent: a second vacuum finds nothing new
    assert VT.vt_vacuum(table, retain_last=2) == []


def test_dedup_index_screen_add_rescreen_loop(spark, tmp_path):
    """The production ingestion loop: build an index over a seed corpus,
    screen a batch (exact dup / near dup / new verdicts), ADD the new
    docs, then rescreen — previously-new docs must now be caught (as
    exact dups of themselves), and a near-variant of an added doc must
    be flagged against the ADDED doc, not just the seed corpus."""
    from kinesis_app_spark.operators import dedupindex as DI

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely unrelated text about spark and parquet files"),
        ],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "idx")
    DI.dedup_index_build(corpus, idx)

    batch = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog today"),  # exact of 1
            (11, "the quick brown fox jumps over the lazy dog tonight"),  # near of 1
            (12, "a genuinely novel document with fresh content here"),  # new
        ],
        "doc_id long, text string",
    )
    v1 = {r["doc_id"]: (r["verdict"], r["dup_of"])
          for r in DI.dedup_index_screen(spark, idx, batch).collect()}
    assert v1[10] == ("exact_dup", 1)
    assert v1[11][0] == "near_dup" and v1[11][1] == 1
    assert v1[12] == ("new", None)

    accepted = batch.filter(F.col("doc_id") == 12)
    DI.dedup_index_add(spark, idx, accepted)

    batch2 = spark.createDataFrame(
        [
            (20, "a genuinely novel document with fresh content here"),  # exact of 12
            (21, "a genuinely novel document with fresh content there"),  # near of 12
        ],
        "doc_id long, text string",
    )
    v2 = {r["doc_id"]: (r["verdict"], r["dup_of"])
          for r in DI.dedup_index_screen(spark, idx, batch2).collect()}
    assert v2[20] == ("exact_dup", 12)
    assert v2[21][0] == "near_dup" and v2[21][1] == 12


def test_versioned_merge_refuses_silent_column_drop(spark, tmp_path):
    """A change batch with an unknown column must raise without
    merge_schema=True — dropping it silently loses data."""
    import pytest

    from kinesis_app_spark.operators import versioned as VT

    VTmod, table = _mk_vt(spark, tmp_path)
    ch = spark.createDataFrame(
        [(2, "B", "extra", "U")], "k long, v string, w string, op string"
    )
    with pytest.raises(ValueError, match="merge_schema"):
        VT.vt_merge(spark, table, ch, keys=["k"])
    v1 = VT.vt_merge(spark, table, ch, keys=["k"], merge_schema=True)
    rows = {r["k"]: (r["v"], r["w"])
            for r in VT.vt_read(spark, table, v1).collect()}
    assert rows == {1: ("a", None), 2: ("B", "extra"), 3: ("c", None)}
    # old version keeps the old schema (forward-only evolution)
    assert "w" not in VT.vt_read(spark, table, 0).columns


def test_versioned_shallow_clone_shares_files_and_guards_vacuum(
    spark, tmp_path
):
    """CLONE copies manifests only (zero-copy fork); commits on the
    clone never touch the source, and vacuuming the clone must NOT
    delete the source's shared data files (external-version guard)."""
    import glob
    import os

    from kinesis_app_spark.operators import versioned as VT

    VTmod, table = _mk_vt(spark, tmp_path)
    VT.vt_merge(
        spark, table, _changes(spark, [(2, "B", "U")]), keys=["k"]
    )
    clone = str(tmp_path / "clone")
    assert VT.vt_clone(table, clone) == 1
    # clone reads identically, sharing the source's files
    assert sorted(
        (r["k"], r["v"]) for r in VT.vt_read(spark, clone).collect()
    ) == [(1, "a"), (2, "B"), (3, "c")]
    assert glob.glob(os.path.join(clone, "data", "v*")) == []
    # diverge the clone; source unaffected
    VT.vt_merge(spark, clone, _changes(spark, [(9, "z", "U")]), keys=["k"])
    assert VT.vt_latest_version(clone) == 2
    assert VT.vt_latest_version(table) == 1
    assert VT.vt_read(spark, table).count() == 3
    # vacuum the clone hard: external (shared) versions are skipped, so
    # every source file survives and the source still reads
    gone = VT.vt_vacuum(clone, retain_last=1)
    assert gone == []  # v0/v1 are external; v2 is the retained tail
    assert len(glob.glob(os.path.join(table, "data", "v*"))) == 2
    assert VT.vt_read(spark, table, 0).count() == 3


def test_versioned_restore_and_reference_aware_vacuum(spark, tmp_path):
    """RESTORE commits a zero-copy re-reference of an old version;
    VACUUM must then NOT delete the shared data dir while any retained
    version points at it — file-level reference counting."""
    import glob
    import os

    from kinesis_app_spark.operators import versioned as VT

    VTmod, table = _mk_vt(spark, tmp_path)            # v0: {1:a,2:b,3:c}
    VT.vt_merge(spark, table,
                _changes(spark, [(2, None, "D")]), keys=["k"])  # v1: drop 2
    v2 = VT.vt_restore(spark, table, 0)               # v2 == v0 content
    assert v2 == 2
    assert sorted(r["k"] for r in VT.vt_read(spark, table).collect()) == [
        1, 2, 3,
    ]
    hist = {r["version"]: r["operation"]
            for r in VT.vt_history(spark, table).collect()}
    assert hist[2] == "RESTORE(0)"
    # vacuum retaining only v2: v0's dir is SHARED with v2 -> survives;
    # v1's dir goes
    gone = VT.vt_vacuum(table, retain_last=1)
    assert gone == [1]
    assert len(glob.glob(os.path.join(table, "data", "v*"))) == 1
    assert VT.vt_read(spark, table).count() == 3  # still readable


def test_versioned_merge_check_constraint_aborts(spark, tmp_path):
    """A CHECK-violating merge aborts BEFORE commit: no new version, no
    file writes, table untouched; a clean merge with the same predicate
    passes."""
    import pytest

    from kinesis_app_spark.operators import versioned as VT

    VTmod, table = _mk_vt(spark, tmp_path)
    with pytest.raises(ValueError, match="CHECK"):
        VT.vt_merge(
            spark, table, _changes(spark, [(2, None, "U")]), keys=["k"],
            check="v IS NOT NULL",
        )
    assert VT.vt_latest_version(table) == 0
    v1 = VT.vt_merge(
        spark, table, _changes(spark, [(2, "B", "U")]), keys=["k"],
        check="v IS NOT NULL",
    )
    assert v1 == 1
