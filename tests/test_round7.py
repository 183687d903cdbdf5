"""Round-7 features: manifest protocol/feature guards and column
mapping (rename/drop without rewriting data files)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from kinesis_app_spark.operators import versioned as VT


def _mk(spark, path, n=12):
    VT.vt_create(
        spark.range(n).select(
            F.col("id").cast("long").alias("k"),
            (F.col("id") * 10).cast("long").alias("v"),
            (F.col("id") % 3).cast("int").alias("grp"),
        ),
        path,
    )


def _edit_manifest(table, version, fn):
    p = VT._manifest_path(table, version)
    with open(p) as fh:
        m = json.load(fh)
    fn(m)
    with open(p, "w") as fh:
        json.dump(m, fh)


# ---------------------------------------------------------------------
# protocol / feature guards
# ---------------------------------------------------------------------


def _unknown_feature(m):
    m["protocol"] = {
        "min_reader": 1, "min_writer": 1,
        "features": ["time_crystals"],
    }


def _no_file_metadata_or_schema(m):
    for k in ("files", "files_pq", "add", "remove", "schema"):
        m.pop(k, None)


@pytest.mark.parametrize("poison, match", [
    pytest.param(_unknown_feature, "time_crystals", id="unknown_feature"),
    pytest.param(_no_file_metadata_or_schema, "recreate the table",
                 id="no_file_metadata_or_schema"),
])
def test_unknown_required_feature_raises_everywhere(spark, tmp_path,
                                                    poison, match):
    table = str(tmp_path / "t")
    _mk(spark, table)

    _edit_manifest(table, 0, poison)
    with pytest.raises(VT.ProtocolError, match=match):
        VT.vt_read(spark, table)
    with pytest.raises(VT.ProtocolError, match=match):
        VT.vt_scan(spark, table, [("k", "=", 1)])
    with pytest.raises(VT.ProtocolError, match=match):
        VT.vt_changes(spark, table, 0, 0, keys=["k"])
    with pytest.raises(VT.ProtocolError, match=match):
        VT.vt_merge(
            spark, table,
            spark.createDataFrame([(1, 1, 1, "U")],
                                  "k long, v long, grp int, op string"),
            keys=["k"],
        )
    with pytest.raises(VT.ProtocolError, match=match):
        VT.vt_delete(spark, table, [("k", "=", 1)])
    from kinesis_app_spark.sources import vt_cdf as CDF

    CDF.register(spark)
    # the source runs in a Python worker: the ProtocolError arrives
    # wrapped in Spark's exception, its type and message in the text
    with pytest.raises(Exception, match=match) as err:
        (
            spark.read.format("vt_cdf")
            .option("path", table).option("keys", "k")
            .load().collect()
        )
    assert "ProtocolError" in str(err.value)


def test_min_reader_version_guard(spark, tmp_path):
    table = str(tmp_path / "t")
    _mk(spark, table)
    _edit_manifest(
        table, 0,
        lambda m: m.update(
            protocol={"min_reader": 99, "min_writer": 99, "features": []}
        ),
    )
    with pytest.raises(VT.ProtocolError, match="reader version 99"):
        VT.vt_read(spark, table)


def test_protocol_stamp_tracks_content_and_is_sticky(spark, tmp_path):
    table = str(tmp_path / "t")
    _mk(spark, table)
    feats0 = VT._read_manifest(table, 0)["protocol"]["features"]
    assert "deletion_vectors" not in feats0
    VT.vt_delete_dv(spark, table, [("k", "=", 3)])
    v = VT.vt_latest_version(table)
    feats = VT._read_manifest(table, v)["protocol"]["features"]
    assert "deletion_vectors" in feats
    # sticky: a later plain merge still declares the feature
    VT.vt_merge(
        spark, table,
        spark.createDataFrame([(20, 200, 2, "U")],
                              "k long, v long, grp int, op string"),
        keys=["k"],
    )
    feats2 = VT._read_manifest(
        table, VT.vt_latest_version(table)
    )["protocol"]["features"]
    assert "deletion_vectors" in feats2


def test_unstamped_tables_read_unchanged(spark, tmp_path):
    """Pre-round-7 tables (no protocol key) pass the guard vacuously."""
    table = str(tmp_path / "t")
    _mk(spark, table)
    _edit_manifest(table, 0, lambda m: m.pop("protocol", None))
    assert VT.vt_read(spark, table).count() == 12


# ---------------------------------------------------------------------
# column mapping: rename/drop without rewriting data files
# ---------------------------------------------------------------------


def _data_files(table):
    root = os.path.join(table, "data")
    return {
        os.path.join(r, f)
        for r, _, fs in os.walk(root)
        for f in fs if f.endswith(".parquet")
    }


def test_rename_is_metadata_only_and_time_travel_keeps_old_name(
    spark, tmp_path
):
    table = str(tmp_path / "t")
    _mk(spark, table)
    before_files = _data_files(table)
    v = VT.vt_rename_column(table, "v", "amount")
    assert _data_files(table) == before_files  # NO data file written
    m = VT._read_manifest(table, v)
    assert m.get("add") == [] and m.get("remove") == []  # O(1) payload
    assert "column_mapping" in m
    assert "column_mapping" in m["protocol"]["features"]
    # new logical name, same values
    now = VT.vt_read(spark, table)
    assert now.columns == ["k", "amount", "grp"]
    assert now.agg(F.sum("amount")).collect()[0][0] == sum(
        i * 10 for i in range(12)
    )
    # the old version still answers under the OLD name
    old = VT.vt_read(spark, table, version=v - 1)
    assert old.columns == ["k", "v", "grp"]
    assert old.agg(F.sum("v")).collect()[0][0] == sum(
        i * 10 for i in range(12)
    )


def test_merge_and_prune_after_rename(spark, tmp_path):
    table = str(tmp_path / "t")
    VT.vt_create(
        spark.range(100).select(
            F.col("id").cast("long").alias("k"),
            (F.col("id") * 10).cast("long").alias("v"),
        ).repartitionByRange(4, "k").sortWithinPartitions("k"),
        table,
    )
    VT.vt_rename_column(table, "v", "amount")
    n_files = len(VT.vt_files(table, VT.vt_latest_version(table)))
    assert n_files >= 3
    chg = spark.createDataFrame([(5, 555, "U")],
                                "k long, amount long, op string")
    v = VT.vt_merge(spark, table, chg, keys=["k"])
    # key-set pruning still works: the merge rewrote a strict subset
    delta = VT._commit_delta(table, v)
    assert delta is not None
    added, removed = delta
    assert 0 < len(removed) < n_files
    got = VT.vt_read(spark, table).filter("k = 5").collect()
    assert got[0]["amount"] == 555
    # stats-pruned scan on the renamed column == plain filter
    assert (
        VT.vt_scan(spark, table, [("amount", "=", 555)]).collect()
        == VT.vt_read(spark, table).filter("amount = 555").collect()
    )


def test_drop_column_and_readd_gets_fresh_physical(spark, tmp_path):
    table = str(tmp_path / "t")
    _mk(spark, table)
    before_files = _data_files(table)
    v_drop = VT.vt_drop_column(table, "v")
    assert _data_files(table) == before_files  # metadata-only
    assert VT.vt_read(spark, table).columns == ["k", "grp"]
    # the dropped column survives in history
    assert "v" in VT.vt_read(spark, table, version=v_drop - 1).columns
    # re-adding logical "v" maps to a FRESH physical: old data must
    # NOT resurrect (pre-existing rows read null, not the old values)
    chg = spark.createDataFrame(
        [(0, 0, -1, "U")], "k long, grp int, v long, op string"
    )
    VT.vt_merge(spark, table, chg, keys=["k"], merge_schema=True)
    m = VT._read_manifest(table, VT.vt_latest_version(table))
    assert m["column_mapping"]["v"].startswith("col_")
    rows = {r["k"]: r["v"] for r in VT.vt_read(spark, table).collect()}
    assert rows[0] == -1
    assert all(rows[k] is None for k in rows if k != 0)


def test_delete_dv_and_update_after_rename(spark, tmp_path):
    table = str(tmp_path / "t")
    _mk(spark, table)
    VT.vt_rename_column(table, "v", "amount")
    VT.vt_delete_dv(spark, table, [("amount", "=", 30)])
    assert VT.vt_read(spark, table).filter("amount = 30").count() == 0
    VT.vt_update(spark, table, [("k", "=", 7)],
                 {"amount": "amount + 1000"})
    assert VT.vt_read(spark, table).filter("k = 7").collect()[0][
        "amount"
    ] == 1070
    # bloom index on the renamed column still prunes correctly
    VT.vt_index_bloom(spark, table, ["amount"])
    assert (
        VT.vt_scan(spark, table, [("amount", "=", 1070)]).count() == 1
    )


def test_cdf_across_rename(spark, tmp_path):
    table = str(tmp_path / "t")
    _mk(spark, table)
    v0 = VT.vt_latest_version(table)
    v_ren = VT.vt_rename_column(table, "v", "amount")
    # the rename commit itself changes NOTHING: identical file set
    assert VT.vt_changes(spark, table, v_ren - 1, v_ren,
                         keys=["k"]).count() == 0
    chg = spark.createDataFrame([(3, 333, 0, "U")],
                                "k long, amount long, grp int, op string")
    v2 = VT.vt_merge(spark, table, chg, keys=["k"])
    # a diff SPANNING the rename reports under the TO version's names,
    # and the renamed column is one column, not dropped+added
    cdf = VT.vt_changes(spark, table, v0, v2, keys=["k"])
    assert "amount" in cdf.columns and "v" not in cdf.columns
    rows = {(r["_change_type"], r["k"]): r["amount"]
            for r in cdf.collect()}
    assert rows == {("update_preimage", 3): 30,
                    ("update_postimage", 3): 333}


def test_vt_cdf_source_on_mapped_table(spark, tmp_path):
    from kinesis_app_spark.sources import vt_cdf as CDF

    table = str(tmp_path / "t")
    _mk(spark, table)
    VT.vt_rename_column(table, "v", "amount")
    VT.vt_merge(
        spark, table,
        spark.createDataFrame([(4, 444, 1, "U")],
                              "k long, amount long, grp int, op string"),
        keys=["k"],
    )
    CDF.register(spark)
    got = (
        spark.read.format("vt_cdf")
        .option("path", table).option("keys", "k")
        .load()
    )
    assert "amount" in got.columns
    final = {
        (r["_change_type"], r["k"], r["amount"])
        for r in got.filter(
            F.col("_commit_version") == VT.vt_latest_version(table)
        ).collect()
    }
    assert final == {("update_preimage", 4, 40),
                     ("update_postimage", 4, 444)}
    # the full tail reconciles to the current snapshot row count
    inserts = got.filter("_change_type = 'insert'").count()
    assert inserts >= 12


def test_sink_append_to_mapped_table(spark, tmp_path):
    table = str(tmp_path / "t")
    _mk(spark, table)
    VT.vt_rename_column(table, "v", "amount")
    from kinesis_app_spark.sources.vt_writer import register

    register(spark)
    (
        spark.createDataFrame([(100, 1000, 1)],
                              "k long, amount long, grp int")
        .write.format("vt_table").mode("append")
        .option("path", table).save()
    )
    got = VT.vt_read(spark, table).filter("k = 100").collect()
    assert got[0]["amount"] == 1000
    # sink-written file stats are PHYSICAL: a scan on the logical name
    # still prunes+finds the row
    assert VT.vt_scan(spark, table, [("amount", "=", 1000)]).count() == 1


def test_maintenance_ops_on_mapped_table(spark, tmp_path):
    table = str(tmp_path / "t")
    VT.vt_create(
        spark.range(60).select(
            F.col("id").cast("long").alias("k"),
            (F.col("id") * 10).cast("long").alias("v"),
            (F.col("id") % 5).cast("int").alias("grp"),
        ).repartition(6),
        table,
    )
    VT.vt_rename_column(table, "v", "amount")
    total = 60 * 59 // 2 * 10
    VT.vt_compact(spark, table, min_rows_per_file=1000)
    assert VT.vt_read(spark, table).agg(
        F.sum("amount")
    ).collect()[0][0] == total
    VT.vt_optimize(spark, table, ["amount"], zorder=False)
    assert VT.vt_read(spark, table).agg(
        F.sum("amount")
    ).collect()[0][0] == total
    # clustered provenance is physical: incremental clustering sees no
    # debt right after the full optimize
    latest = VT.vt_latest_version(table)
    assert VT.vt_cluster_incremental(spark, table, ["amount"]) == latest


# ---------------------------------------------------------------------
# vt_table BATCH READER (round-7: the read half of the DataSource)
# ---------------------------------------------------------------------


def _canon(df):
    return sorted(tuple(r) for r in df.collect())


def test_vt_table_batch_reader_matches_vt_read(spark, tmp_path):
    from kinesis_app_spark.sources.vt_writer import register

    table = str(tmp_path / "t")
    _mk(spark, table, n=20)
    VT.vt_merge(
        spark, table,
        spark.createDataFrame([(3, 333, 0, "U"), (5, 0, 0, "D")],
                              "k long, v long, grp int, op string"),
        keys=["k"],
    )
    VT.vt_delete_dv(spark, table, [("k", "=", 7)])
    VT.vt_rename_column(table, "v", "amount")
    register(spark)
    got = (
        spark.read.format("vt_table").option("path", table).load()
    )
    assert got.columns == ["k", "amount", "grp"]
    assert _canon(got) == _canon(VT.vt_read(spark, table))
    # soft-deleted + merged rows respected through the source API
    ks = {r["k"] for r in got.collect()}
    assert 5 not in ks and 7 not in ks
    assert got.filter("k = 3").collect()[0]["amount"] == 333


def test_vt_table_reader_time_travel_options(spark, tmp_path):
    from kinesis_app_spark.sources.vt_writer import register

    table = str(tmp_path / "t")
    _mk(spark, table, n=6)
    m0 = VT._read_manifest(table, 0)
    VT.vt_merge(
        spark, table,
        spark.createDataFrame([(2, 222, 0, "U")],
                              "k long, v long, grp int, op string"),
        keys=["k"],
    )
    VT.vt_rename_column(table, "v", "amount")
    register(spark)
    old = (
        spark.read.format("vt_table").option("path", table)
        .option("versionAsOf", "0").load()
    )
    # the resolved version's OWN schema (pre-rename logical names)
    assert old.columns == ["k", "v", "grp"]
    assert _canon(old) == _canon(VT.vt_read(spark, table, version=0))
    ts = (
        spark.read.format("vt_table").option("path", table)
        .option("timestampAsOf", str(m0["committed_at"])).load()
    )
    assert _canon(ts) == _canon(old)
    import pytest as _pytest

    with _pytest.raises(Exception, match="not both"):
        (
            spark.read.format("vt_table").option("path", table)
            .option("versionAsOf", "0")
            .option("timestampAsOf", "1.0").load()
        )


# ---------------------------------------------------------------------
# vt_cdf projection pushdown (round-7: option("columns", ...))
# ---------------------------------------------------------------------


def test_cdf_projection_narrows_schema_and_semantics(spark, tmp_path):
    from kinesis_app_spark.sources import vt_cdf as CDF

    table = str(tmp_path / "t")
    _mk(spark, table, n=10)
    # v1 changes BOTH v (k=1) and grp-only (k=2)
    VT.vt_merge(
        spark, table,
        spark.createDataFrame(
            [(1, 111, 1 % 3, "U"), (2, 20, 99, "U")],
            "k long, v long, grp int, op string",
        ),
        keys=["k"],
    )
    CDF.register(spark)
    got = (
        spark.read.format("vt_cdf")
        .option("path", table).option("keys", "k")
        .option("columns", "v")
        .option("startingVersion", "1")
        .load()
    )
    assert got.columns == ["_commit_version", "_change_type", "k", "v"]
    rows = {(r["_change_type"], r["k"], r["v"]) for r in got.collect()}
    # k=1 changed v -> reported; k=2 changed ONLY the unprojected grp
    # -> invisible under the projection (the projected-view semantics)
    assert rows == {("update_preimage", 1, 10),
                    ("update_postimage", 1, 111)}
    # unprojected full feed still sees the grp-only update
    full = (
        spark.read.format("vt_cdf")
        .option("path", table).option("keys", "k")
        .option("startingVersion", "1")
        .load()
    )
    ks = {r["k"] for r in full.collect()}
    assert ks == {1, 2}


def test_cdf_projection_unknown_column_raises(spark, tmp_path):
    from kinesis_app_spark.sources import vt_cdf as CDF

    table = str(tmp_path / "t")
    _mk(spark, table, n=4)
    CDF.register(spark)
    with pytest.raises(Exception, match="nope"):
        (
            spark.read.format("vt_cdf")
            .option("path", table).option("keys", "k")
            .option("columns", "nope")
            .load().collect()
        )


def test_read_padded_projects_the_parquet_read(spark, tmp_path,
                                               monkeypatch):
    """The pyarrow read itself is column-pruned: only the projected
    physical columns (plus nothing else) reach pq.read_table."""
    import pyarrow.parquet as pq

    from kinesis_app_spark.sources import vt_cdf as CDF

    table = str(tmp_path / "t")
    _mk(spark, table, n=6)
    files = VT.vt_files(table, 0)
    target = CDF._arrow_target(
        __import__("json").dumps(
            CDF._cdf_schema(table, ["v"], ["k"]).jsonValue()
        )
    )
    seen = []
    real = pq.read_table

    def spy(path, columns=None, **kw):
        seen.append(columns)
        return real(path, columns=columns, **kw)

    monkeypatch.setattr(pq, "read_table", spy)
    tbl = CDF._read_padded([files[0]["path"]], target)
    assert seen and all(set(c) == {"k", "v"} for c in seen)
    assert tbl.column_names == ["k", "v"]


# ---------------------------------------------------------------------
# two-readStream join-view coordinator (round-7 task 4)
# ---------------------------------------------------------------------


def test_two_stream_coordinator_orders_waits_and_dedups(spark, tmp_path):
    from kinesis_app_spark.sources import vt_cdf as CDF
    from kinesis_app_spark.streaming.ivm import TwoStreamJoinCoordinator

    CDF.register(spark)
    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    view = str(tmp_path / "view")
    spool = str(tmp_path / "spool")
    VT.vt_create(
        spark.createDataFrame([(1, 10)], "k long, x long"), a
    )
    VT.vt_create(
        spark.createDataFrame([(1, 20)], "k long, y long"), b
    )
    VT.vt_create(
        spark.createDataFrame([], "k long, v long"), view
    )
    calls = []

    def apply_delta(delta, other, side, bid):
        calls.append((side, bid, delta.count(), other.count()))
        VT.vt_merge(
            spark, view,
            spark.createDataFrame([(bid, 1, "U")],
                                  "k long, v long, op string"),
            keys=["k"], batch_id=bid,
        )

    coord = TwoStreamJoinCoordinator(spark, a, b, view, spool,
                                     apply_delta, {"a": "k", "b": "k"})

    def cdf(table, v):
        return (
            spark.read.format("vt_cdf")
            .option("path", table).option("keys", "k")
            .option("startingVersion", str(v))
            .option("endVersion", str(v)).load()
        )

    # stage B0 FIRST: A0 is earlier in the global order (created
    # first), so the coordinator must WAIT — nothing applies
    coord._stage("b", cdf(b, 0))
    assert coord.drain() == []
    assert calls == []
    # staging A0 unblocks BOTH, applied in the deterministic order
    coord._stage("a", cdf(a, 0))
    assert coord.drain() == [0, 1]  # bid 0 = (a,0), bid 1 = (b,0)
    assert [c[:2] for c in calls] == [("a", 0), ("b", 1)]
    # A0 applied against EMPTY b-state; B0 against the applied a-state
    assert calls[0][3] == 0 and calls[1][3] == 1
    # redelivery: re-staging + re-draining is a no-op (ledger)
    coord._stage("a", cdf(a, 0))
    coord._stage("b", cdf(b, 0))
    assert coord.drain() == []
    assert len(calls) == 2
    # a later commit on A flows through on the next drain
    VT.vt_merge(
        spark, a,
        spark.createDataFrame([(2, 30, "U")], "k long, x long, op string"),
        keys=["k"],
    )
    coord._stage("a", cdf(a, 1))
    assert coord.drain() == [2]  # bid 2 = (a,1)
    # joined against b's applied state (1 row)
    assert calls[-1] == ("a", 2, 1, 1)


# ---------------------------------------------------------------------
# vt_add_column + vt_cdf startingTimestamp (round-7 extras)
# ---------------------------------------------------------------------


def test_add_column_metadata_only_no_mapping_activation(spark, tmp_path):
    table = str(tmp_path / "t")
    _mk(spark, table, n=5)
    before_files = _data_files(table)
    v = VT.vt_add_column(table, "note", "string")
    assert _data_files(table) == before_files  # metadata-only
    m = VT._read_manifest(table, v)
    # add-only evolution does NOT activate mapping (old readers fine)
    assert "column_mapping" not in m
    assert "column_mapping" not in m["protocol"]["features"]
    got = VT.vt_read(spark, table)
    assert got.columns == ["k", "v", "grp", "note"]
    assert got.filter(F.col("note").isNull()).count() == 5
    # on a MAPPED table the add gets a fresh physical name
    VT.vt_rename_column(table, "v", "amount")
    v2 = VT.vt_add_column(table, "tag", "int")
    m2 = VT._read_manifest(table, v2)
    assert m2["column_mapping"]["tag"].startswith("col_")
    with pytest.raises(ValueError, match="already exists"):
        VT.vt_add_column(table, "tag", "int")


def test_cdf_starting_timestamp(spark, tmp_path):
    from kinesis_app_spark.sources import vt_cdf as CDF

    table = str(tmp_path / "t")
    _mk(spark, table, n=5)
    VT.vt_merge(
        spark, table,
        spark.createDataFrame([(1, 111, 0, "U")],
                              "k long, v long, grp int, op string"),
        keys=["k"],
    )
    m1 = VT._read_manifest(table, 1)
    CDF.register(spark)
    got = (
        spark.read.format("vt_cdf")
        .option("path", table).option("keys", "k")
        .option("startingTimestamp", str(m1["committed_at"]))
        .load()
    )
    vs = {r["_commit_version"] for r in got.collect()}
    assert vs == {1}  # v0 (earlier commit) excluded
    with pytest.raises(Exception, match="not both"):
        (
            spark.read.format("vt_cdf")
            .option("path", table).option("keys", "k")
            .option("startingVersion", "0")
            .option("startingTimestamp", "1.0")
            .load().collect()
        )
    with pytest.raises(Exception, match="after the latest"):
        (
            spark.read.format("vt_cdf")
            .option("path", table).option("keys", "k")
            .option("startingTimestamp", str(m1["committed_at"] + 9999))
            .load().collect()
        )


def test_cdf_end_timestamp(spark, tmp_path):
    from kinesis_app_spark.sources import vt_cdf as CDF

    table = str(tmp_path / "t")
    _mk(spark, table, n=5)
    VT.vt_merge(
        spark, table,
        spark.createDataFrame([(1, 111, 0, "U")],
                              "k long, v long, grp int, op string"),
        keys=["k"],
    )
    VT.vt_merge(
        spark, table,
        spark.createDataFrame([(2, 222, 0, "U")],
                              "k long, v long, grp int, op string"),
        keys=["k"],
    )
    m1 = VT._read_manifest(table, 1)
    CDF.register(spark)
    got = (
        spark.read.format("vt_cdf")
        .option("path", table).option("keys", "k")
        .option("startingVersion", "1")
        .option("endTimestamp", str(m1["committed_at"]))
        .load()
    )
    assert {r["_commit_version"] for r in got.collect()} == {1}


# ---------------------------------------------------------------------
# stored CHECK constraints (round-7: ALTER TABLE ADD CONSTRAINT parity)
# ---------------------------------------------------------------------


def test_constraints_lifecycle_and_enforcement(spark, tmp_path):
    table = str(tmp_path / "t")
    _mk(spark, table, n=8)  # v = 0..70, all >= 0
    before_files = _data_files(table)
    v = VT.vt_add_constraint(spark, table, "v_nonneg", "v >= 0")
    assert _data_files(table) == before_files  # metadata-only
    m = VT._read_manifest(table, v)
    assert m["constraints"] == {"v_nonneg": "v >= 0"}
    assert "constraints" in m["protocol"]["features"]
    # a violating MERGE aborts with NO version committed
    with pytest.raises(ValueError, match="v_nonneg"):
        VT.vt_merge(
            spark, table,
            spark.createDataFrame([(3, -5, 0, "U")],
                                  "k long, v long, grp int, op string"),
            keys=["k"],
        )
    assert VT.vt_latest_version(table) == v
    assert VT.vt_read(spark, table).filter("v < 0").count() == 0
    # a violating UPDATE aborts too
    with pytest.raises(ValueError, match="v_nonneg"):
        VT.vt_update(spark, table, [("k", "=", 2)], {"v": "v - 100"})
    # conforming writes pass, and the constraint CARRIES through
    # maintenance commits
    VT.vt_merge(
        spark, table,
        spark.createDataFrame([(3, 42, 0, "U")],
                              "k long, v long, grp int, op string"),
        keys=["k"],
    )
    VT.vt_optimize(spark, table, ["k"])
    m2 = VT._read_manifest(table, VT.vt_latest_version(table))
    assert m2["constraints"] == {"v_nonneg": "v >= 0"}
    # DROP removes enforcement
    VT.vt_drop_constraint(table, "v_nonneg")
    VT.vt_merge(
        spark, table,
        spark.createDataFrame([(4, -1, 0, "U")],
                              "k long, v long, grp int, op string"),
        keys=["k"],
    )
    assert VT.vt_read(spark, table).filter("v < 0").count() == 1


def _stale_merge(spark, table, base, v):
    return VT.vt_merge(
        spark, table,
        spark.createDataFrame([(3, v, 0, "U")],
                              "k long, v long, grp int, op string"),
        keys=["k"], expected_version=base,
    )


def _stale_update(spark, table, base, v):
    return VT.vt_update(
        spark, table, [("k", "=", 3)], {"v": str(v)}, expected_version=base
    )


def _stale_delete(spark, table, base, v):
    return VT.vt_delete(spark, table, [("k", "=", 3)], expected_version=base)


_STALE_WRITERS = [
    pytest.param(_stale_merge, id="merge"),
    pytest.param(_stale_update, id="update"),
    pytest.param(_stale_delete, id="delete"),
]


def _latest_constraints(table):
    m = VT._read_manifest(table, VT.vt_latest_version(table))
    return m.get("constraints") or {}


@pytest.mark.parametrize("writer", _STALE_WRITERS)
def test_writer_planned_before_add_constraint_conflicts(
    spark, tmp_path, writer
):
    """A write planned at the version before an ADD CONSTRAINT neither
    skips the new check nor commits the constraint away: it conflicts
    and re-plans under the constraint. A violating merge or update then
    aborts naming it, with nothing committed or staged; a delete writes
    no new value and commits."""
    table = str(tmp_path / "t")
    _mk(spark, table, n=8)
    VT.vt_add_constraint(spark, table, "v_nonneg", "v >= 0")
    data_dir = os.path.join(table, "data")
    dirs_before = sorted(os.listdir(data_dir))
    if writer is _stale_delete:
        assert writer(spark, table, 0, -5) == 2
        assert VT.vt_read(spark, table).filter("k = 3").count() == 0
    else:
        with pytest.raises(ValueError, match="v_nonneg"):
            writer(spark, table, 0, -5)
        assert VT.vt_latest_version(table) == 1
        assert sorted(os.listdir(data_dir)) == dirs_before
    assert _latest_constraints(table) == {"v_nonneg": "v >= 0"}
    assert VT.vt_read(spark, table).filter("v < 0").count() == 0


@pytest.mark.parametrize("writer", _STALE_WRITERS)
def test_writer_planned_before_drop_constraint_does_not_resurrect_it(
    spark, tmp_path, writer
):
    table = str(tmp_path / "t")
    _mk(spark, table, n=8)
    VT.vt_add_constraint(spark, table, "v_nonneg", "v >= 0")  # v1
    VT.vt_drop_constraint(table, "v_nonneg")  # v2
    assert writer(spark, table, 1, 42) == 3  # re-planned on top of v2
    assert _latest_constraints(table) == {}
    rows = {r["k"]: r["v"] for r in VT.vt_read(spark, table).collect()}
    assert rows.get(3) == (None if writer is _stale_delete else 42)
    assert len(rows) == (7 if writer is _stale_delete else 8)


def test_txn_staged_before_add_constraint_aborts(spark, tmp_path):
    from kinesis_app_spark.operators.txn import (
        TxnAbortedError,
        vt_transaction,
    )

    table = str(tmp_path / "t")
    _mk(spark, table, n=8)
    txn = vt_transaction(spark, str(tmp_path / "coord"))
    txn.stage_merge(
        table,
        spark.createDataFrame([(3, -5, 0, "U")],
                              "k long, v long, grp int, op string"),
        keys=["k"],
    )
    VT.vt_add_constraint(spark, table, "v_nonneg", "v >= 0")
    with pytest.raises(TxnAbortedError, match="metadata"):
        txn.commit()
    assert VT.vt_latest_version(table) == 1
    assert _latest_constraints(table) == {"v_nonneg": "v >= 0"}
    assert VT.vt_read(spark, table).filter("v < 0").count() == 0


@pytest.mark.parametrize("created_by_sink", [False, True],
                         ids=["existing_table", "sink_created_table"])
def test_sink_append_after_mid_stream_add_constraint_raises(
    spark, tmp_path, created_by_sink
):
    """The vt_table sink's epoch was planned against an unconstrained
    table; a constraint added before its commit stops the epoch instead
    of committing unchecked rows and dropping the constraint — also
    when the sink created the table itself, and for every epoch after
    the first."""
    from kinesis_app_spark.sources import vt_writer as W

    table = str(tmp_path / "t")
    schema = "k long, v long, grp int"
    n = 0 if created_by_sink else 4
    if not created_by_sink:
        _mk(spark, table, n=n)
    conn = W._conn(
        {"path": table}, spark.createDataFrame([], schema).schema
    )
    base = VT.vt_latest_version(table)
    W._append_staged(conn, [W._stage_rows(conn, iter([(100, 1, 0)]))],
                     batch_id=0)
    msg = W._stage_rows(conn, iter([(101, -1, 0)]))
    VT.vt_add_constraint(spark, table, "v_nonneg", "v >= 0")
    with pytest.raises(VT.VersionConflictError, match="metadata"):
        W._append_staged(conn, [msg], batch_id=1)
    assert VT.vt_latest_version(table) == base + 2
    assert _latest_constraints(table) == {"v_nonneg": "v >= 0"}
    assert VT.vt_read(spark, table).count() == n + 1
    assert VT.vt_read(spark, table).filter("v < 0").count() == 0


def test_sink_created_table_append_after_mid_stream_rename_raises(
    spark, tmp_path
):
    """A rename after the sink created the table stops the next epoch
    instead of writing files under the stale column names."""
    from kinesis_app_spark.sources import vt_writer as W

    table = str(tmp_path / "t")
    conn = W._conn(
        {"path": table},
        spark.createDataFrame([], "k long, v long").schema,
    )
    msg = W._stage_rows(conn, iter([(1, 10)]))
    VT.vt_rename_column(table, "v", "w")
    with pytest.raises(VT.VersionConflictError, match="metadata"):
        W._append_staged(conn, [msg], batch_id=0)
    assert VT.vt_latest_version(table) == 1
    assert VT.vt_read(spark, table).count() == 0


def test_add_constraint_revalidates_after_losing_a_race(
    spark, tmp_path, monkeypatch
):
    """A violating merge that commits between ADD CONSTRAINT's
    validation and its commit must not end up under the constraint."""
    table = str(tmp_path / "t")
    _mk(spark, table, n=4)
    real_commit = VT._commit

    def racing_commit(table_dir, version, manifest, cleanup_dir=None):
        if manifest.get("operation") == "ADD_CONSTRAINT":
            monkeypatch.setattr(VT, "_commit", real_commit)
            _stale_merge(spark, table, None, -1)  # lands first
        return real_commit(table_dir, version, manifest,
                           cleanup_dir=cleanup_dir)

    monkeypatch.setattr(VT, "_commit", racing_commit)
    with pytest.raises(ValueError, match="existing data violates"):
        VT.vt_add_constraint(spark, table, "v_nonneg", "v >= 0")
    assert VT.vt_latest_version(table) == 1
    assert _latest_constraints(table) == {}


def test_table_metadata_survives_later_commits(spark, tmp_path):
    """Type widening and constraints ride through data and layout
    commits: every commit inherits the parent's table metadata."""
    table = str(tmp_path / "t")
    VT.vt_create(
        spark.range(8).select(
            F.col("id").alias("k"), F.col("id").cast("int").alias("v"),
        ),
        table,
    )
    VT.vt_widen_column(table, "v", "long")
    VT.vt_add_constraint(spark, table, "v_nonneg", "v >= 0")
    VT.vt_merge(
        spark, table,
        spark.createDataFrame([(3, 30, "U")], "k long, v long, op string"),
        keys=["k"],
    )
    VT.vt_compact(spark, table, min_rows_per_file=1 << 20)
    VT.vt_delete_dv(spark, table, [("k", "=", 5)])
    VT.vt_optimize(spark, table, ["k"])
    m = VT._read_manifest(table, VT.vt_latest_version(table))
    assert m["type_widening"] == {"v": ["integer", "long"]}
    assert m["constraints"] == {"v_nonneg": "v >= 0"}


def test_add_constraint_validates_existing_data(spark, tmp_path):
    table = str(tmp_path / "t")
    _mk(spark, table, n=6)
    with pytest.raises(ValueError, match="existing data violates"):
        VT.vt_add_constraint(spark, table, "v_small", "v < 30")
    # nothing committed
    assert "constraints" not in VT._read_manifest(
        table, VT.vt_latest_version(table)
    )


def test_constrained_column_cannot_be_renamed_or_dropped(spark, tmp_path):
    table = str(tmp_path / "t")
    _mk(spark, table, n=4)
    VT.vt_add_constraint(spark, table, "v_nonneg", "v >= 0")
    with pytest.raises(ValueError, match="referenced by constraint"):
        VT.vt_rename_column(table, "v", "amount")
    with pytest.raises(ValueError, match="referenced by constraint"):
        VT.vt_drop_column(table, "v")
    # unreferenced columns still rename fine
    VT.vt_rename_column(table, "grp", "bucket")
    assert "bucket" in VT.vt_read(spark, table).columns


def test_sink_refuses_constrained_tables(spark, tmp_path):
    from kinesis_app_spark.sources.vt_writer import register

    table = str(tmp_path / "t")
    _mk(spark, table, n=4)
    VT.vt_add_constraint(spark, table, "v_nonneg", "v >= 0")
    register(spark)
    with pytest.raises(Exception, match="cannot enforce"):
        (
            spark.createDataFrame([(100, 1, 1)],
                                  "k long, v long, grp int")
            .write.format("vt_table").mode("append")
            .option("path", table).save()
        )


# ---------------------------------------------------------------------
# vt_table STREAMING reader (round-7: Delta streaming-source parity)
# ---------------------------------------------------------------------


def _drain_stream(spark, table, ckpt, **opts):
    got = []

    def sink(df, _bid):
        got.extend(tuple(r) for r in df.collect())

    r = spark.readStream.format("vt_table").option("path", table)
    for k, v in opts.items():
        r = r.option(k, v)
    q = (
        r.load().writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    assert q.awaitTermination(300), "stream drain timed out"
    return got


def test_vt_table_stream_append_tail_with_restart(spark, tmp_path):
    from kinesis_app_spark.sources.vt_writer import register

    register(spark)
    table = str(tmp_path / "t")
    ckpt = str(tmp_path / "ck")
    _mk(spark, table, n=4)  # snapshot rows k=0..3
    # wave 1: snapshot
    got1 = _drain_stream(spark, table, ckpt)
    assert sorted(r[0] for r in got1) == [0, 1, 2, 3]
    # append via the sink, then RESUME from the same checkpoint:
    # only the appended rows arrive
    (
        spark.createDataFrame([(10, 100, 1), (11, 110, 2)],
                              "k long, v long, grp int")
        .write.format("vt_table").mode("append")
        .option("path", table).save()
    )
    got2 = _drain_stream(spark, table, ckpt)
    assert sorted(r[0] for r in got2) == [10, 11]
    # a layout commit delivers NOTHING
    VT.vt_optimize(spark, table, ["k"])
    assert _drain_stream(spark, table, ckpt) == []


def test_vt_table_stream_raises_on_rewrites_and_deletes(spark, tmp_path):
    from kinesis_app_spark.sources.vt_writer import register

    register(spark)
    table = str(tmp_path / "t")
    _mk(spark, table, n=4)
    ck1 = str(tmp_path / "ck1")
    _drain_stream(spark, table, ck1)  # consume the snapshot
    VT.vt_merge(
        spark, table,
        spark.createDataFrame([(1, 111, 0, "U")],
                              "k long, v long, grp int, op string"),
        keys=["k"],
    )
    # resuming the ck1 stream (past the v0 snapshot) hits the MERGE
    with pytest.raises(Exception, match="rewrote existing files"):
        _drain_stream(spark, table, ck1)
    # ignoreChanges: the rewritten file is re-delivered WHOLE
    got = _drain_stream(spark, table, str(tmp_path / "ck2"),
                        ignoreChanges="true")
    assert (1, 111, 0) in {(r[0], r[1], r[2]) for r in got}
    # DELETE_DV raises without ignoreDeletes, skips with it
    VT.vt_delete_dv(spark, table, [("k", "=", 2)])
    with pytest.raises(Exception, match="deleted rows"):
        _drain_stream(spark, table, str(tmp_path / "ck3"),
                      ignoreChanges="true")
    # resuming ck2 (already past the merge): the delete commit itself
    # delivers NOTHING under ignoreDeletes
    assert _drain_stream(spark, table, str(tmp_path / "ck2"),
                         ignoreChanges="true",
                         ignoreDeletes="true") == []
