"""Round-6 registry entries: the change-feed STREAMING source — a
downstream aggregate table that TAILS an upstream versioned table's CDF
version by version (a ``format("vt_cdf")`` readStream drained through
``sources/vt_cdf.py:foreach_version``) and is maintained incrementally,
never recomputed. This is the production topology the lakehouse layer
exists for: ingestion MERGEs land on the upstream table, and every
downstream rollup follows by applying each version's delta — the
reference's consumer loop
(/root/reference/src/Kinesis/Coordination.hs:100-107) re-expressed over
table versions, with Spark's stream checkpoint as the only progress
record.

The oracle recomputes the final rollup from raw orders with the DML
history replayed arithmetically — streamed-incremental == batch-
recompute is exactly the IVM correctness contract.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from kinesis_app_spark.scratch import cached_build, scratch_dir
from kinesis_app_spark.registry_util import QuerySpec, table as _t
from kinesis_app_spark.sources import vt_cdf as CDF
from kinesis_app_spark.streaming.runner import drain


def vt_cdf_rollup_applier(spark, downstream_dir: str, group_col: str,
                          price_col: str):
    """The apply_fn half of the CDF-tailing topology: one upstream
    version's change batch becomes a per-group (Δcount, Δsum) delta —
    insert/update_postimage add, delete/update_preimage subtract, so a
    row migrating between groups debits one and credits the other with
    no special casing — and the delta is MERGEd into the downstream
    rollup table keyed by group. Only the AFFECTED groups of the
    downstream table are read (semi-join against the delta's keys), so
    the maintenance cost scales with the delta, never the rollup; the
    upstream version number doubles as the merge's batch_id, making a
    redelivered version (an epoch replayed after a crash before the
    stream checkpoint advanced) a no-op — exactly once end to end.
    Under ``foreach_version`` the id is the upstream version; passed
    straight to ``foreachBatch`` it is the epoch id, and the same
    ledger check makes a replayed epoch a no-op. Decimal accumulation
    keeps subtract-then-add exact."""
    from kinesis_app_spark.operators import versioned as VT

    def apply(changes, version):
        if version in VT.vt_committed_batch_ids(downstream_dir):
            return  # redelivered version: already applied
        sgn = F.when(
            F.col("_change_type").isin("insert", "update_postimage"),
            F.lit(1),
        ).otherwise(F.lit(-1))
        delta = changes.groupBy(group_col).agg(
            F.sum(sgn).alias("__n_delta"),
            F.sum(
                sgn.cast("decimal(30,8)")
                * F.col(price_col).cast("decimal(30,8)")
            ).alias("__p_delta"),
        )
        cur = (
            VT.vt_read(spark, downstream_dir)
            .join(F.broadcast(delta.select(group_col)), group_col,
                  "left_semi")
        )
        merged = cur.join(delta, group_col, "full_outer").select(
            group_col,
            (F.coalesce(F.col("n_orders"), F.lit(0))
             + F.coalesce(F.col("__n_delta"), F.lit(0))).alias("n_orders"),
            (F.coalesce(F.col("price_sum"),
                        F.lit(0).cast("decimal(30,8)"))
             + F.coalesce(F.col("__p_delta"),
                          F.lit(0).cast("decimal(30,8)")))
            .cast("decimal(30,8)").alias("price_sum"),
        )
        ops = merged.withColumn(
            "op", F.when(F.col("n_orders") <= 0, F.lit("D"))
            .otherwise(F.lit("U"))
        )
        VT.vt_merge(
            spark, downstream_dir, ops, keys=[group_col],
            batch_id=version,
        )

    return apply


def _drain_cdf(spark, table_dir: str, keys: str, fn, ckpt: str,
               what: str) -> None:
    """Drain every version of ``table_dir``'s change feed not yet in
    the checkpoint ``ckpt`` into the foreachBatch ``fn`` (one
    availableNow run; ``drain`` raises if it times out)."""
    CDF.register(spark)
    drain(
        spark.readStream.format("vt_cdf")
        .option("path", table_dir).option("keys", keys)
        .load()
        .writeStream.foreachBatch(fn)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start(),
        what,
    )


def _cdf_stream_tables(spark, sf_dir) -> tuple[str, str]:
    """Build (once per sf_dir) the upstream 4-version orders table and
    tail it into the downstream rollup:

      upstream v0 CREATE = orders WHERE o_orderkey % 3 <> 0
      upstream v1 MERGE  = insert the remaining third
      upstream v2 MERGE  = o_totalprice += 50 WHERE o_custkey % 10 = 0
      upstream v3 MERGE  = delete WHERE o_orderkey % 7 = 0

    then one availableNow drain of the upstream's ``vt_cdf`` stream
    delivers v0..v3 to the rollup applier, one downstream merge per
    version (``foreach_version``). Returns the (upstream, downstream)
    table dirs, both in one cache entry."""
    from kinesis_app_spark.operators import versioned as VT

    def build(root):
        up, down = os.path.join(root, "up"), os.path.join(root, "down")
        o = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
        )
        VT.vt_create(o.filter(F.col("o_orderkey") % 3 != 0), up)
        VT.vt_merge(
            spark, up,
            o.filter(F.col("o_orderkey") % 3 == 0)
            .withColumn("op", F.lit("U")),
            keys=["o_orderkey"],
        )
        VT.vt_merge(
            spark, up,
            o.filter(F.col("o_custkey") % 10 == 0)
            .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(50.0))
            .withColumn("op", F.lit("U")),
            keys=["o_orderkey"],
        )
        VT.vt_merge(
            spark, up,
            o.filter(F.col("o_orderkey") % 7 == 0)
            .withColumn("op", F.lit("D")),
            keys=["o_orderkey"],
        )
        VT.vt_create(
            spark.createDataFrame(
                [],
                "o_orderstatus string, n_orders long, "
                "price_sum decimal(30,8)",
            ),
            down,
        )
        _drain_cdf(
            spark, up, "o_orderkey",
            CDF.foreach_version(vt_cdf_rollup_applier(
                spark, down, "o_orderstatus", "o_totalprice"
            )),
            os.path.join(down, "_ckpt"), "versioned_cdf_stream_agg drain",
        )

    root = cached_build("orders_cdf", sf_dir, ["orders"], build)
    return os.path.join(root, "up"), os.path.join(root, "down")


def versioned_cdf_stream_agg(spark, sf_dir):
    """Change-feed streaming source, value-gated end to end: a rollup
    table (orders count + price mass per status) maintained ONLY by
    tailing the upstream versioned table's CDF across four versions —
    create, late-arriving insert batch, price update, GDPR-style delete
    — one delta merge per version, never a recompute (the vt_cdf
    stream + foreach_version + vt_cdf_rollup_applier; restart-mid-stream
    exactly-once is pinned in tests/test_round6.py). The oracle
    recomputes the same rollup from raw orders with the version
    history's effects applied arithmetically: streamed == recomputed is
    the IVM contract, and any double-applied or dropped version would
    shift a count or a price mass and hash-mismatch."""
    from kinesis_app_spark.operators import versioned as VT

    _, down = _cdf_stream_tables(spark, sf_dir)
    return (
        VT.vt_read(spark, down)
        .select(
            "o_orderstatus",
            F.col("n_orders").cast("long").alias("n_orders"),
            F.round("price_sum", 2).cast("double").alias("price_sum"),
        )
        .orderBy("o_orderstatus")
    )


VERSIONED_CDF_STREAM_SQL = """
SELECT o_orderstatus,
       count(*) AS n_orders,
       round(sum(CASE WHEN o_custkey % 10 = 0
                      THEN CAST(o_totalprice AS DECIMAL(30,8)) + 50.0
                      ELSE CAST(o_totalprice AS DECIMAL(30,8)) END),
             2)::DOUBLE AS price_sum
FROM orders
WHERE o_orderkey % 7 <> 0
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def versioned_cdf_source_batch(spark, sf_dir):
    """The change feed as a REAL Spark data source (sources/vt_cdf.py),
    batch flavor — Delta's ``table_changes`` equivalent: every committed
    version of the 4-version upstream orders table as one DataFrame of
    (_commit_version, _change_type, *row), planned as per-file snapshot
    partitions for v0 and key-range-grouped manifest-diff partitions for
    v1..v3 (only each commit's exclusive files are read). The oracle
    replays the ENTIRE feed arithmetically from raw orders — v0/v1
    inserts split by the %3 residue, v2's pre+post images of the +50
    price bump, v3's deletes carrying the bumped preimage — so one row
    mis-labeled, dropped, duplicated, or carrying the wrong image value
    hash-mismatches."""
    CDF.register(spark)
    up, _ = _cdf_stream_tables(spark, sf_dir)
    return (
        spark.read.format("vt_cdf")
        .option("path", up).option("keys", "o_orderkey")
        .load()
        .orderBy("_commit_version", "_change_type", "o_orderkey")
    )


VERSIONED_CDF_SOURCE_SQL = """
WITH base AS (
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
)
SELECT * FROM (
    SELECT 0::BIGINT AS "_commit_version", 'insert' AS "_change_type",
           o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM base WHERE o_orderkey % 3 <> 0
    UNION ALL
    SELECT 1, 'insert', o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM base WHERE o_orderkey % 3 = 0
    UNION ALL
    SELECT 2, 'update_preimage', o_orderkey, o_custkey, o_orderstatus,
           o_totalprice
    FROM base WHERE o_custkey % 10 = 0
    UNION ALL
    SELECT 2, 'update_postimage', o_orderkey, o_custkey, o_orderstatus,
           o_totalprice + 50.0
    FROM base WHERE o_custkey % 10 = 0
    UNION ALL
    SELECT 3, 'delete', o_orderkey, o_custkey, o_orderstatus,
           CASE WHEN o_custkey % 10 = 0 THEN o_totalprice + 50.0
                ELSE o_totalprice END
    FROM base WHERE o_orderkey % 7 = 0
)
ORDER BY "_commit_version", "_change_type", o_orderkey
"""


def versioned_cdf_readstream_agg(spark, sf_dir):
    """The vt_cdf STREAMING reader end to end, epoch at a time: the
    downstream rollup is maintained by a ``readStream.format("vt_cdf")``
    query whose foreachBatch is ``vt_cdf_rollup_applier`` itself — the
    whole availableNow epoch (the same 4-version upstream) becomes ONE
    signed delta merge (insert/postimage add, delete/preimage subtract)
    with the epoch id as its batch_id, where versioned_cdf_stream_agg
    splits the epoch into one merge per version. Idempotent under epoch
    replay via the downstream table's batch-id ledger. Same oracle as
    its per-version twin: streamed-incremental == batch-recompute, so a
    dropped/duplicated version or a mis-signed image shifts a count or a
    price mass and hash-mismatches."""
    from kinesis_app_spark.operators import versioned as VT

    up, _ = _cdf_stream_tables(spark, sf_dir)

    def build(down):
        VT.vt_create(
            spark.createDataFrame(
                [],
                "o_orderstatus string, n_orders long, "
                "price_sum decimal(30,8)",
            ),
            down,
        )
        # a timed-out drain raises before the marker: no stale cache
        _drain_cdf(
            spark, up, "o_orderkey",
            vt_cdf_rollup_applier(
                spark, down, "o_orderstatus", "o_totalprice"
            ),
            os.path.join(down, "_ckpt"), "versioned_cdf_readstream_agg drain",
        )

    down = cached_build("orders_cdfrs", sf_dir, ["orders"], build)
    return (
        VT.vt_read(spark, down)
        .select(
            "o_orderstatus",
            F.col("n_orders").cast("long").alias("n_orders"),
            F.round("price_sum", 2).cast("double").alias("price_sum"),
        )
        .orderBy("o_orderstatus")
    )


def versioned_disjoint_writers(spark, sf_dir):
    """Disjoint-commit optimistic concurrency under the value gate
    (Delta's conflict-detection rules on the manifest layer): two
    writers base their merges on the SAME version — writer A bumps
    prices on the low key range and commits; writer B (now stale,
    expected_version pinned to the common base) bumps the high range,
    loses the version race, and must commit via the metadata-only fast
    path: every intervening commit's file delta is checked against B's
    read set (no removed file B read, no added file whose stats admit
    one of B's keys, no schema change), B's carried set is re-derived
    from A's manifest, and B's already-written files commit at the next
    version — the join never re-executes
    (operators/versioned.py:vt_merge; overlap/schema/DML races pinned
    in tests/test_round6.py). The oracle applies BOTH updates to raw
    orders: if either writer's commit were lost, double-applied, or B
    resurrected a file A rewrote, a price mass would shift and the
    hash would mismatch."""
    from kinesis_app_spark.operators import versioned as VT

    def build(table_dir):
        o = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        VT.vt_create(o, table_dir)
        VT.vt_optimize(
            spark, table_dir, cluster_cols=["o_orderkey"],
            max_records_per_file=256,
        )
        base = 1  # the optimized snapshot both writers read
        VT.vt_merge(
            spark, table_dir,
            o.filter(F.col("o_orderkey") <= 200)
            .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(10.0))
            .withColumn("op", F.lit("U")),
            keys=["o_orderkey"], expected_version=base,
        )
        # writer B raced from the same base: disjoint keys, so this
        # commit must take the fast path, NOT raise
        v_b = VT.vt_merge(
            spark, table_dir,
            o.filter(
                (F.col("o_orderkey") >= 4000) & (F.col("o_orderkey") < 4800)
            )
            .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(20.0))
            .withColumn("op", F.lit("U")),
            keys=["o_orderkey"], expected_version=base,
        )
        assert v_b == 3, v_b

    table_dir = cached_build("orders_race", sf_dir, ["orders"], build)
    return VT.vt_read(spark, table_dir).orderBy("o_orderkey")


VERSIONED_DISJOINT_SQL = """
SELECT o_orderkey, o_custkey,
       CASE WHEN o_orderkey <= 200 THEN o_totalprice + 10.0
            WHEN o_orderkey >= 4000 AND o_orderkey < 4800
                 THEN o_totalprice + 20.0
            ELSE o_totalprice END AS o_totalprice
FROM orders
ORDER BY o_orderkey
"""


def versioned_compact_read(spark, sf_dir):
    """Incremental OPTIMIZE under the value gate: the orders snapshot is
    created as 16 deliberately-small files (the debt a streaming MERGE
    sink accretes), a predicate UPDATE lands, and vt_compact sweeps ONLY
    the small files into full-size ones — files already at size carry by
    reference, so compaction cost scales with the debt, not the table
    (operators/versioned.py:vt_compact; the sweep/carry split and the
    OPTIMIZE-vs-writer co-commit are pinned in tests/test_round6.py).
    Reading the compacted table must equal the raw-orders replay of the
    one UPDATE — compaction is layout, never semantics; a row lost or
    doubled by the sweep would hash-mismatch."""
    from kinesis_app_spark.operators import versioned as VT

    def build(table_dir):
        o = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        VT.vt_create(o.repartition(16), table_dir)
        VT.vt_update(
            spark, table_dir, [("o_custkey", ">=", 0)],
            {"o_totalprice": "CASE WHEN o_custkey % 13 = 0 "
                             "THEN o_totalprice + 5.0 "
                             "ELSE o_totalprice END"},
        )
        before = len(VT.vt_files(table_dir, VT.vt_latest_version(table_dir)))
        VT.vt_compact(spark, table_dir, min_rows_per_file=1 << 20)
        after = len(VT.vt_files(table_dir, VT.vt_latest_version(table_dir)))
        # an empty table has no debt to sweep (compaction no-ops)
        assert after < before or before <= 1, (before, after)

    table_dir = cached_build("orders_compact", sf_dir, ["orders"], build)
    return VT.vt_read(spark, table_dir).orderBy("o_orderkey")


VERSIONED_COMPACT_SQL = """
SELECT o_orderkey, o_custkey,
       CASE WHEN o_custkey % 13 = 0 THEN o_totalprice + 5.0
            ELSE o_totalprice END AS o_totalprice
FROM orders
ORDER BY o_orderkey
"""


def versioned_cluster_incremental(spark, sf_dir):
    """Liquid-clustering-style incremental OPTIMIZE under the value
    gate: the orderkey-clustered orders table takes a narrow-band price
    MERGE (whose rewrites lose their clustering marker — the debt), and
    vt_cluster_incremental sweeps ONLY that debt into its own clustered
    run, carrying every still-clustered file by reference — layout cost
    scales with the merge, never the table, and a point lookup opens at
    most one file per run (the only-debt rewrite and the run bound are
    pinned in tests/test_round6.py). Reading the re-clustered table must
    equal the raw-orders replay of the one MERGE — clustering is
    layout, never semantics."""
    from kinesis_app_spark.operators import versioned as VT

    def build(table_dir):
        o = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        VT.vt_create(o, table_dir)
        VT.vt_optimize(
            spark, table_dir, cluster_cols=["o_orderkey"],
            max_records_per_file=256,
        )
        VT.vt_merge(
            spark, table_dir,
            o.filter(
                (F.col("o_orderkey") >= 100) & (F.col("o_orderkey") < 300)
            )
            .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(3.0))
            .withColumn("op", F.lit("U")),
            keys=["o_orderkey"],
        )
        v = VT.vt_cluster_incremental(
            spark, table_dir, ["o_orderkey"], max_records_per_file=256
        )
        files = VT.vt_files(table_dir, v)
        assert all(
            f.get("clustered") == ["o_orderkey"] for f in files
        ), "debt survived the incremental clustering"

    table_dir = cached_build("orders_liquid", sf_dir, ["orders"], build)
    return VT.vt_scan(
        spark, table_dir, [("o_orderkey", ">=", 0)]
    ).orderBy("o_orderkey")


def versioned_delete_vectors(spark, sf_dir):
    """DELETION VECTORS under the value gate — the GDPR purge that
    rewrites NOTHING: on the orderkey-clustered table, deleting one
    customer's orders (a cohort scattered across every file) records
    (path, row position) pairs in a sidecar and commits metadata only;
    the build asserts the data-file set is untouched. Reads anti-join
    the DV at scan time, so the result must equal the plain filter
    replay over raw orders; the CDF-of-a-DV-commit, rewrite
    materialization, and VACUUM sweep are pinned in
    tests/test_round6.py + tests/test_vt_cdf_source.py."""
    import glob

    from kinesis_app_spark.operators import versioned as VT

    def build(table_dir):
        o = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        VT.vt_create(o, table_dir)
        VT.vt_optimize(
            spark, table_dir, cluster_cols=["o_orderkey"],
            max_records_per_file=256,
        )
        pat = os.path.join(table_dir, "data", "**", "*.parquet")
        before = sorted(glob.glob(pat, recursive=True))
        VT.vt_delete_dv(spark, table_dir, [("o_custkey", "in", [7, 42])])
        assert sorted(glob.glob(pat, recursive=True)) == before, (
            "DV delete must not touch data files"
        )

    table_dir = cached_build("orders_dv", sf_dir, ["orders"], build)
    return VT.vt_read(spark, table_dir).orderBy("o_orderkey")


def versioned_sink_append(spark, sf_dir):
    """The vt_table SINK under the value gate: orders flow into a
    versioned table through ``df.write.format("vt_table")`` — staged
    parquet per task, promoted by a sessionless manifest commit with
    pyarrow-computed per-file stats (sources/vt_writer.py) — and a
    stats-pruned range scan over the sink-written table must equal the
    raw filter replay: if the sink's stats disagreed with the Spark
    writers' JSON form, pruning would drop or keep the wrong files and
    the hash would mismatch. Epoch idempotence and streaming appends
    are pinned in tests/test_vt_writer.py."""
    from kinesis_app_spark.operators import versioned as VT
    from kinesis_app_spark.sources import vt_writer as W

    W.register(spark)

    def build(table_dir):
        (
            _t(spark, sf_dir, "orders")
            .select("o_orderkey", "o_custkey", "o_totalprice")
            .repartitionByRange(8, "o_orderkey")
            .write.format("vt_table")
            .option("path", table_dir).mode("append").save()
        )

    table_dir = cached_build("orders_sink", sf_dir, ["orders"], build)
    return VT.vt_scan(
        spark, table_dir,
        [("o_orderkey", ">=", 500), ("o_orderkey", "<", 2500)],
    ).orderBy("o_orderkey")


VERSIONED_SINK_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_orderkey >= 500 AND o_orderkey < 2500
ORDER BY o_orderkey
"""


VERSIONED_DV_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_custkey NOT IN (7, 42)
ORDER BY o_orderkey
"""


VERSIONED_LIQUID_SQL = """
SELECT o_orderkey, o_custkey,
       CASE WHEN o_orderkey >= 100 AND o_orderkey < 300
            THEN o_totalprice + 3.0 ELSE o_totalprice END AS o_totalprice
FROM orders
ORDER BY o_orderkey
"""


def _vt_bloom_table(spark, sf_dir) -> str:
    """Build (once per sf_dir) the o_orderkey-clustered orders table
    with a bloom index on o_custkey."""
    from kinesis_app_spark.operators import versioned as VT

    def build(table_dir):
        o = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        VT.vt_create(o, table_dir)
        VT.vt_optimize(
            spark, table_dir, cluster_cols=["o_orderkey"],
            max_records_per_file=256,
        )
        VT.vt_index_bloom(spark, table_dir, ["o_custkey"])

    return cached_build("orders_bloom", sf_dir, ["orders"], build)


def versioned_bloom_scan(spark, sf_dir):
    """Secondary-key point lookup through the manifest's per-file BLOOM
    buckets: the table is clustered on o_orderkey (so every file spans
    the full o_custkey range and min/max stats prune NOTHING for a
    custkey probe), then vt_index_bloom stores each file's set of
    xxhash64(o_custkey) % m buckets, and the o_custkey = 42 vt_scan
    opens only files whose bucket set contains 42's bucket — expected
    open-file share ≈ distinct-custkeys-per-file / m (the strict-subset
    pruning is pinned in tests/test_round6.py; the index is incremental
    — only files lacking a bloom are read on re-run). The oracle is the
    plain filter replay over raw orders: bloom pruning is a file-listing
    optimization and must never change a row."""
    from kinesis_app_spark.operators import versioned as VT

    return VT.vt_scan(
        spark, _vt_bloom_table(spark, sf_dir), [("o_custkey", "=", 42)]
    ).orderBy("o_orderkey")


VERSIONED_BLOOM_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_custkey = 42
ORDER BY o_orderkey
"""


def versioned_in_list_scan(spark, sf_dir):
    """IN-list data skipping under the value gate — the GDPR id-list /
    dimension-key lookup shape: ``o_custkey IN (...)`` on the
    orderkey-clustered table prunes through the bloom bitmaps (a file
    opens only if ANY listed literal's bit is set; min/max stats prune
    nothing here because every file spans the full custkey range).
    Shares the bloom table _vt_bloom_table builds. The oracle is
    the plain IN filter replay over raw orders — pruning must never
    change a row."""
    from kinesis_app_spark.operators import versioned as VT

    return VT.vt_scan(
        spark, _vt_bloom_table(spark, sf_dir),
        [("o_custkey", "in", [42, 77, 913])],
    ).orderBy("o_orderkey")


VERSIONED_IN_LIST_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_custkey IN (42, 77, 913)
ORDER BY o_orderkey
"""


def _signed(changes):
    """CDF rows as a signed multiset: insert/update_postimage = +1,
    delete/update_preimage = -1 — the classic multiset-IVM encoding
    under which join and aggregate deltas compose exactly."""
    return changes.withColumn(
        "_sgn",
        F.when(
            F.col("_change_type").isin("insert", "update_postimage"),
            F.lit(1),
        ).otherwise(F.lit(-1)),
    )


def vt_cdf_join_delta_applier(spark, view_dir: str):
    """One serialized commit's contribution to the orders|><|lineitem
    revenue view, as a signed delta merge. The bilinear join rule over a
    COMMIT SEQUENCE: a ΔA commit joins against B's snapshot AT THAT
    POINT in the serialization, a ΔB commit against A's current
    snapshot INCLUDING every A delta applied so far — the telescoping
    sum then equals the final-state join exactly, for inserts, updates
    AND deletes (update = -preimage +postimage, so a price bump
    contributes exactly the revenue difference). Only AFFECTED custkeys
    of the view are read (semi-join), revenue terms are decimal so
    subtract-then-add is exact, and the step index doubles as the
    merge's batch_id (a redelivered step is a no-op — the same
    batch-id ledger check as vt_cdf_rollup_applier)."""
    from kinesis_app_spark.operators import versioned as VT

    rev = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
    ).cast("decimal(30,8)")

    def apply(delta_changes, other_snapshot, side: str, step: int):
        if step in VT.vt_committed_batch_ids(view_dir):
            return  # redelivered step: already applied
        sgn = F.col("_sgn")
        if side == "a":  # ΔA (orders) |><| B-state (lineitem snapshot)
            joined = _signed(delta_changes).join(
                other_snapshot,
                F.col("o_orderkey") == F.col("l_orderkey"),
            )
        else:  # A-state (orders snapshot) |><| ΔB (lineitem)
            joined = other_snapshot.join(
                _signed(delta_changes),
                F.col("o_orderkey") == F.col("l_orderkey"),
            )
        delta = joined.groupBy("o_custkey").agg(
            F.sum(sgn).alias("__n_delta"),
            F.sum(sgn.cast("decimal(30,8)") * rev).alias("__r_delta"),
        )
        cur = VT.vt_read(spark, view_dir).join(
            F.broadcast(delta.select("o_custkey")), "o_custkey",
            "left_semi",
        )
        merged = cur.join(delta, "o_custkey", "full_outer").select(
            "o_custkey",
            (F.coalesce(F.col("n_items"), F.lit(0))
             + F.coalesce(F.col("__n_delta"), F.lit(0))).alias("n_items"),
            (F.coalesce(F.col("revenue"), F.lit(0).cast("decimal(30,8)"))
             + F.coalesce(F.col("__r_delta"),
                          F.lit(0).cast("decimal(30,8)")))
            .cast("decimal(30,8)").alias("revenue"),
        )
        ops = merged.withColumn(
            "op", F.when(F.col("n_items") <= 0, F.lit("D"))
            .otherwise(F.lit("U"))
        )
        VT.vt_merge(spark, view_dir, ops, keys=["o_custkey"],
                    batch_id=step)

    return apply


def versioned_cdf_join_view(spark, sf_dir):
    """IVM of a JOIN view driven ENTIRELY by two versioned tables'
    change feeds — the round-5 verdict's "connect the lakehouse layer to
    the IVM layer", now for the harder join shape (the aggregate shape
    is versioned_cdf_stream_agg). Upstream A (orders) commits: v0
    create sans the %4 cohort, v1 insert it, v2 GDPR-delete the %9
    cohort. Upstream B (lineitem) commits: v0 create sans the %4
    cohort, v1 insert it, v2 price-bump (+7.5) the partkey %17 cohort.
    The revenue-per-customer view is maintained by applying each
    commit's signed CDF through the bilinear join rule in the
    serialization A1,B1,A2,B2 (vt_cdf_join_delta_applier) — never
    recomputed. The oracle joins the FINAL table states from raw data:
    any dropped/double-applied commit, wrong join state, or mis-signed
    image shifts a count or a revenue mass and hash-mismatches."""
    from pyspark.sql import Window

    from kinesis_app_spark.operators import versioned as VT

    def build(root):
        a_dir, b_dir, view = (
            os.path.join(root, d) for d in ("orders", "lineitem", "view")
        )
        o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        # (l_orderkey, l_linenumber) is NOT unique in the synthetic
        # lineitem — add a deterministic within-key disambiguator so the
        # merge key is a true primary key (ties in the ordering are
        # fully identical rows, so their rn assignment is harmless)
        li = _t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_partkey",
            "l_extendedprice", "l_discount",
        ).withColumn(
            "l_rn",
            F.row_number().over(
                Window.partitionBy("l_orderkey", "l_linenumber")
                .orderBy("l_partkey", "l_extendedprice", "l_discount")
            ),
        )
        VT.vt_create(o.filter(F.col("o_orderkey") % 4 != 0), a_dir)
        VT.vt_create(li.filter(F.col("l_orderkey") % 4 != 0), b_dir)
        VT.vt_merge(
            spark, a_dir,
            o.filter(F.col("o_orderkey") % 4 == 0)
            .withColumn("op", F.lit("U")),
            keys=["o_orderkey"],
        )
        VT.vt_merge(
            spark, b_dir,
            li.filter(F.col("l_orderkey") % 4 == 0)
            .withColumn("op", F.lit("U")),
            keys=["l_orderkey", "l_linenumber", "l_rn"],
        )
        VT.vt_merge(
            spark, a_dir,
            o.filter(F.col("o_orderkey") % 9 == 0)
            .withColumn("op", F.lit("D")),
            keys=["o_orderkey"],
        )
        VT.vt_merge(
            spark, b_dir,
            li.filter(F.col("l_partkey") % 17 == 0)
            .withColumn(
                "l_extendedprice", F.col("l_extendedprice") + F.lit(7.5)
            )
            .withColumn("op", F.lit("U")),
            keys=["l_orderkey", "l_linenumber", "l_rn"],
        )
        # seed the view from the v0 |><| v0 join, then apply the four
        # commits' signed deltas in the serialization A1, B1, A2, B2
        rev = (
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
        ).cast("decimal(30,8)")
        seed = (
            VT.vt_read(spark, a_dir, 0)
            .join(VT.vt_read(spark, b_dir, 0),
                  F.col("o_orderkey") == F.col("l_orderkey"))
            .groupBy("o_custkey")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.sum(rev).cast("decimal(30,8)").alias("revenue"),
            )
        )
        VT.vt_create(seed, view)
        applier = vt_cdf_join_delta_applier(spark, view)
        steps = [("a", 1, 0), ("b", 1, 1), ("a", 2, 1), ("b", 2, 2)]
        for step, (side, v, other_v) in enumerate(steps):
            if side == "a":
                changes = VT.vt_changes(
                    spark, a_dir, v - 1, v, ["o_orderkey"]
                )
                other = VT.vt_read(spark, b_dir, other_v)
            else:
                changes = VT.vt_changes(
                    spark, b_dir, v - 1, v,
                    ["l_orderkey", "l_linenumber", "l_rn"]
                )
                other = VT.vt_read(spark, a_dir, other_v)
            applier(changes, other, side, step)

    root = cached_build("joinview", sf_dir, ["orders", "lineitem"], build)
    return (
        VT.vt_read(spark, os.path.join(root, "view"))
        .filter(F.col("n_items") > 0)
        .select(
            "o_custkey",
            F.col("n_items").cast("long").alias("n_items"),
            F.round("revenue", 2).cast("double").alias("revenue"),
        )
        .orderBy("o_custkey")
    )


VERSIONED_CDF_JOIN_SQL = """
SELECT o_custkey,
       count(*) AS n_items,
       CAST(round(sum(CAST((l_extendedprice
                            + CASE WHEN l_partkey % 17 = 0 THEN 7.5
                                   ELSE 0 END)
                           * (1 - l_discount) AS DECIMAL(30,8))), 2)
            AS DOUBLE) AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey % 9 <> 0
GROUP BY o_custkey
ORDER BY o_custkey
"""


def vt_cdf_index_applier(spark, index_dir: str, id_col: str = "doc_id"):
    """The apply_fn that keeps a persisted NEAR-DUP INDEX in sync with a
    versioned corpus table by tailing its CDF: removals first (delete +
    update_preimage ids dropped from every probe table via the
    file-targeted erasure), then additions (insert + update_postimage
    docs built/appended), so an updated document is re-indexed under its
    new text. This closes the compliance loop END TO END: a GDPR DELETE
    lands on the lakehouse table as a normal DML commit, and the index
    follows by tailing the change feed — nobody has to remember to also
    call the index's erase. Version 0 (all-insert) builds the index, so
    the feed must reach it one version at a time, in order: drain the
    ``vt_cdf`` stream through ``foreach_version``. A version with no
    change rows never reaches the applier, so a caller whose v0 may be
    empty creates the index empty first."""
    from kinesis_app_spark.operators import dedupindex as DI

    def apply(changes, version):
        dels = changes.filter(
            F.col("_change_type").isin("delete", "update_preimage")
        ).select(id_col)
        if version > 0 and dels.limit(1).count():
            DI.dedup_index_remove(spark, index_dir, dels)
        ins = changes.filter(
            F.col("_change_type").isin("insert", "update_postimage")
        ).select(id_col, "text")
        if version == 0:
            DI.dedup_index_build(ins, index_dir)
        elif ins.limit(1).count():
            DI.dedup_index_add(spark, index_dir, ins)

    return apply


def dedup_index_cdf_maintenance(spark, sf_dir):
    """Rounds 5 and 6 composed: the accepted corpus lives in a VERSIONED
    table (v0 CREATE = u in [0.3, 0.65), v1 MERGE = insert u >= 0.65,
    v2 MERGE-delete = the GDPR cohort doc_id % 11 = 0), and the persisted
    near-dup index is maintained ONLY by tailing that table's change
    feed (the vt_cdf stream drained through foreach_version into
    vt_cdf_index_applier) — the index is built at v0, inserts become
    index appends, the DELETE becomes file-targeted index erasure,
    once per version in version order. The screen that follows must equal a
    screen against an index built in one shot over the FINAL corpus
    (same per-doc probe rows either way), so the entry rides
    DEDUP_INDEX_ERASURE_SQL unchanged: the oracle replays the screen
    with the erased cohort filtered out of its corpus CTE — if the tail
    dropped a version, double-applied one, or the erasure missed a
    probe table, a verdict would shift and the hash would mismatch."""
    from kinesis_app_spark.operators import dedupindex as DI
    from kinesis_app_spark.operators import versioned as VT
    from kinesis_app_spark.registry_round4 import _md5_u

    docs = _t(spark, sf_dir, "documents")

    def build(root):
        up, ckpt, d = (
            os.path.join(root, n) for n in ("upstream", "ckpt", "index")
        )
        u = _md5_u("doc_id")
        corpus = docs.select("doc_id", "text")
        VT.vt_create(
            corpus.filter((u >= F.lit(0.3)) & (u < F.lit(0.65))), up
        )
        ins = corpus.filter(u >= F.lit(0.65)).withColumn("op", F.lit("U"))
        VT.vt_merge(spark, up, ins, keys=["doc_id"])
        gdpr = (
            corpus.filter((u >= F.lit(0.3)) & F.expr("doc_id % 11 = 0"))
            .withColumn("op", F.lit("D"))
        )
        VT.vt_merge(spark, up, gdpr, keys=["doc_id"])
        # an empty corpus delivers no rows at all: the index starts
        # empty, and a non-empty v0 replaces it
        DI.dedup_index_build(corpus.limit(0), d)
        _drain_cdf(
            spark, up, "doc_id",
            CDF.foreach_version(vt_cdf_index_applier(spark, d)),
            ckpt, "dedup_index_cdf_maintenance drain",
        )

    root = cached_build("dedup_cdf", sf_dir, ["documents"], build)
    idx = os.path.join(root, "index")
    batch = docs.filter(_md5_u("doc_id") < F.lit(0.3))
    return DI.dedup_index_screen(spark, idx, batch, threshold=0.5).orderBy(
        "doc_id"
    )


def pipeline_kinesis_lakehouse_rollup(spark, sf_dir):
    """THE full production topology in one value-gated entry — every
    layer the engine built, composed end to end and fresh per call:

      Kinesis-shaped source  ->  epoch-idempotent streaming MERGE
      (fake_kinesis stream)      into a VERSIONED upstream table
                             ->  vt_cdf readStream (versions = offsets)
                             ->  foreachBatch signed-delta rollup into a
                                 versioned downstream table

    Two ingestion waves drain a growing bounded stream from ONE
    checkpoint (wave 2 resumes at the wave-1 offsets and delivers only
    seqs 150..249 — the reference's AfterSequenceNumber resume,
    src/Kinesis/Kinesis.hs:54-77, through Spark's offset log), giving
    the upstream table two MERGE commits; the CDF stream then tails
    v0..v2 and maintains the per-user rollup incrementally. The oracle
    recomputes the rollup arithmetically from the deterministic payload
    rule ((shard*7919+seq)%100): a record lost between ANY two layers,
    a double-applied epoch, or a mis-signed delta shifts a count or a
    seq mass and hash-mismatches."""
    import shutil

    from kinesis_app_spark.operators import versioned as VT
    from kinesis_app_spark.sources.fake_kinesis import register as reg_fk

    reg_fk(spark)
    # all four dirs are fresh-per-call run state under one scratch dir
    # (deleted in the teardown below): never cached
    run = scratch_dir("pkl_")
    up = os.path.join(run, "up")
    down = os.path.join(run, "down")
    ckpt1 = os.path.join(run, "ck1")
    ckpt2 = os.path.join(run, "ck2")

    VT.vt_create(
        spark.createDataFrame([], "shard int, seq long, usr int"), up
    )
    merger = VT.vt_foreach_batch_merger(spark, up, keys=["shard", "seq"])

    def ingest_wave(records_per_shard: int) -> None:
        parsed = (
            spark.readStream.format("fake_kinesis")
            .option("numShards", "4")
            .option("recordsPerShard", str(records_per_shard))
            .load()
            .select(
                F.from_json(
                    F.col("data").cast("string"),
                    "shard int, seq long, user int",
                ).alias("p")
            )
            .select(
                F.col("p.shard").alias("shard"),
                F.col("p.seq").alias("seq"),
                F.col("p.user").alias("usr"),
                F.lit("U").alias("op"),
            )
        )
        drain(
            parsed.writeStream.foreachBatch(merger)
            .option("checkpointLocation", ckpt1)
            .trigger(availableNow=True)
            .start(),
            "pipeline ingest wave",
        )

    # a failed or timed-out drain must not leak the pkl_* temp state
    try:
        ingest_wave(150)   # upstream v1: seqs 0..149 per shard
        ingest_wave(250)   # upstream v2: the stream GREW; resume
        #                    delivers only 150..249 from the checkpoint
        _drain_cdf(
            spark, up, "shard,seq",
            vt_cdf_rollup_applier(spark, _mk_rollup(spark, down),
                                  "usr", "seq"),
            ckpt2, "pipeline CDF drain",
        )
        return (
            VT.vt_read(spark, down)
            .select(
                "usr",
                F.col("n_orders").cast("long").alias("n_events"),
                F.col("price_sum").cast("long").alias("seq_sum"),
            )
            .orderBy("usr")
            .localCheckpoint(eager=True)  # materialize before teardown
        )
    finally:
        shutil.rmtree(run, ignore_errors=True)


def _mk_rollup(spark, down: str) -> str:
    from kinesis_app_spark.operators import versioned as VT

    VT.vt_create(
        spark.createDataFrame(
            [], "usr int, n_orders long, price_sum decimal(30,8)"
        ),
        down,
    )
    return down


PIPELINE_KINESIS_LAKEHOUSE_SQL = """
WITH recs AS (
    SELECT s.shard, q.seq, (s.shard * 7919 + q.seq) % 100 AS usr
    FROM (SELECT unnest(range(0, 4)) AS shard) s
    CROSS JOIN (SELECT unnest(range(0, 250)) AS seq) q
)
SELECT usr, count(*) AS n_events, sum(seq)::BIGINT AS seq_sum
FROM recs
GROUP BY usr
ORDER BY usr
"""


REGISTRY_ROUND6: dict[str, QuerySpec] = {
    "versioned_cdf_stream_agg": QuerySpec(
        versioned_cdf_stream_agg, VERSIONED_CDF_STREAM_SQL
    ),
    "versioned_cdf_source_batch": QuerySpec(
        versioned_cdf_source_batch, VERSIONED_CDF_SOURCE_SQL
    ),
    "versioned_cdf_readstream_agg": QuerySpec(
        versioned_cdf_readstream_agg, VERSIONED_CDF_STREAM_SQL
    ),
    "pipeline_kinesis_lakehouse_rollup": QuerySpec(
        pipeline_kinesis_lakehouse_rollup, PIPELINE_KINESIS_LAKEHOUSE_SQL
    ),
    "versioned_cdf_join_view": QuerySpec(
        versioned_cdf_join_view, VERSIONED_CDF_JOIN_SQL
    ),
    "versioned_disjoint_writers": QuerySpec(
        versioned_disjoint_writers, VERSIONED_DISJOINT_SQL
    ),
    "versioned_compact_read": QuerySpec(
        versioned_compact_read, VERSIONED_COMPACT_SQL
    ),
    "versioned_bloom_scan": QuerySpec(
        versioned_bloom_scan, VERSIONED_BLOOM_SQL
    ),
    "versioned_in_list_scan": QuerySpec(
        versioned_in_list_scan, VERSIONED_IN_LIST_SQL
    ),
    "versioned_cluster_incremental": QuerySpec(
        versioned_cluster_incremental, VERSIONED_LIQUID_SQL
    ),
    "versioned_delete_vectors": QuerySpec(
        versioned_delete_vectors, VERSIONED_DV_SQL
    ),
    "versioned_sink_append": QuerySpec(
        versioned_sink_append, VERSIONED_SINK_SQL
    ),
}


def _bind_erasure_oracle() -> None:
    """Late-bind DEDUP_INDEX_ERASURE_SQL from registry_round5 (imported
    by registry.py after this module would need it at top level)."""
    from kinesis_app_spark.registry_round5 import DEDUP_INDEX_ERASURE_SQL

    REGISTRY_ROUND6["dedup_index_cdf_maintenance"] = QuerySpec(
        dedup_index_cdf_maintenance, DEDUP_INDEX_ERASURE_SQL
    )
