"""Round-7 registry entries: column mapping (rename/drop without data
rewrite), the vt_table batch-read source, and CDF projection pushdown —
each value-gated against a DuckDB oracle replay.

The reference has no tables at all (opaque stream records,
/root/reference/src/Kinesis/Coordination.hs:51-53); these close the
round-6 verdict's top asks on the engine's lakehouse substrate.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from kinesis_app_spark.scratch import cached_build, scratch_dir
from kinesis_app_spark.registry_util import QuerySpec, table as _t
from kinesis_app_spark.streaming.runner import drain


def versioned_column_mapping(spark, sf_dir):
    """COLUMN MAPPING under the value gate — the full lifecycle the
    round-6 verdict asked for: create -> clustered optimize -> merge ->
    RENAME a non-key column -> merge again under the new name -> DROP a
    column -> final scan, with time travel and metadata-only commits
    asserted along the way.

    The build asserts the two schema DDLs write NO data file (the
    data-file set is byte-identical before and after — at 100 TB a
    rename is a few hundred manifest bytes, not a table copy), that the
    pre-rename version still answers under the OLD logical names, and
    that merge file-pruning still rewrites a strict subset of files
    after the rename (per-file stats key on stable physical names, so
    renames cannot un-prune a table). The oracle replays both merge
    waves arithmetically over raw orders — a rename that lost rows,
    resurrected the dropped column, or mis-bound logical names to
    physical data would shift values and hash-mismatch."""
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
        # merge wave 1 (old name): +1.5 on every 3rd order in [500,700)
        chg1 = (
            VT.vt_read(spark, table_dir)
            .filter(
                (F.col("o_orderkey") >= 500) & (F.col("o_orderkey") < 700)
                & (F.col("o_orderkey") % 3 == 0)
            )
            .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1.5))
            .withColumn("op", F.lit("U"))
        )
        VT.vt_merge(spark, table_dir, chg1, keys=["o_orderkey"])
        v_pre = VT.vt_latest_version(table_dir)
        pat = os.path.join(table_dir, "data", "**", "*.parquet")
        files_before = sorted(glob.glob(pat, recursive=True))
        VT.vt_rename_column(table_dir, "o_totalprice", "price_amount")
        VT.vt_drop_column(table_dir, "o_custkey")
        assert sorted(glob.glob(pat, recursive=True)) == files_before, (
            "RENAME/DROP must be metadata-only (no data file written)"
        )
        old = VT.vt_read(spark, table_dir, version=v_pre)
        assert old.columns == ["o_orderkey", "o_custkey", "o_totalprice"], (
            "time travel must keep the pre-rename logical names"
        )
        # merge wave 2 (new name): +2.5 on every 7th order in
        # [100,300) — a key span disjoint from wave 1's rewrites, so
        # pruning must rewrite a strict subset (stats are physical)
        chg2 = (
            VT.vt_read(spark, table_dir)
            .filter(
                (F.col("o_orderkey") >= 100) & (F.col("o_orderkey") < 300)
                & (F.col("o_orderkey") % 7 == 0)
            )
            .withColumn("price_amount", F.col("price_amount") + F.lit(2.5))
            .withColumn("op", F.lit("U"))
        )
        v2 = VT.vt_merge(spark, table_dir, chg2, keys=["o_orderkey"])
        added, removed = VT._commit_delta(table_dir, v2)
        n_files = len(VT.vt_files(table_dir, v2))
        # the pruning claim needs a multi-file table with matching keys
        # (the empty-input gate runs this against zero-row tables)
        assert n_files < 2 or 0 < len(removed) < n_files, (
            "post-rename merge must stay file-pruned"
        )

    table_dir = cached_build("orders_colmap", sf_dir, ["orders"], build)
    return VT.vt_read(spark, table_dir).orderBy("o_orderkey")


def versioned_table_source_read(spark, sf_dir):
    """The vt_table BATCH READER under the value gate — the read half
    of the DataSource matrix (sink r6, CDF source r6, plain reads r7):
    ``spark.read.format("vt_table")`` over a table that exercises every
    read-path feature at once — clustered files, a pruned MERGE, a
    deletion-vector DELETE (no rewrite), and a column RENAME — must
    equal the raw SQL replay. The build additionally pins time travel
    through the source API: ``versionAsOf 0`` returns the pre-merge
    snapshot under the pre-rename schema. A reader that ignored DV
    sidecars (resurrecting deleted rows), misapplied the mapping, or
    dropped a file from the manifest plan would hash-mismatch."""
    from kinesis_app_spark.operators import versioned as VT
    from kinesis_app_spark.sources import vt_writer as W

    W.register(spark)

    def build(table_dir):
        o = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        VT.vt_create(o, table_dir)
        VT.vt_optimize(
            spark, table_dir, cluster_cols=["o_orderkey"],
            max_records_per_file=1024,
        )
        chg = (
            VT.vt_read(spark, table_dir)
            .filter(
                (F.col("o_orderkey") >= 200) & (F.col("o_orderkey") < 320)
            )
            .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(4.5))
            .withColumn("op", F.lit("U"))
        )
        VT.vt_merge(spark, table_dir, chg, keys=["o_orderkey"])
        VT.vt_delete_dv(spark, table_dir, [("o_custkey", "in", [11, 23])])
        VT.vt_rename_column(table_dir, "o_totalprice", "price_amount")
        n0 = _t(spark, sf_dir, "orders").count()
        old = (
            spark.read.format("vt_table").option("path", table_dir)
            .option("versionAsOf", "1").load()
        )
        assert old.columns == ["o_orderkey", "o_custkey", "o_totalprice"]
        assert old.count() == n0, "versionAsOf must predate the DV delete"

    table_dir = cached_build("orders_src", sf_dir, ["orders"], build)
    return (
        spark.read.format("vt_table")
        .option("path", table_dir)
        # bin-pack the 1024-row fixture files into ~32k-row slices: the
        # packing now defaults from the manifest (round 9): tiny
        # fixture files bin-pack into few slices, production-size files
        # plan one per task — no per-call option needed
        .load()
        .orderBy("o_orderkey")
    )


def versioned_source_pushdown(spark, sf_dir):
    """FILTER PUSHDOWN through the vt_table source under the value
    gate — the relation-scoped ``filters`` option wired to the
    manifest's data skipping (round 8: an option, not the
    ``pushFilters`` hook — this Spark caches ONE readInfo per relation
    and the hook's filter-specialized plans poison later filter-free
    queries on the same DataFrame; options are relation state, so the
    cached plan serves every query correctly): the scan reaches the
    per-file min/max stats at PLANNING (the vt_scan discipline,
    physical column names), the bloom sidecars for =/IN probes, and
    pyarrow row-level filters at read. The build proves the pruning is
    real — the option-restricted reader plans strictly fewer
    partitions than the table has files — AND pins the reuse
    regression: after a filtered query on a plain relation, a
    filter-free count on the SAME DataFrame must still see every row.
    The result must equal the raw SQL replay over a table with a
    pruned MERGE and a deletion-vector DELETE in its history (a reader
    that let pruning drop a matching file, or let the row filters
    renumber DV positions, shifts rows and hash-mismatches)."""
    import json as _json

    from kinesis_app_spark.operators import versioned as VT
    from kinesis_app_spark.sources import vt_writer as W
    from kinesis_app_spark.sources.vt_writer import (
        VersionedTableBatchReader,
    )

    W.register(spark)

    def build(table_dir):
        o = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        VT.vt_create(o, table_dir)
        VT.vt_optimize(
            spark, table_dir, cluster_cols=["o_orderkey"],
            max_records_per_file=1024,
        )
        chg = (
            VT.vt_read(spark, table_dir)
            .filter(
                (F.col("o_orderkey") >= 400) & (F.col("o_orderkey") < 520)
            )
            .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(3.5))
            .withColumn("op", F.lit("U"))
        )
        VT.vt_merge(spark, table_dir, chg, keys=["o_orderkey"])
        VT.vt_delete_dv(spark, table_dir, [("o_custkey", "in", [11, 23])])
        # bloom-index the SECONDARY key so the sessionless planner's
        # pure-Python xxhash64 probes (functions/xxh64.py) also run
        # under this gate — a hash mismatch would skip files holding
        # matching custkeys and hash-mismatch the oracle
        VT.vt_index_bloom(spark, table_dir, ["o_custkey"])
        # reuse regression (the reason pruning is an option): a
        # filtered query must NOT poison a later filter-free query on
        # the SAME DataFrame. Checked once per fixture build — it costs
        # three full source reads, which is build cost, not query cost
        # (tests/test_round8.py pins it independently every run).
        plain = (
            spark.read.format("vt_table").option("path", table_dir)
            .load()
        )
        n_total = plain.count()
        plain.filter(F.col("o_orderkey") < 5).count()
        assert plain.count() == n_total, (
            "relation reuse after a filtered query lost rows — "
            "readInfo cache poisoning is back"
        )

    table_dir = cached_build("orders_push", sf_dir, ["orders"], build)
    n_files = len(VT.vt_files(table_dir, VT.vt_latest_version(table_dir)))
    rng = _json.dumps([["o_orderkey", ">=", 300],
                       ["o_orderkey", "<", 900]])
    planned = len(VersionedTableBatchReader(
        {"path": table_dir, "filters": rng}
    ).partitions())
    assert n_files < 2 or 0 < planned < n_files, (
        f"stats pruning must plan fewer slices: {planned}/{n_files}"
    )
    # the bloom branch: planning must run the sessionless probes and
    # never OVER-prune (each probed custkey has ~10 orders spread over
    # most files at sf>=0.01, so a frequent key legitimately keeps
    # everything — STRICT bloom pruning is asserted on sparse keys by
    # versioned_pushdown_timestamp_bloom and tests/test_round7b.py)
    blo = _json.dumps([["o_custkey", "in", [37, 53, 101]]])
    bloom_planned = len(VersionedTableBatchReader(
        {"path": table_dir, "filters": blo}
    ).partitions())
    assert 0 < bloom_planned <= max(1, n_files)  # empty table: 1 shell
    return (
        spark.read.format("vt_table").option("path", table_dir)
        .option("filters", rng)
        .load()  # derived default packs the surviving tiny files
        .filter((F.col("o_orderkey") >= 300) & (F.col("o_orderkey") < 900))
        .orderBy("o_orderkey")
        .unionAll(
            # the bloom-probed point-lookup shape (files pruned by
            # sidecar bitmaps, not min/max): same table, IN-list on
            # the indexed secondary key
            spark.read.format("vt_table").option("path", table_dir)
            .option("filters", blo)
            .load()
            .filter(
                F.col("o_custkey").isin(37, 53, 101)
                & (F.col("o_orderkey") >= 900)
            )
            .orderBy("o_orderkey")
        )
    )


VERSIONED_SOURCE_PUSHDOWN_SQL = """
SELECT o_orderkey, o_custkey,
       o_totalprice
         + CASE WHEN o_orderkey >= 400 AND o_orderkey < 520
                THEN 3.5 ELSE 0 END AS o_totalprice
FROM orders
WHERE o_orderkey >= 300 AND o_orderkey < 900
  AND o_custkey NOT IN (11, 23)
UNION ALL
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_custkey IN (37, 53, 101) AND o_orderkey >= 900
ORDER BY o_orderkey
"""


def versioned_metadata_aggregates(spark, sf_dir):
    """METADATA-ONLY aggregates under the value gate — ``vt_fast_stats``
    answers COUNT(*)/MIN/MAX from the manifest alone (O(files) driver
    work, zero data read — the query shape that must not scan 100 TB):
    the live count stays exact THROUGH a deletion-vector delete
    (per-file n_rows minus DV cardinalities, maintained at commit
    time), while min/max correctly REFUSE while any DV survives (a DV
    may have removed the extreme row — the build asserts the refusal)
    and become exact again after OPTIMIZE materializes the deletes.
    The oracle recomputes all five aggregates from raw data — a stale
    n_dv, an unmaterialized DV, or min/max read from a pruned bound
    rather than the data would shift a value and hash-mismatch."""
    from kinesis_app_spark.operators import versioned as VT

    def build(table_dir):
        o = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        VT.vt_create(o, table_dir)
        VT.vt_delete_dv(spark, table_dir, [("o_custkey", "in", [11, 23])])

    table_dir = cached_build("orders_fast", sf_dir, ["orders"], build)
    files = VT.vt_files(table_dir, VT.vt_latest_version(table_dir))
    pre = VT.vt_fast_stats(
        table_dir, ["o_orderkey", "o_totalprice"]
    )
    if any(f.get("n_dv") for f in files):
        assert pre["cols"]["o_orderkey"] is None, (
            "min/max must refuse while a deletion vector survives"
        )
        VT.vt_optimize(spark, table_dir, cluster_cols=["o_orderkey"])
    post = VT.vt_fast_stats(
        table_dir, ["o_orderkey", "o_totalprice"]
    )
    assert post["n_rows"] == pre["n_rows"], (
        "OPTIMIZE must not change the live count"
    )
    key = post["cols"]["o_orderkey"] or {"min": None, "max": None}
    price = post["cols"]["o_totalprice"] or {"min": None, "max": None}
    return spark.createDataFrame(
        [(post["n_rows"], key["min"], key["max"],
          price["min"], price["max"])],
        "n_rows long, min_key long, max_key long, "
        "min_price double, max_price double",
    )


VERSIONED_FAST_STATS_SQL = """
SELECT COUNT(*) AS n_rows,
       MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key,
       MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price
FROM orders
WHERE o_custkey NOT IN (11, 23)
"""


def versioned_multi_table_txn(spark, sf_dir):
    """MULTI-TABLE ACID TRANSACTIONS under the value gate
    (operators/txn.py — neither Delta nor classic Iceberg has these on
    a plain filesystem): two versioned tables (the even-key and
    odd-key halves of orders) receive one COMMITTED transaction — a
    keyed MERGE on table A staged atomically with an APPEND on table B
    — and one ABORTED transaction (a poisoned price bump on A plus a
    junk append on B, rolled back by the context manager). The build
    asserts the commit advanced BOTH tables by exactly one version and
    the abort advanced NEITHER (contiguous version numbers — aborted
    reservations leave no gaps). The oracle replays only the committed
    transaction's arithmetic over raw orders: a torn commit (one table
    landed, the other not), a leaked aborted row, or a double-applied
    merge shifts sums and hash-mismatches."""
    from kinesis_app_spark.operators import versioned as VT
    from kinesis_app_spark.operators.txn import vt_transaction

    def build(root):
        a_dir, b_dir, coord = (
            os.path.join(root, n) for n in ("a", "b", "coord")
        )
        o = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        VT.vt_create(o.filter(F.col("o_orderkey") % 2 == 0), a_dir)
        VT.vt_create(o.filter(F.col("o_orderkey") % 2 == 1), b_dir)
        va, vb = VT.vt_latest_version(a_dir), VT.vt_latest_version(b_dir)
        bump = (
            VT.vt_read(spark, a_dir)
            .filter(F.col("o_orderkey") % 6 == 0)
            .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(2.5))
            .withColumn("op", F.lit("U"))
        )
        extra = (
            VT.vt_read(spark, b_dir)
            .filter(F.col("o_orderkey") % 5 == 0)
            .select(
                (F.col("o_orderkey") + F.lit(10_000_000))
                .alias("o_orderkey"),
                "o_custkey",
                (F.col("o_totalprice") * 2).alias("o_totalprice"),
            )
        )
        with vt_transaction(spark, coord) as txn:
            txn.stage_merge(a_dir, bump, keys=["o_orderkey"])
            txn.stage_append(b_dir, extra)
            # mid-transaction: neither table moved
            assert VT.vt_latest_version(a_dir) == va
            assert VT.vt_latest_version(b_dir) == vb
        assert VT.vt_latest_version(a_dir) == va + 1, "A must land"
        assert VT.vt_latest_version(b_dir) == vb + 1, "B must land"
        # the ABORTED transaction: nothing may move
        poison = (
            VT.vt_read(spark, a_dir).limit(50)
            .withColumn("o_totalprice", F.lit(-999.0))
            .withColumn("op", F.lit("U"))
        )
        try:
            with vt_transaction(spark, coord) as txn:
                txn.stage_merge(a_dir, poison, keys=["o_orderkey"])
                txn.stage_append(b_dir, extra.limit(5))
                raise RuntimeError("abort this transaction")
        except RuntimeError:
            pass
        assert VT.vt_latest_version(a_dir) == va + 1, (
            "aborted txn must not advance A"
        )
        assert VT.vt_latest_version(b_dir) == vb + 1, (
            "aborted txn must not advance B (and no version gap)"
        )

    root = cached_build("orders_txn", sf_dir, ["orders"], build)
    a_dir, b_dir = (os.path.join(root, n) for n in ("a", "b"))
    return (
        VT.vt_read(spark, a_dir)
        .unionAll(VT.vt_read(spark, b_dir))
        .orderBy("o_orderkey", "o_custkey")
    )


VERSIONED_TXN_SQL = """
SELECT o_orderkey, o_custkey,
       o_totalprice
         + CASE WHEN o_orderkey % 6 = 0 THEN 2.5 ELSE 0 END
         AS o_totalprice
FROM orders WHERE o_orderkey % 2 = 0
UNION ALL
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders WHERE o_orderkey % 2 = 1
UNION ALL
SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey,
       o_totalprice * 2 AS o_totalprice
FROM orders WHERE o_orderkey % 2 = 1 AND o_orderkey % 5 = 0
ORDER BY o_orderkey, o_custkey
"""


def pipeline_txn_fact_rollup(spark, sf_dir):
    """STREAMING × TRANSACTIONS composed under the value gate: one
    stream maintains a FACT table (keyed MERGE of every order) and its
    incremental ROLLUP (per-customer count + decimal revenue, each
    epoch ADDING its partial sums onto the committed rollup) through
    ``vt_foreach_batch_txn_merger`` — every epoch lands in BOTH tables
    atomically and exactly once (the batch_id rides in both commit
    ledgers behind one decision file; a crash can tear neither the
    epoch nor the fact/rollup consistency). Three file-split epochs
    drain through a real checkpointed availableNow query. The oracle
    recomputes the rollup from raw orders in one shot — an epoch
    applied twice to the rollup but once to the fact (or vice versa),
    a torn final epoch, or a lost one shifts counts/sums and
    hash-mismatches. Exact DECIMAL arithmetic keeps the incremental
    accumulation bit-equal to the oracle's single-pass SUM."""
    import shutil

    from kinesis_app_spark.operators import versioned as VT
    from kinesis_app_spark.operators.txn import (
        vt_foreach_batch_txn_merger,
    )

    def build(root):
        fact, rollup, coord = (
            os.path.join(root, n) for n in ("fact", "rollup", "coord")
        )
        o = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey",
            F.col("o_totalprice").cast("decimal(18,2)")
            .alias("o_totalprice"),
        )
        VT.vt_create(o.limit(0), fact)
        VT.vt_create(
            spark.createDataFrame(
                [], "o_custkey long, n_orders long, total decimal(20,2)"
            ),
            rollup,
        )

        def derive_fact(batch):
            return batch.withColumn("op", F.lit("U"))

        def derive_rollup(batch):
            agg = batch.groupBy("o_custkey").agg(
                F.count(F.lit(1)).alias("d_n"),
                F.sum("o_totalprice").alias("d_t"),
            )
            cur = VT.vt_read(spark, rollup)
            return (
                agg.join(cur, "o_custkey", "left")
                .select(
                    "o_custkey",
                    (F.coalesce(F.col("n_orders"), F.lit(0))
                     + F.col("d_n")).cast("long").alias("n_orders"),
                    (F.coalesce(
                        F.col("total"),
                        F.lit(0).cast("decimal(20,2)"),
                    ) + F.col("d_t")).cast("decimal(20,2)")
                    .alias("total"),
                )
                .withColumn("op", F.lit("U"))
            )

        run = scratch_dir("txnp_")
        stage = os.path.join(run, "in")
        ckpt = os.path.join(run, "ck")
        for i in range(3):  # three deterministic epochs
            o.filter(F.col("o_orderkey") % 3 == i).coalesce(1) \
                .write.parquet(os.path.join(stage, f"part{i}"))
        q = (
            spark.readStream.schema(o.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(stage, "part*"))
            .writeStream
            .foreachBatch(vt_foreach_batch_txn_merger(spark, coord, [
                {"table_dir": fact, "derive": derive_fact,
                 "keys": ["o_orderkey"]},
                {"table_dir": rollup, "derive": derive_rollup,
                 "keys": ["o_custkey"]},
            ]))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            drain(q, "txn fact/rollup pipeline")
        finally:
            shutil.rmtree(run, ignore_errors=True)
        n0 = o.count()
        assert VT.vt_read(spark, fact).count() == n0, (
            "every order must reach the fact table"
        )
        assert (VT.vt_committed_batch_ids(fact)
                == VT.vt_committed_batch_ids(rollup)), (
            "atomic epochs: both ledgers must carry the same batch ids"
        )

    root = cached_build("txn_pipeline", sf_dir, ["orders"], build)
    return (
        VT.vt_read(spark, os.path.join(root, "rollup"))
        .select(
            "o_custkey", "n_orders",
            # the ACCUMULATION is exact decimal; the final cast is one
            # rounding of the same exact value on both sides
            F.col("total").cast("double").alias("total"),
        )
        .orderBy("o_custkey")
    )


PIPELINE_TXN_ROLLUP_SQL = """
SELECT o_custkey,
       COUNT(*) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                 AS DECIMAL(20,2)) AS DOUBLE) AS total
FROM orders
GROUP BY o_custkey
ORDER BY o_custkey
"""


def versioned_cdf_pushdown_tail(spark, sf_dir):
    """CDF KEY-FILTER pushdown under the value gate — the
    single-tenant change tail: two merges land on DISJOINT key bands
    of a clustered orders table; reading the change feed through
    ``format("vt_cdf")`` with the relation-scoped ``keyFilters`` option
    (round 8: an option, not ``pushFilters`` — this Spark's
    per-relation readInfo cache poisons filter-free reuse of
    hook-specialized plans, see vt_writer.py) must (a) prune the first
    merge's diff component at PLANNING (asserted on the reader
    directly) and (b) return exactly the second band's update pre/post
    images — the oracle reconstructs both images arithmetically from
    raw orders, so a pruned-away matching component, a broken
    before/after pairing, or a leaked first-band row all
    hash-mismatch."""
    import json as _json

    from kinesis_app_spark.operators import versioned as VT
    from kinesis_app_spark.sources import vt_cdf as CDF
    from kinesis_app_spark.sources.vt_cdf import VersionedCdfBatchReader

    CDF.register(spark)

    def build(table_dir):
        o = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        VT.vt_create(o, table_dir)                                  # v0
        VT.vt_optimize(
            spark, table_dir, cluster_cols=["o_orderkey"],
            max_records_per_file=256,
        )                                                           # v1
        for lo, hi, bump in ((100, 220, 1.5), (700, 820, 2.5)):
            chg = (
                VT.vt_read(spark, table_dir)
                .filter(
                    (F.col("o_orderkey") >= lo)
                    & (F.col("o_orderkey") < hi)
                )
                .withColumn(
                    "o_totalprice", F.col("o_totalprice") + F.lit(bump)
                )
                .withColumn("op", F.lit("U"))
            )
            VT.vt_merge(spark, table_dir, chg, keys=["o_orderkey"])

    table_dir = cached_build("orders_cdfpush", sf_dir, ["orders"], build)
    # planning-layer proof: the key filter prunes the band-1 component
    kf = _json.dumps([["o_orderkey", ">=", 700]])
    opts = {"path": table_dir, "keys": "o_orderkey",
            "startingversion": "2"}
    n_all = len(VersionedCdfBatchReader(opts).partitions())
    n_pruned = len(
        VersionedCdfBatchReader({**opts, "keyfilters": kf}).partitions()
    )
    assert n_all < 2 or 0 < n_pruned < n_all, (
        f"key filter must prune diff components: {n_pruned}/{n_all}"
    )
    return (
        spark.read.format("vt_cdf").option("path", table_dir)
        .option("keys", "o_orderkey").option("startingVersion", "2")
        .option("keyFilters", kf)
        .load()
        .filter(F.col("o_orderkey") >= 700)
        .orderBy("o_orderkey", "_change_type")
    )


VERSIONED_CDF_PUSHDOWN_SQL = """
SELECT CAST(3 AS BIGINT) AS _commit_version,
       ct AS _change_type,
       o_orderkey, o_custkey,
       o_totalprice + CASE WHEN ct = 'update_postimage'
                           THEN 2.5 ELSE 0 END AS o_totalprice
FROM orders
CROSS JOIN (SELECT 'update_preimage' AS ct
            UNION ALL SELECT 'update_postimage') cts
WHERE o_orderkey >= 700 AND o_orderkey < 820
ORDER BY o_orderkey, _change_type
"""


VERSIONED_TABLE_SOURCE_SQL = """
SELECT o_orderkey, o_custkey,
       o_totalprice
         + CASE WHEN o_orderkey >= 200 AND o_orderkey < 320
                THEN 4.5 ELSE 0 END AS price_amount
FROM orders
WHERE o_custkey NOT IN (11, 23)
ORDER BY o_orderkey
"""


def versioned_two_stream_join_view(spark, sf_dir):
    """The GENERAL two-upstream IVM topology under the value gate —
    round 6's join view re-driven by two REAL ``format("vt_cdf")``
    readStreams with independent checkpoints, coordinated by
    ``TwoStreamJoinCoordinator`` (streaming/ivm.py) instead of a
    hand-written commit serialization:

      orders table:   v0 create (sans %4) | v1 insert %4 | v2 del %9
      lineitem table: v0 create (sans %4) | v1 insert %4 | v2 bump %17

    The commits land in TWO WAVES with a full stream RESTART between
    them (new queries resume from the same checkpoints mid-interleave —
    the verdict's done-criterion): wave 1 commits A0,B0,A1 and drains
    both streams; wave 2 commits B1,A2,B2 and drains again. Each
    foreachBatch only spools its versions; the coordinator applies them
    in the deterministic (committed_at, path, version) order, joining
    each delta against the other table's ALREADY-APPLIED state, ledgered
    as batch_id = version*2+side — so redelivery, restarts, and
    out-of-order arrival all converge on the same telescoped sum. The
    oracle joins the FINAL states from raw data: any dropped or
    double-applied commit, wrong serialization point, or mis-signed
    image shifts a count or a revenue mass and hash-mismatches."""
    import shutil

    from kinesis_app_spark.operators import versioned as VT
    from kinesis_app_spark.registry_round6 import (
        vt_cdf_join_delta_applier,
    )
    from kinesis_app_spark.sources import vt_cdf as CDF
    from kinesis_app_spark.streaming.ivm import TwoStreamJoinCoordinator

    CDF.register(spark)

    def build(root):
        a_dir, b_dir, view, spool, ck_a, ck_b = (
            os.path.join(root, n)
            for n in ("orders", "lineitem", "view", "spool", "ck_a", "ck_b")
        )
        from pyspark.sql import Window

        o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        # (l_orderkey, l_linenumber) is NOT unique in the synthetic
        # lineitem — deterministic within-key disambiguator (the same
        # convention as versioned_cdf_join_view)
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
        VT.vt_create(
            spark.createDataFrame(
                [], "o_custkey long, n_items long, revenue decimal(30,8)"
            ),
            view,
        )
        coord = TwoStreamJoinCoordinator(
            spark, a_dir, b_dir, view, spool,
            vt_cdf_join_delta_applier(spark, view),
            {"a": "o_orderkey", "b": "l_orderkey,l_linenumber,l_rn"},
        )

        def run_streams() -> None:
            for side, d in (("a", a_dir), ("b", b_dir)):
                q = (
                    spark.readStream.format("vt_cdf")
                    .option("path", d).option("keys", coord.keys[side])
                    .load()
                    .writeStream.foreachBatch(coord.foreach_batch(side))
                    .option(
                        "checkpointLocation",
                        ck_a if side == "a" else ck_b,
                    )
                    .trigger(availableNow=True)
                    .start()
                )
                drain(q, "two-stream join view")

        # wave 1: A0, B0, A1 — then both streams drain
        VT.vt_create(o.filter(F.col("o_orderkey") % 4 != 0), a_dir)
        VT.vt_create(li.filter(F.col("l_orderkey") % 4 != 0), b_dir)
        VT.vt_merge(
            spark, a_dir,
            o.filter(F.col("o_orderkey") % 4 == 0)
            .withColumn("op", F.lit("U")),
            keys=["o_orderkey"],
        )
        run_streams()
        # wave 2 (RESTART mid-interleave: fresh queries, same
        # checkpoints): B1, A2, B2 — only the new versions arrive
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
        run_streams()
        leftover = coord.drain()
        assert not leftover, (
            "both streams drained: the coordinator must be caught up"
        )
        shutil.rmtree(spool, ignore_errors=True)

    root = cached_build("joinview_2s", sf_dir, ["orders", "lineitem"], build)
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


def versioned_check_constraints(spark, sf_dir):
    """STORED CHECK constraints under the value gate (Delta's ALTER
    TABLE ADD CONSTRAINT): add `o_totalprice > 0` (validated against
    every existing row first — metadata-only commit), prove a violating
    MERGE aborts with NO version committed and the staged files
    unstaged, then land a conforming merge. The oracle replays the
    conforming arithmetic only — if the violating wave had leaked rows
    or a version, totals and counts would shift and hash-mismatch."""
    from kinesis_app_spark.operators import versioned as VT

    def build(table_dir):
        o = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice"
        )
        VT.vt_create(o, table_dir)
        v0 = VT.vt_add_constraint(
            spark, table_dir, "price_pos", "o_totalprice > 0"
        )
        # violating wave: must abort atomically (no version, no rows)
        bad = (
            VT.vt_read(spark, table_dir)
            .filter(F.col("o_orderkey") % 5 == 0)
            .withColumn("o_totalprice", F.lit(-1.0))
            .withColumn("op", F.lit("U"))
        )
        n_bad = bad.count()
        try:
            VT.vt_merge(spark, table_dir, bad, keys=["o_orderkey"])
            # a ZERO-row wave writes nothing and legitimately commits
            # (the empty-input gate runs this against empty tables)
            assert n_bad == 0, "violating merge must raise"
        except ValueError:
            assert n_bad > 0
            assert VT.vt_latest_version(table_dir) == v0, (
                "violating merge must commit nothing"
            )
        good = (
            VT.vt_read(spark, table_dir)
            .filter(F.col("o_orderkey") % 5 == 0)
            .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(9.5))
            .withColumn("op", F.lit("U"))
        )
        VT.vt_merge(spark, table_dir, good, keys=["o_orderkey"])

    table_dir = cached_build("orders_chk", sf_dir, ["orders"], build)
    return VT.vt_read(spark, table_dir).orderBy("o_orderkey")


def versioned_table_stream_tail(spark, sf_dir):
    """The vt_table STREAMING reader under the value gate — Delta's
    streaming-source semantics through the registered format: the
    upstream table is built as v0 CREATE (orders %3==0) + a sink APPEND
    (%3==1) + a second APPEND (%3==2); the stream delivers the v0
    snapshot plus exactly each append's added files, drained through a
    real checkpointed availableNow query into a parquet sink. A layout
    OPTIMIZE commits between the appends and must deliver NOTHING. The
    oracle is the plain union — a dropped append, a re-delivered file,
    or a layout commit leaking rows shifts counts and hash-mismatches."""
    import shutil

    from kinesis_app_spark.operators import versioned as VT
    from kinesis_app_spark.sources import vt_writer as W

    W.register(spark)
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")

    def build(table_dir):
        VT.vt_create(o.filter(F.col("o_orderkey") % 3 == 0), table_dir)
        (
            o.filter(F.col("o_orderkey") % 3 == 1)
            .write.format("vt_table").mode("append")
            .option("path", table_dir).save()
        )
        VT.vt_optimize(spark, table_dir, ["o_orderkey"])  # must be silent
        (
            o.filter(F.col("o_orderkey") % 3 == 2)
            .write.format("vt_table").mode("append")
            .option("path", table_dir).save()
        )

    table_dir = cached_build("orders_tail", sf_dir, ["orders"], build)
    run = scratch_dir("vtt_")
    out_dir = os.path.join(run, "out")
    ckpt = os.path.join(run, "ck")
    q = (
        spark.readStream.format("vt_table")
        .option("path", table_dir)
        # version file entries bin-pack by the derived default —
        # same knob as the batch reader; delivery semantics unchanged
        .load()
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        drain(q, "vt_table stream tail")
        return (
            spark.read.parquet(out_dir)
            .orderBy("o_orderkey")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(run, ignore_errors=True)


VERSIONED_STREAM_TAIL_SQL = """
SELECT o_orderkey, o_totalprice
FROM orders
ORDER BY o_orderkey
"""


VERSIONED_CONSTRAINTS_SQL = """
SELECT o_orderkey,
       o_totalprice
         + CASE WHEN o_orderkey % 5 = 0 THEN 9.5 ELSE 0 END
         AS o_totalprice
FROM orders
ORDER BY o_orderkey
"""


VERSIONED_COLUMN_MAPPING_SQL = """
SELECT o_orderkey,
       o_totalprice
         + CASE WHEN o_orderkey >= 500 AND o_orderkey < 700
                     AND o_orderkey % 3 = 0 THEN 1.5 ELSE 0 END
         + CASE WHEN o_orderkey >= 100 AND o_orderkey < 300
                     AND o_orderkey % 7 = 0 THEN 2.5 ELSE 0 END
         AS price_amount
FROM orders
ORDER BY o_orderkey
"""


REGISTRY_ROUND7: dict[str, QuerySpec] = {
    "versioned_column_mapping": QuerySpec(
        versioned_column_mapping, VERSIONED_COLUMN_MAPPING_SQL
    ),
    "versioned_table_source_read": QuerySpec(
        versioned_table_source_read, VERSIONED_TABLE_SOURCE_SQL
    ),
    "versioned_source_pushdown": QuerySpec(
        versioned_source_pushdown, VERSIONED_SOURCE_PUSHDOWN_SQL
    ),
    "versioned_metadata_aggregates": QuerySpec(
        versioned_metadata_aggregates, VERSIONED_FAST_STATS_SQL
    ),
    "versioned_multi_table_txn": QuerySpec(
        versioned_multi_table_txn, VERSIONED_TXN_SQL
    ),
    "pipeline_txn_fact_rollup": QuerySpec(
        pipeline_txn_fact_rollup, PIPELINE_TXN_ROLLUP_SQL
    ),
    "versioned_cdf_pushdown_tail": QuerySpec(
        versioned_cdf_pushdown_tail, VERSIONED_CDF_PUSHDOWN_SQL
    ),
    "versioned_check_constraints": QuerySpec(
        versioned_check_constraints, VERSIONED_CONSTRAINTS_SQL
    ),
    "versioned_table_stream_tail": QuerySpec(
        versioned_table_stream_tail, VERSIONED_STREAM_TAIL_SQL
    ),
}


def _bind_two_stream_oracle() -> None:
    """Late-bind the join-view oracle from registry_round6 (registry.py
    imports round7 after round6, so the import is safe at call time)."""
    from kinesis_app_spark.registry_round6 import VERSIONED_CDF_JOIN_SQL

    REGISTRY_ROUND7["versioned_two_stream_join_view"] = QuerySpec(
        versioned_two_stream_join_view, VERSIONED_CDF_JOIN_SQL
    )
