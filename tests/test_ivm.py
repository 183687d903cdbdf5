"""The two-stream join-view coordinator across commits that deliver no
change rows: layout rewrites, metadata-only commits and empty merges
must not stall the view (streaming/ivm.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kinesis_app_spark.operators import versioned as VT
from kinesis_app_spark.sources import vt_cdf as CDF
from kinesis_app_spark.registry_round6 import vt_cdf_join_delta_applier
from kinesis_app_spark.streaming.ivm import TwoStreamJoinCoordinator

_KEYS = {"a": "o_orderkey", "b": "l_orderkey,l_linenumber"}


def _empty_commits(spark, table: str, keys: list[str], price: str):
    """Every commit shape that changes no row, as (name, fn); CLUSTER
    first, while the preceding merge's rewrite is still unclustered."""
    key = keys[0]
    return [
        ("cluster", lambda: VT.vt_cluster_incremental(
            spark, table, [key], max_records_per_file=2)),
        ("compact", lambda: VT.vt_compact(
            spark, table, min_rows_per_file=1 << 20)),
        ("optimize", lambda: VT.vt_optimize(spark, table, [key])),
        ("bloom", lambda: VT.vt_index_bloom(spark, table, [key])),
        ("constraint", lambda: VT.vt_add_constraint(
            spark, table, "key_pos", f"{key} > 0")),
        ("empty_merge", lambda: VT.vt_merge(
            spark, table,
            VT.vt_read(spark, table).limit(0).withColumn("op", F.lit("U")),
            keys=keys)),
        ("update_nothing", lambda: VT.vt_update(
            spark, table, [(key, ">", 10**9)], {price: f"{price} + 1"})),
    ]


def test_join_view_advances_past_commits_with_no_change_rows(
        spark, tmp_path):
    CDF.register(spark)
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    view, spool = str(tmp_path / "view"), str(tmp_path / "spool")
    VT.vt_create(
        spark.createDataFrame(
            [(k, k % 3) for k in range(1, 9)],
            "o_orderkey long, o_custkey long",
        ).repartition(4), a,
    )
    VT.vt_create(
        spark.createDataFrame(
            [(k, n, 10.0 * k + n, 0.1)
             for k in range(1, 9) for n in (1, 2)],
            "l_orderkey long, l_linenumber long, l_extendedprice double, "
            "l_discount double",
        ).repartition(4), b,
    )
    VT.vt_create(
        spark.createDataFrame(
            [], "o_custkey long, n_items long, revenue decimal(30,8)"
        ), view,
    )
    coord = TwoStreamJoinCoordinator(
        spark, a, b, view, spool, vt_cdf_join_delta_applier(spark, view),
        _KEYS,
    )

    def feed(side: str, table: str) -> None:
        """The side's whole feed as one epoch, as an availableNow stream
        delivers it."""
        batch = spark.read.format("vt_cdf").options(
            path=table, keys=_KEYS[side]
        ).load()
        coord.foreach_batch(side)(batch, 0)

    shapes = {
        a: _empty_commits(spark, a, ["o_orderkey"], "o_custkey"),
        b: _empty_commits(spark, b, ["l_orderkey", "l_linenumber"],
                          "l_extendedprice"),
    }

    def merge(table: str, i: int) -> None:
        if table == a:
            chg = spark.createDataFrame(
                [(i + 1, 7 + i, "U"), (100 + i, i % 3, "U")],
                "o_orderkey long, o_custkey long, op string",
            )
            VT.vt_merge(spark, a, chg, keys=["o_orderkey"])
        else:
            chg = spark.createDataFrame(
                [(i + 1, 1, 500.0 + i, 0.2, "U"), (100 + i, 1, 1.0, 0.0, "U")],
                "l_orderkey long, l_linenumber long, "
                "l_extendedprice double, l_discount double, op string",
            )
            VT.vt_merge(spark, b, chg, keys=["l_orderkey", "l_linenumber"])

    committed = []
    for table in (a, b):  # each side: a real merge, every empty shape...
        merge(table, 0)
        for name, empty in shapes[table]:
            before = VT.vt_latest_version(table)
            empty()
            if VT.vt_latest_version(table) > before:
                committed.append(name)
    for table in (a, b):  # ...and a real merge after them
        merge(table, 1)
    feed("a", a)
    feed("b", b)
    # every shape really committed a version on both sides
    assert len(committed) == 14, committed
    assert coord.drain() == []  # caught up: nothing is left waiting

    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(30,8)"
    )
    joined = VT.vt_read(spark, a).join(
        VT.vt_read(spark, b), F.col("o_orderkey") == F.col("l_orderkey")
    )
    want = sorted(
        tuple(r)
        for r in joined.groupBy("o_custkey")
        .agg(F.count(F.lit(1)), F.sum(rev)).collect()
    )
    got = sorted(
        tuple(r)
        for r in VT.vt_read(spark, view).filter("n_items > 0").collect()
    )
    assert got == want
