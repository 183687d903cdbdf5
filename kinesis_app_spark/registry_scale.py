"""Scale-path queries: salted aggregation, sketch aggregates, global top-k.

The salted query proves the two-phase rewrite is *semantically invisible*
(same oracle as a plain GROUP BY); the sketch queries are rows-only because
sketch internals are engine-specific.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kinesis_app_spark.streaming.ops import GATE_STREAM_SHUFFLE
from kinesis_app_spark.scratch import scratch_dir
from kinesis_app_spark.operators.scale import (
    bloom_semi_join,
    global_row_number,
    salted_aggregate,
    two_phase_group_topk,
)
from kinesis_app_spark.registry_util import QuerySpec, table as _t


def salted_skew_aggregate(spark, sf_dir):
    """Revenue stats by l_returnflag — 3 distinct keys over the whole fact
    table, the canonical hot-key aggregation, executed with a 16-way salt.
    Sums accumulate in DECIMAL so the oracle comparison is exact under any
    accumulation order (the point of the test: order DOES differ)."""
    l = _t(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(30,8)"
    )
    out = salted_aggregate(
        l,
        keys=["l_returnflag"],
        measures={
            "revenue": ("sum", rev),
            "n_lines": ("count", F.lit(1)),
            "max_qty": ("max", F.col("l_quantity")),
            "min_qty": ("min", F.col("l_quantity")),
        },
        salt_buckets=16,
    )
    return out.select(
        "l_returnflag",
        F.round("revenue", 2).cast("double").alias("revenue"),
        "n_lines",
        "max_qty",
        "min_qty",
    )


SALTED_SQL = """
SELECT l_returnflag,
       round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))), 2)::DOUBLE AS revenue,
       count(*) AS n_lines,
       max(l_quantity) AS max_qty,
       min(l_quantity) AS min_qty
FROM lineitem
GROUP BY l_returnflag
"""


def bloom_semi_join_lineitem(spark, sf_dir):
    """Lineitems of urgent 1995+ orders via an explicit Bloom-filtered
    semi-join (operators/scale.bloom_semi_join): the fact side is pruned by
    a broadcast Bloom filter inside its scan stage, then a broadcast
    left_semi removes false positives — identical results to a plain semi
    join (the oracle is the plain EXISTS), with the fact-side shuffle
    reduced to ~|matches| rows. Aggregated so the gate output is small."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    keys = o.filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
    ).select(F.col("o_orderkey").alias("l_orderkey"))
    picked = bloom_semi_join(l, keys, "l_orderkey")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(30,8)"
    )
    return (
        picked.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum(rev), 2).cast("double").alias("revenue"),
            F.sum("l_quantity").cast("double").alias("sum_qty"),
        )
        .orderBy("l_returnflag")
    )


BLOOM_SEMI_SQL = """
SELECT l_returnflag,
       count(*) AS n_lines,
       round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))), 2)::DOUBLE AS revenue,
       sum(l_quantity)::DOUBLE AS sum_qty
FROM lineitem
WHERE l_orderkey IN (
    SELECT o_orderkey FROM orders
    WHERE o_orderpriority = '1-URGENT' AND o_orderdate >= DATE '1995-01-01'
)
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def sketch_aggregates(spark, sf_dir):
    """Sketch-based aggregates — the only sane forms at 100 TB: HLL++
    distinct count and GK percentiles per group in one pass, no
    exact-distinct shuffle, no global sort — VALUE-GATED via their error
    envelopes (the approx_distinct_users / approx_percentile_envelope
    pattern, applied per group): the raw sketch estimates are
    engine-specific, so the entry emits each group's EXACT distinct
    count plus booleans asserting (a) the HLL estimate landed within
    2× its requested rsd (0.02 → 4%) and (b) each approx percentile's
    true rank sits within 2·n_g/accuracy of the target rank (the GK
    contract with partition-merge slack). A regression that breaks
    either sketch flips a boolean and fails the hash gate — strictly
    stronger than the old rows-only check.

    Plan: one grouped sketch aggregate collected (bounded by the
    event_type domain), then ONE exact second scan whose per-group
    rank/count checks use small CASE chains built from the collected
    estimates. Two scans, no sort, no window."""
    e = _t(spark, sf_dir, "events")
    rsd, acc = 0.02, 10000
    first = e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd).alias("est_users"),
        F.percentile_approx(
            "value", F.array(F.lit(0.5), F.lit(0.99)), F.lit(acc)
        ).alias("pp"),
    ).collect()
    if not first:
        return spark.createDataFrame(
            [],
            "event_type string, true_users bigint, hll_ok boolean, "
            "p50_rank_ok boolean, p99_rank_ok boolean",
        )
    est = {r["event_type"]: r for r in first}
    v50 = F.lit(None).cast("double")
    v99 = F.lit(None).cast("double")
    est_u = F.lit(None).cast("long")
    for et, r in est.items():
        pp = r["pp"] or [None, None]
        v50 = F.when(F.col("event_type") == et, F.lit(pp[0])).otherwise(v50)
        v99 = F.when(F.col("event_type") == et, F.lit(pp[1])).otherwise(v99)
        est_u = F.when(
            F.col("event_type") == et, F.lit(r["est_users"])
        ).otherwise(est_u)
    n = F.count("value")  # GK ranks are over non-null values
    tol = n * F.lit(2.0) / F.lit(acc)

    def rank_ok(v, q):
        lo = F.count_if(F.col("value") < v)  # the value's min rank
        hi = F.count_if(F.col("value") <= v)  # the value's max rank
        target = n * F.lit(q)
        # all-null group: sketch yields NULL, envelope vacuously true
        return F.when(v.isNull(), F.lit(True)).otherwise(
            (lo <= target + tol) & (hi >= target - tol)
        )

    return (
        e.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("true_users"),
            (
                F.abs(est_u.cast("double") - F.count_distinct("user_id"))
                <= F.count_distinct("user_id") * F.lit(2 * rsd)
            ).alias("hll_ok"),
            rank_ok(v50, 0.5).alias("p50_rank_ok"),
            rank_ok(v99, 0.99).alias("p99_rank_ok"),
        )
        .orderBy("event_type")
    )


SKETCH_AGGREGATES_SQL = """
SELECT event_type,
       count(DISTINCT user_id) AS true_users,
       TRUE AS hll_ok, TRUE AS p50_rank_ok, TRUE AS p99_rank_ok
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def global_topk_orders(spark, sf_dir):
    """Global top-100 — compiles to TakeOrderedAndProject (per-partition
    k-heaps + driver merge), never a full RangePartitioning sort."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


GLOBAL_TOPK_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


def kinesis_reshard_counts(spark, sf_dir):
    """Resharding under the value gate: a 2-shard stream where shard 0
    SPLITS at seq 40 (parent closes, two children partition the remaining
    seqs by parity — sources/fake_kinesis.py models the Kinesis
    split contract). Per-shard record counts and seq ranges are
    arithmetically determined, so the oracle is a VALUES table — putting
    the reference's untested resharding hole
    (/root/reference/README.md:8) behind a cross-engine check, not just a
    unit test."""
    from kinesis_app_spark.sources.fake_kinesis import register

    register(spark)
    df = (
        spark.read.format("fake_kinesis")
        .option("numShards", 2)
        .option("recordsPerShard", 100)
        .option("splitShard", 0)
        .option("splitAtSeq", 40)
        .load()
    )
    return df.groupBy("shardId").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.min("sequenceNumber").alias("min_seq"),
        F.max("sequenceNumber").alias("max_seq"),
    ).orderBy("shardId")


KINESIS_RESHARD_SQL = """
SELECT * FROM (VALUES
  ('shardId-000000000000', CAST(40 AS BIGINT), CAST(0 AS BIGINT), CAST(39 AS BIGINT)),
  ('shardId-000000000001', CAST(100 AS BIGINT), CAST(0 AS BIGINT), CAST(99 AS BIGINT)),
  ('shardId-000000001000', CAST(30 AS BIGINT), CAST(40 AS BIGINT), CAST(98 AS BIGINT)),
  ('shardId-000000001001', CAST(30 AS BIGINT), CAST(41 AS BIGINT), CAST(99 AS BIGINT))
) AS t(shardId, n_records, min_seq, max_seq)
ORDER BY shardId
"""


def kinesis_merge_counts(spark, sf_dir):
    """Resharding's OTHER direction under the value gate: shards 0 and 1
    MERGE at seq 40 (both parents close, one child carries BOTH logical
    streams from there — the Kinesis scale-DOWN contract; split is
    kinesis_reshard_counts). Per-shard counts/ranges are arithmetic, so
    the oracle is a VALUES table: parents deliver 40 records each, the
    merged child 2x60, the bystander shard all 100. The child's own
    sequence numbers are 2*seq + parent_idx (unique within the shard,
    like real Kinesis): min 2*40=80, max 2*99+1=199."""
    from kinesis_app_spark.sources.fake_kinesis import register

    register(spark)
    df = (
        spark.read.format("fake_kinesis")
        .option("numShards", 3)
        .option("recordsPerShard", 100)
        .option("mergeShards", "0,1")
        .option("mergeAtSeq", 40)
        .load()
    )
    return df.groupBy("shardId").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.min("sequenceNumber").alias("min_seq"),
        F.max("sequenceNumber").alias("max_seq"),
    ).orderBy("shardId")


KINESIS_MERGE_SQL = """
SELECT * FROM (VALUES
  ('shardId-000000000000', CAST(40 AS BIGINT), CAST(0 AS BIGINT), CAST(39 AS BIGINT)),
  ('shardId-000000000001', CAST(40 AS BIGINT), CAST(0 AS BIGINT), CAST(39 AS BIGINT)),
  ('shardId-000000000002', CAST(100 AS BIGINT), CAST(0 AS BIGINT), CAST(99 AS BIGINT)),
  ('shardId-000000002000', CAST(120 AS BIGINT), CAST(80 AS BIGINT), CAST(199 AS BIGINT))
) AS t(shardId, n_records, min_seq, max_seq)
ORDER BY shardId
"""


def kinesis_fault_retry_counts(spark, sf_dir):
    """Transient read failure + retry under the value gate — the
    reference's retry taxonomy (`streamRecords` retries throttled/timed-out
    GetRecords, src/Kinesis/Kinesis.hs:89-176) as BEHAVIOR, not a config
    mapping: shard 1 is configured to fail its first read attempt
    (``failShardOnce``); the first action fails loudly, the retry re-reads
    every slice and must produce exactly-once totals identical to a
    never-failed run — which is what the arithmetic VALUES oracle asserts.

    In local[N] Spark runs with task maxFailures=1, so the retry here is
    the driver re-running the action (job-level retry); the *task-level*
    retry path — same marker mechanism, one action, local[4,2] — is proven
    in tests/test_round3.py's subprocess test, and the *epoch-level*
    retry (streaming restart from checkpoint across the injected failure)
    in the same file."""
    from kinesis_app_spark.sources.fake_kinesis import register

    register(spark)
    mdir = scratch_dir("kinesis_fault_markers_")

    def build():
        df = (
            spark.read.format("fake_kinesis")
            .option("numShards", 2)
            .option("recordsPerShard", 100)
            .option("failShardOnce", 1)
            .option("failMarkerDir", mdir)
            .load()
        )
        return df.groupBy("shardId").agg(
            F.count(F.lit(1)).alias("n_records"),
            F.min("sequenceNumber").alias("min_seq"),
            F.max("sequenceNumber").alias("max_seq"),
        ).orderBy("shardId")

    try:
        build().collect()
        raise AssertionError(
            "fake_kinesis: injected transient failure did not fire"
        )
    except Exception as e:  # noqa: BLE001 — re-raise anything unexpected
        if "injected transient" not in str(e):
            raise
    # the retry is a FRESH plan, as a driver-level retry would be: under
    # AQE the failed DataFrame object pins its materialized-stage failure,
    # so re-collecting the same object replays the exception instead of
    # re-reading (found empirically; the fresh build re-reads every slice)
    return build()


KINESIS_FAULT_RETRY_SQL = """
SELECT * FROM (VALUES
  ('shardId-000000000000', CAST(100 AS BIGINT), CAST(0 AS BIGINT), CAST(99 AS BIGINT)),
  ('shardId-000000000001', CAST(100 AS BIGINT), CAST(0 AS BIGINT), CAST(99 AS BIGINT))
) AS t(shardId, n_records, min_seq, max_seq)
ORDER BY shardId
"""


def kinesis_shard_counts(spark, sf_dir):
    """Per-shard record + distinct-user counts over the Kinesis-shaped
    Python DataSource — the reference's `_shardItems` progress counter
    (src/Kinesis/Types.hs:104) and payload parse as one declarative query.
    The oracle reconstructs the deterministic source analytically (range
    cross-join), so the entire source+parse+aggregate path is value-checked
    without the source existing in DuckDB."""
    from kinesis_app_spark.sources.fake_kinesis import register

    register(spark)
    df = (
        spark.read.format("fake_kinesis")
        .option("numShards", 8)
        .option("recordsPerShard", 500)
        .load()
    )
    parsed = df.select(
        "shardId",
        F.from_json(
            F.col("data").cast("string"), "shard int, seq long, user int"
        ).alias("p"),
    )
    return parsed.groupBy("shardId").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.countDistinct("p.user").alias("n_users"),
    )


KINESIS_SHARD_SQL = """
SELECT format('shardId-{:012d}', s) AS shardId,
       count(*) AS n_records,
       count(DISTINCT (s * 7919 + seq) % 100) AS n_users
FROM (SELECT unnest(range(0, 8)) AS s), (SELECT unnest(range(0, 500)) AS seq)
GROUP BY 1
"""


def kinesis_reshard_stream_counts(spark, sf_dir):
    """STREAMING consumption ACROSS a shard split, under the value gate:
    the resharded source (parent closes at seq 40, parity children carry
    the rest) is consumed as a checkpointed availableNow streaming query
    in fetch-sized micro-batches; per-shard counts and seq ranges must
    equal the arithmetic VALUES oracle. Together with
    tests/test_fake_kinesis.py's exactly-once-across-restart test this
    closes the reference's resharding hole end-to-end — batch view,
    streaming view, and restart semantics all checked."""
    from kinesis_app_spark.sources.fake_kinesis import register
    from kinesis_app_spark.streaming.ops import run_to_memory

    register(spark)
    df = (
        spark.readStream.format("fake_kinesis")
        .option("numShards", 2)
        .option("recordsPerShard", 100)
        .option("maxRecordsPerFetch", 30)
        .option("splitShard", 0)
        .option("splitAtSeq", 40)
        .load()
    )
    agg = df.groupBy("shardId").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.min("sequenceNumber").alias("min_seq"),
        F.max("sequenceNumber").alias("max_seq"),
    )
    res = run_to_memory(
        agg,
        scratch_dir("reshard_ckpt_"),
        output_mode="complete",
        shuffle_partitions=GATE_STREAM_SHUFFLE,
    )
    return res.orderBy("shardId")


def kinesis_stream_counts(spark, sf_dir):
    """The STREAMING twin of kinesis_shard_counts: the same Kinesis-shaped
    source consumed as a checkpointed Structured Streaming query
    (micro-batched per-shard fetch slices -> payload parse -> running
    aggregate, availableNow to a memory sink). Offsets-resume and
    resharding for this reader are covered in tests/test_fake_kinesis.py;
    here the complete streaming read path is value-checked against the
    analytical oracle."""
    from kinesis_app_spark.sources.fake_kinesis import register
    from kinesis_app_spark.streaming.ops import run_to_memory

    register(spark)
    df = (
        spark.readStream.format("fake_kinesis")
        .option("numShards", 8)
        .option("recordsPerShard", 500)
        .option("maxRecordsPerFetch", 200)
        .load()
    )
    parsed = df.select(
        "shardId",
        F.from_json(
            F.col("data").cast("string"), "shard int, seq long, user int"
        ).alias("p"),
    )
    # count_distinct is unsupported in streaming aggregates, so the stream
    # maintains per-(shard, user) counts (the scalable state shape) and the
    # tiny memory-sink result rolls up exactly in batch
    agg = parsed.groupBy("shardId", F.col("p.user").alias("user")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    ckpt = scratch_dir("kin_stream_ckpt_")
    res = run_to_memory(agg, ckpt, output_mode="complete", shuffle_partitions=GATE_STREAM_SHUFFLE)
    return res.groupBy("shardId").agg(
        F.sum("cnt").alias("n_records"),
        F.count(F.lit(1)).alias("n_users"),
    )


def bucketed_join_orders(spark, sf_dir):
    """The amortized-shuffle join under the value gate: both sides are
    persisted bucketed on the join key (operators/scale.write_bucketed —
    the write pays the shuffle once; every later join is Exchange-free,
    asserted in tests/test_scale.py), then joined and rolled up per
    market segment. Broadcast is disabled around the join so the plan
    exercised IS the bucketed sort-merge path, not a BHJ that would hide
    a bucketing bug; the conf is restored afterwards. The oracle is the
    plain join+rollup on the original tables — proving the bucketed
    copies are value-faithful, not just well-planned."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    from kinesis_app_spark.operators.scale import write_bucketed

    # a prior session's warehouse dir survives the (in-memory) catalog:
    # drop the entry AND clear the orphaned location before re-creating
    import shutil
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for t in ("gate_b_orders", "gate_b_customer"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)

    write_bucketed(o, "gate_b_orders", ["o_custkey"], num_buckets=8)
    write_bucketed(c, "gate_b_customer", ["c_custkey"], num_buckets=8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bo = spark.table("gate_b_orders")
        bc = spark.table("gate_b_customer")
        out = (
            bo.join(bc, bo.o_custkey == bc.c_custkey)
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.round(
                    F.sum(F.col("o_totalprice").cast("decimal(30,8)")), 2
                )
                .cast("double")
                .alias("total_price"),
            )
            .orderBy("c_mktsegment")
        )
        # eager checkpoint: the join executes NOW, under the -1 threshold
        # (returning the lazy plan would re-plan it with broadcast back on)
        return out.localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


BUCKETED_JOIN_SQL = """
SELECT c_mktsegment,
       count(*) AS n_orders,
       round(sum(CAST(o_totalprice AS DECIMAL(30,8))), 2)::DOUBLE
         AS total_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1
ORDER BY 1
"""


def skew_key_report_lineitem(spark, sf_dir):
    """Join-planning skew diagnostic: the 20 heaviest l_suppkey values
    with their row counts and the table total — the report that decides
    whether a join needs salting (operators/scale.salted_join) or AQE
    skew handling. Partial-aggregable groupBy + TakeOrderedAndProject;
    integer-only output (share = cnt/total_rows is derivable, never a
    cross-engine float). At 100 TB this is the cheap pre-flight scan
    that prevents a straggler stage."""
    l = _t(spark, sf_dir, "lineitem")
    total = l.agg(F.count(F.lit(1)).alias("total_rows"))
    return (
        l.groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(total))
        .orderBy(F.desc("cnt"), "suppkey")
        .limit(20)
    )


SKEW_REPORT_SQL = """
WITH total AS (SELECT count(*) AS total_rows FROM lineitem),
counts AS (
  SELECT l_suppkey AS suppkey, count(*) AS cnt FROM lineitem GROUP BY 1
)
SELECT suppkey, cnt, total_rows
FROM counts CROSS JOIN total
ORDER BY cnt DESC, suppkey
LIMIT 20
"""


def global_row_ids_orders(spark, sf_dir):
    """Dense global row ids over orders in o_orderkey order, built with
    the range-partition + offset pattern (operators/scale.py
    global_row_number) instead of a single-partition ORDER BY window —
    the oracle IS that single-partition window, so the gate proves the
    distributed form computes the identical numbering."""
    o = _t(spark, sf_dir, "orders")
    return global_row_number(
        o.select("o_orderkey", "o_custkey"), ["o_orderkey"]
    ).select("rid", "o_orderkey", "o_custkey")


GLOBAL_ROW_IDS_SQL = """
SELECT row_number() OVER (ORDER BY o_orderkey) AS rid,
       o_orderkey, o_custkey
FROM orders
"""


def two_phase_topk_priority(spark, sf_dir):
    """Top-3 orders by price within each order priority — computed with
    the salted two-phase window (operators/scale.two_phase_group_topk):
    5 priorities over the whole table are exactly the hot-group shape
    where a plain per-group window funnels ~N/5 rows through one task.
    The oracle is the single-window QUALIFY it replaces, proving the
    two-phase form exact."""
    o = _t(spark, sf_dir, "orders")
    return two_phase_group_topk(
        o.select("o_orderpriority", "o_orderkey", "o_totalprice"),
        part_cols=["o_orderpriority"],
        order_col="o_totalprice",
        k=3,
        tiebreak_cols=["o_orderkey"],
    ).select(
        "o_orderpriority",
        "rk",
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("price"),
    ).orderBy("o_orderpriority", "rk")


TWO_PHASE_TOPK_SQL = """
SELECT o_orderpriority, rk, o_orderkey, o_totalprice::DOUBLE AS price
FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders
)
WHERE rk <= 3
ORDER BY o_orderpriority, rk
"""


def salted_join_lineitem_orders(spark, sf_dir):
    """The salted JOIN under the value gate: lineitem (the skewed side in
    a real workload) joined to orders on orderkey through
    ``scale.salted_join`` — per-row salt on the skewed side, 8× replica
    of the other side, join on (key, salt) — then an aggregate whose
    result must equal the PLAIN join the oracle computes. This puts the
    skew-mitigation primitive itself, not just a unit test, behind the
    cross-engine hash check."""
    from kinesis_app_spark.operators.scale import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderstatus"
    )
    j = salted_join(li, o, on=["l_orderkey"], salt_buckets=8, how="inner")
    return j.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.round(F.col("l_quantity") * 100).cast("decimal(38,0)"))
        .cast("long")
        .alias("qty_centi_sum"),
        F.round(F.sum(F.col("l_extendedprice").cast("decimal(30,8)")), 2)
        .cast("double")
        .alias("price_sum"),
    ).orderBy("o_orderstatus")


SALTED_JOIN_SQL = """
SELECT o.o_orderstatus,
       count(*) AS n_rows,
       CAST(sum(CAST(CAST(round(l.l_quantity * 100) AS BIGINT) AS HUGEINT))
            AS BIGINT) AS qty_centi_sum,
       round(sum(CAST(l.l_extendedprice AS DECIMAL(30,8))), 2)::DOUBLE AS price_sum
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderstatus
ORDER BY o.o_orderstatus
"""


REGISTRY_SCALE = {
    "salted_join_lineitem_orders": QuerySpec(
        salted_join_lineitem_orders, SALTED_JOIN_SQL
    ),
    "salted_skew_aggregate": QuerySpec(salted_skew_aggregate, SALTED_SQL),
    "global_row_ids_orders": QuerySpec(global_row_ids_orders, GLOBAL_ROW_IDS_SQL),
    "two_phase_topk_priority": QuerySpec(
        two_phase_topk_priority, TWO_PHASE_TOPK_SQL
    ),
    "bloom_semi_join_lineitem": QuerySpec(bloom_semi_join_lineitem, BLOOM_SEMI_SQL),
    "sketch_aggregates": QuerySpec(sketch_aggregates, SKETCH_AGGREGATES_SQL),
    "global_topk_orders": QuerySpec(global_topk_orders, GLOBAL_TOPK_SQL),
    "kinesis_shard_counts": QuerySpec(kinesis_shard_counts, KINESIS_SHARD_SQL),
    "kinesis_reshard_counts": QuerySpec(
        kinesis_reshard_counts, KINESIS_RESHARD_SQL
    ),
    "kinesis_merge_counts": QuerySpec(kinesis_merge_counts, KINESIS_MERGE_SQL),
    "kinesis_fault_retry_counts": QuerySpec(
        kinesis_fault_retry_counts, KINESIS_FAULT_RETRY_SQL
    ),
    "kinesis_reshard_stream_counts": QuerySpec(
        kinesis_reshard_stream_counts, KINESIS_RESHARD_SQL
    ),
    "kinesis_stream_counts": QuerySpec(kinesis_stream_counts, KINESIS_SHARD_SQL),
    "skew_key_report_lineitem": QuerySpec(
        skew_key_report_lineitem, SKEW_REPORT_SQL
    ),
    "bucketed_join_orders": QuerySpec(bucketed_join_orders, BUCKETED_JOIN_SQL),
}
