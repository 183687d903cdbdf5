"""Registry: CDC merge (MERGE INTO semantics as a DataFrame operator).

The change batch is synthesized deterministically from orders — updates
for keys % 7, deletes for % 13 (with a same-batch conflict on % 91 keys
that latest-wins compaction must resolve to the delete), inserts with
shifted keys for % 97 — and mirrored verbatim in the oracle SQL, so the
full merged snapshot is value-checked."""

from __future__ import annotations

from pyspark.sql import functions as F

from kinesis_app_spark.scratch import scratch_dir
from kinesis_app_spark.operators.cdc import apply_changes
from kinesis_app_spark.registry_util import QuerySpec, table as _t
from kinesis_app_spark.streaming.runner import drain


def cdc_merge_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    updates = o.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        (F.col("o_totalprice") + 10.0).alias("o_totalprice"),
        "o_orderdate",
        F.lit("X-UPDATED").alias("o_orderpriority"),
        F.lit("U").alias("op"), F.lit(1).alias("seq"),
    )
    deletes = o.filter(F.col("o_orderkey") % 13 == 0).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
        F.lit("D").alias("op"), F.lit(2).alias("seq"),
    )
    inserts = o.filter(F.col("o_orderkey") % 97 == 0).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        "o_custkey",
        F.lit("N").alias("o_orderstatus"),
        F.lit(1.0).alias("o_totalprice"),
        "o_orderdate",
        F.lit("NEW").alias("o_orderpriority"),
        F.lit("U").alias("op"), F.lit(1).alias("seq"),
    )
    changes = updates.unionByName(deletes).unionByName(inserts)
    return apply_changes(o, changes, keys=["o_orderkey"], seq_col="seq")


CDC_MERGE_SQL = """
WITH changes AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         o_totalprice + 10.0 AS o_totalprice, o_orderdate,
         'X-UPDATED' AS o_orderpriority, 'U' AS op, 1 AS seq
  FROM orders WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
         o_orderpriority, 'D', 2
  FROM orders WHERE o_orderkey % 13 = 0
  UNION ALL
  SELECT o_orderkey + 10000000, o_custkey, 'N', 1.0, o_orderdate, 'NEW', 'U', 1
  FROM orders WHERE o_orderkey % 97 = 0
), compacted AS (
  SELECT * FROM changes
  QUALIFY row_number() OVER (PARTITION BY o_orderkey
                             ORDER BY seq DESC, op ASC) = 1
)
SELECT coalesce(s.o_orderkey, c.o_orderkey) AS o_orderkey,
       CASE WHEN c.op = 'U' THEN c.o_custkey ELSE s.o_custkey END AS o_custkey,
       CASE WHEN c.op = 'U' THEN c.o_orderstatus ELSE s.o_orderstatus END AS o_orderstatus,
       CASE WHEN c.op = 'U' THEN c.o_totalprice ELSE s.o_totalprice END AS o_totalprice,
       CASE WHEN c.op = 'U' THEN c.o_orderdate ELSE s.o_orderdate END AS o_orderdate,
       CASE WHEN c.op = 'U' THEN c.o_orderpriority ELSE s.o_orderpriority END AS o_orderpriority
FROM orders s FULL JOIN compacted c ON s.o_orderkey = c.o_orderkey
WHERE c.op IS NULL OR c.op <> 'D'
"""


def scd2_user_value_history(spark, sf_dir):
    """SCD2 validity intervals over each user's purchase events: every
    purchase opens a version closed by the user's next purchase (lead
    window, one shuffle, no self-join)."""
    from kinesis_app_spark.operators.cdc import scd2_history

    ev = (
        _t(spark, sf_dir, "events")
        .filter((F.col("event_type") == "purchase") & (F.col("user_id") < 200))
        .select("user_id", "ts", "event_id", "value")
    )
    return scd2_history(ev, keys=["user_id"], ts_col="ts", order_cols=["event_id"])


SCD2_SQL = """
SELECT user_id, ts, event_id, value,
       ts AS valid_from,
       lead(ts) OVER w AS valid_to,
       lead(ts) OVER w IS NULL AS is_current
FROM events
WHERE event_type = 'purchase' AND user_id < 200
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def temporal_join_user_value(spark, sf_dir):
    """Point-in-time (temporal) join: each click enriched with the SCD2
    purchase-version active at click time. The key identity: an SCD2
    point-in-time join IS a backward as-of join on valid_from within the
    key partition — the interval predicate (valid_from <= ts < valid_to)
    is implied because valid_to is exactly the next version's valid_from.
    So this reuses operators/asof.py's one-shuffle union+window plan: no
    range join, no theta join, no interval explode. The oracle is the
    explicit interval LEFT JOIN a warehouse would write."""
    from kinesis_app_spark.operators.asof import asof_join
    from kinesis_app_spark.operators.cdc import scd2_history

    e = _t(spark, sf_dir, "events")
    scoped = e.filter(F.col("user_id") < 200)
    purchases = scoped.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    hist = scd2_history(
        purchases, keys=["user_id"], ts_col="ts", order_cols=["event_id"]
    )
    dim = hist.select(
        "user_id",
        "valid_from",
        F.col("value").alias("ver_value"),
        F.col("event_id").alias("ver_event_id"),
    )
    clicks = scoped.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    joined = asof_join(
        clicks,
        dim,
        on="user_id",
        left_ts="ts",
        right_ts="valid_from",
        value_cols=["ver_value", "ver_event_id"],
    )
    return joined.select(
        "user_id", "event_id", "ts", "ver_value", "ver_event_id"
    ).orderBy("event_id")


TEMPORAL_JOIN_SQL = """
WITH vers AS (
  SELECT user_id, value AS ver_value, event_id AS ver_event_id,
         ts AS valid_from, lead(ts) OVER w AS valid_to
  FROM events WHERE event_type = 'purchase' AND user_id < 200
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), clicks AS (
  SELECT user_id, event_id, ts FROM events
  WHERE event_type = 'click' AND user_id < 200
)
SELECT c.user_id, c.event_id, c.ts, v.ver_value, v.ver_event_id
FROM clicks c LEFT JOIN vers v
  ON c.user_id = v.user_id AND v.valid_from <= c.ts
     AND (v.valid_to IS NULL OR c.ts < v.valid_to)
ORDER BY c.event_id
"""


def _cdc_changes(o):
    """The cdc_merge_orders change set, split by arrival order: upserts
    (seq 1) arrive in micro-batch 1, deletes (seq 2) in micro-batch 2."""
    updates = o.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        (F.col("o_totalprice") + 10.0).alias("o_totalprice"),
        "o_orderdate",
        F.lit("X-UPDATED").alias("o_orderpriority"),
        F.lit("U").alias("op"), F.lit(1).alias("seq"),
    )
    inserts = o.filter(F.col("o_orderkey") % 97 == 0).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        "o_custkey",
        F.lit("N").alias("o_orderstatus"),
        F.lit(1.0).alias("o_totalprice"),
        "o_orderdate",
        F.lit("NEW").alias("o_orderpriority"),
        F.lit("U").alias("op"), F.lit(1).alias("seq"),
    )
    deletes = o.filter(F.col("o_orderkey") % 13 == 0).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
        F.lit("D").alias("op"), F.lit(2).alias("seq"),
    )
    return updates.unionByName(inserts), deletes


def streaming_cdc_apply(spark, sf_dir):
    """The change feed consumed as a STREAM: two ordered micro-batches
    (upserts, then deletes — mtime-ordered files, maxFilesPerTrigger=1)
    flow through ``foreachBatch``, each batch MERGEd into a versioned
    parquet target with the same ``apply_changes`` operator the batch
    entry uses.  Each epoch writes target version ``v{epoch+1}`` in
    overwrite mode, so a replayed epoch (at-least-once delivery) rewrites
    the same version instead of double-applying — the idempotence
    discipline the reference's ack/checkpoint protocol exists for
    (src/Kinesis/Coordination.hs:329-337).  Final state must equal the
    one-shot batch merge: sequenced incremental application == compacted
    batch application (verified per order status under the value gate).

    Scale: this is the foreachBatch-MERGE lakehouse pattern; on a real
    deployment the versioned-parquet target becomes a Delta/Iceberg
    MERGE INTO and versioning comes from the table format's log."""
    import os

    from kinesis_app_spark.streaming.sources import file_stream

    o = _t(spark, sf_dir, "orders")
    batch1, batch2 = _cdc_changes(o)
    src = scratch_dir("cdc_stream_src_")
    batch1.coalesce(1).write.mode("append").parquet(src)
    first_files = set(os.listdir(src))
    batch2.coalesce(1).write.mode("append").parquet(src)
    newest = max(
        os.stat(os.path.join(src, f)).st_mtime for f in first_files
    )
    for f in set(os.listdir(src)) - first_files:
        # push batch-2 file mtimes ahead so the mtime-ordered file source
        # consumes them in a later micro-batch
        os.utime(os.path.join(src, f), (newest + 5, newest + 5))

    root = scratch_dir("cdc_target_")
    v0 = os.path.join(root, "v0")
    o.write.mode("overwrite").parquet(v0)
    state = {"cur": v0}
    target_schema = o.schema

    def apply_batch(bdf, epoch_id):
        cur = spark.read.schema(target_schema).parquet(state["cur"])
        merged = apply_changes(
            cur, bdf, keys=["o_orderkey"], seq_col="seq"
        )
        nxt = os.path.join(root, f"v{epoch_id + 1}")
        merged.write.mode("overwrite").parquet(nxt)
        state["cur"] = nxt

    ckpt = scratch_dir("cdc_stream_ckpt_")
    stream = file_stream(
        spark, src, batch1.schema, max_files_per_trigger=1
    )
    drain(
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start(),
        "cdc foreachBatch merge stream",
    )
    final = spark.read.schema(target_schema).parquet(state["cur"])
    return (
        final.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(30,8)")), 2
            ).cast("double").alias("price_sum"),
        )
        .orderBy("o_orderstatus")
    )


STREAMING_CDC_SQL = f"""
WITH merged AS ({CDC_MERGE_SQL})
SELECT o_orderstatus, count(*) AS n_orders,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,8))), 2) AS DOUBLE)
         AS price_sum
FROM merged
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


REGISTRY_CDC = {
    "cdc_merge_orders": QuerySpec(cdc_merge_orders, CDC_MERGE_SQL),
    "streaming_cdc_apply": QuerySpec(streaming_cdc_apply, STREAMING_CDC_SQL),
    "scd2_user_value_history": QuerySpec(scd2_user_value_history, SCD2_SQL),
    "temporal_join_user_value": QuerySpec(
        temporal_join_user_value, TEMPORAL_JOIN_SQL
    ),
}
