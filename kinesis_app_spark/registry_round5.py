"""Round-5 registry entries: persisted-index MAINTENANCE — compaction
(the small-file problem of the screen->add / build->append ingestion
loops) and deletion propagation (GDPR erasure reaching INTO the stored
indexes, not just the fact tables).

Each entry pairs the Spark path with a DuckDB oracle that replays the
maintained index's semantics arithmetically: compaction must be
invisible to values (same rows, new layout — the oracle is the
UNCHANGED screen/knn oracle), and erasure must be exactly "the same
index built without the erased rows" (the oracle filters them out of
its corpus CTE).

The reference (/root/reference) has no index surface at all (opaque
stream records, src/Kinesis/Coordination.hs:51-53); this is engine
surface per SURVEY.md §2.2 north-star dedup / similarity search.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kinesis_app_spark.registry_round4 import DEDUP_INDEX_SCREEN_SQL, _md5_u
from kinesis_app_spark.registry_util import QuerySpec, table as _t
from kinesis_app_spark.scratch import cached_build

#: erasure predicate over CORPUS doc ids, mirrored in the oracle SQL
_ERASE_DOC_PRED = "doc_id % 11 = 0"
_ERASE_VEC_PRED = "vec_id % 9 = 0"


def dedup_index_compacted_screen(spark, sf_dir):
    """The ingestion loop's maintenance half: the corpus is indexed in
    TWO appends (build over u in [0.3, 0.65), dedup_index_add of
    u >= 0.65), then dedup_index_optimize rewrites every index table
    range-clustered on its probe key (fingerprints by fp, shingles by
    doc id, bands by band hash) with the appended small file sets
    collapsed — the engine's parquet-compaction discipline applied to
    the index tables (operators/dedupindex.py:dedup_index_optimize;
    file-count collapse is pinned in tests/test_round5.py). The screen
    that follows must be value-identical to screening an
    in-one-go-built index, so the oracle is EXACTLY
    dedup_index_screen_docs' oracle: compaction that changes any
    verdict is corruption, and this entry would hash-mismatch."""
    from kinesis_app_spark.operators import dedupindex as DI

    docs = _t(spark, sf_dir, "documents")

    def build(d):
        u = _md5_u("doc_id")
        DI.dedup_index_build(
            docs.filter((u >= F.lit(0.3)) & (u < F.lit(0.65))), d
        )
        part_b = docs.filter(u >= F.lit(0.65))
        if part_b.limit(1).count():
            DI.dedup_index_add(spark, d, part_b)
        DI.dedup_index_optimize(spark, d)

    idx = cached_build("dedup_opt", sf_dir, ["documents"], build)
    batch = docs.filter(_md5_u("doc_id") < F.lit(0.3))
    return DI.dedup_index_screen(spark, idx, batch, threshold=0.5).orderBy(
        "doc_id"
    )


def dedup_index_erasure_screen(spark, sf_dir):
    """Deletion propagation into the persisted near-dup index: corpus
    docs matching the erasure predicate (doc_id % 11 = 0) are removed
    from fingerprints, bands, AND shingles
    (operators/dedupindex.py:dedup_index_remove) — without this, a GDPR
    erasure that cleared the fact tables would still let a screen name
    the erased doc as dup_of (the round-4 verdict's compliance gap).
    The screen after removal must equal a screen against an index that
    NEVER contained those docs, which is exactly what the oracle
    computes: the same screen replay with the erased ids filtered out
    of its corpus CTE. Verdicts that previously pointed at erased docs
    fall through to the next-best surviving match or 'new' — all
    arithmetic, all value-gated."""
    from kinesis_app_spark.operators import dedupindex as DI

    docs = _t(spark, sf_dir, "documents")

    def build(d):
        corpus = docs.filter(_md5_u("doc_id") >= F.lit(0.3))
        DI.dedup_index_build(corpus, d)
        DI.dedup_index_remove(
            spark, d, corpus.filter(_ERASE_DOC_PRED).select("doc_id")
        )

    idx = cached_build("dedup_rm", sf_dir, ["documents"], build)
    batch = docs.filter(_md5_u("doc_id") < F.lit(0.3))
    return DI.dedup_index_screen(spark, idx, batch, threshold=0.5).orderBy(
        "doc_id"
    )


#: the erasure oracle is the screen oracle with the erased ids filtered
#: out of the corpus CTE (the corpus CTE is the single place the SQL
#: selects u >= 0.3 — asserted at import time below)
_CORPUS_SELECT = "SELECT doc_id, text FROM u WHERE u >= 0.3"
assert DEDUP_INDEX_SCREEN_SQL.count(_CORPUS_SELECT) == 1
DEDUP_INDEX_ERASURE_SQL = DEDUP_INDEX_SCREEN_SQL.replace(
    _CORPUS_SELECT,
    f"{_CORPUS_SELECT} AND NOT ({_ERASE_DOC_PRED})",
    1,
)


def knn_ivf_compacted(spark, sf_dir):
    """IVF index maintenance, compaction half: built over the even half
    of the corpus, ivf_append'ed with the odd half (the nightly-delta
    path — one small file set per touched cell), then ivf_optimize
    rewrites the postings one-file-per-cell preserving the cell
    partitioning (operators/vectorindex.py:ivf_optimize; the file-count
    collapse and bit-identical results are pinned in
    tests/test_round5.py). Queried at nprobe = n_centroids, the result
    equals brute force over the full corpus BY CONSTRUCTION (every cell
    probed), so the entry is value-gated against the shared brute-force
    KNN oracle — any row compaction lost or duplicated would
    hash-mismatch."""
    from kinesis_app_spark.operators import vectorindex as VI

    emb = _t(spark, sf_dir, "embeddings")

    def build(d):
        evens = emb.filter(F.col("vec_id") % 2 == 0)
        odds = emb.filter(F.col("vec_id") % 2 == 1)
        VI.ivf_build(evens, d, n_centroids=16)
        if odds.limit(1).count() and evens.limit(1).count():
            VI.ivf_append(odds, d)
        VI.ivf_optimize(spark, d)

    idx = cached_build("ivf_opt", sf_dir, ["embeddings"], build)
    queries = emb.filter(F.col("vec_id") < 10)
    return VI.ivf_query(spark, idx, queries, k=5, nprobe=16).withColumn(
        "rank", F.col("rank").cast("int")
    )


def knn_ivf_erased(spark, sf_dir):
    """Deletion propagation into the persisted ANN index: vectors
    matching the erasure predicate (vec_id % 9 = 0) are removed from
    the postings via a CELL-TARGETED rewrite (one bounded semi-join
    finds the affected cells; only those partitions are rewritten —
    operators/vectorindex.py:ivf_remove), and the manifest row count
    drops by exactly the survivors' complement. Queried at
    nprobe = n_centroids the result equals brute force over the
    SURVIVING corpus, which is what the oracle computes (the brute-force
    KNN SQL with the erased ids filtered out of the corpus side; the
    query set is unchanged — erased users may still query, they must
    simply never be RETURNED)."""
    from kinesis_app_spark.operators import vectorindex as VI

    emb = _t(spark, sf_dir, "embeddings")

    def build(d):
        VI.ivf_build(emb, d, n_centroids=16)
        VI.ivf_remove(spark, d, emb.filter(_ERASE_VEC_PRED).select("vec_id"))

    idx = cached_build("ivf_rm", sf_dir, ["embeddings"], build)
    queries = emb.filter(F.col("vec_id") < 10)
    return VI.ivf_query(spark, idx, queries, k=5, nprobe=16).withColumn(
        "rank", F.col("rank").cast("int")
    )


REGISTRY_ROUND5: dict[str, QuerySpec] = {
    "dedup_index_compacted_screen": QuerySpec(
        dedup_index_compacted_screen, DEDUP_INDEX_SCREEN_SQL
    ),
    "dedup_index_erasure_screen": QuerySpec(
        dedup_index_erasure_screen, DEDUP_INDEX_ERASURE_SQL
    ),
}


def _bind_knn_oracle() -> None:
    """Late-bind the shared brute-force oracle (registry.py imports this
    module, so a top-level import would be circular)."""
    from kinesis_app_spark.registry import KNN_SQL

    REGISTRY_ROUND5["knn_ivf_compacted"] = QuerySpec(
        knn_ivf_compacted, KNN_SQL
    )
    _CORPUS_JOIN = "JOIN embeddings c ON c.vec_id != q.vec_id"
    assert KNN_SQL.count(_CORPUS_JOIN) == 1
    erased_oracle = KNN_SQL.replace(
        _CORPUS_JOIN,
        f"JOIN (SELECT * FROM embeddings WHERE NOT ({_ERASE_VEC_PRED})) "
        "c ON c.vec_id != q.vec_id",
        1,
    )
    REGISTRY_ROUND5["knn_ivf_erased"] = QuerySpec(knn_ivf_erased, erased_oracle)
    REGISTRY_ROUND5["knn_pq_maintained"] = QuerySpec(
        knn_pq_maintained, erased_oracle
    )


# =====================================================================
# versioned-table predicate DML + stats-pruned scan (round 5)
# =====================================================================

_DML_DELETE_BELOW = 600     # DELETE WHERE o_orderkey <= 600
_DML_UPDATE_ABOVE = 1000    # UPDATE ... WHERE o_orderkey > 1000


def _vt_dml_table(spark, sf_dir) -> str:
    """Build (once per sf_dir) the DML demonstration table:

      v0 CREATE   = orders snapshot (6 columns)
      v1 OPTIMIZE = range-clustered on o_orderkey, small files — the
                    layout that makes predicate DML prune
      v2 DELETE   = o_orderkey <= 600 (file-pruned: only low files
                    rewritten, the rest carried by reference)
      v3 UPDATE   = o_totalprice += 100.0 WHERE o_orderkey > 1000
                    (file-pruned likewise)
    """
    from kinesis_app_spark.operators import versioned as VT

    def build(table_dir):
        o = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority",
        )
        VT.vt_create(o, table_dir)
        VT.vt_optimize(
            spark, table_dir, cluster_cols=["o_orderkey"],
            max_records_per_file=256,
        )
        VT.vt_delete(
            spark, table_dir, [("o_orderkey", "<=", _DML_DELETE_BELOW)]
        )
        VT.vt_update(
            spark, table_dir,
            [("o_orderkey", ">", _DML_UPDATE_ABOVE)],
            {"o_totalprice": "o_totalprice + 100.0"},
        )

    return cached_build("orders_dml", sf_dir, ["orders"], build)


#: SQL replay of the DELETE + UPDATE applied to raw orders
_VT5_DML_SQL_CORE = f"""
SELECT o_orderkey, o_custkey, o_orderstatus,
       CASE WHEN o_orderkey > {_DML_UPDATE_ABOVE}
            THEN o_totalprice + 100.0 ELSE o_totalprice END AS o_totalprice,
       o_orderdate, o_orderpriority
FROM orders
WHERE o_orderkey > {_DML_DELETE_BELOW}
"""


def versioned_dml_delete_update(spark, sf_dir):
    """Predicate DML on the versioned table: DELETE WHERE and UPDATE
    SET ... WHERE, both FILE-PRUNED — only files whose per-file key
    stats admit a matching row are rewritten, everything else carries
    forward by reference (operators/versioned.py vt_delete/vt_update;
    pruning pinned in tests/test_round5.py — a predicate outside every
    file's range is a metadata-only commit). The oracle replays both
    statements arithmetically over raw orders: read(latest) == replay
    is exactly the DML correctness contract, and the history labels
    (CREATE/OPTIMIZE/DELETE/UPDATE) stay auditable."""
    from kinesis_app_spark.operators import versioned as VT

    table_dir = _vt_dml_table(spark, sf_dir)
    return VT.vt_read(spark, table_dir).orderBy("o_orderkey")


VERSIONED_DML_SQL = _VT5_DML_SQL_CORE + " ORDER BY o_orderkey"


def versioned_stats_pruned_scan(spark, sf_dir):
    """Data skipping from the manifest's per-file min/max: a key-range
    vt_scan on the OPTIMIZE-clustered table opens only the files whose
    stats admit a match (file-listing-level pruning, before parquet
    footer skipping even runs; open-file count < total pinned in
    tests/test_round5.py) and then applies the exact filter — so the
    result must equal read+filter, which is what the oracle computes
    over raw orders with the same DML replay and range predicate."""
    from kinesis_app_spark.operators import versioned as VT

    table_dir = _vt_dml_table(spark, sf_dir)
    return VT.vt_scan(
        spark, table_dir,
        [("o_orderkey", ">=", 700), ("o_orderkey", "<=", 1100)],
    ).orderBy("o_orderkey")


VERSIONED_PRUNED_SCAN_SQL = f"""
WITH replay AS ({_VT5_DML_SQL_CORE})
SELECT * FROM replay
WHERE o_orderkey >= 700 AND o_orderkey <= 1100
ORDER BY o_orderkey
"""

REGISTRY_ROUND5["versioned_dml_delete_update"] = QuerySpec(
    versioned_dml_delete_update, VERSIONED_DML_SQL
)
REGISTRY_ROUND5["versioned_stats_pruned_scan"] = QuerySpec(
    versioned_stats_pruned_scan, VERSIONED_PRUNED_SCAN_SQL
)


def knn_pq_maintained(spark, sf_dir):
    """The FULL PQ index lifecycle under one value gate: built over the
    even half, pq_append'ed with the odd half against FROZEN codebooks
    (the nightly-delta path), vec_id % 9 erasure propagated via
    pq_remove, and the appended small files collapsed by pq_optimize —
    then queried with exact rerank. Because the stored vectors make the
    rerank exact, a wide-enough rerank equals brute force over the
    SURVIVING corpus no matter how the frozen codebooks quantize the
    appended half — so the whole maintained lifecycle rides the same
    filtered brute-force oracle as knn_ivf_erased (rerank width 16x
    verified exact at sf0.001/0.01/0.1)."""
    from kinesis_app_spark.operators import vectorindex as VI

    emb = _t(spark, sf_dir, "embeddings")

    def build(d):
        evens = emb.filter(F.col("vec_id") % 2 == 0)
        odds = emb.filter(F.col("vec_id") % 2 == 1)
        VI.pq_build(evens, d, m=32, n_codes=16)
        if odds.limit(1).count() and evens.limit(1).count():
            VI.pq_append(odds, d)
        VI.pq_remove(spark, d, emb.filter(_ERASE_VEC_PRED).select("vec_id"))
        VI.pq_optimize(spark, d)

    idx = cached_build("pq_mnt", sf_dir, ["embeddings"], build)
    queries = emb.filter(F.col("vec_id") < 10)
    return VI.pq_query(
        spark, idx, queries, k=5, rerank_factor=16
    ).withColumn("rank", F.col("rank").cast("int"))


def versioned_zorder_scan(spark, sf_dir):
    """OPTIMIZE ZORDER (Delta's multi-dimension clustering): the orders
    snapshot rewritten in Morton-interleave order of (o_custkey,
    o_totalprice) rank spaces — pure column arithmetic, no UDF
    (operators/versioned.py:_zorder_key) — so every file carries a
    tight min/max on BOTH columns and vt_scan prunes on either (a
    second-column-only filter opens a strict file subset after zorder
    but not after range clustering — pinned in tests/test_round5.py).
    The entry value-gates the row contract: a two-dimensional range
    vt_scan over the z-ordered table must equal the raw-orders SQL
    replay exactly — clustering is layout, never semantics."""
    from kinesis_app_spark.operators import versioned as VT

    def build(table_dir):
        o = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
        )
        VT.vt_create(o, table_dir)
        VT.vt_optimize(
            spark, table_dir,
            cluster_cols=["o_custkey", "o_totalprice"],
            max_records_per_file=256, zorder=True,
        )

    table_dir = cached_build("orders_z", sf_dir, ["orders"], build)
    return VT.vt_scan(
        spark, table_dir,
        [
            ("o_custkey", ">=", 30), ("o_custkey", "<=", 60),
            ("o_totalprice", ">=", 50000.0),
            ("o_totalprice", "<=", 150000.0),
        ],
    ).orderBy("o_orderkey")


VERSIONED_ZORDER_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
FROM orders
WHERE o_custkey >= 30 AND o_custkey <= 60
  AND o_totalprice >= 50000.0 AND o_totalprice <= 150000.0
ORDER BY o_orderkey
"""

REGISTRY_ROUND5["versioned_zorder_scan"] = QuerySpec(
    versioned_zorder_scan, VERSIONED_ZORDER_SQL
)


def versioned_dml_cdf(spark, sf_dir):
    """Change data feed ACROSS the predicate-DML versions (v1 clustered
    snapshot -> v2 DELETE -> v3 UPDATE): the diff labels exactly the
    deleted key range and the updated rows' pre/post images — and under
    manifest v2 the CDF reads only each side's EXCLUSIVE files (the
    carried-forward files are path-identical in both manifests and
    contribute nothing), so diffing a 10,000-file table after a pruned
    DML touches a handful of files per side. Oracle: the two DML
    statements' effects replayed arithmetically over raw orders."""
    from kinesis_app_spark.operators import versioned as VT

    table_dir = _vt_dml_table(spark, sf_dir)
    return VT.vt_changes(
        spark, table_dir, v_from=1, v_to=3, keys=["o_orderkey"]
    ).orderBy("_change_type", "o_orderkey")


VERSIONED_DML_CDF_SQL = f"""
SELECT 'delete' AS _change_type, o_orderkey, o_custkey, o_orderstatus,
       o_totalprice, o_orderdate, o_orderpriority
FROM orders WHERE o_orderkey <= {_DML_DELETE_BELOW}
UNION ALL
SELECT 'update_preimage', o_orderkey, o_custkey, o_orderstatus,
       o_totalprice, o_orderdate, o_orderpriority
FROM orders WHERE o_orderkey > {_DML_UPDATE_ABOVE}
UNION ALL
SELECT 'update_postimage', o_orderkey, o_custkey, o_orderstatus,
       o_totalprice + 100.0, o_orderdate, o_orderpriority
FROM orders WHERE o_orderkey > {_DML_UPDATE_ABOVE}
ORDER BY _change_type, o_orderkey
"""

REGISTRY_ROUND5["versioned_dml_cdf"] = QuerySpec(
    versioned_dml_cdf, VERSIONED_DML_CDF_SQL
)


def versioned_clone_restore_read(spark, sf_dir):
    """SHALLOW CLONE + RESTORE under the value gate: the 4-version
    orders table is cloned (manifests copied, data files SHARED with
    the source — zero copy), and the CLONE is restored to version 1
    (a new commit re-referencing v1's immutable files; the source is
    never touched — restores on a clone stay external, so no vacuum
    can ever reach source data). Reading the restored clone must equal
    the v1 replay (the update merge applied to orders) — the same
    oracle as versioned_time_travel_v1, arrived at through clone +
    restore instead of VERSION AS OF, which is exactly the
    zero-copy-fork contract."""
    from kinesis_app_spark.operators import versioned as VT
    from kinesis_app_spark.registry_round4 import _vt_orders_table

    src_table = _vt_orders_table(spark, sf_dir)

    def build(clone_dir):
        VT.vt_clone(src_table, clone_dir)
        VT.vt_restore(spark, clone_dir, 1)

    clone_dir = cached_build("orders_clone", sf_dir, ["orders"], build)
    return VT.vt_read(spark, clone_dir).orderBy("o_orderkey")


def _bind_vt_v1_oracle() -> None:
    """Late-bind the v1-replay oracle shared with versioned_time_travel_v1
    (registry_round4 is imported at module top, but VERSIONED_V1_SQL is
    defined there after our import in registry.py's import order — bind
    with the other late oracles for symmetry)."""
    from kinesis_app_spark.registry_round4 import VERSIONED_V1_SQL

    REGISTRY_ROUND5["versioned_clone_restore_read"] = QuerySpec(
        versioned_clone_restore_read, VERSIONED_V1_SQL
    )
