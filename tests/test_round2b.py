"""Plan-shape and robustness tests for the round-2 continuation waves.

The correctness gate (tests/test_correctness.py) already value-checks every
registry entry; these assert the PLAN properties the rewrites were made
for — a regression that silently reintroduces the slow shape would still
pass the value gate.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kinesis_app_spark import registry

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_corr_matrix_is_single_pass_no_explode(spark):
    """The Pearson matrix must compute all moments in ONE aggregate over
    the scan — no per-pair row explosion of the fact table (the 1-row
    unpivot's explode is fine: it sits above the aggregate)."""
    plan = _plan(registry.REGISTRY["corr_matrix_lineitem"].fn(spark, SF_DIR))
    # the explode must not be below a shuffle of fact rows: assert only
    # one exchange pair (partial->final agg) reads the scan side
    assert plan.count("Scan parquet") == 1, plan
    generate_idx = plan.find("Generate")
    agg_idx = plan.find("HashAggregate")
    assert generate_idx != -1 and agg_idx != -1
    # physical plans print top-down: the explode (Generate) must appear
    # ABOVE the first HashAggregate, i.e. applied to the aggregate result
    assert generate_idx < agg_idx, plan


def test_basket_pairs_plan_has_no_join(spark):
    """Pair expansion is in-row: the plan must contain no join operator at
    all (the old shape self-joined on the basket key)."""
    from kinesis_app_spark.operators.baskets import basket_pairs

    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (1, "c"), (2, "a")], ["basket", "item"]
    )
    plan = _plan(basket_pairs(df, "basket", "item", max_basket_size=10))
    assert "Join" not in plan, plan


def test_embedding_covariance_no_pair_shuffle(spark, monkeypatch):
    """The Gram kernel must emit O(d^2) rows per batch, not O(rows·d^2):
    the only exchange below the final aggregate carries the mapInPandas
    output, and the fact scan appears exactly once (plus the count job).

    Round 9 (advice r8): the round-8 pin hid the kernel subtree behind
    an ExistingRDD scan, making both assertions vacuous. The pin
    strategy is now a knob (kinesis_app_spark/pinning.py) — building
    the query under SPARK_GRAFT_PIN=none exposes the FULL lineage, so
    the MapInPandas-present / explode-absent assertions bite again."""
    monkeypatch.setenv("SPARK_GRAFT_PIN", "none")
    df = registry.REGISTRY["embedding_covariance"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "MapInPandas" in plan, plan
    assert "ExistingRDD" not in plan, plan  # truly unpinned lineage
    # no row explosion anywhere: the relational pair-expansion shape is gone
    assert "Generate explode" not in plan, plan


def test_kmeans_assign_raises_without_centroids(spark, tmp_path_factory):
    from kinesis_app_spark.registry_mlprep import kmeans_assign_embeddings

    empty = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .filter(F.col("vec_id") < 0)
    )
    d = str(tmp_path_factory.mktemp("kmeans_empty_"))
    empty.write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    with pytest.raises(ValueError, match="no seed centroids"):
        kmeans_assign_embeddings(spark, d)


def test_join_hints_honored_and_equivalent(spark):
    """Engine surface: SHUFFLE_HASH / MERGE / BROADCAST join hints must be
    honored by the planner AND produce identical results — the knobs an
    operator author reaches for when AQE's default pick is wrong for a
    known data shape."""
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    c = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    cond = o["o_custkey"] == c["c_custkey"]

    def result(df):
        return sorted(
            (r["o_orderkey"], r["c_custkey"])
            for r in df.select("o_orderkey", "c_custkey").collect()
        )

    base = result(o.join(c, cond))
    cases = {
        "SHUFFLE_HASH": "ShuffledHashJoin",
        "MERGE": "SortMergeJoin",
        "BROADCAST": "BroadcastHashJoin",
    }
    for hint, node in cases.items():
        hinted = o.join(c.hint(hint), cond)
        plan = _plan(hinted)
        assert node in plan, f"{hint}: {plan}"
        assert result(hinted) == base, hint


def test_skyline_has_no_moving_start_frame(spark):
    """Spark re-aggregates moving-start (…, UNBOUNDED FOLLOWING) window
    frames per row — O(n²), a measured hang at 150k rows. The skyline
    plan must contain no such frame (the rewrite uses an incremental
    preceding-rows frame over price groups instead)."""
    plan = _plan(registry.REGISTRY["skyline_orders"].fn(spark, SF_DIR))
    assert "unboundedfollowing$()" not in plan.lower().replace(" ", ""), plan


def test_gopher_repetition_short_doc_safe(spark, tmp_path_factory):
    """One- and two-token documents must produce zero-gram rows, not a
    slice/sequence crash (the ADVICE.md word_shingles class of bug)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path_factory.mktemp("short_docs_"))
    tbl = pa.table(
        {
            "doc_id": pa.array([0, 1, 2], type=pa.int64()),
            "text": ["one", "two words", "three word doc"],
            "lang": ["en"] * 3,
            "source": ["s"] * 3,
            "n_chars": pa.array([3, 9, 14], type=pa.int64()),
        }
    )
    pq.write_table(tbl, f"{d}/documents.parquet")
    from kinesis_app_spark.registry_curation2 import gopher_repetition_docs

    rows = {r["doc_id"]: r for r in gopher_repetition_docs(spark, d).collect()}
    assert rows[0]["top2_freq"] == 0 and rows[0]["top3_freq"] == 0
    assert rows[1]["top2_freq"] == 1 and rows[1]["top3_freq"] == 0
    assert rows[2]["top3_freq"] == 1
