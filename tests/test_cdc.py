"""CDC merge semantics + empty-input hardening for the operator family."""

from __future__ import annotations

from pyspark.sql import functions as F

from kinesis_app_spark.operators.cdc import apply_changes


def test_apply_changes_hand_case(spark):
    snap = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    changes = spark.createDataFrame(
        [
            (2, "b2", "U", 1),   # update
            (3, None, "D", 1),   # delete
            (4, "d", "U", 1),    # insert
            (5, "e1", "U", 1),   # same-key conflict: U then D ...
            (5, None, "D", 2),   # ... delete has higher seq -> wins
        ],
        "k long, v string, op string, seq int",
    )
    got = {
        r["k"]: r["v"]
        for r in apply_changes(snap, changes, keys=["k"], seq_col="seq").collect()
    }
    assert got == {1: "a", 2: "b2", 4: "d"}


def test_apply_changes_same_seq_delete_wins(spark):
    snap = spark.createDataFrame([(1, "a")], "k long, v string")
    changes = spark.createDataFrame(
        [(1, "a2", "U", 1), (1, None, "D", 1)],
        "k long, v string, op string, seq int",
    )
    assert apply_changes(snap, changes, keys=["k"], seq_col="seq").count() == 0


def test_operators_tolerate_empty_inputs(spark):
    """A 100 TB pipeline hits empty partitions/filters constantly: core
    operators must return empty results, never crash, on empty inputs."""
    from kinesis_app_spark.operators.asof import asof_join
    from kinesis_app_spark.operators.curation import (
        contamination_pairs,
        pii_scan,
        unigram_logprob_scores,
        winsorize,
    )
    from kinesis_app_spark.operators.dedup import (
        exact_dedup,
        incremental_dedup,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash_pairs,
    )

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    one_doc = spark.createDataFrame(
        [(1, "some text for the corpus here")], "doc_id long, text string"
    )
    assert pii_scan(empty_docs).count() == 0
    assert unigram_logprob_scores(empty_docs).count() == 0
    assert ngram_jaccard_pairs(empty_docs).count() == 0
    assert minhash_lsh_pairs(empty_docs).count() == 0
    assert simhash_pairs(empty_docs).count() == 0
    assert exact_dedup(empty_docs).count() == 0
    assert contamination_pairs(empty_docs, one_doc).count() == 0
    assert contamination_pairs(one_doc, empty_docs).count() == 0
    # incremental dedup: empty batch -> nothing admitted; empty corpus ->
    # everything admitted
    assert incremental_dedup(empty_docs, one_doc).count() == 0
    assert incremental_dedup(one_doc, empty_docs).count() == 1

    empty_ev = spark.createDataFrame([], "g string, value double")
    assert winsorize(empty_ev, "value", ["g"]).count() == 0

    empty_l = spark.createDataFrame([], "k long, lts timestamp, lid long")
    empty_r = spark.createDataFrame([], "k long, rts timestamp, rv double")
    assert asof_join(empty_l, empty_r, on="k", left_ts="lts", right_ts="rts").count() == 0

    snap = spark.createDataFrame([(1, "a")], "k long, v string")
    empty_changes = spark.createDataFrame([], "k long, v string, op string, seq int")
    merged = apply_changes(snap, empty_changes, keys=["k"], seq_col="seq")
    assert {r["k"]: r["v"] for r in merged.collect()} == {1: "a"}


def test_apply_changes_plan_has_no_nested_loop(spark):
    """The merge is a keyed anti-join plus a union: hash/sort-merge only,
    never a nested-loop (which would be quadratic in snapshot x changes)."""
    snap = spark.range(0, 10_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    changes = spark.range(0, 100).select(
        F.col("id").alias("k"),
        (F.col("id") * 3).alias("v"),
        F.lit("U").alias("op"),
        F.lit(1).alias("seq"),
    )
    plan = (
        apply_changes(snap, changes, keys=["k"], seq_col="seq")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_incremental_dedup_plan_is_bucketed_not_cartesian(spark):
    from kinesis_app_spark.operators.dedup import incremental_dedup
    from kinesis_app_spark.sources.batch import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    new = docs.filter(F.col("doc_id") % 10 == 0)
    old = docs.filter(F.col("doc_id") % 10 != 0)
    plan = (
        incremental_dedup(new, old)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    # the rejected-id set comes back as a broadcast anti-join
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_null_text_rows_scan_as_empty(spark):
    """Null text must not crash the text family, and the PII gate must emit
    a definite verdict (never has_pii=NULL, which NOT-filters drop)."""
    from kinesis_app_spark.operators.curation import pii_scan
    from kinesis_app_spark.operators.dedup import exact_dedup, ngram_jaccard_pairs

    df = spark.createDataFrame(
        [(1, None), (2, "real text here okay then")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in pii_scan(df).collect()}
    assert rows[1]["pii_total"] == 0 and rows[1]["has_pii"] is False
    assert rows[2]["has_pii"] is False
    assert ngram_jaccard_pairs(df).count() == 0
    assert exact_dedup(df).count() == 2


def test_temporal_join_plan_has_no_range_join(spark):
    """The SCD2 point-in-time join must plan as the as-of union+window —
    never a theta/interval join (no nested loop, no cartesian)."""
    import contextlib
    import io

    from kinesis_app_spark.registry_cdc import temporal_join_user_value

    df = temporal_join_user_value(spark, "/root/testdata/sf0.001")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "SortMergeJoin" not in plan, plan  # it's a union, not a join


def test_temporal_join_click_before_first_version_is_null(spark):
    """Clicks that precede the user's first purchase carry a null
    version — left-join semantics, no phantom backward match."""
    from pyspark.sql import functions as F

    from kinesis_app_spark.registry_cdc import temporal_join_user_value
    from kinesis_app_spark.sources.batch import load_table

    out = temporal_join_user_value(spark, "/root/testdata/sf0.001")
    e = load_table(spark, "/root/testdata/sf0.001", "events").filter(
        F.col("user_id") < 200
    )
    first_purchase = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_ts"))
    )
    checked = out.join(first_purchase, "user_id", "left").collect()
    assert len(checked) > 0
    matched = unmatched = 0
    for r in checked:
        if r.first_ts is None or r.ts < r.first_ts:
            assert r.ver_event_id is None
            unmatched += 1
        else:
            assert r.ver_event_id is not None
            matched += 1
    assert matched > 0 and unmatched > 0
