"""Round-4 ADVICE regression tests: streaming TWAP single-event keys,
Markov eval with an unseen antecedent, sign-aware milli rounding in the
streaming TWAP state fold, and quantized sequence-entropy terms."""

from __future__ import annotations

import datetime as dt
import math

import pytest
from pyspark.sql import functions as F

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


@pytest.fixture
def events_dir(spark, tmp_path_factory):
    def make(rows) -> str:
        d = str(tmp_path_factory.mktemp("r4_fixture_"))
        spark.createDataFrame(rows, EVENTS_SCHEMA).write.mode(
            "overwrite"
        ).parquet(f"{d}/events.parquet")
        return d

    return make


def test_streaming_twap_drops_single_event_user(spark, events_dir):
    """A user with exactly ONE event has no closed holding segment: the
    batch twin and TWAP_SQL drop it (dur_us IS NOT NULL), so the
    streaming entry must not emit its (n_segments=0, twap NULL) state
    row — the round-3 divergence ADVICE reproduced live."""
    from kinesis_app_spark.registry_round3b import (
        streaming_twap_users,
        time_weighted_avg_users,
    )

    t0 = dt.datetime(2024, 1, 1)
    d = events_dir(
        [
            (1, t0, 1, "view", 10.0, "{}"),
            (2, t0 + dt.timedelta(hours=3), 1, "view", 40.0, "{}"),
            (3, t0 + dt.timedelta(hours=4), 1, "view", 99.0, "{}"),
            (4, t0 + dt.timedelta(hours=1), 2, "view", 7.0, "{}"),  # lone
        ],
    )
    batch = {r["user_id"]: r for r in time_weighted_avg_users(spark, d).collect()}
    stream = {r["user_id"]: r for r in streaming_twap_users(spark, d).collect()}
    assert set(batch) == {1}
    assert set(stream) == {1}  # user 2 must NOT appear
    b, s = batch[1], stream[1]
    assert (b["n_segments"], b["total_us"], b["twap"]) == (
        s["n_segments"],
        s["total_us"],
        s["twap"],
    )
    # (10*3h + 40*1h) / 4h = 17.5
    assert s["twap"] == 17.5


def test_markov_eval_unseen_antecedent_scores_zero(spark, events_dir):
    """A prev_type that only appears AFTER the temporal split has no
    trained prediction: predicted is NULL and every comparison is NULL
    — n_correct must be 0 (the oracle's CASE ... ELSE 0), not NULL
    (what a bare sum over all-NULL yields)."""
    from kinesis_app_spark.registry_round3b import (
        _MARKOV_SPLIT,
        markov_next_event_eval,
    )

    split = dt.datetime.fromisoformat(_MARKOV_SPLIT)
    before = split - dt.timedelta(days=2)
    after = split + dt.timedelta(days=2)
    rows = [
        # train: view -> click (twice) so the model has one row
        (1, before, 1, "view", 1.0, "{}"),
        (2, before + dt.timedelta(minutes=1), 1, "click", 1.0, "{}"),
        (3, before + dt.timedelta(minutes=2), 1, "view", 1.0, "{}"),
        (4, before + dt.timedelta(minutes=3), 1, "click", 1.0, "{}"),
        # test: antecedent 'purchase' NEVER seen in training
        (5, after, 2, "purchase", 1.0, "{}"),
        (6, after + dt.timedelta(minutes=1), 2, "view", 1.0, "{}"),
    ]
    d = events_dir(rows)
    got = {r["prev_type"]: r for r in markov_next_event_eval(spark, d).collect()}
    r = got["purchase"]
    assert r["predicted"] is None
    assert r["n_test"] == 1
    assert r["n_correct"] == 0  # NOT None
    assert r["accuracy"] == 0.0


def test_running_twap_negative_half_boundary_rounding(spark, tmp_path):
    """A negative value landing exactly on a .0005 milli boundary must
    scale half AWAY FROM ZERO (-0.0015 -> -2 milli), matching the batch
    twin's F.round(value*1000) and DuckDB round(); floor(v*1000+0.5)
    would give -1."""
    from kinesis_app_spark.streaming.ops import run_to_memory, running_twap
    from kinesis_app_spark.streaming.sources import file_stream

    t0 = dt.datetime(2024, 1, 1)
    schema = "user_id long, ts timestamp, event_id long, value double"
    df = spark.createDataFrame(
        [
            (1, t0, 1, -0.0015),  # held 1h at -2 milli (not -1)
            (1, t0 + dt.timedelta(hours=1), 2, 5.0),
        ],
        schema,
    )
    src = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    df.coalesce(1).write.parquet(src)
    out = running_twap(
        file_stream(spark, src, df.schema), "user_id", "ts", "event_id", "value"
    )
    res = run_to_memory(out, ckpt, output_mode="update", shuffle_partitions=4)
    r = res.filter(res.user_id == 1).collect()[0]
    # wv = -2 milli * 1h; twap = -2/1000 = -0.002
    assert r["n_segments"] == 1
    assert r["twap"] == -0.002


def test_sequence_entropy_quantized_terms_match_closed_form(spark, events_dir):
    """Entropy built from 1e-6-quantized c*ln(c) integer terms: user
    with bigrams a>b x3, b>a x2 -> H = ln(5) - (q(3ln3)+q(2ln2))/1e6/5,
    computed identically in the operator and by hand."""
    from kinesis_app_spark.registry_round3b import sequence_entropy_users

    t0 = dt.datetime(2024, 1, 1)
    types = ["a", "b", "a", "b", "a", "b"]  # bigrams: a>b x3, b>a x2
    rows = [
        (i + 1, t0 + dt.timedelta(minutes=i), 1, t, 1.0, "{}")
        for i, t in enumerate(types)
    ]
    d = events_dir(rows)
    r = sequence_entropy_users(spark, d).collect()[0]
    q = lambda x: math.floor(x * 1e6 + 0.5)  # noqa: E731
    clogc_u6 = q(3 * math.log(3)) + q(2 * math.log(2))
    h = math.log(5) - clogc_u6 / 1e6 / 5
    assert r["n_bigrams"] == 5 and r["n_distinct"] == 2
    assert r["entropy"] == math.floor(h * 1e4 + 0.5) / 1e4
