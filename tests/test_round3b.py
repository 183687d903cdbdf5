"""Round-3 batch 2: weighted quantiles, linear-interpolation gap fill,
Mann-Whitney U, Theil-Sen trends — semantic tests on hand-computable
fixtures (the cross-engine value gate covers the real tables)."""

from __future__ import annotations

import datetime as dt

import pytest

from kinesis_app_spark.registry_round3b import (
    mann_whitney_events,
    theil_sen_trends,
    timeseries_interpolate_linear,
    weighted_quantiles_brands,
)

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


@pytest.fixture
def events_dir(spark, tmp_path_factory):
    def make(rows) -> str:
        d = str(tmp_path_factory.mktemp("r3b_fixture_"))
        spark.createDataFrame(rows, EVENTS_SCHEMA).write.mode(
            "overwrite"
        ).parquet(f"{d}/events.parquet")
        return d

    return make


@pytest.fixture
def trade_dir(spark, tmp_path_factory):
    def make(lineitem_rows, part_rows) -> str:
        d = str(tmp_path_factory.mktemp("r3b_trade_"))
        spark.createDataFrame(
            lineitem_rows,
            "l_orderkey long, l_partkey long, l_suppkey long, "
            "l_linenumber int, l_quantity double, l_extendedprice double, "
            "l_discount double, l_tax double, l_returnflag string, "
            "l_linestatus string, l_shipdate timestamp",
        ).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
        spark.createDataFrame(
            part_rows,
            "p_partkey long, p_name string, p_brand string, p_type string, "
            "p_size int, p_retailprice double",
        ).write.mode("overwrite").parquet(f"{d}/part.parquet")
        return d

    return make


# ---------------------------------------------------------------------
# weighted quantiles
# ---------------------------------------------------------------------

def test_weighted_quantiles_left_continuous_inverse_cdf(spark, trade_dir):
    """W = 1+1+2 = 4: wp25 is the first price with cw >= 1 (10), wp50
    needs cw >= 2 (20), wp75 needs cw >= 3 (30 — the weight-2 price
    carries both remaining quarters)."""
    t = dt.datetime(2024, 1, 1)
    li = [
        (1, 1, 1, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", t),
        (2, 1, 1, 1, 1.0, 20.0, 0.0, 0.0, "N", "O", t),
        (3, 1, 1, 1, 2.0, 30.0, 0.0, 0.0, "N", "O", t),
    ]
    pt = [(1, "p", "B1", "t", 1, 1.0)]
    got = weighted_quantiles_brands(spark, trade_dir(li, pt)).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["p_brand"], r["w_total"]) == ("B1", 4)
    assert (r["wp25"], r["wp50"], r["wp75"]) == (10.0, 20.0, 30.0)


def test_weighted_quantiles_duplicate_prices_merge(spark, trade_dir):
    """Equal prices merge their weights BEFORE the cumulative walk, so
    the quantile never splits a price level (and ties can't make the
    pick order-dependent): three rows at price 10 (total w 3 of 4)
    cover wp25/50/75 entirely."""
    t = dt.datetime(2024, 1, 1)
    li = [
        (1, 1, 1, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", t),
        (2, 1, 1, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", t),
        (3, 1, 1, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", t),
        (4, 1, 1, 1, 1.0, 99.0, 0.0, 0.0, "N", "O", t),
    ]
    pt = [(1, "p", "B1", "t", 1, 1.0)]
    r = weighted_quantiles_brands(spark, trade_dir(li, pt)).collect()[0]
    assert (r["wp25"], r["wp50"], r["wp75"]) == (10.0, 10.0, 10.0)


# ---------------------------------------------------------------------
# linear interpolation
# ---------------------------------------------------------------------

def test_interpolate_linear_fills_interior_gap(spark, events_dir):
    """Observed day1=10, day4=40 -> day2=20, day3=30, flagged
    interpolated; observed days keep their mean and flag 0."""
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0 + dt.timedelta(hours=1), 1, "view", 5.0, "{}"),
        (2, t0 + dt.timedelta(hours=2), 1, "view", 15.0, "{}"),
        (3, t0 + dt.timedelta(days=3, hours=4), 1, "view", 40.0, "{}"),
    ]
    got = {
        r["day"].day: r
        for r in timeseries_interpolate_linear(
            spark, events_dir(rows)
        ).collect()
    }
    assert len(got) == 4
    assert got[1]["value"] == 10.0 and got[1]["interpolated"] == 0
    assert got[1]["n_obs"] == 2
    assert got[2]["value"] == 20.0 and got[2]["interpolated"] == 1
    assert got[3]["value"] == 30.0 and got[3]["interpolated"] == 1
    assert got[4]["value"] == 40.0 and got[4]["interpolated"] == 0


def test_interpolate_linear_edges_extend_flat(spark, events_dir):
    """A gap with no earlier observation takes the next value; the
    spine is bounded by observed days so trailing gaps can't occur —
    single-day series degenerates to itself."""
    t0 = dt.datetime(2024, 1, 5)
    rows = [(1, t0, 1, "view", 7.0, "{}")]
    got = timeseries_interpolate_linear(
        spark, events_dir(rows)
    ).collect()
    assert len(got) == 1
    assert got[0]["value"] == 7.0 and got[0]["interpolated"] == 0


# ---------------------------------------------------------------------
# Mann-Whitney U
# ---------------------------------------------------------------------

def test_mann_whitney_matches_direct_rank_computation(spark, events_dir):
    """Fixture with ties across AND within groups; expected values from
    the textbook average-rank formula computed inline."""
    t0 = dt.datetime(2024, 1, 1)
    clicks = [1.0, 2.0, 3.0, 3.0, 10.0]
    purchases = [3.0, 4.0, 5.0, 6.0]
    rows = [
        (i, t0, 1, "click", v, "{}") for i, v in enumerate(clicks)
    ] + [
        (100 + i, t0, 2, "purchase", v, "{}")
        for i, v in enumerate(purchases)
    ] + [
        (200, t0, 3, "view", 999.0, "{}")  # other types excluded
    ]
    r = mann_whitney_events(spark, events_dir(rows)).collect()[0]

    # textbook: average ranks over the pooled sample
    pooled = sorted(clicks + purchases)
    import collections

    cnt = collections.Counter(pooled)
    c_less, avg_rank = 0, {}
    for v in sorted(cnt):
        avg_rank[v] = c_less + (cnt[v] + 1) / 2.0
        c_less += cnt[v]
    ra = sum(avg_rank[v] for v in clicks)
    n_a, n_b = len(clicks), len(purchases)
    u_a = ra - n_a * (n_a + 1) / 2.0
    tie = sum(c**3 - c for c in cnt.values())
    n = n_a + n_b
    sigma2 = (n_a * n_b / 12.0) * ((n + 1) - tie / (n * (n - 1.0)))
    z = (u_a - n_a * n_b / 2.0) / sigma2**0.5

    assert (r["n_click"], r["n_purchase"]) == (n_a, n_b)
    assert r["u_stat"] == u_a
    assert abs(r["z"] - z) < 1e-6
    assert abs(r["rank_biserial"] - (1 - 2 * u_a / (n_a * n_b))) < 1e-6


# ---------------------------------------------------------------------
# Theil-Sen
# ---------------------------------------------------------------------

def test_theil_sen_ignores_outlier_ols_cannot(spark, events_dir):
    """y = 3/day + 7 with one wild outlier: the median of pairwise
    slopes stays exactly 3.0/day (most pairs avoid the outlier)."""
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, t0 + dt.timedelta(days=i), 1, "view", 7.0 + 3.0 * i, "{}")
        for i in range(6)
    ]
    rows.append((6, t0 + dt.timedelta(days=6), 1, "view", 1000.0, "{}"))
    r = theil_sen_trends(spark, events_dir(rows)).collect()[0]
    assert r["n_events"] == 7
    assert r["slope_per_day"] == 3.0
    # intercept = median(v - 3*t_days) over the 7 points; 6 exact
    # points share the identical residual, so the median IS it
    t_days0 = (t0 - dt.datetime(1970, 1, 1)).total_seconds() / 86400.0
    assert abs(r["intercept"] - round(7.0 - 3.0 * t_days0, 4)) < 1e-6


def test_theil_sen_small_users_excluded_large_truncated(spark, events_dir):
    """Users below 3 events drop out; a user beyond the 40-event cap is
    truncated to the FIRST 40 in time order, not excluded."""
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 1, "view", 1.0, "{}"),
        (2, t0 + dt.timedelta(days=1), 1, "view", 2.0, "{}"),
    ]
    rows += [
        (100 + i, t0 + dt.timedelta(hours=i), 2, "view", float(i), "{}")
        for i in range(50)
    ]
    got = {
        r["user_id"]: r
        for r in theil_sen_trends(spark, events_dir(rows)).collect()
    }
    assert 1 not in got
    assert got[2]["n_events"] == 40
    assert got[2]["slope_per_day"] == 24.0  # 1.0/hour


# ---------------------------------------------------------------------
# STL decomposition / EWMA
# ---------------------------------------------------------------------

def test_stl_pure_weekly_pattern_interior_residual_zero(spark, events_dir):
    """28 days of a pure period-7 signal: for interior days the 7-day
    centered MA is the constant weekly mean, the seasonal term recovers
    the dow offset, and the residual vanishes."""
    from kinesis_app_spark.registry_round3b import stl_decompose_daily

    t0 = dt.datetime(2024, 1, 1)
    weekly = [10.0, 12.0, 8.0, 14.0, 6.0, 11.0, 9.0]
    rows = [
        (i, t0 + dt.timedelta(days=i), 1, "view", weekly[i % 7], "{}")
        for i in range(28)
    ]
    got = stl_decompose_daily(spark, events_dir(rows)).collect()
    assert len(got) == 28

    # independent reimplementation of the textbook definition
    xs = [weekly[i % 7] for i in range(28)]
    trend = []
    for i in range(28):
        lo, hi = max(0, i - 3), min(28, i + 4)
        trend.append(sum(xs[lo:hi]) / (hi - lo))
    detr = [x - t for x, t in zip(xs, trend)]
    dows = [
        (t0 + dt.timedelta(days=i)).isoweekday() % 7 + 1 for i in range(28)
    ]
    groups: dict[int, list[float]] = {}
    for d_, dw in zip(detr, dows):
        groups.setdefault(dw, []).append(d_)
    s_raw = {k: sum(v) / len(v) for k, v in groups.items()}
    s_mean = sum(s_raw.values()) / len(s_raw)
    for i, r in enumerate(got):
        assert abs(r["trend"] - trend[i]) < 1e-3
        assert abs(r["seasonal"] - (s_raw[dows[i]] - s_mean)) < 1e-3
        assert (
            abs(r["residual"] - (detr[i] - (s_raw[dows[i]] - s_mean))) < 1e-3
        )
    mean = sum(weekly) / 7
    for r in got[3:-3]:  # interior: full MA window -> flat trend
        assert abs(r["trend"] - mean) < 1e-3


def test_ewma_matches_recursive_reference(spark, events_dir):
    from kinesis_app_spark.registry_round3b import ewma_daily_trend

    t0 = dt.datetime(2024, 1, 1)
    xs = [10.0, 14.0, 6.0, 9.0, 20.0, 3.0, 11.0, 12.0]
    rows = [
        (i, t0 + dt.timedelta(days=i), 1, "view", xs[i], "{}")
        for i in range(len(xs))
    ]
    got = ewma_daily_trend(spark, events_dir(rows)).collect()
    s = xs[0]
    want = [s]
    for x in xs[1:]:
        s = 0.3 * x + 0.7 * s
        want.append(s)
    for r, w, x in zip(got, want, xs):
        assert abs(r["ewma"] - w) < 1e-3, (r, w)
    assert got[0]["forecast_abs_err"] is None
    assert abs(got[1]["forecast_abs_err"] - abs(xs[1] - want[0])) < 1e-3


# ---------------------------------------------------------------------
# token drift
# ---------------------------------------------------------------------

def test_token_drift_smoothed_probabilities(spark, tmp_path_factory):
    """Hand-checkable two-doc corpus: vocab {aa,bb,cc} (V=3), 4 tokens
    per cohort, Laplace +1 -> p = (n+1)/7; bb and cc are exact mirror
    images across the cohorts."""
    from kinesis_app_spark.registry_round3b import token_drift_sources

    d = str(tmp_path_factory.mktemp("r3b_docs_"))
    spark.createDataFrame(
        [
            (1, "aa aa bb bb", "en", "src1", 11),
            (2, "aa aa cc cc", "en", "src11", 11),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    got = {r["token"]: r for r in token_drift_sources(spark, d).collect()}
    assert set(got) == {"aa", "bb", "cc"}
    assert (got["aa"]["ref_n"], got["aa"]["cur_n"]) == (2, 2)
    assert got["aa"]["ref_p"] == got["aa"]["cur_p"] == round(3 / 7, 6)
    assert got["aa"]["js_contrib"] == 0.0  # no drift on aa
    assert got["bb"]["ref_p"] == got["cc"]["cur_p"] == round(3 / 7, 6)
    assert got["bb"]["cur_p"] == got["cc"]["ref_p"] == round(1 / 7, 6)
    # bb and cc are mirror images -> identical JS contribution
    assert got["bb"]["js_contrib"] == got["cc"]["js_contrib"] > 0


# ---------------------------------------------------------------------
# binary segmentation / ABC classification
# ---------------------------------------------------------------------

def test_binseg_finds_level_shift(spark, events_dir):
    """Mean 10 for days 0-9, mean 30 for days 10-19: the best split is
    the last day of the low segment (t = 10 -> day 10 in 1-based spine,
    i.e. 2024-01-10), with segment means 10 and 30."""
    from kinesis_app_spark.registry_round3b import binary_segmentation_split

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(20):
        v = 10.0 if i < 10 else 30.0
        rows.append((i, t0 + dt.timedelta(days=i), 1, "view", v, "{}"))
    r = binary_segmentation_split(spark, events_dir(rows)).collect()[0]
    assert r["split_day"] == dt.datetime(2024, 1, 10)
    assert r["left_mean"] == 10.0
    assert r["right_mean"] == 30.0
    # BSS at the true split: n1*n2/n*(m1-m2)^2 = 10*10/20*400 = 2000
    assert abs(r["bss"] - 2000.0) < 1e-3


def test_abc_classes_on_pareto_fixture(spark, trade_dir):
    """One whale part (80 units of revenue), one mid (15), eight tiny
    (about 5 total): whale -> A, mid -> B, tail -> C; cum_share ends at
    1.0 and rids are dense from 1."""
    from kinesis_app_spark.registry_round3b import abc_classification_parts

    t = dt.datetime(2024, 1, 1)
    li = []
    # l_extendedprice carries the revenue; discount 0
    amounts = {1: 8000.0, 2: 1500.0}
    for pk in range(3, 11):
        amounts[pk] = 62.5  # 8 x 62.5 = 500
    ok = 0
    for pk, amt in amounts.items():
        ok += 1
        li.append((ok, pk, 1, 1, 1.0, amt, 0.0, 0.0, "N", "O", t))
    pt = [(pk, "p", "B", "t", 1, 1.0) for pk in amounts]
    d = trade_dir(li, pt)
    rows = abc_classification_parts(spark, d).collect()
    assert [r["rid"] for r in rows] == list(range(1, 11))
    by_pk = {r["l_partkey"]: r for r in rows}
    assert by_pk[1]["abc_class"] == "A"
    assert by_pk[2]["abc_class"] == "B"
    assert all(by_pk[pk]["abc_class"] == "C" for pk in range(3, 11))
    assert rows[-1]["cum_share"] == 1.0
    shares = [r["cum_share"] for r in rows]
    assert shares == sorted(shares)


# ---------------------------------------------------------------------
# Zipf fit / vocabulary growth
# ---------------------------------------------------------------------

def test_zipf_exact_power_law_recovers_slope(spark, tmp_path_factory):
    """freq(rank) = 1024 * rank^-1 exactly (ranks 1..8, counts 1024/r
    rounded to powers of two so ln is exact-ish): slope -> -1, r2 -> 1."""
    from kinesis_app_spark.registry_round3b import zipf_fit_tokens

    d = str(tmp_path_factory.mktemp("r3b_zipf_"))
    # token t_r appears 2^(8-r) times => freq halves as rank doubles:
    # ln(freq) = ln(256) - ln(2)*r is linear in r, NOT in ln(r) —
    # instead build freq = 840/r exactly (840 divisible by 1..8)
    words = []
    for r in range(1, 9):
        words += [f"t{r:02d}"] * (840 // r)
    text = " ".join(words)
    spark.createDataFrame(
        [(1, text, "en", "src1", len(text))],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    r = zipf_fit_tokens(spark, d).collect()[0]
    assert r["n_tokens_fit"] == 8
    assert abs(r["zipf_slope"] - (-1.0)) < 1e-3
    assert r["r2"] > 0.9999


def test_vocab_growth_monotone_and_totals(spark):
    from kinesis_app_spark.registry_round3b import vocab_growth_checkpoints

    sf = "/root/testdata/sf0.001"
    rows = vocab_growth_checkpoints(spark, sf).collect()
    assert [r["bucket"] for r in rows] == sorted(r["bucket"] for r in rows)
    vocab = [r["vocab_cum"] for r in rows]
    toks = [r["tokens_cum"] for r in rows]
    assert all(a <= b for a, b in zip(vocab, vocab[1:]))
    assert all(a < b for a, b in zip(toks, toks[1:]))
    assert vocab[-1] <= toks[-1]
    # final checkpoint = whole-corpus truth
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    t = docs.select(
        F.explode(
            F.split(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " ")
        ).alias("tok")
    )
    assert toks[-1] == t.count()
    assert vocab[-1] == t.distinct().count()


# ---------------------------------------------------------------------
# sorted-neighborhood linkage
# ---------------------------------------------------------------------

def test_snm_contains_every_hash_block_true_pair(spark):
    """Same dirt, different blocking: every true (self) pair the
    hash-block linkage finds must also fall inside the SNM window —
    identical suffixes sort adjacent. Distance-2 dirt (custkey%10==7)
    must still be rejected by the verify stage."""
    from kinesis_app_spark.registry_analytics import (
        record_linkage_customers,
    )
    from kinesis_app_spark.registry_round3b import (
        sorted_neighborhood_linkage,
    )

    sf = "/root/testdata/sf0.001"
    hash_pairs = {
        (r["custkey_l"], r["custkey_r"])
        for r in record_linkage_customers(spark, sf).collect()
    }
    snm = sorted_neighborhood_linkage(spark, sf).collect()
    snm_pairs = {(r["custkey_l"], r["custkey_r"]) for r in snm}
    assert hash_pairs <= snm_pairs
    assert all(r["dist"] <= 1 for r in snm)
    # distance-2 dirt never links to its own clean record
    assert not any(
        l == r and l % 10 == 7 for (l, r) in snm_pairs
    )


# ---------------------------------------------------------------------
# PCA power iteration
# ---------------------------------------------------------------------

def test_pca_recovers_dominant_axis(spark, tmp_path_factory):
    """Variance concentrated on axis 3 (values ±10) with tiny
    deterministic noise elsewhere: the top component must align with
    e3 (|loading| ~ 1), eigenvalue ~ var(x3) = 100, unit norm."""
    from kinesis_app_spark.registry_analytics3 import pca_power_iteration

    d = str(tmp_path_factory.mktemp("r3b_pca_"))
    rows = []
    dim = 8
    for i in range(200):
        v = [((i * 7 + j) % 5) * 0.01 for j in range(dim)]
        v[3] = 10.0 if i % 2 == 0 else -10.0
        rows.append((i, v, i % 3))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    got = pca_power_iteration(spark, d).collect()
    assert len(got) == dim
    loadings = {r["dim"]: r["loading"] for r in got}
    assert abs(abs(loadings[3]) - 1.0) < 1e-3
    assert abs(got[0]["eigenvalue"] - 100.0) < 0.5
    assert abs(sum(v * v for v in loadings.values()) - 1.0) < 1e-3
    assert 0.99 < got[0]["evr"] <= 1.0

    # the projection must carry the component's variance: var(pc1) on
    # the same fixture equals the eigenvalue, and pc1 is mean-centered
    from kinesis_app_spark.registry_analytics3 import (
        pca_project_embeddings,
    )

    pc1 = [r["pc1"] for r in pca_project_embeddings(spark, d).collect()]
    mean = sum(pc1) / len(pc1)
    var = sum((x - mean) ** 2 for x in pc1) / len(pc1)
    assert abs(mean) < 1e-3
    assert abs(var - got[0]["eigenvalue"]) < 0.5


def test_pca_top2_deflation_finds_second_axis(spark, tmp_path_factory):
    """Variance on axis 3 (+-10) and an independent +-4 signal on axis
    5: deflation must yield component 1 ~ e3 (eig ~ 100) and component
    2 ~ e5 (eig ~ 16), mutually orthogonal."""
    from kinesis_app_spark.registry_analytics3 import pca_top2_deflation

    d = str(tmp_path_factory.mktemp("r3b_pca2_"))
    rows = []
    dim = 8
    for i in range(400):
        v = [0.0] * dim
        v[3] = 10.0 if i % 2 == 0 else -10.0
        v[5] = 4.0 if (i // 2) % 2 == 0 else -4.0  # independent of axis 3
        rows.append((i, v, 0))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    got = pca_top2_deflation(spark, d).collect()
    c1 = {r["dim"]: r for r in got if r["component"] == 1}
    c2 = {r["dim"]: r for r in got if r["component"] == 2}
    assert abs(abs(c1[3]["loading"]) - 1.0) < 1e-3
    assert abs(c1[3]["eigenvalue"] - 100.0) < 0.5
    assert abs(abs(c2[5]["loading"]) - 1.0) < 1e-3
    assert abs(c2[5]["eigenvalue"] - 16.0) < 0.2
    dot = sum(c1[i]["loading"] * c2[i]["loading"] for i in range(dim))
    assert abs(dot) < 1e-3


def test_streaming_twap_closes_segment_across_batches(spark, tmp_path_factory):
    """A holding segment that SPANS two micro-batches must be closed
    with the full duration: events (t=0h, v=10) in file 1 and (t=3h,
    v=40), (t=4h, v=99) in file 2 (mtime-staggered, one file per
    trigger) — final twap = (10*3 + 40*1)/4 = 17.5, same as batch."""
    import os
    import time

    from kinesis_app_spark.streaming.ops import run_to_memory, running_twap
    from kinesis_app_spark.streaming.sources import file_stream

    t0 = dt.datetime(2024, 1, 1)
    src = str(tmp_path_factory.mktemp("r3b_twapstream_"))
    ckpt = str(tmp_path_factory.mktemp("r3b_twapckpt_"))
    df1 = spark.createDataFrame(
        [(1, t0, 1, 10.0)], "user_id long, ts timestamp, event_id long, value double"
    )
    df2 = spark.createDataFrame(
        [
            (1, t0 + dt.timedelta(hours=3), 2, 40.0),
            (1, t0 + dt.timedelta(hours=4), 3, 99.0),
        ],
        "user_id long, ts timestamp, event_id long, value double",
    )
    df1.coalesce(1).write.mode("overwrite").parquet(src)
    # second file with a LATER mtime so maxFilesPerTrigger=1 consumes
    # it in a second micro-batch
    d2 = str(tmp_path_factory.mktemp("r3b_twapf2_"))
    df2.coalesce(1).write.mode("overwrite").parquet(d2)
    part2 = [f for f in os.listdir(d2) if f.endswith(".parquet")][0]
    dst = os.path.join(src, "part-batch2.parquet")
    os.rename(os.path.join(d2, part2), dst)
    newest = max(
        os.stat(os.path.join(src, f)).st_mtime
        for f in os.listdir(src)
        if f != "part-batch2.parquet"
    )
    os.utime(dst, (newest + 5, newest + 5))

    stream = file_stream(spark, src, df1.schema, max_files_per_trigger=1)
    out = running_twap(stream, "user_id", "ts", "event_id", "value")
    res = run_to_memory(out, ckpt, output_mode="update", shuffle_partitions=4)
    rows = res.filter(res.user_id == 1).collect()
    # two emits (one per batch); the final one carries the closed spans
    assert len(rows) == 2
    final = max(rows, key=lambda r: r["n_segments"])
    assert final["n_segments"] == 2
    assert final["total_us"] == 4 * 3600 * 1_000_000
    assert final["twap"] == 17.5
    # the batch-1 emit saw only the open segment: nothing accumulated
    first = min(rows, key=lambda r: r["n_segments"])
    assert first["n_segments"] == 0 and first["twap"] is None


def test_seasonal_naive_backtest_perfect_weekly_signal(spark, events_dir):
    """A pure period-7 signal forecasts itself perfectly: MAE = RMSE =
    MAPE = 0 over the 21 scored days."""
    from kinesis_app_spark.registry_round3b import seasonal_naive_backtest

    t0 = dt.datetime(2024, 1, 1)
    weekly = [10.0, 12.0, 8.0, 14.0, 6.0, 11.0, 9.0]
    rows = [
        (i, t0 + dt.timedelta(days=i), 1, "view", weekly[i % 7], "{}")
        for i in range(28)
    ]
    r = seasonal_naive_backtest(spark, events_dir(rows)).collect()[0]
    assert r["n_days"] == 21
    assert r["mae"] == 0.0 and r["rmse"] == 0.0 and r["mape_pct"] == 0.0


def test_dedup_histogram_counts_of_counts(spark, tmp_path_factory):
    """3 copies of A, 2 of B, 1 of C: sizes {3:1, 2:1, 1:1}, removable
    3 of 6 rows."""
    from kinesis_app_spark.registry_round3b import (
        dedup_cluster_size_histogram,
    )

    d = str(tmp_path_factory.mktemp("r3b_dhist_"))
    docs = (
        [(i, "text A", "en", "src1", 6) for i in range(3)]
        + [(10 + i, "text B", "en", "src1", 6) for i in range(2)]
        + [(20, "text C", "en", "src1", 6)]
    )
    spark.createDataFrame(
        docs,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    got = {r["cluster_size"]: r for r in dedup_cluster_size_histogram(spark, d).collect()}
    assert {k: v["n_clusters"] for k, v in got.items()} == {1: 1, 2: 1, 3: 1}
    assert got[3]["removable"] == 2 and got[2]["removable"] == 1
    assert sum(r["n_rows"] for r in got.values()) == 6
    assert abs(sum(r["removable_share"] for r in got.values()) - 0.5) < 1e-6


def test_sequence_entropy_scripted_vs_diverse(spark, events_dir):
    """User 1 repeats the same bigram (entropy 0); user 2 alternates
    between two bigrams uniformly (entropy ln 2, normalized 1)."""
    import math

    from kinesis_app_spark.registry_round3b import sequence_entropy_users

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, t0 + dt.timedelta(minutes=i), 1, "view", 1.0, "{}")
        for i in range(5)
    ]
    types = ["click", "view", "click", "view", "click"]
    rows += [
        (100 + i, t0 + dt.timedelta(minutes=i), 2, types[i], 1.0, "{}")
        for i in range(5)
    ]
    got = {
        r["user_id"]: r
        for r in sequence_entropy_users(spark, events_dir(rows)).collect()
    }
    assert got[1]["entropy"] == 0.0 and got[1]["entropy_norm"] is None
    assert got[2]["n_bigrams"] == 4 and got[2]["n_distinct"] == 2
    assert abs(got[2]["entropy"] - math.log(2)) < 1e-3
    assert got[2]["entropy_norm"] == 1.0


def test_retention_fit_recovers_exponential_decay(spark, events_dir):
    """Synthetic cohort where exactly half the remaining users return
    each subsequent week: weekly multiplier -> 0.5, half-life 1 week."""
    from kinesis_app_spark.registry_round3b import retention_curve_fit

    t0 = dt.datetime(2024, 1, 1)  # a Monday
    rows = []
    eid = 0
    # 16 users in the week-0 cohort; user u returns in week k while
    # u < 16 / 2^k  (16, 8, 4, 2 active at k=0..3)
    for u in range(16):
        for k in range(4):
            if u < 16 // (2 ** k):
                eid += 1
                rows.append(
                    (eid, t0 + dt.timedelta(weeks=k), u, "view", 1.0, "{}")
                )
    # anchor user keeping the observation window open to week 3
    eid += 1
    rows.append((eid, t0 + dt.timedelta(weeks=3), 99, "view", 1.0, "{}"))
    r = retention_curve_fit(spark, events_dir(rows)).collect()[0]
    assert r["n_points"] == 3
    assert abs(r["weekly_retention_multiplier"] - 0.5) < 0.02
    assert abs(r["half_life_weeks"] - 1.0) < 0.05


def test_markov_eval_learns_deterministic_chain(spark, events_dir):
    """Train: click is ALWAYS followed by view. Test window repeats the
    pattern -> accuracy 1.0 for prev=click; an antecedent whose test
    continuation flips gets 0."""
    from kinesis_app_spark.registry_round3b import markov_next_event_eval

    rows = []
    eid = 0
    # train period: 10 x (click -> view) for user 1
    t = dt.datetime(2024, 1, 2)
    for i in range(10):
        for typ in ("click", "view"):
            eid += 1
            rows.append(
                (eid, t + dt.timedelta(minutes=eid), 1, typ, 1.0, "{}")
            )
    # test period (after 2024-01-16): 4 x (click -> view), plus
    # (view -> error) twice while train had (view -> click) majority
    t2 = dt.datetime(2024, 1, 20)
    seq = ["click", "view", "click", "view", "error", "view", "error"]
    for i, typ in enumerate(seq):
        eid += 1
        rows.append((eid, t2 + dt.timedelta(minutes=i), 1, typ, 1.0, "{}"))
    got = {
        r["prev_type"]: r
        for r in markov_next_event_eval(spark, events_dir(rows)).collect()
    }
    assert got["click"]["predicted"] == "view"
    assert got["click"]["accuracy"] == 1.0
    # train saw view->click only, so prev=view predicts click; the test
    # continuations for prev=view are click, error, error -> 1/3
    assert got["view"]["predicted"] == "click"
    assert got["view"]["n_test"] == 3
    assert got["view"]["accuracy"] == 0.333333


def test_harmonic_regression_recovers_sine(spark, events_dir):
    """v_t = 20 + 5 sin(2pi t/7): amplitude -> 5, level -> 20, R^2 -> 1
    (regressors quantized identically, so recovery is near-exact)."""
    import math

    from kinesis_app_spark.registry_round3b import harmonic_regression_daily

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(28):
        t = i + 1  # row_number is 1-based
        v = 20.0 + 5.0 * math.sin(2 * math.pi * t / 7.0)
        rows.append((i, t0 + dt.timedelta(days=i), 1, "view", v, "{}"))
    r = harmonic_regression_daily(spark, events_dir(rows)).collect()[0]
    assert r["n_days"] == 28
    assert abs(r["mean_level"] - 20.0) < 1e-3
    assert abs(r["amplitude"] - 5.0) < 1e-3
    assert r["r2"] > 0.9999
    # pure sine: b = 5, c = 0 -> atan2(0, 5) = 0 phase
    assert abs(r["peak_phase_days"]) < 1e-2


def test_jaccard_calibration_bimodal_fixture(spark, tmp_path_factory):
    """Two exact near-dup docs (J ~ 1) and unrelated docs sharing one
    shingle (low J): the histogram must show mass in a top bin and a
    bottom bin, with pairs_at_or_above monotone non-increasing."""
    from kinesis_app_spark.registry_round3b import (
        jaccard_threshold_calibration,
    )

    d = str(tmp_path_factory.mktemp("r3b_jcal_"))
    docs = [
        (1, "alpha beta gamma delta epsilon zeta", "en", "src1", 30),
        (2, "alpha beta gamma delta epsilon eta", "en", "src1", 30),
        (3, "alpha beta gamma unrelated words entirely", "en", "src1", 30),
        (4, "totally different text with no overlap at all", "en", "src1", 30),
    ]
    spark.createDataFrame(
        docs,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    rows = jaccard_threshold_calibration(spark, d).collect()
    assert rows, "candidate pairs must exist"
    bins = {r["bin"]: r for r in rows}
    # docs 1/2 share 4 of 6 shingles -> J = 4/8? shingles are trigrams:
    # doc1 has 4 trigrams, overlap 3 -> J = 3/5 = 0.6 -> bin 12
    assert max(bins) >= 12
    assert min(bins) <= 4  # the weak cross-pair lands low
    above = [r["pairs_at_or_above"] for r in sorted(rows, key=lambda r: -r["bin"])]
    assert all(a <= b for a, b in zip(above, above[1:]))
    assert above[-1] == sum(r["n_pairs"] for r in rows)


def test_streaming_kmv_merges_sketches_across_batches(spark, tmp_path_factory):
    """Users split across two micro-batches with overlap: the merged
    KMV state must equal the single-batch sketch over the union — the
    mergeability property that makes the sketch streamable."""
    import os

    from kinesis_app_spark.streaming.ops import (
        run_to_memory,
        running_kmv_distinct,
    )
    from kinesis_app_spark.streaming.sources import file_stream

    src = str(tmp_path_factory.mktemp("r3b_kmvstream_"))
    ckpt = str(tmp_path_factory.mktemp("r3b_kmvckpt_"))
    schema = "event_type string, user_id long"
    df1 = spark.createDataFrame(
        [("click", u) for u in range(0, 60)], schema
    )
    df2 = spark.createDataFrame(
        [("click", u) for u in range(40, 120)], schema  # overlaps 40-59
    )
    df1.coalesce(1).write.mode("overwrite").parquet(src)
    d2 = str(tmp_path_factory.mktemp("r3b_kmvf2_"))
    df2.coalesce(1).write.mode("overwrite").parquet(d2)
    part2 = [f for f in os.listdir(d2) if f.endswith(".parquet")][0]
    dst = os.path.join(src, "part-batch2.parquet")
    os.rename(os.path.join(d2, part2), dst)
    newest = max(
        os.stat(os.path.join(src, f)).st_mtime
        for f in os.listdir(src)
        if f != "part-batch2.parquet"
    )
    os.utime(dst, (newest + 5, newest + 5))

    stream = file_stream(spark, src, df1.schema, max_files_per_trigger=1)
    out = running_kmv_distinct(stream, "event_type", "user_id", k=64)
    res = run_to_memory(out, ckpt, output_mode="update", shuffle_partitions=4)
    rows = sorted(res.collect(), key=lambda r: r["nb"])
    assert len(rows) == 2
    # batch 1: 60 distinct < k=64 -> sketch IS the exact count
    assert rows[0]["est"] == 60.0
    # batch 2 merged: 120 distinct > k -> estimate near the truth and
    # EQUAL to the one-shot sketch over the union (mergeability)
    import hashlib

    hs = sorted(
        int(hashlib.md5(str(u).encode()).hexdigest()[:15], 16)
        / float(1 << 60)
        for u in range(0, 120)
    )[:64]
    import math

    want = math.floor((63 / hs[-1]) * 100 + 0.5) / 100
    assert rows[1]["est"] == want
    assert abs(rows[1]["est"] - 120) / 120 < 0.35  # sketch-grade accuracy


def test_bootstrap_ci_brackets_true_mean(spark, events_dir):
    """On a fixture with a known mean, the 95% Poisson-bootstrap CI
    must bracket the point estimate and shrink around it; the
    procedure is deterministic, so rerunning yields identical bounds."""
    from kinesis_app_spark.registry_round3b import (
        bootstrap_ci_purchase_mean,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, t0 + dt.timedelta(minutes=i), 1, "purchase", 10.0 + (i % 5), "{}")
        for i in range(200)
    ]
    d = events_dir(rows)
    r1 = bootstrap_ci_purchase_mean(spark, d).collect()[0]
    r2 = bootstrap_ci_purchase_mean(spark, d).collect()[0]
    assert r1 == r2  # deterministic
    assert r1["n"] == 200 and r1["n_boot"] == 50
    assert abs(r1["mean_value"] - 12.0) < 1e-6  # mean of 10..14 uniform
    assert r1["ci_lo"] <= r1["mean_value"] <= r1["ci_hi"]
    # sd ~ 1.41/sqrt(200) ~ 0.1 -> the CI must be tight around 12
    assert r1["ci_hi"] - r1["ci_lo"] < 1.0


def test_twap_weights_by_holding_duration(spark, events_dir):
    """Value 10 held for 3 hours then 40 held for 1 hour: twap =
    (10*3 + 40*1) / 4 = 17.5 — the plain mean (25) would be wrong."""
    from kinesis_app_spark.registry_round3b import time_weighted_avg_users

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 1, "view", 10.0, "{}"),
        (2, t0 + dt.timedelta(hours=3), 1, "view", 40.0, "{}"),
        (3, t0 + dt.timedelta(hours=4), 1, "view", 99.0, "{}"),  # no hold
    ]
    r = time_weighted_avg_users(spark, events_dir(rows)).collect()[0]
    assert r["n_segments"] == 2
    assert r["total_us"] == 4 * 3600 * 1_000_000
    assert r["twap"] == 17.5


# ---------------------------------------------------------------------
# Kendall tau-b
# ---------------------------------------------------------------------

def test_kendall_tau_perfect_concordance_and_inversion(
    spark, tmp_path_factory
):
    """Nation A: balance and order count rise together -> tau_b = 1;
    nation B: perfectly inverted -> tau_b = -1."""
    from kinesis_app_spark.registry_round3b import kendall_tau_nations

    d = str(tmp_path_factory.mktemp("r3b_kt_"))
    t = dt.datetime(2024, 1, 1)
    spark.createDataFrame(
        [(0, "A", 0), (1, "B", 0)],
        "n_nationkey int, n_name string, n_regionkey int",
    ).write.mode("overwrite").parquet(f"{d}/nation.parquet")
    custs = [
        (1, "Customer#000000001", 0, 10.0, "SEG"),
        (2, "Customer#000000002", 0, 20.0, "SEG"),
        (3, "Customer#000000003", 0, 30.0, "SEG"),
        (4, "Customer#000000004", 1, 10.0, "SEG"),
        (5, "Customer#000000005", 1, 20.0, "SEG"),
        (6, "Customer#000000006", 1, 30.0, "SEG"),
    ]
    spark.createDataFrame(
        custs,
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    ).write.mode("overwrite").parquet(f"{d}/customer.parquet")
    orders = []
    ok = 0
    # nation A: order count follows balance; nation B: inverted
    for ck, n in [(1, 1), (2, 2), (3, 3), (4, 3), (5, 2), (6, 1)]:
        for _ in range(n):
            ok += 1
            orders.append((ok, ck, "O", 1.0, t, "1-URGENT"))
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(f"{d}/orders.parquet")
    got = {r["n_name"]: r for r in kendall_tau_nations(spark, d).collect()}
    assert got["A"]["tau_b"] == 1.0
    assert got["B"]["tau_b"] == -1.0
    assert got["A"]["n_pairs"] == 3 and got["A"]["concordant"] == 3
    assert got["B"]["discordant"] == 3


def test_streaming_twap_resumes_from_state_store(
    spark, tmp_path, tmp_path_factory
):
    """The open holding segment survives a QUERY RESTART: run on file 1,
    stop, append file 2, rerun on the same checkpoint — the segment
    opened before the restart closes with the full duration, equal to
    the batch operator over all events."""
    from pyspark.sql import functions as F

    from kinesis_app_spark.registry_round3b import time_weighted_avg_users
    from kinesis_app_spark.streaming.ops import running_twap
    from kinesis_app_spark.streaming.sources import file_stream

    src = str(tmp_path / "twap_in")
    ckpt = str(tmp_path / "twap_ckpt")
    t0 = dt.datetime(2024, 1, 1)
    schema = "user_id long, ts timestamp, event_id long, value double"
    first = spark.createDataFrame(
        [(1, t0, 1, 10.0), (1, t0 + dt.timedelta(hours=1), 2, 30.0)], schema
    )
    second = spark.createDataFrame(
        [(1, t0 + dt.timedelta(hours=5), 3, 99.0)], schema
    )
    first.coalesce(1).write.parquet(src)

    out: dict[int, tuple] = {}

    def run_once():
        def collect(batch_df, _bid):
            for r in batch_df.collect():
                prev = out.get(r["user_id"])
                if prev is None or r["n_segments"] >= prev[0]:
                    out[r["user_id"]] = (
                        r["n_segments"],
                        r["total_us"],
                        r["twap"],
                    )

        q = (
            running_twap(
                file_stream(spark, src, first.schema),
                "user_id",
                "ts",
                "event_id",
                "value",
            )
            .writeStream.outputMode("update")
            .foreachBatch(collect)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    assert out[1][0] == 1  # one closed segment before the restart
    second.coalesce(1).write.mode("append").parquet(src)
    run_once()
    n_seg, total_us, twap = out[1]
    assert n_seg == 2
    assert total_us == 5 * 3600 * 1_000_000
    # (10*1h + 30*4h) / 5h = 26.0 — the 4h segment SPANS the restart
    assert twap == 26.0

    # equals the batch operator over the full event set
    d = str(tmp_path_factory.mktemp("r3b_twap_all_"))
    spark.createDataFrame(
        [
            (1, t0, 1, "view", 10.0, "{}"),
            (2, t0 + dt.timedelta(hours=1), 1, "view", 30.0, "{}"),
            (3, t0 + dt.timedelta(hours=5), 1, "view", 99.0, "{}"),
        ],
        EVENTS_SCHEMA,
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    b = time_weighted_avg_users(spark, d).collect()[0]
    assert (b["n_segments"], b["total_us"], b["twap"]) == (
        n_seg,
        total_us,
        twap,
    )


def test_cross_source_matrix_separates_within_and_cross(
    spark, tmp_path_factory
):
    """Near-identical docs within src1 and a mirror across src1/src2:
    both cells appear, labeled within/cross correctly."""
    from kinesis_app_spark.registry_round3b import (
        cross_source_duplication_matrix,
    )

    d = str(tmp_path_factory.mktemp("r3b_xsrc_"))
    base = "alpha beta gamma delta epsilon zeta eta theta"
    docs = [
        (1, base, "en", "src1", 40),
        (2, base + " iota", "en", "src1", 45),       # within-src1 dup
        (3, base + " kappa", "en", "src2", 45),      # cross src1/src2
        (4, "completely different text here now", "en", "src3", 30),
    ]
    spark.createDataFrame(
        docs,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    rows = {
        (r["source_x"], r["source_y"]): r
        for r in cross_source_duplication_matrix(spark, d).collect()
    }
    assert rows[("src1", "src1")]["within_source"] is True
    assert rows[("src1", "src2")]["within_source"] is False
    assert all(r["mean_jaccard"] >= 0.5 for r in rows.values())
    assert ("src3", "src3") not in rows  # no duplicates -> no cell


def test_streaming_entropy_counts_boundary_bigram_once(
    spark, events_dir, tmp_path_factory
):
    """A bigram spanning two micro-batches (last event of file 1 ->
    first event of file 2) must be counted exactly once: final counts
    equal the batch operator over the full sequence."""
    import os

    from kinesis_app_spark.registry_round3b import sequence_entropy_users
    from kinesis_app_spark.streaming.ops import (
        run_to_memory,
        running_sequence_entropy,
    )
    from kinesis_app_spark.streaming.sources import file_stream

    src = str(tmp_path_factory.mktemp("r3b_entstream_"))
    ckpt = str(tmp_path_factory.mktemp("r3b_entckpt_"))
    t0 = dt.datetime(2024, 1, 1)
    schema = "user_id long, ts timestamp, event_id long, event_type string"
    seq1 = ["click", "view", "click"]
    seq2 = ["view", "click", "view"]  # boundary bigram click>view
    df1 = spark.createDataFrame(
        [(1, t0 + dt.timedelta(minutes=i), i, s) for i, s in enumerate(seq1)],
        schema,
    )
    df2 = spark.createDataFrame(
        [
            (1, t0 + dt.timedelta(minutes=10 + i), 10 + i, s)
            for i, s in enumerate(seq2)
        ],
        schema,
    )
    df1.coalesce(1).write.mode("overwrite").parquet(src)
    d2 = str(tmp_path_factory.mktemp("r3b_entf2_"))
    df2.coalesce(1).write.mode("overwrite").parquet(d2)
    part2 = [f for f in os.listdir(d2) if f.endswith(".parquet")][0]
    dst = os.path.join(src, "part-batch2.parquet")
    os.rename(os.path.join(d2, part2), dst)
    newest = max(
        os.stat(os.path.join(src, f)).st_mtime
        for f in os.listdir(src)
        if f != "part-batch2.parquet"
    )
    os.utime(dst, (newest + 5, newest + 5))

    stream = file_stream(spark, src, df1.schema, max_files_per_trigger=1)
    out = running_sequence_entropy(
        stream, "user_id", "ts", "event_id", "event_type"
    )
    res = run_to_memory(out, ckpt, output_mode="update", shuffle_partitions=4)
    final = max(res.collect(), key=lambda r: r["nb"])
    # full sequence: c v c | v c v -> bigrams c>v x3, v>c x2 (5 total)
    assert final["n_bigrams"] == 5
    assert final["n_distinct"] == 2

    # equals the batch operator over the same events
    rows = [
        (i, t0 + dt.timedelta(minutes=i), 1, s, 1.0, "{}")
        for i, s in enumerate(seq1)
    ] + [
        (10 + i, t0 + dt.timedelta(minutes=10 + i), 1, s, 1.0, "{}")
        for i, s in enumerate(seq2)
    ]
    b = sequence_entropy_users(spark, events_dir(rows)).collect()[0]
    assert (b["n_bigrams"], b["n_distinct"]) == (5, 2)
    assert b["entropy"] == final["entropy"]
    assert b["entropy_norm"] == final["entropy_norm"]


def test_dp_noise_is_laplace_shaped_and_deterministic(spark):
    """The hash-Laplace mechanism: reruns identical, noise centered
    near 0 with the Laplace(1) scale, and noisy counts floor at 0."""
    from kinesis_app_spark.registry_round3b import dp_noisy_nation_counts

    sf = "/root/testdata/sf0.001"
    r1 = dp_noisy_nation_counts(spark, sf).collect()
    r2 = dp_noisy_nation_counts(spark, sf).collect()
    assert r1 == r2
    noises = [r["noise"] for r in r1]
    assert all(abs(x) < 15 for x in noises)  # Laplace(1) tail sanity
    assert any(x > 0 for x in noises) and any(x < 0 for x in noises)
    for r in r1:
        assert r["noisy_n"] >= 0
        assert abs(r["noisy_n"] - (r["true_n"] + r["noise"])) <= 0.5 + 1e-9


def test_fd_discovery_key_column_determines_everything(spark):
    """o_orderkey is the primary key: every X = o_orderkey pair must be
    an exact FD (strength 1.0); a status column cannot determine the
    key on any non-degenerate table."""
    from kinesis_app_spark.registry_round3b import fd_discovery_orders

    rows = {
        (r["determinant"], r["dependent"]): r
        for r in fd_discovery_orders(spark, "/root/testdata/sf0.001").collect()
    }
    assert len(rows) == 12
    for dep in ("o_orderstatus", "o_orderpriority", "o_custkey"):
        r = rows[("o_orderkey", dep)]
        assert r["exact_fd"] is True and r["fd_strength"] == 1.0
    r = rows[("o_orderstatus", "o_orderkey")]
    assert r["exact_fd"] is False and r["fd_strength"] < 0.1
    assert all(0 < r["fd_strength"] <= 1.0 for r in rows.values())
