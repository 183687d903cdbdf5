"""Round-3 additions, batch 2: robust / nonparametric statistics,
time-series repair and decomposition, corpus-health reads, and the
linkage / classification staples around them.

The reference's computation surface is a per-record callback
(/root/reference/src/Kinesis/Coordination.hs:51-53 — no relational
operators); these entries extend the forward-defined engine surface
(SURVEY.md §2.2 north-star extensions): weighted quantiles,
linear-interpolation gap fill, Mann-Whitney U, Theil-Sen trends,
Jensen-Shannon token drift, sorted-neighborhood linkage, Kendall
tau-b, STL-style decomposition, closed-form EWMA, Zipf rank-frequency
fit, vocabulary-growth checkpoints, binary-segmentation changepoints,
ABC/Pareto classification, and batch + TRUE-streaming time-weighted
averages.

Recurring scale shapes (details per entry): collapse to the reduced
relation (distinct values, daily series, per-part totals) BEFORE any
window; rank statistics via the two-phase binned prefix sum instead of
a data-sized global sort (the global_row_number discipline); quadratic
pair expansions capped per group by TRUNCATION (output keeps one row
per group at every SF); cumulative totals via block prefix sums; and
exact-integer accumulation wherever a float sum could land a
summation-order ULP on a rounding boundary.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from kinesis_app_spark.streaming.ops import PYSTATE_STREAM_SHUFFLE
from kinesis_app_spark.pinning import pin

from kinesis_app_spark.registry_util import QuerySpec, table as _t


# =====================================================================
# weighted quantiles (order-quantity-weighted price points per brand)
# =====================================================================

def weighted_quantiles_brands(spark, sf_dir):
    """Quantity-weighted price quartiles per part brand: the weighted
    q-quantile is the smallest price whose cumulative quantity weight
    reaches q of the brand's total (the left-continuous inverse-CDF
    convention). Emits (brand, total weight, wp25/wp50/wp75).

    Scale shape: the fact table collapses to one row per (brand,
    distinct price) FIRST (one shuffle, map-side combinable), the
    cumulative window is partitioned by brand over that reduced
    relation, and the quantile pick is a conditional MIN — no sort of
    raw rows, no global window. Quantities are integral doubles, so
    every cumulative sum and q*W threshold is exact in binary and the
    engine/oracle comparison is bit-for-bit."""
    li = _t(spark, sf_dir, "lineitem")
    pt = _t(spark, sf_dir, "part")
    px = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .select(
            "p_brand",
            F.col("l_extendedprice").alias("price"),
            F.col("l_quantity").alias("qty"),
        )
    )
    byprice = px.groupBy("p_brand", "price").agg(F.sum("qty").alias("w"))
    cumw = Window.partitionBy("p_brand").orderBy("price").rowsBetween(
        Window.unboundedPreceding, 0
    )
    # the brand total rides the SAME brand partitioning as the running
    # sum (one shuffle, two Window specs) — the groupBy+join-back shape
    # this replaces re-ran the scan+join+fold subtree twice and paid an
    # extra Exchange for the join (oracle already uses this form)
    totw = Window.partitionBy("p_brand")
    j = byprice.withColumn("cw", F.sum("w").over(cumw)).withColumn(
        "wt", F.sum("w").over(totw)
    )

    def _wq(q: float):
        return F.min(
            F.when(F.col("cw") >= F.lit(q) * F.col("wt"), F.col("price"))
        )

    return (
        j.groupBy("p_brand")
        .agg(
            F.max("wt").cast("long").alias("w_total"),
            _wq(0.25).alias("wp25"),
            _wq(0.50).alias("wp50"),
            _wq(0.75).alias("wp75"),
        )
        .orderBy("p_brand")
    )


WEIGHTED_QUANTILES_SQL = """
WITH byprice AS (
  SELECT p_brand, l_extendedprice AS price, sum(l_quantity) AS w
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand, l_extendedprice
), cum AS (
  SELECT p_brand, price, w,
         sum(w) OVER (PARTITION BY p_brand ORDER BY price
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
         sum(w) OVER (PARTITION BY p_brand) AS wt
  FROM byprice
)
SELECT p_brand,
       CAST(max(wt) AS BIGINT) AS w_total,
       min(CASE WHEN cw >= 0.25 * wt THEN price END) AS wp25,
       min(CASE WHEN cw >= 0.50 * wt THEN price END) AS wp50,
       min(CASE WHEN cw >= 0.75 * wt THEN price END) AS wp75
FROM cum
GROUP BY p_brand
ORDER BY p_brand
"""


# =====================================================================
# linear-interpolation gap fill over the daily event series
# =====================================================================

def timeseries_interpolate_linear(spark, sf_dir):
    """Daily mean event value with missing days filled by LINEAR
    interpolation between the nearest observed days (edges extend the
    nearest observation flat) — the repair sibling of
    timeseries_gapfill_ffill: ffill answers 'last known state', linear
    interpolation answers 'best estimate of a continuous signal'.

    Scale shape: the raw table collapses to one row per DAY first;
    the calendar spine comes from a 1-row min/max broadcast + sequence;
    the prev/next windows run over the daily series — bounded by the
    observation span in days, data-size-independent (allowlisted like
    autocorrelation_daily_events)."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.avg("value").alias("v_obs"), F.count(F.lit(1)).alias("n_obs")
    )
    rng = daily.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    spine = rng.select(
        F.explode(
            F.expr("sequence(d0, d1, interval 1 day)")
        ).alias("day")
    )
    sp = spine.join(daily, "day", "left")
    w_prev = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    w_next = Window.orderBy("day").rowsBetween(0, Window.unboundedFollowing)
    obs_day = F.when(F.col("n_obs").isNotNull(), F.col("day"))
    obs_v = F.when(F.col("n_obs").isNotNull(), F.col("v_obs"))
    sp = sp.select(
        "day",
        "n_obs",
        F.last(obs_day, ignorenulls=True).over(w_prev).alias("pd"),
        F.last(obs_v, ignorenulls=True).over(w_prev).alias("pv"),
        F.first(obs_day, ignorenulls=True).over(w_next).alias("nd"),
        F.first(obs_v, ignorenulls=True).over(w_next).alias("nv"),
    )
    interp = (
        F.when(F.col("pd").isNull(), F.col("nv"))
        .when(F.col("nd").isNull(), F.col("pv"))
        .when(F.col("nd") == F.col("pd"), F.col("pv"))
        .otherwise(
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * F.datediff(F.to_date("day"), F.to_date("pd"))
            / F.datediff(F.to_date("nd"), F.to_date("pd"))
        )
    )
    return sp.select(
        "day",
        F.coalesce(F.col("n_obs"), F.lit(0)).cast("long").alias("n_obs"),
        F.round(interp, 4).alias("value"),
        F.col("n_obs").isNull().cast("int").alias("interpolated"),
    ).orderBy("day")


INTERPOLATE_SQL = """
WITH daily AS (
  SELECT date_trunc('day', ts) AS day, avg(value) AS v_obs, count(*) AS n_obs
  FROM events GROUP BY 1
), rng AS (
  SELECT min(day) AS d0, max(day) AS d1 FROM daily
), spine AS (
  SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
  FROM rng
), sp AS (
  SELECT s.day, d.n_obs,
         last_value(CASE WHEN d.n_obs IS NOT NULL THEN s.day END IGNORE NULLS)
           OVER (ORDER BY s.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
         last_value(CASE WHEN d.n_obs IS NOT NULL THEN d.v_obs END IGNORE NULLS)
           OVER (ORDER BY s.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         first_value(CASE WHEN d.n_obs IS NOT NULL THEN s.day END IGNORE NULLS)
           OVER (ORDER BY s.day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd,
         first_value(CASE WHEN d.n_obs IS NOT NULL THEN d.v_obs END IGNORE NULLS)
           OVER (ORDER BY s.day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
  FROM spine s LEFT JOIN daily d USING (day)
)
SELECT day,
       CAST(coalesce(n_obs, 0) AS BIGINT) AS n_obs,
       round(CASE WHEN pd IS NULL THEN nv
                  WHEN nd IS NULL THEN pv
                  WHEN nd = pd THEN pv
                  ELSE pv + (nv - pv) * date_diff('day', pd, day)
                       / date_diff('day', pd, nd)
             END, 4) AS value,
       CAST(n_obs IS NULL AS INT) AS interpolated
FROM sp
ORDER BY day
"""


# =====================================================================
# Mann-Whitney U (nonparametric two-sample test, click vs purchase)
# =====================================================================

_MW_BINS = 1024


def mann_whitney_events(spark, sf_dir):
    """Mann-Whitney U comparing event `value` between click and
    purchase events: average ranks with the standard tie correction,
    the normal-approximation z, and the rank-biserial effect size.

    Scale shape: ranks WITHOUT a data-sized global sort. The table
    collapses to one row per DISTINCT VALUE (one shuffle); per-value
    counts are bucketed into a fixed 1024-bin histogram anchored on a
    1-row min/max broadcast; bin offsets come from a window over the
    1024-row bin table (bounded, allowlisted) and within-bin prefixes
    from a window PARTITIONED BY bin — the global_row_number two-phase
    prefix-sum discipline applied to rank statistics. Every average
    rank is an integer or half-integer, so the rank-sum is exact in
    double no matter the summation order and the oracle (which ranks
    the naive way) matches bit-for-bit."""
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select(
            F.col("value").alias("v"),
            (F.col("event_type") == "click").cast("long").alias("is_a"),
        )
    )
    byv = ev.groupBy("v").agg(
        F.count(F.lit(1)).alias("c"), F.sum("is_a").alias("ca")
    )
    edges = byv.agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    binned = byv.crossJoin(F.broadcast(edges)).withColumn(
        "bin",
        F.greatest(
            F.lit(0),
            F.least(
                F.floor(
                    (F.col("v") - F.col("lo"))
                    / ((F.col("hi") - F.col("lo")) / _MW_BINS)
                ).cast("int"),
                F.lit(_MW_BINS - 1),
            ),
        ),
    )
    bins = binned.groupBy("bin").agg(F.sum("c").alias("nb"))
    w_off = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
    bins = bins.withColumn(
        "off", F.coalesce(F.sum("nb").over(w_off), F.lit(0))
    )
    w_in = Window.partitionBy("bin").orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = (
        binned.join(bins.select("bin", "off"), "bin")
        .withColumn("within", F.coalesce(F.sum("c").over(w_in), F.lit(0)))
        .withColumn(
            "avg_rank",
            F.col("off") + F.col("within") + (F.col("c") + 1) / F.lit(2.0),
        )
    )
    agg = ranked.agg(
        F.sum("ca").alias("n_a"),
        F.sum(F.col("c") - F.col("ca")).alias("n_b"),
        F.sum(F.col("ca") * F.col("avg_rank")).alias("ra"),
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c")).alias("tie"),
    )
    n = F.col("n_a") + F.col("n_b")
    u_a = F.col("ra") - F.col("n_a") * (F.col("n_a") + 1) / F.lit(2.0)
    mu = F.col("n_a") * F.col("n_b") / F.lit(2.0)
    sigma2 = (
        F.col("n_a") * F.col("n_b") / F.lit(12.0)
    ) * ((n + 1) - F.col("tie") / (n * (n - F.lit(1.0))))
    return agg.select(
        F.col("n_a").cast("long").alias("n_click"),
        F.col("n_b").cast("long").alias("n_purchase"),
        u_a.alias("u_stat"),
        F.round((u_a - mu) / F.sqrt(sigma2), 6).alias("z"),
        F.round(
            1 - 2 * u_a / (F.col("n_a") * F.col("n_b")), 6
        ).alias("rank_biserial"),
    )


MANN_WHITNEY_SQL = """
WITH ev AS (
  SELECT value AS v,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_a
  FROM events WHERE event_type IN ('click', 'purchase')
), byv AS (
  SELECT v, count(*) AS c, sum(is_a) AS ca FROM ev GROUP BY v
), r AS (
  SELECT v, c, ca,
         coalesce(sum(c) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cl
  FROM byv
), agg AS (
  SELECT sum(ca) AS n_a, sum(c - ca) AS n_b,
         sum(ca * (cl + (c + 1) / 2.0)) AS ra,
         sum(c * c * c - c) AS tie
  FROM r
)
SELECT CAST(n_a AS BIGINT) AS n_click,
       CAST(n_b AS BIGINT) AS n_purchase,
       ra - n_a * (n_a + 1) / 2.0 AS u_stat,
       round(((ra - n_a * (n_a + 1) / 2.0) - n_a * n_b / 2.0)
             / sqrt((n_a * n_b / 12.0)
                    * ((n_a + n_b + 1)
                       - tie / ((n_a + n_b) * (n_a + n_b - 1.0)))), 6) AS z,
       round(1 - 2 * (ra - n_a * (n_a + 1) / 2.0) / (n_a * n_b), 6)
         AS rank_biserial
FROM agg
"""


# =====================================================================
# Theil-Sen robust trend per user (median of pairwise slopes)
# =====================================================================

_TS_MIN_EVENTS = 3
_TS_MAX_EVENTS = 40


def theil_sen_trends(spark, sf_dir):
    """Theil-Sen robust trend of event `value` per user: the median of
    all pairwise slopes (value change per DAY), plus the matching
    median intercept — the estimator that shrugs off the outliers that
    wreck per-user OLS (cf. grouped_ols_user_trends, its classical
    twin under the same gate).

    Scale shape: the quadratic pair expansion is bounded by TRUNCATING
    each user to their first 40 events in (ts, event_id) order (the
    same per-group quadratic cap discipline as the association-rules
    basket gate — truncation, not exclusion, so the output keeps one
    row per user at every scale factor); the pair join is an equi-join
    on user_id with the range predicate applied post-join, and the
    median is a per-group interpolated percentile over <= 780 slope
    values. Timestamps compare as exact unix microseconds (BIGINT in
    both engines), so every slope is the identical IEEE division and
    the oracle matches bit-for-bit at round-6."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("t"),
        "value",
        "event_id",
    )
    w_u = Window.partitionBy("user_id").orderBy("t", "event_id")
    trunc = (
        ev.withColumn("rn", F.row_number().over(w_u))
        .filter(F.col("rn") <= _TS_MAX_EVENTS)
        .drop("rn")
    )
    # the size gate rides a second Window spec on the SAME user
    # partitioning (no count-groupBy + join-back), and gated is pinned:
    # it feeds THREE consumers (both pair-join sides + the intercept
    # pass), which re-ran the scan+window subtree each — 12 scans in
    # the before plan (plans/r08/theil_sen_trends_before.txt)
    gated = (
        trunc.withColumn(
            "n_events",
            F.count(F.lit(1)).over(Window.partitionBy("user_id")),
        )
        .filter(F.col("n_events") >= _TS_MIN_EVENTS)
        .transform(pin, eager=False)
    )
    x = gated.alias("x")
    y = gated.alias("y")
    pairs = x.join(
        y,
        (F.col("x.user_id") == F.col("y.user_id"))
        & (F.col("x.t") < F.col("y.t")),
    ).select(
        F.col("x.user_id").alias("user_id"),
        F.col("x.n_events").alias("n_events"),
        (
            (F.col("y.value") - F.col("x.value"))
            / ((F.col("y.t") - F.col("x.t")) / F.lit(86400.0e6))
        ).alias("slope"),
    )
    slopes = pairs.groupBy("user_id", "n_events").agg(
        F.expr("percentile(slope, 0.5)").alias("m")
    )
    resid = gated.join(slopes, "user_id").groupBy(
        "user_id", slopes.n_events.alias("n_events"), "m"
    ).agg(
        F.expr(
            "percentile(value - m * (t / 86400.0e6), 0.5)"
        ).alias("b")
    )
    return resid.select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        F.round("m", 6).alias("slope_per_day"),
        F.round("b", 4).alias("intercept"),
    ).orderBy("user_id")


THEIL_SEN_SQL = """
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS t, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts), event_id) AS rn
  FROM events
), trunc AS (
  SELECT user_id, t, value FROM ev WHERE rn <= 40
), sized AS (
  SELECT e.*, n_events FROM trunc e JOIN (
    SELECT user_id, count(*) AS n_events FROM trunc GROUP BY user_id
  ) s USING (user_id)
  WHERE n_events >= 3
), slopes AS (
  SELECT x.user_id, x.n_events,
         quantile_cont((y.value - x.value)
                       / ((y.t - x.t) / 86400.0e6), 0.5) AS m
  FROM sized x JOIN sized y
    ON x.user_id = y.user_id AND x.t < y.t
  GROUP BY x.user_id, x.n_events
)
SELECT s.user_id,
       CAST(s.n_events AS BIGINT) AS n_events,
       round(s.m, 6) AS slope_per_day,
       round(quantile_cont(e.value - s.m * (e.t / 86400.0e6), 0.5), 4)
         AS intercept
FROM slopes s JOIN sized e USING (user_id)
GROUP BY s.user_id, s.n_events, s.m
ORDER BY s.user_id
"""


# =====================================================================
# token-distribution drift between source cohorts (JS divergence)
# =====================================================================

def token_drift_sources(spark, sf_dir):
    """Jensen-Shannon token-distribution drift between the src0-src9
    and src10-src19 document cohorts: the text counterpart of
    psi_drift_report — PSI watches a numeric feature, this watches the
    vocabulary itself (the first thing that moves when a crawl source
    changes template, language mix, or spam load). Emits the top-50
    drifting tokens with smoothed probabilities and per-token JS
    contribution (quantized at 1e-6, the PSI convention for
    cross-engine ln()).

    Scale shape: one explode shuffle to (token, cohort) counts (the
    same single-shuffle discipline as the LM-score entries), corpus
    totals + vocab size as a 1-row broadcast, top-50 via
    TakeOrderedAndProject — no global sort materializes."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        (F.substring("source", 4, 10).cast("int") < 10)
        .cast("long")
        .alias("is_ref"),
        F.explode(
            F.split(
                F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "
            )
        ).alias("token"),
    )
    counts = toks.groupBy("token").agg(
        F.sum("is_ref").alias("ref_n"),
        F.sum(1 - F.col("is_ref")).alias("cur_n"),
    )
    tot = counts.agg(
        F.sum("ref_n").alias("ref_tot"),
        F.sum("cur_n").alias("cur_tot"),
        F.count(F.lit(1)).alias("v"),
    )
    p = (F.col("ref_n") + 1) / (F.col("ref_tot") + F.col("v"))
    q = (F.col("cur_n") + 1) / (F.col("cur_tot") + F.col("v"))
    m = (p + q) / 2
    js_raw = F.lit(0.5) * p * F.log(p / m) + F.lit(0.5) * q * F.log(q / m)
    js = F.round(js_raw * 1e6).cast("long").cast("double") / 1e6
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "token",
            F.col("ref_n").cast("long").alias("ref_n"),
            F.col("cur_n").cast("long").alias("cur_n"),
            F.round(p, 6).alias("ref_p"),
            F.round(q, 6).alias("cur_p"),
            F.round(js, 6).alias("js_contrib"),
            F.abs(p - q).alias("absdiff"),
        )
        .orderBy(F.desc("absdiff"), "token")
        .limit(50)
        .drop("absdiff")
    )


TOKEN_DRIFT_SQL = """
WITH toks AS (
  SELECT CASE WHEN CAST(substr(source, 4, 10) AS INT) < 10
              THEN 1 ELSE 0 END AS is_ref,
         unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS token
  FROM documents
), counts AS (
  SELECT token, sum(is_ref) AS ref_n, sum(1 - is_ref) AS cur_n
  FROM toks GROUP BY token
), tot AS (
  SELECT sum(ref_n) AS ref_tot, sum(cur_n) AS cur_tot, count(*) AS v
  FROM counts
), scored AS (
  SELECT token,
         CAST(ref_n AS BIGINT) AS ref_n, CAST(cur_n AS BIGINT) AS cur_n,
         (ref_n + 1) / CAST(ref_tot + v AS DOUBLE) AS p,
         (cur_n + 1) / CAST(cur_tot + v AS DOUBLE) AS q
  FROM counts CROSS JOIN tot
)
SELECT token, ref_n, cur_n,
       round(p, 6) AS ref_p,
       round(q, 6) AS cur_p,
       round(CAST(round((0.5 * p * ln(p / ((p + q) / 2))
                         + 0.5 * q * ln(q / ((p + q) / 2))) * 1e6)
                  AS BIGINT) / 1e6, 6) AS js_contrib
FROM scored
ORDER BY abs(p - q) DESC, token
LIMIT 50
"""


# =====================================================================
# sorted-neighborhood record linkage (the SNM blocking alternative)
# =====================================================================

_SNM_WINDOW = 4


def sorted_neighborhood_linkage(spark, sf_dir):
    """Record linkage via the classic Sorted-Neighborhood Method over
    the same dirtied customer list as record_linkage_customers: sort
    dirty+clean together on a noise-stable key (the last-5-digit name
    suffix), slide a window of 4 positions, verify candidates with
    levenshtein <= 1. SNM trades the hash-block's recall guarantee for
    a FIXED candidate budget (w per record) — the standard choice when
    block keys skew (one hot block = one hot task; SNM cannot produce
    one).

    Scale shape: the global sort position comes from global_row_number
    (range-partition + offset, no single-task window); the w-window
    pair generation is an EQUI-join on the rid-div-w bucket (each left
    row probes its own and the next bucket — the gaps-and-islands
    neighbor-bucket trick), never a band nested-loop."""
    from kinesis_app_spark.operators.scale import global_row_number
    from kinesis_app_spark.registry_analytics import _dirty_customers

    c = _t(spark, sf_dir, "customer")
    dirty = _dirty_customers(c).select(
        "custkey", "name", F.lit("d").alias("tag")
    )
    clean = c.select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_name").alias("name"),
        F.lit("c").alias("tag"),
    )
    both = dirty.unionByName(clean).withColumn(
        "sortkey", F.substring("name", 14, 5)
    )
    ordered = global_row_number(both, ["sortkey", "tag", "custkey"])
    ordered = ordered.withColumn(
        "b", F.floor(F.col("rid") / _SNM_WINDOW)
    )
    left = ordered.select(
        F.col("rid").alias("rid_i"),
        F.col("custkey").alias("ck_i"),
        F.col("name").alias("name_i"),
        F.col("tag").alias("tag_i"),
        F.explode(F.array(F.col("b"), F.col("b") + 1)).alias("jb"),
    )
    right = ordered.select(
        F.col("rid").alias("rid_j"),
        F.col("custkey").alias("ck_j"),
        F.col("name").alias("name_j"),
        F.col("tag").alias("tag_j"),
        F.col("b").alias("jb"),
    )
    cand = left.join(right, "jb").filter(
        (F.col("rid_j") - F.col("rid_i") >= 1)
        & (F.col("rid_j") - F.col("rid_i") <= _SNM_WINDOW)
        & (F.col("tag_i") != F.col("tag_j"))
    )
    dist = F.levenshtein(F.col("name_i"), F.col("name_j"))
    return (
        cand.filter(dist <= 1)
        .select(
            F.when(F.col("tag_i") == "d", F.col("ck_i"))
            .otherwise(F.col("ck_j"))
            .alias("custkey_l"),
            F.when(F.col("tag_i") == "d", F.col("ck_j"))
            .otherwise(F.col("ck_i"))
            .alias("custkey_r"),
            dist.cast("int").alias("dist"),
        )
        .orderBy("custkey_l", "custkey_r")
    )


SNM_LINKAGE_SQL = """
WITH dirty AS (
  SELECT c_custkey AS custkey,
         CASE
           WHEN c_custkey % 10 = 7 THEN substr(c_name, 1, 9) || 'XX' || substr(c_name, 12, 7)
           WHEN c_custkey % 3 = 0 THEN substr(c_name, 1, 9) || 'X' || substr(c_name, 11, 8)
           ELSE c_name
         END AS name, 'd' AS tag
  FROM customer
), clean AS (
  SELECT c_custkey AS custkey, c_name AS name, 'c' AS tag FROM customer
), both_t AS (
  SELECT *, substr(name, 14, 5) AS sortkey FROM dirty
  UNION ALL
  SELECT *, substr(name, 14, 5) AS sortkey FROM clean
), ordered AS (
  SELECT *, row_number() OVER (ORDER BY sortkey, tag, custkey) AS rid
  FROM both_t
)
SELECT CASE WHEN i.tag = 'd' THEN i.custkey ELSE j.custkey END AS custkey_l,
       CASE WHEN i.tag = 'd' THEN j.custkey ELSE i.custkey END AS custkey_r,
       CAST(levenshtein(i.name, j.name) AS INT) AS dist
FROM ordered i JOIN ordered j
  ON j.rid - i.rid BETWEEN 1 AND 4 AND i.tag <> j.tag
WHERE levenshtein(i.name, j.name) <= 1
ORDER BY custkey_l, custkey_r
"""


# =====================================================================
# Kendall tau-b rank correlation per nation (bounded pair expansion)
# =====================================================================

_KT_MAX_PER_NATION = 200


def kendall_tau_nations(spark, sf_dir):
    """Kendall tau-b between a customer's account balance and their
    order count, per nation: the rank-correlation complement of the
    Pearson matrix (corr_matrix_lineitem) — concordance survives the
    monotone-but-nonlinear relationships Pearson misses, and tau-b's
    tie correction handles the heavily-tied order counts honestly.

    Scale shape: the fact table collapses to one row per customer
    first; the quadratic pair expansion is bounded by a deterministic
    per-nation cap (first 200 custkeys — truncation, not exclusion,
    per the Theil-Sen discipline) and the pair join is an equi-join on
    nationkey. All counts are exact integers, so tau-b is one IEEE
    division and the oracle matches bit-for-bit."""
    cu = _t(spark, sf_dir, "customer")
    od = _t(spark, sf_dir, "orders")
    na = _t(spark, sf_dir, "nation")
    per_cust = (
        cu.join(
            od.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders")),
            cu.c_custkey == F.col("o_custkey"),
            "left",
        )
        .select(
            "c_custkey",
            "c_nationkey",
            "c_acctbal",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        )
    )
    w_n = Window.partitionBy("c_nationkey").orderBy("c_custkey")
    capped = (
        per_cust.withColumn("rn", F.row_number().over(w_n))
        .filter(F.col("rn") <= _KT_MAX_PER_NATION)
        .drop("rn")
    )
    x = capped.alias("x")
    y = capped.alias("y")
    pairs = x.join(
        y,
        (F.col("x.c_nationkey") == F.col("y.c_nationkey"))
        & (F.col("x.c_custkey") < F.col("y.c_custkey")),
    ).select(
        F.col("x.c_nationkey").alias("nationkey"),
        (F.col("x.c_acctbal") - F.col("y.c_acctbal")).alias("db"),
        (F.col("x.n_orders") - F.col("y.n_orders")).alias("dn"),
    )
    agg = pairs.groupBy("nationkey").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum((F.col("db") * F.col("dn") > 0).cast("long")).alias("conc"),
        F.sum((F.col("db") * F.col("dn") < 0).cast("long")).alias("disc"),
        F.sum((F.col("db") == 0).cast("long")).alias("tie_bal"),
        F.sum((F.col("dn") == 0).cast("long")).alias("tie_ord"),
    )
    denom = F.sqrt(
        (F.col("n_pairs") - F.col("tie_bal")).cast("double")
        * (F.col("n_pairs") - F.col("tie_ord")).cast("double")
    )
    tau = F.when(
        denom > 0,
        F.round((F.col("conc") - F.col("disc")) / denom, 6),
    )
    return (
        agg.join(F.broadcast(na), agg.nationkey == na.n_nationkey)
        .select(
            "n_name",
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.col("conc").cast("long").alias("concordant"),
            F.col("disc").cast("long").alias("discordant"),
            tau.alias("tau_b"),
        )
        .orderBy("n_name")
    )


KENDALL_TAU_SQL = """
WITH per_cust AS (
  SELECT c_custkey, c_nationkey, c_acctbal,
         coalesce(n_orders, 0) AS n_orders
  FROM customer LEFT JOIN (
    SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey
  ) o ON c_custkey = o_custkey
), capped AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY c_nationkey
                                 ORDER BY c_custkey) AS rn
    FROM per_cust
  ) WHERE rn <= 200
), pairs AS (
  SELECT x.c_nationkey AS nationkey,
         x.c_acctbal - y.c_acctbal AS db,
         x.n_orders - y.n_orders AS dn
  FROM capped x JOIN capped y
    ON x.c_nationkey = y.c_nationkey AND x.c_custkey < y.c_custkey
), agg AS (
  SELECT nationkey, count(*) AS n_pairs,
         sum(CASE WHEN db * dn > 0 THEN 1 ELSE 0 END) AS conc,
         sum(CASE WHEN db * dn < 0 THEN 1 ELSE 0 END) AS disc,
         sum(CASE WHEN db = 0 THEN 1 ELSE 0 END) AS tie_bal,
         sum(CASE WHEN dn = 0 THEN 1 ELSE 0 END) AS tie_ord
  FROM pairs GROUP BY nationkey
)
SELECT n_name,
       CAST(n_pairs AS BIGINT) AS n_pairs,
       CAST(conc AS BIGINT) AS concordant,
       CAST(disc AS BIGINT) AS discordant,
       CASE WHEN (n_pairs - tie_bal) * (n_pairs - tie_ord) > 0
            THEN round((conc - disc)
                       / sqrt(CAST(n_pairs - tie_bal AS DOUBLE)
                              * CAST(n_pairs - tie_ord AS DOUBLE)), 6)
       END AS tau_b
FROM agg JOIN nation ON nationkey = n_nationkey
ORDER BY n_name
"""


# =====================================================================
# STL-style decomposition of the daily event series
# =====================================================================

def stl_decompose_daily(spark, sf_dir):
    """Classical additive decomposition of the daily mean event value:
    trend = 7-day centered moving average (partial at the edges),
    seasonal = centered day-of-week means of the detrended series,
    residual = the rest — the moving-average core of STL without the
    loess refinement (deterministic, hence value-gateable; full STL's
    iterated loess is a driver-side statsmodels call on the SAME
    bounded daily series if ever needed).

    Scale shape: the raw table collapses to one row per DAY first; all
    windows run over the daily series (bounded by calendar span —
    allowlisted); the seasonal profile is a 7-row broadcast and the
    centering constant a 1-row broadcast."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.avg("value").alias("v")
    )
    w_ma = Window.orderBy("day").rowsBetween(-3, 3)
    dt = daily.withColumn("trend", F.avg("v").over(w_ma)).withColumn(
        "detr", F.col("v") - F.col("trend")
    )
    dow = dt.groupBy(F.dayofweek("day").alias("dw")).agg(
        F.avg("detr").alias("s_raw")
    )
    center = dow.agg(F.avg("s_raw").alias("s_mean"))
    seasonal = dow.crossJoin(F.broadcast(center)).select(
        "dw", (F.col("s_raw") - F.col("s_mean")).alias("seasonal")
    )
    return (
        dt.join(F.broadcast(seasonal), F.dayofweek("day") == F.col("dw"))
        .select(
            "day",
            F.round("v", 4).alias("value"),
            F.round("trend", 4).alias("trend"),
            F.round("seasonal", 4).alias("seasonal"),
            F.round(
                F.col("v") - F.col("trend") - F.col("seasonal"), 4
            ).alias("residual"),
        )
        .orderBy("day")
    )


STL_SQL = """
WITH daily AS (
  SELECT date_trunc('day', ts) AS day, avg(value) AS v
  FROM events GROUP BY 1
), dt AS (
  SELECT day, v,
         avg(v) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
           AS trend
  FROM daily
), dow AS (
  SELECT dayofweek(day) + 1 AS dw, avg(v - trend) AS s_raw
  FROM dt GROUP BY 1
), seasonal AS (
  SELECT dw, s_raw - (SELECT avg(s_raw) FROM dow) AS seasonal FROM dow
)
SELECT day,
       round(v, 4) AS value,
       round(trend, 4) AS trend,
       round(seasonal, 4) AS seasonal,
       round(v - trend - seasonal, 4) AS residual
FROM dt JOIN seasonal ON dayofweek(day) + 1 = dw
ORDER BY day
"""


# =====================================================================
# EWMA smoothing of the daily series (closed form, no recursion)
# =====================================================================

_EWMA_ALPHA = 0.3


def ewma_daily_trend(spark, sf_dir):
    """Exponentially-weighted moving average of the daily mean event
    value (alpha = 0.3, s_1 = x_1) plus the one-step-ahead forecast
    error |x_t - s_{t-1}| — the monitoring smoother behind every
    'is today off-trend?' alert.

    The recursion is rewritten in closed form so it is pure window
    algebra (no iterative state): s_t = alpha * sum_{i<=t} r^(t-i) x_i
    + r^(t-1) (1-alpha-...) — concretely, a running sum of x_i * r^-i
    rescaled by r^t, with the s_1 = x_1 boundary carried by
    first_value. r^-i grows only over the bounded calendar span, so
    the rescaling stays in double range by construction.

    Scale shape: one groupBy to the daily series, then bounded
    windows (allowlisted, same bound as the interpolation entry)."""
    r = 1.0 - _EWMA_ALPHA
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.avg("value").alias("v")
    )
    w_all = Window.orderBy("day")
    w_cum = w_all.rowsBetween(Window.unboundedPreceding, 0)
    d = (
        daily.withColumn("t", F.row_number().over(w_all))
        .withColumn("u", F.col("v") * F.pow(F.lit(r), -F.col("t")))
        .withColumn("usum", F.sum("u").over(w_cum))
        .withColumn("x1", F.first("v").over(w_cum))
        .withColumn("u1", F.first("u").over(w_cum))
    )
    ewma = F.when(F.col("t") == 1, F.col("v")).otherwise(
        F.lit(_EWMA_ALPHA)
        * F.pow(F.lit(r), F.col("t"))
        * (F.col("usum") - F.col("u1"))
        + F.pow(F.lit(r), F.col("t") - 1) * F.col("x1")
    )
    d = d.withColumn("ewma", ewma)
    prev = F.lag("ewma").over(w_all)
    return d.select(
        "day",
        F.round("v", 4).alias("value"),
        F.round("ewma", 4).alias("ewma"),
        F.round(F.abs(F.col("v") - prev), 4).alias("forecast_abs_err"),
    ).orderBy("day")


EWMA_SQL = """
WITH daily AS (
  SELECT date_trunc('day', ts) AS day, avg(value) AS v
  FROM events GROUP BY 1
), d AS (
  SELECT day, v,
         row_number() OVER (ORDER BY day) AS t,
         v * pow(0.7, -row_number() OVER (ORDER BY day)) AS u
  FROM daily
), c AS (
  SELECT day, v, t, u,
         sum(u) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS usum,
         first_value(v) OVER (ORDER BY day) AS x1,
         first_value(u) OVER (ORDER BY day) AS u1
  FROM d
), e AS (
  SELECT day, v,
         CASE WHEN t = 1 THEN v
              ELSE 0.3 * pow(0.7, t) * (usum - u1) + pow(0.7, t - 1) * x1
         END AS ewma
  FROM c
)
SELECT day,
       round(v, 4) AS value,
       round(ewma, 4) AS ewma,
       round(abs(v - lag(ewma) OVER (ORDER BY day)), 4) AS forecast_abs_err
FROM e
ORDER BY day
"""


# =====================================================================
# Zipf rank-frequency fit over the token distribution
# =====================================================================

_ZIPF_TOP = 1000


def zipf_fit_tokens(spark, sf_dir):
    """Zipf's-law health check of the corpus token distribution: take
    the top-1000 tokens by frequency, regress ln(freq) on ln(rank)
    (closed-form OLS), and report the slope (a healthy natural-language
    corpus sits near -1; template/spam-heavy corpora flatten), the
    intercept, and R^2. One row.

    Scale shape: one explode shuffle to token counts; the top-1000 cut
    is TakeOrderedAndProject (per-partition heaps, no global sort); the
    rank window and the OLS run over the FIXED 1000-row head
    (allowlisted bound). Ties broken by token so the rank assignment —
    and therefore the fit — is deterministic."""
    docs = _t(spark, sf_dir, "documents")
    counts = (
        docs.select(
            F.explode(
                F.split(
                    F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")),
                    " ",
                )
            ).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    top = counts.orderBy(F.desc("freq"), "token").limit(_ZIPF_TOP)
    w = Window.orderBy(F.desc("freq"), "token")
    pts = top.select(
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col("freq").cast("double")).alias("y"),
    )
    agg = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / n
    varx = F.col("sxx") - F.col("sx") * F.col("sx") / n
    vary = F.col("syy") - F.col("sy") * F.col("sy") / n
    slope = cov / varx
    return agg.select(
        F.col("n").cast("long").alias("n_tokens_fit"),
        F.round(slope, 4).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / n, 4).alias(
            "intercept"
        ),
        F.round(cov * cov / (varx * vary), 4).alias("r2"),
    )


ZIPF_SQL = r"""
WITH counts AS (
  SELECT token, count(*) AS freq
  FROM (
    SELECT unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS token
    FROM documents
  ) GROUP BY token
), top AS (
  SELECT token, freq FROM counts ORDER BY freq DESC, token LIMIT 1000
), pts AS (
  SELECT ln(CAST(row_number() OVER (ORDER BY freq DESC, token) AS DOUBLE)) AS x,
         ln(CAST(freq AS DOUBLE)) AS y
  FROM top
), agg AS (
  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
  FROM pts
)
SELECT CAST(n AS BIGINT) AS n_tokens_fit,
       round((sxy - sx * sy / n) / (sxx - sx * sx / n), 4) AS zipf_slope,
       round((sy - (sxy - sx * sy / n) / (sxx - sx * sx / n) * sx) / n, 4)
         AS intercept,
       round((sxy - sx * sy / n) * (sxy - sx * sy / n)
             / ((sxx - sx * sx / n) * (syy - sy * sy / n)), 4) AS r2
FROM agg
"""


# =====================================================================
# vocabulary growth checkpoints (Heaps'-law read)
# =====================================================================

_VG_BUCKETS = 10


def vocab_growth_checkpoints(spark, sf_dir):
    """Vocabulary growth curve: split the corpus into 10 doc-id-range
    buckets and report, at each cumulative checkpoint, the token count
    and the DISTINCT vocabulary seen so far — the Heaps'-law read that
    tells you whether more crawl keeps buying new vocabulary or the
    corpus has saturated (a dedup/quality signal at the corpus level).

    Scale shape: cumulative distinct WITHOUT re-scanning per
    checkpoint — each token contributes its FIRST bucket (one groupBy
    min), then the per-bucket first-appearance counts cumulate over the
    10-row checkpoint table (bounded window). Token totals cumulate the
    same way. One explode shuffle total."""
    docs = _t(spark, sf_dir, "documents")
    rng = docs.agg(
        F.min("doc_id").alias("lo"), (F.max("doc_id") + 1).alias("hi")
    )
    toks = (
        docs.select("doc_id", F.explode(
            F.split(
                F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "
            )
        ).alias("token"))
        .crossJoin(F.broadcast(rng))
        .select(
            "token",
            F.least(
                F.lit(_VG_BUCKETS - 1),
                F.floor(
                    (F.col("doc_id") - F.col("lo"))
                    * _VG_BUCKETS
                    / (F.col("hi") - F.col("lo"))
                ).cast("int"),
            ).alias("bucket"),
        )
    )
    first_seen = (
        toks.groupBy("token")
        .agg(F.min("bucket").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("new_vocab"))
    )
    totals = toks.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_tokens"))
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        totals.join(first_seen, "bucket", "left")
        .select(
            "bucket",
            F.sum("n_tokens").over(w).cast("long").alias("tokens_cum"),
            F.sum(F.coalesce("new_vocab", F.lit(0)))
            .over(w)
            .cast("long")
            .alias("vocab_cum"),
        )
        .orderBy("bucket")
    )


VOCAB_GROWTH_SQL = r"""
WITH rng AS (
  SELECT min(doc_id) AS lo, max(doc_id) + 1 AS hi FROM documents
), toks AS (
  SELECT token,
         least(9, CAST(floor((doc_id - lo) * 10 / (hi - lo)) AS INT)) AS bucket
  FROM (
    SELECT doc_id,
           unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS token
    FROM documents
  ) CROSS JOIN rng
), first_seen AS (
  SELECT bucket, count(*) AS new_vocab FROM (
    SELECT token, min(bucket) AS bucket FROM toks GROUP BY token
  ) GROUP BY bucket
), totals AS (
  SELECT bucket, count(*) AS n_tokens FROM toks GROUP BY bucket
)
SELECT bucket,
       CAST(sum(n_tokens) OVER (ORDER BY bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS tokens_cum,
       CAST(sum(coalesce(new_vocab, 0)) OVER (ORDER BY bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS vocab_cum
FROM totals LEFT JOIN first_seen USING (bucket)
ORDER BY bucket
"""


# =====================================================================
# binary-segmentation changepoint (single best split)
# =====================================================================

def binary_segmentation_split(spark, sf_dir):
    """Single best changepoint of the daily mean event series by binary
    segmentation: the split s maximizing the between-segment sum of
    squares n1*n2/n * (mean1-mean2)^2 — the classic complement to the
    CUSUM detector (cusum_changepoints_events finds sustained drifts;
    this finds the single strongest level shift, and recursing on the
    halves is the standard multi-changepoint extension). Emits the
    argmax split with both segment means and the BSS score.

    Scale shape: the corpus collapses to the daily series; candidate
    splits are evaluated from ONE cumulative-sum pass (bounded window,
    allowlisted), and the argmax orders by the 1e-6-QUANTIZED score
    (then day) so a last-ULP difference between engines cannot flip
    the winner."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.avg("value").alias("v")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select(
        "day",
        F.row_number().over(Window.orderBy("day")).alias("t"),
        F.sum("v").over(w).alias("cs"),
    )
    tot = cum.agg(
        F.max("t").alias("n"), F.max("cs").alias("cstot")
    )
    c = cum.crossJoin(F.broadcast(tot)).filter(
        (F.col("t") >= 2) & (F.col("t") <= F.col("n") - 2)
    )
    n1 = F.col("t").cast("double")
    n2 = (F.col("n") - F.col("t")).cast("double")
    m1 = F.col("cs") / n1
    m2 = (F.col("cstot") - F.col("cs")) / n2
    bss = n1 * n2 / F.col("n").cast("double") * (m1 - m2) * (m1 - m2)
    scored = c.select(
        "day",
        F.round(bss * 1e6).cast("long").alias("bss_q"),
        F.round(m1, 4).alias("left_mean"),
        F.round(m2, 4).alias("right_mean"),
    )
    return (
        scored.orderBy(F.desc("bss_q"), "day")
        .limit(1)
        .select(
            F.col("day").alias("split_day"),
            "left_mean",
            "right_mean",
            (F.col("bss_q").cast("double") / 1e6).alias("bss"),
        )
    )


BINSEG_SQL = """
WITH daily AS (
  SELECT date_trunc('day', ts) AS day, avg(value) AS v
  FROM events GROUP BY 1
), cum AS (
  SELECT day,
         row_number() OVER (ORDER BY day) AS t,
         sum(v) OVER (ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
  FROM daily
), tot AS (
  SELECT max(t) AS n, max(cs) AS cstot FROM cum
), scored AS (
  SELECT day,
         CAST(round(t * (n - t) / CAST(n AS DOUBLE)
               * (cs / t - (cstot - cs) / (n - t))
               * (cs / t - (cstot - cs) / (n - t)) * 1e6) AS BIGINT) AS bss_q,
         round(cs / t, 4) AS left_mean,
         round((cstot - cs) / (n - t), 4) AS right_mean
  FROM cum CROSS JOIN tot
  WHERE t >= 2 AND t <= n - 2
)
SELECT day AS split_day, left_mean, right_mean,
       CAST(bss_q AS DOUBLE) / 1e6 AS bss
FROM scored
ORDER BY bss_q DESC, day
LIMIT 1
"""


# =====================================================================
# ABC (Pareto) classification of parts by revenue
# =====================================================================

def abc_classification_parts(spark, sf_dir):
    """ABC / Pareto classification of parts by revenue: parts are
    ranked by revenue descending and classified A while the PRIOR
    cumulative share is < 80%, B until < 95%, else C — the inventory
    analysis that tells a 100 TB warehouse which fraction of keys
    carries the volume (and therefore where skew mitigation pays).

    Scale shape: revenue quantizes PER ROW — price and discount are
    exact 2-dp values, so cents_e * (100 - disc_pct) is an exact long
    in 1e-4-dollar units BEFORE any sum (a per-part round of a float
    sum hit .5-cent boundaries and flipped 14/2000 parts between
    engines); every cumulative sum and threshold comparison is then
    exact-integer cross-engine; the descending rank comes from global_row_number
    (range-partition + offsets, never a single-task window) and the
    running total reuses the same two-phase pattern: block sums over
    rid-div-1024 blocks, a bounded window over the block table, and a
    block-partitioned within prefix."""
    from kinesis_app_spark.operators.scale import global_row_number

    li = _t(spark, sf_dir, "lineitem")
    cents_e = F.round(F.col("l_extendedprice") * 100).cast("long")
    d_pct = F.round(F.col("l_discount") * 100).cast("long")
    # pinned: per_part feeds the ranking AND the grand total, blocked
    # feeds the block sums AND the within-block prefix join — without
    # the pins the lineitem fold (and the whole two-phase ranking)
    # re-ran once per consumer
    per_part = li.groupBy("l_partkey").agg(
        F.sum(cents_e * (100 - d_pct)).alias("rev_u4")
    ).transform(pin, eager=False)
    ordered = global_row_number(
        per_part.select(
            (-F.col("rev_u4")).alias("neg_rev"), "l_partkey", "rev_u4"
        ),
        ["neg_rev", "l_partkey"],
    ).select("rid", "l_partkey", "rev_u4")
    blocked = ordered.withColumn(
        "blk", F.floor(F.col("rid") / 1024)
    ).transform(pin, eager=False)
    blk_tot = blocked.groupBy("blk").agg(F.sum("rev_u4").alias("bs"))
    w_blk = Window.orderBy("blk").rowsBetween(Window.unboundedPreceding, -1)
    blk_tot = blk_tot.withColumn(
        "off", F.coalesce(F.sum("bs").over(w_blk), F.lit(0))
    )
    w_in = Window.partitionBy("blk").orderBy("rid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    tot = per_part.agg(F.sum("rev_u4").alias("grand"))
    cum = (
        blocked.join(blk_tot.select("blk", "off"), "blk")
        .withColumn(
            "prior", F.col("off") + F.coalesce(F.sum("rev_u4").over(w_in), F.lit(0))
        )
        .crossJoin(F.broadcast(tot))
    )
    cls = (
        F.when(F.col("prior") * 100 < F.col("grand") * 80, "A")
        .when(F.col("prior") * 100 < F.col("grand") * 95, "B")
        .otherwise("C")
    )
    return cum.select(
        "rid",
        "l_partkey",
        "rev_u4",
        (F.col("prior") + F.col("rev_u4")).alias("cum_u4"),
        F.round((F.col("prior") + F.col("rev_u4")) / F.col("grand"), 6).alias(
            "cum_share"
        ),
        cls.alias("abc_class"),
    ).orderBy("rid")


ABC_SQL = """
WITH per_part AS (
  SELECT l_partkey,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                  * (100 - CAST(round(l_discount * 100) AS BIGINT)))
              AS BIGINT) AS rev_u4
  FROM lineitem GROUP BY l_partkey
), ordered AS (
  SELECT l_partkey, rev_u4,
         row_number() OVER (ORDER BY rev_u4 DESC, l_partkey) AS rid,
         coalesce(sum(rev_u4) OVER (ORDER BY rev_u4 DESC, l_partkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior,
         sum(rev_u4) OVER () AS grand
  FROM per_part
)
SELECT rid, l_partkey, rev_u4,
       prior + rev_u4 AS cum_u4,
       round((prior + rev_u4) / CAST(grand AS DOUBLE), 6) AS cum_share,
       CASE WHEN prior * 100 < grand * 80 THEN 'A'
            WHEN prior * 100 < grand * 95 THEN 'B'
            ELSE 'C' END AS abc_class
FROM ordered
ORDER BY rid
"""


# =====================================================================
# time-weighted average over irregular samples (TWAP)
# =====================================================================

def time_weighted_avg_users(spark, sf_dir):
    """Time-weighted average event value per user: each value 'holds'
    until the user's next event, so the mean weights by holding
    DURATION, not by sample count — the correct average for
    irregularly-sampled state (balances, prices, gauge metrics), where
    the plain mean over-weights busy periods.

    Scale shape: one per-user window (lead) over one keyed sort; the
    weighted sum is exact int64 — value in exact milli-units times
    duration in exact microseconds (magnitudes bounded by the
    observation span) — so both engines agree bit-for-bit before the
    single final division."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("t"),
        F.round(F.col("value") * 1000).cast("long").alias("v_milli"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    seg = ev.select(
        "user_id",
        "v_milli",
        (F.lead("t").over(w) - F.col("t")).alias("dur_us"),
    ).filter(F.col("dur_us").isNotNull())
    return (
        seg.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum("dur_us").alias("total_us"),
            F.sum(F.col("v_milli") * F.col("dur_us")).alias("wv"),
        )
        .select(
            "user_id",
            "n_segments",
            "total_us",
            F.round(
                F.col("wv") / (F.col("total_us").cast("double") * 1000.0), 4
            ).alias("twap"),
        )
        .orderBy("user_id")
    )


TWAP_SQL = """
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS t,
         CAST(round(value * 1000) AS BIGINT) AS v_milli, event_id
  FROM events
), seg AS (
  SELECT user_id, v_milli,
         lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) - t
           AS dur_us
  FROM ev
)
SELECT user_id,
       count(*) AS n_segments,
       CAST(sum(dur_us) AS BIGINT) AS total_us,
       round(sum(v_milli * dur_us)
             / (CAST(sum(dur_us) AS DOUBLE) * 1000.0), 4) AS twap
FROM seg
WHERE dur_us IS NOT NULL
GROUP BY user_id
ORDER BY user_id
"""


# =====================================================================
# per-user behavioral sequence entropy
# =====================================================================

def sequence_entropy_users(spark, sf_dir):
    """Per-user Shannon entropy of the event-type BIGRAM distribution
    (consecutive pairs in time order): low entropy = scripted/bot-like
    behavior, high = diverse organic sessions — the behavioral
    predictability score fraud and quality pipelines bucket users by.
    Emits raw and max-normalized entropy.

    Scale shape: one per-user lag window (the sessionize shuffle
    shape), bigram counts per user via a keyed aggregate, entropy as a
    second keyed aggregate over (user, bigram) counts — everything
    partitioned by user_id, nothing global."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    big = (
        ev.select(
            "user_id",
            "event_type",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy(
            "user_id",
            F.concat_ws(">", "prev_type", "event_type").alias("bigram"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # each c*ln(c) term quantized to a 1e-6 integer grid BEFORE the sum:
    # integer addition is associative, so cross-partition summation order
    # can't land a last-ULP difference on the 4-dp rounding boundary (the
    # MI/PSI/KM reassociation discipline; terms are >= 0 so HALF_UP
    # matches DuckDB's half-away-from-zero)
    per_user = big.groupBy("user_id").agg(
        F.sum("c").alias("n_bigrams"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(
            F.round(F.col("c") * F.log("c") * 1e6).cast("long")
        ).alias("clogc_u6"),
    )
    h = (
        F.log(F.col("n_bigrams"))
        - F.col("clogc_u6") / 1e6 / F.col("n_bigrams")
    )
    return per_user.select(
        "user_id",
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        F.round(h, 4).alias("entropy"),
        F.when(
            F.col("n_distinct") > 1,
            F.round(h / F.log(F.col("n_distinct").cast("double")), 4),
        ).alias("entropy_norm"),
    ).orderBy("user_id")


SEQUENCE_ENTROPY_SQL = """
WITH big AS (
  SELECT user_id,
         concat_ws('>', lag(event_type) OVER (PARTITION BY user_id
             ORDER BY ts, event_id), event_type) AS bigram,
         lag(event_type) OVER (PARTITION BY user_id
             ORDER BY ts, event_id) AS prev_type
  FROM events
), cnt AS (
  SELECT user_id, bigram, count(*) AS c
  FROM big WHERE prev_type IS NOT NULL
  GROUP BY user_id, bigram
), per_user AS (
  SELECT user_id, sum(c) AS n_bigrams, count(*) AS n_distinct,
         sum(CAST(round(c * ln(c) * 1e6) AS BIGINT)) AS clogc_u6
  FROM cnt GROUP BY user_id
)
SELECT user_id,
       CAST(n_bigrams AS BIGINT) AS n_bigrams,
       CAST(n_distinct AS BIGINT) AS n_distinct,
       round(ln(n_bigrams) - clogc_u6 / 1e6 / n_bigrams, 4) AS entropy,
       CASE WHEN n_distinct > 1
            THEN round((ln(n_bigrams) - clogc_u6 / 1e6 / n_bigrams)
                       / ln(CAST(n_distinct AS DOUBLE)), 4)
       END AS entropy_norm
FROM per_user
ORDER BY user_id
"""


# =====================================================================
# retention-curve exponential fit
# =====================================================================

def retention_curve_fit(spark, sf_dir):
    """Pooled weekly retention curve fit: rate(k) = users active k
    weeks after their first touch / users in cohorts OLD ENOUGH to be
    observed at offset k, then a log-linear OLS on ln(rate) for k >= 1
    — the exponential-decay read (weekly retention multiplier and
    half-life) product analytics fits on every cohort table.

    Scale shape: reuses the cohort_retention shuffles (two keyed
    aggregations on user_id); the curve itself is offsets-x-1 rows
    (bounded by the observation span in weeks) and the OLS is a 1-row
    closed form over it."""
    ev = _t(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("week", F.col("ts"))).alias("cw")
    )
    act = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")
    ).distinct()
    cells = (
        act.join(first, "user_id")
        .select(
            "cw",
            (F.datediff(F.col("wk").cast("date"), F.col("cw").cast("date")) / 7)
            .cast("int")
            .alias("k"),
        )
        .groupBy("cw", "k")
        .agg(F.count(F.lit(1)).alias("users"))
    )
    sizes = cells.filter(F.col("k") == 0).select(
        "cw", F.col("users").alias("cohort_n")
    )
    maxw = ev.agg(F.max(F.date_trunc("week", F.col("ts"))).alias("mw"))
    eligible = sizes.crossJoin(F.broadcast(maxw)).select(
        "cw",
        "cohort_n",
        (F.datediff(F.col("mw").cast("date"), F.col("cw").cast("date")) / 7)
        .cast("int")
        .alias("max_k"),
    )
    rates = (
        cells.join(eligible, "cw")
        .filter(F.col("k") <= F.col("max_k"))
        .groupBy("k")
        .agg(
            F.sum("users").alias("active"),
            F.sum("cohort_n").alias("base"),
        )
        .filter(F.col("k") >= 1)
        .select(
            "k",
            (F.col("active") / F.col("base")).alias("rate"),
        )
    )
    pts = rates.select(
        F.col("k").cast("double").alias("x"), F.log("rate").alias("y")
    )
    agg = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    den = F.col("sxx") - F.col("sx") * F.col("sx") / n
    b = F.when(
        den != 0, (F.col("sxy") - F.col("sx") * F.col("sy") / n) / den
    )
    # b = 0 (perfect retention) or a degenerate single-offset curve
    # yields NULL half-life, not a division error
    return agg.select(
        F.col("n").cast("long").alias("n_points"),
        F.round(F.exp(b), 4).alias("weekly_retention_multiplier"),
        F.when(b < 0, F.round(-F.log(F.lit(2.0)) / b, 4)).alias(
            "half_life_weeks"
        ),
    )


RETENTION_FIT_SQL = """
WITH first AS (
  SELECT user_id, min(date_trunc('week', ts)) AS cw FROM events GROUP BY 1
), act AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
), cells AS (
  SELECT f.cw, CAST(datediff('day', f.cw, a.wk) / 7 AS INT) AS k,
         count(*) AS users
  FROM act a JOIN first f USING (user_id)
  GROUP BY 1, 2
), sizes AS (
  SELECT cw, users AS cohort_n FROM cells WHERE k = 0
), maxw AS (
  SELECT max(date_trunc('week', ts)) AS mw FROM events
), eligible AS (
  SELECT cw, cohort_n,
         CAST(datediff('day', cw, mw) / 7 AS INT) AS max_k
  FROM sizes CROSS JOIN maxw
), rates AS (
  SELECT k, sum(users) / CAST(sum(cohort_n) AS DOUBLE) AS rate
  FROM cells JOIN eligible USING (cw)
  WHERE k <= max_k
  GROUP BY k
  HAVING k >= 1
), pts AS (
  SELECT CAST(k AS DOUBLE) AS x, ln(rate) AS y FROM rates
), agg AS (
  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy
  FROM pts
)
SELECT CAST(n AS BIGINT) AS n_points,
       round(exp((sxy - sx * sy / n)
                 / nullif(sxx - sx * sx / n, 0)), 4)
         AS weekly_retention_multiplier,
       CASE WHEN (sxy - sx * sy / n) / nullif(sxx - sx * sx / n, 0) < 0
            THEN round(-ln(2.0) / ((sxy - sx * sy / n)
                       / nullif(sxx - sx * sx / n, 0)), 4)
       END AS half_life_weeks
FROM agg
"""


# =====================================================================
# functional-dependency discovery (pairwise strength profile)
# =====================================================================

_FD_COLS = [
    "o_orderstatus",
    "o_orderpriority",
    "o_custkey",
    "o_orderkey",
]


def fd_discovery_orders(spark, sf_dir):
    """Pairwise functional-dependency DISCOVERY over orders columns:
    for every ordered pair X -> Y, strength = sum over x of max_y
    count(x, y) / n — 1.0 means X determines Y exactly (o_orderkey ->
    everything), values near 1/|Y| mean independence. The profiling
    complement of functional_dependency_audit: the audit CHECKS
    declared FDs, this FINDS candidates (the first step of schema
    normalization / key detection on an unknown table).

    Scale shape (r3 one-scan rewrite; r9 unordered-pair halving): each
    row is exploded ONCE into its 6 UNORDERED-pair (pair_id, xv, yv)
    cells — inline() of a literal struct array, the pr_threshold_sweep
    unpivot discipline. The (X,Y) and (Y,X) directions share one cell
    table (c(x,y) = c(y,x)), so the expensive first exchange carries
    half the cells of the ordered form, keyed by a small int pair id
    instead of two name strings; the pinned cells then feed both
    direction aggregates (per-(pair, xv) and per-(pair, yv) max+sum,
    then per-pair totals — all map-side combinable). ONE scan of
    orders; n per pair falls out of the same aggregate. The pair loop
    is over the COLUMN list (6 unordered pairs), not data."""
    od = _t(spark, sf_dir, "orders")
    # Round 9 (§2.3/§2.4): the (X,Y) and (Y,X) directions share one
    # cell table — c(x,y) for X->Y IS c(y,x) for Y->X — so explode each
    # UNORDERED pair once (6 structs/row, not 12) and derive both
    # directions from the pinned cells. The pair travels as a small int
    # id, not two column-name strings, further narrowing the exchange.
    upairs = [
        (x, y)
        for i, x in enumerate(_FD_COLS)
        for y in _FD_COLS[i + 1:]
    ]
    cells_lit = F.array(
        *[
            F.struct(
                F.lit(p).alias("p"),
                F.col(x).cast("string").alias("xv"),
                F.col(y).cast("string").alias("yv"),
            )
            for p, (x, y) in enumerate(upairs)
        ]
    )
    cells = (
        od.select(F.inline(cells_lit))
        .groupBy("p", "xv", "yv")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(pin, eager=False)  # feeds BOTH direction aggregates
    )

    def _direction(group_col: str, names):
        per_x = cells.groupBy("p", group_col).agg(
            F.max("c").alias("mx"), F.sum("c").alias("sx")
        )
        det = F.element_at(F.array(*[F.lit(n) for n, _ in names]),
                           F.col("p") + 1)
        dep = F.element_at(F.array(*[F.lit(n) for _, n in names]),
                           F.col("p") + 1)
        return per_x.groupBy("p").agg(
            F.sum("mx").cast("long").alias("max_consistent"),
            F.sum("sx").cast("long").alias("n"),
        ).select(
            det.alias("determinant"), dep.alias("dependent"),
            "max_consistent", "n",
        )

    per_pair = _direction("xv", upairs).unionByName(
        _direction("yv", [(y, x) for x, y in upairs])
    )
    return (
        per_pair.select(
            "determinant",
            "dependent",
            "max_consistent",
            F.round(F.col("max_consistent") / F.col("n"), 6).alias(
                "fd_strength"
            ),
            (F.col("max_consistent") == F.col("n")).alias("exact_fd"),
        )
        .orderBy("determinant", "dependent")
    )


def _fd_discovery_sql() -> str:
    blocks = []
    for x in _FD_COLS:
        for y in _FD_COLS:
            if x == y:
                continue
            blocks.append(f"""
  SELECT '{x}' AS determinant, '{y}' AS dependent,
         CAST(sum(mx) AS BIGINT) AS max_consistent
  FROM (
    SELECT max(c) AS mx FROM (
      SELECT CAST({x} AS VARCHAR) AS xv, CAST({y} AS VARCHAR) AS yv,
             count(*) AS c
      FROM orders GROUP BY 1, 2
    ) GROUP BY xv
  )""")
    union = "\n  UNION ALL".join(blocks)
    return f"""
WITH tot AS (SELECT count(*) AS n FROM orders),
pairs AS ({union}
)
SELECT determinant, dependent, max_consistent,
       round(max_consistent / CAST(n AS DOUBLE), 6) AS fd_strength,
       max_consistent = n AS exact_fd
FROM pairs CROSS JOIN tot
ORDER BY determinant, dependent
"""


FD_DISCOVERY_SQL = _fd_discovery_sql()


# =====================================================================
# differentially-private noisy counts (deterministic Laplace)
# =====================================================================

_DP_EPSILON = 1.0


def dp_noisy_nation_counts(spark, sf_dir):
    """Laplace-mechanism noisy release of per-nation customer counts
    (sensitivity 1, epsilon 1) — the privacy-suite capstone after
    k-anonymity / l-diversity / t-closeness: those AUDIT a dataset,
    this RELEASES an aggregate. Noise is Laplace(1/eps) via the exact
    inverse CDF -b*sign(u-.5)*ln(1-2|u-.5|) on a PORTABLE hash-uniform
    u — deterministic so the mechanism itself sits under the
    cross-engine value gate. In production swap the hash for a secure
    RNG; hash-determinism is the TEST harness property (it also models
    seeded-noise releases, where re-running a report must not leak a
    fresh noise draw).

    Scale shape: one keyed count + pure per-row arithmetic; the ln()
    term is quantized at 1e-6 (the PSI convention)."""
    cu = _t(spark, sf_dir, "customer")
    counts = cu.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("true_n")
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("dp:"), F.col("c_nationkey"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 1000000
    ) / 1e6
    centered = u - 0.5
    b = 1.0 / _DP_EPSILON
    noise_raw = (
        -F.lit(b)
        * F.signum(centered)
        * F.log(1 - 2 * F.abs(centered))
    )
    noise = F.round(noise_raw * 1e6).cast("long").cast("double") / 1e6
    return counts.select(
        "c_nationkey",
        "true_n",
        F.round(noise, 6).alias("noise"),
        F.greatest(
            F.lit(0),
            F.round(F.col("true_n") + noise).cast("long"),
        ).alias("noisy_n"),
        F.lit(_DP_EPSILON).alias("epsilon"),
    ).orderBy("c_nationkey")


DP_NOISY_SQL = """
WITH counts AS (
  SELECT c_nationkey, count(*) AS true_n FROM customer GROUP BY c_nationkey
), noised AS (
  SELECT c_nationkey, true_n,
         CAST(round(
           (-1.0 * sign((('0x' || substr(md5('dp:' || c_nationkey), 1, 8))::BIGINT
                         % 1000000) / 1e6 - 0.5)
            * ln(1 - 2 * abs((('0x' || substr(md5('dp:' || c_nationkey), 1, 8))::BIGINT
                              % 1000000) / 1e6 - 0.5))) * 1e6)
           AS BIGINT) / 1e6 AS noise
  FROM counts
)
SELECT c_nationkey, true_n,
       round(noise, 6) AS noise,
       greatest(0, CAST(round(true_n + noise) AS BIGINT)) AS noisy_n,
       1.0 AS epsilon
FROM noised
ORDER BY c_nationkey
"""


# =====================================================================
# streaming sequence entropy (stateful bigram counts)
# =====================================================================

def streaming_sequence_entropy(spark, sf_dir):
    """TRUE streaming behavioral entropy: per-user state carries the
    LAST event type (so a bigram spanning micro-batches is counted
    exactly once) plus the exact bigram count table — the stateful
    twin of sequence_entropy_users under the same oracle. Sentinel
    forces a second micro-batch so the state-store round trip runs
    under the value gate."""
    import datetime as _dt

    from kinesis_app_spark.registry_streaming import _mk_stream
    from kinesis_app_spark.streaming.ops import (
        run_to_memory,
        running_sequence_entropy,
    )

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    stream, ckpt = _mk_stream(
        spark,
        ev,
        cache_key=f"{sf_dir}|seqent",
        sentinel_row=(-1, _dt.datetime(2030, 1, 1), -1, "view"),
        max_files_per_trigger=1,
    )
    out = running_sequence_entropy(
        stream, "user_id", "ts", "event_id", "event_type"
    )
    res = run_to_memory(out, ckpt, output_mode="update", shuffle_partitions=PYSTATE_STREAM_SHUFFLE)
    final = (
        res.filter(F.col("user_id") >= 0)
        .groupBy("user_id")
        .agg(
            F.max("n_bigrams").alias("n_bigrams"),
            F.expr("max_by(n_distinct, nb)").alias("n_distinct"),
            F.expr("max_by(entropy, nb)").alias("entropy"),
            F.expr("max_by(entropy_norm, nb)").alias("entropy_norm"),
        )
    )
    return final.orderBy("user_id")


# =====================================================================
# cross-source duplication matrix (crawl forensics)
# =====================================================================

def cross_source_duplication_matrix(spark, sf_dir):
    """WHERE the near-duplicates come from: every J >= 0.5 pair labeled
    with its (source_a, source_b) combination — within-source mass
    means a source re-crawls itself, cross-source mass means mirrors /
    syndication, and the matrix decides whether dedup should run
    per-source (cheap) or global (necessary). Emits the unordered
    source-pair counts with mean similarity.

    Scale shape: rides the exact inverted-index pair join (hot-shingle
    guarded), then two BROADCAST joins against the doc->source map —
    pairs never re-shuffle on text; the matrix is |sources|^2-bounded."""
    from kinesis_app_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.5)
    src = docs.select("doc_id", "source")
    sa = src.select(
        F.col("doc_id").alias("id_a"), F.col("source").alias("src_a")
    )
    sb = src.select(
        F.col("doc_id").alias("id_b"), F.col("source").alias("src_b")
    )
    labeled = (
        pairs.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .select(
            F.least("src_a", "src_b").alias("source_x"),
            F.greatest("src_a", "src_b").alias("source_y"),
            "jaccard",
        )
    )
    return (
        labeled.groupBy("source_x", "source_y")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg("jaccard"), 4).alias("mean_jaccard"),
            (F.col("source_x") == F.col("source_y")).alias("within_source"),
        )
        .orderBy("source_x", "source_y")
    )


CROSS_SOURCE_DUP_SQL = r"""
WITH norm AS (
  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
  FROM documents
), sh AS (
  SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ')
                                FOR i IN range(1, greatest(len(toks) - 1, 1))]) AS shingles
  FROM norm
  WHERE len(toks) >= 3
), sizes AS (
  SELECT doc_id, len(shingles) AS n_sh FROM sh
), postings AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM sh
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM postings a JOIN postings b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT id_a, id_b,
         round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 4) AS jaccard
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
), labeled AS (
  SELECT least(da.source, db.source) AS source_x,
         greatest(da.source, db.source) AS source_y,
         jaccard
  FROM pairs
  JOIN documents da ON da.doc_id = id_a
  JOIN documents db ON db.doc_id = id_b
)
SELECT source_x, source_y,
       count(*) AS n_pairs,
       round(avg(jaccard), 4) AS mean_jaccard,
       source_x = source_y AS within_source
FROM labeled
GROUP BY source_x, source_y
ORDER BY source_x, source_y
"""


# =====================================================================
# streaming KMV distinct (stateful mergeable sketch)
# =====================================================================

def streaming_kmv_distinct(spark, sf_dir):
    """TRUE streaming distinct-count sketch: per-event-type KMV state
    (the k smallest distinct portable hashes) merged across
    micro-batches — the streaming twin of kmv_grouped_distinct with
    the IDENTICAL 60-bit md5 hash and (k-1)/h_k estimate, so the same
    cross-engine oracle value-gates the stream's approximate answer,
    not just an error envelope. The sentinel forces a second
    micro-batch; KMV is a mergeable sketch, so the cross-batch union
    of states is exactly the batch sketch.

    Scale: 512 bytes of state per key; contrast exact streaming
    count-distinct whose state grows with the keyspace."""
    from kinesis_app_spark.registry_analytics4 import _KMV_K
    from kinesis_app_spark.registry_streaming import _mk_stream
    from kinesis_app_spark.streaming.ops import (
        run_to_memory,
        running_kmv_distinct,
    )
    import datetime as _dt

    ev = _t(spark, sf_dir, "events").select("event_type", "user_id")
    stream, ckpt = _mk_stream(
        spark,
        ev,
        cache_key=f"{sf_dir}|kmv",
        sentinel_row=("__sentinel__", -1),
        max_files_per_trigger=1,
    )
    out = running_kmv_distinct(stream, "event_type", "user_id", k=_KMV_K)
    res = run_to_memory(out, ckpt, output_mode="update", shuffle_partitions=PYSTATE_STREAM_SHUFFLE)
    final = (
        res.filter(F.col("key") != "__sentinel__")
        .groupBy(F.col("key").alias("event_type"))
        .agg(F.expr("max_by(est, nb)").alias("est_distinct"))
    )
    truth = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("true_distinct")
    )
    return (
        final.join(truth, "event_type")
        .select(
            "event_type",
            "est_distinct",
            "true_distinct",
            F.round(
                F.abs(F.col("est_distinct") - F.col("true_distinct"))
                / F.col("true_distinct"),
                4,
            ).alias("rel_error"),
        )
        .orderBy("event_type")
    )


# =====================================================================
# near-dup threshold calibration (Jaccard similarity histogram)
# =====================================================================

def jaccard_threshold_calibration(spark, sf_dir):
    """The histogram that PICKS the dedup threshold: exact trigram
    Jaccard over every candidate pair (>= 1 shared shingle), bucketed
    into 20 fixed-width similarity bins with the descending cumulative
    pair count — read the valley between the noise mode and the
    duplicate mode, that is your threshold. Operating the dedup
    pipeline is part of the pipeline: dedup_ngram_jaccard assumes 0.5,
    this entry is where 0.5 comes from.

    Scale shape: identical join volume to the threshold-0.5 entry (the
    inverted-index posting join with the hot-shingle DF guard computes
    ALL co-shingle pairs before any threshold); the histogram collapses
    the pair set to <= 20 rows, and the cumulative window runs over
    that bounded bin table.

    AT 100 TB RUN THE SAMPLED SIBLING INSTEAD (registry_round4
    jaccard_calibration_sampled): calibration needs statistical scale,
    not corpus scale — the deterministic md5 doc sample cuts pair work
    by rate^2 while preserving the threshold valley; this all-pairs
    form is the gate/diagnostic variant."""
    from kinesis_app_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.0)
    binned = pairs.select(
        F.least(F.lit(19), F.floor(F.col("jaccard") * 20).cast("int")).alias(
            "bin"
        )
    )
    hist = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("n_pairs"))
    w = Window.orderBy(F.desc("bin")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        hist.select(
            "bin",
            F.round(F.col("bin") / 20.0, 2).alias("j_lo"),
            "n_pairs",
            F.sum("n_pairs").over(w).cast("long").alias("pairs_at_or_above"),
        )
        .orderBy("bin")
    )


JACCARD_CALIBRATION_SQL = r"""
WITH norm AS (
  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
  FROM documents
), sh AS (
  SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ')
                                FOR i IN range(1, greatest(len(toks) - 1, 1))]) AS shingles
  FROM norm
  WHERE len(toks) >= 3
), sizes AS (
  SELECT doc_id, len(shingles) AS n_sh FROM sh
), postings AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM sh
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM postings a JOIN postings b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), j AS (
  SELECT round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 4) AS jac
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
), hist AS (
  SELECT least(19, CAST(floor(jac * 20) AS INT)) AS bin, count(*) AS n_pairs
  FROM j GROUP BY 1
)
SELECT bin, round(bin / 20.0, 2) AS j_lo, n_pairs,
       CAST(sum(n_pairs) OVER (ORDER BY bin DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS pairs_at_or_above
FROM hist
ORDER BY bin
"""


# =====================================================================
# Poisson-bootstrap confidence interval (deterministic)
# =====================================================================

_BOOT_B = 50


def bootstrap_ci_purchase_mean(spark, sf_dir):
    """95% bootstrap CI for the mean purchase value via the POISSON
    bootstrap — the map-reduce-native bootstrap (Chamandy et al.):
    each row independently receives a Poisson(1) weight per replicate,
    so no replicate ever needs a global resample. Randomness is a
    PORTABLE md5 hash of (event_id, replicate), making the whole
    procedure deterministic and cross-engine reproducible; weights
    come from the exact Poisson(1) inverse CDF ladder.

    Scale shape: one pass over the filtered measurement column
    replicated x50 by a bounded grid explode; per-replicate sums are
    exact int64 (milli-scaled values x small integer weights); the
    percentile runs over the 50-row replicate-means table. At 100 TB,
    bootstrap a fixed calibration sample (the estimator needs
    statistical, not corpus, scale)."""
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            F.round(F.col("value") * 1000).cast("long").alias("v_milli"),
        )
    )
    b = F.explode(F.sequence(F.lit(1), F.lit(_BOOT_B))).alias("b")
    rep = ev.select("event_id", "v_milli", b)
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("event_id"), F.col("b"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 1000000
    ) / 1e6
    # Poisson(1) inverse-CDF ladder: P(0)=.367879, P(<=1)=.735759,
    # P(<=2)=.919699, P(<=3)=.981012, else 4
    w = (
        F.when(u < 0.367879, 0)
        .when(u < 0.735759, 1)
        .when(u < 0.919699, 2)
        .when(u < 0.981012, 3)
        .otherwise(4)
    )
    means = (
        rep.withColumn("w", w)
        .groupBy("b")
        .agg(
            F.sum(F.col("w") * F.col("v_milli")).alias("ws"),
            F.sum("w").alias("wn"),
        )
        .filter(F.col("wn") > 0)
        .select(
            (F.col("ws") / (F.col("wn") * F.lit(1000.0))).alias("m")
        )
    )
    base = ev.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(F.col("v_milli")) / 1000.0, 4).alias("mean_value"),
    )
    ci = means.agg(
        F.count(F.lit(1)).cast("long").alias("n_boot"),
        F.round(F.expr("percentile(m, 0.025)"), 4).alias("ci_lo"),
        F.round(F.expr("percentile(m, 0.975)"), 4).alias("ci_hi"),
    )
    return base.crossJoin(ci).select(
        F.col("n").cast("long").alias("n"),
        "mean_value",
        "ci_lo",
        "ci_hi",
        "n_boot",
    )


BOOTSTRAP_CI_SQL = """
WITH ev AS (
  SELECT event_id, CAST(round(value * 1000) AS BIGINT) AS v_milli
  FROM events WHERE event_type = 'purchase'
), rep AS (
  SELECT event_id, v_milli, b.b AS b,
         (('0x' || substr(md5(concat_ws(':', event_id, b.b)), 1, 8))::BIGINT
          % 1000000) / 1e6 AS u
  FROM ev CROSS JOIN (SELECT unnest(generate_series(1, 50)) AS b) b
), weighted AS (
  SELECT b, v_milli,
         CASE WHEN u < 0.367879 THEN 0
              WHEN u < 0.735759 THEN 1
              WHEN u < 0.919699 THEN 2
              WHEN u < 0.981012 THEN 3
              ELSE 4 END AS w
  FROM rep
), means AS (
  SELECT b, sum(w * v_milli) / (sum(w) * 1000.0) AS m
  FROM weighted GROUP BY b HAVING sum(w) > 0
), ci AS (
  SELECT CAST(count(*) AS BIGINT) AS n_boot,
         round(quantile_cont(m, 0.025), 4) AS ci_lo,
         round(quantile_cont(m, 0.975), 4) AS ci_hi
  FROM means
), base AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         round(avg(v_milli) / 1000.0, 4) AS mean_value
  FROM ev
)
SELECT n, mean_value, ci_lo, ci_hi, n_boot
FROM base CROSS JOIN ci
"""


# =====================================================================
# weekly harmonic regression (seasonality as closed-form OLS)
# =====================================================================

def harmonic_regression_daily(spark, sf_dir):
    """Weekly seasonality as REGRESSION: fit v_t = a + b sin(2pi t/7)
    + c cos(2pi t/7) over the daily mean series by closed-form
    3-parameter OLS (Cramer on the normal equations) and report the
    amplitude, peak phase (in days) and R^2 — the parametric
    complement of stl_decompose_daily (a smooth two-coefficient
    seasonal instead of 7 free dow means; the amplitude/R^2 pair says
    whether the weekly cycle is real and how big).

    Determinism: sin/cos/atan2 are libm calls that may differ at the
    last ULP across engines, so the regressors are QUANTIZED to the
    1e-9 grid before any product and the phase is computed from
    already-rounded coefficients — the PSI ln() convention applied to
    trigonometry. All windows/aggregates run over the bounded daily
    series."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.avg("value").alias("v")
    )
    t = F.row_number().over(Window.orderBy("day")).cast("double")
    ang = t * (2.0 * 3.141592653589793 / 7.0)

    def q9(col):
        return F.round(col * 1e9).cast("long").cast("double") / 1e9

    pts = daily.select(
        "v",
        q9(F.sin(ang)).alias("x1"),
        q9(F.cos(ang)).alias("x2"),
    )
    a = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum("v").alias("sy"),
        F.sum(F.col("x1") * F.col("v")).alias("s1y"),
        F.sum(F.col("x2") * F.col("v")).alias("s2y"),
        F.sum(F.col("v") * F.col("v")).alias("syy"),
    )
    n = F.col("n").cast("double")
    # Cramer's rule on the 3x3 normal equations [n s1 s2; s1 s11 s12;
    # s2 s12 s22] [a b c]^T = [sy s1y s2y]^T
    det = (
        n * (F.col("s11") * F.col("s22") - F.col("s12") * F.col("s12"))
        - F.col("s1") * (F.col("s1") * F.col("s22") - F.col("s12") * F.col("s2"))
        + F.col("s2") * (F.col("s1") * F.col("s12") - F.col("s11") * F.col("s2"))
    )
    det_a = (
        F.col("sy") * (F.col("s11") * F.col("s22") - F.col("s12") * F.col("s12"))
        - F.col("s1") * (F.col("s1y") * F.col("s22") - F.col("s12") * F.col("s2y"))
        + F.col("s2") * (F.col("s1y") * F.col("s12") - F.col("s11") * F.col("s2y"))
    )
    det_b = (
        n * (F.col("s1y") * F.col("s22") - F.col("s12") * F.col("s2y"))
        - F.col("sy") * (F.col("s1") * F.col("s22") - F.col("s12") * F.col("s2"))
        + F.col("s2") * (F.col("s1") * F.col("s2y") - F.col("s1y") * F.col("s2"))
    )
    det_c = (
        n * (F.col("s11") * F.col("s2y") - F.col("s1y") * F.col("s12"))
        - F.col("s1") * (F.col("s1") * F.col("s2y") - F.col("s1y") * F.col("s2"))
        + F.col("sy") * (F.col("s1") * F.col("s12") - F.col("s11") * F.col("s2"))
    )
    ca = F.round(det_a / det, 6)
    cb = F.round(det_b / det, 6)
    cc = F.round(det_c / det, 6)
    # SSE via the quadratic form: syy - 2(a sy + b s1y + c s2y)
    #                                 + [a b c] M [a b c]^T
    sse = (
        F.col("syy")
        - 2 * (ca * F.col("sy") + cb * F.col("s1y") + cc * F.col("s2y"))
        + (
            ca * (ca * n + cb * F.col("s1") + cc * F.col("s2"))
            + cb * (ca * F.col("s1") + cb * F.col("s11") + cc * F.col("s12"))
            + cc * (ca * F.col("s2") + cb * F.col("s12") + cc * F.col("s22"))
        )
    )
    sst = F.col("syy") - F.col("sy") * F.col("sy") / n
    return a.select(
        F.col("n").cast("long").alias("n_days"),
        ca.alias("mean_level"),
        F.round(F.sqrt(cb * cb + cc * cc), 4).alias("amplitude"),
        F.round(
            F.atan2(cc, cb) * (7.0 / (2.0 * 3.141592653589793)), 4
        ).alias("peak_phase_days"),
        F.round(1 - sse / sst, 4).alias("r2"),
    )


HARMONIC_SQL = """
WITH daily AS (
  SELECT date_trunc('day', ts) AS day, avg(value) AS v
  FROM events GROUP BY 1
), pts AS (
  SELECT v,
         CAST(round(sin(row_number() OVER (ORDER BY day)
              * (2.0 * 3.141592653589793 / 7.0)) * 1e9) AS BIGINT) / 1e9 AS x1,
         CAST(round(cos(row_number() OVER (ORDER BY day)
              * (2.0 * 3.141592653589793 / 7.0)) * 1e9) AS BIGINT) / 1e9 AS x2
  FROM daily
), a AS (
  SELECT count(*) AS n, sum(x1) AS s1, sum(x2) AS s2,
         sum(x1 * x1) AS s11, sum(x1 * x2) AS s12, sum(x2 * x2) AS s22,
         sum(v) AS sy, sum(x1 * v) AS s1y, sum(x2 * v) AS s2y,
         sum(v * v) AS syy
  FROM pts
), solved AS (
  SELECT n, s1, s2, s11, s12, s22, sy, s1y, s2y, syy,
         round((sy * (s11 * s22 - s12 * s12)
                - s1 * (s1y * s22 - s12 * s2y)
                + s2 * (s1y * s12 - s11 * s2y))
               / (n * (s11 * s22 - s12 * s12)
                  - s1 * (s1 * s22 - s12 * s2)
                  + s2 * (s1 * s12 - s11 * s2)), 6) AS ca,
         round((n * (s1y * s22 - s12 * s2y)
                - sy * (s1 * s22 - s12 * s2)
                + s2 * (s1 * s2y - s1y * s2))
               / (n * (s11 * s22 - s12 * s12)
                  - s1 * (s1 * s22 - s12 * s2)
                  + s2 * (s1 * s12 - s11 * s2)), 6) AS cb,
         round((n * (s11 * s2y - s1y * s12)
                - s1 * (s1 * s2y - s1y * s2)
                + sy * (s1 * s12 - s11 * s2))
               / (n * (s11 * s22 - s12 * s12)
                  - s1 * (s1 * s22 - s12 * s2)
                  + s2 * (s1 * s12 - s11 * s2)), 6) AS cc
  FROM a
)
SELECT CAST(n AS BIGINT) AS n_days,
       ca AS mean_level,
       round(sqrt(cb * cb + cc * cc), 4) AS amplitude,
       round(atan2(cc, cb) * (7.0 / (2.0 * 3.141592653589793)), 4)
         AS peak_phase_days,
       round(1 - (syy - 2 * (ca * sy + cb * s1y + cc * s2y)
                  + (ca * (ca * n + cb * s1 + cc * s2)
                     + cb * (ca * s1 + cb * s11 + cc * s12)
                     + cc * (ca * s2 + cb * s12 + cc * s22)))
                 / (syy - sy * sy / n), 4) AS r2
FROM solved
"""


# =====================================================================
# Markov next-event prediction with temporal train/test eval
# =====================================================================

_MARKOV_SPLIT = "2024-01-16"


def markov_next_event_eval(spark, sf_dir):
    """First-order Markov next-event predictor evaluated the honest
    way — TEMPORAL split (train before 2024-01-16, test after), the
    same discipline train_test_split_docs applies to corpora: learn
    argmax(next | prev) transition counts on train bigrams, score
    accuracy per antecedent on test bigrams. The eval-harness shape
    (temporal split -> fit -> join predictions -> per-class accuracy)
    is what any sequence-model baseline reuses.

    Scale shape: bigrams from user-partitioned lag windows; the model
    is |event types| rows joined back as a broadcast; ties in the
    argmax break on (count desc, type asc) so the fitted model is
    deterministic."""
    ev = _t(spark, sf_dir, "events")
    split = F.lit(_MARKOV_SPLIT).cast("timestamp")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        "ts",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lag("ts").over(w).alias("prev_ts"),
    ).filter(F.col("prev_type").isNotNull())
    train = pairs.filter(F.col("ts") < split)
    test = pairs.filter(F.col("prev_ts") >= split)
    # deterministic argmax: count desc, type asc — via a plain window
    # over the |types|^2-row count table (bounded relation)
    wm = Window.partitionBy("prev_type").orderBy(
        F.desc("c"), F.asc("event_type")
    )
    model = (
        train.groupBy("prev_type", "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("rn", F.row_number().over(wm))
        .filter(F.col("rn") == 1)
        .select("prev_type", F.col("event_type").alias("predicted"))
    )
    scored = test.join(F.broadcast(model), "prev_type", "left")
    return (
        scored.groupBy("prev_type", "predicted")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            # coalesce per term: when predicted is NULL (antecedent unseen
            # in training) the comparison is NULL and a bare sum() would be
            # NULL, but the oracle's CASE ... ELSE 0 yields 0 — match it
            F.sum(
                F.coalesce(
                    (F.col("event_type") == F.col("predicted")).cast("long"),
                    F.lit(0),
                )
            ).alias("n_correct"),
        )
        .select(
            "prev_type",
            "predicted",
            "n_test",
            "n_correct",
            F.round(F.col("n_correct") / F.col("n_test"), 6).alias(
                "accuracy"
            ),
        )
        .orderBy("prev_type")
    )


MARKOV_EVAL_SQL = """
WITH pairs AS (
  SELECT ts, event_type,
         lag(event_type) OVER w AS prev_type,
         lag(ts) OVER w AS prev_ts
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), train AS (
  SELECT * FROM pairs
  WHERE prev_type IS NOT NULL AND ts < TIMESTAMP '2024-01-16 00:00:00'
), test AS (
  SELECT * FROM pairs
  WHERE prev_type IS NOT NULL AND prev_ts >= TIMESTAMP '2024-01-16 00:00:00'
), model AS (
  SELECT prev_type, event_type AS predicted FROM (
    SELECT prev_type, event_type, count(*) AS c,
           row_number() OVER (PARTITION BY prev_type
                              ORDER BY count(*) DESC, event_type) AS rn
    FROM train GROUP BY prev_type, event_type
  ) WHERE rn = 1
)
SELECT t.prev_type, m.predicted,
       count(*) AS n_test,
       sum(CASE WHEN t.event_type = m.predicted THEN 1 ELSE 0 END)
         AS n_correct,
       round(sum(CASE WHEN t.event_type = m.predicted THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS accuracy
FROM test t LEFT JOIN model m USING (prev_type)
GROUP BY t.prev_type, m.predicted
ORDER BY t.prev_type
"""


# =====================================================================
# seasonal-naive forecast backtest
# =====================================================================

def seasonal_naive_backtest(spark, sf_dir):
    """Backtest of the seasonal-naive forecaster (prediction = the
    value 7 days earlier) over the daily mean event series: per-day
    absolute/percentage errors aggregated to MAE, RMSE and MAPE — the
    baseline every fancier forecaster must beat, and the harness shape
    (lag-k join + error aggregate) any backtest reuses.

    Scale shape: day-collapsed series, one bounded lag window, one
    1-row aggregate; errors quantized at 1e-6 before the mean so the
    cross-engine comparison is exact."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.avg("value").alias("v")
    )
    w = Window.orderBy("day")
    scored = daily.select(
        "day", "v", F.lag("v", 7).over(w).alias("pred")
    ).filter(F.col("pred").isNotNull())
    abs_err = F.round(F.abs(F.col("v") - F.col("pred")) * 1e6).cast("long")
    sq_err = F.round(
        (F.col("v") - F.col("pred")) * (F.col("v") - F.col("pred")) * 1e6
    ).cast("long")
    ape = F.round(
        F.abs(F.col("v") - F.col("pred")) / F.col("v") * 1e6
    ).cast("long")
    return scored.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.round(F.avg(abs_err) / 1e6, 4).alias("mae"),
        F.round(F.sqrt(F.avg(sq_err) / 1e6), 4).alias("rmse"),
        F.round(F.avg(ape) / 1e4, 4).alias("mape_pct"),
    )


SEASONAL_NAIVE_SQL = """
WITH daily AS (
  SELECT date_trunc('day', ts) AS day, avg(value) AS v
  FROM events GROUP BY 1
), scored AS (
  SELECT day, v, lag(v, 7) OVER (ORDER BY day) AS pred FROM daily
)
SELECT count(*) AS n_days,
       round(avg(CAST(round(abs(v - pred) * 1e6) AS BIGINT)) / 1e6, 4)
         AS mae,
       round(sqrt(avg(CAST(round((v - pred) * (v - pred) * 1e6) AS BIGINT))
                  / 1e6), 4) AS rmse,
       round(avg(CAST(round(abs(v - pred) / v * 1e6) AS BIGINT)) / 1e4, 4)
         AS mape_pct
FROM scored
WHERE pred IS NOT NULL
"""


# =====================================================================
# dedup cluster-size histogram (corpus duplication profile)
# =====================================================================

def dedup_cluster_size_histogram(spark, sf_dir):
    """Counts-of-counts over exact-duplicate clusters: how many
    fingerprint groups have 1, 2, 3, ... members, plus each size's
    share of removable rows — the one-page duplication profile that
    decides whether near-dup passes are even worth running on a crawl
    snapshot.

    Scale shape: two keyed aggregations of hashes (fingerprint ->
    size -> histogram), shuffles carry (md5, count) only; the share
    denominator is a 1-row broadcast."""
    docs = _t(spark, sf_dir, "documents")
    sizes = docs.groupBy(F.md5("text").alias("fp")).agg(
        F.count(F.lit(1)).alias("sz")
    )
    hist = sizes.groupBy("sz").agg(F.count(F.lit(1)).alias("n_clusters"))
    tot = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(
            F.col("sz").cast("long").alias("cluster_size"),
            "n_clusters",
            (F.col("sz") * F.col("n_clusters")).alias("n_rows"),
            ((F.col("sz") - 1) * F.col("n_clusters")).alias("removable"),
            F.round(
                (F.col("sz") - 1) * F.col("n_clusters") / F.col("n_docs"), 6
            ).alias("removable_share"),
        )
        .orderBy("cluster_size")
    )


DEDUP_HISTOGRAM_SQL = """
WITH sizes AS (
  SELECT md5(text) AS fp, count(*) AS sz FROM documents GROUP BY md5(text)
), hist AS (
  SELECT sz, count(*) AS n_clusters FROM sizes GROUP BY sz
), tot AS (SELECT count(*) AS n_docs FROM documents)
SELECT CAST(sz AS BIGINT) AS cluster_size,
       n_clusters,
       sz * n_clusters AS n_rows,
       (sz - 1) * n_clusters AS removable,
       round((sz - 1) * n_clusters / CAST(n_docs AS DOUBLE), 6)
         AS removable_share
FROM hist CROSS JOIN tot
ORDER BY cluster_size
"""


def streaming_twap_users(spark, sf_dir):
    """TRUE streaming TWAP: the stateful twin of
    time_weighted_avg_users — per-key state carries the open holding
    segment (last event's timestamp + value) plus the int64 weighted
    accumulators across micro-batches, so a segment that spans a batch
    boundary is closed exactly when its ending event arrives. Same
    milli-value x exact-microsecond integer discipline, same oracle.
    The sentinel forces a second micro-batch (sentinel key excluded
    from the output), so the state store round-trips under the value
    gate; the segment-SPANNING-batches case is pinned by
    tests/test_round3b.py with a two-file staggered source."""
    from kinesis_app_spark.registry_streaming import _mk_stream
    from kinesis_app_spark.streaming.ops import run_to_memory, running_twap

    import datetime as _dt

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    stream, ckpt = _mk_stream(
        spark,
        ev,
        cache_key=f"{sf_dir}|twap",
        sentinel_row=(-1, _dt.datetime(2030, 1, 1), -1, 0.0),
        max_files_per_trigger=1,
    )
    out = running_twap(stream, "user_id", "ts", "event_id", "value")
    res = run_to_memory(out, ckpt, output_mode="update", shuffle_partitions=PYSTATE_STREAM_SHUFFLE)
    final = (
        res.filter(F.col("user_id") >= 0)
        .groupBy("user_id")
        .agg(
            F.max("n_segments").alias("n_segments"),
            F.max("total_us").alias("total_us"),
            F.expr("max_by(twap, n_segments)").alias("twap"),
        )
        # a key with exactly one event has no closed segment: the batch
        # twin and TWAP_SQL drop it (dur_us IS NOT NULL), so the stream
        # must too — running_twap still emits its open-segment state row
        .filter(F.col("n_segments") > 0)
    )
    return final.orderBy("user_id")


REGISTRY_ROUND3B: dict[str, QuerySpec] = {
    "weighted_quantiles_brands": QuerySpec(
        weighted_quantiles_brands, WEIGHTED_QUANTILES_SQL
    ),
    "timeseries_interpolate_linear": QuerySpec(
        timeseries_interpolate_linear, INTERPOLATE_SQL
    ),
    "mann_whitney_events": QuerySpec(mann_whitney_events, MANN_WHITNEY_SQL),
    "theil_sen_trends": QuerySpec(theil_sen_trends, THEIL_SEN_SQL),
    "token_drift_sources": QuerySpec(token_drift_sources, TOKEN_DRIFT_SQL),
    "sorted_neighborhood_linkage": QuerySpec(
        sorted_neighborhood_linkage, SNM_LINKAGE_SQL
    ),
    "kendall_tau_nations": QuerySpec(kendall_tau_nations, KENDALL_TAU_SQL),
    "stl_decompose_daily": QuerySpec(stl_decompose_daily, STL_SQL),
    "ewma_daily_trend": QuerySpec(ewma_daily_trend, EWMA_SQL),
    "zipf_fit_tokens": QuerySpec(zipf_fit_tokens, ZIPF_SQL),
    "vocab_growth_checkpoints": QuerySpec(
        vocab_growth_checkpoints, VOCAB_GROWTH_SQL
    ),
    "binary_segmentation_split": QuerySpec(
        binary_segmentation_split, BINSEG_SQL
    ),
    "abc_classification_parts": QuerySpec(
        abc_classification_parts, ABC_SQL
    ),
    "time_weighted_avg_users": QuerySpec(
        time_weighted_avg_users, TWAP_SQL
    ),
    "streaming_twap_users": QuerySpec(streaming_twap_users, TWAP_SQL),
    "seasonal_naive_backtest": QuerySpec(
        seasonal_naive_backtest, SEASONAL_NAIVE_SQL
    ),
    "dedup_cluster_size_histogram": QuerySpec(
        dedup_cluster_size_histogram, DEDUP_HISTOGRAM_SQL
    ),
    "sequence_entropy_users": QuerySpec(
        sequence_entropy_users, SEQUENCE_ENTROPY_SQL
    ),
    "retention_curve_fit": QuerySpec(retention_curve_fit, RETENTION_FIT_SQL),
    "markov_next_event_eval": QuerySpec(
        markov_next_event_eval, MARKOV_EVAL_SQL
    ),
    "harmonic_regression_daily": QuerySpec(
        harmonic_regression_daily, HARMONIC_SQL
    ),
    "bootstrap_ci_purchase_mean": QuerySpec(
        bootstrap_ci_purchase_mean, BOOTSTRAP_CI_SQL
    ),
    "jaccard_threshold_calibration": QuerySpec(
        jaccard_threshold_calibration, JACCARD_CALIBRATION_SQL
    ),
    "streaming_kmv_distinct": QuerySpec(streaming_kmv_distinct, None),
    "cross_source_duplication_matrix": QuerySpec(
        cross_source_duplication_matrix, CROSS_SOURCE_DUP_SQL
    ),
    "streaming_sequence_entropy": QuerySpec(
        streaming_sequence_entropy, SEQUENCE_ENTROPY_SQL
    ),
    "dp_noisy_nation_counts": QuerySpec(
        dp_noisy_nation_counts, DP_NOISY_SQL
    ),
    "fd_discovery_orders": QuerySpec(fd_discovery_orders, FD_DISCOVERY_SQL),
}


def _bind_kmv_oracle() -> None:
    from kinesis_app_spark.registry_analytics4 import KMV_GROUPED_SQL

    REGISTRY_ROUND3B["streaming_kmv_distinct"] = QuerySpec(
        streaming_kmv_distinct, KMV_GROUPED_SQL
    )


_bind_kmv_oracle()
