"""Round-3 additions: association-rule mining, bounded weighted
shortest paths, and incremental join-view maintenance.

The reference's computation surface is a per-record callback
(/root/reference/src/Kinesis/Coordination.hs:51-53 — no relational
operators); these entries extend the forward-defined engine surface
(SURVEY.md §2.2 north-star extensions) with three classic production
shapes a 100 TB pipeline needs:

Scale shapes: association rules reuse basket_pairs' in-row pair
expansion (one distinct shuffle, no self-join) and join supports on a
25-row broadcast dimension; shortest paths are Bellman-Ford frontier
rounds (each round is one keyed shuffle join, lineage truncated by
localCheckpoint — the Pregel shape, delta-stepping noted for cluster
scale); the join-view refresh costs O(|delta| join) instead of
O(|table| join) — the standard IVM delta algebra with exact decimal
measures so merged == recomputed bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kinesis_app_spark.streaming.ops import PYSTATE_STREAM_SHUFFLE
from kinesis_app_spark.pinning import pin

from kinesis_app_spark.operators.baskets import basket_pairs
from kinesis_app_spark.registry_util import QuerySpec, table as _t


# =====================================================================
# association rules (support / confidence / lift)
# =====================================================================

_AR_MAX_BASKET = 30
_AR_MIN_PAIRS = 5


def association_rules_brands(spark, sf_dir):
    """Association rules over order baskets at the brand granularity:
    for every directed rule a -> b sharing >= _AR_MIN_PAIRS baskets,
    emit support, confidence and lift; top-50 by lift.

    Scale shape (A-priori discipline): the basket relation shuffles
    ONCE on (orderkey, brand) for the distinct; pair expansion happens
    inside a per-basket sorted array (basket_pairs — no self-join), with
    the quadratic blowup capped by the basket-size gate; supports join
    back as a broadcast (|brands| rows). The min-pair-count gate prunes
    the rule set before the metric math, the same order a production
    FP-growth pass would apply support pruning. All metrics are single
    IEEE divisions over exact counts, so the oracle reproduces them
    bit-for-bit.
    """
    from kinesis_app_spark.operators.baskets import (
        basket_arrays,
        pair_counts_from_arrays,
    )

    li = _t(spark, sf_dir, "lineitem")
    pt = _t(spark, sf_dir, "part")
    # ONE basket fold replaces distinct + sizes-gate join (collect_set is
    # the distinct, size(__arr) the gate); localCheckpoint pins it for the
    # three consumers (n_baskets, supports, pair expansion) instead of
    # re-running the lineitem⋈part scan per consumer
    baskets = basket_arrays(
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey).select(
            "l_orderkey", F.col("p_brand").alias("item")
        ),
        basket_col="l_orderkey",
        item_col="item",
        max_basket_size=_AR_MAX_BASKET,
    ).transform(pin, eager=False)
    n_b = baskets.agg(F.count(F.lit(1)).alias("n_baskets"))
    supp = (
        baskets.select(F.explode("__arr").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # pinned: the directed union consumes the pair counts twice
    pairs = (
        pair_counts_from_arrays(baskets)
        .withColumnRenamed("n_baskets", "cnt_ab")
        .transform(pin, eager=False)
    )
    directed = pairs.select(
        F.col("item_a").alias("antecedent"),
        F.col("item_b").alias("consequent"),
        "cnt_ab",
    ).unionByName(
        pairs.select(
            F.col("item_b").alias("antecedent"),
            F.col("item_a").alias("consequent"),
            "cnt_ab",
        )
    )
    sa = supp.select(F.col("item").alias("antecedent"), F.col("cnt").alias("cnt_a"))
    sb = supp.select(F.col("item").alias("consequent"), F.col("cnt").alias("cnt_b"))
    rules = (
        directed.filter(F.col("cnt_ab") >= _AR_MIN_PAIRS)
        .join(F.broadcast(sa), "antecedent")
        .join(F.broadcast(sb), "consequent")
        .crossJoin(F.broadcast(n_b))
    )
    return (
        rules.select(
            "antecedent",
            "consequent",
            F.col("cnt_ab").alias("pair_baskets"),
            F.round(F.col("cnt_ab") / F.col("n_baskets"), 6).alias("support"),
            F.round(F.col("cnt_ab") / F.col("cnt_a"), 6).alias("confidence"),
            F.round(
                (F.col("cnt_ab") * F.col("n_baskets"))
                / (F.col("cnt_a") * F.col("cnt_b")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "antecedent", "consequent")
        .limit(50)
    )


ASSOCIATION_RULES_SQL = """
WITH items AS (
  SELECT DISTINCT l_orderkey, p_brand AS item
  FROM lineitem JOIN part ON l_partkey = p_partkey
), gated AS (
  SELECT * FROM items
  WHERE l_orderkey IN (
    SELECT l_orderkey FROM items GROUP BY l_orderkey HAVING count(*) <= 30
  )
), n AS (
  SELECT count(DISTINCT l_orderkey) AS n_baskets FROM gated
), supp AS (
  SELECT item, count(*) AS cnt FROM gated GROUP BY item
), pairs AS (
  SELECT a.item AS item_a, b.item AS item_b, count(*) AS cnt_ab
  FROM gated a JOIN gated b
    ON a.l_orderkey = b.l_orderkey AND a.item < b.item
  GROUP BY 1, 2
), directed AS (
  SELECT item_a AS antecedent, item_b AS consequent, cnt_ab FROM pairs
  UNION ALL
  SELECT item_b, item_a, cnt_ab FROM pairs
)
SELECT antecedent, consequent, cnt_ab AS pair_baskets,
       round(cnt_ab * 1.0 / n_baskets, 6)                 AS support,
       round(cnt_ab * 1.0 / sa.cnt, 6)                    AS confidence,
       round((cnt_ab * n_baskets) * 1.0 / (sa.cnt * sb.cnt), 6) AS lift
FROM directed
JOIN supp sa ON sa.item = antecedent
JOIN supp sb ON sb.item = consequent
CROSS JOIN n
WHERE cnt_ab >= 5
ORDER BY lift DESC, antecedent, consequent
LIMIT 50
"""


# =====================================================================
# bounded weighted shortest paths (Bellman-Ford frontier rounds)
# =====================================================================

_SP_MAX_HOPS = 4
_SP_SOURCE = 0


def shortest_path_weighted_nations(spark, sf_dir):
    """Single-source weighted shortest paths over the directed
    supplier-nation -> customer-nation trade graph (edge weight = trade
    count, a 'congestion cost'), bounded at _SP_MAX_HOPS relaxation
    rounds from nation 0.

    Scale shape: Bellman-Ford rounds — each round is ONE shuffle join
    of the current distance table with the edge relation keyed on the
    frontier node, then a keyed min-fold; lineage is truncated per
    round with localCheckpoint (the connected-components discipline,
    operators/graph.py). No per-path state is ever materialized — the
    oracle's recursive CTE enumerates paths, the engine keeps only the
    running min per node, which is the form that survives a billion-edge
    graph. At cluster scale the dist table exceeds broadcast range and
    the join falls back to shuffle (no explicit broadcast hint — the
    bfs_hops lesson, ADVICE r2).
    """
    from kinesis_app_spark.operators.graph import shortest_paths_bounded

    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders")
    su = _t(spark, sf_dir, "supplier")
    cu = _t(spark, sf_dir, "customer")
    edges = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .join(cu, od.o_custkey == cu.c_custkey)
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    return shortest_paths_bounded(
        edges, source=_SP_SOURCE, max_hops=_SP_MAX_HOPS
    ).orderBy("dst")


SHORTEST_PATH_SQL = """
WITH RECURSIVE e AS (
  SELECT s_nationkey AS src, c_nationkey AS dst, count(*) AS w
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
), paths(dst, d, hops) AS (
  SELECT CAST(0 AS INTEGER), CAST(0 AS BIGINT), 0
  UNION ALL
  SELECT e.dst, p.d + e.w, p.hops + 1
  FROM paths p JOIN e ON e.src = p.dst
  WHERE p.hops < 4
)
SELECT dst, min(d) AS dist
FROM paths
GROUP BY dst
ORDER BY dst
"""


# =====================================================================
# incremental join-view maintenance (delta algebra)
# =====================================================================

_IVM_SPLIT = "1997-01-01"


def incremental_join_view(spark, sf_dir):
    """Incremental maintenance of a JOIN view (revenue per customer over
    orders |><| lineitem) under a two-sided append: rows with
    o_orderdate / l_shipdate >= _IVM_SPLIT arrive as deltas. The
    refresh applies the bilinear delta rule
    d(O |><| L) = dO |><| L  +  O_old |><| dL
    and merges into the frozen base aggregate — base rows are never
    re-joined. The oracle recomputes the view from scratch, proving
    merged == full.

    Scale shape: refresh cost is O(|delta| join), not O(|table| join) —
    at 100 TB the delta micro-batch joins prune to the fresh date
    partitions (partition filters on both split predicates reach the
    scan), while the base aggregate is a keyed merge. Measures are
    decimal(30,8) so partial sums compose exactly in any order (the
    incremental_agg_maintenance discipline); DISTINCT-style measures
    would need a mergeable sketch — stated, not hidden.
    """
    od = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    split = F.lit(_IVM_SPLIT).cast("timestamp")
    o_old, o_new = od.filter(F.col("o_orderdate") < split), od.filter(
        F.col("o_orderdate") >= split
    )
    l_old, l_new = li.filter(F.col("l_shipdate") < split), li.filter(
        F.col("l_shipdate") >= split
    )

    def view(o, l):
        rev = (
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
        ).cast("decimal(30,8)")
        return (
            o.join(l, o.o_orderkey == l.l_orderkey)
            .groupBy("o_custkey")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.sum(rev).alias("revenue"),
            )
        )

    base = view(o_old, l_old)
    delta = view(o_new, li).unionByName(view(o_old, l_new))
    merged = (
        base.unionByName(delta)
        .groupBy("o_custkey")
        .agg(
            F.sum("n_items").alias("n_items"),
            F.sum("revenue").cast("decimal(30,8)").alias("revenue"),
        )
    )
    return merged.select(
        "o_custkey",
        F.col("n_items").cast("long").alias("n_items"),
        F.round("revenue", 2).cast("double").alias("revenue"),
    ).orderBy("o_custkey")


INCREMENTAL_JOIN_SQL = """
SELECT o_custkey,
       count(*) AS n_items,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(30,8))), 2) AS DOUBLE) AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_custkey
ORDER BY o_custkey
"""


# =====================================================================
# label propagation communities (deterministic sync rounds)
# =====================================================================

_LPA_ITERS = 3


def label_propagation_parts(spark, sf_dir):
    """Community detection on the repeat-co-purchase part graph (edges =
    part pairs sharing >= 2 orders, the triangle-census subgraph) via
    _LPA_ITERS synchronous label-propagation rounds with the min-label
    tie rule. The oracle unrolls the identical rounds as CTEs — the
    pagerank_fixed_point discipline applied to a mode-vote instead of a
    rank sum. Scale story in operators/graph.label_propagation."""
    from kinesis_app_spark.operators.baskets import basket_pairs
    from kinesis_app_spark.operators.graph import label_propagation

    li = _t(spark, sf_dir, "lineitem")
    edges = (
        basket_pairs(li, basket_col="l_orderkey", item_col="l_partkey")
        .filter(F.col("n_baskets") >= 2)
        .select(F.col("item_a").alias("src"), F.col("item_b").alias("dst"))
    )
    return label_propagation(edges, iters=_LPA_ITERS).orderBy("node")


LABEL_PROPAGATION_SQL = """
WITH items AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pairs AS MATERIALIZED (
  SELECT a.l_partkey AS src, b.l_partkey AS dst
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= 2
), sym AS (
  SELECT src, dst FROM pairs
  UNION
  SELECT dst, src FROM pairs
), nodes AS (
  SELECT DISTINCT src AS node FROM sym
), e AS (
  SELECT src, dst FROM sym
  UNION
  SELECT node, node FROM nodes
), r0 AS (
  SELECT node, node AS label FROM nodes
), c1 AS (
  SELECT e.dst AS node, l.label, count(*) AS cnt
  FROM e JOIN r0 l ON l.node = e.src GROUP BY 1, 2
), r1 AS (
  SELECT node, label FROM c1
  QUALIFY row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label) = 1
), c2 AS (
  SELECT e.dst AS node, l.label, count(*) AS cnt
  FROM e JOIN r1 l ON l.node = e.src GROUP BY 1, 2
), r2 AS (
  SELECT node, label FROM c2
  QUALIFY row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label) = 1
), c3 AS (
  SELECT e.dst AS node, l.label, count(*) AS cnt
  FROM e JOIN r2 l ON l.node = e.src GROUP BY 1, 2
), r3 AS (
  SELECT node, label FROM c3
  QUALIFY row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label) = 1
)
SELECT node, label AS community FROM r3 ORDER BY node
"""


# =====================================================================
# paragraph-level dedup, first-occurrence survivorship
# =====================================================================

def paragraph_dedup_docs(spark, sf_dir):
    """Global paragraph dedup with first-wins survivorship over the
    boilerplate-augmented corpus (same injection as segment_dedup_docs,
    so duplicated paragraphs genuinely exist at gate scale): every
    distinct 8-token segment survives only at its first (doc, position)
    occurrence. Distinct from segment_dedup (which REMOVES boilerplate
    everywhere); here the earliest copy is kept. Scale story in
    operators/curation.paragraph_dedup_first_wins — the winner is a
    map-side-combinable MIN, not a window."""
    from kinesis_app_spark.operators.curation import paragraph_dedup_first_wins
    from kinesis_app_spark.registry_curation import _inject_boilerplate

    return paragraph_dedup_first_wins(
        _inject_boilerplate(_t(spark, sf_dir, "documents")), seg_tokens=8
    ).orderBy("doc_id")


PARAGRAPH_DEDUP_SQL = r"""
WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 4 = 0 THEN 'subscribe to our newsletter for daily updates now follow us on social media for more content ' || text
              WHEN doc_id % 4 = 1 THEN 'subscribe to our newsletter for daily updates now ' || text
              ELSE text END AS text
  FROM documents
), toks AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
  FROM aug
), segs AS (
  SELECT doc_id, i AS seg_idx,
         array_to_string(t[(i*8+1):(i*8+8)], ' ') AS seg
  FROM toks,
       UNNEST(CASE WHEN len(t) >= 1
                   THEN generate_series(0, CAST(ceil(len(t)/8.0) AS BIGINT)-1)
                   ELSE [] END) AS g(i)
), winners AS (
  SELECT seg, min(struct_pack(i := doc_id, x := seg_idx)) AS w
  FROM segs GROUP BY seg
)
SELECT s.doc_id,
       count(*) AS n_segments,
       CAST(sum(CASE WHEN w.i = s.doc_id AND w.x = s.seg_idx
                     THEN 0 ELSE 1 END) AS BIGINT) AS n_dup_dropped,
       coalesce(
         string_agg(CASE WHEN w.i = s.doc_id AND w.x = s.seg_idx
                         THEN s.seg END, ' ' ORDER BY s.seg_idx),
         '') AS clean_text
FROM segs s JOIN winners USING (seg)
GROUP BY s.doc_id
ORDER BY s.doc_id
"""


# =====================================================================
# audio autocorrelation pitch probe (real PCM decode, exact integers)
# =====================================================================

def multimodal_audio_pitch(spark, sf_dir):
    """REAL PCM decode + autocorrelation pitch: dominant lag in 1..8 of
    the raw integer autocorrelation per synthesized WAV payload. The
    oracle predicts every R(L) from the synthesizer's sample formula —
    the Spark side must genuinely parse RIFF chunks and decode int16
    PCM to agree (the wav_window_energy contract, applied to a real DSP
    kernel). Exact int64 arithmetic is what makes a pitch probe
    value-hashable across engines where an FFT could never be."""
    from kinesis_app_spark.operators import multimodal as MM

    docs = _t(spark, sf_dir, "documents")
    return MM.wav_autocorrelation(
        MM.synthesize_media(docs), max_lag=8
    ).orderBy("doc_id")


AUDIO_PITCH_SQL = """
WITH wav AS (
  SELECT doc_id, 50 + doc_id % 200 AS n FROM documents WHERE doc_id % 2 = 1
), lags AS (
  SELECT doc_id, n, l.l AS lag
  FROM wav, UNNEST(generate_series(1, 8)) AS l(l)
), ac AS (
  SELECT doc_id, n, lag, sum(
           ((((doc_id * 31 + i.i * 7) % 65536)) - 32768)
         * ((((doc_id * 31 + (i.i + lag) * 7) % 65536)) - 32768)
         ) AS r
  FROM lags, UNNEST(generate_series(0, n - 1 - lag)) AS i(i)
  GROUP BY 1, 2, 3
)
SELECT doc_id, CAST(n AS BIGINT) AS n_frames,
       CAST(lag AS INT) AS best_lag, CAST(r AS BIGINT) AS r_best
FROM ac
QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY r DESC, lag) = 1
ORDER BY doc_id
"""


# =====================================================================
# prefix-filtered set-similarity join (PPJoin-lite, exact)
# =====================================================================

def dedup_jaccard_prefix(spark, sf_dir):
    """Exact Jaccard-threshold pairs via PREFIX FILTERING — must equal
    the inverted-index formulation bit-for-bit (same oracle as
    dedup_ngram_jaccard): the df-ascending canonical order + per-doc
    prefix p = |x| - ceil(t|x|) + 1 is complete by the prefix-filter
    lemma, so the candidate shrink costs no recall. Scale story in
    operators/dedup.prefix_filter_jaccard_pairs."""
    from kinesis_app_spark.operators.dedup import prefix_filter_jaccard_pairs

    return prefix_filter_jaccard_pairs(
        _t(spark, sf_dir, "documents"), k=3, threshold=0.5
    )


# =====================================================================
# A/B experiment analysis (hash assignment + two-proportion z)
# =====================================================================

def ab_test_analysis_events(spark, sf_dir):
    """Deterministic A/B readout: users split by the portable md5-bucket
    convention (%2 -> control/treatment), conversion = any 'purchase'
    event, one summary row with per-arm counts, rates, absolute lift and
    the pooled two-proportion z statistic. Pure conditional aggregation +
    scalar arithmetic: one shuffle on user_id, one 1-row fold — the
    shape that reads a trillion events without a second exchange.
    Identical expression tree on both engines makes even the sqrt
    value-hashable (rounded 6)."""
    e = _t(spark, sf_dir, "events")
    per_user = (
        e.groupBy("user_id")
        .agg(
            F.max((F.col("event_type") == "purchase").cast("int")).alias(
                "converted"
            )
        )
        .withColumn(
            "variant",
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
                16,
                10,
            ).cast("long")
            % 2,
        )
    )
    agg = per_user.agg(
        F.sum((F.col("variant") == 0).cast("long")).alias("n_control"),
        F.sum((F.col("variant") == 1).cast("long")).alias("n_treatment"),
        F.sum(
            ((F.col("variant") == 0) & (F.col("converted") == 1)).cast("long")
        ).alias("conv_control"),
        F.sum(
            ((F.col("variant") == 1) & (F.col("converted") == 1)).cast("long")
        ).alias("conv_treatment"),
    )
    pc = F.col("conv_control") / F.col("n_control")
    pt = F.col("conv_treatment") / F.col("n_treatment")
    pool = (F.col("conv_control") + F.col("conv_treatment")) / (
        F.col("n_control") + F.col("n_treatment")
    )
    # nullif: a degenerate arm (everyone or no one converts pooled, or an
    # empty arm) has zero standard error — z is undefined, not infinite
    se = F.nullif(
        F.sqrt(
            pool
            * (1 - pool)
            * (1 / F.col("n_control") + 1 / F.col("n_treatment"))
        ),
        F.lit(0.0),
    )
    return agg.select(
        "n_control",
        "n_treatment",
        "conv_control",
        "conv_treatment",
        F.round(pc, 6).alias("rate_control"),
        F.round(pt, 6).alias("rate_treatment"),
        F.round(pt - pc, 6).alias("lift_abs"),
        F.round((pt - pc) / se, 6).alias("z_score"),
    )


AB_TEST_SQL = """
WITH per_user AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 AS variant
  FROM events GROUP BY user_id
), agg AS (
  SELECT sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS n_control,
         sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS n_treatment,
         sum(CASE WHEN variant = 0 AND converted = 1 THEN 1 ELSE 0 END) AS conv_control,
         sum(CASE WHEN variant = 1 AND converted = 1 THEN 1 ELSE 0 END) AS conv_treatment
  FROM per_user
)
SELECT n_control, n_treatment, conv_control, conv_treatment,
       round(conv_control / n_control, 6)     AS rate_control,
       round(conv_treatment / n_treatment, 6) AS rate_treatment,
       round(conv_treatment / n_treatment - conv_control / n_control, 6) AS lift_abs,
       round((conv_treatment / n_treatment - conv_control / n_control)
             / nullif(sqrt(((conv_control + conv_treatment) / (n_control + n_treatment))
                    * (1 - (conv_control + conv_treatment) / (n_control + n_treatment))
                    * (1 / n_control + 1 / n_treatment)), 0), 6) AS z_score
FROM agg
"""


# =====================================================================
# join-planning advisor (the 100 TB playbook, encoded as a query)
# =====================================================================

_ADVISOR_BROADCAST_ROWS = 1_000_000
_ADVISOR_SKEW_SHARE = 0.001


def join_planning_advisor(spark, sf_dir):
    """Statistics-driven join-strategy advisor for the star schema's
    four fact->dim relationships: per pair emit fact rows, dim rows, key
    NDV on the fact side, the hottest key's share of fact rows, and the
    recommended physical strategy — 'broadcast' when the dim fits the
    broadcast threshold, else 'salted_shuffle' when one key exceeds the
    skew share, else 'shuffle'. This is the scale playbook the engine
    applies by hand (broadcast(), salting, AQE skew join) turned into
    data a planner or a reviewer can read. Exact counts at gate scale;
    at 100 TB the NDV becomes approx_count_distinct and the hot-key
    probe a countmin sketch — swap noted, semantics identical.

    Scale shape: one aggregate per fact key (map-side combined), a
    max-share fold, and a 4-row result — no joins of the big tables at
    all: the advisor reads statistics, it does not execute the join it
    advises on."""
    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders")

    def stats(fact, key, dim_df, fact_name, dim_name):
        keyed = fact.groupBy(F.col(key)).agg(F.count(F.lit(1)).alias("c"))
        return (
            keyed.agg(
                F.sum("c").alias("fact_rows"),
                F.count(F.lit(1)).alias("fact_ndv"),
                F.max("c").alias("hot_key_rows"),
            )
            .crossJoin(
                F.broadcast(dim_df.agg(F.count(F.lit(1)).alias("dim_rows")))
            )
            .select(
                F.lit(fact_name).alias("fact"),
                F.lit(dim_name).alias("dim"),
                "fact_rows",
                "dim_rows",
                "fact_ndv",
                F.round(F.col("hot_key_rows") / F.col("fact_rows"), 6).alias(
                    "hot_key_share"
                ),
                F.when(
                    F.col("dim_rows") <= _ADVISOR_BROADCAST_ROWS, "broadcast"
                )
                .when(
                    F.col("hot_key_rows") / F.col("fact_rows")
                    > _ADVISOR_SKEW_SHARE,
                    "salted_shuffle",
                )
                .otherwise("shuffle")
                .alias("strategy"),
            )
        )

    out = (
        stats(li, "l_orderkey", od, "lineitem", "orders")
        .unionByName(
            stats(
                li, "l_partkey", _t(spark, sf_dir, "part"), "lineitem", "part"
            )
        )
        .unionByName(
            stats(
                li,
                "l_suppkey",
                _t(spark, sf_dir, "supplier"),
                "lineitem",
                "supplier",
            )
        )
        .unionByName(
            stats(
                od,
                "o_custkey",
                _t(spark, sf_dir, "customer"),
                "orders",
                "customer",
            )
        )
    )
    return out.orderBy("fact", "dim")


JOIN_ADVISOR_SQL = """
WITH rel AS (
  SELECT 'lineitem' AS fact, 'orders' AS dim, l_orderkey AS k FROM lineitem
  UNION ALL
  SELECT 'lineitem', 'part', l_partkey FROM lineitem
  UNION ALL
  SELECT 'lineitem', 'supplier', l_suppkey FROM lineitem
  UNION ALL
  SELECT 'orders', 'customer', o_custkey FROM orders
), keyed AS (
  SELECT fact, dim, k, count(*) AS c FROM rel GROUP BY 1, 2, 3
), fstats AS (
  SELECT fact, dim, sum(c) AS fact_rows, count(*) AS fact_ndv,
         max(c) AS hot_key_rows
  FROM keyed GROUP BY 1, 2
), dims AS (
  SELECT 'orders' AS dim, count(*) AS dim_rows FROM orders
  UNION ALL SELECT 'part', count(*) FROM part
  UNION ALL SELECT 'supplier', count(*) FROM supplier
  UNION ALL SELECT 'customer', count(*) FROM customer
)
SELECT fact, f.dim AS dim, fact_rows, dim_rows, fact_ndv,
       round(hot_key_rows * 1.0 / fact_rows, 6) AS hot_key_share,
       CASE WHEN dim_rows <= 1000000 THEN 'broadcast'
            WHEN hot_key_rows * 1.0 / fact_rows > 0.001 THEN 'salted_shuffle'
            ELSE 'shuffle' END AS strategy
FROM fstats f JOIN dims d ON d.dim = f.dim
ORDER BY fact, dim
"""


# =====================================================================
# streaming anomaly detection on prior history (integer z-score state)
# =====================================================================

def streaming_anomaly_flags(spark, sf_dir):
    """True streaming run of the per-key prior-history anomaly detector:
    each event is judged against the exact running (n, sum, sumsq) state
    of the events before it — integer milli-scaled statistics and a
    squared test, so the flag set hash-matches the window oracle.
    Scale story in streaming/ops.running_zscore_anomalies."""
    from kinesis_app_spark.registry_streaming import _mk_stream
    from kinesis_app_spark.streaming.ops import (
        run_to_memory,
        running_zscore_anomalies,
    )

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    stream, ckpt = _mk_stream(spark, ev, cache_key=f"{sf_dir}|anom")
    flags = running_zscore_anomalies(
        stream, "user_id", "ts", "event_id", "value", z=3, min_history=5
    )
    res = run_to_memory(flags, ckpt, output_mode="update", shuffle_partitions=PYSTATE_STREAM_SHUFFLE)
    return res.select(
        F.col("key"), F.col("seq"), F.col("n_prior")
    ).orderBy("key", "seq")


STREAMING_ANOMALY_SQL = """
WITH scaled AS (
  SELECT user_id, event_id, ts,
         CAST(floor(value * 1000 + 0.5) AS HUGEINT) AS v
  FROM events
), pre AS (
  SELECT user_id, event_id, v,
         count(*) OVER w AS n,
         coalesce(sum(v) OVER w, 0) AS s,
         coalesce(sum(v * v) OVER w, 0) AS ss
  FROM scaled
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT user_id AS key, event_id AS seq, CAST(n AS BIGINT) AS n_prior
FROM pre
WHERE n >= 5 AND (n * v - s) * (n * v - s) > 9 * (n * ss - s * s)
ORDER BY key, seq
"""


# =====================================================================
# mutual information between categorical columns (feature selection)
# =====================================================================

def mutual_information_pairs(spark, sf_dir):
    """MI(X;Y) in nats for three categorical column pairs — the
    feature-selection / drift diagnostic. Probabilities are exact
    integer ratios; each cell's p*ln(p_xy/(p_x*p_y)) term is quantized
    to 1e-6 BEFORE the sum so the cross-partition accumulation is
    exact-integer (the entropy_lang_by_source discipline — the one
    place engines legitimately diverge is double reassociation, and
    this removes it). One (x,y) count shuffle per pair + two broadcast
    marginal joins; the grand total is a 1-row broadcast."""
    from pyspark.sql import DataFrame

    def mi(df: DataFrame, xcol, ycol, pair_name: str) -> DataFrame:
        base = df.select(
            F.col(xcol).cast("string").alias("x"),
            F.col(ycol).cast("string").alias("y"),
        )
        # cells feeds FOUR consumers (both marginals, the grand total,
        # and the join itself); pinning the tiny contingency table makes
        # the fact-table scan+count run once per pair, not four times
        # (24 parquet scans in one plan before —
        # plans/r08/mutual_information_pairs_before.txt)
        cells = (
            base.groupBy("x", "y")
            .agg(F.count(F.lit(1)).alias("c"))
            .transform(pin, eager=False)
        )
        mx = cells.groupBy("x").agg(F.sum("c").alias("cx"))
        my = cells.groupBy("y").agg(F.sum("c").alias("cy"))
        tot = cells.agg(F.sum("c").alias("n"))
        joined = (
            cells.join(F.broadcast(mx), "x")
            .join(F.broadcast(my), "y")
            .crossJoin(F.broadcast(tot))
        )
        p = F.col("c") / F.col("n")
        ratio = (F.col("c") * F.col("n")) / (F.col("cx") * F.col("cy"))
        term = F.round(p * F.log(ratio) * 1e6).cast("long")
        return joined.agg(
            F.lit(pair_name).alias("pair"),
            F.max("n").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.round(
                F.sum(term.cast("decimal(30,0)")).cast("double") / 1e6, 4
            ).alias("mi_nats"),
        )

    od = _t(spark, sf_dir, "orders")
    cu = _t(spark, sf_dir, "customer")
    ev = _t(spark, sf_dir, "events")
    out = (
        mi(od, "o_orderstatus", "o_orderpriority", "orders:status_x_priority")
        .unionByName(
            mi(cu, "c_mktsegment", "c_nationkey", "customer:segment_x_nation")
        )
        .unionByName(
            mi(
                ev.withColumn("dow", F.dayofweek("ts")),
                "event_type",
                "dow",
                "events:type_x_dow",
            )
        )
    )
    return out.orderBy("pair")


MUTUAL_INFO_SQL = """
WITH src AS (
  SELECT 'orders:status_x_priority' AS pair,
         CAST(o_orderstatus AS VARCHAR) AS x,
         CAST(o_orderpriority AS VARCHAR) AS y
  FROM orders
  UNION ALL
  SELECT 'customer:segment_x_nation',
         CAST(c_mktsegment AS VARCHAR), CAST(c_nationkey AS VARCHAR)
  FROM customer
  UNION ALL
  SELECT 'events:type_x_dow',
         CAST(event_type AS VARCHAR), CAST(dayofweek(ts) AS VARCHAR)
  FROM events
), cells AS (
  SELECT pair, x, y, count(*) AS c FROM src GROUP BY 1, 2, 3
), mx AS (
  SELECT pair, x, sum(c) AS cx FROM cells GROUP BY 1, 2
), my AS (
  SELECT pair, y, sum(c) AS cy FROM cells GROUP BY 1, 2
), tot AS (
  SELECT pair, sum(c) AS n FROM cells GROUP BY 1
), terms AS (
  SELECT cells.pair, n,
         CAST(round((CAST(c AS DOUBLE) / n)
                    * ln((c * n) / CAST(cx * cy AS DOUBLE))
                    * 1e6) AS HUGEINT) AS term
  FROM cells
  JOIN mx USING (pair, x)
  JOIN my USING (pair, y)
  JOIN tot USING (pair)
)
SELECT pair, CAST(max(n) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_cells,
       round(CAST(sum(term) AS DOUBLE) / 1e6, 4) AS mi_nats
FROM terms
GROUP BY pair
ORDER BY pair
"""


# =====================================================================
# Kaplan-Meier survival (time signup -> purchase, right-censored)
# =====================================================================

def kaplan_meier_conversion(spark, sf_dir):
    """Kaplan-Meier estimate of the signup->purchase conversion curve:
    per user, duration in whole days from first signup to first
    subsequent purchase, right-censored at the corpus horizon when no
    purchase follows. Emits the KM table per duration level: n at risk,
    events, censored, and the survival estimate.

    Determinism: d_i/n_i are exact integer ratios; each level's
    ln((n_i-d_i)/n_i) is quantized to 1e-6 BEFORE the running sum (the
    entropy/MI discipline), so the cumulative log-survival is an exact
    integer prefix sum and survival = exp of it, rounded 4.

    Scale shape: the observation build is one groupBy(user) fold; the KM
    recursion runs over the LEVEL table — cardinality bounded by the
    observation span in days (hundreds), data-size-independent — so the
    single-partition window over levels is a histogram-table window, not
    a fact-table one (contrast the r2-weak global-ntile entries, whose
    windows spanned the fact table itself)."""
    e = _t(spark, sf_dir, "events")
    per_user = (
        e.filter(F.col("event_type").isin("signup", "purchase"))
        .groupBy("user_id")
        .agg(
            F.min(
                F.when(F.col("event_type") == "signup", F.col("ts"))
            ).alias("t_signup"),
            F.max(F.col("ts")).alias("t_last"),
        )
    )
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("t_p"))
    )
    horizon = e.agg(F.max("ts").alias("t_horizon"))
    obs = (
        per_user.filter(F.col("t_signup").isNotNull())
        .join(purchases, "user_id", "left")
        # conditional min, NOT a row filter: a user whose purchases are
        # all pre-signup must survive as CENSORED (a filter would drop
        # their every joined row and erase them from the risk set)
        .groupBy("user_id", "t_signup")
        .agg(
            F.min(
                F.when(F.col("t_p") >= F.col("t_signup"), F.col("t_p"))
            ).alias("t_event")
        )
        .crossJoin(F.broadcast(horizon))
        .select(
            F.when(
                F.col("t_event").isNotNull(),
                F.datediff(F.col("t_event"), F.col("t_signup")),
            )
            .otherwise(F.datediff(F.col("t_horizon"), F.col("t_signup")))
            .cast("long")
            .alias("dur"),
            F.col("t_event").isNotNull().cast("int").alias("is_event"),
        )
    )
    levels = obs.groupBy("dur").agg(
        F.sum("is_event").alias("d"),
        F.sum(1 - F.col("is_event")).alias("c"),
    )
    from pyspark.sql import Window

    w = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    total = obs.agg(F.count(F.lit(1)).alias("n_total"))
    km = (
        levels.crossJoin(F.broadcast(total))
        .withColumn(
            "n_risk",
            F.col("n_total")
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(w), F.lit(0)),
        )
        .withColumn(
            "log_term",
            F.when(
                (F.col("d") > 0) & (F.col("d") < F.col("n_risk")),
                F.round(
                    F.log(
                        (F.col("n_risk") - F.col("d")) / F.col("n_risk")
                    )
                    * 1e6
                ).cast("long"),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "log_surv",
            F.sum("log_term").over(
                Window.orderBy("dur").rowsBetween(
                    Window.unboundedPreceding, 0
                )
            ),
        )
        # a level where EVERY at-risk subject converts (d == n_risk) pins
        # survival to exactly 0 from that level on — log space can't say it
        .withColumn(
            "zero_seen",
            F.max((F.col("d") >= F.col("n_risk")).cast("int")).over(
                Window.orderBy("dur").rowsBetween(
                    Window.unboundedPreceding, 0
                )
            ),
        )
    )
    return km.select(
        "dur",
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d").cast("long").alias("events"),
        F.col("c").cast("long").alias("censored"),
        F.when(F.col("zero_seen") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp(F.col("log_surv").cast("double") / 1e6), 4))
        .alias("survival"),
    ).orderBy("dur")


KAPLAN_MEIER_SQL = """
WITH per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup
  FROM events WHERE event_type IN ('signup', 'purchase')
  GROUP BY user_id
), horizon AS (
  SELECT max(ts) AS t_horizon FROM events
), obs AS (
  SELECT CAST(CASE WHEN e.t_event IS NOT NULL
              THEN date_diff('day', CAST(p.t_signup AS DATE), CAST(e.t_event AS DATE))
              ELSE date_diff('day', CAST(p.t_signup AS DATE), CAST(h.t_horizon AS DATE))
              END AS BIGINT) AS dur,
         CASE WHEN e.t_event IS NOT NULL THEN 1 ELSE 0 END AS is_event
  FROM per_user p
  LEFT JOIN (
    SELECT pu.user_id, min(ev.ts) AS t_event
    FROM per_user pu
    JOIN events ev ON ev.user_id = pu.user_id
     AND ev.event_type = 'purchase' AND ev.ts >= pu.t_signup
    GROUP BY pu.user_id
  ) e ON e.user_id = p.user_id
  CROSS JOIN horizon h
  WHERE p.t_signup IS NOT NULL
), levels AS (
  SELECT dur, sum(is_event) AS d, sum(1 - is_event) AS c
  FROM obs GROUP BY dur
), km AS (
  SELECT dur, d, c,
         (SELECT count(*) FROM obs)
           - coalesce(sum(d + c) OVER (ORDER BY dur
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
  FROM levels
), logs AS (
  SELECT dur, d, c, n_risk,
         CASE WHEN d > 0 AND d < n_risk
              THEN CAST(round(ln((n_risk - d) / CAST(n_risk AS DOUBLE)) * 1e6) AS BIGINT)
              ELSE 0 END AS log_term,
         CASE WHEN d >= n_risk THEN 1 ELSE 0 END AS zero_flag
  FROM km
)
SELECT dur, CAST(n_risk AS BIGINT) AS n_risk, CAST(d AS BIGINT) AS events,
       CAST(c AS BIGINT) AS censored,
       CASE WHEN max(zero_flag) OVER (ORDER BY dur
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
            THEN 0.0
            ELSE round(exp(CAST(sum(log_term) OVER (ORDER BY dur
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 1e6), 4)
            END AS survival
FROM logs
ORDER BY dur
"""


# =====================================================================
# functional-dependency audit (data-quality profiling)
# =====================================================================

def functional_dependency_audit(spark, sf_dir):
    """Does lhs -> rhs hold? For four candidate dependencies report the
    lhs group count, groups violating (rhs NDV > 1), the worst group's
    rhs NDV, and the verdict — the profiling pass schema-inference and
    data-contract tools run before trusting a column as a key. One
    exact-distinct aggregate per candidate (map-side combined); no joins
    of base tables."""

    def fd(df, lhs, rhs, name):
        g = df.groupBy(F.col(lhs)).agg(
            F.countDistinct(F.col(rhs)).alias("ndv")
        )
        return g.agg(
            F.lit(name).alias("dependency"),
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum((F.col("ndv") > 1).cast("long")).alias("n_violating"),
            F.max("ndv").cast("long").alias("max_rhs_ndv"),
            (F.max("ndv") <= 1).alias("holds"),
        )

    od = _t(spark, sf_dir, "orders")
    pt = _t(spark, sf_dir, "part")
    na = _t(spark, sf_dir, "nation")
    out = (
        fd(od, "o_orderkey", "o_custkey", "orders:orderkey->custkey")
        .unionByName(
            fd(od, "o_custkey", "o_orderpriority", "orders:custkey->priority")
        )
        .unionByName(fd(pt, "p_brand", "p_type", "part:brand->type"))
        .unionByName(fd(na, "n_name", "n_regionkey", "nation:name->region"))
    )
    return out.orderBy("dependency")


FD_AUDIT_SQL = """
WITH cand AS (
  SELECT 'orders:orderkey->custkey' AS dependency,
         CAST(o_orderkey AS VARCHAR) AS lhs, CAST(o_custkey AS VARCHAR) AS rhs
  FROM orders
  UNION ALL
  SELECT 'orders:custkey->priority',
         CAST(o_custkey AS VARCHAR), CAST(o_orderpriority AS VARCHAR)
  FROM orders
  UNION ALL
  SELECT 'part:brand->type', CAST(p_brand AS VARCHAR), CAST(p_type AS VARCHAR)
  FROM part
  UNION ALL
  SELECT 'nation:name->region',
         CAST(n_name AS VARCHAR), CAST(n_regionkey AS VARCHAR)
  FROM nation
), g AS (
  SELECT dependency, lhs, count(DISTINCT rhs) AS ndv
  FROM cand GROUP BY 1, 2
)
SELECT dependency,
       count(*) AS n_groups,
       sum(CASE WHEN ndv > 1 THEN 1 ELSE 0 END) AS n_violating,
       max(ndv) AS max_rhs_ndv,
       max(ndv) <= 1 AS holds
FROM g
GROUP BY dependency
ORDER BY dependency
"""


# =====================================================================
# Neyman allocation for stratified sampling
# =====================================================================

_NEYMAN_BUDGET = 1000


def neyman_allocation_plan(spark, sf_dir):
    """Optimal (Neyman) sample allocation across customer market-segment
    strata for a _NEYMAN_BUDGET-row sample of acctbal: n_h proportional
    to N_h * S_h. Moments are exact decimal sums; each stratum's N_h*S_h
    weight is quantized to integer micro-units BEFORE the normalizing
    total (the reassociation discipline), so the final allocations are
    exact-integer arithmetic both engines reproduce. One pass over the
    table + a 5-row fold — the plan is computed without sampling a
    single row."""
    cu = _t(spark, sf_dir, "customer")
    dec = F.col("c_acctbal").cast("decimal(30,8)")
    strata = cu.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_h"),
        F.sum(dec).alias("s"),
        F.sum(dec * dec).alias("ss"),
    )
    # population stddev from exact decimal moments; weight quantized
    var = (
        F.col("ss").cast("double") / F.col("n_h")
        - (F.col("s").cast("double") / F.col("n_h"))
        * (F.col("s").cast("double") / F.col("n_h"))
    )
    w_q = F.round(F.col("n_h") * F.sqrt(var) * 1e6).cast("long")
    weighted = strata.withColumn("w_q", w_q)
    total = weighted.agg(F.sum(F.col("w_q").cast("decimal(30,0)")).alias("w_tot"))
    return (
        weighted.crossJoin(F.broadcast(total))
        .select(
            "c_mktsegment",
            F.col("n_h").cast("long").alias("stratum_rows"),
            F.round(F.sqrt(var), 4).alias("stddev"),
            F.round(
                F.lit(_NEYMAN_BUDGET)
                * (F.col("w_q") / F.col("w_tot").cast("double")),
                2,
            ).alias("allocation"),
        )
        .orderBy("c_mktsegment")
    )


NEYMAN_SQL = """
WITH strata AS (
  SELECT c_mktsegment, count(*) AS n_h,
         sum(CAST(c_acctbal AS DECIMAL(30,8))) AS s,
         sum(CAST(c_acctbal AS DECIMAL(30,8)) * CAST(c_acctbal AS DECIMAL(30,8))) AS ss
  FROM customer GROUP BY c_mktsegment
), weighted AS (
  SELECT c_mktsegment, n_h,
         sqrt(CAST(ss AS DOUBLE) / n_h
              - (CAST(s AS DOUBLE) / n_h) * (CAST(s AS DOUBLE) / n_h)) AS sd,
         CAST(round(n_h * sqrt(CAST(ss AS DOUBLE) / n_h
              - (CAST(s AS DOUBLE) / n_h) * (CAST(s AS DOUBLE) / n_h)) * 1e6)
              AS BIGINT) AS w_q
  FROM strata
), tot AS (
  SELECT sum(w_q) AS w_tot FROM weighted
)
SELECT c_mktsegment, CAST(n_h AS BIGINT) AS stratum_rows,
       round(sd, 4) AS stddev,
       round(1000 * (w_q / CAST(w_tot AS DOUBLE)), 2) AS allocation
FROM weighted CROSS JOIN tot
ORDER BY c_mktsegment
"""


# =====================================================================
# population stability index (drift monitoring)
# =====================================================================

_PSI_BINS = 10


def psi_drift_report(spark, sf_dir):
    """Population Stability Index of o_totalprice between the pre- and
    post-1997 halves: 10 fixed-width bins anchored on the REFERENCE
    half's min/max (the monitoring convention — the baseline defines the
    binning, the current window is scored against it), Laplace +1
    smoothing so empty bins stay finite, per-bin contribution
    (p-q)*ln(p/q) quantized to 1e-6. Emits the per-bin table; PSI is the
    contribution sum (tests pin the usual <0.1/0.25 bands).

    Scale shape: two conditional aggregates over one scan (FILTER-style
    split, no self-join), bin edges from a 1-row broadcast; everything
    else is exact-count arithmetic."""
    od = _t(spark, sf_dir, "orders")
    split = F.lit("1997-01-01").cast("timestamp")
    is_ref = F.col("o_orderdate") < split
    edges = od.filter(is_ref).agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    binned = od.crossJoin(F.broadcast(edges)).select(
        is_ref.cast("int").alias("is_ref"),
        F.greatest(
            F.lit(0),
            F.least(
                F.floor(
                    (F.col("o_totalprice") - F.col("lo"))
                    / ((F.col("hi") - F.col("lo")) / _PSI_BINS)
                ).cast("int"),
                F.lit(_PSI_BINS - 1),
            ),
        ).alias("bin"),
    )
    cells = binned.groupBy("bin").agg(
        F.sum("is_ref").alias("ref_n"),
        F.sum(1 - F.col("is_ref")).alias("cur_n"),
    )
    tot = binned.agg(
        F.sum("is_ref").alias("ref_tot"),
        F.sum(1 - F.col("is_ref")).alias("cur_tot"),
    )
    p = (F.col("ref_n") + 1) / (F.col("ref_tot") + _PSI_BINS)
    q = (F.col("cur_n") + 1) / (F.col("cur_tot") + _PSI_BINS)
    contrib = F.round((p - q) * F.log(p / q) * 1e6).cast("long")
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            F.col("ref_n").cast("long").alias("ref_n"),
            F.col("cur_n").cast("long").alias("cur_n"),
            F.round(p, 6).alias("ref_pct"),
            F.round(q, 6).alias("cur_pct"),
            F.round(contrib.cast("double") / 1e6, 6).alias("psi_contrib"),
        )
        .orderBy("bin")
    )


PSI_SQL = """
WITH edges AS (
  SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi
  FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
), binned AS (
  SELECT CASE WHEN o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
              THEN 1 ELSE 0 END AS is_ref,
         greatest(0, least(CAST(floor((o_totalprice - lo) / ((hi - lo) / 10)) AS INT), 9)) AS bin
  FROM orders CROSS JOIN edges
), cells AS (
  SELECT bin, sum(is_ref) AS ref_n, sum(1 - is_ref) AS cur_n
  FROM binned GROUP BY bin
), tot AS (
  SELECT sum(is_ref) AS ref_tot, sum(1 - is_ref) AS cur_tot FROM binned
)
SELECT bin, CAST(ref_n AS BIGINT) AS ref_n, CAST(cur_n AS BIGINT) AS cur_n,
       round((ref_n + 1) / CAST(ref_tot + 10 AS DOUBLE), 6) AS ref_pct,
       round((cur_n + 1) / CAST(cur_tot + 10 AS DOUBLE), 6) AS cur_pct,
       round(CAST(round(((ref_n + 1) / CAST(ref_tot + 10 AS DOUBLE)
                        - (cur_n + 1) / CAST(cur_tot + 10 AS DOUBLE))
                  * ln(((ref_n + 1) / CAST(ref_tot + 10 AS DOUBLE))
                       / ((cur_n + 1) / CAST(cur_tot + 10 AS DOUBLE)))
                  * 1e6) AS BIGINT) / 1e6, 6) AS psi_contrib
FROM cells CROSS JOIN tot
ORDER BY bin
"""


# =====================================================================
# split-conformal prediction intervals (distribution-free coverage)
# =====================================================================

_CONFORMAL_ALPHA = 0.1


def conformal_interval_events(spark, sf_dir):
    """Split-conformal calibration of a per-event-type mean predictor:
    events hash-split into calibration/test, the 90% conformal quantile
    q_hat is the EXACT ceil(0.9*(n_cal+1))-th smallest calibration
    residual — resolved by the distributed rank-statistics probe
    (operators/rankstats: histogram + bounded bucket probe, never a
    global sort), and the guaranteed-coverage bound is then checked on
    the test half. One summary row: n_cal, n_test, q_hat, coverage.

    The conformal guarantee (coverage >= 1 - alpha under
    exchangeability) is the distribution-free ML-deployment tool; its
    entire computation here is joins + one order statistic, which is why
    it belongs in an engine, not a model server."""
    from kinesis_app_spark.operators.rankstats import values_at_ranks

    e = _t(spark, sf_dir, "events")
    split_bit = (
        F.conv(
            F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % 2
    )
    base = e.select("event_id", "event_type", "value", split_bit.alias("half"))
    means = (
        base.filter(F.col("half") == 0)
        .groupBy("event_type")
        .agg(
            (
                F.sum(F.col("value").cast("decimal(30,8)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_v")
        )
    )
    resid = base.join(F.broadcast(means), "event_type").select(
        "event_id",
        "half",
        F.abs(F.col("value") - F.col("mean_v")).alias("r"),
    )
    cal = resid.filter(F.col("half") == 0)
    n_cal = cal.count()
    if n_cal == 0:
        # empty calibration set: no quantile exists — empty result with
        # the stable output schema (the empty-input contract)
        return spark.createDataFrame(
            [],
            "n_cal long, n_test long, q_hat double, coverage double",
        )
    import math

    k = min(math.ceil((1 - _CONFORMAL_ALPHA) * (n_cal + 1)), n_cal)
    q_hat = values_at_ranks(cal, "r", [k - 1])[k - 1]
    test = resid.filter(F.col("half") == 1)
    return test.agg(
        F.lit(n_cal).cast("long").alias("n_cal"),
        F.count(F.lit(1)).alias("n_test"),
        F.round(F.lit(q_hat), 6).alias("q_hat"),
        F.round(
            F.sum((F.col("r") <= q_hat).cast("long")) / F.count(F.lit(1)), 6
        ).alias("coverage"),
    )


CONFORMAL_SQL = """
WITH base AS (
  SELECT event_id, event_type, value,
         ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT % 2 AS half
  FROM events
), means AS (
  SELECT event_type,
         CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) / count(*) AS mean_v
  FROM base WHERE half = 0 GROUP BY event_type
), resid AS (
  SELECT b.event_id, b.half, abs(b.value - m.mean_v) AS r
  FROM base b JOIN means m USING (event_type)
), cal AS (
  SELECT r FROM resid WHERE half = 0
), k AS (
  SELECT least(CAST(ceil(0.9 * (count(*) + 1)) AS BIGINT), count(*)) AS k,
         count(*) AS n_cal
  FROM cal
), qhat AS (
  SELECT (SELECT r FROM cal ORDER BY r OFFSET (SELECT k - 1 FROM k) LIMIT 1) AS q,
         (SELECT n_cal FROM k) AS n_cal
)
SELECT n_cal,
       count(*) AS n_test,
       round(q, 6) AS q_hat,
       round(sum(CASE WHEN r <= q THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6)
         AS coverage
FROM resid CROSS JOIN qhat
WHERE half = 1
GROUP BY n_cal, q
"""


# =====================================================================
# frequent triples (A-priori depth-3, in-row expansion)
# =====================================================================

_TRIPLE_MIN_SUPPORT = 3


def frequent_triples_brands(spark, sf_dir):
    """Frequent 3-itemsets of brands per order basket: the A-priori
    extension of association_rules_brands one level deeper. Pair
    expansion generalizes: the sorted distinct item array expands its
    C(n,3) triples IN-ROW (codegen transform, no self-join; basket width
    is schema-bounded at <= 7 brands here, and association_rules'
    basket-size gate slots in front of this expansion for adversarial
    data), then one count shuffle on the triple. Top-30 by support with
    full tiebreaks."""
    li = _t(spark, sf_dir, "lineitem")
    pt = _t(spark, sf_dir, "part")
    items = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .select("l_orderkey", F.col("p_brand").alias("item"))
        .distinct()
    )
    baskets = items.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("item")).alias("arr")
    )
    arr = F.col("arr")
    n = F.size(arr)
    triples = baskets.filter(n >= 3).select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(0), n - 3),
                    lambda i: F.flatten(
                        F.transform(
                            F.sequence(i + 1, n - 2),
                            lambda j: F.transform(
                                F.sequence(j + 1, n - 1),
                                lambda k: F.struct(
                                    F.element_at(arr, i + 1).alias("a"),
                                    F.element_at(arr, j + 1).alias("b"),
                                    F.element_at(arr, k + 1).alias("c"),
                                ),
                            ),
                        )
                    ),
                )
            )
        ).alias("t")
    )
    return (
        triples.groupBy(
            F.col("t.a").alias("item_a"),
            F.col("t.b").alias("item_b"),
            F.col("t.c").alias("item_c"),
        )
        .agg(F.count(F.lit(1)).alias("n_baskets"))
        .filter(F.col("n_baskets") >= _TRIPLE_MIN_SUPPORT)
        .orderBy(F.desc("n_baskets"), "item_a", "item_b", "item_c")
        .limit(30)
    )


FREQUENT_TRIPLES_SQL = """
WITH items AS (
  SELECT DISTINCT l_orderkey, p_brand AS item
  FROM lineitem JOIN part ON l_partkey = p_partkey
)
SELECT a.item AS item_a, b.item AS item_b, c.item AS item_c,
       count(*) AS n_baskets
FROM items a
JOIN items b ON b.l_orderkey = a.l_orderkey AND b.item > a.item
JOIN items c ON c.l_orderkey = a.l_orderkey AND c.item > b.item
GROUP BY 1, 2, 3
HAVING count(*) >= 3
ORDER BY n_baskets DESC, item_a, item_b, item_c
LIMIT 30
"""


# =====================================================================
# CUSUM change-point flags (max-recursion as window algebra)
# =====================================================================

def cusum_changepoints_events(spark, sf_dir):
    """One-sided CUSUM drift flags per user: S_t = max(0, S_{t-1} + x_t
    - k) exceeds h. The max() recursion looks sequential but is exactly
    S_t = C_t - min(0, min_{i<=t} C_i) for the plain prefix sum C of
    (x - k) — so the whole detector is TWO stacked windows over ONE
    (user, ts, id) sort: a cumsum and a running min, no recursion, no
    UDF, no second exchange. Allowance k = floor(global mean), threshold
    h = 5k; values milli-scaled to exact integers, so the flag set
    hash-matches across engines.

    Scale shape: one Exchange on user_id shared by both window frames;
    the 1-row global-mean broadcast is the only other input."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    scaled = e.select(
        "user_id",
        "ts",
        "event_id",
        F.floor(F.col("value") * 1000 + 0.5).cast("long").alias("x"),
    )
    kdf = scaled.agg(
        F.floor(
            F.sum(F.col("x").cast("decimal(30,0)")).cast("double")
            / F.count(F.lit(1))
        )
        .cast("long")
        .alias("k")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wall = w.rowsBetween(Window.unboundedPreceding, 0)
    c = F.sum(F.col("x") - F.col("k")).over(wall)
    with_s = (
        scaled.crossJoin(F.broadcast(kdf))
        .withColumn("c", c)
        .withColumn(
            "s", F.col("c") - F.least(F.lit(0), F.min("c").over(wall))
        )
    )
    return (
        with_s.filter(F.col("s") > 5 * F.col("k"))
        .select("user_id", "event_id", F.col("s").alias("cusum"))
        .orderBy("user_id", "event_id")
    )


CUSUM_SQL = """
WITH scaled AS (
  SELECT user_id, ts, event_id,
         CAST(floor(value * 1000 + 0.5) AS BIGINT) AS x
  FROM events
), k AS (
  SELECT CAST(floor(CAST(sum(x) AS DOUBLE) / count(*)) AS BIGINT) AS k
  FROM scaled
), pre AS (
  SELECT user_id, ts, event_id, k,
         sum(x - k) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
  FROM scaled CROSS JOIN k
), pre2 AS (
  SELECT user_id, event_id, k, c,
         min(c) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runmin
  FROM pre
)
SELECT user_id, event_id, c - least(0, runmin) AS cusum
FROM pre2
WHERE c - least(0, runmin) > 5 * k
ORDER BY user_id, event_id
"""


# =====================================================================
# Benford first-digit audit (fraud / data-quality screening)
# =====================================================================

def benford_audit_prices(spark, sf_dir):
    """First-significant-digit distribution of o_totalprice vs Benford's
    law, with the per-digit chi-square contribution. Digit extraction is
    floor(x / 10^floor(log10 x)) — the identical double expression on
    both engines; expected shares are log10(1+1/d); contributions are
    quantized to 1e-6 before any cross-row math. A pure two-aggregate
    pipeline (digit histogram + 1-row total)."""
    od = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    digit = F.floor(
        F.col("o_totalprice")
        / F.pow(F.lit(10.0), F.floor(F.log10("o_totalprice")))
    ).cast("int")
    cells = od.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n_obs")
    )
    tot = cells.agg(F.sum("n_obs").alias("n"))
    expected = F.log(F.lit(1.0) + 1.0 / F.col("digit")) / F.log(F.lit(10.0))
    exp_n = F.col("n") * expected
    chi = F.round(
        (F.col("n_obs") - exp_n) * (F.col("n_obs") - exp_n) / exp_n * 1e6
    ).cast("long")
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.col("n_obs").cast("long").alias("n_obs"),
            F.round(F.col("n_obs") / F.col("n"), 6).alias("obs_pct"),
            F.round(expected, 6).alias("benford_pct"),
            F.round(chi.cast("double") / 1e6, 6).alias("chi2_contrib"),
        )
        .orderBy("digit")
    )


BENFORD_SQL = """
WITH cells AS (
  SELECT CAST(floor(o_totalprice / pow(10.0, floor(log10(o_totalprice)))) AS INT)
           AS digit,
         count(*) AS n_obs
  FROM orders WHERE o_totalprice >= 1
  GROUP BY 1
), tot AS (
  SELECT sum(n_obs) AS n FROM cells
)
SELECT digit, CAST(n_obs AS BIGINT) AS n_obs,
       round(n_obs / nullif(CAST(n AS DOUBLE), 0), 6) AS obs_pct,
       round(ln(1.0 + 1.0 / digit) / ln(10.0), 6) AS benford_pct,
       round(CAST(round((n_obs - n * (ln(1.0 + 1.0 / digit) / ln(10.0)))
                  * (n_obs - n * (ln(1.0 + 1.0 / digit) / ln(10.0)))
                  / (n * (ln(1.0 + 1.0 / digit) / ln(10.0))) * 1e6) AS BIGINT)
             / 1e6, 6) AS chi2_contrib
FROM cells CROSS JOIN tot
ORDER BY digit
"""


# =====================================================================
# cascaded time rollups (reaggregation from coarser levels)
# =====================================================================

def cascaded_time_rollups(spark, sf_dir):
    """Hour -> day -> week rollup cascade: the weekly view is computed
    FROM the daily view, which is computed FROM the hourly view — never
    from raw events again. Emits the weekly level; the oracle computes
    weekly straight from the events, proving the cascade is lossless.

    Scale shape: this is the materialized-rollup discipline — each level
    reads the previous level (24x, then 7x smaller), so the daily job
    touches |hours| rows, not |events|; measures are count + decimal sum
    (additive, so reaggregation is exact — a median or distinct would
    need the raw level or a mergeable sketch, stated not hidden)."""
    e = _t(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(30,8)")
    hourly = e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("h"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"), F.sum(dec).alias("v"))
    daily = hourly.groupBy(
        F.date_trunc("day", F.col("h")).alias("d"), "event_type"
    ).agg(F.sum("n").alias("n"), F.sum("v").cast("decimal(30,8)").alias("v"))
    weekly = daily.groupBy(
        F.date_trunc("week", F.col("d")).alias("week"), "event_type"
    ).agg(F.sum("n").alias("n"), F.sum("v").cast("decimal(30,8)").alias("v"))
    return weekly.select(
        "week",
        "event_type",
        F.col("n").cast("long").alias("n_events"),
        F.round("v", 2).cast("double").alias("value_sum"),
    ).orderBy("week", "event_type")


CASCADED_ROLLUP_SQL = """
SELECT date_trunc('week', ts) AS week, event_type,
       count(*) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(30,8))), 2) AS DOUBLE) AS value_sum
FROM events
GROUP BY 1, 2
ORDER BY week, event_type
"""


# =====================================================================
# grouped closed-form OLS (a million small regressions as ONE aggregate)
# =====================================================================

def grouped_ols_user_trends(spark, sf_dir):
    """Per-user OLS trend of event value over time: slope and intercept
    from the closed-form normal equations, computed as ONE map-side-
    combinable aggregate per user — n, Sx, Sy, Sxx, Sxy in exact
    decimals, then two scalar divisions. The 'fit a million small
    models' shape: no per-group iteration, no UDF, no collect — a
    GroupBy is the trainer. Users with < 3 events or a degenerate
    x-range are reported with null slope (contract, not a crash).

    Numerical note: the time anchor sits INSIDE the data range
    (2024-01-01). The raw-moment normal equations subtract two
    near-equal ~n^2*mean(x)^2 terms, so an anchor far from the data
    (epoch 1970/1995) loses ~6 significant digits to cancellation —
    observed as a 0.7-unit intercept error on a perfect-line fixture —
    while an in-range anchor keeps det the same magnitude as its terms.
    Both engines compute the identical (mis)value either way; the anchor
    choice is what makes the VALUE right, not just reproducible."""
    e = _t(spark, sf_dir, "events")
    # x in EXACT integer seconds since 2024-01-01 (1704067200 — the
    # in-range anchor the docstring's cancellation analysis requires;
    # ts is whole seconds):
    # the moment sums are then exact decimals with no double->decimal
    # rounding divergence; slope converts to per-hour only at the end
    # cast(ts as long) FLOORS the sub-second part; the oracle must floor
    # epoch() too (epoch returns a fractional double there)
    x = F.col("ts").cast("long") - F.lit(1704067200)
    # y milli-scaled to an exact integer (the CUSUM convention); per-row
    # products stay inside int64 (x <= ~1e8 -> x*x <= 1e16, x*y_m <= 1e14)
    # and only the SUMS widen to exact decimal(38,0)
    y_m = F.floor(F.col("value") * 1000 + 0.5).cast("long")
    base = e.select(
        "user_id",
        x.alias("x"),
        y_m.alias("y"),
        (x * x).alias("xx"),
        (x * y_m).alias("xy"),
    )
    g = base.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum(F.col("xx").cast("decimal(38,0)")).alias("sxx"),
        F.sum(F.col("xy").cast("decimal(38,0)")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    sxy = F.col("sxy").cast("double")
    det = n * sxx - sx * sx
    slope_m = (n * sxy - sx * sy) / F.nullif(det, F.lit(0.0))
    return g.select(
        "user_id",
        F.col("n").cast("long").alias("n_events"),
        # milli-units/sec -> real units/hour: * 3600 / 1000 = * 3.6
        F.when(F.col("n") >= 3, F.round(slope_m * 3.6, 4)).alias(
            "slope_per_hour"
        ),
        F.when(
            F.col("n") >= 3,
            F.round((sy - slope_m * sx) / n / 1000.0, 4),
        ).alias("intercept"),
    ).orderBy("user_id")


GROUPED_OLS_SQL = """
WITH base AS (
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) - 1704067200 AS x,
         CAST(floor(value * 1000 + 0.5) AS BIGINT) AS y
  FROM events
), g AS (
  SELECT user_id, count(*) AS n,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy
  FROM base GROUP BY user_id
)
SELECT user_id, CAST(n AS BIGINT) AS n_events,
       CASE WHEN n >= 3 THEN round(
         ((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          / nullif(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0))
         * 3.6, 4) END AS slope_per_hour,
       CASE WHEN n >= 3 THEN round(
         (CAST(sy AS DOUBLE)
          - ((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / nullif(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0))
            * CAST(sx AS DOUBLE)) / n / 1000.0, 4) END AS intercept
FROM g
ORDER BY user_id
"""


# =====================================================================
# join-cardinality estimation audit (optimizer engineering as data)
# =====================================================================

_CARD_BUCKETS = 64


def join_cardinality_audit(spark, sf_dir):
    """How good is a 64-bucket histogram estimate of an equi-join's
    output cardinality? For two star joins report TRUE join rows
    (computed as sum over keys of c_A(k)*c_B(k) — per-key count
    aggregates joined, never the join itself) against the bucketed
    estimate sum_b ca_b*cb_b/max(ndv_a_b, ndv_b_b) — the equi-depth
    containment assumption every cost-based optimizer makes. The rel
    error column is the number a planner reviewer actually wants.

    Scale shape: two keyed count aggregates + one join on the key for
    truth; the estimate runs on 64-bucket summaries — O(buckets), the
    whole point of histogram statistics. The portable md5 bucket hash
    keeps both engines in identical buckets."""

    def audit(a, akey, b, bkey, name):
        bucket = lambda c: (
            F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast(
                "long"
            )
            % _CARD_BUCKETS
        )
        # each per-key count table feeds TWO consumers (the truth join
        # and its bucketed histogram); pin them so every fact table is
        # scanned+aggregated once per audit, not twice (16 parquet scans
        # in one plan before — plans/r08/join_cardinality_audit_before.txt)
        ca = (
            a.groupBy(F.col(akey).alias("k"))
            .agg(F.count(F.lit(1)).alias("ca"))
            .transform(pin, eager=False)
        )
        cb = (
            b.groupBy(F.col(bkey).alias("k"))
            .agg(F.count(F.lit(1)).alias("cb"))
            .transform(pin, eager=False)
        )
        true_rows = (
            ca.join(cb, "k")
            .agg(
                F.sum(
                    (F.col("ca") * F.col("cb")).cast("decimal(38,0)")
                ).alias("t")
            )
            .select(F.coalesce(F.col("t"), F.lit(0)).cast("long").alias("t"))
        )
        ha = ca.groupBy(bucket(F.col("k")).alias("b")).agg(
            F.sum("ca").alias("ca"), F.count(F.lit(1)).alias("nda")
        )
        hb = cb.groupBy(bucket(F.col("k")).alias("b")).agg(
            F.sum("cb").alias("cb"), F.count(F.lit(1)).alias("ndb")
        )
        est = (
            ha.join(hb, "b")
            .agg(
                F.sum(
                    F.floor(
                        (F.col("ca") * F.col("cb"))
                        / F.greatest(F.col("nda"), F.col("ndb"))
                    ).cast("decimal(38,0)")
                ).alias("e")
            )
            .select(F.coalesce(F.col("e"), F.lit(0)).cast("long").alias("e"))
        )
        return (
            true_rows.crossJoin(F.broadcast(est))
            .select(
                F.lit(name).alias("join_pair"),
                F.col("t").alias("true_rows"),
                F.col("e").alias("est_rows"),
                F.round(
                    (F.col("e") - F.col("t"))
                    / F.nullif(F.col("t").cast("double"), F.lit(0.0)),
                    6,
                ).alias("rel_error"),
            )
        )

    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders")
    pt = _t(spark, sf_dir, "part")
    return (
        audit(li, "l_orderkey", od, "o_orderkey", "lineitem-orders")
        .unionByName(audit(li, "l_partkey", pt, "p_partkey", "lineitem-part"))
        .orderBy("join_pair")
    )


JOIN_CARD_SQL = """
WITH sides AS (
  SELECT 'lineitem-orders' AS jp, CAST(l_orderkey AS VARCHAR) AS k, 'a' AS side FROM lineitem
  UNION ALL
  SELECT 'lineitem-orders', CAST(o_orderkey AS VARCHAR), 'b' FROM orders
  UNION ALL
  SELECT 'lineitem-part', CAST(l_partkey AS VARCHAR), 'a' FROM lineitem
  UNION ALL
  SELECT 'lineitem-part', CAST(p_partkey AS VARCHAR), 'b' FROM part
), keyed AS (
  SELECT jp, side, k, count(*) AS c FROM sides GROUP BY 1, 2, 3
), truth AS (
  SELECT a.jp, coalesce(sum(a.c * b.c), 0) AS true_rows
  FROM keyed a JOIN keyed b
    ON a.jp = b.jp AND a.k = b.k AND a.side = 'a' AND b.side = 'b'
  GROUP BY a.jp
), hist AS (
  SELECT jp, side, ('0x' || substr(md5(k), 1, 8))::BIGINT % 64 AS bkt,
         sum(c) AS c, count(*) AS nd
  FROM keyed GROUP BY 1, 2, 3
), est AS (
  SELECT a.jp,
         coalesce(sum(CAST(floor((a.c * b.c) / greatest(a.nd, b.nd)) AS BIGINT)), 0)
           AS est_rows
  FROM hist a JOIN hist b
    ON a.jp = b.jp AND a.bkt = b.bkt AND a.side = 'a' AND b.side = 'b'
  GROUP BY a.jp
)
SELECT t.jp AS join_pair, CAST(true_rows AS BIGINT) AS true_rows,
       CAST(est_rows AS BIGINT) AS est_rows,
       round((est_rows - true_rows) / nullif(CAST(true_rows AS DOUBLE), 0), 6)
         AS rel_error
FROM truth t JOIN est e ON e.jp = t.jp
ORDER BY join_pair
"""


# =====================================================================
# decile lift / gains table for a quality score
# =====================================================================

def score_lift_table(spark, sf_dir):
    """Lift/gains table for the lexical-diversity score against the
    length label: fixed-width score deciles (NOT global ntile — the
    r2-weak lesson), per-decile positives and rate, plus cumulative
    capture and lift reading from the best decile down. The window
    runs over the 10-row decile table. The standard weak-label triage
    readout for a curation classifier."""
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "
    )
    score = F.size(F.array_distinct(toks)) / F.size(toks)
    label = (F.col("n_chars") >= 200).cast("long")
    binned = d.select(
        F.least(F.floor(score * 10).cast("int"), F.lit(9)).alias("decile"),
        label.alias("pos"),
    )
    cells = binned.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"), F.sum("pos").alias("n_pos")
    )
    tot = cells.agg(
        F.sum("n").alias("n_tot"), F.sum("n_pos").alias("pos_tot")
    )
    w = Window.orderBy(F.desc("decile")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        cells.crossJoin(F.broadcast(tot))
        .withColumn("cum_pos", F.sum("n_pos").over(w))
        .withColumn("cum_n", F.sum("n").over(w))
        .select(
            "decile",
            F.col("n").cast("long").alias("n"),
            F.col("n_pos").cast("long").alias("n_pos"),
            F.round(F.col("n_pos") / F.col("n"), 6).alias("rate"),
            F.round(
                F.col("cum_pos") / F.nullif(F.col("pos_tot").cast("double"), F.lit(0.0)), 6
            ).alias("cum_capture"),
            F.round(
                (F.col("cum_pos") / F.col("cum_n"))
                / F.nullif(
                    F.col("pos_tot") / F.col("n_tot").cast("double"),
                    F.lit(0.0),
                ),
                6,
            ).alias("cum_lift"),
        )
        .orderBy(F.desc("decile"))
    )


SCORE_LIFT_SQL = r"""
WITH binned AS (
  SELECT least(CAST(floor(
           (len(list_distinct(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')))
            / CAST(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS DOUBLE))
           * 10) AS INT), 9) AS decile,
         CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS pos
  FROM documents
), cells AS (
  SELECT decile, count(*) AS n, sum(pos) AS n_pos FROM binned GROUP BY decile
), tot AS (
  SELECT sum(n) AS n_tot, sum(n_pos) AS pos_tot FROM cells
)
SELECT decile, CAST(n AS BIGINT) AS n, CAST(n_pos AS BIGINT) AS n_pos,
       round(n_pos / CAST(n AS DOUBLE), 6) AS rate,
       round(sum(n_pos) OVER w / nullif(CAST(pos_tot AS DOUBLE), 0), 6) AS cum_capture,
       round((sum(n_pos) OVER w / CAST(sum(n) OVER w AS DOUBLE))
             / nullif(pos_tot / CAST(n_tot AS DOUBLE), 0), 6) AS cum_lift
FROM cells CROSS JOIN tot
WINDOW w AS (ORDER BY decile DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY decile DESC
"""


# =====================================================================
# item-item collaborative filtering (co-purchase cosine)
# =====================================================================

_ITEMSIM_MAX_BASKET = 200
_ITEMSIM_TOPK = 5


def itemsim_cosine_parts(spark, sf_dir):
    """Item-item collaborative filtering: cosine similarity over the
    customer-part interaction matrix — sim(i,j) = |U_i ^ U_j| /
    sqrt(|U_i|·|U_j|) — with the top-5 neighbors per part. The
    "customers who bought X also bought Y" primitive.

    Scale shape: co-occurrence counts ride basket_pairs' in-row
    expansion over per-customer item sets (size-gated — one crawler
    account must not go quadratic); SUPPORT PRUNING (n_common >= 2)
    right after the pair count drops the singleton-co-purchase noise
    floor BEFORE the directed expansion, degree joins and top-k window
    — at sf0.1 that is 12.7M -> 0.4M pairs (30x less tail work;
    measured ~2.2x end-to-end: the exact in-row pair count over 13M
    expansions is the remaining floor), and a cosine built on one shared
    customer is statistical noise anyway (DIMSUM-style sampling is the
    further step at 100 TB); item degrees join back as a broadcast
    (item cardinality is the catalog, not the interaction log); the
    per-item top-k window is PARTITIONED by item. The oracle
    replicates gate, support floor, counts, and cosine exactly."""
    from pyspark.sql import Window

    from kinesis_app_spark.operators.baskets import (
        basket_arrays,
        pair_counts_from_arrays,
    )

    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders")
    # ONE basket fold replaces distinct + sizes-gate join: collect_set is
    # the distinct, size(__arr) is the gate (identical semantics — the
    # count the oracle's HAVING gates on IS the distinct item count).
    # localCheckpoint pins the shared subtree: the old shape re-ran the
    # lineitem⋈orders⟶distinct⟶gate tree up to SIX times (32 parquet
    # scans in one plan — plans/r08/itemsim_cosine_parts_before.txt).
    baskets = basket_arrays(
        li.join(od, li.l_orderkey == od.o_orderkey),
        basket_col="o_custkey",
        item_col="l_partkey",
        max_basket_size=_ITEMSIM_MAX_BASKET,
    ).transform(pin, eager=False)
    deg = (
        baskets.select(F.explode("__arr").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # pin the pair counts too: the directed union below consumes them
    # twice, and the in-row i<j expansion (13M pairs at sf0.1) is the
    # entry's measured floor — paying it once, not twice, is the win
    pairs = (
        pair_counts_from_arrays(baskets)
        .withColumnRenamed("n_baskets", "n_common")
        .filter(F.col("n_common") >= 2)
        .transform(pin, eager=False)
    )
    directed = pairs.select(
        F.col("item_a").alias("item"),
        F.col("item_b").alias("neighbor"),
        "n_common",
    ).unionByName(
        pairs.select(
            F.col("item_b").alias("item"),
            F.col("item_a").alias("neighbor"),
            "n_common",
        )
    )
    di = deg.select(F.col("item"), F.col("d").alias("d_i"))
    dj = deg.select(F.col("item").alias("neighbor"), F.col("d").alias("d_j"))
    scored = (
        directed.join(F.broadcast(di), "item")
        .join(F.broadcast(dj), "neighbor")
        .withColumn(
            "cosine",
            F.round(
                F.col("n_common") / F.sqrt(F.col("d_i") * F.col("d_j")), 6
            ),
        )
    )
    w = Window.partitionBy("item").orderBy(
        F.desc("cosine"), F.desc("n_common"), F.col("neighbor")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _ITEMSIM_TOPK)
        .select(
            "item", "neighbor", "n_common", "cosine", F.col("rank").cast("int")
        )
        .orderBy("item", "rank")
    )


ITEMSIM_SQL = """
WITH inter AS (
  SELECT DISTINCT o_custkey, l_partkey
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), gated AS (
  SELECT * FROM inter
  WHERE o_custkey IN (
    SELECT o_custkey FROM inter GROUP BY o_custkey HAVING count(*) <= 200
  )
), deg AS (
  SELECT l_partkey AS item, count(*) AS d FROM gated GROUP BY 1
), pairs AS (
  SELECT a.l_partkey AS item_a, b.l_partkey AS item_b, count(*) AS n_common
  FROM gated a JOIN gated b
    ON a.o_custkey = b.o_custkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= 2
), directed AS (
  SELECT item_a AS item, item_b AS neighbor, n_common FROM pairs
  UNION ALL
  SELECT item_b, item_a, n_common FROM pairs
), scored AS (
  SELECT directed.item AS item, directed.neighbor AS neighbor, n_common,
         round(n_common / sqrt(CAST(di.d * dj.d AS DOUBLE)), 6) AS cosine
  FROM directed
  JOIN deg di ON di.item = directed.item
  JOIN deg dj ON dj.item = directed.neighbor
)
SELECT item, neighbor, n_common, cosine,
       CAST(row_number() OVER (PARTITION BY item
            ORDER BY cosine DESC, n_common DESC, neighbor) AS INT) AS rank
FROM scored
QUALIFY rank <= 5
ORDER BY item, rank
"""


# =====================================================================
# k-core decomposition (iterated peel to fixpoint)
# =====================================================================

_KCORE_K = 3
_KCORE_ORACLE_ROUNDS = 16


def kcore_parts(spark, sf_dir):
    """The 3-core of the repeat-co-purchase part graph: iterated peeling
    to fixpoint (operators/graph.k_core). The oracle unrolls
    _KCORE_ORACLE_ROUNDS peel rounds as CTEs — past the fixpoint a peel
    is the identity, so the unroll equals the fixpoint as long as the
    cascade settles within it (the engine RAISES past max_rounds rather
    than returning a non-fixpoint, so a divergence would fail loudly,
    not silently)."""
    from kinesis_app_spark.operators.baskets import basket_pairs
    from kinesis_app_spark.operators.graph import k_core

    li = _t(spark, sf_dir, "lineitem")
    edges = (
        basket_pairs(li, basket_col="l_orderkey", item_col="l_partkey")
        .filter(F.col("n_baskets") >= 2)
        .select(F.col("item_a").alias("src"), F.col("item_b").alias("dst"))
    )
    return k_core(edges, k=_KCORE_K).orderBy("node")


def _kcore_sql() -> str:
    base = """
WITH items AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pairs AS MATERIALIZED (
  SELECT a.l_partkey AS src, b.l_partkey AS dst
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= 2
), sym AS MATERIALIZED (
  SELECT src AS a, dst AS b FROM pairs
  UNION
  SELECT dst, src FROM pairs
), alive0 AS MATERIALIZED (
  SELECT DISTINCT a FROM sym
)"""
    prev = "alive0"
    for i in range(1, _KCORE_ORACLE_ROUNDS + 1):
        base += f""", alive{i} AS MATERIALIZED (
  SELECT s.a FROM sym s
  JOIN {prev} x ON x.a = s.a
  JOIN {prev} y ON y.a = s.b
  GROUP BY s.a HAVING count(*) >= 3
)"""
        prev = f"alive{i}"
    base += f"""
SELECT s.a AS node, count(*) AS core_degree
FROM sym s
JOIN {prev} x ON x.a = s.a
JOIN {prev} y ON y.a = s.b
GROUP BY s.a
HAVING count(*) >= 3
ORDER BY node
"""
    return base


KCORE_SQL = _kcore_sql()


# =====================================================================
# classifier agreement (Cohen's kappa)
# =====================================================================

def classifier_agreement_kappa(spark, sf_dir):
    """Cohen's kappa between two cheap document-quality classifiers —
    a length rule and a lexical-diversity rule — plus the full 2x2
    agreement table. The standard chance-corrected agreement readout a
    labeling pipeline runs before trusting weak labels. One zero-shuffle
    projection + one 1-row fold; kappa = (po - pe) / (1 - pe) over
    exact-count ratios with the identical expression on both engines."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "
    )
    flag_a = (F.col("n_chars") >= 200).cast("int")
    flag_b = (
        (F.size(F.array_distinct(toks)) / F.size(toks)) >= 0.5
    ).cast("int")
    cells = d.select(flag_a.alias("a"), flag_b.alias("b")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(((F.col("a") == 1) & (F.col("b") == 1)).cast("long")).alias("n11"),
        F.sum(((F.col("a") == 1) & (F.col("b") == 0)).cast("long")).alias("n10"),
        F.sum(((F.col("a") == 0) & (F.col("b") == 1)).cast("long")).alias("n01"),
        F.sum(((F.col("a") == 0) & (F.col("b") == 0)).cast("long")).alias("n00"),
    )
    nn = F.nullif(F.col("n").cast("double"), F.lit(0.0))
    po = (F.col("n11") + F.col("n00")) / nn
    pe = (
        ((F.col("n11") + F.col("n10")) / nn)
        * ((F.col("n11") + F.col("n01")) / nn)
        + ((F.col("n01") + F.col("n00")) / nn)
        * ((F.col("n10") + F.col("n00")) / nn)
    )
    return cells.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.round((po - pe) / F.nullif(1 - pe, F.lit(0.0)), 6).alias("kappa"),
    )


KAPPA_SQL = r"""
WITH flags AS (
  SELECT CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS a,
         CASE WHEN len(list_distinct(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')))
                   / CAST(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS DOUBLE)
              >= 0.5 THEN 1 ELSE 0 END AS b
  FROM documents
), cells AS (
  SELECT count(*) AS n,
         sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS n11,
         sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS n10,
         sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS n01,
         sum(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END) AS n00
  FROM flags
)
SELECT n, n11, n10, n01, n00,
       round((n11 + n00) / nullif(CAST(n AS DOUBLE), 0), 6) AS po,
       round(((n11 + n10) / nullif(CAST(n AS DOUBLE), 0)) * ((n11 + n01) / nullif(CAST(n AS DOUBLE), 0))
             + ((n01 + n00) / nullif(CAST(n AS DOUBLE), 0)) * ((n10 + n00) / nullif(CAST(n AS DOUBLE), 0)), 6) AS pe,
       round(((n11 + n00) / nullif(CAST(n AS DOUBLE), 0)
              - (((n11 + n10) / nullif(CAST(n AS DOUBLE), 0)) * ((n11 + n01) / nullif(CAST(n AS DOUBLE), 0))
                 + ((n01 + n00) / nullif(CAST(n AS DOUBLE), 0)) * ((n10 + n00) / nullif(CAST(n AS DOUBLE), 0))))
             / nullif(1 - (((n11 + n10) / nullif(CAST(n AS DOUBLE), 0)) * ((n11 + n01) / nullif(CAST(n AS DOUBLE), 0))
                 + ((n01 + n00) / nullif(CAST(n AS DOUBLE), 0)) * ((n10 + n00) / nullif(CAST(n AS DOUBLE), 0))), 0), 6) AS kappa
FROM cells
"""


# =====================================================================
# streaming CUSUM (fixed allowance, the production configuration)
# =====================================================================

_SCUSUM_K = 60_000   # fixed allowance in milli-units (target-shift config)
_SCUSUM_H = 250_000  # decision threshold: flags bursty users at every gate SF


def streaming_cusum_flags(spark, sf_dir):
    """True streaming CUSUM drift flags: per-key state = (C, runmin) —
    the two integers the window-algebra closed form needs, carried
    across micro-batches. Production CUSUM runs with a FIXED allowance
    k (chosen from the target shift), which is what makes it streamable
    at all: the batch entry's data-derived k needs the full corpus, the
    detector only needs its config. Same squared-integer discipline as
    streaming_anomaly_flags; the oracle is the batch window form with
    the same constant."""
    from kinesis_app_spark.registry_streaming import _mk_stream
    from kinesis_app_spark.streaming.ops import (
        run_to_memory,
        running_cusum_flags,
    )

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    stream, ckpt = _mk_stream(spark, ev, cache_key=f"{sf_dir}|anom")
    flags = running_cusum_flags(
        stream, "user_id", "ts", "event_id", "value",
        k=_SCUSUM_K, h=_SCUSUM_H,
    )
    res = run_to_memory(flags, ckpt, output_mode="update", shuffle_partitions=PYSTATE_STREAM_SHUFFLE)
    return res.select("key", "seq", "cusum").orderBy("key", "seq")


STREAMING_CUSUM_SQL = """
WITH scaled AS (
  SELECT user_id, ts, event_id,
         CAST(floor(value * 1000 + 0.5) AS BIGINT) AS x
  FROM events
), pre AS (
  SELECT user_id, ts, event_id,
         sum(x - 60000) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
  FROM scaled
), pre2 AS (
  SELECT user_id, event_id, c,
         min(c) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runmin
  FROM pre
)
SELECT user_id AS key, event_id AS seq, c - least(0, runmin) AS cusum
FROM pre2
WHERE c - least(0, runmin) > 250000
ORDER BY key, seq
"""


# =====================================================================
# two-phase star connected components (O(log n) rounds)
# =====================================================================

def dedup_cluster_components_star(spark, sf_dir):
    """The dedup_cluster_components pipeline with the LARGE-STAR /
    SMALL-STAR component algorithm (Kiveris et al.) in place of
    min-label propagation: rounds scale with log(n), not component
    diameter — the difference between 12 rounds and 600 on a chain-
    shaped duplicate cluster (a crawl re-crawled daily produces exactly
    those). Same min-id labeling, same recursive-CTE oracle."""
    from kinesis_app_spark.operators.dedup import ngram_jaccard_pairs
    from kinesis_app_spark.operators.graph import connected_components_star

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.5)
    cc = connected_components_star(pairs)
    return cc.select(
        "id",
        "component",
        (F.col("id") == F.col("component")).alias("is_canonical"),
    )


REGISTRY_ROUND3: dict[str, QuerySpec] = {
    "association_rules_brands": QuerySpec(
        association_rules_brands, ASSOCIATION_RULES_SQL
    ),
    "shortest_path_weighted_nations": QuerySpec(
        shortest_path_weighted_nations, SHORTEST_PATH_SQL
    ),
    "incremental_join_view": QuerySpec(
        incremental_join_view, INCREMENTAL_JOIN_SQL
    ),
    "label_propagation_parts": QuerySpec(
        label_propagation_parts, LABEL_PROPAGATION_SQL
    ),
    "paragraph_dedup_docs": QuerySpec(
        paragraph_dedup_docs, PARAGRAPH_DEDUP_SQL
    ),
    "multimodal_audio_pitch": QuerySpec(
        multimodal_audio_pitch, AUDIO_PITCH_SQL
    ),
    "dedup_jaccard_prefix": QuerySpec(dedup_jaccard_prefix, None),
    "ab_test_analysis_events": QuerySpec(ab_test_analysis_events, AB_TEST_SQL),
    "join_planning_advisor": QuerySpec(
        join_planning_advisor, JOIN_ADVISOR_SQL
    ),
    "streaming_anomaly_flags": QuerySpec(
        streaming_anomaly_flags, STREAMING_ANOMALY_SQL
    ),
    "mutual_information_pairs": QuerySpec(
        mutual_information_pairs, MUTUAL_INFO_SQL
    ),
    "kaplan_meier_conversion": QuerySpec(
        kaplan_meier_conversion, KAPLAN_MEIER_SQL
    ),
    "functional_dependency_audit": QuerySpec(
        functional_dependency_audit, FD_AUDIT_SQL
    ),
    "neyman_allocation_plan": QuerySpec(neyman_allocation_plan, NEYMAN_SQL),
    "psi_drift_report": QuerySpec(psi_drift_report, PSI_SQL),
    "conformal_interval_events": QuerySpec(
        conformal_interval_events, CONFORMAL_SQL
    ),
    "frequent_triples_brands": QuerySpec(
        frequent_triples_brands, FREQUENT_TRIPLES_SQL
    ),
    "cusum_changepoints_events": QuerySpec(
        cusum_changepoints_events, CUSUM_SQL
    ),
    "benford_audit_prices": QuerySpec(benford_audit_prices, BENFORD_SQL),
    "cascaded_time_rollups": QuerySpec(
        cascaded_time_rollups, CASCADED_ROLLUP_SQL
    ),
    "grouped_ols_user_trends": QuerySpec(
        grouped_ols_user_trends, GROUPED_OLS_SQL
    ),
    "dedup_cluster_components_star": QuerySpec(
        dedup_cluster_components_star, None
    ),
    "streaming_cusum_flags": QuerySpec(
        streaming_cusum_flags, STREAMING_CUSUM_SQL
    ),
    "kcore_parts": QuerySpec(kcore_parts, KCORE_SQL),
    "itemsim_cosine_parts": QuerySpec(itemsim_cosine_parts, ITEMSIM_SQL),
    "join_cardinality_audit": QuerySpec(
        join_cardinality_audit, JOIN_CARD_SQL
    ),
    "score_lift_table": QuerySpec(score_lift_table, SCORE_LIFT_SQL),
    "classifier_agreement_kappa": QuerySpec(
        classifier_agreement_kappa, KAPPA_SQL
    ),
}

# the prefix-filter formulation must equal the inverted-index one, and
# the star components the label-propagation one — same oracles, bound
# late to avoid circular imports at module load
def _bind_prefix_oracle() -> None:
    from kinesis_app_spark.registry import DEDUP_JACCARD_SQL
    from kinesis_app_spark.registry_pipeline import DEDUP_CLUSTERS_SQL

    REGISTRY_ROUND3["dedup_jaccard_prefix"] = QuerySpec(
        dedup_jaccard_prefix, DEDUP_JACCARD_SQL
    )
    REGISTRY_ROUND3["dedup_cluster_components_star"] = QuerySpec(
        dedup_cluster_components_star, DEDUP_CLUSTERS_SQL
    )
