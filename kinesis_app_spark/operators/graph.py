"""Connected components — the iterative-algorithm operator class.

The motivating use: near-duplicate PAIRS under-specify dedup (dropping one
side of each pair can over- or under-delete when dups chain A~B~C); the
right unit is the connected COMPONENT of the near-dup graph, with one
canonical survivor per component.

Implementation is min-label propagation: every vertex starts labeled with
its own id; each round takes the min of its label and its neighbors'
labels; converges to the component-minimum id in O(component diameter)
rounds (near-dup clusters are shallow — typically 2-3 rounds).

Scale notes: the loop lives on the driver; each round is one shuffle-join
of (edges x labels) + a groupBy min — both keyed shuffles AQE can size.
``pin()`` (kinesis_app_spark/pinning.py) truncates the growing lineage
every round — the standard iterative-algorithm discipline on Spark. The
default ``local`` strategy (localCheckpoint) stores pinned partitions in
executor-local blocks with NO replication: an executor loss makes them
unrecoverable and fails the query, and eager pins run jobs at plan-
construction time — acceptable on one box, not the 100 TB default.
Deploy clusters with ``SPARK_GRAFT_PIN=reliable`` (replicated
``checkpoint()`` into the checkpoint dir the caller sets on shared
storage); see pinning.py for the full trade-off table.
Convergence is detected with a count of changed labels, which also
materializes the round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kinesis_app_spark.pinning import pin


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_rounds: int = 25,
) -> DataFrame:
    """(id, component) for every vertex appearing in edges; component is
    the minimum vertex id in that connected component."""
    # Pin the caller's edge pipeline FIRST: the symmetrizing union below
    # consumes it twice, so without this pin the upstream pair build
    # (shingling, posting self-join, …) executes twice before sym's own
    # checkpoint ever lands.
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).transform(pin, eager=True)
    # Materialize the (symmetrized) edge list ONCE — the upstream pair
    # pipeline (shingling, posting self-join, …) must not re-execute every
    # round. Pre-hash-partitioning by dst lets every round's neighbor join
    # reuse this layout instead of re-exchanging the static side.
    sym = (
        e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .repartition("dst")
        .transform(pin, eager=True)
    )
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .transform(pin, eager=True)
    )
    for _ in range(max_rounds):
        nbr_min = (
            sym.join(labels, sym.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_min"))
        )
        # keep the previous label alongside so convergence is a cheap scan
        # of the checkpointed rows, not another join
        step = (
            labels.join(nbr_min, labels.id == nbr_min.src, "left")
            .select(
                F.col("id"),
                F.col("label").alias("old_label"),
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_min"), F.col("label"))
                ).alias("label"),
            )
            .transform(pin, eager=True)
        )
        changed = step.filter(F.col("label") != F.col("old_label")).count()
        labels = step.select("id", "label")
        if changed == 0:
            break
    else:
        # partial labels are WRONG labels — a component with diameter >
        # max_rounds (e.g. a long chain of near-dup docs) must not be
        # silently reported as multiple components
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds "
            f"({changed} labels still changing); raise max_rounds — rounds "
            "needed grow with the largest component's diameter"
        )
    return labels.select("id", F.col("label").alias("component"))


def dedup_clusters(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Near-dup clusters from a pair list: (id, component, is_canonical)
    where the canonical doc is the minimum id of its component."""
    cc = connected_components(pairs, src, dst)
    return cc.select(
        "id",
        "component",
        (F.col("id") == F.col("component")).alias("is_canonical"),
    )


def pagerank_fixed_point(
    edges: DataFrame,
    iterations: int = 5,
    scale: int = 10**12,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """PageRank (damping 0.85) in FIXED-POINT integer arithmetic: ranks are
    longs scaled by ``scale``, contributions use integer division
    (rank div out_degree), and the damping update is
    base + (85 * sum) div 100 — every operation exact and
    order-independent, so the result is bit-identical across engines (an
    IEEE-double PageRank is not: per-node contribution sums fold in
    engine-dependent order). That exactness is what lets an iterative
    algorithm pass a value-hash oracle.

    Iterative discipline differs from connected_components deliberately:
    there is no per-round convergence count forcing execution, so the
    whole fixed-iteration loop stays ONE lazy plan — edges and nodes are
    localCheckpointed once (they are re-consumed every round), but the
    rounds themselves fuse into a single job instead of materializing five
    times (measured ~2x faster than per-round checkpoints at sf0.1; for
    many-round runs on a real cluster, checkpoint every ~10 rounds to
    bound plan depth). Returns (node, rank) with rank in scaled units.
    Nodes with no in-edges settle at the base (teleport) mass; dangling
    nodes simply contribute nothing (standard simplification).
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    e = e.repartition("src").transform(pin, eager=True)
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .transform(pin, eager=True)
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    n = nodes.count()  # one metadata-sized count; the oracle recomputes it
    if n == 0:
        # empty graph: no nodes, no ranks — not a division by zero
        return edges.sparkSession.createDataFrame([], "node long, rank long")
    init = scale // n
    base = (15 * init) // 100
    ranks = nodes.select("node", F.lit(init).cast("long").alias("rank"))
    for _ in range(iterations):
        contribs = (
            e.join(ranks, e.src == ranks.node)
            .join(deg, "src")
            .select(F.col("dst").alias("node"), F.expr("rank div deg").alias("c"))
        )
        summed = contribs.groupBy("node").agg(F.sum("c").alias("s"))
        ranks = nodes.join(summed, "node", "left").select(
            "node",
            (
                F.lit(base)
                + F.expr("(85 * coalesce(s, CAST(0 AS BIGINT))) div 100")
            ).cast("long").alias("rank"),
        )
    return ranks


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 3,
    broadcast_max_frontier: int = 1_000_000,
) -> DataFrame:
    """Minimum hop distance from a seed set: (node, hop) for every vertex
    reachable within ``max_hops`` undirected hops of any seed (seeds are
    hop 0). The breadth-first frontier expansion every graph platform
    exposes (neighborhood queries, blast-radius analysis, k-hop feature
    collection for GNN sampling).

    Scale notes: the edge list is symmetrized, hash-partitioned by source
    and checkpointed ONCE; each round is one equi-join of (frontier x
    edges) — the frontier is typically a small fraction of the graph, so
    it is broadcast into the partitioned edges with no re-exchange of the
    static side, but ONLY while its exact row count (free: the frontier is
    checkpointed, and the count doubles as the emptiness check) stays
    under ``broadcast_max_frontier``; a dense graph's hop-2 frontier can
    be a scale-factor-sized cohort, and force-broadcasting that is a
    driver-OOM, so past the threshold the round falls back to a plain
    shuffle equi-join — plus a distinct and an anti-join against the
    visited set. Visited-set pruning is what makes this BFS: a node is
    labeled with the FIRST round that reaches it, which is its minimum
    hop distance by induction. ``localCheckpoint`` truncates lineage per
    round (same discipline as connected_components above).
    """
    # Pin the caller's edge pipeline FIRST: the symmetrizing union below
    # consumes it twice, so an unpinned upstream (an expensive join or
    # pair build) would execute twice before sym's checkpoint lands.
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).transform(pin, eager=True)
    sym = (
        e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .repartition("src")
        .transform(pin, eager=True)
    )
    frontier = (
        seeds.select(F.col(seeds.columns[0]).alias("node"))
        .distinct()
        .transform(pin, eager=True)
    )
    n_frontier = frontier.count()
    # visited stays a LAZY union of checkpointed frontiers: only the
    # frontier is materialized per round (one job), and the union depth
    # is bounded by max_hops so lineage never grows past it
    layers = [frontier.withColumn("hop", F.lit(0))]
    for hop in range(1, max_hops + 1):
        f_src = frontier.withColumnRenamed("node", "src")
        if n_frontier <= broadcast_max_frontier:
            f_src = F.broadcast(f_src)
        reached = (
            sym.join(f_src, "src")
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        visited = layers[0].select("node")
        for lay in layers[1:]:
            visited = visited.unionByName(lay.select("node"))
        frontier = reached.join(visited, "node", "left_anti").transform(pin, eager=True)
        n_frontier = frontier.count()
        if n_frontier == 0:
            break
        layers.append(frontier.withColumn("hop", F.lit(hop)))
    out = layers[0]
    for lay in layers[1:]:
        out = out.unionByName(lay)
    return out


def shortest_paths_bounded(
    edges: DataFrame,
    source,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    max_hops: int = 4,
) -> DataFrame:
    """Single-source weighted shortest distances over directed edges,
    bounded at ``max_hops`` relaxation rounds: (dst, dist) for every
    node whose minimum path cost from ``source`` uses <= max_hops edges
    (the source itself at dist 0). Bounded Bellman-Ford — after round k
    the table holds the exact min over all paths of <= k edges, by
    induction on the relaxation step.

    Scale notes: the distance table is the ONLY state — one row per
    reached node, never per path (a recursive path enumeration is
    exponential; the min-fold is what survives a billion-edge graph).
    Each round is one equi-join of (dist x edges) on the frontier node
    followed by a keyed min-fold; no broadcast hint on either side (the
    bfs_hops frontier lesson: a dense graph's reach cohort outgrows the
    driver), so the planner picks BHJ only while the dist side is
    genuinely small. ``localCheckpoint`` truncates per-round lineage.
    At cluster scale, delta-stepping (bucketed priority relaxation)
    trades rounds for selective work; the bounded-round form here is the
    building block.
    """
    e = edges.select(
        F.col(src).alias("src"),
        F.col(dst).alias("dst"),
        F.col(weight).alias("w"),
    ).transform(pin, eager=True)
    spark = edges.sparkSession
    dist = spark.createDataFrame(
        [(source, 0)], schema="dst int, dist long"
    ).transform(pin, eager=True)
    for _ in range(max_hops):
        relaxed = dist.join(e, dist.dst == e.src).select(
            e.dst.alias("dst"), (dist.dist + F.col("w")).alias("dist")
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("dst")
            .agg(F.min("dist").alias("dist"))
            .transform(pin, eager=True)
        )
    return dist


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
) -> DataFrame:
    """Synchronous label propagation communities: labels start as the
    node id; each round every node adopts the most frequent label among
    its neighbors (self-loop included, so isolated or tied nodes hold
    their label), ties broken to the SMALLEST label — the tie rule is
    what makes sync LPA deterministic and therefore value-gateable
    (the oracle unrolls the same rounds as CTEs).

    Returns (node, community) after ``iters`` rounds.

    Scale notes: per round ONE shuffle — the neighbor-label count groups
    on (dst, label) with map-side combine, then the per-node arg-max is
    a keyed max over packed (count, -label) structs, NOT a window (a hub
    node's million neighbor labels fold partition-locally before the
    exchange). The labels table is one row per node; lineage truncates
    per round with localCheckpoint. Sync rounds are the Pregel
    superstep shape; async/semi-async LPA converges faster but is
    nondeterministic — stated, not hidden.
    """
    # Pin the caller's edge pipeline FIRST: sym consumes e twice and
    # nodes (consumed by both sym and labels) a further two times — an
    # unpinned upstream (e.g. the basket-pair expansion) would execute
    # up to six times before the sym checkpoint lands.
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).transform(pin, eager=True)
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    nodes = sym.select(F.col("src").alias("node")).distinct()
    sym = (
        sym.unionByName(
            nodes.select(F.col("node").alias("src"), F.col("node").alias("dst"))
        )
        .distinct()
        .repartition("src")
        .transform(pin, eager=True)
    )
    labels = nodes.select("node", F.col("node").alias("label")).transform(pin, eager=True)
    for _ in range(iters):
        counts = (
            sym.join(labels, sym.src == labels.node)
            .groupBy(F.col("dst").alias("n"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels = (
            counts.groupBy(F.col("n").alias("node"))
            .agg(
                F.max(
                    F.struct(
                        F.col("cnt"), (-F.col("label")).alias("neg")
                    )
                ).alias("m")
            )
            .select("node", (-F.col("m.neg")).alias("label"))
            .transform(pin, eager=True)
        )
    return labels.select("node", F.col("label").alias("community"))


def connected_components_star(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_rounds: int = 30,
    stats: dict | None = None,
) -> DataFrame:
    """(id, component) via alternating LARGE-STAR / SMALL-STAR rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the O(log n)-round alternative to min-label propagation, whose round
    count grows with the largest component's DIAMETER. A 100 TB web
    graph's giant component can have diameter in the hundreds; the star
    operations contract every path doubling-style, so a million-node
    chain settles in ~2 log2(n) rounds (pinned by test).

    Per round: one neighborhood-min aggregate (map-side combinable) and
    one join — no per-node adjacency collect, so hub nodes never
    materialize their neighbor lists in memory. Convergence = the
    canonical undirected edge set reaches a fixpoint, checked with an
    order-insensitive (count, xor-of-hashes) signature computed in the
    SAME aggregate that sizes the round. Components are labeled by their
    minimum id — identical output contract to connected_components.
    ``stats['rounds']`` records rounds used.
    """
    # lazy pin: the signature aggregate right below is the FIRST action
    # and doubles as the materialization — an eager pin here would run
    # one extra full pass per fixpoint check (round 9, guide §1.2)
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
        .transform(pin, eager=False)
    )
    isolated = None  # star ops keep every non-isolated node attached

    def signature(df):
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    def star(und_e, large: bool):
        sym = und_e.unionByName(
            und_e.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        m = sym.groupBy("a").agg(
            F.least(F.min("b"), F.first("a")).alias("m")
        )
        j = sym.join(m, "a")
        if large:
            out = j.filter(F.col("b") > F.col("a")).select(
                F.col("b").alias("x"), F.col("m").alias("y")
            )
        else:
            out = j.filter(F.col("b") < F.col("a")).select(
                F.col("b").alias("x"), F.col("m").alias("y")
            ).unionByName(
                m.select(F.col("a").alias("x"), F.col("m").alias("y"))
            )
        # large star: eager — its output feeds the small star's sym
        # union TWICE inside one job, so it must be materialized first.
        # small star: lazy — the per-round signature collect is its
        # first action and materializes it (one job saved per round).
        return (
            out.filter(F.col("x") != F.col("y"))
            .select(
                F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
            )
            .distinct()
            .transform(pin, eager=large)
        )

    sig = signature(und)
    rounds = 0
    for _ in range(max_rounds):
        und = star(und, large=True)
        und = star(und, large=False)
        rounds += 1
        new_sig = signature(und)
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_rounds} "
            "star rounds; raise max_rounds (needed rounds ~ 2*log2(n))"
        )
    if stats is not None:
        stats["rounds"] = rounds
    # at the fixpoint every component is a star rooted at its min id
    roots = und.select(F.col("a").alias("id"), F.col("a").alias("component"))
    leaves = und.select(F.col("b").alias("id"), F.col("a").alias("component"))
    return roots.unionByName(leaves).distinct()


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 20,
    stats: dict | None = None,
) -> DataFrame:
    """The k-core: the maximal subgraph where every node has degree >= k,
    computed by iterated peeling (drop under-degree nodes, recount,
    repeat to fixpoint). Returns (node, core_degree) for surviving
    nodes. Classic robustness/community preprocessing — dedup clusters
    below a connectivity floor are usually boilerplate artifacts.

    Scale shape: each round is one degree aggregate (map-side combined)
    + one semi-join of the edge list against survivors; the edge list
    shrinks monotonically so rounds get cheaper; lineage truncated per
    round. Convergence is typically a handful of rounds (the peel
    cascade length), raised as an error past ``max_rounds`` rather than
    returning a non-fixpoint (the connected_components discipline).
    ``stats['rounds']`` records rounds used.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .transform(pin, eager=True)
    )
    cur = sym
    prev_nodes = -1
    rounds = 0
    for _ in range(max_rounds):
        deg = cur.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
        alive = deg.filter(F.col("deg") >= k).select("a").transform(pin, eager=True)
        n_alive = alive.count()
        if n_alive == prev_nodes:
            break
        prev_nodes = n_alive
        rounds += 1
        cur = (
            cur.join(alive, "a")
            .join(alive.select(F.col("a").alias("b")), "b")
            .select("a", "b")
            .transform(pin, eager=True)
        )
    else:
        raise RuntimeError(
            f"k_core did not converge in {max_rounds} rounds"
        )
    if stats is not None:
        stats["rounds"] = rounds
    return (
        cur.groupBy(F.col("a").alias("node"))
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .filter(F.col("core_degree") >= k)
    )
