"""Distributed connected components — the clustering step of a dedup
pipeline (near-dup *pairs* -> duplicate *clusters* -> canonical doc).

The reference has no graph/iterative machinery at all (SURVEY §2.2; its
only iteration is the B+tree leaf walk, `file.rs:526-570`), but any
production dedup over pair output needs this step, so it ships as a
first-class operator of the LLM-pipeline surface (BASELINE.json mandate).

Algorithm: iterative **min-label propagation**. Every node starts labeled
with itself; each round a node adopts the minimum label among itself and
its neighbors; at fixpoint every node carries the minimum node id of its
component. Rounds = graph diameter.

Scale design (100 TB posture):

- Each round is one shuffle (join on the edge endpoint + groupBy node) —
  both keyed on node id, so AQE coalesces and co-partitions them; edges
  are persisted once (MEMORY_AND_DISK) and reused every round.
- `localCheckpoint` after every round truncates the lineage chain;
  without it the plan doubles per iteration and the DAG scheduler, not
  the data, becomes the bottleneck.
- Convergence is detected by the monotone invariant sum(label): labels
  only ever decrease, so an unchanged sum == fixpoint. One cheap
  aggregate per round, no change-join.
- Near-dup graphs have tiny diameters (duplicate clusters are dense), so
  rounds stay single-digit. For adversarial long-chain graphs the
  standard upgrade is large-star/small-star (Kiveris et al., "Connected
  Components in MapReduce and Beyond", SoCC'14) which converges in
  O(log^2 n) rounds with the same per-round shape; the propagation loop
  below is the right default while diameter << log-squared bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

DEFAULT_MAX_ITER = 50


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = DEFAULT_MAX_ITER,
) -> DataFrame:
    """(node, cluster_id) for every node appearing in ``edges``, where
    ``cluster_id`` is the minimum node id of the node's connected
    component. Edges are treated as undirected; self-loops are harmless.
    """
    fwd = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    und = fwd.union(fwd.select(F.col("v").alias("u"), F.col("u").alias("v")))
    # lazy localCheckpoint, not persist (round 13): adj is referenced by
    # EVERY round's offers join and convergence aggregate, and with a
    # persist its logical plan still embeds the whole upstream
    # pair-pipeline tree (MinHash signatures, band joins, verification) —
    # so each round's action re-analyzed and re-canonicalized thousands
    # of plan nodes driver-side just to hit the cache.  The checkpoint
    # truncates adj to a LogicalRDD once, making every round's plan a
    # join of two tiny RDD-backed relations (blocks are reclaimed by the
    # ContextCleaner when the DataFrame goes out of scope).
    #
    # FAULT-TOLERANCE TRADE (round-14 advisor): localCheckpoint is
    # NON-RELIABLE — it truncates lineage, so on a multi-executor cluster
    # losing an executor holding adj blocks mid-iteration fails the
    # remaining CC rounds unrecoverably (vs a recomputable persist).
    # Acceptable here (single-process local mode; re-running the operator
    # re-reads the parquet inputs); a long-lived multi-executor deployment
    # should use a replicated storage level or a reliable
    # spark.sparkContext.setCheckpointDir + .checkpoint() instead.
    adj = und.distinct().localCheckpoint(eager=False)

    # decimal(38,0): a bigint sum of 64-bit labels overflows (ANSI mode —
    # the session default — raises rather than wraps; same guard as
    # _fingerprint below)
    _label_sum = F.sum(F.col("cluster_id").cast("decimal(38,0)"))

    # Round 1 fused into initialization: with identity starting labels the
    # neighbor offers ARE the neighbor ids, so labels_1 = min(self, N(self))
    # is one aggregation over adj ∪ self-pairs — no join and no separate
    # identity-label materialization (both were pure job constants on
    # small-diameter graphs, the dominant cost of this loop at bench SF).
    #
    # ONE job per round: every label table is a LAZY localCheckpoint —
    # the logical plan truncates to a LogicalRDD immediately (so no round
    # re-analyzes the full upstream pair-pipeline tree: with persist()
    # instead, driver-side plan canonicalization of the nested lineage
    # cost MORE than the saved barrier — measured 4.6s vs 3.3s first
    # build at sf0.1), and the RDD materializes+checkpoints inside the
    # convergence aggregate's job, so the old eager-checkpoint +
    # separate-aggregate pair of barriers per round collapses to one.
    labels = (
        adj.select(F.col("u").alias("node"), F.col("v").alias("cluster_id"))
        .union(
            adj.select(F.col("u").alias("node"), F.col("u").alias("cluster_id"))
        )
        .groupBy("node")
        .agg(F.min("cluster_id").alias("cluster_id"))
        .localCheckpoint(eager=False)
    )
    prev_sum = labels.agg(_label_sum).first()[0]

    # NOTE on stride: running two propagation steps per fixpoint check
    # halves the barrier count, but on real near-dup graphs (diameter
    # 1-2, fixpoint in 2 rounds) the redundant second step costs more
    # than the saved barrier — measured 2.4s vs 2.2s at sf0.1.
    # Single-step stays; diameter-heavy graphs should use
    # connected_components_star below, which is round-count-optimal.
    for _ in range(max_iter):
        # each node offers its label to every neighbor; a node keeps the
        # min of its own label and all offers
        offers = adj.join(
            labels.select(F.col("node").alias("v2"), "cluster_id"),
            adj.v == F.col("v2"),
        ).select(F.col("u").alias("node"), "cluster_id")
        labels = (
            labels.union(offers)
            .groupBy("node")
            .agg(F.min("cluster_id").alias("cluster_id"))
            .localCheckpoint(eager=False)
        )
        cur_sum = labels.agg(_label_sum).first()[0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        raise RuntimeError(f"connected_components: no fixpoint in {max_iter} rounds")

    # no explicit adj cleanup: checkpoint blocks are reclaimed by the
    # ContextCleaner once adj goes out of scope (there is no public
    # unpersist for a checkpoint's backing RDD)
    return labels


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = DEFAULT_MAX_ITER,
) -> DataFrame:
    """Alternating large-star / small-star connected components (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC'14) —
    same output contract as :func:`connected_components` (node ->
    min-node-id of component) in **O(log^2 n) rounds independent of graph
    diameter**, the upgrade path for adversarial long-chain graphs where
    min-label propagation needs diameter rounds.

    Both star operations are expressed join-side (per-node min via groupBy,
    joined back to the edge list) rather than ``collect_list`` per node, so
    a high-degree hub never materializes its neighborhood in one task —
    AQE's skew split handles hot nodes like any skewed join key.

    Convergence: a round maps every edge to (node, component-min-so-far);
    the edge set is a fixpoint exactly when small-star changes nothing.
    Detected via an order-insensitive fingerprint (count + sum of per-edge
    hashes) — one cheap aggregate, no set-difference join."""
    fwd = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    e = (
        fwd.where(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct()
        .localCheckpoint()
    )

    def _fingerprint(df: DataFrame) -> tuple:
        # DECIMAL(38,0) accumulator: a long sum of 64-bit hashes overflows
        # (and ANSI mode, which the session runs, correctly refuses to wrap)
        row = df.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).first()
        return (row["n"], row["h"])

    def _large_star(df: DataFrame) -> DataFrame:
        # for every node a: m(a) = min(N(a) ∪ {a}); every strictly-larger
        # neighbor b of a re-attaches to m(a)
        und = df.union(df.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = und.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        return (
            und.join(m, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )

    def _small_star(df: DataFrame) -> DataFrame:
        # edges already point large -> small (u > v): for every node u,
        # m(u) = min neighbor; every smaller neighbor (and u itself)
        # attaches to m(u)
        m = df.groupBy("u").agg(F.min("v").alias("m"))
        withm = df.join(m, "u")
        re_nbr = withm.where(F.col("v") != F.col("m")).select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
        re_self = m.select("u", F.col("m").alias("v"))
        return re_nbr.union(re_self).distinct()

    fp = _fingerprint(e)
    for _ in range(max_iter):
        e = _small_star(_large_star(e)).localCheckpoint()
        nfp = _fingerprint(e)
        if nfp == fp:
            break
        fp = nfp
    else:
        raise RuntimeError(f"connected_components_star: no fixpoint in {max_iter} rounds")

    # fixpoint edges are stars (node -> component min); isolated nodes
    # (self-loop-only input) label themselves
    nodes = fwd.select(F.col("u").alias("node")).union(
        fwd.select(F.col("v").alias("node"))
    ).distinct()
    return (
        nodes.join(e.select(F.col("u").alias("node"), F.col("v").alias("cid")), "node", "left")
        .select(
            "node", F.coalesce(F.col("cid"), F.col("node")).alias("cluster_id")
        )
    )


def dedup_cluster_assignment(
    docs: DataFrame, pairs: DataFrame, doc_id: str = "doc_id"
) -> DataFrame:
    """Assign every document a ``cluster_id`` (= min doc_id of its
    near-duplicate component; docs with no near-dup pair are their own
    cluster). ``pairs`` is any (doc1, doc2) near-dup pair output, e.g.
    `ops.dedup.minhash_lsh_pairs`. Keeping rows where
    ``doc_id == cluster_id`` then applies the dedup."""
    comp = connected_components(pairs, src="doc1", dst="doc2")
    return docs.join(
        comp.select(F.col("node").alias(doc_id), "cluster_id"), doc_id, "left"
    ).select(
        doc_id,
        F.coalesce(F.col("cluster_id"), F.col(doc_id)).alias("cluster_id"),
    )


def triangles_oriented(
    edges: DataFrame, src: str = "a", dst: str = "b"
) -> DataFrame:
    """Triangle enumeration via degree orientation (Suri & Vassilvitskii
    WWW'11 "Counting triangles and the curse of the last reducer";
    Cohen, "Graph Twiddling in a MapReduce World", CiSE'09).

    Orient each undirected edge from its lower endpoint to its higher one
    under the total order ``(degree, id)``, enumerate wedges at the
    orientation source (the unique minimum of each triangle), and close
    them against the oriented edge set. Each triangle is produced exactly
    ONCE, and — the scale property — the fan-out of the wedge self-join is
    the oriented out-degree, which the orientation bounds by O(sqrt(m)) on
    ANY degree distribution; an id-ordered 3-way self-join instead
    concentrates a hub's full degree on one join key (the "last reducer").
    Wedge work totals sum(outdeg^2) <= m^{3/2}, the optimum for exact
    listing.

    ``edges`` must hold each undirected pair once (either endpoint order).
    Returns one row per triangle: (a, b, c) = (pivot, then the two
    remaining nodes in orientation order).
    """
    e = edges.select(F.col(src).alias("x"), F.col(dst).alias("y"))
    deg = (
        e.select(F.col("x").alias("node"))
        .unionAll(e.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    ed = e.join(
        deg.select(F.col("node").alias("x"), F.col("deg").alias("dx")), "x"
    ).join(deg.select(F.col("node").alias("y"), F.col("deg").alias("dy")), "y")
    x_first = (F.col("dx") < F.col("dy")) | (
        (F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y"))
    )
    o = ed.select(
        F.when(x_first, F.col("x")).otherwise(F.col("y")).alias("src"),
        F.when(x_first, F.col("y")).otherwise(F.col("x")).alias("dst"),
        F.when(x_first, F.col("dy")).otherwise(F.col("dx")).alias("ddst"),
    )
    w1 = o.select("src", F.col("dst").alias("v"), F.col("ddst").alias("dv"))
    w2 = o.select("src", F.col("dst").alias("w"), F.col("ddst").alias("dw"))
    # wedge (v, w) ordered by the SAME (degree, id) total order as the
    # orientation, so the closing edge — if present — is oriented v -> w
    wedges = w1.join(w2, "src").where(
        (F.col("dv") < F.col("dw"))
        | ((F.col("dv") == F.col("dw")) & (F.col("v") < F.col("w")))
    )
    closed = wedges.join(
        o.select(F.col("src").alias("v"), F.col("dst").alias("w")), ["v", "w"]
    )
    return closed.select(
        F.col("src").alias("a"), F.col("v").alias("b"), F.col("w").alias("c")
    )


def pagerank_int(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 10,
    base: int = 1_000_000_000,
) -> DataFrame:
    """Fixed-point integer PageRank: ``iters`` exact Jacobi sweeps with the
    recurrence

        r0(v)    = base
        r_{t+1}(v) = floor(0.15 * base) + floor(85 * SUM_{u->v} floor(r_t(u) / deg(u)) / 100)

    Every operation is integer (floor division, exact integer sums), so the
    result is bit-identical on any engine and independent of partitioning /
    accumulation order — float PageRank cannot make that promise (double
    addition is order-dependent). Dangling mass is dropped (standard
    simplification; ranks remain a valid relative ordering).

    Scale: each sweep is one join (ranks x edges on the source endpoint) +
    one groupBy (sum per destination) — both keyed shuffles AQE coalesces;
    lineage truncated per sweep with localCheckpoint like
    :func:`connected_components`. Use case in an LLM pipeline: domain/source
    authority scores for quality-weighted sampling."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).distinct()
    e = e.persist()
    deg = e.groupBy("u").agg(F.count("*").alias("_deg"))
    ed = e.join(deg, "u").localCheckpoint()
    nodes = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    teleport = (15 * base) // 100
    ranks = nodes.withColumn("r", F.lit(base).cast("bigint"))
    for _ in range(iters):
        # `div` = exact integer division (no double intermediate, so the
        # arithmetic stays exact past 2^53 — floor(x/y) would not)
        contrib = (
            ed.join(ranks.select(F.col("node").alias("u"), "r"), "u")
            .select("v", F.expr("r div _deg").alias("c"))
            .groupBy("v")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.join(contrib.select(F.col("v").alias("node"), "s"), "node", "left")
            .select(
                "node",
                # decimal(38,0) product: 85 * s overflows bigint once the
                # hub contribution sum nears total rank mass on ~1e8+
                # node graphs (ANSI raises); the div-100 result fits
                # bigint again whenever s itself does. DuckDB computes
                # the same product in int128 — values stay identical.
                F.expr(
                    f"CAST({teleport} + ((CAST(85 AS DECIMAL(38,0)) *"
                    " coalesce(s, CAST(0 AS BIGINT))) div 100) AS BIGINT)"
                ).alias("r"),
            )
            .localCheckpoint()
        )
    e.unpersist()
    return ranks.select("node", F.col("r").alias("rank_fx"))


def label_propagation(
    pairs: DataFrame, rounds: int = 4, a: str = "doc1", b: str = "doc2"
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007,
    arXiv:0709.2938) over an undirected pair graph, made fully
    deterministic: every node starts labeled with its own id; each round a
    node adopts the most frequent label among its NEIGHBORS, ties broken by
    the smallest label (classic LPA breaks ties randomly — useless for a
    reproducible pipeline, so the tie rule is pinned instead).

    Unlike :func:`connected_components` (which answers "same component?"),
    LPA splits a component into densely-knit communities — on a dedup pair
    graph that separates template families that happen to share one bridge
    document. The reference has no graph operators (SURVEY §2.2); this is
    new-engine surface for the LLM-pipeline mandate.

    Scale: per round one join (edges x labels on the neighbor endpoint,
    keyed shuffle), one groupBy count and one per-node window top-1 —
    all keyed on node id so AQE co-partitions them. Fixed round count
    (communities stabilize in 3-5 rounds on near-dup graphs);
    localCheckpoint truncates lineage per round. Returns (node, lbl).
    """
    e = (
        pairs.select(F.col(a).alias("a"), F.col(b).alias("b"))
        .unionAll(pairs.select(F.col(b).alias("a"), F.col(a).alias("b")))
        .distinct()
        .localCheckpoint()
    )
    labels = e.select(F.col("a").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    from pyspark.sql import Window

    top1 = Window.partitionBy("a").orderBy(F.col("cnt").desc(), F.col("lbl").asc())
    for _ in range(rounds):
        votes = (
            e.join(labels.select(F.col("node").alias("b"), "lbl"), "b")
            .groupBy("a", "lbl")
            .agg(F.count("*").alias("cnt"))
        )
        labels = (
            votes.withColumn("rn", F.row_number().over(top1))
            .where(F.col("rn") == 1)
            .select(F.col("a").alias("node"), "lbl")
            .localCheckpoint()
        )
    return labels


def bfs_distances(
    pairs: DataFrame,
    seeds: DataFrame,
    rounds: int = 4,
    a: str = "doc1",
    b: str = "doc2",
) -> DataFrame:
    """Multi-source breadth-first hop distances over an undirected pair
    graph: ``seeds`` (single column ``node``) start at distance 0; each
    round relaxes one hop (frontier join + min-dist groupBy). After
    ``rounds`` rounds the result holds the exact hop distance for every
    node within ``rounds`` hops of a seed (unreached nodes absent).

    This is distributed Bellman-Ford restricted to unit weights — the
    standard BSP/Pregel formulation expressed as DataFrame algebra. Use
    case: "how far does contamination spread through near-dup links from a
    known-bad source?" — the hop histogram bounds the takedown blast
    radius.

    Scale: the distance relation is keyed by node and stays ≤ |V| rows;
    each round is one keyed join with the (persisted) edge relation + one
    groupBy min — shuffle on node id both times. localCheckpoint per round
    truncates lineage exactly like :func:`connected_components`.
    """
    e = (
        pairs.select(F.col(a).alias("a"), F.col(b).alias("b"))
        .unionAll(pairs.select(F.col(b).alias("a"), F.col(a).alias("b")))
        .distinct()
        .localCheckpoint()
    )
    d = seeds.select("node").distinct().withColumn("dist", F.lit(0).cast("bigint"))
    for _ in range(rounds):
        hop = (
            e.join(d.select(F.col("node").alias("a"), "dist"), "a")
            .select(F.col("b").alias("node"), (F.col("dist") + 1).alias("dist"))
        )
        d = (
            d.unionAll(hop)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint()
        )
    return d
