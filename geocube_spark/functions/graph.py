"""Graph analytics as iterative DataFrame programs.

The package already carries several graph kernels where they belong
(connected components in ``plans/components.py``, used by
``regions``, ``vector.vectorize_tiled``, ``dedup.near_dup_clusters``
and :func:`connected_components` here; D8-forest closures in
``bandops``); this module holds the generic node-rank primitive.

PageRank (Page, Brin, Motwani & Winograd 1999 — public) with a FIXED
iteration count: like ``pca_power_scores``, pinning the iteration
count (instead of iterating to a tolerance) keeps the whole
computation a closed-form function of the edge set, so a SQL oracle
replays it CTE-for-CTE while the Spark plan stays the classic
scalable shape — one equi-join + one map-side-combined aggregate per
iteration, ``localCheckpoint`` between rounds so the plan depth is
O(1) (the hex-compact lesson).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from ..plans.components import propagate
from ..plans.flatten import _flat


def pagerank(edges: DataFrame, *, iters: int = 5,
             damping: float = 0.85, src_col: str = "src",
             dst_col: str = "dst") -> DataFrame:
    """PageRank over a directed edge list, ``iters`` synchronous
    rounds from the uniform start:

        rank'(v) = (1-d)/N + d * (sum_{u->v} rank(u)/deg(u)
                                  + dangling_mass / N)

    with dangling mass redistributed uniformly (the standard
    teleport treatment). Duplicate edges are collapsed (simple
    graph). Returns (node, rank) — ranks sum to 1 every round.

    Scale shape per round: ONE shuffle (the contribution aggregate on
    dst); the rank-to-edge join reuses the edge partitioning; degree
    and dangling mass are tiny aggregates. Node count and iteration
    count fixed up front — no driver-side convergence loop to stall a
    1000-executor job."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0, 1), got {damping}")
    e = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    ).distinct().transform(_flat)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct().transform(_flat)
    )
    n = nodes.count()
    if n == 0:
        raise ValueError("empty edge list")
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    d = float(damping)

    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    for _ in range(int(iters)):
        with_deg = ranks.join(
            deg, ranks["node"] == deg["src"], "left"
        ).select("node", "rank", "deg")
        dangling = with_deg.where(F.col("deg").isNull()) \
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0))).collect()[0][0]
        contrib = (
            with_deg.where(F.col("deg").isNotNull())
            .join(e, with_deg["node"] == e["src"])
            .select("dst", (F.col("rank") / F.col("deg"))
                    .alias("c"))
            .groupBy("dst").agg(F.sum("c").alias("c"))
        )
        ranks = nodes.join(
            contrib, nodes["node"] == contrib["dst"], "left"
        ).select(
            "node",
            (F.lit((1.0 - d) / n)
             + F.lit(d) * (F.coalesce(F.col("c"), F.lit(0.0))
                           + F.lit(dangling / n))).alias("rank"),
        ).transform(_flat)
    return ranks


def triangle_count(edges: DataFrame, *, src_col: str = "src",
                   dst_col: str = "dst") -> DataFrame:
    """Exact triangle counting on the undirected simple graph
    (directions and duplicate/self edges dropped) by the classic
    degree orientation (Schank & Wagner 2005 / the MPS shuffle
    bound): orient every edge from the endpoint with the smaller
    ``(degree, id)`` key to the larger; every triangle then has
    EXACTLY ONE wedge u->v, u->w with v<w in orientation order, so
    counting = one self-join on the oriented source + one semi-join
    against the oriented edge set. Wedge work is O(sum d_out^2) with
    d_out <= sqrt(2m) — the bound that keeps power-law hubs from
    exploding the shuffle (a hub's edges orient INTO it).

    Returns one row per node participating in >= 1 triangle:
    (node, n_triangles), each triangle counted at all three corners.
    """
    und = edges.select(
        F.least(F.col(src_col).cast("long"),
                F.col(dst_col).cast("long")).alias("a"),
        F.greatest(F.col(src_col).cast("long"),
                   F.col(dst_col).cast("long")).alias("b"),
    ).where(F.col("a") != F.col("b")).distinct() \
        .transform(_flat)
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("dega"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("degb"))
    lt = (F.col("dega") < F.col("degb")) | (
        (F.col("dega") == F.col("degb")) & (F.col("a") < F.col("b")))
    oriented = (
        und.join(da, "a").join(db, "b")
        .select(
            F.when(lt, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lt, F.col("b")).otherwise(F.col("a")).alias("v"),
        ).transform(_flat)
    )
    w1 = oriented.select(F.col("u"), F.col("v").alias("x"))
    w2 = oriented.select(F.col("u"), F.col("v").alias("y"))
    wedges = w1.join(w2, "u").where(F.col("x") < F.col("y"))
    closed = wedges.join(
        oriented.select(F.col("u").alias("x"), F.col("v").alias("y"))
        .unionByName(
            oriented.select(F.col("u").alias("y"),
                            F.col("v").alias("x"))).distinct(),
        ["x", "y"], "left_semi",
    )
    tri = closed.select(
        F.explode(F.array("u", "x", "y")).alias("node"))
    return tri.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_triangles"))


def sssp(edges: DataFrame, sources, *, weight_col: str = None,
         max_rounds: int = 20, src_col: str = "src",
         dst_col: str = "dst") -> DataFrame:
    """Single-source(s) shortest paths by synchronous Bellman-Ford
    rounds (the label-correcting form every BSP graph engine ships;
    same blocked-relaxation family as ``bandops.cost_distance`` but
    over an explicit edge list):

        dist'(v) = min(dist(v), min_{u->v} dist(u) + w(u, v))

    from ``dist = 0`` at the sources. Non-negative weights required
    (``weight_col=None`` = hop count); parallel edges collapse to
    their minimum weight. Stops at the fixpoint, raising if it is not
    reached within ``max_rounds`` — so a bounded-round SQL replay of
    the same recurrence is guaranteed to agree (early stopping cannot
    change a converged answer). Returns (node, dist) for REACHED
    nodes only.

    Scale shape per round: one equi-join of the frontier-bearing dist
    table with the edge list + ONE map-side-combined min aggregate;
    ``localCheckpoint`` per round keeps the plan depth O(1). Rounds =
    shortest-path hop radius, not graph size."""
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    w = (F.col(weight_col).cast("double") if weight_col
         else F.lit(1.0))
    e = (
        edges.select(
            F.col(src_col).cast("long").alias("src"),
            F.col(dst_col).cast("long").alias("dst"),
            w.alias("w"),
        )
        .groupBy("src", "dst").agg(F.min("w").alias("w"))
        .transform(_flat)
    )
    if e.where(F.col("w") < 0).limit(1).count():
        raise ValueError("sssp requires non-negative weights")
    spark = edges.sparkSession
    src_ids = [int(s) for s in sources]
    if not src_ids:
        raise ValueError("at least one source required")
    dist = spark.createDataFrame(
        [(s, 0.0) for s in src_ids], "node long, dist double"
    )
    for _ in range(int(max_rounds)):
        cand = dist.join(e, dist["node"] == e["src"]).select(
            F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("dist")
        )
        new = (
            dist.unionByName(cand)
            .groupBy("node").agg(F.min("dist").alias("dist"))
            .transform(_flat)
        )
        improved = new.join(
            dist.withColumnRenamed("dist", "old"), "node", "left"
        ).where(
            F.col("old").isNull() | (F.col("dist") < F.col("old"))
        ).limit(1).count()
        dist = new
        if not improved:
            return dist
    raise RuntimeError(
        f"sssp did not converge within {max_rounds} rounds"
    )


def label_propagation(edges: DataFrame, *, iters: int = 5,
                      src_col: str = "src",
                      dst_col: str = "dst") -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007) with the deterministic tie rule distributed LPA
    implementations use: every node starts as its own label; each
    round every node adopts its neighbors' MOST FREQUENT label, ties
    to the smallest label (Raghavan's random tie-break replaced by a
    total order so the result is reproducible and SQL-replayable).
    Undirected simple graph (directions/self-loops dropped); a FIXED
    ``iters`` rounds — synchronous LPA on bipartite-ish structures
    can oscillate, so a fixed round count is the honest contract (it
    is also exactly what keeps the closed-form oracle possible).
    Returns (node, label).

    Scale shape per round: one equi-join (labels onto edges) + one
    map-side-combined (node, label) count + ``max_by`` argmax — two
    shuffles of O(m) narrow rows; ``localCheckpoint`` bounds plan
    depth."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    und = edges.select(
        F.col(src_col).cast("long").alias("a"),
        F.col(dst_col).cast("long").alias("b"),
    ).where(F.col("a") != F.col("b"))
    e = (
        und.unionByName(und.select(F.col("b").alias("a"),
                                   F.col("a").alias("b")))
        .distinct().transform(_flat)
    )
    labels = e.select(F.col("a").alias("node")).distinct() \
        .select("node", F.col("node").alias("label"))
    for _ in range(int(iters)):
        votes = (
            labels.join(e, labels["node"] == e["a"])
            .groupBy(F.col("b").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        labels = votes.groupBy("node").agg(
            F.max_by(
                "label",
                F.struct(F.col("n"), (-F.col("label")).alias("neg")),
            ).alias("label")
        ).transform(_flat)
    return labels


def k_core(edges: DataFrame, k: int, *, max_rounds: int = 30,
           src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """The k-core of the undirected simple graph: the maximal
    subgraph in which every node has degree >= k (Seidman 1983),
    computed by synchronous peeling — each round drops every node
    whose CURRENT degree is < k, then re-induces the edge set; the
    fixpoint is the k-core (peeling order cannot change it). Raises
    if the fixpoint is not reached within ``max_rounds`` so a
    bounded-round SQL replay is guaranteed to agree. Returns
    (node, deg) with each survivor's degree inside the core.

    Scale shape per round: one degree aggregate + two semi-joins to
    re-induce the edges — all narrow (node)/(a, b) rows; rounds
    bounded by the peeling depth (<= max degeneracy layers), not
    graph size."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    und = edges.select(
        F.least(F.col(src_col).cast("long"),
                F.col(dst_col).cast("long")).alias("a"),
        F.greatest(F.col(src_col).cast("long"),
                   F.col(dst_col).cast("long")).alias("b"),
    ).where(F.col("a") != F.col("b")).distinct() \
        .transform(_flat)
    e = und
    n_prev = None
    for _ in range(int(max_rounds)):
        deg = (
            e.select(F.col("a").alias("node"))
            .unionByName(e.select(F.col("b").alias("node")))
            .groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg.where(F.col("deg") >= k) \
            .select("node").transform(_flat)
        n_keep = keep.count()
        if n_keep == 0:
            return keep.select(
                "node", F.lit(0).cast("long").alias("deg"))
        if n_prev is not None and n_keep == n_prev:
            return deg.where(F.col("deg") >= k)
        n_prev = n_keep
        e = (
            e.join(keep.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("node", "b"), "b", "left_semi")
            .transform(_flat)
        )
    raise RuntimeError(
        f"k_core did not converge within {max_rounds} rounds"
    )


def connected_components(edges: DataFrame, *, max_rounds: int = 30,
                         src_col: str = "src",
                         dst_col: str = "dst") -> DataFrame:
    """Weakly-connected component labels of the undirected simple
    graph: every node gets the MINIMUM node id reachable from it
    (the canonical label every distributed CC formulation converges
    to). Runs ``plans.components.propagate``: min-label propagation
    with pointer jumping over the bidirectional edge list, one
    materialization per round, to the fixpoint. Rounds grow with
    component DIAMETER (pointer jumping never needs more than the
    plain loop's diameter + 1), and a graph still moving labels after
    ``max_rounds`` raises. Returns (node, component)."""
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    und = edges.select(
        F.col(src_col).cast("long").alias("a"),
        F.col(dst_col).cast("long").alias("b"),
    ).where(F.col("a") != F.col("b"))
    return propagate(und, (), max_rounds).select(
        "node", F.col("label").alias("component"))
