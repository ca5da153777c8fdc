"""Connected components over a pair frame: the package's one
union-find and its one label-propagation loop.

A pair frame carries ``(*keys, a, b)``, an undirected edge between the
nodes ``a`` and ``b`` inside the group named by ``keys``. Keys are
compared null-safe, so a null group key is a group of its own, and
equal node ids under different keys are different nodes. The result
is ``(*keys, node, label)``: one row per node that appears in a pair,
``label`` being the minimum node id of the node's component.

:func:`components` picks the engine by size. Up to :data:`DRIVER_CAP`
pairs are collected into a driver union-find. Above that,
:func:`propagate` runs min-label propagation with pointer jumping over
the edge set and never collects it. One round:

    labels -> join the symmetric adjacency on (keys, a = node)
      -> min over each node's own and its neighbours' labels, keeping
         the node's label from the round before as ``prev``
      -> pointer jump: label <- label(label)
      -> materialize once; its rows with label != prev are counted

A round that moves no label proves the fixpoint. The number of rounds
grows with the components' diameter, not its logarithm (a path of 41
shuffled ids takes about 24), so a loop still moving labels after
``max_rounds`` raises. It never returns labels that have not
converged.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..exceptions import GeoCubeError
from .flatten import _flat

logger = logging.getLogger(__name__)

# most pairs resolved by the driver union-find; more take propagate()
DRIVER_CAP = 200_000
# rounds propagate() runs before it gives up
MAX_ROUNDS = 50


def _on(left, right, grp, lcol, rcol):
    """Join condition ``left.lcol == right.rcol`` within one group."""
    cond = F.col(f"{left}.{lcol}") == F.col(f"{right}.{rcol}")
    for k in grp:
        cond = cond & (F.col(f"{left}.{k}") == F.col(f"{right}.{k}"))
    return cond


def _cols(alias, names):
    return [F.col(f"{alias}.{k}").alias(k) for k in names]


def components(pairs: DataFrame, keys=()) -> DataFrame:
    """Component labels of every node of ``pairs`` (see the module
    docstring), by the driver union-find or by :func:`propagate`."""
    keys = list(keys)
    pairs = pairs.select(*keys, "a", "b").persist()
    try:
        if pairs.limit(DRIVER_CAP + 1).count() <= DRIVER_CAP:
            return _union_find(pairs, keys)
        return propagate(pairs, keys)
    finally:
        pairs.unpersist()


def _union_find(pairs: DataFrame, keys) -> DataFrame:
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for *k, a, b in pairs.collect():
        ra, rb = find((*k, a)), find((*k, b))
        if ra != rb:
            # union under the smaller id: every root is its minimum
            lo, hi = (ra, rb) if ra[-1] < rb[-1] else (rb, ra)
            parent[hi] = lo
    node_type = pairs.schema["a"].dataType
    schema = T.StructType(
        [pairs.schema[k] for k in keys]
        + [T.StructField("node", node_type),
           T.StructField("label", node_type)]
    )
    rows = [(*n, find(n)[-1]) for n in parent]
    return pairs.sparkSession.createDataFrame(rows, schema=schema)


def propagate(pairs: DataFrame, keys=(), max_rounds: int = None
              ) -> DataFrame:
    """Distributed min-label propagation with pointer jumping, one
    materialization per round. Raises :class:`GeoCubeError` when
    labels still move after ``max_rounds`` rounds (default
    :data:`MAX_ROUNDS`)."""
    keys = list(keys)
    rounds = MAX_ROUNDS if max_rounds is None else int(max_rounds)
    # the keys travel packed in one struct column: structs with equal
    # fields compare equal even where a field is null, so the joins
    # need no null-safe equality (with which every round past about
    # the 15th ran about 2.5x longer than the one before)
    grp = ["__g"] if keys else []
    packed = [F.struct(*keys).alias("__g")] if keys else []
    edges = pairs.select(*packed, "a", "b")
    adj = (
        edges.unionByName(edges.select(*grp, F.col("b").alias("a"),
                                       F.col("a").alias("b")))
        .distinct()
        .persist()
    )
    no_label = F.lit(None).cast(adj.schema["a"].dataType)
    labels = (adj.select(*grp, F.col("a").alias("node")).distinct()
              .withColumn("label", F.col("node")))
    try:
        for round_i in range(1, rounds + 1):
            heard = (
                adj.alias("e")
                .join(labels.alias("l"), _on("e", "l", grp, "a", "node"))
                .select(*_cols("e", grp), F.col("e.b").alias("node"),
                        F.col("l.label").alias("label"),
                        no_label.alias("prev"))
            )
            merged = (
                labels.withColumn("prev", F.col("label"))
                .unionByName(heard)
                .groupBy(*grp, "node")
                .agg(F.min("label").alias("label"),
                     F.max("prev").alias("prev"))
            )
            # a sort-merge join by hint: labels scale with the nodes,
            # and an unhinted join lets adaptive execution pick the
            # join at run time, so the round's job count would vary
            out = (
                merged.alias("m")
                .join(merged.alias("p").hint("merge"),
                      _on("m", "p", grp, "label", "node"), "left")
                .select(*_cols("m", grp), F.col("m.node").alias("node"),
                        F.coalesce(F.col("p.label"), F.col("m.label"))
                        .alias("label"),
                        F.col("m.prev").alias("prev"))
                .transform(_flat)
            )
            labels = out.select(*grp, "node", "label")
            moved = out.filter(F.col("label") != F.col("prev")).count()
            logger.debug("components round %d: %d labels moved",
                         round_i, moved)
            if moved == 0:
                return labels.select(*_cols("__g", keys), "node", "label")
    finally:
        adj.unpersist()
    raise GeoCubeError(
        f"connected components did not converge within {rounds} rounds"
    )
