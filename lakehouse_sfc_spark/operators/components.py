"""Distributed connected components: min-label propagation with pointer
doubling — the labeling loop behind ``dedup_components``, reusable over any
edge list.

Each round: (a) every node takes min(own label, neighbors' labels) — one
edge join + groupBy — then, once the graph has proven deep, (b) one
label-lookup self-join compresses chains (label <- label(label)).  Path
halving bounds the rounds at O(log diameter), so the 24-round cap covers
diameter ~2^24; the loop exits early via a monotone checksum (sum(labels)
strictly decreases until fixpoint).  ``materialize_once`` truncates
lineage each round — at 100 TB this is the GraphX/GraphFrames dance with
the standard log-round compression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakehouse_sfc_spark.sources.loader import materialize_once


def connected_components(
    edges: DataFrame, max_rounds: int = 24, warmup_rounds: int = 3
) -> DataFrame:
    """Label every node of the undirected graph ``edges`` (columns u, v;
    direction ignored) with the smallest node id reachable from it.
    Returns (node, label).  Raises if ``max_rounds`` is exhausted — never
    returns partially propagated labels."""
    edges = edges.toDF("u", "v")
    # Every checkpoint in the loop is materialized by the round's OWN
    # checksum job (one Spark job per round, not two); the plan barrier
    # (fresh LogicalRDD) gives self-joins distinct attribute ids.
    edges = materialize_once(
        edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    )
    labels = materialize_once(
        edges.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    converged = False
    for rnd in range(max_rounds):
        neigh = edges.join(
            labels, edges["u"] == labels["node"], "inner"
        ).select(F.col("v").alias("node"), "label")
        # checkpoint BEFORE any self-join: fresh attribute ids per side
        # (Catalyst's union-constraint rewrite trips over a self-join
        # of the un-materialized union lineage)
        propagated = materialize_once(
            labels.union(neigh)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        if rnd < warmup_rounds:
            # shallow graphs (the near-dup norm) converge on propagation
            # alone within a few rounds — skip the doubling join until the
            # checksum proves the graph is deep
            labels = propagated
        else:
            # pointer doubling: follow the label's own label.  Every label
            # IS a node of the graph (labels start as node ids and only
            # ever move to a neighbor's current label), so the inner
            # self-join is total; path halving makes remaining rounds
            # O(log diameter).
            lookup = propagated.toDF("lnode", "llabel")
            labels = materialize_once(
                propagated.join(lookup, propagated["label"] == lookup["lnode"])
                .select(propagated["node"], F.col("llabel").alias("label"))
            )
        cur_sum = labels.agg(F.sum("label")).collect()[0][0]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        raise RuntimeError(
            f"connected_components: did not converge within {max_rounds} "
            "pointer-doubling rounds — input graph is pathological"
        )
    return labels
