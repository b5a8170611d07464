"""Connected components / duplicate-cluster resolution.

The last stage of a dedup pipeline: candidate pairs that survived
verification form an undirected graph; each connected component is one
duplicate cluster, and the canonical document is the component minimum.
(The reference has no dedup at all — this is part of the §2.7/LLM-ops
extension surface, like operators/dedup.py.)

Algorithm: iterative min-label propagation over the edge list —
each round every node adopts the smallest label among itself and its
neighbors; rounds needed = graph diameter (near-dup clusters are
near-cliques, so 2-3 rounds in practice). Each round is two hash joins
+ one partial-agg groupBy, all JVM-side; the loop is driver-side
control flow only (no data ever reaches the driver except the
convergence counter). Label frames are pinned (pin.py) per round to
truncate lineage — without that, round n replays rounds 1..n-1.

At 100 TB: this is the standard BSP connected-components shape
(min-label propagation); for graphs with giant diameters swap in
large-star/small-star (alternating pointer jumps, O(log n) rounds) —
near-dup graphs never need it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from datapipelinedemo_spark.pin import pin


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = 20,
) -> DataFrame:
    """Return (id_col, component) — component = min node id reachable.

    ``nodes``: one row per node. ``edges``: undirected pairs (each pair
    listed once is enough; both directions are derived).

    Raises if the graph has not converged after ``max_rounds`` (one
    round = one hop of label propagation, so rounds needed = graph
    diameter) — a silently truncated label set would be WRONG, not
    approximate.
    """
    # undirected edge list, both directions, deduped once up front
    e = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .unionByName(
            edges.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b"))
        )
        .distinct()
        .transform(pin)  # narrow-pin: 16 B/row (a, b) — iterative lineage cut
    )
    labels = nodes.select(
        F.col(id_col).alias("id"), F.col(id_col).alias("comp")
    ).transform(pin)  # narrow-pin: 16 B/row (id, comp) — iterative lineage cut

    converged = False
    for _ in range(max_rounds):
        # neighbor labels: for each edge a->b, b may adopt a's comp
        msgs = e.join(labels, e["a"] == labels["id"]).select(
            F.col("b").alias("id"), F.col("comp")
        )
        new_labels = (
            labels.unionByName(msgs)
            .groupBy("id")
            .agg(F.min("comp").alias("comp"))
            .transform(pin)  # narrow-pin: 16 B/row (id, comp) — iterative lineage cut
        )
        # converged when no node's label changed (one tiny driver scalar)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"label propagation did not converge in {max_rounds} rounds "
            "(graph diameter exceeds the cap) — raise max_rounds"
        )
    return labels.select(F.col("id").alias(id_col), "comp")
