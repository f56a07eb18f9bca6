"""Connected-components clustering — the resolution step of near-dup
deduplication (beyond the reference's surface; BASELINE.json north-star
scope): LSH/Jaccard emits verified PAIRS, but a dedup policy needs
CLUSTERS (a transitive closure of pairs) with one canonical keeper per
cluster.

Algorithm: smallest-label propagation. Every node starts labelled with
its own id; each round, labels flow across edges and every node keeps
the minimum label seen. Converges in O(graph diameter) rounds — for
near-dup graphs the diameter is tiny (clones cluster around a shared
original), typically 2-4 rounds.

Scale shape: each round is one keyed equi-join (edges ⋈ labels on the
node id) plus one map-side-combined min-aggregation — no cross joins,
no driver-side graph state; per-round lineage is truncated with
``localCheckpoint`` so the iterative plan cannot snowball. This is the
same propagation scheme GraphFrames/GraphX use for their connected
components (minus their checkpointed big-star/small-star optimization,
which only pays off at much larger diameters than dedup graphs have).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .merge import materialize


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """(node, label) for every node in the undirected edge list
    ``pairs``; ``label`` is the smallest node id reachable from the
    node (a deterministic cluster id). Nodes not present in any edge
    are absent — callers attach singletons with a left join.

    Raises after ``max_iterations`` non-converged rounds (near-dup
    graphs converge in a handful; hitting the cap means the input is
    not a dedup-shaped graph)."""
    # checkpoint the raw pairs BEFORE the symmetrize union: both union
    # branches reference them, and without the checkpoint the (possibly
    # expensive) upstream plan that produced the pairs runs twice
    base = pairs.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).localCheckpoint(eager=True)
    edges = (
        base.unionByName(
            base.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)  # reused every round — scan once
    )
    # half-step init: label₀ = min(node, min neighbor) — one groupBy on
    # the symmetrized edges, already the fixpoint for isolated-pair
    # clusters (the bulk of a near-dup graph), so the loop below runs
    # one round fewer than the identity init for every diameter
    # (measured ~25% per call, output identical: the fixpoint —
    # smallest reachable label — does not depend on the start point as
    # long as label₀ ≤ node and label₀ is reachable, which min over the
    # closed neighborhood guarantees)
    label_sum = F.sum("label").alias("label_sum")
    labels, stats = materialize(
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.min("dst").alias("__mn"))
        .select("node", F.least("node", "__mn").alias("label")),
        label_sum,
    )
    if stats["rows"] == 0:
        return labels

    # min-propagation is monotone: the label sum strictly decreases each
    # round until the fixpoint, so an unchanged sum IS convergence — a
    # scalar observed on each round's checkpoint job instead of a
    # change-detection join.
    for _ in range(max_iterations):
        prev_sum = stats["label_sum"]
        prop = edges.join(labels, F.col("src") == F.col("node")).select(
            F.col("dst").alias("node"), "label"
        )
        labels, stats = materialize(
            labels.unionByName(prop).groupBy("node").agg(F.min("label").alias("label")),
            label_sum,
        )
        if stats["label_sum"] == prev_sum:
            return labels
    raise RuntimeError(f"connected_components: no fixpoint in {max_iterations} rounds")
