"""Distributed connected components over a similarity-pair graph.

The missing last step of every dedup pipeline: pair generators
(``pipeline.dedup``) emit EDGES (doc_a ~ doc_b), but "keep one copy
per duplicate *cluster*" needs the transitive closure — A~B, B~C must
collapse A, B, C together even though (A, C) was never emitted.

Algorithm: iterative min-label propagation with pointer shortcutting,
expressed as DataFrame joins — each round every node adopts the
smallest label in its closed neighborhood AND then the label of its
label (one extra self-join on the label table). The shortcut step is
what turns O(diameter) rounds into O(log diameter): labels hop along
already-discovered paths instead of one edge per round — the
map-reduce CC recipe of Rastogi et al., "Finding Connected Components
in Map-Reduce in Logarithmic Rounds" (ICDE'13, public; same idea as
Shiloach–Vishkin shortcutting and the star operations of Kiveris et
al., SoCC'14). Near-duplicate clusters are dense (diameter 2–3), so
real corpora close in 2–3 rounds either way; the shortcut is the
insurance against adversarial chain topologies.

Each round is one keyed shuffle (neighbor-min aggregation) plus two
label-table joins; per-round state is ``localCheckpoint``-ed so the
loop's lineage (and therefore task-retry cost) stays O(1) instead of
O(rounds). The driver sees only a convergence counter per round
(bounded metadata — no row data is collected).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mini_sql_engine_spark.plans import materialized, release


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_rounds: int = 25,
) -> DataFrame:
    """(node, component) for every node appearing in ``pairs``, where
    component = the minimum node id reachable through the undirected
    pair graph. Deterministic: labels depend only on the edge set.

    Raises ``RuntimeError`` if the graph has not converged after
    ``max_rounds`` (diameter > max_rounds) rather than returning a
    silently-wrong partial labeling.

    Large-star/small-star alternation (Kiveris et al., SoCC'14) was
    measured and rejected: 2.89 vs 2.47 s at 10x and 2.68 vs 2.59 s at
    100x, same labels, 2 rounds each (BENCH_CC_FACEOFF.json).
    """
    edges = pairs.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).filter(F.col("u") != F.col("v"))
    # symmetric closure: propagate both directions with one join shape
    sym = materialized(
        edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
    )

    labels = materialized(
        sym.select(F.col("u").alias("node")).distinct()
        .withColumn("component", F.col("node"))
    )
    prev_ck = labels  # the checkpoint frame backing `labels`

    for _ in range(max_rounds):
        # min label over each node's neighbors — one keyed shuffle
        neighbor_min = (
            sym.join(labels, sym["v"] == labels["node"])
            .groupBy(sym["u"].alias("node"))
            .agg(F.min("component").alias("nbr_min"))
        )
        merged = labels.join(neighbor_min, "node", "left").select(
            "node",
            F.least(
                F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
            ).alias("component"),
        )
        # shortcut: follow the label's own label (label[label[v]]) —
        # the pointer-doubling hop that makes convergence logarithmic
        # in the diameter instead of linear
        lab = merged.select(F.col("node").alias("l_node"),
                            F.col("component").alias("l_comp"))
        shortcut = merged.join(
            lab, merged["component"] == lab["l_node"], "left"
        ).select(
            "node",
            F.least(
                F.col("component"), F.coalesce(F.col("l_comp"), F.col("component"))
            ).alias("component"),
        )
        new_labels = materialized(
            shortcut.alias("n")
            .join(labels.alias("o"), "node")
            .select(
                "node",
                F.col("n.component").alias("component"),
                (F.col("n.component") < F.col("o.component")).alias("changed"),
            )
        )
        n_changed = new_labels.filter(F.col("changed")).count()
        # round N's label checkpoint is dead once round N+1's state has
        # materialized and been counted — free its blocks now instead
        # of letting every round's table sit on the heap until the
        # query ends (r14 opt: checkpoint release; r13 verdict #2)
        release(prev_ck)
        prev_ck = new_labels
        labels = new_labels.select("node", "component")
        if n_changed == 0:
            release(sym)  # returned labels are a checkpoint — the
            return labels  # symmetric edge set is no longer reachable
    raise RuntimeError(
        f"connected_components: no convergence in {max_rounds} rounds "
        "(log-diameter exceeds budget — raise max_rounds)"
    )


def dedup_clusters(pairs: DataFrame) -> DataFrame:
    """Cluster assignment for transitive near-dup dedup: every node of
    the pair graph labeled with its cluster representative (minimum
    doc_id in the connected component). Docs absent from ``pairs`` are
    singletons — they are their own representative and are deliberately
    not enumerated (at corpus scale the pair graph is ≪ the corpus; a
    left join + coalesce(component, doc_id) recovers the total
    labeling without materializing it)."""
    return connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_rep")
    )
