"""Iterative connected components over an edge DataFrame.

The reference resolves entity-merge chains only one hop at a time
(`<now>` lookup /root/reference/utils.php:102-104; the K->T stash hack
/root/reference/kernelxmltottl.php:90-102,234-241). Chains and cycles
in the merge dictionaries (A->B->C, A<->B) therefore need a general
fixpoint: min-label propagation over undirected edges, iterated until
no label changes (SURVEY.md §4.2). Each iteration is one shuffle join
+ one aggregation; `localCheckpoint()` truncates lineage so plans
don't grow with the iteration count. A pointer jump through the label
table each round makes a depth-d chain converge in O(log d) rounds.

Labels must order numerically ("E2" < "E10"): callers pass ids through
pad_id_col first (vocab.id_sort_key parity), then map back.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 50,
) -> DataFrame:
    """Edges (src, dst) -> (node, component) with component = min node
    label (lexicographic) in the component. Input ids must be
    order-safe strings (zero-padded).

    Each round combines (a) 1-hop neighbor label proposals with (b) a
    pointer jump — every node also adopts label(label(node)), the label
    its current label-holder points at. The jump halves remaining chain
    depth each round, so a depth-d merge chain converges in O(log d)
    rounds instead of O(d): candidate-match edge sets at 100x corpus
    scale won't stay shallow. Cost per round is one extra self-join on
    the (node-count-sized, narrow) label table — cheap next to the
    edge-table join it saves hundreds of rounds of.

    Raises RuntimeError when ``max_iter`` rounds pass without a round
    that changes no label: unconverged labels would merge too little,
    silently."""
    sym = edges.selectExpr(f"{src} as a", f"{dst} as b").unionByName(
        edges.selectExpr(f"{dst} as a", f"{src} as b")
    ).distinct()
    sym = sym.localCheckpoint()

    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    ).localCheckpoint()

    for _ in range(max_iter):
        # each node proposes its label to every neighbor
        proposals = (
            sym.join(labels, sym.a == labels.node, "inner")
            .select(F.col("b").alias("node"), F.col("label"))
        )
        # node -> label(label(node)); every label value is itself a
        # node (labels are node ids), so the lookup always resolves
        jump = (
            labels.alias("x")
            .join(labels.alias("y"), F.col("x.label") == F.col("y.node"))
            .select(F.col("x.node").alias("node"),
                    F.col("y.label").alias("label"))
        )
        candidates = (
            labels.select("node", "label").unionByName(proposals)
            .unionByName(jump)
        )
        new_labels = (
            candidates.groupBy("node").agg(F.min("label").alias("label"))
        ).localCheckpoint()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components: max_iter={max_iter} reached with labels "
            f"still changing; raise max_iter (merge chains deeper than "
            f"assumed)"
        )

    return labels.select("node", F.col("label").alias("component"))
