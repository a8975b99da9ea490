"""Canonicalization: close entity-merge chains across the dictionary
edge sets (id_remap / cross_corpus_map / same_text_map) with the
iterative connected-components pass, then resolve abstract-IRI
overrides.

The reference resolves one hop per lookup (/root/reference/utils.php:99-119)
and special-cases one two-corpus merge with a stash/restore hack
(/root/reference/kernelxmltottl.php:90-102,234-241); the general fixpoint
here subsumes both (SURVEY.md §4.2).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions.ids import pad_id_col
from .operators.cc import connected_components


# Below this edge count the merge dictionaries are collected and closed
# driver-side (union-find) instead of iterating distributed jobs: the
# reference's dictionaries are O(100) rows, and each distributed CC
# iteration costs whole job-scheduling round-trips — ~10s of fixed,
# parallelism-independent latency that would cap scaling efficiency.
# Candidate-match edge sets beyond the threshold use the distributed loop.
DRIVER_CC_MAX_EDGES = 100_000


def build_canonical_map(
    id_remap: DataFrame,
    cross_corpus_map: DataFrame,
    same_text_map: DataFrame,
    driver_threshold: int = DRIVER_CC_MAX_EDGES,
) -> DataFrame:
    """(entity_id, canon_id) for every id appearing in any dictionary.
    Representative = numeric-aware min id of each component. Ids not in
    the map are their own canonical (callers coalesce after a left join).
    """
    edges_raw = (
        id_remap.selectExpr("old_id as a", "new_id as b")
        .unionByName(cross_corpus_map.selectExpr("k_id as a", "t_id as b"))
        .unionByName(same_text_map.selectExpr("alias_id as a", "canonical_id as b"))
    )
    # one probe job: fetch threshold+1 rows; a full count would be a
    # second driver round-trip for the common (tiny-dictionary) case
    probe = edges_raw.limit(driver_threshold + 1).collect()
    if len(probe) <= driver_threshold:
        return _driver_side_cc_rows(edges_raw.sparkSession, probe)

    # CC runs on zero-padded ids so lexicographic min == numeric min
    edges = edges_raw.select(
        pad_id_col(F.col("a")).alias("src"), pad_id_col(F.col("b")).alias("dst")
    )
    comp = connected_components(edges)  # (node=pad, component=pad)

    nodes = (
        edges_raw.selectExpr("a as entity_id")
        .unionByName(edges_raw.selectExpr("b as entity_id"))
        .distinct()
        .withColumn("_pad", pad_id_col(F.col("entity_id")))
    )
    with_comp = nodes.join(comp, nodes._pad == comp.node, "inner").select(
        "entity_id", F.col("component")
    )
    # map the padded representative back to its raw id
    reps = nodes.selectExpr("entity_id as canon_id", "_pad as component")
    return with_comp.join(reps, "component", "inner").select("entity_id", "canon_id")


def _driver_side_cc_rows(spark, rows) -> DataFrame:
    """Union-find on collected edge rows; same representative rule as
    the distributed loop (numeric-aware min). Zero extra jobs; the
    result is a JVM-local relation (entity_id string, canon_id string)."""
    from .vocab import id_sort_key

    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for row in rows:
        ra, rb = find(row["a"]), find(row["b"])
        if ra != rb:
            parent[ra] = rb

    comps: dict[str, list[str]] = {}
    for node in list(parent):
        comps.setdefault(find(node), []).append(node)
    out = []
    for members in comps.values():
        rep = min(members, key=id_sort_key)
        out.extend((m, rep) for m in members)
    # from a Python list this would plan as a Python RDD, forking Python
    # workers in every job that broadcasts it
    entity_ids, canon_ids = zip(*out) if out else ((), ())
    return spark.createDataFrame(pa.table(
        [pa.array(entity_ids, pa.string()), pa.array(canon_ids, pa.string())],
        names=["entity_id", "canon_id"]))


def apply_canonical(
    df: DataFrame, canonical_map: DataFrame, id_col: str, out_col: str
) -> DataFrame:
    """Left broadcast join + coalesce: unmapped ids canonicalize to
    themselves (utils.php:102-104 lookup semantics, chains pre-closed)."""
    cm = canonical_map.select(
        F.col("entity_id").alias(id_col), F.col("canon_id").alias("_canon_tmp")
    )
    return (
        df.join(F.broadcast(cm), id_col, "left")
        .withColumn(out_col, F.coalesce(F.col("_canon_tmp"), F.col(id_col)))
        .drop("_canon_tmp")
    )


def build_abstract_lookup(
    abstract_map: DataFrame, canonical_map: DataFrame
) -> DataFrame:
    """(canon_id, abstract_local): filter '?'/empty refs
    (/root/reference/utils.php:884-885), canonicalize refs, min IRI wins
    per canonical entity (order-free tie-break)."""
    filtered = abstract_map.filter(
        (F.length(F.trim(F.col("entity_ref"))) > 0)
        & ~F.col("entity_ref").contains("?")
    )
    canon = apply_canonical(filtered, canonical_map, "entity_ref", "canon_id_out")
    return canon.groupBy(F.col("canon_id_out").alias("canon_id")).agg(
        F.min("canonical_iri").alias("abstract_local")
    )
