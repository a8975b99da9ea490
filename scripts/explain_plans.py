"""Dump formatted physical plans of the pipeline's key shapes to
PLANS.md — the artifacts behind tests/test_plans.py's assertions:
scan pushdown + schema pruning, broadcast dictionary joins, the single
conv-partitioned exchange shared by every window, the topEntity count's
partial aggregation, and the Python boundary confined to one
mapInPandas stage.

Usage: python scripts/explain_plans.py
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> int:
    from pyspark.sql import functions as F

    from rkts_migration_spark.extract import extract_mentions_trie
    from rkts_migration_spark.fixtures import fixtures_to_spark, make_fixtures
    from rkts_migration_spark.extract import extract_mentions
    from rkts_migration_spark.materialize import mention_triples
    from rkts_migration_spark.operators.sections import with_section_index
    from rkts_migration_spark.session import get_spark

    spark = get_spark(app_name="plans", master="local[4]", shuffle_partitions=8)
    sf_dir = "/root/testdata/sf0.001"

    sections = []

    # 1. scan pushdown + column pruning
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.filter(F.col("l_orderkey") < 100).select("l_orderkey", "l_quantity")
    sections.append((
        "Parquet scan: predicate pushdown + ReadSchema pruning",
        "filter+project reach the scan (PushedFilters, 2-column ReadSchema)",
        plan_of(q),
    ))

    # 2. ordered stage: ONE exchange feeds every window
    tables = fixtures_to_spark(spark, make_fixtures(seed=42, n_convs=20))
    ordered = with_section_index(tables["transcripts"])
    sections.append((
        "Ordered stage (W2/W11): single conv_id exchange, shared sort",
        "lag + running-sum windows reuse one Exchange(hashpartitioning(conv_id))",
        plan_of(ordered),
    ))

    # 3. extraction + linking: JVM regex path, fused broadcast winner join
    # (the production path — canonicalization pre-composed onto the
    # winners dimension, so the mention stream pays ONE broadcast join;
    # InferFiltersFromGenerate is excluded in the session factory, so
    # the alternation regex is evaluated once per turn, not re-derived
    # as a size()>0 filter below the Generate)
    # The dictionary tables are the pipeline's own: JVM-local relations
    # (LocalTableScan), as both pipeline forms build them.
    from rkts_migration_spark.link import link_and_canonicalize
    from rkts_migration_spark.pipeline import _build_dictionaries

    dicts = _build_dictionaries(tables)
    mentions = extract_mentions(ordered, tables["gazetteer"], dicts.surfaces)
    linked = link_and_canonicalize(mentions, dicts.winners)
    sections.append((
        "Extract + link + canonicalize (fused): ONE broadcast join on the big side",
        "regexp_extract_all in codegen, evaluated once per turn (no inferred "
        "size()>0 re-evaluation below the Generate); the canonical map is "
        "composed onto the gazetteer-sized winners dimension, so the mention "
        "stream pays a single BroadcastHashJoin — zero shuffles of the big side",
        plan_of(linked),
    ))

    # 4. mention triples: distinct narrow cols, then broadcast IRI map
    iri_map = dicts.entity_iri_map
    mt = mention_triples(linked, iri_map)
    sections.append((
        "Mention triples: distinct before string rendering",
        "HashAggregate(conv_id, turn_idx, canon_id) with partial agg, then "
        "broadcast entity_iri join; IRI strings built post-distinct",
        plan_of(mt),
    ))

    # 4b. label family: argmin aggregation with map-side partials
    from rkts_migration_spark.materialize import label_triples
    lt = label_triples(linked, iri_map)
    sections.append((
        "Label triples: argmin aggregation, not a window",
        "partial_min(struct) on the map side absorbs the corpus before the "
        "tiny (entities x labels) shuffle — the straggler-free form of "
        "first-wins dedup",
        plan_of(lt),
    ))

    # 4c. topEntity family: plain count, partial aggregation absorbs a
    # hot conversation before the shuffle
    from rkts_migration_spark.materialize import top_entity_triples
    sections.append((
        "topEntity triples: partial count, two exchanges",
        "groupBy(conv_id, canon_id) count with map-side partial_count, so a "
        "hot conversation reaches the (conv_id, canon_id) exchange as at most "
        "one row per key per task; then the argmin-struct (max count, "
        "numeric-min id) per conversation behind a second exchange; the "
        "entity IRI joins by broadcast",
        plan_of(top_entity_triples(linked, iri_map)),
    ))

    # 5. trie path: the only Python boundary
    trie = extract_mentions_trie(
        tables["transcripts"], ["spark", "spark sql", "window"])
    sections.append((
        "Trie extraction (scale path): one ArrowEvalPython/mapInPandas stage",
        "the single Python boundary in the pipeline; everything else is "
        "WholeStageCodegen",
        plan_of(trie),
    ))

    # 6. XML sink pre-write shape: range-partition + in-partition sort
    from rkts_migration_spark.functions.text import xml_escape_col

    xml_df = (
        tables["transcripts"]
        .select(
            F.col("role").alias("coll"),
            F.col("turn_idx").alias("ord"),
            F.format_string(
                "<item><tib>%s</tib></item>", xml_escape_col(F.col("text"))
            ).alias("value"),
        )
        .repartitionByRange("coll", "ord")
        .sortWithinPartitions("coll", "ord")
        .select("coll", "value")
    )
    sections.append((
        "XML outline sink: rangepartitioning + in-partition sort, no global sort",
        "fragments are ordered by (coll, ord) via Exchange rangepartitioning "
        "+ Sort [local] — contiguous ordinal ranges per part file make "
        "part-file order document order without a single-reducer global sort; "
        "escaping is a literal replace chain inside WholeStageCodegen",
        plan_of(xml_df),
    ))

    # 7. jaccard max_df guard: partial agg + broadcast anti, never a window
    from rkts_migration_spark.operators.dedup import jaccard_pairs

    docs = spark.createDataFrame(
        [(i, f"common w{i} w{i + 1}") for i in range(8)],
        "doc_id int, text string")
    sections.append((
        "Jaccard max_df guard: partial-agg + broadcast anti, postings cached once",
        "document frequency via groupBy(token).count() with map-side "
        "partial_count, hot tokens dropped by a BroadcastHashJoin LeftAnti "
        "— no Window, so a stop word's posting list never colocates; the "
        "guarded postings are cached once and reused by both join sides",
        plan_of(jaccard_pairs(docs, max_df=3)),
    ))

    # 8. graph metrics: one node-level assembly over checkpointed passes
    from rkts_migration_spark.queries_kg import q_kg_graph_metrics

    sections.append((
        "Graph metrics (q_kg_graph_metrics): one node-level assembly over "
        "checkpointed passes",
        "degree/PageRank/BFS share ONE localCheckpoint-ed mention-edge "
        "pipeline; degree is union -> partial HashAggregate -> one exchange "
        "(hub-safe, no Window); the Scan ExistingRDD leaves are the "
        "localCheckpoint boundaries capping plan growth at any "
        "iteration/hop count",
        plan_of(q_kg_graph_metrics(spark, sf_dir)),
    ))

    out = ["# PLANS — formatted physical plans of the load-bearing shapes",
           "",
           "Generated by `python scripts/explain_plans.py` (sf0.001 inputs;",
           "plan shapes are scale-invariant). The properties asserted in",
           "tests/test_plans.py are visible in each plan below.",
           ""]
    for title, why, plan in sections:
        out.append(f"## {title}")
        out.append("")
        out.append(f"_{why}_")
        out.append("")
        out.append("```")
        out.append(plan.rstrip())
        out.append("```")
        out.append("")
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print(f"PLANS.md written ({len(sections)} sections)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
