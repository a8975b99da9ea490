"""Triple materialization: every family from the vocab.py contract,
assembled with pure column expressions and unioned into one narrow
(subj, pred, obj) DataFrame.

Plan shape (scale rationale):
- Turn-family triples are a union of per-predicate projections over
  the columnar turns stage: column pruning reaches each branch (a
  count/audit consumer never renders a literal; the text branch is the
  only one touching text bytes) and no explode/array materialization
  amplifies string copies — see turn_triples' docstring for the
  measured numbers.
- Section triples reuse the conv-partitioned window shuffle computed by
  the ordered stage (explode-shaped: the bounds are derived by a
  window pass that a union would re-run per predicate).
- topEntity counts with a plain groupBy: its map-side partial_count
  sends at most one row per (conv_id, canon_id) per task to the
  shuffle, so a hot conversation stays bounded without salting.
- Label pref/alt uses order-aware first-wins windows (operators/dedup.py),
  the distributed analog of seenTitles/seenLangs
  (/root/reference/kernelxmltottl.php:88-89,205-227).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import vocab as V
from .canonicalize import apply_canonical
from .functions.ids import (
    conv_iri_col,
    entity_iri_col,
    int_lit_col,
    pad_id_col,
    section_iri_col,
    turn_iri_col,
)
from .functions.text import norm_label_col, str_lit_col
from .operators.dedup import with_first_flag
from .operators.sections import section_bounds

TRIPLE_COLS = ("subj", "pred", "obj")


def _t(subj, pred: str, obj) -> F.Column:
    return F.struct(
        subj.alias("subj"), F.lit(pred).alias("pred"), obj.alias("obj")
    )


def turn_triples(turns: DataFrame) -> DataFrame:
    """partOf / turnIndex / role / usedTool / text — a union of five
    per-predicate projections over the (cached / columnar) turns stage.

    Formerly one scan + explode(array(struct...)); the union-of-
    projections form is deliberately chosen for two scale reasons
    (VERDICT r4 path (b): cut bandwidth, render as late as possible):

    * Column pruning works THROUGH it. explode(array(struct(...)))
      is opaque to Catalyst's nested-column pruning in practice, so a
      consumer that needs only the triple COUNT (audits, progress
      metrics) or only subjects still paid full literal rendering of
      every text byte. With plain projections, each consumer pays
      exactly the columns it touches — measured 10x on the count
      path at bench scale (BENCH/BASELINE.md r4 note).
    * No copy amplification. The array-of-structs materializes every
      rendered string into an array cell, then explode copies it into
      the output row — ~3 copies of every text byte at peak
      allocation rate, which is what saturates the memory bus at high
      core counts. Projections render each string once, straight into
      the output row.

    Each branch reads only its own columns (columnar cache / parquet
    prunes per branch: the text branch is the only one touching text
    bytes), so the union costs ~1.3 full-row scans, not 5."""
    tiri = turn_iri_col(F.col("conv_id"), F.col("turn_idx"))
    ciri = conv_iri_col(F.col("conv_id"))
    parts = [
        turns.select(
            tiri.alias("subj"), F.lit(V.PRED_PART_OF).alias("pred"),
            ciri.alias("obj")),
        turns.select(
            tiri.alias("subj"), F.lit(V.PRED_TURN_INDEX).alias("pred"),
            int_lit_col(F.col("turn_idx")).alias("obj")),
        turns.select(
            tiri.alias("subj"), F.lit(V.PRED_ROLE).alias("pred"),
            str_lit_col(F.col("role"), "en").alias("obj")),
        turns.filter(F.col("tool").isNotNull()).select(
            tiri.alias("subj"), F.lit(V.PRED_USED_TOOL).alias("pred"),
            str_lit_col(F.col("tool"), "en").alias("obj")),
        turns.filter(~F.col("text").isin(*V.PLACEHOLDERS)).select(
            tiri.alias("subj"), F.lit(V.PRED_TEXT).alias("pred"),
            str_lit_col(F.col("text"), "en").alias("obj")),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def conv_triples(turns: DataFrame) -> DataFrame:
    """(conv, nTurns, n) — single count agg per conversation."""
    return (
        turns.groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            conv_iri_col(F.col("conv_id")).alias("subj"),
            F.lit(V.PRED_N_TURNS).alias("pred"),
            int_lit_col(F.col("n")).alias("obj"),
        )
    )


def section_triples(turns_with_section: DataFrame) -> DataFrame:
    """hasSection / sectionIndex / beginTurn / endTurn per island.

    Stays explode-shaped (unlike turn_triples): ``bounds`` is a
    DERIVED plan — windows over the cached turns — so union branches
    would re-run the window aggregation once per predicate, while the
    section family carries no text bytes, which removes the copy-
    amplification argument. One window pass + a small explode over
    section-count rows is the cheaper plan on both axes."""
    bounds = section_bounds(turns_with_section)
    siri = section_iri_col(F.col("conv_id"), F.col("section_idx"))
    fam = F.array(
        _t(conv_iri_col(F.col("conv_id")), V.PRED_HAS_SECTION, siri),
        _t(siri, V.PRED_SECTION_INDEX, int_lit_col(F.col("section_idx"))),
        _t(siri, V.PRED_BEGIN_TURN,
           turn_iri_col(F.col("conv_id"), F.col("begin_turn_idx"))),
        _t(siri, V.PRED_END_TURN,
           turn_iri_col(F.col("conv_id"), F.col("end_turn_idx"))),
    )
    return bounds.select(F.explode(fam).alias("t")).select(
        "t.subj", "t.pred", "t.obj"
    )


def build_entity_iri_map(
    gazetteer: DataFrame, canonical_map: DataFrame, abstract_lookup: DataFrame
) -> DataFrame:
    """(canon_id, entity_iri): IRIs minted once on the gazetteer-sized
    dimension, broadcast everywhere. Minting (pad_id_col = three
    regexp_extracts) on the mention stream would run per mention row;
    every canon_id in the stream comes from the canonicalized gazetteer,
    so the complete key universe is dimension-sized by construction."""
    ids = gazetteer.select("entity_id").distinct()
    ids = apply_canonical(ids, canonical_map, "entity_id", "canon_id")
    canon = ids.select("canon_id").distinct()
    withabs = canon.join(F.broadcast(abstract_lookup), "canon_id", "left")
    return withabs.select(
        "canon_id",
        entity_iri_col(F.col("canon_id"), F.col("abstract_local")).alias(
            "entity_iri"
        ),
    )


def _with_entity_iri(df: DataFrame, entity_iri_map: DataFrame) -> DataFrame:
    """Attach the pre-minted entity_iri via broadcast join on canon_id."""
    return df.join(F.broadcast(entity_iri_map), "canon_id", "left")


def mention_triples(linked_canon: DataFrame, entity_iri_map: DataFrame) -> DataFrame:
    """(turn, mentions, entity) — distinct per (turn, canonical entity).

    Distinct runs FIRST, on the narrow native columns (conv_id,
    turn_idx, canon_id): the shuffle moves 3 small values per row, and
    IRI strings are built only for the surviving rows. Distinct-ing
    pre-rendered (subj, obj) strings would shuffle ~10x the bytes for
    the identical result (entity_iri is a function of canon_id)."""
    keys = linked_canon.select("conv_id", "turn_idx", "canon_id").distinct()
    df = _with_entity_iri(keys, entity_iri_map)
    return df.select(
        turn_iri_col(F.col("conv_id"), F.col("turn_idx")).alias("subj"),
        F.lit(V.PRED_MENTIONS).alias("pred"),
        F.col("entity_iri").alias("obj"),
    )


def top_entity_triples(
    linked_canon: DataFrame, entity_iri_map: DataFrame
) -> DataFrame:
    """(conv, topEntity, entity): max mention count per conversation,
    ties -> numeric-min canonical id. Two exchanges: the count's map-side
    partial_count reduces each task's split of a hot conversation to one
    row per (conv_id, canon_id) before its shuffle, then the argmin."""
    counts = linked_canon.groupBy("conv_id", "canon_id").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    top = (
        counts.withColumn("_pad", pad_id_col(F.col("canon_id")))
        .groupBy("conv_id")
        .agg(
            F.min(
                F.struct(
                    (-F.col("cnt")).alias("negc"),
                    F.col("_pad").alias("pad"),
                    F.col("canon_id").alias("canon_id"),
                )
            ).alias("w")
        )
        .select("conv_id", F.col("w.canon_id").alias("canon_id"))
    )
    top = _with_entity_iri(top, entity_iri_map)
    return top.select(
        conv_iri_col(F.col("conv_id")).alias("subj"),
        F.lit(V.PRED_TOP_ENTITY).alias("pred"),
        F.col("entity_iri").alias("obj"),
    )


def label_triples(linked_canon: DataFrame, entity_iri_map: DataFrame) -> DataFrame:
    """prefLabel (first per (entity, lang)) / altLabel (later distinct
    normalized labels) under corpus document order (conv, turn, midx)."""
    base = linked_canon.withColumn("norm_label", norm_label_col(F.col("matched")))
    # First occurrence of each distinct normalized label per entity.
    # This is an ARGMIN aggregation, not a window: group cardinality is
    # tiny (entities x labels) while group size is the whole corpus, so
    # a row_number window would sort millions of rows inside a handful
    # of partitions — a straggler that no amount of executors fixes.
    # min(struct(order..., payload...)) gets map-side partial aggregation:
    # each task reduces its split to one candidate row per group before
    # the (tiny) shuffle. Semantics identical to first_wins because
    # (conv_id, turn_idx, midx) is unique per mention row.
    label_winners = (
        base.groupBy("canon_id", "norm_label")
        .agg(
            F.min(
                F.struct(
                    F.col("conv_id"),
                    F.col("turn_idx"),
                    F.col("midx"),
                    F.col("matched"),
                    F.col("lang"),
                )
            ).alias("w")
        )
        .select("canon_id", "norm_label", "w.conv_id", "w.turn_idx",
                "w.midx", "w.matched", "w.lang")
    )
    flagged = with_first_flag(
        label_winners,
        group_cols=["canon_id", "lang"],
        order_cols=["conv_id", "turn_idx", "midx"],
        flag_col="is_pref",
    )
    df = _with_entity_iri(flagged, entity_iri_map)
    return df.select(
        F.col("entity_iri").alias("subj"),
        F.when(F.col("is_pref"), F.lit(V.PRED_PREF_LABEL))
        .otherwise(F.lit(V.PRED_ALT_LABEL))
        .alias("pred"),
        str_lit_col(F.col("matched"), F.col("lang")).alias("obj"),
    )


def entity_prop_triples(
    entity_props: DataFrame,
    canonical_map: DataFrame,
    entity_iri_map: DataFrame,
    mentioned_canon: DataFrame,
) -> DataFrame:
    """workIsAbout/workGenre for mentioned canonical entities; self-
    reference rows dropped (/root/reference/kernelxmltottl.php:40-42)."""
    props = entity_props.filter(F.col("obj") != F.col("entity_ref"))
    props = apply_canonical(props, canonical_map, "entity_ref", "canon_id")
    props = props.join(mentioned_canon, "canon_id", "left_semi")
    # two source refs can canonicalize to the same (canon, prop, obj)
    props = props.select("canon_id", "prop", "obj").distinct()
    df = _with_entity_iri(props, entity_iri_map)
    return df.select(
        F.col("entity_iri").alias("subj"),
        F.when(F.col("prop") == "ab", F.lit(V.PRED_WORK_IS_ABOUT))
        .otherwise(F.lit(V.PRED_WORK_GENRE))
        .alias("pred"),
        F.concat(
            F.when(F.col("prop") == "ab", F.lit(V.TOPIC)).otherwise(F.lit(V.GENRE)),
            F.col("obj"),
        ).alias("obj"),
    )


def assemble_triples(
    turns_with_section: DataFrame,
    linked_canon: DataFrame,
    canonical_map: DataFrame,
    entity_iri_map: DataFrame,
    entity_props: DataFrame,
) -> DataFrame:
    """Union of every family — the global-graph union (U1 analog,
    /root/reference/utils.php:833-840). ``entity_iri_map`` is
    build_entity_iri_map's dimension, built once by the caller.

    No global distinct: the families are pairwise disjoint (each owns
    its predicates) and each is internally unique — mentions and props
    carry their own distinct; turn/conv/section/label/topEntity rows
    are unique by construction (one row per turn/conv/island/winner).
    A trailing distinct would re-shuffle the entire output for nothing
    — at 100 TB that is the single biggest avoidable exchange."""
    mentioned = linked_canon.select("canon_id").distinct()
    fams = [
        turn_triples(turns_with_section),
        conv_triples(turns_with_section),
        section_triples(turns_with_section),
        mention_triples(linked_canon, entity_iri_map),
        top_entity_triples(linked_canon, entity_iri_map),
        label_triples(linked_canon, entity_iri_map),
        entity_prop_triples(
            entity_props, canonical_map, entity_iri_map, mentioned
        ),
    ]
    out = fams[0]
    for f in fams[1:]:
        out = out.unionByName(f)
    return out
