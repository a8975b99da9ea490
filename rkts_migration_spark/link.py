"""Entity linking: gazetteer-scored disambiguation of extracted mentions.

The winner for an ambiguous surface is (max weight, then min entity id
numeric-aware) — computed once per surface on the tiny gazetteer
dimension and broadcast-joined onto the mention stream, so
disambiguation costs zero shuffles on the big side (the J4/J5 pattern
from SURVEY.md §2.3: dictionary lookups become broadcast hash joins).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions.ids import pad_id_col
from .functions.text import norm_surface_col


def surface_winners(gazetteer: DataFrame) -> DataFrame:
    """(surf_norm, entity_id, lang): per normalized surface, the row
    with max weight, ties broken by min numeric-aware entity id."""
    g = gazetteer.select(
        norm_surface_col(F.col("surface")).alias("surf_norm"),
        F.col("entity_id"),
        F.col("lang"),
        F.col("weight"),
        pad_id_col(F.col("entity_id")).alias("_pad"),
    )
    # min(struct(-weight, pad, ...)) == argmax weight with min-id tie-break
    pick = g.groupBy("surf_norm").agg(
        F.min(
            F.struct(
                (-F.col("weight")).alias("negw"),
                F.col("_pad").alias("pad"),
                F.col("entity_id").alias("entity_id"),
                F.col("lang").alias("lang"),
            )
        ).alias("w")
    )
    return pick.select(
        "surf_norm", F.col("w.entity_id").alias("entity_id"), F.col("w.lang").alias("lang")
    )


def link_mentions(mentions: DataFrame, gazetteer: DataFrame) -> DataFrame:
    """mentions (conv_id, turn_idx, begin, matched) -> + (entity_id, lang)."""
    return link_and_canonicalize(mentions, surface_winners(gazetteer))


def canonical_winners(gazetteer: DataFrame, canonical_map: DataFrame) -> DataFrame:
    """surface_winners + canon_id: canon_id is a pure function of the
    matched surface, so canonicalization composes onto this
    gazetteer-sized dimension instead of the mention stream."""
    from .canonicalize import apply_canonical

    return apply_canonical(
        surface_winners(gazetteer), canonical_map, "entity_id", "canon_id"
    )


def link_and_canonicalize(mentions: DataFrame, winners: DataFrame) -> DataFrame:
    """Broadcast-join mentions to a ``winners`` dimension on the matched
    surface. With canonical_winners the 23M-row (at sf0.1) mention
    stream is linked and canonicalized by ONE broadcast hash join, with
    the schema and values of apply_canonical(link_mentions(...), ...)."""
    return mentions.join(
        F.broadcast(winners), mentions.matched == winners.surf_norm, "inner"
    ).drop("surf_norm")
