"""Mention extraction: leftmost-longest non-overlapping gazetteer
matching at whitespace-token boundaries, two physical strategies with
identical semantics (tests/test_operators.py proves equivalence):

1. ``extract_mentions_regex`` — longest-first alternation compiled into
   ONE JVM regex, run via ``regexp_extract_all`` inside whole-stage
   codegen. Zero Python boundary: no Arrow transfer, no worker
   processes competing with executor threads. Default for gazetteers
   up to REGEX_MAX_SURFACES (alternation cost grows with the surface
   count, so this is strictly the small-dictionary fast path).

2. ``extract_mentions_trie`` — batched token-level Aho-Corasick via
   ``mapInPandas`` (Arrow batches; the trie is built once per Python
   worker from a broadcast surface list, which a stream's micro-batches
   share: extract.surfaces_broadcast). O(text) matching independent
   of gazetteer size: the scale path for real gazetteers (the
   reference's actor dictionary is 6k rows, rkts-actors.csv).

Both emit (conv_id, turn_idx, midx, matched) where ``midx`` is the
0-based match ordinal within the turn — the downstream order key
(document order = (conv_id, turn_idx, midx), the analog of the
reference's XML item order, editionxmltottl.php:432-435).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark import Broadcast
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import vocab as V

MENTION_SCHEMA = "conv_id string, turn_idx int, midx int, matched string"

# above this surface count, alternation regexes stop being competitive
# with the trie; switch strategies
REGEX_MAX_SURFACES = 256

# hard cap on the driver-side gazetteer collect: dictionaries are the
# designed input (the reference's CSV maps are thousands of rows); a
# corpus-sized surface table would OOM the driver and needs a
# distributed trie/join strategy instead, so fail loud, don't limp
MAX_GAZETTEER_SURFACES = 1_000_000


def _normalized_surfaces(gazetteer: DataFrame) -> list[str]:
    # ONE bounded job: collect at most cap+1 rows (limit pushes down,
    # so an over-cap input costs cap+1 rows, never a driver OOM) and
    # reuse the same rows for normalization — a separate count probe
    # would pay a second full scan of the dictionary in the common
    # small case (ADVICE r4)
    rows = gazetteer.select("surface").limit(MAX_GAZETTEER_SURFACES + 1).collect()
    if len(rows) > MAX_GAZETTEER_SURFACES:
        raise ValueError(
            f"gazetteer has > {MAX_GAZETTEER_SURFACES:,} surfaces — too large "
            "to broadcast as a driver-built trie; route it through a "
            "distributed strategy (tokenize turns and equi-join surfaces, "
            "or build per-partition tries with mapInPandas over a "
            "broadcast-partitioned dictionary)"
        )
    return sorted({V.norm_surface(r["surface"]) for r in rows})


def surfaces_broadcast(
    spark: SparkSession, surfaces: list[str]
) -> Broadcast | None:
    """The broadcast the trie path matches ``surfaces`` with, or None
    when they take the regex path. Build it once for calls that share a
    gazetteer (the micro-batches of one stream): each new broadcast
    ships the list again and makes every Python worker rebuild its
    trie."""
    if len(surfaces) <= REGEX_MAX_SURFACES:
        return None
    return spark.sparkContext.broadcast(surfaces)


def extract_mentions(
    turns: DataFrame,
    gazetteer: DataFrame,
    surfaces: list[str] | None = None,
    surfaces_bc: Broadcast | None = None,
) -> DataFrame:
    """``surfaces`` lets callers prefetch the dictionary collect on a
    background thread (pipeline.py overlaps it with the ordered cache
    build); when omitted the collect runs inline. ``surfaces_bc``: their
    surfaces_broadcast, reused by the trie path instead of a new one."""
    if surfaces is None:
        surfaces = _normalized_surfaces(gazetteer)
    if len(surfaces) <= REGEX_MAX_SURFACES:
        return extract_mentions_regex(turns, surfaces)
    return extract_mentions_trie(turns, surfaces_bc or surfaces)


def _non_placeholder(turns: DataFrame) -> DataFrame:
    # placeholder filter runs JVM-side before any extraction work
    return turns.select("conv_id", "turn_idx", "text").filter(
        ~F.col("text").isin(*V.PLACEHOLDERS)
    )


# --- strategy 1: JVM regex (whole-stage codegen, no Python) -----------------

def _alternation_pattern(surfaces: list[str]) -> str:
    """Longest-first alternation == leftmost-longest at each position;
    (?<!\\S) / (?!\\S) enforce whitespace-token boundaries. Surfaces are
    \\Q..\\E-quoted so arbitrary alias text is safe."""
    alts = sorted(surfaces, key=len, reverse=True)
    body = "|".join("\\Q" + s + "\\E" for s in alts)
    return f"(?<!\\S)({body})(?!\\S)"


def extract_mentions_regex(turns: DataFrame, surfaces: list[str]) -> DataFrame:
    from .functions.text import norm_surface_col

    pattern = _alternation_pattern(surfaces)
    src = _non_placeholder(turns)
    matches = src.select(
        "conv_id",
        "turn_idx",
        F.regexp_extract_all(
            norm_surface_col(F.col("text")), F.lit(pattern), 1
        ).alias("ms"),
    )
    return matches.select(
        "conv_id",
        "turn_idx",
        F.posexplode("ms").alias("midx", "matched"),
    ).select("conv_id", "turn_idx", F.col("midx").cast("int"), "matched")


# --- strategy 2: Aho-Corasick token trie over Arrow batches -----------------

class TokenTrie:
    """Token-sequence trie with greedy longest-match scanning."""

    __slots__ = ("root",)

    def __init__(self, surfaces: list[str]):
        self.root: dict = {}
        for surf in surfaces:
            toks = surf.split(" ")
            node = self.root
            for t in toks:
                node = node.setdefault(t, {})
            node[None] = surf  # terminal -> canonical normalized surface

    def scan(self, norm_text: str) -> list[str]:
        """Matched surfaces in document order, leftmost-longest
        non-overlapping (list index == match ordinal)."""
        toks = norm_text.split(" ")
        out: list[str] = []
        i, n = 0, len(toks)
        while i < n:
            node = self.root
            best: str | None = None
            best_j = i
            j = i
            while j < n and toks[j] in node:
                node = node[toks[j]]
                j += 1
                if None in node:
                    best = node[None]
                    best_j = j
            if best is not None:
                out.append(best)
                i = best_j
            else:
                i += 1
        return out


# [surfaces_list, trie]: keyed by IDENTITY of the broadcast's value,
# with a strong reference held so the object can't be garbage-collected
# and its address recycled — an id()/address-keyed cache can silently
# serve a STALE trie from a previous gazetteer after GC reuse (caught
# by tests/test_pipeline.py::test_pipeline_trie_path_matches_oracle
# when run after other broadcast-creating tests).
_TRIE_CACHE: list = []


def _get_trie(bc) -> TokenTrie:
    v = bc.value  # worker-side Broadcast caches the loaded value
    if _TRIE_CACHE and _TRIE_CACHE[0] is v:
        return _TRIE_CACHE[1]
    trie = TokenTrie(v)
    _TRIE_CACHE[:] = [v, trie]  # one live gazetteer per worker
    return trie


def extract_mentions_trie(
    turns: DataFrame, surfaces: list[str] | Broadcast
) -> DataFrame:
    """Column pruning: only (conv_id, turn_idx, text) crosses the Arrow
    boundary; the trie is built once per worker from the broadcast, not
    per batch. ``surfaces``: the list, or a broadcast of it to share."""
    bc = (surfaces if isinstance(surfaces, Broadcast)
          else turns.sparkSession.sparkContext.broadcast(surfaces))
    src = _non_placeholder(turns)

    def scan_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        trie = _get_trie(bc)
        for pdf in batches:
            conv_ids: list[str] = []
            turn_idxs: list[int] = []
            midxs: list[int] = []
            matches: list[str] = []
            for conv_id, turn_idx, text in zip(
                pdf["conv_id"].values, pdf["turn_idx"].values, pdf["text"].values
            ):
                if not text:
                    continue
                for midx, matched in enumerate(trie.scan(V.norm_surface(text))):
                    conv_ids.append(conv_id)
                    turn_idxs.append(int(turn_idx))
                    midxs.append(midx)
                    matches.append(matched)
            yield pd.DataFrame(
                {
                    "conv_id": pd.Series(conv_ids, dtype="object"),
                    "turn_idx": pd.Series(turn_idxs, dtype="int32"),
                    "midx": pd.Series(midxs, dtype="int32"),
                    "matched": pd.Series(matches, dtype="object"),
                }
            )

    return src.mapInPandas(scan_batches, schema=MENTION_SCHEMA)
