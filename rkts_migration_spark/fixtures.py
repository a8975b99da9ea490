"""Deterministic synthetic fixtures (seed-pure, no external data).

Mirrors FIXTURES.md: a multi-turn transcript table shaped exactly like
the authoritative input hint ``(conv_id, turn_idx, role, text, tool,
ts)`` plus the dictionary side-inputs the reference ETL consumes
(remaps, cross-corpus merges, same-text aliases, abstract-IRI map,
entity property multimap).

Reference analogs (cited for parity-checking, NOT ported):
- gazetteer            ~ catalog title fields + rkts-actors.csv
                         (/root/reference/utils.php:852-870)
- id_remap             ~ kernel <now> redirects, incl. chains
                         (/root/reference/kernelxmltottl.php:255-270)
- cross_corpus_map     ~ KTMapping (/root/reference/rkts.yaml:38-99)
- same_text_map        ~ SameTextDifferentTranslation
                         (/root/reference/rkts.yaml:100-113)
- abstract_map         ~ abstract-rkts.csv with '?' rows filtered
                         (/root/reference/utils.php:872-897)
- entity_props         ~ rkts-actors multimap, self-refs dropped
                         (/root/reference/kernelxmltottl.php:40-42)

All generators are pure functions of (seed, scale): same arguments ->
byte-identical tables. Rows of ``transcripts`` are emitted SHUFFLED so
the pipeline's stable ordering window is actually exercised.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta

# Vocabulary for noise tokens (overlaps with the driver testdata's
# documents vocabulary so the same gazetteer fires on both).
NOISE = (
    "the a of to and in is on for with at by from up about into over "
    "data row column value table file line item part page text note"
).split() + [
    # special characters exercise byte-precise N-Triples escaping
    # (parity with /root/reference/Nquads.php:97-124)
    'quo"te', "back\\slash", "tab\there", "new\nline", "unictl",
]

# Entity surface templates: include shared-prefix pairs (trie stress),
# multi-token surfaces, case variants and an ambiguous surface mapped to
# several entities with distinct weights.
BASE_SURFACES = [
    "spark", "spark sql", "spark streaming",          # shared prefixes
    "window", "window function",
    "join", "hash join", "merge join",
    "scan", "table scan",
    "sort", "sort merge",
    "batch", "stream", "shuffle", "partition",
    "broadcast", "catalyst", "tungsten", "arrow",
    "iceberg", "parquet", "schema", "lineage",
    "kangyur", "tengyur", "derge", "peking",
]

ROLES = ("user", "assistant", "tool")


@dataclass
class FixtureSet:
    """All synthetic tables as lists of dicts (engine-agnostic)."""

    transcripts: list[dict] = field(default_factory=list)
    gazetteer: list[dict] = field(default_factory=list)
    id_remap: list[dict] = field(default_factory=list)
    cross_corpus_map: list[dict] = field(default_factory=list)
    same_text_map: list[dict] = field(default_factory=list)
    abstract_map: list[dict] = field(default_factory=list)
    entity_props: list[dict] = field(default_factory=list)


def make_gazetteer(rng: random.Random, n_entities: int = 60) -> list[dict]:
    """Entity surface-form table: (entity_id, surface, lang, weight).

    Ambiguous surfaces map to 2-3 entity_ids with distinct weights so
    linking has real work to do; ids are 1-based to match zero-padded
    minting ("E" + int, padded at mint time like utils.php:26-37).
    """
    rows: list[dict] = []
    n_surf = len(BASE_SURFACES)
    for i in range(1, n_entities + 1):
        eid = f"E{i}"
        surface = BASE_SURFACES[(i - 1) % n_surf]
        if i > n_surf:
            # synthetic extra aliases: "<surface> <k>" keeps trie prefixes hot
            surface = f"{surface} {i // n_surf}"
        rows.append(
            {"entity_id": eid, "surface": surface, "lang": "en",
             "weight": round(1.0 + (i % 7) * 0.25, 2)}
        )
    # ambiguity: "spark" also maps to E2 and E5 with different weights
    rows.append({"entity_id": "E2", "surface": "spark", "lang": "en", "weight": 0.5})
    rows.append({"entity_id": "E5", "surface": "spark", "lang": "en", "weight": 2.9})
    # case/diacritic variant aliases for the same entity
    rows.append({"entity_id": "E7", "surface": "JOIN", "lang": "en", "weight": 1.1})
    rows.append({"entity_id": "E9", "surface": "Scan", "lang": "en", "weight": 1.2})
    # EWTS-ish alias ending in a consonant (add_shad normalizer stress)
    rows.append({"entity_id": "E25", "surface": "kangyur", "lang": "bo-x-ewts", "weight": 1.5})
    return rows


def make_dictionaries(rng: random.Random, n_entities: int = 60) -> dict[str, list[dict]]:
    """Remap / merge / alias / abstract / props dictionaries.

    Includes remap CHAINS (E3->E4, E4->E6) and a 2-cycle guard
    (E11<->E12): the reference resolves only single hops
    (utils.php:102-104); our connected-components pass must close both.
    """
    id_remap = [
        {"old_id": "E3", "new_id": "E4"},
        {"old_id": "E4", "new_id": "E6"},   # chain: E3 -> E4 -> E6
        {"old_id": "E11", "new_id": "E12"},
        {"old_id": "E12", "new_id": "E11"},  # 2-cycle guard
        {"old_id": "E20", "new_id": "E21"},
    ]
    cross_corpus_map = [
        {"k_id": "E6", "t_id": "E8"},        # chains with the remap above
        {"k_id": "E14", "t_id": "E15"},
        {"k_id": "E30", "t_id": "E31"},
    ]
    same_text_map = [
        {"alias_id": "E15", "canonical_id": "E16"},  # chains with cross_corpus
        {"alias_id": "E40", "canonical_id": "E41"},
    ]
    abstract_map = [
        {"canonical_iri": "WA0001", "entity_ref": "E1"},
        {"canonical_iri": "WA0003", "entity_ref": "E3"},   # points at a remapped id
        {"canonical_iri": "WA0014", "entity_ref": "E14"},
        {"canonical_iri": "WA0BAD", "entity_ref": "?"},    # must be filtered
        {"canonical_iri": "WA0EMP", "entity_ref": ""},     # must be filtered
        {"canonical_iri": "WA0025", "entity_ref": "E25"},
    ]
    entity_props = [
        {"entity_ref": "E1", "prop": "ab", "obj": "T100"},
        {"entity_ref": "E1", "prop": "ab", "obj": "T101"},
        {"entity_ref": "E1", "prop": "ge", "obj": "G7"},
        {"entity_ref": "E5", "prop": "ge", "obj": "G2"},
        {"entity_ref": "E6", "prop": "ab", "obj": "T200"},
        {"entity_ref": "E7", "prop": "ab", "obj": "E7"},   # self-ref: dropped
        {"entity_ref": "E25", "prop": "ge", "obj": "G9"},
    ]
    return {
        "id_remap": id_remap,
        "cross_corpus_map": cross_corpus_map,
        "same_text_map": same_text_map,
        "abstract_map": abstract_map,
        "entity_props": entity_props,
    }


def _zipf_sizes(rng: random.Random, n_convs: int, s: float = 1.3,
                min_turns: int = 2, max_turns: int = 120) -> list[int]:
    """Deliberately skewed per-conversation turn counts."""
    sizes = []
    for i in range(n_convs):
        # rank-based zipf: conv 0 is the hot key
        size = int(max_turns / ((i + 1) ** s)) + min_turns
        sizes.append(min(size, max_turns))
    return sizes


def make_transcripts(
    rng: random.Random,
    gazetteer: list[dict],
    n_convs: int = 200,
    base_ts: datetime = datetime(2026, 1, 1),
) -> list[dict]:
    """Multi-turn transcript rows, SHUFFLED, with 0-4 embedded surfaces.

    ~5% of turns get empty/"-" placeholder text (analog of the
    reference's placeholder-id normalization, editionxmltottl.php:33-34).
    """
    surfaces = sorted({g["surface"] for g in gazetteer})
    sizes = _zipf_sizes(rng, n_convs)
    rows: list[dict] = []
    for ci, n_turns in enumerate(sizes):
        conv_id = f"C{ci:06d}"
        role = "user"
        for ti in range(n_turns):
            # roles repeat ~45% of the time so section islands (role-change
            # detection, W2 analog of editionxmltottl.php:150-162) are
            # non-degenerate runs, not one-turn islands.
            if ti == 0 or rng.random() >= 0.45:
                role = ROLES[rng.randint(0, 2)]
            r = rng.random()
            if r < 0.03:
                text = ""
            elif r < 0.05:
                text = "-"
            else:
                n_ent = rng.randint(0, 4)
                toks: list[str] = []
                for _ in range(rng.randint(3, 10)):
                    toks.append(rng.choice(NOISE))
                for _ in range(n_ent):
                    pos = rng.randint(0, len(toks))
                    toks.insert(pos, rng.choice(surfaces))
                text = " ".join(toks)
            rows.append(
                {
                    "conv_id": conv_id,
                    "turn_idx": ti,
                    "role": role,
                    "text": text,
                    "tool": f"tool_{ti % 5}" if role == "tool" else None,
                    "ts": base_ts + timedelta(hours=ci, minutes=ti),
                }
            )
    rng.shuffle(rows)  # stable-order window must reconstruct document order
    return rows


def make_fixtures(seed: int = 42, n_convs: int = 200, n_entities: int = 60) -> FixtureSet:
    """Build the full fixture set; pure in (seed, n_convs, n_entities)."""
    rng = random.Random(seed)
    gaz = make_gazetteer(rng, n_entities)
    dicts = make_dictionaries(rng, n_entities)
    transcripts = make_transcripts(rng, gaz, n_convs)
    return FixtureSet(transcripts=transcripts, gazetteer=gaz, **dicts)


# --- Spark materialization -------------------------------------------------

TRANSCRIPT_DDL = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def fixtures_to_spark(spark, fx: FixtureSet):
    """Materialize a FixtureSet as Spark DataFrames (dict of name -> DF)."""
    out = {
        "transcripts": spark.createDataFrame(fx.transcripts, schema=TRANSCRIPT_DDL),
        "gazetteer": spark.createDataFrame(
            fx.gazetteer, schema="entity_id string, surface string, lang string, weight double"
        ),
        "id_remap": spark.createDataFrame(fx.id_remap, schema="old_id string, new_id string"),
        "cross_corpus_map": spark.createDataFrame(
            fx.cross_corpus_map, schema="k_id string, t_id string"
        ),
        "same_text_map": spark.createDataFrame(
            fx.same_text_map, schema="alias_id string, canonical_id string"
        ),
        "abstract_map": spark.createDataFrame(
            fx.abstract_map, schema="canonical_iri string, entity_ref string"
        ),
        "entity_props": spark.createDataFrame(
            fx.entity_props, schema="entity_ref string, prop string, obj string"
        ),
    }
    return out
