"""The triple-emission contract shared by the Spark pipeline and the
single-node golden oracle.

Both implementations must emit exactly the triple families documented
here; the oracle is a deliberately simple pure-Python implementation
(oracle.py) and the pipeline is the distributed one — P/R >= 0.95 on
``(subj, pred, obj)`` is the correctness gate (BASELINE.md).

IRI scheme mirrors the reference's deterministic minting:
- zero-padded entity locals      ~ id_to_str   (/root/reference/utils.php:26-37)
- sha256 facet (section) nodes   ~ bnode_url   (/root/reference/utils.php:7-15)
- abstract-work override IRIs    ~ abstract map (/root/reference/utils.php:68-97)
"""

from __future__ import annotations

NS = "http://example.org/kg/"
ENTITY = NS + "entity/"
ABSTRACT = NS + "abstract/"
CONV = NS + "conv/"
TOPIC = NS + "topic/"
GENRE = NS + "genre/"

XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"

PRED_PART_OF = NS + "partOf"
PRED_TURN_INDEX = NS + "turnIndex"
PRED_ROLE = NS + "role"
PRED_USED_TOOL = NS + "usedTool"
PRED_TEXT = NS + "text"
PRED_MENTIONS = NS + "mentions"
PRED_PREF_LABEL = NS + "prefLabel"
PRED_ALT_LABEL = NS + "altLabel"
PRED_HAS_SECTION = NS + "hasSection"
PRED_SECTION_INDEX = NS + "sectionIndex"
PRED_BEGIN_TURN = NS + "beginTurn"
PRED_END_TURN = NS + "endTurn"
PRED_N_TURNS = NS + "nTurns"
PRED_TOP_ENTITY = NS + "topEntity"
PRED_WORK_IS_ABOUT = NS + "workIsAbout"
PRED_WORK_GENRE = NS + "workGenre"

# Placeholder text values: turns with these get structure triples but no
# mention scan (analog of editionxmltottl.php:33-34 placeholder ids).
PLACEHOLDERS = ("", "-")

# --- Triple families (the contract) ----------------------------------------
#
# Per turn t of conversation c (ALL turns):
#   (turn_iri, partOf,    conv_iri)
#   (turn_iri, turnIndex, int_lit(turn_idx))
#   (turn_iri, role,      str_lit(role, "en"))
#   (turn_iri, usedTool,  str_lit(tool, "en"))         when tool is not null
#   (turn_iri, text,      str_lit(text, "en"))         when text non-placeholder
#
# Per conversation c:
#   (conv_iri, nTurns,    int_lit(n_turns))
#   (conv_iri, topEntity, entity_iri)  entity with max mention count in c,
#                                      ties -> numeric-min canonical id
#
# Per section island s (maximal run of equal role, 1-based ordinal k):
#   (conv_iri, hasSection,   sec_iri)
#   (sec_iri,  sectionIndex, int_lit(k))
#   (sec_iri,  beginTurn,    turn_iri(first turn of island))
#   (sec_iri,  endTurn,      turn_iri(last turn of island))
#
# Per mention m (leftmost-longest, non-overlapping, token-boundary,
# case-insensitive match of a gazetteer surface in a non-placeholder turn;
# winner among ambiguous candidates = max weight then min entity id;
# entity id canonicalized via connected components over the union of
# same_text / cross_corpus / id_remap edges, representative = min id):
#   (turn_iri, mentions, entity_iri(canon))            distinct per (turn, entity)
#
# Per canonical entity e with >=1 mention:
#   (entity_iri, prefLabel, str_lit(first matched text, lang))
#       first = minimal (conv_id, turn_idx, begin) across the corpus,
#       one per (entity, lang); dedup key = normalized label
#       (lowercase, strip spaces and '-'; kernelxmltottl.php:208-211)
#   (entity_iri, altLabel, str_lit(later distinct labels, lang))
#   (entity_iri, workIsAbout/workGenre, topic/genre IRI)
#       from entity_props via canonicalized entity_ref; prop 'ab' ->
#       workIsAbout, 'ge' -> workGenre; rows with obj == entity_ref
#       dropped (kernelxmltottl.php:40-42)


def pad_id(raw: str) -> str:
    """Zero-pad the leading integer of an id to 4 digits, keep suffix.

    Parity with id_to_str (/root/reference/utils.php:26-37):
    "E12" -> "E0012", "12a" -> "0012a". Prefix letters before the first
    digit are preserved.
    """
    i = 0
    while i < len(raw) and not raw[i].isdigit():
        i += 1
    j = i
    while j < len(raw) and raw[j].isdigit():
        j += 1
    if i == j:  # no digits
        return raw
    return raw[:i] + raw[i:j].zfill(4) + raw[j:]


def conv_iri(conv_id: str) -> str:
    return CONV + conv_id


def turn_iri(conv_id: str, turn_idx: int) -> str:
    return f"{CONV}{conv_id}/turn/{turn_idx:04d}"


def section_iri(conv_id: str, k: int) -> str:
    """Deterministic facet-node IRI (bnode_url parity, utils.php:7-15):
    sha256 of "<conv>#<k>", first 6 hex chars uppercased, '_' + %02d."""
    import hashlib

    h = hashlib.sha256(f"{conv_id}#{k}".encode("utf-8")).hexdigest()[:6].upper()
    return f"{CONV}{conv_id}/section/{h}_{k:02d}"


def entity_iri(canonical_id: str, abstract: str | None) -> str:
    """Abstract-map override else template-minted zero-padded IRI
    (utils.php:68-97)."""
    if abstract:
        return ABSTRACT + abstract
    return ENTITY + pad_id(canonical_id)


def nt_escape(s: str) -> str:
    """Byte-precise N-Triples literal escaping.

    Parity with /root/reference/Nquads.php:97-124: backslash, quote,
    \\t \\n \\r escaped; other control chars (< 0x20) as \\uXXXX.
    """
    out = []
    for ch in s:
        o = ord(ch)
        if ch == "\\":
            out.append("\\\\")
        elif ch == '"':
            out.append('\\"')
        elif ch == "\n":
            out.append("\\n")
        elif ch == "\r":
            out.append("\\r")
        elif ch == "\t":
            out.append("\\t")
        elif o < 0x20:
            out.append(f"\\u{o:04X}")
        else:
            out.append(ch)
    return "".join(out)


def str_lit(value: str, lang: str = "en") -> str:
    return f'"{nt_escape(value)}"@{lang}'


def int_lit(value: int) -> str:
    return f'"{value}"^^<{XSD_INT}>'


def norm_surface(s: str) -> str:
    """Match-key normalization: lowercase + collapse whitespace."""
    return " ".join(s.lower().split())


def norm_label(s: str) -> str:
    """Label-dedup normalization (kernelxmltottl.php:208-211 parity):
    lowercase, strip spaces and hyphens."""
    return s.lower().replace(" ", "").replace("-", "")


def id_sort_key(eid: str):
    """Order E2 < E10 (numeric-aware), deterministic across engines."""
    return (len(pad_id(eid)), pad_id(eid))
