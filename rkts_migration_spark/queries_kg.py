"""KG-pipeline queries over the driver testdata: documents are adapted
to the transcript shape (entrydata.py), then each SQL-expressible
triple family gets a DuckDB mirror; the trie-extraction path (the one
genuinely non-SQL op) is registered rows-only, as the contract allows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from . import vocab as V
from .entrydata import TRANSCRIPTS_FROM_DOCUMENTS_SQL, transcripts_from_documents
from .fixtures import fixtures_to_spark, make_fixtures
from .materialize import conv_triples, section_triples, turn_triples
from .operators.sections import with_section_index
from .pipeline import build_triples_inmem
from .queries import register

_TR = TRANSCRIPTS_FROM_DOCUMENTS_SQL

_ESCAPED = (
    "REPLACE(REPLACE(REPLACE(REPLACE(REPLACE({c}, "
    "chr(92), chr(92)||chr(92)), '\"', chr(92)||'\"'), "
    "chr(9), chr(92)||'t'), chr(10), chr(92)||'n'), chr(13), chr(92)||'r')"
)


def _kg_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    fx = make_fixtures(seed=42, n_convs=1)  # dictionaries only; tiny
    tables = fixtures_to_spark(spark, fx)
    tables["transcripts"] = transcripts_from_documents(spark, sf_dir)
    return tables


@register("q_kg_transcripts", f"""
SELECT conv_id, turn_idx, role, text, tool, ts FROM ({_TR})
""")
def q_kg_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents->transcripts adapter itself, engine-mirrored."""
    return transcripts_from_documents(spark, sf_dir)


@register("q_kg_turn_triples", f"""
WITH t AS ({_TR}),
     iri AS (
  SELECT printf('{V.CONV}%s/turn/%04d', conv_id, turn_idx) AS turn_iri,
         '{V.CONV}' || conv_id AS conv_iri, *
  FROM t)
SELECT subj, pred, obj FROM (
  SELECT turn_iri AS subj, '{V.PRED_PART_OF}' AS pred, conv_iri AS obj FROM iri
  UNION ALL
  SELECT turn_iri, '{V.PRED_TURN_INDEX}',
         '"' || CAST(turn_idx AS VARCHAR) || '"^^<{V.XSD_INT}>' FROM iri
  UNION ALL
  SELECT turn_iri, '{V.PRED_ROLE}', '"' || role || '"@en' FROM iri
  UNION ALL
  SELECT turn_iri, '{V.PRED_USED_TOOL}', '"' || tool || '"@en'
  FROM iri WHERE tool IS NOT NULL
  UNION ALL
  SELECT turn_iri, '{V.PRED_TEXT}',
         '"' || {_ESCAPED.format(c="text")} || '"@en'
  FROM iri WHERE text NOT IN ('', '-')
) u
""")
def q_kg_turn_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turn-family triples (single-scan explode) vs a UNION ALL oracle."""
    return turn_triples(transcripts_from_documents(spark, sf_dir))


@register("q_kg_conv_triples", f"""
WITH t AS ({_TR})
SELECT '{V.CONV}' || conv_id AS subj,
       '{V.PRED_N_TURNS}' AS pred,
       '"' || CAST(COUNT(*) AS VARCHAR) || '"^^<{V.XSD_INT}>' AS obj
FROM t GROUP BY conv_id
""")
def q_kg_conv_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    return conv_triples(transcripts_from_documents(spark, sf_dir))


@register("q_kg_section_triples", f"""
WITH t AS ({_TR}),
     flagged AS (
  SELECT conv_id, turn_idx,
         CASE WHEN LAG(role) OVER w IS NULL
                OR LAG(role) OVER w <> role THEN 1 ELSE 0 END AS chg
  FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)),
     islands AS (
  SELECT conv_id, turn_idx,
         SUM(chg) OVER (PARTITION BY conv_id ORDER BY turn_idx
                        ROWS UNBOUNDED PRECEDING) AS section_idx
  FROM flagged),
     bounds AS (
  SELECT conv_id, section_idx,
         MIN(turn_idx) AS b, MAX(turn_idx) AS e
  FROM islands GROUP BY conv_id, section_idx),
     iri AS (
  SELECT conv_id, section_idx, b, e,
         printf('{V.CONV}%s/section/%s_%02d', conv_id,
                UPPER(SUBSTR(sha256(conv_id || '#' || CAST(section_idx AS VARCHAR)),
                             1, 6)),
                CAST(section_idx AS INT)) AS sec_iri
  FROM bounds)
SELECT subj, pred, obj FROM (
  SELECT '{V.CONV}' || conv_id AS subj, '{V.PRED_HAS_SECTION}' AS pred,
         sec_iri AS obj FROM iri
  UNION ALL
  SELECT sec_iri, '{V.PRED_SECTION_INDEX}',
         '"' || CAST(section_idx AS VARCHAR) || '"^^<{V.XSD_INT}>' FROM iri
  UNION ALL
  SELECT sec_iri, '{V.PRED_BEGIN_TURN}',
         printf('{V.CONV}%s/turn/%04d', conv_id, b) FROM iri
  UNION ALL
  SELECT sec_iri, '{V.PRED_END_TURN}',
         printf('{V.CONV}%s/turn/%04d', conv_id, e) FROM iri
) u
""")
def q_kg_section_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Section-island triples incl. sha256 facet IRIs, engine-mirrored
    (W2/W5 + F6 all the way through)."""
    ordered = with_section_index(transcripts_from_documents(spark, sf_dir))
    return section_triples(ordered)


def kg_triples_trie(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete pipeline (extract -> link -> canonicalize ->
    materialize) over documents-derived transcripts with the FULL
    multi-token gazetteer; the mention scan is the mapInPandas trie,
    which SQL can't express — the golden-oracle pytest gate
    (tests/test_pipeline.py) covers its semantics, and the driver's
    entry() smoke-check runs this variant. The driver-oracle row for
    the same end-to-end composition is q_kg_triples_full below."""
    return build_triples_inmem(spark, _kg_tables(spark, sf_dir))


# =====================================================================
# Single-token-gazetteer KG families: with one-word surfaces,
# leftmost-longest non-overlapping matching degenerates to word-level
# equality, so the WHOLE extract -> link -> canonicalize -> materialize
# chain is SQL-expressible. The dictionaries are deterministic fixture
# constants, so the oracle embeds them as a VALUES dim generated at
# import time from the same pure-Python logic the golden oracle uses.
# =====================================================================

def _single_token_dim() -> list[tuple[str, str, str, str, str]]:
    """(surface, entity_iri, lang, canon_id, pad) per single-token
    surface, winner = (max weight, min numeric id, min lang) — the
    exact link.surface_winners tie-break."""
    from . import oracle as O
    from . import vocab as V2

    fx = make_fixtures(seed=42, n_convs=1)
    canon = O.build_canonical_map(fx)
    abstract = O.build_abstract_lookup(fx, canon)
    by_surface: dict[str, list[dict]] = {}
    for g in fx.gazetteer:
        s = V2.norm_surface(g["surface"])
        if " " in s:
            continue
        by_surface.setdefault(s, []).append(g)
    rows = []
    for surf, cands in sorted(by_surface.items()):
        best = sorted(
            cands,
            key=lambda r: (-r["weight"], V2.id_sort_key(r["entity_id"]), r["lang"]),
        )[0]
        c = canon.get(best["entity_id"], best["entity_id"])
        iri = V2.entity_iri(c, abstract.get(c))
        rows.append((surf, iri, best["lang"], c, V2.pad_id(c)))
    return rows


_DIM_ROWS = _single_token_dim()
_DIM_SQL = "dim(w, iri, lang, canon, pad) AS (VALUES " + ", ".join(
    f"('{w}', '{iri}', '{lang}', '{c}', '{p}')"
    for w, iri, lang, c, p in _DIM_ROWS
) + ")"

_WORDS_SQL = f"""
t AS ({_TR}),
words AS (
  SELECT conv_id, turn_idx,
         unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS w,
         unnest(range(1, len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) + 1)) AS i
  FROM t WHERE text NOT IN ('', '-')),
m AS (
  SELECT conv_id, turn_idx, i, dim.iri, dim.lang, dim.canon, dim.pad, dim.w,
         ROW_NUMBER() OVER (PARTITION BY conv_id, turn_idx ORDER BY i) - 1 AS midx
  FROM words JOIN dim ON words.w = dim.w)
"""


def _kg_linked_1tok(spark: SparkSession, sf_dir: str):
    """Run the REAL pipeline stages over the single-token gazetteer."""
    from pyspark.sql import functions as F

    from .canonicalize import (
        apply_canonical,
        build_abstract_lookup,
        build_canonical_map,
    )
    from .extract import extract_mentions
    from .link import link_mentions
    from .materialize import build_entity_iri_map

    tables = _kg_tables(spark, sf_dir)
    gaz1 = tables["gazetteer"].filter(~F.trim(F.col("surface")).contains(" "))
    tr = tables["transcripts"]
    mentions = extract_mentions(tr, gaz1)
    cm = build_canonical_map(
        tables["id_remap"], tables["cross_corpus_map"], tables["same_text_map"])
    linked = link_mentions(mentions, gaz1)
    linked = apply_canonical(linked, cm, "entity_id", "canon_id")
    abstract = build_abstract_lookup(tables["abstract_map"], cm)
    iri_map = build_entity_iri_map(gaz1, cm, abstract)
    return linked, iri_map


@register("q_kg_mention_triples", f"""
WITH {_DIM_SQL},
{_WORDS_SQL}
SELECT DISTINCT printf('{V.CONV}%s/turn/%04d', conv_id, turn_idx) AS subj,
       '{V.PRED_MENTIONS}' AS pred, iri AS obj
FROM m
""")
def q_kg_mention_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mention family through the real extract/link/canonicalize ops,
    SQL-checked end-to-end (single-token gazetteer)."""
    from .materialize import mention_triples

    linked, iri_map = _kg_linked_1tok(spark, sf_dir)
    return mention_triples(linked, iri_map)


@register("q_kg_label_triples", f"""
WITH {_DIM_SQL},
{_WORDS_SQL},
winners AS (
  SELECT iri, lang, w, conv_id, turn_idx, midx,
         ROW_NUMBER() OVER (PARTITION BY canon, w
                            ORDER BY conv_id, turn_idx, midx) AS rn
  FROM m),
flagged AS (
  SELECT iri, lang, w, conv_id, turn_idx, midx,
         ROW_NUMBER() OVER (PARTITION BY iri, lang
                            ORDER BY conv_id, turn_idx, midx) AS rl
  FROM winners WHERE rn = 1)
SELECT iri AS subj,
       CASE WHEN rl = 1 THEN '{V.PRED_PREF_LABEL}'
            ELSE '{V.PRED_ALT_LABEL}' END AS pred,
       '"' || w || '"@' || lang AS obj
FROM flagged
""")
def q_kg_label_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """prefLabel/altLabel family (first-wins per normalized label,
    first-per-lang pref flag), SQL-checked (single-token gazetteer:
    norm_label(w) == w, no '-' or spaces in surfaces)."""
    from .materialize import label_triples

    linked, iri_map = _kg_linked_1tok(spark, sf_dir)
    return label_triples(linked, iri_map)


@register("q_kg_top_entity", f"""
WITH {_DIM_SQL},
{_WORDS_SQL},
cnt AS (
  SELECT conv_id, canon, pad, MIN(iri) AS iri, COUNT(*) AS c
  FROM m GROUP BY conv_id, canon, pad),
top AS (
  SELECT conv_id, iri,
         ROW_NUMBER() OVER (PARTITION BY conv_id
                            ORDER BY c DESC, pad, canon) AS rn
  FROM cnt)
SELECT '{V.CONV}' || conv_id AS subj, '{V.PRED_TOP_ENTITY}' AS pred,
       iri AS obj
FROM top WHERE rn = 1
""")
def q_kg_top_entity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """topEntity family (plain count with map-side partial aggregation,
    max count with numeric-min tie-break), SQL-checked (single-token
    gazetteer)."""
    from .materialize import top_entity_triples

    linked, iri_map = _kg_linked_1tok(spark, sf_dir)
    return top_entity_triples(linked, iri_map)


def _props_dim_sql() -> str:
    """(canon, prop, obj) VALUES for entity_props after self-ref drop
    and ref canonicalization — generated by the oracle's pure-Python
    logic (kernelxmltottl.php:40-42 self-ref parity)."""
    from . import oracle as O

    fx = make_fixtures(seed=42, n_convs=1)
    canon = O.build_canonical_map(fx)
    rows = []
    for r in fx.entity_props:
        if r["obj"] == r["entity_ref"]:
            continue
        c = canon.get(r["entity_ref"], r["entity_ref"])
        rows.append((c, r["prop"], r["obj"]))
    rows = sorted(set(rows))
    return "props(canon, prop, obj) AS (VALUES " + ", ".join(
        f"('{c}', '{p}', '{o}')" for c, p, o in rows) + ")"


@register("q_kg_entity_props", f"""
WITH {_DIM_SQL},
{_props_dim_sql()},
{_WORDS_SQL},
mentioned AS (SELECT DISTINCT canon, iri FROM m)
SELECT DISTINCT mentioned.iri AS subj,
       CASE props.prop WHEN 'ab' THEN '{V.PRED_WORK_IS_ABOUT}'
            ELSE '{V.PRED_WORK_GENRE}' END AS pred,
       (CASE props.prop WHEN 'ab' THEN '{V.TOPIC}' ELSE '{V.GENRE}' END)
         || props.obj AS obj
FROM props JOIN mentioned ON props.canon = mentioned.canon
""")
def q_kg_entity_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """workIsAbout/workGenre family for mentioned canonical entities
    (self-refs dropped, refs canonicalized, left_semi vs the mention
    stream), SQL-checked (single-token gazetteer)."""
    from pyspark.sql import functions as F

    from .canonicalize import build_canonical_map
    from .materialize import entity_prop_triples

    tables = _kg_tables(spark, sf_dir)
    linked, iri_map = _kg_linked_1tok(spark, sf_dir)
    cm = build_canonical_map(
        tables["id_remap"], tables["cross_corpus_map"], tables["same_text_map"])
    mentioned = linked.select("canon_id").distinct()
    return entity_prop_triples(tables["entity_props"], cm, iri_map, mentioned)


# =====================================================================
# Flagship with a value-hash oracle: the COMPLETE pipeline
# (extract -> link -> canonicalize -> materialize, assemble_triples'
# 7-family union) run through build_triples_inmem over the
# single-token gazetteer, so the whole composition is SQL-expressible.
# The oracle is the UNION ALL of the seven per-family oracles above
# over shared CTEs — families are pairwise predicate-disjoint, so no
# dedup across the union (mirroring assemble_triples' no-global-
# distinct contract). The multi-token trie variant stays pytest-gated
# (kg_triples_trie + golden oracle P/R=1.0).
# =====================================================================

@register("q_kg_triples_full", f"""
WITH {_DIM_SQL},
{_props_dim_sql()},
{_WORDS_SQL},
tiri AS (
  SELECT printf('{V.CONV}%s/turn/%04d', conv_id, turn_idx) AS turn_iri,
         '{V.CONV}' || conv_id AS conv_iri, *
  FROM t),
sflag AS (
  SELECT conv_id, turn_idx,
         CASE WHEN LAG(role) OVER w IS NULL
                OR LAG(role) OVER w <> role THEN 1 ELSE 0 END AS chg
  FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)),
sisl AS (
  SELECT conv_id, turn_idx,
         SUM(chg) OVER (PARTITION BY conv_id ORDER BY turn_idx
                        ROWS UNBOUNDED PRECEDING) AS section_idx
  FROM sflag),
sbnd AS (
  SELECT conv_id, section_idx,
         MIN(turn_idx) AS b, MAX(turn_idx) AS e
  FROM sisl GROUP BY conv_id, section_idx),
siri AS (
  SELECT conv_id, section_idx, b, e,
         printf('{V.CONV}%s/section/%s_%02d', conv_id,
                UPPER(SUBSTR(sha256(conv_id || '#' || CAST(section_idx AS VARCHAR)),
                             1, 6)),
                CAST(section_idx AS INT)) AS sec_iri
  FROM sbnd),
lwin AS (
  SELECT iri, lang, w, conv_id, turn_idx, midx,
         ROW_NUMBER() OVER (PARTITION BY canon, w
                            ORDER BY conv_id, turn_idx, midx) AS rn
  FROM m),
lflag AS (
  SELECT iri, lang, w, conv_id, turn_idx, midx,
         ROW_NUMBER() OVER (PARTITION BY iri, lang
                            ORDER BY conv_id, turn_idx, midx) AS rl
  FROM lwin WHERE rn = 1),
cnt AS (
  SELECT conv_id, canon, pad, MIN(iri) AS iri, COUNT(*) AS c
  FROM m GROUP BY conv_id, canon, pad),
topw AS (
  SELECT conv_id, iri,
         ROW_NUMBER() OVER (PARTITION BY conv_id
                            ORDER BY c DESC, pad, canon) AS rn
  FROM cnt),
mentioned AS (SELECT DISTINCT canon, iri FROM m)
SELECT subj, pred, obj FROM (
  SELECT turn_iri AS subj, '{V.PRED_PART_OF}' AS pred, conv_iri AS obj FROM tiri
  UNION ALL
  SELECT turn_iri, '{V.PRED_TURN_INDEX}',
         '"' || CAST(turn_idx AS VARCHAR) || '"^^<{V.XSD_INT}>' FROM tiri
  UNION ALL
  SELECT turn_iri, '{V.PRED_ROLE}', '"' || role || '"@en' FROM tiri
  UNION ALL
  SELECT turn_iri, '{V.PRED_USED_TOOL}', '"' || tool || '"@en'
  FROM tiri WHERE tool IS NOT NULL
  UNION ALL
  SELECT turn_iri, '{V.PRED_TEXT}',
         '"' || {_ESCAPED.format(c="text")} || '"@en'
  FROM tiri WHERE text NOT IN ('', '-')
  UNION ALL
  SELECT '{V.CONV}' || conv_id, '{V.PRED_N_TURNS}',
         '"' || CAST(COUNT(*) AS VARCHAR) || '"^^<{V.XSD_INT}>'
  FROM t GROUP BY conv_id
  UNION ALL
  SELECT '{V.CONV}' || conv_id, '{V.PRED_HAS_SECTION}', sec_iri FROM siri
  UNION ALL
  SELECT sec_iri, '{V.PRED_SECTION_INDEX}',
         '"' || CAST(section_idx AS VARCHAR) || '"^^<{V.XSD_INT}>' FROM siri
  UNION ALL
  SELECT sec_iri, '{V.PRED_BEGIN_TURN}',
         printf('{V.CONV}%s/turn/%04d', conv_id, b) FROM siri
  UNION ALL
  SELECT sec_iri, '{V.PRED_END_TURN}',
         printf('{V.CONV}%s/turn/%04d', conv_id, e) FROM siri
  UNION ALL
  SELECT DISTINCT printf('{V.CONV}%s/turn/%04d', conv_id, turn_idx),
         '{V.PRED_MENTIONS}', iri
  FROM m
  UNION ALL
  SELECT '{V.CONV}' || conv_id, '{V.PRED_TOP_ENTITY}', iri
  FROM topw WHERE rn = 1
  UNION ALL
  SELECT iri,
         CASE WHEN rl = 1 THEN '{V.PRED_PREF_LABEL}'
              ELSE '{V.PRED_ALT_LABEL}' END,
         '"' || w || '"@' || lang
  FROM lflag
  UNION ALL
  SELECT DISTINCT mentioned.iri,
         CASE props.prop WHEN 'ab' THEN '{V.PRED_WORK_IS_ABOUT}'
              ELSE '{V.PRED_WORK_GENRE}' END,
         (CASE props.prop WHEN 'ab' THEN '{V.TOPIC}' ELSE '{V.GENRE}' END)
           || props.obj
  FROM props JOIN mentioned ON props.canon = mentioned.canon
) u
""")
def q_kg_triples_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end pipeline with a driver value-hash oracle: the same
    build_triples_inmem composition as the flagship, run over the
    single-token gazetteer so every stage (including extraction, which
    degenerates to word-level equality) has an exact SQL mirror."""
    from pyspark.sql import functions as F

    tables = _kg_tables(spark, sf_dir)
    tables["gazetteer"] = tables["gazetteer"].filter(
        ~F.trim(F.col("surface")).contains(" "))
    return build_triples_inmem(spark, tables)


# =====================================================================
# Graph post-processing over the materialized KG (operators/graph.py):
# degree stats, k-hop neighborhoods, deterministic fixed-point
# PageRank, and the incremental batch-merge delta. Edges are the
# distinct (conversation IRI, entity IRI) mention pairs from the
# single-token pipeline, so the whole derivation is SQL-mirrorable.
# =====================================================================

_EDGES_SQL = f"""
edges AS (
  SELECT DISTINCT '{V.CONV}' || conv_id AS src, iri AS dst FROM m)
"""


def _kg_mention_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct conv->entity mention edges through the real stages;
    distinct runs on narrow native keys before IRI rendering (same
    rationale as materialize.mention_triples)."""
    from pyspark.sql import functions as F

    linked, iri_map = _kg_linked_1tok(spark, sf_dir)
    keys = linked.select("conv_id", "canon_id").distinct()
    return keys.join(F.broadcast(iri_map), "canon_id").select(
        F.concat(F.lit(V.CONV), F.col("conv_id")).alias("src"),
        F.col("entity_iri").alias("dst"),
    )


_KHOP_VISITED = "SELECT node FROM h0 UNION ALL SELECT node FROM h1"


def _PR_ITER_SQL(prev: str, out: str) -> str:
    """One exact-integer PageRank step (mirrors
    operators/graph.pagerank_fixed_point; DIV == // for positives)."""
    return f"""
c{out} AS (
  SELECT sym.b AS node, CAST(SUM({prev}.rank_u // deg.deg) AS BIGINT) AS contrib
  FROM sym JOIN {prev} ON {prev}.node = sym.a JOIN deg ON deg.node = sym.a
  GROUP BY sym.b),
{out} AS (
  SELECT nodes.node,
         CAST((SELECT base FROM params)
              + (17 * COALESCE(c{out}.contrib, 0)) // 20 AS BIGINT) AS rank_u
  FROM nodes LEFT JOIN c{out} ON c{out}.node = nodes.node)"""


@register("q_kg_graph_metrics", f"""
WITH {_DIM_SQL},
{_WORDS_SQL},
{_EDGES_SQL},
tagged AS (
  SELECT src AS node, 1 AS o, 0 AS i FROM edges
  UNION ALL
  SELECT dst AS node, 0 AS o, 1 AS i FROM edges),
deg_io AS (
  SELECT node, CAST(SUM(o) AS BIGINT) AS out_deg,
         CAST(SUM(i) AS BIGINT) AS in_deg
  FROM tagged GROUP BY node),
sym AS (SELECT src AS a, dst AS b FROM edges
        UNION SELECT dst, src FROM edges),
nodes AS (SELECT DISTINCT a AS node FROM sym),
deg AS (SELECT a AS node, COUNT(*) AS deg FROM sym GROUP BY a),
params AS (
  SELECT n, init_u, ((20 - 17) * init_u) // 20 AS base FROM (
    SELECT COUNT(*) AS n, 1000000000000 // COUNT(*) AS init_u FROM nodes) p),
r0 AS (SELECT node, CAST((SELECT init_u FROM params) AS BIGINT) AS rank_u
       FROM nodes),
{_PR_ITER_SQL("r0", "r1")},
{_PR_ITER_SQL("r1", "r2")},
{_PR_ITER_SQL("r2", "r3")},
h0 AS (SELECT MIN(dst) AS node, 0 AS hop FROM edges),
h1 AS (SELECT DISTINCT b AS node, 1 AS hop FROM sym JOIN h0 ON sym.a = h0.node
       WHERE b NOT IN (SELECT node FROM h0)),
h2 AS (SELECT DISTINCT b AS node, 2 AS hop FROM sym JOIN h1 ON sym.a = h1.node
       WHERE b NOT IN ({_KHOP_VISITED})),
h3 AS (SELECT DISTINCT b AS node, 3 AS hop FROM sym JOIN h2 ON sym.a = h2.node
       WHERE b NOT IN ({_KHOP_VISITED} UNION ALL SELECT node FROM h2)),
khop AS (
  SELECT * FROM h0 UNION ALL SELECT * FROM h1
  UNION ALL SELECT * FROM h2 UNION ALL SELECT * FROM h3)
SELECT d.node, d.out_deg, d.in_deg, r3.rank_u, CAST(k.hop AS INTEGER) AS hop
FROM deg_io d
JOIN r3 ON r3.node = d.node
LEFT JOIN khop k ON k.node = d.node
""")
def q_kg_graph_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three graph post-passes (operators/graph.py) in one
    node-level result over the mention graph: in/out degree (hub-safe
    union + partially-aggregating groupBy), 3-iteration PageRank in
    BIGINT micro-units (all-integer arithmetic — rank scaled 1e12,
    damping 17/20, floor division — so ranks are bit-identical at
    every parallelism level and in the oracle; float PageRank would
    drift with partition-dependent summation order), and the 3-hop
    BFS neighborhood of the lexicographic-min entity node (hop = min
    distance, null outside the neighborhood). The mention pipeline
    feeding all three is localCheckpoint-ed so extract→link→distinct
    runs once, not three times; degree and PageRank then join on node
    (both cover exactly src ∪ dst) with the BFS left-joined on top."""
    from pyspark.sql import functions as F

    from .operators.graph import degree_stats, k_hop, pagerank_fixed_point

    edges = _kg_mention_edges(spark, sf_dir).localCheckpoint()
    deg = degree_stats(edges)
    pr = pagerank_fixed_point(edges, iterations=3)
    seeds = edges.agg(F.min("dst").alias("node"))
    kh = k_hop(edges, seeds, k=3).select(
        "node", F.col("hop").cast("int").alias("hop"))
    return deg.join(pr, "node").join(kh, "node", "left")


_BATCH_A = "substr(md5(conv_id), 1, 1) IN ('0','1','2','3','4','5','6','7')"


def _TURN_TRIPLES_OVER(src_cte: str) -> str:
    return f"""
SELECT subj, pred, obj FROM (
  SELECT printf('{V.CONV}%s/turn/%04d', conv_id, turn_idx) AS subj,
         '{V.PRED_PART_OF}' AS pred, '{V.CONV}' || conv_id AS obj
  FROM {src_cte}
  UNION ALL
  SELECT printf('{V.CONV}%s/turn/%04d', conv_id, turn_idx),
         '{V.PRED_TURN_INDEX}',
         '"' || CAST(turn_idx AS VARCHAR) || '"^^<{V.XSD_INT}>' FROM {src_cte}
  UNION ALL
  SELECT printf('{V.CONV}%s/turn/%04d', conv_id, turn_idx),
         '{V.PRED_ROLE}', '"' || role || '"@en' FROM {src_cte}
  UNION ALL
  SELECT printf('{V.CONV}%s/turn/%04d', conv_id, turn_idx),
         '{V.PRED_USED_TOOL}', '"' || tool || '"@en'
  FROM {src_cte} WHERE tool IS NOT NULL
  UNION ALL
  SELECT printf('{V.CONV}%s/turn/%04d', conv_id, turn_idx),
         '{V.PRED_TEXT}', '"' || {_ESCAPED.format(c="text")} || '"@en'
  FROM {src_cte} WHERE text NOT IN ('', '-')
) u"""


@register("q_triples_merge", f"""
WITH t AS ({_TR}),
a AS (SELECT * FROM t WHERE {_BATCH_A})
{_TURN_TRIPLES_OVER("t")}
EXCEPT
{_TURN_TRIPLES_OVER("a")}
""")
def q_triples_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest delta: rebuild candidate triples over the
    full corpus, anti-join the already-committed batch (convs whose
    md5 starts 0-7) — the batch-merge primitive for continuous KG
    construction (operators/graph.merge_triples); idempotent on
    re-delivered batches."""
    from pyspark.sql import functions as F

    from .operators.graph import merge_triples

    tr = transcripts_from_documents(spark, sf_dir)
    batch_a = tr.filter(
        F.substring(F.md5("conv_id"), 1, 1).isin(list("01234567")))
    return merge_triples(turn_triples(batch_a), turn_triples(tr))
