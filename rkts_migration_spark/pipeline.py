"""The extract -> link -> canonicalize -> materialize pipeline (SURVEY.md
§7 stage design), composed once as the ordered stages

  ordered    transcripts + section islands (one conv-partitioned shuffle)
  mentions   gazetteer matching (extract.py)
  linked     surface winners + canonical ids (one broadcast join)
  triples    full (subj, pred, obj) assembly (materialize.py)

each built from the ones before it and passed through a boundary, the
one thing the two forms differ in:

- build_triples_inmem persists: ``ordered`` and ``linked``, which feed
  several later stages or triple families, are cached and materialized,
  and attached to the returned triples for the caller to release.
- run_pipeline commits: each stage is written as a stage table plus
  manifest (sources/tables.py), and later stages read the committed
  table back, schema known, with no Spark job. A re-run with the same
  root and ``resume=True`` reads every stage whose manifest says
  complete instead of building it, so a job killed between stages
  restarts to the identical triple set.

The dictionary-sized tables — canonical map, normalized surfaces,
canonicalized surface winners, minted entity IRIs — are built on one
background thread overlapped with the ``ordered`` boundary, as
JVM-local relations (``createDataFrame`` of an Arrow table, planned as
``LocalRelation``). Every join with them is a forced broadcast, so they
are bounded by driver memory already; local, they run no dictionary
job inside a per-row stage and fork no Python worker. The same build
makes the trie path's surface broadcast. A stream, whose dictionary
tables never change, hands every micro-batch one ``dictionaries_once``
build: the first batch runs it, the rest reuse it, broadcast included.
"""

from __future__ import annotations

import functools
import uuid
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark import Broadcast
from pyspark.sql import DataFrame, SparkSession

from .canonicalize import build_abstract_lookup, build_canonical_map
from .extract import _normalized_surfaces, extract_mentions, surfaces_broadcast
from .link import canonical_winners, link_and_canonicalize
from .materialize import assemble_triples, build_entity_iri_map
from .operators.caching import attach_cached_deps
from .operators.sections import with_section_index
from .sources.tables import read_stage, stage_is_complete, write_stage

STAGES = ("ordered", "mentions", "linked", "triples")

# stages read by more than one later stage or triple family: the
# in-memory boundary caches these, so that no consumer re-runs them
REUSED = ("ordered", "linked")

@dataclass(frozen=True)
class _Dictionaries:
    surfaces: list[str]
    surfaces_bc: Broadcast | None  # the trie path's; None on the regex path
    canonical_map: DataFrame
    winners: DataFrame
    entity_iri_map: DataFrame


def _local(df: DataFrame) -> DataFrame:
    """The rows of a dictionary-sized frame as a JVM-local relation."""
    return df.sparkSession.createDataFrame(df.toArrow())


def _build_dictionaries(tables: dict[str, DataFrame]) -> _Dictionaries:
    """Serial driver work (collects, union-find, Arrow round trips) whose
    wall is the same at every cluster size: run it off the critical path."""
    canonical_map = build_canonical_map(
        tables["id_remap"], tables["cross_corpus_map"], tables["same_text_map"]
    )
    abstract_lookup = build_abstract_lookup(tables["abstract_map"], canonical_map)
    surfaces = _normalized_surfaces(tables["gazetteer"])
    return _Dictionaries(
        surfaces=surfaces,
        surfaces_bc=surfaces_broadcast(tables["gazetteer"].sparkSession, surfaces),
        canonical_map=canonical_map,
        winners=_local(canonical_winners(tables["gazetteer"], canonical_map)),
        entity_iri_map=_local(build_entity_iri_map(
            tables["gazetteer"], canonical_map, abstract_lookup
        )),
    )


def dictionaries_once(
    tables: dict[str, DataFrame],
) -> Callable[[], _Dictionaries]:
    """A build of the dictionary tables that runs on its first call and
    returns that result on every later one: pass it as
    ``build_triples_inmem(..., dictionaries=)`` to runs whose dictionary
    tables are the same, such as the micro-batches of one stream."""
    return functools.cache(functools.partial(_build_dictionaries, tables))


def _compose(
    tables: dict[str, DataFrame],
    boundary: Callable[[str, Callable[[], DataFrame]], DataFrame],
    stop_after: str | None = None,
    dictionaries: Callable[[], _Dictionaries] | None = None,
) -> DataFrame:
    """Run the stages in order; ``boundary(stage, build)`` returns the
    frame later stages read. Returns the last stage run (``stop_after``,
    else ``triples``). ``tables`` needs: transcripts, gazetteer,
    id_remap, cross_corpus_map, same_text_map, abstract_map,
    entity_props. ``dictionaries`` builds (or returns) the dictionary
    tables, on the background thread; default: built from ``tables``."""
    done: dict[str, DataFrame] = {}
    with ThreadPoolExecutor(1) as pool:
        pending = pool.submit(
            dictionaries or functools.partial(_build_dictionaries, tables))
        builds = {
            "ordered": lambda: with_section_index(tables["transcripts"]),
            "mentions": lambda: extract_mentions(
                done["ordered"], tables["gazetteer"], pending.result().surfaces,
                pending.result().surfaces_bc,
            ),
            "linked": lambda: link_and_canonicalize(
                done["mentions"], pending.result().winners
            ),
            "triples": lambda: assemble_triples(
                done["ordered"], done["linked"], pending.result().canonical_map,
                pending.result().entity_iri_map, tables["entity_props"],
            ),
        }
        for stage in STAGES:
            done[stage] = boundary(stage, builds[stage])
            if stage == stop_after:
                break
        pending.result()  # raises a failure even when no stage needed it
    return done[stage]


def build_triples_inmem(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    dictionaries: Callable[[], _Dictionaries] | None = None,
) -> DataFrame:
    """The pipeline with no checkpoint IO (driver contract, bench and
    streaming; production runs use run_pipeline for resumability).

    REUSED stages are materialized eagerly: the triple families are
    plan branches that AQE submits CONCURRENTLY; left lazy, their tasks
    race to build the same cache partitions and block on the cache lock
    while holding task slots (observed: 4 duplicate 64-task stages
    spanning the whole extraction phase). The caches are attached to
    the returned triples (operators/caching.attach_cached_deps): the
    caller releases them with release_cached_deps after its last action
    on the triples. When a later stage raises, they are released here.
    ``dictionaries``: see _compose and dictionaries_once."""
    held: list[DataFrame] = []

    def persist(stage: str, build: Callable[[], DataFrame]) -> DataFrame:
        df = build()
        if stage in REUSED:
            held.append(df.persist())
            df.count()
        return df

    try:
        return attach_cached_deps(
            _compose(tables, persist, dictionaries=dictionaries), held)
    except BaseException:
        for df in held:
            df.unpersist()
        raise


@dataclass
class RunResult:
    run_id: str
    triples: DataFrame
    manifests: dict[str, dict] = field(default_factory=dict)


def run_pipeline(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    checkpoint_root: str,
    run_id: str | None = None,
    resume: bool = True,
    stop_after: str | None = None,
) -> RunResult:
    """Run (or resume) the full pipeline; returns the triples DataFrame
    and the manifests of the stages this run committed.

    ``stop_after`` lets tests kill the run at a stage boundary.
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    manifests: dict[str, dict] = {}

    def commit(stage: str, build: Callable[[], DataFrame]) -> DataFrame:
        if not (resume and stage_is_complete(checkpoint_root, stage)):
            manifests[stage] = write_stage(
                build(), checkpoint_root, stage, run_id
            )
        return read_stage(spark, checkpoint_root, stage)

    out = _compose(tables, commit, stop_after)
    return RunResult(run_id, out, manifests)
