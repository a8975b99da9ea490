"""End-to-end gate: the distributed pipeline's (subj, pred, obj) set
must match the single-node golden oracle at P/R >= 0.95 (BASELINE.md;
we assert exact equality), survive kill-and-resume, and be invariant
to input partitioning (the order-sensitivity hazard SURVEY.md §4.3)."""

from __future__ import annotations

import json
import os
import shutil
from collections import Counter

import pytest
from pyspark.sql import functions as F

from rkts_migration_spark import pipeline
from rkts_migration_spark.fixtures import fixtures_to_spark, make_fixtures
from rkts_migration_spark.oracle import precision_recall, run_oracle
from rkts_migration_spark.pipeline import STAGES, run_pipeline
from rkts_migration_spark.sources.tables import (
    MANIFEST,
    read_stage,
    stage_manifest,
    write_stage,
)


@pytest.fixture(scope="module")
def fx():
    return make_fixtures(seed=42, n_convs=80)


@pytest.fixture(scope="module")
def oracle_triples(fx):
    return run_oracle(fx)


def _collect_triples(df) -> set[tuple[str, str, str]]:
    return {(r["subj"], r["pred"], r["obj"]) for r in df.collect()}


def test_pipeline_matches_oracle(spark, fx, oracle_triples, tmpdir_ckpt):
    tables = fixtures_to_spark(spark, fx)
    res = run_pipeline(spark, tables, tmpdir_ckpt, run_id="t1", resume=False)
    rows = res.triples.collect()
    got = {(r["subj"], r["pred"], r["obj"]) for r in rows}
    # assemble_triples emits NO global distinct — prove it never needs
    # one: every family must be internally unique and pairwise disjoint
    assert len(rows) == len(got), f"{len(rows) - len(got)} duplicate triples"
    p, r = precision_recall(got, oracle_triples)
    extra = sorted(got - oracle_triples)[:5]
    missing = sorted(oracle_triples - got)[:5]
    assert p == 1.0 and r == 1.0, (p, r, extra, missing)
    # lineage: per-partition rows sum to stage totals; lineage lives in
    # the manifest only, never as a column of the stored table
    for stage in STAGES:
        m = stage_manifest(tmpdir_ckpt, stage)
        assert m and m["complete"]
        assert sum(x["rows"] for x in m["partitions"]) == m["rows"]
        stored = spark.read.parquet(os.path.join(tmpdir_ckpt, stage))
        assert "_part_id" not in stored.columns
        assert stored.count() == m["rows"]


@pytest.mark.parametrize("stop_after", ["ordered", "mentions", "linked"])
def test_resume_reproduces_triples(
    spark, fx, oracle_triples, tmpdir_ckpt, stop_after
):
    tables = fixtures_to_spark(spark, fx)
    rest = STAGES[STAGES.index(stop_after) + 1:]
    # run 1: killed after ``stop_after``
    run_pipeline(spark, tables, tmpdir_ckpt, run_id="a", stop_after=stop_after)
    assert stage_manifest(tmpdir_ckpt, stop_after)["run_id"] == "a"
    assert all(stage_manifest(tmpdir_ckpt, st) is None for st in rest)
    # run 2: resumes — completed stages are NOT recomputed
    res = run_pipeline(spark, tables, tmpdir_ckpt, run_id="b", resume=True)
    assert set(res.manifests) == set(rest)
    assert stage_manifest(tmpdir_ckpt, stop_after)["run_id"] == "a"  # kept
    assert stage_manifest(tmpdir_ckpt, "triples")["run_id"] == "b"
    got = _collect_triples(res.triples)
    p, r = precision_recall(got, oracle_triples)
    assert p == 1.0 and r == 1.0


def test_resume_from_checkpoint_without_schema(
    spark, fx, oracle_triples, tmpdir_ckpt
):
    """Checkpoints committed before manifests recorded the schema stored
    a _part_id lineage column in every table. Their stages do not read
    as complete: a resumed run rebuilds every stage, to the same
    triples."""
    tables = fixtures_to_spark(spark, fx)
    run_pipeline(spark, tables, tmpdir_ckpt, run_id="a", stop_after="linked")
    for stage in ("ordered", "mentions", "linked"):
        path = os.path.join(tmpdir_ckpt, stage)
        manifest = stage_manifest(tmpdir_ckpt, stage)
        del manifest["schema"]
        (spark.read.parquet(path)
         .withColumn("_part_id", F.spark_partition_id())
         .write.parquet(path + "_old"))
        shutil.rmtree(path)
        os.replace(path + "_old", path)
        with open(os.path.join(path, MANIFEST), "w") as f:
            json.dump(manifest, f)
    res = run_pipeline(spark, tables, tmpdir_ckpt, run_id="b", resume=True)
    assert set(res.manifests) == set(STAGES)
    assert "_part_id" not in res.triples.columns
    got = _collect_triples(res.triples)
    p, r = precision_recall(got, oracle_triples)
    assert p == 1.0 and r == 1.0


def test_read_stage_submits_no_job(spark, tmpdir_ckpt):
    """A committed stage opens with the schema its manifest records:
    no schema-inference job, no lineage job."""
    df = spark.range(0, 100).selectExpr("id", "array(cast(id as string)) as s")
    write_stage(df, tmpdir_ckpt, "stg", run_id="r1")
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    got = read_stage(spark, tmpdir_ckpt, "stg")
    assert set(tracker.getJobIdsForGroup(None)) == before
    assert got.schema.simpleString() == "struct<id:bigint,s:array<string>>"
    assert got.count() == 100


def test_partitioning_invariance(
    spark, fx, oracle_triples, tmpdir_ckpt, monkeypatch
):
    """Repartitioning the input arbitrarily must not change one triple:
    every order-sensitive op keys on (conv_id, turn_idx), not physical
    order."""
    tables = fixtures_to_spark(spark, fx)
    tables["transcripts"] = tables["transcripts"].repartition(13)
    written = {}

    def capture(df, root, stage, *a, **k):
        written[stage] = df
        return write_stage(df, root, stage, *a, **k)

    monkeypatch.setattr(pipeline, "write_stage", capture)
    res = run_pipeline(spark, tables, tmpdir_ckpt, run_id="p", resume=False)
    got = _collect_triples(res.triples)
    p, r = precision_recall(got, oracle_triples)
    assert p == 1.0 and r == 1.0
    # footer lineage: rows per write partition, as the frame itself counts
    # them (every column stays live, so that column pruning leaves the
    # plan, and with it the partitioning, as written)
    assert set(written) == set(STAGES)
    for stage, df in written.items():
        per_part = Counter(
            row["_p"] for row in
            df.withColumn("_p", F.spark_partition_id()).collect()
        )
        lineage = stage_manifest(tmpdir_ckpt, stage)["partitions"]
        assert {x["partition_id"]: x["rows"] for x in lineage} == per_part, (
            stage)


def test_pipeline_matches_oracle_second_seed(spark, tmpdir_ckpt):
    """Guard against seed-overfitting: a different RNG seed and scale
    must also match the golden oracle exactly."""
    fx2 = make_fixtures(seed=7, n_convs=40)
    tables = fixtures_to_spark(spark, fx2)
    res = run_pipeline(spark, tables, tmpdir_ckpt, run_id="s7", resume=False)
    got = _collect_triples(res.triples)
    p, r = precision_recall(got, run_oracle(fx2))
    assert p == 1.0 and r == 1.0


def test_flagship_documents_path_matches_oracle(spark):
    """The driver-contract flagship (documents.parquet adapted to the
    transcript shape, full multi-token-gazetteer pipeline) is rows-only
    in the SQL contract — gate it here against the golden oracle by
    feeding the SAME adapted rows to both sides."""
    from rkts_migration_spark.entrydata import transcripts_from_documents
    from rkts_migration_spark.fixtures import fixtures_to_spark, make_fixtures
    from rkts_migration_spark.pipeline import build_triples_inmem

    fx = make_fixtures(seed=42, n_convs=1)  # dictionaries only
    tr = transcripts_from_documents(spark, "/root/testdata/sf0.001")
    rows = [r.asDict() for r in tr.collect()]
    fx.transcripts = rows

    tables = fixtures_to_spark(spark, fx)
    got = _collect_triples(build_triples_inmem(spark, tables))
    p, r = precision_recall(got, run_oracle(fx))
    assert p == 1.0 and r == 1.0 and len(got) > 1000


def test_top_entity_planted_skew_matches_oracle(spark):
    """One conversation holds >= 30% of all mentions, split evenly
    between E2 and E10: the topEntity rows (the only family with that
    predicate) must equal the oracle's, the hot conversation's tie
    broken by numeric-min id — E2, where a string min picks E10."""
    from datetime import datetime, timedelta

    from rkts_migration_spark import vocab as V
    from rkts_migration_spark.oracle import _compile_surface_regex, detect_mentions
    from rkts_migration_spark.operators.caching import release_cached_deps
    from rkts_migration_spark.pipeline import build_triples_inmem

    fx = make_fixtures(seed=42, n_convs=20)
    hot = "C999999"
    fx.transcripts += [
        {"conv_id": hot, "turn_idx": i, "role": "user",
         "text": "spark sql and table scan",  # E2's and E10's surfaces
         "tool": None, "ts": datetime(2026, 1, 1) + timedelta(minutes=i)}
        for i in range(300)
    ]
    rx = _compile_surface_regex([g["surface"] for g in fx.gazetteer])
    per_conv = Counter()
    for t in fx.transcripts:
        if t["text"] not in V.PLACEHOLDERS:
            per_conv[t["conv_id"]] += len(detect_mentions(t["text"], rx))
    assert per_conv[hot] >= 0.3 * sum(per_conv.values())

    def top_entity(triples):
        return {t for t in triples if t[1] == V.PRED_TOP_ENTITY}

    want = top_entity(run_oracle(fx))
    assert (V.conv_iri(hot), V.PRED_TOP_ENTITY, V.entity_iri("E2", None)) in want
    triples = build_triples_inmem(spark, fixtures_to_spark(spark, fx))
    try:
        assert top_entity(_collect_triples(triples)) == want
    finally:
        release_cached_deps(triples)


def test_pipeline_trie_path_matches_oracle(spark, fx, oracle_triples, monkeypatch):
    """Force the mapInPandas Aho-Corasick path (the north-star scale
    strategy) through the FULL pipeline: with the regex threshold at 0
    every extraction goes through the Arrow trie, and the triple set
    must still match the oracle exactly."""
    from rkts_migration_spark import extract
    from rkts_migration_spark.pipeline import build_triples_inmem

    monkeypatch.setattr(extract, "REGEX_MAX_SURFACES", 0)
    tables = fixtures_to_spark(spark, fx)
    got = _collect_triples(build_triples_inmem(spark, tables))
    p, r = precision_recall(got, oracle_triples)
    assert p == 1.0 and r == 1.0


def test_inmem_background_dimension_error_propagates(spark, fx, monkeypatch):
    """build_triples_inmem runs the dimension work (gazetteer collect,
    union-find) on a background thread overlapped with the ordered
    cache build; a failure there must surface as the original loud
    error at the call site, not a hang or a downstream symptom. Pin it
    with the gazetteer-cap guard raised from the background thread."""
    import pytest as _pytest

    from rkts_migration_spark import extract
    from rkts_migration_spark.pipeline import build_triples_inmem

    monkeypatch.setattr(extract, "MAX_GAZETTEER_SURFACES", 2)
    tables = fixtures_to_spark(spark, fx)

    def persisted() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    before = persisted()
    with _pytest.raises(ValueError, match="distributed strategy"):
        build_triples_inmem(spark, tables)
    # the ordered cache built before the raise is released
    assert persisted() == before


def test_ckpt_background_dimension_error_propagates(
    spark, fx, oracle_triples, tmpdir_ckpt, monkeypatch
):
    """The checkpointed twin: the dictionary thread's error surfaces at
    the call site, and a re-run with the cap restored resumes to the
    oracle triples."""
    from rkts_migration_spark import extract

    cap = extract.MAX_GAZETTEER_SURFACES
    monkeypatch.setattr(extract, "MAX_GAZETTEER_SURFACES", 2)
    tables = fixtures_to_spark(spark, fx)
    with pytest.raises(ValueError, match="distributed strategy"):
        run_pipeline(spark, tables, tmpdir_ckpt, run_id="a")
    monkeypatch.setattr(extract, "MAX_GAZETTEER_SURFACES", cap)
    res = run_pipeline(spark, tables, tmpdir_ckpt, run_id="b", resume=True)
    got = _collect_triples(res.triples)
    p, r = precision_recall(got, oracle_triples)
    assert p == 1.0 and r == 1.0


def _leaf_classes(df) -> set[str]:
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    return {leaves.apply(i).getClass().getSimpleName()
            for i in range(leaves.length())}


@pytest.mark.parametrize("form", ["inmem", "ckpt"])
def test_dictionary_tables_are_local_relations(
    spark, fx, tmpdir_ckpt, monkeypatch, form
):
    """The dictionary tables the per-row stages join are JVM-local: no
    LogicalRDD leaf (a Python RDD, whose every broadcast job forks
    Python workers) in the plans of ``linked`` or of the triples frame,
    in either form. Inputs are read from parquet so that no fixture
    table is a Python RDD of its own."""
    tables = {}
    for name, df in fixtures_to_spark(spark, fx).items():
        df.write.parquet(os.path.join(tmpdir_ckpt, "in", name))
        tables[name] = spark.read.parquet(os.path.join(tmpdir_ckpt, "in", name))
    built = {}

    def capture(name):
        fn = getattr(pipeline, name)

        def wrapped(*a, **k):
            built[name] = fn(*a, **k)
            return built[name]

        monkeypatch.setattr(pipeline, name, wrapped)

    capture("link_and_canonicalize")
    capture("assemble_triples")
    if form == "inmem":
        pipeline.build_triples_inmem(spark, tables)
    else:
        run_pipeline(spark, tables, os.path.join(tmpdir_ckpt, "ckpt"))
    assert set(built) == {"link_and_canonicalize", "assemble_triples"}
    for name, df in built.items():
        assert "LogicalRDD" not in _leaf_classes(df), name
    canonical_map = pipeline.build_canonical_map(
        tables["id_remap"], tables["cross_corpus_map"], tables["same_text_map"]
    )
    assert canonical_map.schema.simpleString() == (
        "struct<entity_id:string,canon_id:string>")
    assert _leaf_classes(canonical_map) == {"LocalRelation"}
    spark.catalog.clearCache()
