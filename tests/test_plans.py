"""Plan-quality guardrails: pushdown reaches the scan, dimension joins
broadcast, the ordered stage's windows share one exchange. These are
the properties that decide 100x scale-up survival — asserted, not
eyeballed."""

from __future__ import annotations

from pyspark.sql import functions as F

from rkts_migration_spark.operators.sections import with_section_index
from rkts_migration_spark.plans import (
    count_exchanges,
    has_broadcast_join,
    physical_plan,
    pushed_filters,
)

SF = "/root/testdata/sf0.001"


def test_filter_pushdown_reaches_scan(spark):
    from rkts_migration_spark.queries import q_agg_pushdown

    df = q_agg_pushdown(spark, SF)
    pushed = pushed_filters(df)
    assert any("l_shipdate" in p for p in pushed), pushed


def test_projection_pruned_to_read_schema(spark):
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .select("l_orderkey", "l_quantity")
    )
    plan = physical_plan(df)
    assert "ReadSchema" in plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_extendedprice" not in read_schema  # pruned
    assert "l_orderkey" in read_schema


def test_dim_join_broadcasts(spark):
    from rkts_migration_spark.queries import q_broadcast_dim_join

    assert has_broadcast_join(q_broadcast_dim_join(spark, SF))


def test_ordered_stage_single_exchange(spark):
    """with_section_index computes lag + running-sum over the same
    (conv_id, turn_idx) window: Catalyst must plan ONE exchange, not
    one per window function."""
    df = spark.createDataFrame(
        [("c", i, "user") for i in range(10)],
        "conv_id string, turn_idx int, role string",
    )
    out = with_section_index(df)
    assert count_exchanges(out) == 1, physical_plan(out)


def test_jaccard_guard_partial_agg_no_window(spark):
    """The max_df hot-token guard must count document frequency with a
    partially-aggregating groupBy (map-side combine) and drop hot
    tokens via a broadcast anti join — NEVER a Window, which would
    colocate a stop word's whole posting list in one task (the exact
    blowup the guard exists to prevent)."""
    from rkts_migration_spark.operators.dedup import jaccard_pairs

    docs = spark.createDataFrame(
        [(i, f"common w{i} w{i + 1}") for i in range(8)],
        "doc_id int, text string",
    )
    plan = physical_plan(jaccard_pairs(docs, max_df=3))
    assert "Window" not in plan, plan
    assert "partial_count" in plan or "HashAggregate" in plan, plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    # semantics: 'common' (df=8 > 3) is dropped; each doc keeps 2 rare
    # words sharing exactly one with each neighbor -> jaccard 1/3 < 0.8
    assert jaccard_pairs(docs, max_df=3, threshold_pct=30).count() == 7
    assert jaccard_pairs(docs, max_df=3, threshold_pct=80).count() == 0


def test_top_entity_partial_count_two_exchanges(spark):
    """topEntity counts per (conv_id, canon_id) with a plain groupBy:
    map-side partial_count reduces each task's split of a hot
    conversation to one row per key before the shuffle. Two hash
    exchanges (the count, then the argmin per conversation), no salt."""
    from rkts_migration_spark.materialize import top_entity_triples

    linked = spark.createDataFrame(
        [("c0", i, 0, "E2" if i % 3 else "E10") for i in range(30)]
        + [("c1", 0, 0, "E10")],
        "conv_id string, turn_idx int, midx int, canon_id string",
    )
    iri = spark.createDataFrame(
        [("E2", "e:E2"), ("E10", "e:E10")], "canon_id string, entity_iri string")
    out = top_entity_triples(linked, iri)
    plan = physical_plan(out, mode="simple")
    assert count_exchanges(out) == 2, plan
    assert "partial_count" in plan, plan
    assert "_salt" not in plan, plan


def test_mention_join_is_broadcast(spark):
    """Linking joins the mention stream against the tiny winners dim —
    must broadcast, never shuffle the stream."""
    from rkts_migration_spark.extract import extract_mentions
    from rkts_migration_spark.fixtures import fixtures_to_spark, make_fixtures
    from rkts_migration_spark.link import link_mentions

    tables = fixtures_to_spark(spark, make_fixtures(seed=42, n_convs=5))
    mentions = extract_mentions(tables["transcripts"], tables["gazetteer"])
    linked = link_mentions(mentions, tables["gazetteer"])
    assert has_broadcast_join(linked)


def test_flag_contaminated_broadcasts_benchmark(spark):
    """Decontamination must broadcast the benchmark shingle side (the
    corpus side is the 100-TB one): the overlap probe is a
    BroadcastHashJoin and the only corpus shuffle is the per-doc
    overlap count with map-side partial aggregation."""
    from rkts_migration_spark.operators.dedup import flag_contaminated

    corpus = spark.createDataFrame(
        [("c%d" % i, ("word%d " % i) * 20) for i in range(30)],
        "doc_id string, text string")
    benchmark = spark.createDataFrame([("b", "word1 " * 20)],
                                      "doc_id string, text string")
    plan = physical_plan(flag_contaminated(corpus, benchmark, n=13))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "partial_count" in plan or "HashAggregate" in plan, plan


def test_degree_stats_partial_agg_no_window(spark):
    """Degree counting must be a partially-aggregating groupBy, never a
    window: a hub node's edge list stays distributed across splits."""
    from rkts_migration_spark.operators.graph import degree_stats

    edges = spark.createDataFrame(
        [("h", f"l{i}") for i in range(6)], "src string, dst string")
    plan = physical_plan(degree_stats(edges))
    assert "Window" not in plan, plan
    assert "partial_sum" in plan or "HashAggregate" in plan, plan


def test_merge_triples_is_anti_join_no_broadcast_of_existing(spark):
    """The existing triple store (the 100-TB side) must reach the
    anti-join shuffled, never broadcast or collected."""
    from rkts_migration_spark.operators.graph import merge_triples

    schema = "subj string, pred string, obj string"
    existing = spark.range(0, 10_000).selectExpr(
        "cast(id as string) subj", "'p' pred", "'o' obj")
    incoming = spark.createDataFrame([("x", "p", "o")], schema)
    plan = physical_plan(merge_triples(existing, incoming))
    assert "LeftAnti" in plan, plan
    # At THIS scale Catalyst may broadcast existing (10k rows is under
    # the threshold — correct). The 100-TB property is the degradation:
    # when existing exceeds the broadcast threshold, the plan must be a
    # shuffled anti-join, never a collect or a nested-loop. Simulate
    # over-threshold stats by disabling auto-broadcast.
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        big_plan = physical_plan(merge_triples(existing, incoming))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    assert "LeftAnti" in big_plan, big_plan
    assert "BroadcastHashJoin" not in big_plan, big_plan
    assert "NestedLoop" not in big_plan, big_plan
    assert "SortMergeJoin" in big_plan or "ShuffledHashJoin" in big_plan, big_plan


def test_session_perf_contract(spark):
    """The measured perf-critical session settings are part of the
    factory's contract (BENCH/BASELINE.md round-5 section): the
    InferFiltersFromGenerate exclusion (the inferred size()>0 filter
    re-evaluates the gazetteer alternation regex 3x per turn), the
    64Ki columnar-cache batch size (the 10k default pays per-batch
    setup O(rows/batchSize) per column per consumer on the two
    corpus-sized persisted intermediates; -11-14% flagship measured)
    and a codegen cache of at least twice the largest measured working
    set (202 classes per stream_6k pass; the 100 default recompiles
    every class of every warm-JVM run and micro-batch), and a
    partition-discovery threshold that lists a stream store's default
    64 bucket directories on the driver (at Spark's 32, every store
    read in a micro-batch ran a 64-task listing job).
    A silent revert of any would ship a measured regression.
    session.PERF_CONF is the one copy every session builder applies."""
    from rkts_migration_spark.session import PERF_CONF

    assert "InferFiltersFromGenerate" in PERF_CONF[
        "spark.sql.optimizer.excludedRules"
    ]
    assert PERF_CONF["spark.sql.inMemoryColumnarStorage.batchSize"] == "65536"
    assert int(PERF_CONF["spark.sql.codegen.cache.maxEntries"]) >= 2 * 202
    assert int(PERF_CONF[
        "spark.sql.sources.parallelPartitionDiscovery.threshold"]) >= 64
    for key, value in PERF_CONF.items():
        assert spark.conf.get(key) == value, key
    # compression must stay ON: disabling it measured SLOWER
    # end-to-end (bigger cache -> more bus bytes per downstream read)
    assert spark.conf.get(
        "spark.sql.inMemoryColumnarStorage.compressed", "true") == "true"


def test_codegen_counters(spark):
    """codegen_counters counts Janino compiles: re-running an identical
    query hits the codegen cache and adds none, a new plan shape adds
    some."""
    from rkts_migration_spark.session import codegen_counters

    def query(k: int):
        return (spark.range(1000).selectExpr(f"id % {k} AS g", "id * 3 AS v")
                .groupBy("g").sum("v"))

    query(7919).collect()
    before = codegen_counters(spark)
    query(7919).collect()
    again = codegen_counters(spark)
    assert again["compiles"] == before["compiles"]
    query(7907).collect()
    after = codegen_counters(spark)
    assert after["compiles"] > again["compiles"]
    assert after["compile_s"] > again["compile_s"]


def test_generated_code_reused_across_runs(spark):
    """A second in-memory run of the pipeline compiles almost none of
    its generated classes again: the session's codegen cache holds a
    run's working set (121 classes here, measured in a new JVM). At
    Spark's default of 100 entries the LRU cache never hits and the
    second run recompiled 84-87."""
    from rkts_migration_spark.fixtures import fixtures_to_spark, make_fixtures
    from rkts_migration_spark.operators.caching import release_cached_deps
    from rkts_migration_spark.pipeline import build_triples_inmem
    from rkts_migration_spark.session import codegen_counters

    tables = fixtures_to_spark(spark, make_fixtures(seed=42, n_convs=80))
    compiles = []
    for _ in range(2):
        before = codegen_counters(spark)["compiles"]
        triples = build_triples_inmem(spark, tables)
        triples.count()
        release_cached_deps(triples)
        compiles.append(codegen_counters(spark)["compiles"] - before)
    # in a warm JVM (this suite) earlier tests have compiled part of the
    # working set, so the first run here may compile fewer than 121
    assert compiles[1] <= 0.1 * max(compiles[0], 121), compiles
