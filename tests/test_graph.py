"""Graph post-processing operators (operators/graph.py): degree, k-hop
BFS, deterministic fixed-point PageRank, incremental triple merge."""

from __future__ import annotations

from pyspark.sql import functions as F

from rkts_migration_spark.operators.graph import (
    PR_SCALE,
    degree_stats,
    k_hop,
    merge_triples,
    pagerank_fixed_point,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def test_degree_stats_hub(spark):
    # hub 'h' -> 4 leaves, one back-edge
    pairs = [("h", f"l{i}") for i in range(4)] + [("l0", "h")]
    got = {r["node"]: (r["out_deg"], r["in_deg"])
           for r in degree_stats(_edges(spark, pairs)).collect()}
    assert got["h"] == (4, 1)
    assert got["l0"] == (1, 1)
    assert got["l3"] == (0, 1)


def test_k_hop_chain_min_distance(spark):
    # a-b-c-d-e chain plus a shortcut a-c: c must be hop 1, not 2
    pairs = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("a", "c")]
    seeds = _edges(spark, [("a", "x")]).select(F.col("src").alias("node"))
    got = {r["node"]: r["hop"] for r in k_hop(_edges(spark, pairs), seeds, k=3).collect()}
    assert got == {"a": 0, "b": 1, "c": 1, "d": 2, "e": 3}


def test_k_hop_early_termination_and_bound(spark):
    # two-node component: BFS exhausts at hop 1 and stops early; the
    # disconnected component is never visited
    pairs = [("a", "b"), ("x", "y")]
    seeds = _edges(spark, [("a", "_")]).select(F.col("src").alias("node"))
    got = {r["node"]: r["hop"] for r in k_hop(_edges(spark, pairs), seeds, k=5).collect()}
    assert got == {"a": 0, "b": 1}


def test_pagerank_star_orders_hub_first(spark):
    pairs = [("hub", f"l{i}") for i in range(5)]
    ranks = {r["node"]: r["rank_u"]
             for r in pagerank_fixed_point(_edges(spark, pairs), iterations=3).collect()}
    assert ranks["hub"] > ranks["l0"]
    assert len({ranks[f"l{i}"] for i in range(5)}) == 1  # leaves tie exactly
    # integer mass: never exceeds PR_SCALE, loses only division remainders
    total = sum(ranks.values())
    assert total <= PR_SCALE
    assert total > PR_SCALE * 0.99


def test_pagerank_bit_identical_across_parallelism(spark):
    """The design claim: integer arithmetic makes ranks EXACTLY equal
    under different partitionings (float PageRank would drift in the
    last ulps with summation order)."""
    pairs = [(f"n{i}", f"n{(i * 7 + 3) % 40}") for i in range(40)] + [
        (f"n{i}", f"n{(i + 1) % 40}") for i in range(40)
    ]
    e1 = _edges(spark, pairs).repartition(1)
    e2 = _edges(spark, pairs).repartition(32)
    r1 = sorted(map(tuple, pagerank_fixed_point(e1, iterations=4).collect()))
    r2 = sorted(map(tuple, pagerank_fixed_point(e2, iterations=4).collect()))
    assert r1 == r2


def test_merge_triples_delta_and_idempotency(spark):
    schema = "subj string, pred string, obj string"
    existing = spark.createDataFrame(
        [("s1", "p", "o1"), ("s2", "p", "o2")], schema)
    incoming = spark.createDataFrame(
        [("s2", "p", "o2"), ("s3", "p", "o3"), ("s3", "p", "o3")], schema)
    delta = merge_triples(existing, incoming)
    assert [tuple(r) for r in delta.collect()] == [("s3", "p", "o3")]
    # idempotent: re-delivering an already-committed batch appends nothing
    committed = existing.unionByName(delta)
    assert merge_triples(committed, incoming).isEmpty()


def test_compact_labels_restores_invariant(spark):
    """Two pref labels for the same (entity, lang) — the batch-variance
    artifact of independent-batch ingest — compact to the lexicographic
    min; other langs/preds/triples untouched; idempotent."""
    from rkts_migration_spark import vocab as V
    from rkts_migration_spark.operators.graph import compact_labels

    schema = "subj string, pred string, obj string"
    store = spark.createDataFrame(
        [
            ("e1", V.PRED_PREF_LABEL, '"Zebra"@en'),
            ("e1", V.PRED_PREF_LABEL, '"Apple"@en'),   # dup winner
            ("e1", V.PRED_PREF_LABEL, '"Uno"@es'),     # other lang kept
            ("e1", V.PRED_ALT_LABEL, '"Alt"@en'),
            ("e2", V.PRED_PREF_LABEL, '"Solo"@en'),
            ("e1", "http://x/p/other", '"not a label"@en'),
        ],
        schema,
    )
    got = {tuple(r) for r in compact_labels(store).collect()}
    assert got == {
        ("e1", V.PRED_PREF_LABEL, '"Apple"@en'),
        ("e1", V.PRED_PREF_LABEL, '"Uno"@es'),
        ("e1", V.PRED_ALT_LABEL, '"Alt"@en'),
        ("e2", V.PRED_PREF_LABEL, '"Solo"@en'),
        ("e1", "http://x/p/other", '"not a label"@en'),
    }
    # idempotent
    twice = {tuple(r) for r in
             compact_labels(compact_labels(store)).collect()}
    assert twice == got


def test_compact_labels_keeps_multiple_alt_labels(spark):
    """altLabel is legitimately multi-valued per (entity, lang) — one
    triple per distinct normalized surface (materialize.label_triples).
    The default compaction must NOT collapse them (ADVICE r3): only
    prefLabel has the one-per-lang invariant."""
    from rkts_migration_spark import vocab as V
    from rkts_migration_spark.operators.graph import compact_labels

    schema = "subj string, pred string, obj string"
    store = spark.createDataFrame(
        [
            ("e1", V.PRED_ALT_LABEL, '"Brown"@en'),
            ("e1", V.PRED_ALT_LABEL, '"Ale"@en'),     # 2nd alt, same lang
            ("e1", V.PRED_ALT_LABEL, '"Otra"@es'),
            ("e1", V.PRED_PREF_LABEL, '"Zeta"@en'),
            ("e1", V.PRED_PREF_LABEL, '"Beta"@en'),   # pref dup compacts
        ],
        schema,
    )
    got = {tuple(r) for r in compact_labels(store).collect()}
    assert got == {
        ("e1", V.PRED_ALT_LABEL, '"Brown"@en'),
        ("e1", V.PRED_ALT_LABEL, '"Ale"@en'),
        ("e1", V.PRED_ALT_LABEL, '"Otra"@es'),
        ("e1", V.PRED_PREF_LABEL, '"Beta"@en'),
    }


def test_pagerank_directed_dangling_mass_conserved(spark):
    """Directed graph with a dangling node (no out-edges): the dangling
    redistribution keeps total mass at the damped fixed point instead
    of leaking it. Bound: each of the ~(|E| + 2N + 2) integer
    divisions per iteration loses < 1 micro-unit."""
    # a -> b -> c, c dangling; d isolated via d -> a
    pairs = [("a", "b"), ("b", "c"), ("d", "a")]
    iters = 5
    ranks = {
        r["node"]: r["rank_u"]
        for r in pagerank_fixed_point(
            _edges(spark, pairs), iterations=iters, directed=True
        ).collect()
    }
    total = sum(ranks.values())
    n, e = 4, 3
    slack = iters * (e + 2 * n + 2)
    assert PR_SCALE >= total > PR_SCALE - slack
    # sanity: without redistribution the same graph leaks hard
    leaky_total = PR_SCALE * 0.9
    assert total > leaky_total


def test_pagerank_early_stop_matches_fixed_schedule(spark):
    """tol_u early stop: with tol_u=0 the loop still terminates at the
    converged fixpoint and equals a long fixed schedule; a huge tol_u
    stops after one step."""
    pairs = [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b")]
    fixed = sorted(map(tuple, pagerank_fixed_point(
        _edges(spark, pairs), iterations=30).collect()))
    tol = sorted(map(tuple, pagerank_fixed_point(
        _edges(spark, pairs), iterations=30, tol_u=0).collect()))
    assert fixed == tol
    one_step = sorted(map(tuple, pagerank_fixed_point(
        _edges(spark, pairs), iterations=1).collect()))
    lazy = sorted(map(tuple, pagerank_fixed_point(
        _edges(spark, pairs), iterations=30, tol_u=PR_SCALE).collect()))
    assert lazy == one_step


def test_merge_triples_pruned_recomputes_stale_bucket(spark, tmp_path):
    """A caller-supplied bucket column computed with a DIFFERENT
    n_buckets than the store layout must not poison pruning: the
    operator recomputes the bucket from subj (ADVICE r4), so a
    committed triple arriving with a stale bucket id still prunes to
    the RIGHT store partition and is excluded from the delta — the
    exactly-once-effect invariant."""
    from rkts_migration_spark.operators.caching import release_cached_deps
    from rkts_migration_spark.operators.graph import (
        TRIPLE_BUCKET_COL,
        merge_triples_pruned,
        with_triple_bucket,
    )

    n_buckets = 8
    schema = "subj string, pred string, obj string"
    store_rows = [(f"s{i}", "p", f"o{i}") for i in range(64)]
    store_path = str(tmp_path / "store")
    (with_triple_bucket(spark.createDataFrame(store_rows, schema), n_buckets)
     .write.partitionBy(TRIPLE_BUCKET_COL).parquet(store_path))
    existing = spark.read.parquet(store_path)

    incoming = spark.createDataFrame(
        [("s3", "p", "o3"), ("sY", "p", "oY")], schema)
    # poison: bucket ids from a 3-bucket layout on an 8-bucket store
    stale = with_triple_bucket(incoming, 3)
    delta, touched = merge_triples_pruned(existing, stale, n_buckets)
    rows = delta.collect()
    assert release_cached_deps(delta) == 1  # the bucketed candidates
    assert {(r["subj"], r["pred"], r["obj"]) for r in rows} == {
        ("sY", "p", "oY")}  # committed (s3,p,o3) excluded
    # and the emitted bucket matches the store layout, not the stale one
    fixed = with_triple_bucket(incoming, n_buckets).collect()  # s3, sY
    assert rows[0][TRIPLE_BUCKET_COL] == fixed[1][TRIPLE_BUCKET_COL]
    assert touched == sorted({r[TRIPLE_BUCKET_COL] for r in fixed})


def test_merge_triples_pruned_bucketed_store(spark, tmp_path):
    """Bucket-pruned merge: same delta semantics as merge_triples, and
    the store side physically reads ONLY the touched bucket
    directories (input_file_name over the pruned view). Without a store
    the delta is every distinct candidate, and nothing is cached."""
    from pyspark.sql import functions as F

    from rkts_migration_spark.operators.graph import (
        TRIPLE_BUCKET_COL,
        merge_triples_pruned,
        prune_store_to_touched,
        with_triple_bucket,
    )
    from rkts_migration_spark.operators.caching import release_cached_deps

    n_buckets = 8
    schema = "subj string, pred string, obj string"
    store_rows = [(f"s{i}", "p", f"o{i}") for i in range(64)]
    store_path = str(tmp_path / "store")
    (with_triple_bucket(spark.createDataFrame(store_rows, schema), n_buckets)
     .write.partitionBy(TRIPLE_BUCKET_COL).parquet(store_path))
    existing = spark.read.parquet(store_path)

    # incoming: one committed triple (s3) + one new one on s3's subject
    # + one brand-new subject
    incoming = spark.createDataFrame(
        [("s3", "p", "o3"), ("s3", "p", "oNEW"), ("sX", "p", "oX")], schema)
    delta, touched = merge_triples_pruned(existing, incoming, n_buckets)
    got = {(r["subj"], r["pred"], r["obj"]) for r in delta.collect()}
    assert release_cached_deps(delta) == 1
    assert got == {("s3", "p", "oNEW"), ("sX", "p", "oX")}
    # delta carries the bucket column, ready for a partitioned append
    assert TRIPLE_BUCKET_COL in delta.columns

    # pruning evidence: the pruned store view touches only the
    # buckets of the incoming subjects
    inc_b = with_triple_bucket(incoming, n_buckets)
    assert touched == sorted(
        r[0] for r in inc_b.select(TRIPLE_BUCKET_COL).distinct().collect())
    pruned, _ = prune_store_to_touched(existing, inc_b)
    files = {r[0] for r in
             pruned.select(F.input_file_name()).distinct().collect()}
    assert files, "pruned store scan read no files"
    for f in files:
        assert any(f"{TRIPLE_BUCKET_COL}={b}/" in f for b in touched), f
    # and the physical plan prunes partitions, not post-filters rows
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert f"{TRIPLE_BUCKET_COL}#" in plan
    assert "PartitionFilters" in plan

    first, none_touched = merge_triples_pruned(None, incoming, n_buckets)
    assert none_touched == [] and release_cached_deps(first) == 0
    assert first.count() == 3
