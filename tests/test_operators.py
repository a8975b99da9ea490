"""Operator-family tests: sections, CC, first-wins dedup,
trie extraction vs the oracle's regex scanner."""

from __future__ import annotations

from pyspark.sql import functions as F

from rkts_migration_spark import vocab as V
from rkts_migration_spark.extract import TokenTrie
from rkts_migration_spark.oracle import _compile_surface_regex, detect_mentions
from rkts_migration_spark.operators.cc import connected_components
from rkts_migration_spark.operators.dedup import exact_dedup, first_wins
from rkts_migration_spark.operators.sections import section_bounds, with_section_index


def test_section_islands(spark):
    rows = [
        ("c1", 0, "user"), ("c1", 1, "user"), ("c1", 2, "assistant"),
        ("c1", 3, "user"), ("c1", 4, "user"), ("c2", 0, "tool"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string")
    got = {
        (r["conv_id"], r["turn_idx"]): r["section_idx"]
        for r in with_section_index(df).collect()
    }
    assert got[("c1", 0)] == 1 and got[("c1", 1)] == 1
    assert got[("c1", 2)] == 2
    assert got[("c1", 3)] == 3 and got[("c1", 4)] == 3
    assert got[("c2", 0)] == 1
    b = {
        (r["conv_id"], r["section_idx"]): (r["begin_turn_idx"], r["end_turn_idx"])
        for r in section_bounds(with_section_index(df)).collect()
    }
    assert b[("c1", 1)] == (0, 1)
    assert b[("c1", 3)] == (3, 4)


def test_connected_components_chains_and_cycles(spark):
    edges = spark.createDataFrame(
        [("E0003", "E0004"), ("E0004", "E0006"), ("E0011", "E0012"),
         ("E0012", "E0011"), ("E0030", "E0031")],
        "src string, dst string",
    )
    got = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert got["E0003"] == got["E0004"] == got["E0006"] == "E0003"
    assert got["E0011"] == got["E0012"] == "E0011"
    assert got["E0030"] == got["E0031"] == "E0030"


def test_first_wins_is_order_aware(spark):
    df = spark.createDataFrame(
        [("g", 3, "c"), ("g", 1, "a"), ("g", 2, "b"), ("h", 9, "z")],
        "grp string, ord int, val string",
    )
    got = {r["grp"]: r["val"] for r in first_wins(df, ["grp"], ["ord"]).collect()}
    assert got == {"g": "a", "h": "z"}


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "same"), (2, "same"), (3, "other")], "id long, text string"
    )
    out = exact_dedup(df, "text").collect()
    assert len(out) == 2
    assert {r["text"] for r in out} == {"same", "other"}
    # deterministic representative: min struct -> id 1 survives for "same"
    assert {r["id"] for r in out} == {1, 3}


SURFACES = ["spark", "spark sql", "spark streaming", "window",
            "window function", "hash join", "join", 'quo"te (x)']
TEXTS = [
    "use spark sql for the window function over a hash join",
    "spark spark sql sparkly join",
    "window  Window   FUNCTION",          # case/whitespace normalize
    "spark streaming join spark",
    'regex meta quo"te (x) must be quoted',
    "no entities here at all",
    "",
]


def test_trie_matches_oracle_regex():
    trie = TokenTrie(sorted({V.norm_surface(s) for s in SURFACES}))
    rx = _compile_surface_regex(SURFACES)
    for t in TEXTS:
        got = trie.scan(V.norm_surface(t))
        want = [m for _, m in detect_mentions(t, rx)]
        assert got == want, (t, got, want)


def test_regex_and_trie_strategies_agree(spark):
    """The two physical extraction strategies (JVM regexp_extract_all
    vs Arrow trie) must emit identical (conv, turn, midx, matched)."""
    from rkts_migration_spark.extract import (
        extract_mentions_regex,
        extract_mentions_trie,
    )

    turns = spark.createDataFrame(
        [("c1", i, t) for i, t in enumerate(TEXTS)],
        "conv_id string, turn_idx int, text string",
    )
    surfaces = sorted({V.norm_surface(s) for s in SURFACES})
    a = sorted(map(tuple, extract_mentions_regex(turns, surfaces).collect()))
    b = sorted(map(tuple, extract_mentions_trie(turns, surfaces).collect()))
    assert a == b and len(a) > 0


def test_build_canonical_map_distributed_branch_matches_driver(spark):
    """Force the distributed CC branch (threshold=0) and check it
    produces exactly the driver union-find result on the fixture
    dictionaries (chains + 2-cycle)."""
    from rkts_migration_spark.canonicalize import build_canonical_map
    from rkts_migration_spark.fixtures import fixtures_to_spark, make_fixtures

    fx = make_fixtures(seed=42, n_convs=1)
    t = fixtures_to_spark(spark, fx)
    args = (t["id_remap"], t["cross_corpus_map"], t["same_text_map"])
    driver = {(r["entity_id"], r["canon_id"])
              for r in build_canonical_map(*args).collect()}
    dist = {(r["entity_id"], r["canon_id"])
            for r in build_canonical_map(*args, driver_threshold=0).collect()}
    assert driver == dist and len(driver) > 0


def test_turn_ordinal_and_contiguity_audit(spark):
    from rkts_migration_spark.operators.ordering import (
        assert_contiguous,
        with_turn_ordinal,
    )

    good = spark.createDataFrame(
        [("C1", 0), ("C1", 1), ("C1", 2), ("C2", 0)],
        "conv_id string, turn_idx int")
    assert assert_contiguous(good).count() == 0
    ords = {(r["conv_id"], r["turn_idx"]): r["turn_ord"]
            for r in with_turn_ordinal(good).collect()}
    assert ords[("C1", 2)] == 3 and ords[("C2", 0)] == 1

    gappy = spark.createDataFrame(
        [("C1", 0), ("C1", 2)], "conv_id string, turn_idx int")
    bad = assert_contiguous(gappy).collect()
    assert len(bad) == 1 and bad[0]["turn_idx"] == 2


def test_jaccard_max_df_caps_hot_tokens(spark):
    # 6 docs all sharing the stop word "the"; only docs 1/2 share rare
    # content. Uncapped, "the" alone links every doc pair; with
    # max_df=3 the stop word is dropped from the postings and only the
    # genuinely-similar pair survives.
    from rkts_migration_spark.operators.dedup import jaccard_pairs

    rows = [(i, "the unique%d token%d" % (i, i)) for i in range(3, 7)]
    rows += [(1, "the alpha beta gamma"), (2, "the alpha beta gamma")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    capped = jaccard_pairs(df, threshold_pct=10, max_df=3).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in capped} == {(1, 2)}
    # capped token space: {alpha, beta, gamma} fully shared -> 1.0
    assert capped[0]["jaccard"] == 1.0

    uncapped = jaccard_pairs(df, threshold_pct=10, max_df=None).collect()
    assert len(uncapped) == 15  # every pair linked through "the"


def test_flag_contaminated_ngram_overlap(spark):
    """GPT-3-style decontamination: a corpus doc embedding a benchmark
    13-gram is flagged; unrelated docs are not; min_overlap
    distinguishes a full benchmark copy from a minimal 13-word span."""
    from rkts_migration_spark.operators.dedup import flag_contaminated

    # 15 benchmark words -> three distinct 13-gram shingles
    bench = ("the quick brown fox jumps over that lazy dog "
             "again and again today every morning")
    prefix13 = " ".join(bench.split()[:13])  # exactly one shingle
    corpus = spark.createDataFrame(
        [
            ("full_copy", "intro words %s outro words" % bench),
            ("span_only", "padding tokens %s trailing bits" % prefix13),
            ("clean", "a totally unrelated fourteen word sentence about "
                      "spark pipelines partitioning shuffles and skew"),
            ("short", "too short to shingle"),
        ],
        "doc_id string, text string",
    )
    benchmark = spark.createDataFrame([("b1", bench)],
                                      "doc_id string, text string")

    got = {r["doc_id"]: r["n_overlap"]
           for r in flag_contaminated(corpus, benchmark, n=13).collect()}
    assert got == {"full_copy": 3, "span_only": 1}

    strict = {r["doc_id"]
              for r in flag_contaminated(corpus, benchmark, n=13,
                                         min_overlap=2).collect()}
    assert strict == {"full_copy"}


def test_minhash_band_buckets_presets(spark):
    # identical docs share every band bucket; a perturbed doc agrees on
    # none-or-few; md5 and xxhash paths have identical bucketing shape.
    from rkts_migration_spark.operators.dedup import PRESETS, minhash_band_buckets

    p = PRESETS["production"]
    assert (p["k"], p["bands"], p["shingle_n"]) == (128, 16, 5)
    text = " ".join("w%d" % i for i in range(30))
    other = " ".join("x%d" % i for i in range(30))
    df = spark.createDataFrame(
        [(1, text), (2, text), (3, other)], "doc_id long, text string")
    for use_xx in (False, True):
        out = {r["doc_id"]: r for r in minhash_band_buckets(
            df, k=16, bands=4, shingle_n=3, use_xxhash=use_xx).collect()}
        bands = [f"b{i}" for i in range(4)]
        assert all(out[1][b] == out[2][b] for b in bands)
        assert all(out[1][b] != out[3][b] for b in bands)


def test_simhash64_halves_exact(spark):
    # single-token doc: every bit equals the token's sha256 hex digit
    # >= '8' test, so the packed halves are computable directly.
    import hashlib

    from rkts_migration_spark.operators.dedup import simhash64

    word = "hello"
    hx = hashlib.sha256(word.encode()).hexdigest()
    expect_hi = sum((1 << (31 - i)) for i in range(32) if hx[i] >= "8")
    expect_lo = sum((1 << (31 - i)) for i in range(32) if hx[32 + i] >= "8")
    df = spark.createDataFrame([(1, word)], "doc_id long, text string")
    row = simhash64(df).collect()[0]
    assert (row["simhash_hi"], row["simhash_lo"]) == (expect_hi, expect_lo)


def test_simhash_candidates_pigeonhole(spark):
    """Manku-style chunk-bucket pairing must return exactly the pairs
    the pigeonhole + exact-hamming rule defines over the real
    signatures (computed independently in Python), and identical docs
    always pair at hamming 0."""
    from rkts_migration_spark.operators.dedup import (
        simhash64,
        simhash_candidates,
    )

    base = ("the quick brown fox jumps over the lazy dog and runs far "
            "away home tonight under bright stars")
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),                                 # identical
            (3, base.replace("lazy", "sleepy")),       # near variant
            (4, "completely different content about spark shuffles "
                "partitions skew salting and adaptive execution"),
        ],
        "doc_id long, text string",
    )
    sigs = {r["doc_id"]: (r["simhash_hi"], r["simhash_lo"])
            for r in simhash64(docs).collect()}

    def chunks(hi, lo):
        return [(hi >> 16) & 0xFFFF, hi & 0xFFFF,
                (lo >> 16) & 0xFFFF, lo & 0xFFFF]

    def hamming(p, q):
        return (bin(p[0] ^ q[0]).count("1") + bin(p[1] ^ q[1]).count("1"))

    ids = sorted(sigs)
    expected = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            shares = any(x == y for x, y in
                         zip(chunks(*sigs[a]), chunks(*sigs[b])))
            h = hamming(sigs[a], sigs[b])
            if shares and h <= 3:
                expected[(a, b)] = h
    got = {(r["doc_a"], r["doc_b"]): r["hamming"]
           for r in simhash_candidates(docs).collect()}
    assert got == expected
    assert got[(1, 2)] == 0  # identical docs always bucket-collide

    import pytest as _pytest
    with _pytest.raises(ValueError):
        simhash_candidates(docs, max_hamming=2)


def test_connected_components_deep_chain(spark):
    # 1000-deep merge chain: plain label propagation needs ~1000
    # rounds (max_iter=50 would silently mislabel); pointer doubling
    # converges in O(log d) — assert it within 15 rounds.
    depth = 1000
    edges = spark.createDataFrame(
        [(f"E{i:05d}", f"E{i + 1:05d}") for i in range(depth)],
        "src string, dst string",
    )
    got = {r["node"]: r["component"]
           for r in connected_components(edges, max_iter=15).collect()}
    assert len(got) == depth + 1
    assert set(got.values()) == {"E00000"}


def test_connected_components_fails_loudly_at_max_iter(spark):
    # a 16-deep chain needs several rounds even with pointer jumps:
    # one round must raise, naming the cap, not return partial labels
    import pytest

    edges = spark.createDataFrame(
        [(f"E{i:05d}", f"E{i + 1:05d}") for i in range(16)],
        "src string, dst string",
    )
    with pytest.raises(RuntimeError, match="max_iter=1"):
        connected_components(edges, max_iter=1)


def test_tree_paths_constant_plan_and_max_iter_guard(spark):
    # The expression-parent regression: when `parent` is derived from
    # the id column, constraint inference used to compose the
    # expression through every level's join (plan doubling per level,
    # codegen past the 64 KB JVM method limit -> interpreted
    # fallback). With the child table checkpointed once, each level's
    # optimized plan stays constant-size.
    from pyspark.sql import functions as F  # noqa: F811

    from rkts_migration_spark.operators.tree import tree_paths

    n = 255  # full binary tree, depth 8
    base = spark.range(1, n + 1).select(
        F.col("id"),
        F.when(F.col("id") == 1, None).otherwise(
            F.floor(F.col("id") / 2)).cast("long").alias("parent"),
        F.concat(F.lit("n"), F.col("id").cast("string")).alias("label"),
    )
    out = tree_paths(base)
    rows = {r["id"]: r["path"] for r in out.collect()}
    assert len(rows) == n
    assert rows[1] == "n1"
    assert rows[5] == "n1.n2.n5"
    assert rows[255] == "n1.n3.n7.n15.n31.n63.n127.n255"

    # depth-40 chain with max_iter below the depth must fail loudly,
    # not silently truncate (truncation is indistinguishable from
    # orphans downstream).
    chain = spark.createDataFrame(
        [(i, None if i == 0 else i - 1, f"c{i}") for i in range(40)],
        "id long, parent long, label string",
    )
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="max_iter"):
        tree_paths(chain, max_iter=10)
    deep = tree_paths(chain, max_iter=45)
    assert deep.count() == 40


def test_neardup_clusters_end_to_end(spark):
    # Planted corpus: A-B and B-C are near-dups (word Jaccard 9/11 =
    # 0.818 >= 0.8) but A-C is NOT (8/12 = 0.667) — the cluster
    # {A, B, C} only falls out of transitive closure over VERIFIED
    # pairs, so this exercises LSH candidates, the exact-Jaccard
    # verify (which must reject any A-C candidate the buckets
    # propose), and connected components in one pass.
    from rkts_migration_spark.operators.dedup import neardup_clusters

    w = [f"w{i}" for i in range(1, 11)]
    docs = [
        ("d001", " ".join(w)),
        ("d002", " ".join(w[:9] + ["x1"])),
        ("d003", " ".join(w[:8] + ["x1", "z1"])),
        ("d005", "p1 p2 p3 p4 p5 p6 p7 p8 p9 p10"),
        ("d006", "p1 p2 p3 p4 p5 p6 p7 p8 p9 p10"),
        ("d007", "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10"),
        ("d008", "r1 r2 r3 r4 r5 r6 r7 r8 r9 r10"),
    ]
    df = spark.createDataFrame(docs, "doc_id string, text string")
    out = neardup_clusters(
        df, k=16, bands=16, shingle_n=1, threshold_pct=80)
    rows = {r["doc_id"]: (r["cluster_id"], r["keep"]) for r in out.collect()}
    assert len(rows) == len(docs)
    assert rows["d001"] == ("d001", True)
    assert rows["d002"] == ("d001", False)
    assert rows["d003"] == ("d001", False)  # transitive via d002
    assert rows["d005"] == ("d005", True)
    assert rows["d006"] == ("d005", False)
    assert rows["d007"] == ("d007", True)
    assert rows["d008"] == ("d008", True)
    kept = sorted(r["doc_id"] for r in out.filter("keep").collect())
    assert kept == ["d001", "d005", "d007", "d008"]


def test_neardup_clusters_hub_doc_stress(spark):
    """Planted hub: 1,100 identical documents form one LSH clique, so
    every doc sits in 1,099 candidate pairs (~604k pairs total). The
    postings-based verify must handle this without replicating any
    doc's full word array per pair — rows stay one word wide and the
    per-pair intersection comes from a partially-aggregating groupBy.
    All docs must land in one cluster with the numeric-min
    representative kept."""
    from rkts_migration_spark.operators.dedup import neardup_clusters

    n = 1100
    text = "alpha beta gamma delta epsilon zeta"
    docs = [(i, text) for i in range(n)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = neardup_clusters(df, k=16, bands=16, shingle_n=1,
                           threshold_pct=80)
    agg = out.groupBy("cluster_id").count().collect()
    assert len(agg) == 1 and agg[0]["count"] == n
    assert agg[0]["cluster_id"] == 0
    kept = out.filter("keep").collect()
    assert len(kept) == 1 and kept[0]["doc_id"] == 0


def test_neardup_clusters_numeric_ids(spark):
    """Plain numeric ids need no caller-side ordering precondition:
    the representative of a {9, 10} cluster is 9 (numeric min), not
    '10' (string min) — ids are zero-padded internally (the cc.py
    pad_id_col convention) and mapped back."""
    from rkts_migration_spark.operators.dedup import neardup_clusters

    text = " ".join(f"w{i}" for i in range(1, 11))
    docs = [(9, text), (10, text), (3, "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = neardup_clusters(df, k=16, bands=16, shingle_n=1,
                           threshold_pct=80)
    rows = {r["doc_id"]: (r["cluster_id"], r["keep"]) for r in out.collect()}
    assert rows[9] == (9, True)
    assert rows[10] == (9, False)
    assert rows[3] == (3, True)


def test_neardup_clusters_leading_zero_ids_stay_distinct(spark):
    """'doc7' vs 'doc007' pad to the same digit run — the internal CC
    node encoding must keep them distinct (raw-id tiebreak suffix,
    ADVICE r3) so unrelated docs are never merged and no duplicate
    output rows appear."""
    from rkts_migration_spark.operators.dedup import neardup_clusters

    docs = [
        ("doc7", "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10"),
        ("doc007", "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10"),  # unrelated text
        ("E12", "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"),
        ("E0012", "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"),   # true near-dup pair
    ]
    df = spark.createDataFrame(docs, "doc_id string, text string")
    out = neardup_clusters(df, k=16, bands=16, shingle_n=1,
                           threshold_pct=80)
    rows = out.collect()
    assert len(rows) == len(docs)  # exactly one output row per input id
    got = {r["doc_id"]: (r["cluster_id"], r["keep"]) for r in rows}
    # unrelated docs keep separate singleton clusters
    assert got["doc7"] == ("doc7", True)
    assert got["doc007"] == ("doc007", True)
    # the REAL near-dup pair merges; representative is the padded-min
    # with raw tiebreak ('E0012' < 'E12' once digit runs equal)
    assert got["E0012"] == ("E0012", True)
    assert got["E12"] == ("E0012", False)


def test_dedup_cached_deps_released(spark):
    """Operators that persist load-bearing intermediates attach the
    handles to their result; release_cached_deps frees every one
    (ADVICE r3: chained passes must not accumulate cached tables)."""
    from rkts_migration_spark.operators.caching import (
        cached_deps_of,
        release_cached_deps,
    )
    from rkts_migration_spark.operators.dedup import (
        jaccard_pairs,
        neardup_candidates,
    )

    docs = [(f"d{i}", "a b c d e f g h") for i in range(20)]
    df = spark.createDataFrame(docs, "doc_id string, text string")

    pairs = jaccard_pairs(df, threshold_pct=80, max_df=None)
    pairs.count()
    deps = cached_deps_of(pairs)
    assert deps and all(d.storageLevel.useMemory or d.storageLevel.useDisk
                        for d in deps)
    assert release_cached_deps(pairs) == len(deps)
    assert all(not (d.storageLevel.useMemory or d.storageLevel.useDisk)
               for d in deps)
    assert release_cached_deps(pairs) == 0  # idempotent

    cand = neardup_candidates(df, k=8, bands=8, shingle_n=1)
    cand.count()
    deps = cached_deps_of(cand)
    assert len(deps) == 2  # band-bucket table + hot-bucket list
    assert release_cached_deps(cand) == 2
    assert all(not (d.storageLevel.useMemory or d.storageLevel.useDisk)
               for d in deps)


def test_gazetteer_collect_guard(spark):
    """extract's driver-side surface collect fails loud above the cap
    instead of OOMing the driver on a corpus-sized gazetteer."""
    import pytest

    from pyspark.sql import functions as F

    from rkts_migration_spark.extract import (
        MAX_GAZETTEER_SURFACES,
        _normalized_surfaces,
    )

    big = spark.range(MAX_GAZETTEER_SURFACES + 1).select(
        F.concat(F.lit("surface "), F.col("id")).alias("surface"))
    with pytest.raises(ValueError, match="distributed strategy"):
        _normalized_surfaces(big)


def test_conversations_as_documents_stable_bytes(spark):
    """Document bytes are a pure function of the data: identical under
    repartitioning (array_sort on turn_idx, not collect order), role
    prefixes and ordering correct."""
    from rkts_migration_spark.operators.ordering import (
        conversations_as_documents,
    )

    rows = [
        ("c1", 1, "assistant", "world"),
        ("c1", 0, "user", "hello"),
        ("c1", 2, "user", "bye"),
        ("c2", 0, "user", "solo"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, "
                                     "role string, text string")
    docs = {r["doc_id"]: r for r in
            conversations_as_documents(df).collect()}
    assert docs["c1"]["text"] == "user: hello\nassistant: world\nuser: bye"
    assert docs["c1"]["n_turns"] == 3 and docs["c2"]["n_turns"] == 1
    again = {r["doc_id"]: r["text"] for r in
             conversations_as_documents(df.repartition(7)).collect()}
    assert again == {k: v["text"] for k, v in docs.items()}
    bare = {r["doc_id"]: r["text"] for r in
            conversations_as_documents(df, include_role=False).collect()}
    assert bare["c1"] == "hello\nworld\nbye"


def test_hot_bucket_caps_lsh_and_simhash(spark):
    """A mass-duplicated document (boilerplate) floods one bucket in
    every band; the max_bucket guard drops those buckets from the
    self-join while sub-cap pairs still emerge. Both candidate
    generators share the guard semantics."""
    from rkts_migration_spark.operators.dedup import (
        neardup_candidates,
        simhash_candidates,
    )

    boiler = "exactly the same boilerplate text repeated across the corpus"
    pair = "a genuinely similar pair of documents about spark shuffles"
    rows = [(i, boiler) for i in range(1, 4)]          # 3 identical
    rows += [(10, pair), (11, pair + " indeed")]       # near pair
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    capped = {(r["doc_a"], r["doc_b"]) for r in neardup_candidates(
        docs, k=8, bands=4, shingle_n=2, max_bucket=2).collect()}
    assert (10, 11) in capped
    assert not any(a in (1, 2, 3) and b in (1, 2, 3) for a, b in capped)
    uncapped = {(r["doc_a"], r["doc_b"]) for r in neardup_candidates(
        docs, k=8, bands=4, shingle_n=2, max_bucket=None).collect()}
    assert {(1, 2), (1, 3), (2, 3)} <= uncapped

    sh_capped = {(r["doc_a"], r["doc_b"])
                 for r in simhash_candidates(docs, max_bucket=2).collect()}
    assert not any(a in (1, 2, 3) and b in (1, 2, 3) for a, b in sh_capped)
    sh_open = {(r["doc_a"], r["doc_b"])
               for r in simhash_candidates(docs, max_bucket=None).collect()}
    assert {(1, 2), (1, 3), (2, 3)} <= sh_open
