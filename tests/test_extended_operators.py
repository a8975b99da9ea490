"""Tests for the extended operator families: fills, similarity (exact
vs LSH), dedup (minhash/simhash/jaccard), text stats, location grammar,
multimodal plumbing, streaming-over-batch."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rkts_migration_spark.functions.locations import (
    folio_side_to_pagenum,
    make_parse_location_udf,
)
from rkts_migration_spark.operators.dedup import (
    jaccard_pairs,
    minhash_candidates,
    minhash_signature,
    simhash,
)
from rkts_migration_spark.operators.fill import attach_to_next, carry_last_seen
from rkts_migration_spark.operators.multimodal import (
    extract_media_features,
    synthetic_media,
)
from rkts_migration_spark.operators.similarity import cosine_topk, lsh_topk
from rkts_migration_spark.operators.textstats import (
    with_fingerprint,
    with_lang_id,
    with_quality,
    with_token_stats,
)


# --- fills -----------------------------------------------------------------

def test_fills(spark):
    rows = [("u", 1, None), ("u", 2, 10.0), ("u", 3, None), ("u", 4, 20.0),
            ("u", 5, None)]
    df = spark.createDataFrame(rows, "k string, o int, v double")
    fwd = {r["o"]: r["v_filled"]
           for r in attach_to_next(df, "v", ["k"], ["o"]).collect()}
    assert fwd == {1: 10.0, 2: 10.0, 3: 20.0, 4: 20.0, 5: None}
    back = {r["o"]: r["v_carried"]
            for r in carry_last_seen(df, "v", ["k"], ["o"]).collect()}
    assert back == {1: None, 2: 10.0, 3: 10.0, 4: 20.0, 5: 20.0}


# --- similarity ------------------------------------------------------------

@pytest.fixture(scope="module")
def vectors(spark):
    import math
    rows = []
    for i in range(40):
        angle = (i % 8) * math.pi / 16
        rows.append((i, [float(math.cos(angle)), float(math.sin(angle)),
                         float(i % 3) * 0.1, 0.5]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_exact(vectors):
    out = cosine_topk(vectors.filter(F.col("vec_id") < 2), vectors, k=3)
    rows = out.collect()
    assert len(rows) == 6  # 2 queries x top-3
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r["cosine"])
    for q, sims in by_q.items():
        assert sims == sorted(sims, reverse=True)
        assert all(-1.0 <= s <= 1.0001 for s in sims)
    # vec 0 and vec 8 are identical directions -> top neighbor cosine 1.0
    top0 = [r for r in rows if r["query_id"] == 0][0]
    assert top0["cosine"] == pytest.approx(1.0, abs=1e-3)


def test_lsh_topk_finds_identical_vectors(vectors):
    out = lsh_topk(vectors.filter(F.col("vec_id") < 2), vectors, dim=4, k=3,
                   n_planes=4)
    rows = out.collect()
    # identical-direction vectors share every hyperplane sign -> same
    # bucket, so the exact-duplicate neighbor is always found
    top0 = [r for r in rows if r["query_id"] == 0]
    assert top0 and top0[0]["cosine"] == pytest.approx(1.0, abs=1e-3)


# --- dedup family ----------------------------------------------------------

@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),   # exact dup
        (3, "the quick brown fox leaps over the lazy dog"),   # near dup
        (4, "completely different text about spark windows"),
        (5, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_near_dups(docs):
    sig = minhash_signature(docs)
    assert sig.count() == 4  # empty text filtered
    cands = {(r["doc_a"], r["doc_b"]) for r in minhash_candidates(docs).collect()}
    assert (1, 2) in cands          # exact dups always collide
    assert (1, 4) not in cands      # disjoint docs don't


def test_simhash_close_for_near_dups(docs):
    s = {r["doc_id"]: r["simhash4"] for r in simhash(docs).collect()}
    assert s[1] == s[2]
    ham_near = bin(s[1] ^ s[3]).count("1")
    assert ham_near <= 2


def test_jaccard_pairs(docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in jaccard_pairs(docs, threshold_pct=50).collect()}
    assert pairs[(1, 2)] == 1.0
    assert 0.5 <= pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs


# --- text stats ------------------------------------------------------------

def test_textstats(docs):
    d = docs.filter(F.length("text") > 0)
    ts = {r["doc_id"]: r for r in with_token_stats(d).collect()}
    assert ts[1]["n_tokens"] == 9 and ts[1]["n_distinct"] == 8
    q = {r["doc_id"]: r["passes_quality"] for r in with_quality(d).collect()}
    assert q[1] == 1
    lang = {r["doc_id"]: r["predicted_lang"] for r in with_lang_id(d).collect()}
    assert lang[1] == "en"
    fp = {r["doc_id"]: r["fingerprint"] for r in with_fingerprint(d).collect()}
    assert fp[1] == fp[2] and fp[1] != fp[4]


def test_repetition_stats_gopher_filters(spark):
    """Gopher-style repetition gates: duplicate-line fraction and
    top-bigram fraction, row-local (no shuffle)."""
    from rkts_migration_spark.operators.textstats import with_repetition_stats

    docs = spark.createDataFrame(
        [
            ("clean", "alpha beta gamma delta epsilon zeta eta theta"),
            ("dup_lines", "same line\nsame line\nsame line\nunique line"),
            ("spam_bigram", ("spam ham " * 10).strip()),
            ("tiny", "one"),
        ],
        "doc_id string, text string",
    )
    got = {r["doc_id"]: r for r in with_repetition_stats(docs).collect()}
    assert {k: v["passes_repetition"] for k, v in got.items()} == {
        "clean": 1, "dup_lines": 0, "spam_bigram": 0, "tiny": 1}
    assert got["dup_lines"]["dup_line_frac"] == 0.5
    # 20 alternating tokens -> 19 bigrams, 'spam ham' x10 -> 10/19
    assert got["spam_bigram"]["top_bigram_frac"] == round(10 / 19, 4)
    assert got["tiny"]["top_bigram_frac"] == 0.0


def test_pii_redaction(spark):
    from rkts_migration_spark.operators.textstats import with_pii_redacted

    docs = spark.createDataFrame(
        [
            ("pii", "mail john.doe+x@example.com or call (555) 123-4567; "
                    "ssn 123-45-6789 ok"),
            ("clean", "no personal identifiers in sight"),
        ],
        "doc_id string, text string",
    )
    got = {r["doc_id"]: r for r in with_pii_redacted(docs).collect()}
    red = got["pii"]["text_redacted"]
    assert "<EMAIL>" in red and "<PHONE>" in red and "<SSN>" in red
    assert "example.com" not in red and "4567" not in red and "6789" not in red
    assert got["pii"]["n_redactions"] == 3
    assert got["clean"]["n_redactions"] == 0
    assert got["clean"]["text_redacted"] == got["clean"]["text"]


def test_stratified_sample_deterministic(spark):
    """Key-hash sampling: identical sample at any partitioning, exact
    per-call reproducibility, unlisted strata dropped, fraction 1.0
    keeps everything."""
    from rkts_migration_spark.operators.textstats import stratified_sample

    df = spark.createDataFrame(
        [(f"d{i}", "en" if i % 2 == 0 else "es") for i in range(2000)],
        "doc_id string, lang string",
    )
    fr = {"en": 0.5, "es": 0.1}
    ids1 = {r["doc_id"] for r in
            stratified_sample(df, "lang", fr, "doc_id").collect()}
    ids2 = {r["doc_id"] for r in
            stratified_sample(df.repartition(13), "lang", fr,
                              "doc_id").collect()}
    assert ids1 == ids2 and ids1
    by_lang = {"en": 0, "es": 0}
    for i in ids1:
        by_lang["en" if int(i[1:]) % 2 == 0 else "es"] += 1
    assert abs(by_lang["en"] / 1000 - 0.5) < 0.08
    assert abs(by_lang["es"] / 1000 - 0.1) < 0.05

    full = stratified_sample(df, "lang", {"en": 1.0}, "doc_id").collect()
    assert len(full) == 1000 and all(r["lang"] == "en" for r in full)


# --- location grammar (F9-F11 parity) ---------------------------------------

def test_location_grammar(spark):
    cases = [
        "'dul ba, ka 1b1-nga 302a5 (vol. 1-4)",
        "gzugs, wam 245a4-247a7 (vol. 102)",
        "rgyud, ja 39b7 (vol. 83)",
        "bad loc !!",
    ]
    df = spark.createDataFrame([(c,) for c in cases], "s string")
    udf = make_parse_location_udf("full")
    got = {r["s"]: r["loc"] for r in
           df.select("s", udf(F.col("s")).alias("loc")).collect()}
    l1 = got[cases[0]]
    assert l1["section"] == "'dul ba" and l1["bvolname"] == "ka"
    assert l1["bpagenum"] == 1 and l1["bpageside"] == "b" and l1["blinenum"] == 1
    assert l1["evolname"] == "nga" and l1["epagenum"] == 302
    assert l1["bvolnum"] == 1 and l1["evolnum"] == 4 and l1["valid"]
    l3 = got[cases[2]]
    assert l3["bpagenum"] == 39 and l3["bpageside"] == "b" and l3["elinenum"] is None
    assert not got["bad loc !!"]["valid"]
    # chemdo simple grammar
    simple = make_parse_location_udf("simple")
    s = spark.createDataFrame([("417-421",)], "s string").select(
        simple(F.col("s")).alias("loc")).collect()[0]["loc"]
    assert s["bpagenum"] == 417 and s["epagenum"] == 421 and s["valid"]


def test_folio_arithmetic(spark):
    # imagenum = 2*(folio-1) + first_folio_page + (side=='b')
    df = spark.createDataFrame(
        [(1, "a", 3), (1, "b", 3), (10, "b", 5)], "folio int, side string, ffp int")
    got = [r["n"] for r in df.select(
        folio_side_to_pagenum(F.col("folio"), F.col("side"), F.col("ffp"))
        .alias("n")).collect()]
    assert got == [3, 4, 24]


# --- multimodal plumbing -----------------------------------------------------

def test_media_features(spark):
    media = synthetic_media(spark, n=12)
    out = extract_media_features(media, dim=8).collect()
    assert len(out) == 12
    by_id = {r["media_id"]: r for r in out}
    assert all(len(r["feature"]) == 8 for r in out)
    assert by_id[0]["n_bytes"] == 32 and by_id[6]["n_bytes"] == 224  # 32*(1+6%7)
    # determinism: same payload -> same sha/feature
    out2 = extract_media_features(synthetic_media(spark, n=12), dim=8).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_media_real_decode_is_stubbed(spark):
    from rkts_migration_spark.operators.multimodal import DecodeUnavailable
    media = synthetic_media(spark, n=2)
    with pytest.raises(Exception) as ei:
        extract_media_features(media, use_real_decode=True).collect()
    assert "DecodeUnavailable" in str(ei.value) or "decoding requires" in str(ei.value)


# --- streaming over batch -----------------------------------------------------

def test_stream_matches_batch(spark, tmpdir_ckpt):
    import os

    from rkts_migration_spark.fixtures import fixtures_to_spark, make_fixtures
    from rkts_migration_spark.fixtures import TRANSCRIPT_DDL
    from rkts_migration_spark.pipeline import build_triples_inmem
    from rkts_migration_spark.streaming import stream_from_directory, stream_triples

    fx = make_fixtures(seed=7, n_convs=12)
    tables = fixtures_to_spark(spark, fx)
    batch_triples = {
        (r["subj"], r["pred"], r["obj"])
        for r in build_triples_inmem(spark, tables).collect()
    }

    in_dir = os.path.join(tmpdir_ckpt, "in")
    tables["transcripts"].coalesce(1).write.parquet(in_dir)
    stream = stream_from_directory(spark, in_dir, TRANSCRIPT_DDL)
    got: set = set()

    def sink(df, batch_id):
        got.update((r["subj"], r["pred"], r["obj"]) for r in df.collect())

    q = stream_triples(
        stream, {k: v for k, v in tables.items() if k != "transcripts"},
        sink, os.path.join(tmpdir_ckpt, "ckpt"))
    q.awaitTermination(120)
    assert got == batch_triples


@pytest.mark.parametrize("form", ["stream_triples", "stream_kg_ingest",
                                  "raising_sink", "raising_append"])
def test_stream_releases_batch_caches(spark, tmpdir_ckpt, form, monkeypatch):
    """Each micro-batch's in-memory pipeline caches (ordered, linked),
    and the ingest's bucketed candidates, are released once its sink or
    append has run: over five file micro-batches the persisted-RDD
    count ends where it began. It does too when the sink, or the
    append into an existing store, raises and fails the query."""
    import os

    from pyspark.sql import functions as F

    from rkts_migration_spark.fixtures import (
        TRANSCRIPT_DDL,
        fixtures_to_spark,
        make_fixtures,
    )
    from rkts_migration_spark.operators.graph import with_triple_bucket
    from rkts_migration_spark.streaming import (
        incremental,
        stream_from_directory,
        stream_kg_ingest,
        stream_triples,
    )

    tables = fixtures_to_spark(spark, make_fixtures(seed=5, n_convs=10))
    tr = tables.pop("transcripts")
    src = os.path.join(tmpdir_ckpt, "src")
    for k in range(5):
        (tr.filter(F.col("conv_id").isin([f"C{2 * k:06d}", f"C{2 * k + 1:06d}"]))
         .coalesce(1).write.mode("append").parquet(src))
    stream = stream_from_directory(spark, src, TRANSCRIPT_DDL)
    ck = os.path.join(tmpdir_ckpt, "ck")
    store = os.path.join(tmpdir_ckpt, "store")
    batches: list[int] = []

    def persisted() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    def fail(*_):
        raise RuntimeError(f"{form} failed")

    before = persisted()
    if form in ("stream_triples", "raising_sink"):
        q = stream_triples(stream, tables, fail if form == "raising_sink"
                           else lambda df, bid: batches.append(df.count()), ck)
    else:
        if form == "raising_append":
            # an existing store: the batch also caches its bucketed candidates
            incremental.append_delta(with_triple_bucket(spark.createDataFrame(
                [("s", "p", "o")], "subj string, pred string, obj string"),
                64), store)
            monkeypatch.setattr(incremental, "append_delta", fail)
        q = stream_kg_ingest(stream, tables, store, ck,
                             on_batch=lambda bid, n: batches.append(n))
    if form.startswith("raising"):
        with pytest.raises(Exception, match=f"{form} failed"):
            q.awaitTermination(300)
        assert batches == []
    else:
        q.awaitTermination(300)
        assert len(batches) == 5 and all(n > 0 for n in batches)
    assert persisted() == before


def test_stream_builds_dictionaries_once(spark, tmpdir_ckpt, monkeypatch):
    """A stream's dictionary tables never change: its first micro-batch
    builds them and the later ones reuse them. Over three file
    micro-batches the canonical map is built once and the store holds
    the union of the batches' own in-memory triples; a restart that
    finds no new file builds nothing."""
    import os

    from pyspark.sql import functions as F

    from rkts_migration_spark import pipeline
    from rkts_migration_spark.fixtures import (
        TRANSCRIPT_DDL,
        fixtures_to_spark,
        make_fixtures,
    )
    from rkts_migration_spark.streaming import (
        stream_from_directory,
        stream_kg_ingest,
    )

    tables = fixtures_to_spark(spark, make_fixtures(seed=9, n_convs=6))
    tr = tables.pop("transcripts")
    drops = [tr.filter(F.col("conv_id").isin([f"C{2 * k:06d}", f"C{2 * k + 1:06d}"]))
             for k in range(3)]
    src = os.path.join(tmpdir_ckpt, "src")
    for drop in drops:
        drop.coalesce(1).write.mode("append").parquet(src)

    def triple_set(df):
        return {(r["subj"], r["pred"], r["obj"]) for r in df.collect()}

    expected: set = set()
    for drop in drops:
        expected |= triple_set(
            pipeline.build_triples_inmem(spark, {**tables, "transcripts": drop}))

    built = []
    build_canonical_map = pipeline.build_canonical_map
    monkeypatch.setattr(pipeline, "build_canonical_map",
                        lambda *a, **k: built.append(1) or build_canonical_map(*a, **k))
    store = os.path.join(tmpdir_ckpt, "store")
    ck = os.path.join(tmpdir_ckpt, "ck")

    def ingest() -> list[int]:
        batches: list[int] = []
        stream_kg_ingest(stream_from_directory(spark, src, TRANSCRIPT_DDL),
                         tables, store, ck,
                         on_batch=lambda bid, n: batches.append(bid)
                         ).awaitTermination(300)
        return batches

    assert ingest() == [0, 1, 2]
    assert len(built) == 1
    assert triple_set(spark.read.parquet(store)) == expected
    assert ingest() == []  # restart: every file is committed
    assert len(built) == 1


def test_stream_kg_ingest_idempotent_delta(spark, tmpdir_ckpt):
    """Continuous KG construction: three file drops (convs A, convs B,
    then an exact RE-DELIVERY of A), maxFilesPerTrigger=1 => three
    micro-batches. The committed store must equal the set-union of the
    per-batch pipeline outputs with zero duplicate rows, and the
    re-delivered batch must append exactly nothing (idempotent
    at-least-once -> exactly-once effect)."""
    import os

    from pyspark.sql import functions as F

    from rkts_migration_spark.fixtures import (
        TRANSCRIPT_DDL,
        fixtures_to_spark,
        make_fixtures,
    )
    from rkts_migration_spark.pipeline import build_triples_inmem
    from rkts_migration_spark.streaming import (
        stream_from_directory,
        stream_kg_ingest,
    )

    fx = make_fixtures(seed=11, n_convs=10)
    tables = fixtures_to_spark(spark, fx)
    tr = tables["transcripts"]
    convs = sorted(
        r["conv_id"] for r in tr.select("conv_id").distinct().collect())
    conv_a, conv_b = convs[:5], convs[5:]
    batch_a = tr.filter(F.col("conv_id").isin(conv_a))
    batch_b = tr.filter(F.col("conv_id").isin(conv_b))

    src = os.path.join(tmpdir_ckpt, "ingest_src")
    os.makedirs(src)
    for drop in (batch_a, batch_b, batch_a):  # third = re-delivery of A
        drop.coalesce(1).write.mode("append").parquet(src)

    dicts = {k: v for k, v in tables.items() if k != "transcripts"}
    store = os.path.join(tmpdir_ckpt, "triple_store")
    appended: dict[int, int] = {}

    q = stream_kg_ingest(
        stream_from_directory(spark, src, TRANSCRIPT_DDL),
        dicts, store, os.path.join(tmpdir_ckpt, "ingest_ck"),
        on_batch=lambda bid, n: appended.__setitem__(bid, n),
    )
    q.awaitTermination(180)

    def triple_set(df):
        return {(r["subj"], r["pred"], r["obj"]) for r in df.collect()}

    expected = triple_set(
        build_triples_inmem(spark, {**dicts, "transcripts": batch_a})
    ) | triple_set(
        build_triples_inmem(spark, {**dicts, "transcripts": batch_b})
    )
    got = spark.read.parquet(store)
    assert triple_set(got) == expected
    assert got.count() == len(expected)  # no duplicate rows in the store
    assert len(appended) == 3
    assert appended[2] == 0  # re-delivered batch appended nothing
    assert appended[0] + appended[1] == len(expected)

    # lineage manifests: one per micro-batch, appended counts match,
    # and the zero-append re-delivery is itself recorded
    import json as _json
    mdir = os.path.join(store, "_INGEST_MANIFESTS")
    manifests = sorted(os.listdir(mdir))
    assert len(manifests) == 3
    by_id = {}
    for name in manifests:
        with open(os.path.join(mdir, name)) as f:
            m = _json.load(f)
        by_id[m["batch_id"]] = m
    assert {b: m["appended_triples"] for b, m in by_id.items()} == appended
    assert all(m["input_rows"] > 0 for m in by_id.values())


def test_append_delta_counts_rows_in_the_write(spark, tmpdir_ckpt):
    """append_delta commits a delta in one write and returns the rows
    that write appended: the exact count for a non-empty delta, 0 for
    an empty one. The empty delta has the shape of a re-delivered
    batch, an anti-join against the store that comes out empty: a count
    observed below the append's shuffle is dropped by AQE there and
    fails. An empty append adds no part file."""
    import os

    from rkts_migration_spark.operators.graph import (
        TRIPLE_BUCKET_COL,
        with_triple_bucket,
    )
    from rkts_migration_spark.streaming.incremental import append_delta

    delta = with_triple_bucket(spark.createDataFrame(
        [(f"s{i}", "p", f"o{i}") for i in range(50)],
        "subj string, pred string, obj string"), 8)
    keys = [TRIPLE_BUCKET_COL, "subj", "pred", "obj"]
    store = os.path.join(tmpdir_ckpt, "store")

    def part_files() -> list[str]:
        return sorted(os.path.join(d, f) for d, _, fs in os.walk(store)
                      for f in fs if f.startswith("part-"))

    assert append_delta(delta, store) == 50
    assert spark.read.parquet(store).count() == 50
    files = part_files()
    empty = delta.join(spark.read.parquet(store), on=keys, how="left_anti")
    assert append_delta(empty, store) == 0
    assert spark.read.parquet(store).count() == 50
    assert part_files() == files


def test_store_probe_and_scan_stats(spark, tmpdir_ckpt):
    """A micro-batch probes the store by listing it: no store (or a
    root without data files) is None, bucket directories read as the
    store, and a store without a recorded bucket count gets the
    caller's. A root of plain part files, or a bucket count other than
    the recorded one, is refused. The manifest's scan stats count
    the part files and bytes under the touched buckets that exist, skip
    touched buckets not yet written, and count every bucket for the
    total."""
    import json
    import os

    from rkts_migration_spark.operators.graph import (
        TRIPLE_BUCKET_COL,
        with_triple_bucket,
    )
    from rkts_migration_spark.streaming.incremental import (
        _read_store,
        _store_scan_stats,
        append_delta,
    )

    assert _read_store(spark, os.path.join(tmpdir_ckpt, "absent"), 64) is None
    delta = spark.createDataFrame(
        [(f"s{i}", "p", f"o{i}") for i in range(40)],
        "subj string, pred string, obj string")
    unbucketed = os.path.join(tmpdir_ckpt, "unbucketed")
    delta.write.parquet(unbucketed)
    with pytest.raises(ValueError, match="unbucketed"):
        _read_store(spark, unbucketed, 64)

    store = os.path.join(tmpdir_ckpt, "store")
    os.makedirs(os.path.join(store, "_INGEST_MANIFESTS"))
    assert _read_store(spark, store, 64) is None
    for _ in range(2):  # two files in every bucket the delta touches
        append_delta(with_triple_bucket(delta, 64), store)
    got = _read_store(spark, store, 64)
    assert TRIPLE_BUCKET_COL in got.columns and got.count() == 80
    record = os.path.join(store, "_TRIPLE_BUCKETS.json")
    with open(record) as f:
        assert json.load(f) == {"n_buckets": 64}
    os.remove(record)  # a store written before the count was recorded
    assert _read_store(spark, store, 64).count() == 80
    with pytest.raises(ValueError, match="modulo 64, not n_buckets=16"):
        _read_store(spark, store, 16)

    buckets = {int(d.split("=", 1)[1]): [
        os.path.getsize(os.path.join(store, d, f))
        for f in os.listdir(os.path.join(store, d)) if f.startswith("part-")]
        for d in os.listdir(store) if d.startswith(f"{TRIPLE_BUCKET_COL}=")}
    present = sorted(buckets)[:2]
    absent = next(b for b in range(64) if b not in buckets)
    assert _store_scan_stats(spark, store, present + [absent]) == {
        "store_buckets_total": len(buckets),
        "store_buckets_read": 2,
        "store_files_read": sum(len(buckets[b]) for b in present),
        "store_bytes_read": sum(sum(buckets[b]) for b in present),
    }
    for none_read in ([], [absent]):
        assert _store_scan_stats(spark, store, none_read)["store_buckets_read"] == 0


def test_stream_kg_ingest_one_file_per_touched_bucket(spark, tmpdir_ckpt):
    """Each micro-batch's append is clustered by bucket: a batch adds
    exactly one part file to every bucket directory it appends rows
    to, and none to any other. Three drops (convs A, convs B, then A
    re-delivered); the re-delivery touches no bucket. A later run with
    another bucket count would miss the store's rows and append them
    again: it fails, and the store keeps its rows and files."""
    import os

    from pyspark.sql import functions as F

    from rkts_migration_spark.fixtures import (
        TRANSCRIPT_DDL,
        fixtures_to_spark,
        make_fixtures,
    )
    from rkts_migration_spark.operators.graph import TRIPLE_BUCKET_COL
    from rkts_migration_spark.streaming import (
        stream_from_directory,
        stream_kg_ingest,
    )

    tables = fixtures_to_spark(spark, make_fixtures(seed=13, n_convs=8))
    tr = tables.pop("transcripts")
    convs = sorted(r["conv_id"] for r in tr.select("conv_id").distinct().collect())
    batch_a = tr.filter(F.col("conv_id").isin(convs[:4]))
    batch_b = tr.filter(F.col("conv_id").isin(convs[4:]))
    src = os.path.join(tmpdir_ckpt, "src")
    for drop in (batch_a, batch_b, batch_a):
        drop.coalesce(1).write.mode("append").parquet(src)
    store = os.path.join(tmpdir_ckpt, "store")

    def snapshot() -> tuple[dict[int, set], set]:
        if not os.path.isdir(store):
            return {}, set()
        files = {
            int(d.split("=", 1)[1]): {f for f in os.listdir(os.path.join(store, d))
                                      if f.startswith("part-")}
            for d in os.listdir(store) if d.startswith(f"{TRIPLE_BUCKET_COL}=")
        }
        rows = {tuple(r) for r in spark.read.parquet(store).select(
            TRIPLE_BUCKET_COL, "subj", "pred", "obj").collect()}
        return files, rows

    seen = [snapshot()]
    per_batch: list[tuple[int, int, dict, dict]] = []

    def on_batch(bid: int, n: int) -> None:
        (files0, rows0), (files, rows) = seen[-1], snapshot()
        seen.append((files, rows))
        new_rows = rows - rows0
        gained = {b: len(fs - files0.get(b, set())) for b, fs in files.items()}
        per_batch.append((n, len(new_rows),
                          {b: k for b, k in gained.items() if k},
                          {r[0]: 1 for r in new_rows}))

    stream_kg_ingest(stream_from_directory(spark, src, TRANSCRIPT_DDL),
                     tables, store, os.path.join(tmpdir_ckpt, "ck"),
                     on_batch=on_batch, n_buckets=8).awaitTermination(300)
    assert len(per_batch) == 3
    for n, n_new, gained, touched in per_batch:
        assert n == n_new
        assert gained == touched
    assert len(per_batch[0][3]) > 1 and len(per_batch[1][3]) > 1
    assert per_batch[2][:3] == (0, 0, {})

    def listing() -> list[str]:
        return sorted(os.path.join(d, f) for d, _, fs in os.walk(store)
                      for f in fs)

    before = snapshot(), listing()
    q = stream_kg_ingest(stream_from_directory(spark, src, TRANSCRIPT_DDL),
                         tables, store, os.path.join(tmpdir_ckpt, "ck16"),
                         n_buckets=16)
    with pytest.raises(Exception, match="n_buckets=16"):
        q.awaitTermination(120)
    assert (snapshot(), listing()) == before


def test_stream_broadcasts_trie_surfaces_once(spark, tmpdir_ckpt, monkeypatch):
    """Over a gazetteer too large for the regex path, the micro-batches
    of one stream share one surface broadcast: it is built with the
    dictionary tables, so a three-batch stream ships the surface list
    once, and its Python workers keep their trie. The store still holds
    the union of the batches' own in-memory triples."""
    import os

    from pyspark.sql import functions as F

    from rkts_migration_spark import extract
    from rkts_migration_spark.fixtures import (
        TRANSCRIPT_DDL,
        fixtures_to_spark,
        make_fixtures,
    )
    from rkts_migration_spark.pipeline import build_triples_inmem
    from rkts_migration_spark.streaming import (
        stream_from_directory,
        stream_kg_ingest,
    )

    tables = fixtures_to_spark(
        spark, make_fixtures(seed=9, n_convs=6, n_entities=300))
    surfaces = extract._normalized_surfaces(tables["gazetteer"])
    assert len(surfaces) > extract.REGEX_MAX_SURFACES
    tr = tables.pop("transcripts")
    drops = [tr.filter(F.col("conv_id").isin([f"C{2 * k:06d}", f"C{2 * k + 1:06d}"]))
             for k in range(3)]
    src = os.path.join(tmpdir_ckpt, "src")
    for drop in drops:
        drop.coalesce(1).write.mode("append").parquet(src)

    def triple_set(df):
        return {(r["subj"], r["pred"], r["obj"]) for r in df.collect()}

    expected: set = set()
    for drop in drops:
        expected |= triple_set(
            build_triples_inmem(spark, {**tables, "transcripts": drop}))

    sc = spark.sparkContext
    made: list = []
    broadcast = sc.broadcast
    monkeypatch.setattr(sc, "broadcast",
                        lambda value: made.append(value) or broadcast(value))
    batches: list[int] = []
    store = os.path.join(tmpdir_ckpt, "store")
    stream_kg_ingest(stream_from_directory(spark, src, TRANSCRIPT_DDL),
                     tables, store, os.path.join(tmpdir_ckpt, "ck"),
                     on_batch=lambda bid, n: batches.append(bid)
                     ).awaitTermination(300)
    assert batches == [0, 1, 2]
    assert [v for v in made if isinstance(v, list)] == [surfaces]
    assert triple_set(spark.read.parquet(store)) == expected


def test_late_tolerant_turn_counts_stream(spark, tmpdir_ckpt):
    """Watermark + session_window over a file stream: out-of-order
    turns within a session aggregate into one window; a gap larger
    than session_gap splits sessions."""
    import os

    from rkts_migration_spark.fixtures import TRANSCRIPT_DDL
    from rkts_migration_spark.streaming.incremental import (
        late_tolerant_turn_counts,
        stream_from_directory,
    )

    src = os.path.join(tmpdir_ckpt, "stream_src")
    os.makedirs(src)
    rows = [  # out-of-order arrivals inside one session + a late gap
        ("C1", 2, "user", "c", None, "2026-01-01 10:05:00"),
        ("C1", 0, "user", "a", None, "2026-01-01 10:00:00"),
        ("C1", 1, "assistant", "b", None, "2026-01-01 10:02:00"),
        ("C1", 3, "user", "d", None, "2026-01-01 12:00:00"),  # new session
        ("C2", 0, "user", "x", None, "2026-01-01 10:00:00"),
    ]
    df = spark.createDataFrame(
        [(c, i, r, t, tool, __import__("datetime").datetime.fromisoformat(ts))
         for c, i, r, t, tool, ts in rows], TRANSCRIPT_DDL)
    df.coalesce(1).write.mode("overwrite").parquet(src)

    stream = stream_from_directory(spark, src, TRANSCRIPT_DDL)
    agg = late_tolerant_turn_counts(stream, "5 minutes", "30 minutes")
    q = (agg.writeStream.format("memory").queryName("sessions")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {
        (r["conv_id"], r["n_turns"], r["first_turn"], r["last_turn"])
        for r in spark.sql("select * from sessions").collect()
    }
    assert ("C1", 3, 0, 2) in got   # one session absorbs 3 unordered turns
    assert ("C1", 1, 3, 3) in got   # the 12:00 turn opens a new session
    assert ("C2", 1, 0, 0) in got


def test_stateful_turn_totals_across_microbatches(spark, tmpdir_ckpt):
    """applyInPandasWithState keeps per-conversation state across
    micro-batches: two file drops processed as separate batches
    (maxFilesPerTrigger=1) must show a cumulative total."""
    import datetime
    import os

    from rkts_migration_spark.fixtures import TRANSCRIPT_DDL
    from rkts_migration_spark.streaming.incremental import (
        stateful_turn_totals,
        stream_from_directory,
    )

    src = os.path.join(tmpdir_ckpt, "stateful_src")
    os.makedirs(src)
    ts = datetime.datetime(2026, 1, 1)

    def mk(rows):
        return spark.createDataFrame(
            [(c, i, "user", "t", None, ts) for c, i in rows], TRANSCRIPT_DDL)

    mk([("C1", 0), ("C1", 1), ("C2", 0)]).coalesce(1).write.parquet(
        os.path.join(src, "b0"))
    mk([("C1", 2), ("C2", 1)]).coalesce(1).write.parquet(
        os.path.join(src, "b1"))

    stream = stream_from_directory(
        spark, src + "/*", TRANSCRIPT_DDL, max_files_per_trigger=1)
    q = (stateful_turn_totals(stream)
         .writeStream.format("memory").queryName("totals")
         .outputMode("update")
         .option("checkpointLocation", os.path.join(tmpdir_ckpt, "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = {(r["conv_id"], r["batch_turns"], r["total_turns"])
            for r in spark.sql("select * from totals").collect()}
    # totals accumulate across the two micro-batches
    assert ("C1", 1, 3) in rows or ("C1", 2, 3) in rows, rows
    assert ("C2", 1, 2) in rows, rows


def test_multitable_lsh_recall_beats_single_table(spark):
    # Base = real 64-dim embeddings + a PLANTED near-duplicate of each
    # query (query vector with one coordinate nudged): ground truth for
    # "near-dup retrieval" is unambiguous, unlike exact top-5 over
    # weakly-clustered data where neighbors sit near 90 degrees and no
    # LSH configuration can (or should) find them. Multi-table must
    # dominate single-table and find essentially all planted pairs.
    from rkts_migration_spark.operators.similarity import (
        lsh_topk,
        lsh_topk_multitable,
    )

    base0 = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = base0.filter(F.col("vec_id") < 8).select("vec_id", "embedding")
    planted = queries.select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform(
            "embedding", lambda x, i: x + F.when(i == 0, 0.01).otherwise(0.0)
        ).cast("array<float>").alias("embedding"),
    )
    base = base0.select("vec_id", "embedding").unionByName(planted)
    want = {(q, q + 10000) for q in range(8)}

    def hits(df):
        return {(r["query_id"], r["neighbor_id"]) for r in df.collect()} & want

    single = hits(lsh_topk(queries, base, dim=64, k=5, n_planes=8))
    multi = hits(
        lsh_topk_multitable(queries, base, dim=64, k=5, n_planes=8, n_tables=4))
    assert len(multi) >= len(single)
    assert len(multi) == len(want)  # every planted near-dup recovered


def test_ivf_topk_recall_and_probe_dial(spark):
    from rkts_migration_spark.operators.similarity import cosine_topk, ivf_topk

    base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = base.filter(F.col("vec_id") < 8)

    def pairs(df):
        return {(r["query_id"], r["neighbor_id"]) for r in df.collect()}

    truth = pairs(cosine_topk(queries, base, k=5))
    few = pairs(ivf_topk(queries, base, k=5, n_cells=16, n_probe=2))
    more = pairs(ivf_topk(queries, base, k=5, n_cells=16, n_probe=8))
    all_cells = pairs(ivf_topk(queries, base, k=5, n_cells=16, n_probe=16))
    # probing more cells monotonically improves recall; probing every
    # cell IS the exact search
    assert len(few & truth) <= len(more & truth) <= len(all_cells & truth)
    assert all_cells == truth
    assert len(more & truth) / len(truth) >= 0.5


def test_ivf_kmeans_centroids_beat_demo_quantizer(spark):
    """Production quantizer: on a clustered fixture whose FIRST n ids
    all sit in one cluster (the demo first-n-by-id quantizer's worst
    case — every cell covers the same region), the bounded-sample
    Lloyd pass spreads centroids across the real clusters, so
    recall@k at n_probe=1 strictly improves."""
    import math

    from rkts_migration_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
        kmeans_centroids,
    )

    # 3 well-separated clusters in 8-dim (dims 0/1/2), ids 0..59 /
    # 60..119 / 120..179. The first three ids are adversarial for the
    # first-n-by-id quantizer: ids 0 and 1 differ ONLY in the sign of
    # dim 4, so every cluster-1/2 member's cell is decided by its tiny
    # dim-4 parity component — which is deliberately too small to
    # affect cosine RANKING (jitter dims 5-7 dominate, and the jitter
    # period 11 is odd so i and i+11 share jitter but flip parity).
    # True top-5 neighbors therefore mix parities and scatter across
    # demo cells: n_probe=1 misses ~1/3 of them (validated 0.667).
    def member(cluster, i):
        v = [0.0] * 8
        v[cluster] = 1.0
        v[4] = 0.01 if i % 2 == 0 else -0.01
        for d in (5, 6, 7):
            v[d] = 0.3 * ((((i * 3 + d * 5) % 11) - 5) / 5.0)
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    def special(which):
        v = [0.0] * 8
        if which == 2:
            v[0] = 1.0
        else:
            v[0] = v[1] = v[2] = 0.5
            v[4] = 0.7 if which == 0 else -0.7
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    rows = [
        (c * 60 + i,
         special(c * 60 + i) if c * 60 + i < 3 else member(c, i))
        for c in range(3) for i in range(60)
    ]
    base = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = base.filter(F.col("vec_id") % 30 == 7)  # 2 per cluster

    def pairs(df):
        return {(r["query_id"], r["neighbor_id"]) for r in df.collect()}

    truth = pairs(cosine_topk(queries, base, k=5))
    demo = pairs(ivf_topk(queries, base, k=5, n_cells=3, n_probe=1))
    cents = kmeans_centroids(base, n_cells=3, sample_n=180, seed=42)
    assert len(cents) == 3
    km = pairs(ivf_topk(queries, base, k=5, n_probe=1, centroids=cents))
    # demo centroids all come from cluster 0 -> clusters collapse into
    # few cells; k-means separates them -> exact recall at n_probe=1
    assert len(km & truth) > len(demo & truth)
    assert len(km & truth) == len(truth)
    # determinism: same seed -> same centroids
    assert cents == kmeans_centroids(base, n_cells=3, sample_n=180, seed=42)


def test_stream_kg_ingest_refuses_unbucketed_store(spark, tmpdir_ckpt):
    """The bucketed layout is the triple store's only one: a stream into
    a root of plain part files fails in its first micro-batch and adds
    no file to the store."""
    import os

    from rkts_migration_spark.fixtures import (
        TRANSCRIPT_DDL,
        fixtures_to_spark,
        make_fixtures,
    )
    from rkts_migration_spark.streaming import (
        stream_from_directory,
        stream_kg_ingest,
    )

    tables = fixtures_to_spark(spark, make_fixtures(seed=23, n_convs=2))
    src = os.path.join(tmpdir_ckpt, "src")
    tables.pop("transcripts").coalesce(1).write.parquet(src)
    store = os.path.join(tmpdir_ckpt, "store")
    spark.createDataFrame([("s", "p", "o")],
                          "subj string, pred string, obj string").write.parquet(store)
    files = sorted(os.listdir(store))
    q = stream_kg_ingest(stream_from_directory(spark, src, TRANSCRIPT_DDL),
                         tables, store, os.path.join(tmpdir_ckpt, "ck"))
    with pytest.raises(Exception, match="unbucketed part files"):
        q.awaitTermination(120)
    assert sorted(os.listdir(store)) == files


def test_compact_store_buckets_bounds_files(spark, tmpdir_ckpt):
    """Small-file compaction (VERDICT r4 #3): after many appends a
    bucket holds many part files; compaction rewrites ONLY oversized
    buckets, file counts drop to the target, and the store's triple
    set, row count and bucket assignment are unchanged. With
    compact_label_invariant=True the one-prefLabel-per-(entity, lang)
    rule is restored in the same pass, per bucket (subj-hash bucketing
    makes per-bucket label compaction exact)."""
    import os

    from pyspark.sql import functions as F

    from rkts_migration_spark import vocab as V
    from rkts_migration_spark.operators.graph import (
        TRIPLE_BUCKET_COL,
        with_triple_bucket,
    )
    from rkts_migration_spark.streaming.incremental import (
        compact_store_buckets,
        store_bucket_file_counts,
    )

    store = os.path.join(tmpdir_ckpt, "bucketed_store")
    n_buckets = 4
    # 6 appends of 1 file per bucket -> ~6 files per bucket
    for k in range(6):
        rows = [(f"s{i}", "p", f"o{i}_{k}") for i in range(32)]
        (with_triple_bucket(
            spark.createDataFrame(rows, "subj string, pred string, obj string"),
            n_buckets)
         .repartition(F.col(TRIPLE_BUCKET_COL))
         .write.mode("append").partitionBy(TRIPLE_BUCKET_COL).parquet(store))
    # plus two conflicting prefLabels for one entity (same bucket by subj)
    lab = [("E1", V.PRED_PREF_LABEL, '"b label"@en'),
           ("E1", V.PRED_PREF_LABEL, '"a label"@en')]
    (with_triple_bucket(
        spark.createDataFrame(lab, "subj string, pred string, obj string"),
        n_buckets)
     .repartition(F.col(TRIPLE_BUCKET_COL))
     .write.mode("append").partitionBy(TRIPLE_BUCKET_COL).parquet(store))

    before = store_bucket_file_counts(spark, store)
    assert max(before.values()) >= 6
    snapshot = {
        (r["subj"], r["pred"], r["obj"], r[TRIPLE_BUCKET_COL])
        for r in spark.read.parquet(store).collect()}

    res = compact_store_buckets(
        spark, store, max_files_per_bucket=2,
        compact_label_invariant=True)
    after = store_bucket_file_counts(spark, store)
    assert res["buckets_rewritten"] == sum(1 for n in before.values() if n > 2)
    assert max(after.values()) <= 2
    assert set(after) == set(before)  # no bucket lost or invented

    got = {
        (r["subj"], r["pred"], r["obj"], r[TRIPLE_BUCKET_COL])
        for r in spark.read.parquet(store).collect()}
    # label invariant restored: lexicographic-min prefLabel object wins
    kept = ("E1", V.PRED_PREF_LABEL, '"a label"@en')
    dropped = ("E1", V.PRED_PREF_LABEL, '"b label"@en')
    expected = {t for t in snapshot if t[:3] != dropped}
    assert any(t[:3] == kept for t in got)
    assert got == expected
    # aux dirs cleaned up
    assert not os.path.exists(os.path.join(store, "_COMPACT_TMP"))
    assert not os.path.exists(os.path.join(store, "_COMPACT_BACKUP"))
    # the per-bucket read compaction issues is PartitionFilters-pruned:
    # one bucket compaction reads ONE bucket directory, not the store
    single = spark.read.parquet(store).filter(
        F.col(TRIPLE_BUCKET_COL) == 0).select("subj", "pred", "obj")
    plan = single._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    files = {r[0] for r in
             single.select(F.input_file_name()).distinct().collect()}
    assert files and all(f"{TRIPLE_BUCKET_COL}=0/" in f for f in files)
    # idempotent: nothing left to rewrite
    res2 = compact_store_buckets(spark, store, max_files_per_bucket=2)
    assert res2["buckets_rewritten"] == 0


def test_stream_exact_dedup_across_microbatches(spark, tmpdir_ckpt):
    """dropDuplicatesWithinWatermark keyed on the content sha: a
    re-delivered identical document in a LATER micro-batch is dropped;
    distinct content passes. Two file drops, maxFilesPerTrigger=1 =>
    two micro-batches."""
    import datetime
    import os

    from rkts_migration_spark.streaming.incremental import (
        stream_exact_dedup,
        stream_from_directory,
    )

    ddl = "doc_id string, text string, ts timestamp"
    src = os.path.join(tmpdir_ckpt, "dedup_src")
    os.makedirs(src)
    t0 = datetime.datetime(2026, 1, 1, 10, 0, 0)

    batch1 = [("A", "alpha text", t0),
              ("B", "beta text", t0 + datetime.timedelta(minutes=1))]
    batch2 = [("B2", "beta text", t0 + datetime.timedelta(minutes=5)),  # dup
              ("C", "gamma text", t0 + datetime.timedelta(minutes=6))]
    spark.createDataFrame(batch1, ddl).coalesce(1).write.mode(
        "append").parquet(src)
    spark.createDataFrame(batch2, ddl).coalesce(1).write.mode(
        "append").parquet(src)

    stream = stream_from_directory(spark, src, ddl)
    deduped = stream_exact_dedup(stream, watermark="1 hour")
    q = (deduped.writeStream.format("memory").queryName("dedup_out")
         .outputMode("append")
         .option("checkpointLocation", os.path.join(tmpdir_ckpt, "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("select * from dedup_out").collect()
    texts = sorted(r["text"] for r in rows)
    assert texts == ["alpha text", "beta text", "gamma text"]
    # the survivor of the duplicate content is the FIRST delivery
    assert {r["doc_id"] for r in rows} == {"A", "B", "C"}


def test_sample_video_frames(spark):
    """Frame sampling: only video rows cross the Arrow boundary; the
    fake decode chunks the payload into frame_bytes records and emits
    every_n-th frame with a deterministic sha."""
    import hashlib

    from rkts_migration_spark.operators.multimodal import (
        sample_video_frames,
        synthetic_media,
    )

    media = synthetic_media(spark, n=12)  # kinds cycle image/audio/video
    out = sample_video_frames(media, every_n=2, frame_bytes=32).collect()
    assert out, "no sampled frames"
    video_ids = {r["media_id"] for r in media.filter("kind = 'video'").collect()}
    assert {r["media_id"] for r in out} <= video_ids
    assert all(r["frame_idx"] % 2 == 0 for r in out)
    # spot-check one frame's sha against a local recomputation
    row = media.filter("kind = 'video'").orderBy("media_id").first()
    payload = bytes(row["payload"])
    want = hashlib.sha256(payload[0:32]).hexdigest()[:16]
    got = [r for r in out if r["media_id"] == row["media_id"]
           and r["frame_idx"] == 0]
    assert got and got[0]["sha"] == want and got[0]["n_bytes"] == 32


def test_sample_video_frames_real_decode(spark):
    """Real-decode path: with PyAV present, a genuine encoded video
    payload demuxes into gray8 frames sampled at every_n in decode
    order; without PyAV the path raises DecodeUnavailable honestly
    (no dead 'not wired' stub either way)."""
    from rkts_migration_spark.operators import multimodal as M

    if M._pyav is None:
        media = M.synthetic_media(spark, n=3)
        with pytest.raises(Exception) as ei:
            M.sample_video_frames(media, use_real_decode=True).collect()
        assert "requires PyAV" in str(ei.value)
        return

    # PyAV available: encode a deterministic 8-frame 16x16 video
    import io

    import numpy as np

    buf = io.BytesIO()
    with M._pyav.open(buf, mode="w", format="mp4") as container:
        stream = container.add_stream("mpeg4", rate=4)
        stream.width, stream.height = 16, 16
        stream.pix_fmt = "yuv420p"
        for i in range(8):
            arr = np.full((16, 16, 3), i * 16, dtype=np.uint8)
            frame = M._pyav.VideoFrame.from_ndarray(arr, format="rgb24")
            for pkt in stream.encode(frame):
                container.mux(pkt)
        for pkt in stream.encode():
            container.mux(pkt)
    payload = buf.getvalue()
    media = spark.createDataFrame(
        [(1, "video", bytearray(payload), None)], M.MEDIA_SCHEMA
    )
    out = (
        M.sample_video_frames(media, every_n=3, use_real_decode=True)
        .orderBy("frame_idx").collect()
    )
    assert [r["frame_idx"] for r in out] == [0, 3, 6]
    assert all(r["n_bytes"] == 16 * 16 for r in out)  # gray8 pixels


def test_bpe_token_count_edges(spark):
    """BPE pre-tokenizer counts: contractions split, digit/letter runs
    split, punctuation separate, multi-space runs count once."""
    from pyspark.sql import functions as F

    from rkts_migration_spark.operators.textstats import bpe_token_count

    cases = [
        ("hello world", 2),          # " world" folds the space in
        ("it's fine", 3),            # it / 's / " fine"
        ("a1b2", 4),                 # letter/digit alternation splits
        ("x  y", 3),                 # "x", " " run, " y"? -> x, ' ', ' y'
        ("...", 1),                  # one punctuation run
        ("", 0),
    ]
    df = spark.createDataFrame([(t,) for t, _ in cases], "text string")
    got = {r["text"]: r["n"] for r in df.select(
        "text", bpe_token_count(F.col("text")).alias("n")).collect()}
    for text, want in cases:
        assert got[text] == want, (text, got[text], want)


def test_resize_images(spark):
    """Resize plumbing: only image rows cross the boundary, every
    output payload is exactly width*height bytes (the fixed byte
    budget), the fake stride is deterministic, and empty payloads
    produce zero-filled output instead of failing."""
    import numpy as np

    from rkts_migration_spark.operators.multimodal import (
        resize_images,
        synthetic_media,
    )

    media = synthetic_media(spark, n=9)  # kinds cycle image/audio/video
    out = resize_images(media, width=8, height=4).collect()
    image_ids = {r["media_id"] for r in media.filter("kind = 'image'").collect()}
    assert {r["media_id"] for r in out} == image_ids
    assert all(len(bytes(r["payload"])) == 32 for r in out)
    assert all((r["width"], r["height"], r["format"]) == (8, 4, "fake8")
               for r in out)
    # deterministic: the stride of the raw bytes, recomputed locally
    row = media.filter("kind = 'image'").orderBy("media_id").first()
    arr = np.frombuffer(bytes(row["payload"]), dtype=np.uint8)
    want = arr[np.linspace(0, arr.size - 1, 32).astype(np.int64)].tobytes()
    got = [bytes(r["payload"]) for r in out if r["media_id"] == row["media_id"]]
    assert got == [want]


def test_pack_documents_budget_and_determinism(spark):
    """Greedy packing: every pack within budget (oversized docs get
    singleton packs), every doc packed exactly once, membership
    identical regardless of input partitioning."""
    from rkts_migration_spark.operators.packing import pack_documents

    rows = [(f"d{i:03d}", "tok " * (i % 7 + 1)) for i in range(60)]
    rows.append(("huge", "tok " * 50))  # > budget -> singleton pack
    df = spark.createDataFrame(
        [(i, t.strip()) for i, t in rows], "doc_id string, text string")

    packed = pack_documents(df, budget=10, n_shards=4).collect()
    assert {r["doc_id"] for r in packed} == {i for i, _ in rows}
    assert len(packed) == len(rows)

    by_pack: dict = {}
    for r in packed:
        by_pack.setdefault(r["pack_id"], []).append(r)
    for pid, members in by_pack.items():
        total = sum(m["n_tokens"] for m in members)
        assert total <= 10 or len(members) == 1  # oversized singleton
        assert pid == min(m["doc_id"] for m in members)
    huge = [r for r in packed if r["doc_id"] == "huge"][0]
    assert huge["pack_id"] == "huge" and len(by_pack["huge"]) == 1

    again = pack_documents(df.repartition(13), budget=10, n_shards=4).collect()
    assert {(r["doc_id"], r["pack_id"]) for r in again} == \
        {(r["doc_id"], r["pack_id"]) for r in packed}
