"""Self-tests of the benchmark: the correctness gate and the generator.

The file name keeps them out of the repository's default test discovery;
run them by path:

    python3 -m pytest perfbench/tests/checks.py -q
"""

from __future__ import annotations

import pytest

from perfbench import gen
from perfbench.gate import check, digest
from rkts_migration_spark import oracle
from rkts_migration_spark.fixtures import FixtureSet


@pytest.fixture(scope="module")
def reference_triples() -> set:
    dims, drops = gen.generate("g65", 1)
    return oracle.run_oracle(FixtureSet(transcripts=drops[0], **dims))


def test_gate_accepts_the_reference(reference_triples):
    want = digest(reference_triples)
    assert check(digest(sorted(reference_triples, reverse=True)), want) is None


def test_gate_rejects_a_one_triple_change(reference_triples):
    want = digest(reference_triples)
    s, p, o = min(reference_triples)
    changed = (reference_triples - {(s, p, o)}) | {(s, p, o + "x")}
    assert len(changed) == len(reference_triples)
    assert "digest differs" in check(digest(changed), want)
    assert "count" in check(digest(reference_triples - {(s, p, o)}), want)


def test_spark_digest_equals_python_digest():
    from rkts_migration_spark.session import get_spark

    from perfbench.gate import spark_digest

    triples = {("s", "p", '"tab\\tq\\"uote"@en'), ("s", "p", "o"),
               ("http://x/é", "p2", '"ünï"@bo-x-ewts')}
    spark = get_spark(app_name="perfbench-tests", master="local[1]")
    try:
        df = spark.createDataFrame(sorted(triples), "subj string, pred string, obj string")
        assert spark_digest(df) == digest(triples)
    finally:
        spark.stop()


def test_generator_is_deterministic_per_seed():
    a = gen.generate("g65", 7)
    assert a == gen.generate("g65", 7)
    assert a[1][0] != gen.generate("g65", 8)[1][0]


@pytest.mark.parametrize("kind", ["g65", "g6k"])
def test_generator_size_is_seed_invariant(kind):
    sizes, unions = set(), []
    for seed in (1, 2):
        dims, drops = gen.generate(kind, seed)
        ref = gen.reference(dims, drops)
        sizes.add((tuple(len(d) for d in drops),
                   tuple(d["count"] for d in ref["drops"])))
        unions.append(ref["union"]["count"])
    assert len(sizes) == 1, sizes
    # drops may see an entity's aliases in different orders, so the union
    # can hold a few more distinct prefLabel/altLabel triples
    assert max(unions) - min(unions) <= 1e-3 * min(unions), unions


def test_later_drops_redeliver_part_of_drop_zero():
    _, drops = gen.generate("g6k", 3)
    turns = [{(r["conv_id"], r["turn_idx"]) for r in d} for d in drops]
    again = {c for c, _ in turns[0] & turns[1]}
    assert len(again) == gen.KINDS["g6k"][3]
    assert {t for t in turns[0] if t[0] in again} <= turns[1]
