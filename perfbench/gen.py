"""Seeded, seed-invariant input generator plus the oracle reference.

The seed picks the words, the conversation order and the drop
membership; it never picks the amount of work. Conversation sizes,
roles, placeholder turns and the number of mentions per turn are fixed
functions of position, every mention in a turn names a distinct
canonical entity and surfaces are dealt round-robin from a seeded deck,
so every gazetteer surface occurs in every drop. The oracle's triple
count of each drop is therefore the same for every seed. The union over
several drops can differ by a few label triples, when two drops meet an
entity's aliases in different orders and so pick different prefLabels.

Run as a script it writes one cache entry and exits, so the oracle's
in-memory triple set never lives in the measured process:

    python3 perfbench/gen.py --kind g65 --seed 1 --out <dir>

An entry holds ``dims/<table>.parquet`` (dictionary tables),
``drops/drop_NN.parquet`` (transcripts; one file per stream drop) and
``reference.json`` (triple count and order-free digest per drop and for
their union).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
from concurrent.futures import ProcessPoolExecutor
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rkts_migration_spark import oracle, vocab as V  # noqa: E402
from rkts_migration_spark.fixtures import (  # noqa: E402
    FixtureSet,
    make_dictionaries,
    make_gazetteer,
)

from perfbench.gate import digest  # noqa: E402

# kind -> (gazetteer entities, conversations per drop, drops, conversations
#          of drop 0 that every later drop delivers again)
KINDS = {
    "g65": (60, 800, 1, 0),
    "g6k": (6000, 250, 2, 100),
}

# five-letter pseudo-words: no gazetteer surface contains any of them as a
# token, so the only matches are the surfaces the generator plants
NOISE = [a + b for a in ("ka", "lo", "mi", "ru", "te", "vo", "zu", "pe")
         for b in ("dan", "rel", "mos", "tik", "bur", "len", "sop", "gar")]
ROLES = ("user", "assistant", "tool")
MENTIONS_PER_TURN = (0, 1, 2, 3, 4, 2, 1, 3)  # fixed cycle, mean 2
BASE_TS = datetime(2026, 1, 1, tzinfo=timezone.utc)

TRANSCRIPT_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])


def conv_size(local_idx: int) -> int:
    """Turns of the local_idx-th conversation of a drop: 8..24, mean 16."""
    return 8 + (local_idx * 7) % 17


def surface_entities(gazetteer: list[dict], dicts: dict) -> dict[str, str]:
    """Normalized surface -> IRI of the canonical entity it links to,
    by the oracle's own winner and canonicalization rules."""
    fx = FixtureSet(gazetteer=gazetteer, **dicts)
    canon = oracle.build_canonical_map(fx)
    abstract = oracle.build_abstract_lookup(fx, canon)
    best: dict[str, dict] = {}
    for g in gazetteer:
        s = V.norm_surface(g["surface"])
        key = (-g["weight"], V.id_sort_key(g["entity_id"]))
        if s not in best or key < (-best[s]["weight"],
                                   V.id_sort_key(best[s]["entity_id"])):
            best[s] = g
    out = {}
    for s, g in best.items():
        c = canon.get(g["entity_id"], g["entity_id"])
        out[s] = V.entity_iri(c, abstract.get(c))
    return out


class _Deck:
    """Seed-shuffled surfaces dealt round-robin, skipping a surface whose
    entity the current turn already mentions."""

    def __init__(self, rng: random.Random, ent_of: dict[str, str]):
        self.cards = sorted(ent_of)
        rng.shuffle(self.cards)
        self.ent_of = ent_of
        self.pos = 0

    def deal(self, k: int) -> list[str]:
        out: list[str] = []
        seen: set[str] = set()
        while len(out) < k:
            s = self.cards[self.pos % len(self.cards)]
            self.pos += 1
            if self.ent_of[s] not in seen:
                seen.add(self.ent_of[s])
                out.append(s)
        return out


def make_drop(rng: random.Random, deck: _Deck, conv_ids: list[int]) -> list[dict]:
    rows = []
    for local, cnum in enumerate(conv_ids):
        conv_id = f"C{cnum:07d}"
        for ti in range(conv_size(local)):
            role = ROLES[(ti // 3 + local) % 3]
            slot = (local * 31 + ti) % 20
            if slot == 7:
                text = ""
            elif slot == 13:
                text = "-"
            else:
                toks = [rng.choice(NOISE) for _ in range(6 + ti % 5)]
                k = MENTIONS_PER_TURN[(local + ti) % len(MENTIONS_PER_TURN)]
                # distinct gaps keep planted surfaces apart, so no two of
                # them can fuse into a longer surface
                gaps = sorted(rng.sample(range(len(toks) + 1), k), reverse=True)
                for gap, surf in zip(gaps, deck.deal(k)):
                    toks.insert(gap, surf)
                text = " ".join(toks)
            rows.append({
                "conv_id": conv_id, "turn_idx": ti, "role": role, "text": text,
                "tool": f"tool_{ti % 5}" if role == "tool" else None,
                "ts": BASE_TS + timedelta(hours=cnum, minutes=ti),
            })
    rng.shuffle(rows)
    return rows


def generate(kind: str, seed: int):
    """(dims, drops): dictionary tables and the transcript drops in
    delivery order."""
    n_ent, per_drop, n_drops, redeliver = KINDS[kind]
    rng = random.Random(seed)
    gazetteer = make_gazetteer(rng, n_ent)
    dicts = make_dictionaries(rng, n_ent)
    deck = _Deck(rng, surface_entities(gazetteer, dicts))
    conv_nums = list(range(per_drop * n_drops))
    rng.shuffle(conv_nums)
    drops = [make_drop(rng, deck, conv_nums[d * per_drop:(d + 1) * per_drop])
             for d in range(n_drops)]
    again = {f"C{c:07d}" for c in conv_nums[:redeliver]}
    for d in drops[1:]:  # re-delivered rows of drop 0 mixed into later drops
        d.extend(r for r in drops[0] if r["conv_id"] in again)
        rng.shuffle(d)
    return {"gazetteer": gazetteer, **dicts}, drops


def _oracle(dims: dict, rows: list[dict]) -> set:
    return oracle.run_oracle(FixtureSet(transcripts=rows, **dims))


def reference(dims: dict, drops: list[list[dict]]) -> dict:
    """Oracle digest of each drop, of the union of all drops (what a
    stream that ingests the drops one batch each must hold at the end),
    and the triples each batch adds to that union. The drops go through
    the oracle in parallel processes."""
    with ProcessPoolExecutor(min(len(drops), 4)) as pool:
        sets = list(pool.map(_oracle, [dims] * len(drops), drops))
    union: set = set()
    added = []
    for s in sets:
        added.append(len(s - union))
        union |= s
    return {"drops": [digest(s) for s in sets], "union": digest(union),
            "appended": added}


def write_entry(out: str, kind: str, seed: int) -> None:
    dims, drops = generate(kind, seed)
    tmp = out + ".tmp"
    os.makedirs(os.path.join(tmp, "dims"), exist_ok=True)
    os.makedirs(os.path.join(tmp, "drops"), exist_ok=True)
    for name, rows in dims.items():
        pq.write_table(pa.Table.from_pylist(rows),
                       os.path.join(tmp, "dims", f"{name}.parquet"))
    for i, rows in enumerate(drops):
        path = os.path.join(tmp, "drops", f"drop_{i:02d}.parquet")
        pq.write_table(pa.Table.from_pylist(rows, TRANSCRIPT_SCHEMA), path,
                       row_group_size=len(rows) // 8 + 1)
        # the stream source takes files oldest first
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    ref = reference(dims, drops)
    ref.update(kind=kind, seed=seed, turns=[len(r) for r in drops])
    with open(os.path.join(tmp, "reference.json"), "w") as f:
        json.dump(ref, f)
    os.replace(tmp, out)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--kind", choices=sorted(KINDS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    write_entry(a.out, a.kind, a.seed)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
