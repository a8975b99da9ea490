"""Quiet-window re-measurement of the six micro-queries whose
BENCH_r02 walls ticked up vs BENCH_r01 (VERDICT r2 item 4).

The round-2 verdict flagged q_simhash / q_minhash_candidates /
q_ann_lsh / q_location_parse / q_token_stats / q_nt_lines as
0.03-0.15 s slower round-over-round on a shared noisy host and asked
for one re-measurement with the steal-instrumented methodology
(scripts/scaling_bench.py): 7 trials per query, /proc/stat steal
centiseconds captured per trial, min reported (steal/GC only ever
add time). Verdict "done" condition: deltas within trial variance,
or the regression diagnosed with an explain diff — so each query also
logs a physical-plan fingerprint for cross-run comparison.

Usage: python scripts/micro_recheck.py
Writes BENCH/micro_recheck.json and prints one JSON line.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
import time

sys.path.insert(0, ".")

from perfbench.host import steal_cs  # noqa: E402

TRIALS = 7
QUERIES = [
    "q_simhash",
    "q_minhash_candidates",
    "q_ann_lsh",
    "q_location_parse",
    "q_token_stats",
    "q_nt_lines",
]


def _plan_fingerprint(df) -> str:
    # md5 of the optimized physical plan with ids/statistics scrubbed
    # (plan-shape identity across runs, stable under expr renumbering)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scrubbed = re.sub(r"#\d+[A-Z]*", "#", plan)
    scrubbed = re.sub(r"\[plan_id=\d+\]", "", scrubbed)
    return hashlib.md5(scrubbed.encode()).hexdigest()[:12]


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from rkts_migration_spark import queries as _q
    from rkts_migration_spark import queries_ext  # noqa: F401
    from rkts_migration_spark import queries_kg  # noqa: F401
    from rkts_migration_spark.session import get_spark

    spark = get_spark(
        app_name="micro-recheck",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus) * 2,
        extra_conf={"spark.sql.adaptive.advisoryPartitionSizeInBytes": "8MB"},
    )
    qs = _q.queries()

    # reference points: the recorded per-round walls (min of 2 trials)
    prior: dict[str, dict[str, float]] = {}
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for rnd in ("r01", "r02"):
        p = os.path.join(here, f"BENCH_{rnd}.json")
        if os.path.exists(p):
            with open(p) as f:
                raw = json.load(f)
            # driver wrapper: the bench record lives under "parsed"
            rec = raw.get("parsed", raw).get("queries", {})
            for name in QUERIES:
                if name in rec:
                    prior.setdefault(name, {})[rnd] = rec[name]

    out_q = {}
    for name in QUERIES:
        walls, steals = [], []
        fp = None
        for _ in range(TRIALS):
            spark.catalog.clearCache()
            s0 = steal_cs()
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            df.count()
            walls.append(round(time.time() - t0, 3))
            steals.append(steal_cs() - s0)
            if fp is None:
                fp = _plan_fingerprint(df)
        best = min(walls)
        rec = {
            "wall_sec": best,
            "all_walls": walls,
            "steal_cs": steals,
            "min_trial_steal_cs": steals[walls.index(best)],
            "plan_fingerprint": fp,
            **{f"bench_{k}": v for k, v in prior.get(name, {}).items()},
        }
        r1 = prior.get(name, {}).get("r01")
        if r1 is not None:
            # noise verdict: quiet-window min at or below the r01 wall
            # (within 10% trial variance) means no plan regression
            rec["noise_not_regression"] = best <= r1 * 1.10
        out_q[name] = rec

    result = {
        "metric": "micro_recheck",
        "unit": "sec",
        "trials": TRIALS,
        "parallelism": int(cpus),
        "queries": out_q,
        "all_noise": all(
            q.get("noise_not_regression", True) for q in out_q.values()),
    }
    os.makedirs(os.path.join(here, "BENCH"), exist_ok=True)
    with open(os.path.join(here, "BENCH", "micro_recheck.json"), "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
