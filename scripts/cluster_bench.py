"""TRUE multi-executor scaling evidence: a Spark standalone cluster on
this box (separate master, worker and executor JVMs, cross-executor
shuffle) running the KG pipeline at N and 4N executors of 2 cores
each — the closest this sandbox gets to the north-rule's
"multi-executor cluster at two cluster sizes".

Usage:
    python scripts/cluster_bench.py up            # start master + worker
    python scripts/cluster_bench.py run [N 4N]    # measure both levels
    python scripts/cluster_bench.py bench [N]     # headliner suite on N execs
    python scripts/cluster_bench.py down          # stop the daemons

`run` defaults to 1 -> 4 executors (2 -> 8 cores: both levels below
the box's memory-bandwidth knee, see BENCH/BASELINE.md) and appends
the result to BENCH/cluster_scaling.json.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.host import steal_cs  # noqa: E402

MASTER_URL = "spark://127.0.0.1:7077"
CORES_PER_EXEC = 2
TRIALS = int(os.environ.get("CLUSTER_TRIALS", "4"))


def _spark_home() -> str:
    import pyspark

    return os.path.dirname(pyspark.__file__)


def _spark_class(cls: str, *args: str, log: str) -> None:
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1")
    with open(log, "w") as f:
        subprocess.Popen(
            [os.path.join(_spark_home(), "bin", "spark-class"), cls, *args],
            stdout=f, stderr=subprocess.STDOUT, env=env,
            start_new_session=True,
        )


def up() -> None:
    _spark_class(
        "org.apache.spark.deploy.master.Master",
        "-h", "127.0.0.1", "-p", "7077", "--webui-port", "8089",
        log="/tmp/spark-master.log")
    time.sleep(10)
    _spark_class(
        "org.apache.spark.deploy.worker.Worker",
        "-h", "127.0.0.1", "-c", "32", "-m", "64g",
        "--webui-port", "8090", MASTER_URL,
        log="/tmp/spark-worker.log")
    time.sleep(10)
    print("cluster up:", MASTER_URL)


def down() -> None:
    subprocess.run(["pkill", "-f", "deploy.worker.Worker"], check=False)
    subprocess.run(["pkill", "-f", "deploy.master.Master"], check=False)
    print("cluster down")


def run_level(n_exec: int) -> dict:
    from pyspark.sql import SparkSession

    from rkts_migration_spark.session import PERF_CONF

    subprocess.run(
        ["zip", "-qr", "/tmp/kg_pkg.zip", "rkts_migration_spark"],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        check=True)
    spark = (
        SparkSession.builder.appName(f"kg-cluster-{n_exec}x")
        .master(MASTER_URL)
        .config("spark.executor.cores", str(CORES_PER_EXEC))
        .config("spark.cores.max", str(CORES_PER_EXEC * n_exec))
        .config("spark.executor.memory", "5g")
        .config("spark.submit.pyFiles", "/tmp/kg_pkg.zip")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8MB")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(map=PERF_CONF)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    from rkts_migration_spark.fixtures import fixtures_to_spark, make_fixtures
    from rkts_migration_spark.pipeline import build_triples_inmem
    from scripts.scaling_bench import _prepare_input

    input_dir = _prepare_input(spark, os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    dict_tables = fixtures_to_spark(spark, make_fixtures(seed=42, n_convs=1))

    def build():
        t = dict(dict_tables)
        t["transcripts"] = spark.read.parquet(input_dir)
        return build_triples_inmem(spark, t)

    build().count()  # warm-up (JIT per executor JVM)
    walls, steals, n = [], [], 0
    for _ in range(TRIALS):
        spark.catalog.clearCache()
        s0 = steal_cs()
        t0 = time.time()
        n = build().count()
        walls.append(round(time.time() - t0, 3))
        steals.append(steal_cs() - s0)
    spark.stop()
    wall = min(walls)
    return {"executors": n_exec, "cores_per_executor": CORES_PER_EXEC,
            "triples": n, "wall_sec": wall, "all_walls": walls,
            "all_steal_cs": steals,
            "min_trial_steal_cs": steals[walls.index(wall)],
            "triples_per_sec": round(n / wall, 1)}


def _cluster_session(n_exec: int):
    from pyspark.sql import SparkSession

    from rkts_migration_spark.session import PERF_CONF

    subprocess.run(
        ["zip", "-qr", "/tmp/kg_pkg.zip", "rkts_migration_spark"],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        check=True)
    return (
        SparkSession.builder.appName(f"kg-cluster-headliners-{n_exec}x")
        .master(MASTER_URL)
        .config("spark.executor.cores", str(CORES_PER_EXEC))
        .config("spark.cores.max", str(CORES_PER_EXEC * n_exec))
        .config("spark.executor.memory", "5g")
        .config("spark.submit.pyFiles", "/tmp/kg_pkg.zip")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8MB")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(map=PERF_CONF)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )


def bench_headliners(n_exec: int) -> int:
    """The 13 bench.py headliners under the TRUE multi-executor
    cluster (VERDICT r4 #7): deployment-shaped numbers (separate
    executor JVMs, cross-executor shuffle) for every headline query,
    not just the flagship. Per-query steal receipts as everywhere.
    Writes BENCH/cluster_headliners.json."""
    import time as _t

    spark = _cluster_session(n_exec)
    spark.sparkContext.setLogLevel("WARN")
    from rkts_migration_spark import queries as _q
    from rkts_migration_spark import queries_ext  # noqa: F401
    from rkts_migration_spark import queries_kg  # noqa: F401
    from rkts_migration_spark.fixtures import fixtures_to_spark, make_fixtures
    from rkts_migration_spark.pipeline import build_triples_inmem
    from scripts.scaling_bench import _prepare_input

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    input_dir = _prepare_input(spark, sf_dir)
    dict_tables = fixtures_to_spark(spark, make_fixtures(seed=42, n_convs=1))

    def kg_build():
        t = dict(dict_tables)
        t["transcripts"] = spark.read.parquet(input_dir)
        return build_triples_inmem(spark, t)

    headliners = [
        "q_agg_pushdown", "q_shuffle_join", "q_islands",
        "q_first_order_per_customer", "q_exact_dedup",
        "q_minhash_candidates", "q_simhash", "q_cosine_topk", "q_ann_lsh",
        "q_location_parse", "q_token_stats", "q_nt_lines",
    ]
    qs = _q.queries()
    timings: dict[str, dict] = {}
    kg_build().count()  # warm-up
    for name, thunk in [("kg_pipeline", kg_build)] + [
        (n, (lambda n=n: qs[n](spark, sf_dir))) for n in headliners
    ]:
        walls, steals = [], []
        for _ in range(3 if name == "kg_pipeline" else 2):
            if name == "kg_pipeline":
                spark.catalog.clearCache()
            s0 = steal_cs()
            t0 = _t.time()
            thunk().count()
            walls.append(round(_t.time() - t0, 3))
            steals.append(steal_cs() - s0)
        timings[name] = {"wall_sec": min(walls), "all_walls": walls,
                         "all_steal_cs": steals}
    spark.stop()
    out = {
        "metric": "cluster_headliner_suite",
        "executors": n_exec,
        "cores_per_executor": CORES_PER_EXEC,
        "sf": sf_dir,
        "value": round(sum(v["wall_sec"] for v in timings.values()), 3),
        "unit": "sec",
        "queries": timings,
    }
    print(json.dumps(out))
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/cluster_headliners.json", "w") as f:
        json.dump(out, f, indent=1)
    return 0


def main() -> int:
    cmd = sys.argv[1] if len(sys.argv) > 1 else "run"
    if cmd == "up":
        up()
        return 0
    if cmd == "down":
        down()
        return 0
    if cmd == "bench":
        return bench_headliners(int(sys.argv[2]) if len(sys.argv) > 2 else 4)
    n_small = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    n_big = int(sys.argv[3]) if len(sys.argv) > 3 else 4 * n_small
    small = run_level(n_small)
    big = run_level(n_big)
    eff = (big["triples_per_sec"] / small["triples_per_sec"]) / (
        n_big / n_small)
    summary = {"metric": "cluster_scaling_efficiency",
               "value": round(eff, 3), "unit": "ratio",
               "n_small": small, "n_big": big}
    print(json.dumps(summary))
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/cluster_scaling.json", "w") as f:
        json.dump(summary, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
