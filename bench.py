"""Benchmark harness: runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

The flagship measurement is the full KG-construction pipeline over
lineitem-derived transcripts (600k turns at sf0.1): triples/sec is the
BASELINE.md throughput metric. Operator headliners are timed
individually. Run scripts/scaling_bench.py for the two-parallelism
scaling-efficiency evidence (BENCH/BASELINE.md).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.host import steal_cs  # noqa: E402


def _time_count(df_thunk) -> tuple[float, int]:
    """Times plan construction + execution (build_triples_inmem
    materializes stage caches eagerly, so the thunk is measured work)."""
    t0 = time.time()
    n = df_thunk().count()
    return time.time() - t0, n


def _cotenant_jvms() -> int:
    """Count OTHER live JVM processes on the host (co-tenant Spark
    drivers/executors contend for cores and the memory bus and have
    inflated driver-visible benches two rounds running — the
    measurement is self-diagnosing when this is nonzero)."""
    import subprocess

    try:
        out = subprocess.run(
            ["ps", "-eo", "pid,comm"], capture_output=True, text=True,
            timeout=10,
        ).stdout
    except Exception:
        return -1
    me = os.getpid()
    return sum(
        1
        for ln in out.splitlines()[1:]
        if ln.split() and ln.split()[-1] == "java"
        and int(ln.split()[0]) != me
    )


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    # pre-flight BEFORE our own JVM exists: any java process now is a
    # co-tenant whose contention would inflate every wall below
    cotenants = _cotenant_jvms()

    from rkts_migration_spark import queries as _q
    from rkts_migration_spark import queries_ext  # noqa: F401
    from rkts_migration_spark import queries_kg  # noqa: F401
    from rkts_migration_spark.entrydata import transcripts_from_lineitem
    from rkts_migration_spark.fixtures import fixtures_to_spark, make_fixtures
    from rkts_migration_spark.pipeline import build_triples_inmem
    from rkts_migration_spark.session import get_spark

    spark = get_spark(
        app_name="bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus) * 2,
        # small-data knob (see scripts/scaling_bench.py): keep post-
        # shuffle stages at 2-4 waves instead of one tail-bound wave
        extra_conf={"spark.sql.adaptive.advisoryPartitionSizeInBytes": "8MB"},
    )

    timings: dict[str, float] = {}

    # --- flagship: full KG pipeline over scale-proportional input -----
    # The transcript table is materialized once as sharded parquet
    # (untimed setup, mirroring scripts/scaling_bench.py): a real
    # deployment reads an existing Iceberg table — charging the
    # pipeline for synthetic-data generation would misstate it.
    tables = fixtures_to_spark(spark, make_fixtures(seed=42, n_convs=1))
    # cache key includes a hash of the generator's source so editing
    # transcripts_from_lineitem invalidates pre-existing caches (a
    # bare sf-keyed dir would silently serve stale, differently-
    # ordered input after a generator change)
    import hashlib
    import inspect

    gen_token = hashlib.md5(
        inspect.getsource(transcripts_from_lineitem).encode()).hexdigest()[:8]
    input_dir = f"/tmp/kg_bench_input_{sf}_{gen_token}"
    if not os.path.exists(os.path.join(input_dir, "_SUCCESS")):
        (transcripts_from_lineitem(spark, sf_dir)
         .repartition(int(cpus)).write.mode("overwrite").parquet(input_dir))

    def kg_build():
        t = dict(tables)
        t["transcripts"] = spark.read.parquet(input_dir)
        return build_triples_inmem(spark, t)

    # the host is a shared VM (1-2% mean CPU steal, bursty): identical
    # runs swing ~2x wall, so the flagship is measured three times and
    # the min reported (steal/GC only ever add time); all trials plus
    # their /proc/stat steal deltas are listed so an inflated reading
    # is self-diagnosing (VERDICT r3 #2). If EVERY base trial was
    # storm-hit (steal above STORM_STEAL_CS), up to two bounded extra
    # trials run so a single hypervisor burst inside the measurement
    # window doesn't get recorded as the capability (VERDICT r4 #4);
    # min-over-all semantics are unchanged and every trial is listed.
    STORM_STEAL_CS = 100
    kg_walls = []
    kg_steals = []

    def one_trial():
        s0 = steal_cs()
        sec, n = _time_count(kg_build)
        kg_steals.append(steal_cs() - s0)
        kg_walls.append(round(sec, 3))
        return n

    for _ in range(3):
        kg_triples = one_trial()
    extra = 0
    while min(kg_steals) > STORM_STEAL_CS and extra < 2:
        extra += 1
        kg_triples = one_trial()
    kg_sec = min(kg_walls)
    timings["kg_pipeline"] = kg_sec

    # --- operator headliners ------------------------------------------
    headliners = [
        "q_agg_pushdown",
        "q_shuffle_join",
        "q_islands",
        "q_first_order_per_customer",
        "q_exact_dedup",
        "q_minhash_candidates",
        "q_simhash",
        "q_cosine_topk",
        "q_ann_lsh",
        "q_location_parse",
        "q_token_stats",
        "q_nt_lines",
    ]
    qs = _q.queries()
    q_steals: dict[str, list[int]] = {}
    for name in headliners:
        walls = []
        steals = []
        for _ in range(2):
            s0 = steal_cs()
            walls.append(_time_count(lambda: qs[name](spark, sf_dir))[0])
            steals.append(steal_cs() - s0)
        timings[name] = round(min(walls), 3)
        q_steals[name] = steals

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_suite_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "parallelism": int(cpus),
        "kg_triples": kg_triples,
        "kg_triples_per_sec": round(kg_triples / kg_sec, 1),
        "kg_all_walls": kg_walls,
        "kg_all_steal_cs": kg_steals,
        "kg_storm_extra_trials": extra,
        "query_steal_cs": q_steals,
        "cotenant_jvms_preflight": cotenants,
    }
    # fold in the latest two-parallelism scaling evidence if measured
    # (scripts/scaling_bench.py writes BENCH/scaling.json)
    scaling_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH", "scaling.json")
    if os.path.exists(scaling_path):
        with open(scaling_path) as f:
            sc = json.load(f)
        out["scaling_efficiency"] = sc.get("value")
        out["scaling"] = {
            "n_small": sc.get("n_small"), "n_big": sc.get("n_big")}
    cluster_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "BENCH", "cluster_scaling.json")
    if os.path.exists(cluster_path):
        with open(cluster_path) as f:
            cs = json.load(f)
        out["cluster_scaling_efficiency"] = cs.get("value")
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
