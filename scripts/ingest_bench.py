"""Measure continuous KG construction (streaming/incremental.
stream_kg_ingest) at bench scale, two phases:

1. Throughput + idempotency: the sf0.1 transcript table split into 4
   conv-complete micro-batches plus an exact RE-DELIVERY of the first
   batch, streamed through foreachBatch -> pipeline -> bucket-pruned
   delta append. Reports per-batch wall + appended triples, end-state
   duplicate-freedom, and the idempotency number (re-delivery appends
   0).

2. Store-growth independence (VERDICT r3 #2): the SAME small
   conversation drop is ingested into two pre-seeded bucketed stores,
   one 10x the other. Because the anti-join prunes to the buckets the
   drop touches, per-batch wall must stay ~flat and the store-side
   scan volume (bucket dirs / files / bytes read, straight from the
   ingest manifests) must track the DROP's bucket footprint, not the
   store size. This is the evidence that per-batch cost is ∝ batch,
   not ∝ store.

3. Small-file bound under many batches (VERDICT r4 #3): 20 disjoint
   micro-batches (20x the phase-2 batch count) into one store — each
   appends ~1 file per touched bucket, so hot buckets accumulate ~1
   file per batch — then compact_store_buckets rewrites the oversized
   buckets. Reports files-per-bucket max/total before vs after and
   asserts the store's contents (row count + order-free content hash)
   are unchanged; without the compaction pass a 1,000-batch deployment
   holds ~10^6 files and listing/open overhead eats the pruning win.

Writes BENCH/ingest_bench.json. Usage: python scripts/ingest_bench.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.host import steal_cs  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
N_BATCHES = 4
WORK = "/tmp/kg_ingest_bench"


GROWTH_BUCKETS = 1024
SEED_ROWS_1X = 500_000


def _seed_store(spark, path: str, n_rows: int) -> None:
    """Synthetic pre-seeded bucketed store (setup, untimed): n_rows
    disjoint triples whose subjects never collide with pipeline IRIs,
    laid out exactly as stream_kg_ingest writes them."""
    from pyspark.sql import functions as F

    from rkts_migration_spark.operators.graph import (
        TRIPLE_BUCKET_COL,
        with_triple_bucket,
    )

    df = spark.range(n_rows).select(
        F.concat(F.lit("http://synth.example/node/"), F.col("id")).alias("subj"),
        F.lit("http://synth.example/pred/p").alias("pred"),
        F.concat(F.lit('"v'), F.col("id"), F.lit('"')).alias("obj"),
    )
    (with_triple_bucket(df, GROWTH_BUCKETS)
     .repartition(64, TRIPLE_BUCKET_COL)
     .write.mode("overwrite").partitionBy(TRIPLE_BUCKET_COL).parquet(path))


def _store_growth_phase(spark) -> dict:
    """Ingest the SAME 2-conversation drop into a 1x- and a 10x-seeded
    store; report wall + manifest scan stats at both sizes."""
    import glob

    from rkts_migration_spark.fixtures import (
        TRANSCRIPT_DDL,
        fixtures_to_spark,
        make_fixtures,
    )
    from rkts_migration_spark.streaming import (
        stream_from_directory,
        stream_kg_ingest,
    )

    fx = make_fixtures(seed=13, n_convs=2)
    tables = fixtures_to_spark(spark, fx)
    dicts = {k: v for k, v in tables.items() if k != "transcripts"}

    results = {}
    for label, n_seed in (("store_1x", SEED_ROWS_1X),
                          ("store_10x", SEED_ROWS_1X * 10)):
        root = os.path.join(WORK, f"growth_{label}")
        store = os.path.join(root, "store")
        src = os.path.join(root, "src")
        os.makedirs(src)
        _seed_store(spark, store, n_seed)
        tables["transcripts"].coalesce(1).write.mode("append").parquet(src)

        walls: list[float] = []
        last = [time.monotonic()]

        def on_batch(bid: int, n: int, _last=last, _walls=walls) -> None:
            now = time.monotonic()
            _walls.append(round(now - _last[0], 3))
            _last[0] = now

        q = stream_kg_ingest(
            stream_from_directory(spark, src, TRANSCRIPT_DDL),
            dicts, store, os.path.join(root, "ckpt"),
            on_batch=on_batch, n_buckets=GROWTH_BUCKETS)
        q.awaitTermination(600)

        manifest = sorted(glob.glob(
            os.path.join(store, "_INGEST_MANIFESTS", "*.json")))[-1]
        with open(manifest) as f:
            m = json.load(f)
        results[label] = {
            "seed_rows": n_seed,
            "batch_wall_sec": walls[0],
            "appended": m["appended_triples"],
            "store_buckets_total": m["store_buckets_total"],
            "store_buckets_read": m["store_buckets_read"],
            "store_files_read": m["store_files_read"],
            "store_bytes_read": m["store_bytes_read"],
        }

    r1, r10 = results["store_1x"], results["store_10x"]
    results["wall_ratio_10x_over_1x"] = round(
        r10["batch_wall_sec"] / r1["batch_wall_sec"], 3)
    results["buckets_read_fraction_10x"] = round(
        r10["store_buckets_read"] / r10["store_buckets_total"], 4)
    # the claim under test: same drop => same bucket footprint at any
    # store size, and the wall doesn't scale with the store
    assert r1["store_buckets_read"] == r10["store_buckets_read"], results
    assert r1["appended"] == r10["appended"] > 0, results
    return results


def _compaction_phase(spark) -> dict:
    """20 disjoint conv drops -> 20 micro-batches into one store with
    few buckets (so buckets go oversized fast), then bucket-level
    compaction; contents must be bit-identical (count + hash)."""
    from pyspark.sql import functions as F

    from rkts_migration_spark.fixtures import (
        TRANSCRIPT_DDL,
        fixtures_to_spark,
        make_fixtures,
    )
    from rkts_migration_spark.streaming import (
        stream_from_directory,
        stream_kg_ingest,
    )
    from rkts_migration_spark.streaming.incremental import (
        compact_store_buckets,
        store_bucket_file_counts,
    )

    n_batches, n_buckets, max_files = 20, 16, 4
    root = os.path.join(WORK, "compaction")
    store = os.path.join(root, "store")
    src = os.path.join(root, "src")
    os.makedirs(src)
    fx = make_fixtures(seed=29, n_convs=2 * n_batches)
    tables = fixtures_to_spark(spark, fx)
    dicts = {k: v for k, v in tables.items() if k != "transcripts"}
    convs = sorted(r["conv_id"] for r in
                   tables["transcripts"].select("conv_id").distinct().collect())
    for b in range(n_batches):
        (tables["transcripts"]
         .filter(F.col("conv_id").isin(convs[b::n_batches]))
         .coalesce(1).write.mode("append").parquet(src))
    q = stream_kg_ingest(
        stream_from_directory(spark, src, TRANSCRIPT_DDL),
        dicts, store, os.path.join(root, "ckpt"), n_buckets=n_buckets)
    q.awaitTermination(1800)

    def content(store_path: str) -> tuple[int, int]:
        df = spark.read.parquet(store_path)
        row = df.select(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("subj", "pred", "obj")).alias("h"),
        ).collect()[0]
        return int(row["n"]), int(row["h"])

    before_counts = store_bucket_file_counts(spark, store)
    n_before, h_before = content(store)
    t0 = time.monotonic()
    res = compact_store_buckets(spark, store, max_files_per_bucket=max_files)
    compact_wall = time.monotonic() - t0
    after_counts = store_bucket_file_counts(spark, store)
    n_after, h_after = content(store)
    assert (n_before, h_before) == (n_after, h_after), "compaction changed contents"
    assert max(after_counts.values()) <= max_files, after_counts
    return {
        "n_batches": n_batches,
        "n_buckets": n_buckets,
        "max_files_per_bucket": max_files,
        "files_total_before": sum(before_counts.values()),
        "files_total_after": sum(after_counts.values()),
        "files_per_bucket_max_before": max(before_counts.values()),
        "files_per_bucket_max_after": max(after_counts.values()),
        "buckets_rewritten": res["buckets_rewritten"],
        "compaction_wall_sec": round(compact_wall, 3),
        "store_rows": n_before,
        "content_hash_unchanged": True,
    }


def main() -> int:
    from pyspark.sql import functions as F

    from rkts_migration_spark.entrydata import transcripts_from_lineitem
    from rkts_migration_spark.fixtures import (
        TRANSCRIPT_DDL,
        fixtures_to_spark,
        make_fixtures,
    )
    from rkts_migration_spark.session import get_spark
    from rkts_migration_spark.streaming import (
        stream_from_directory,
        stream_kg_ingest,
    )

    spark = get_spark(
        app_name="ingest-bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=int(CPUS) * 2,
        extra_conf={
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8MB"},
    )
    shutil.rmtree(WORK, ignore_errors=True)
    src = os.path.join(WORK, "src")
    store = os.path.join(WORK, "store")
    os.makedirs(src)

    # conv-complete micro-batches: hash-split on conv_id (setup, untimed)
    tr = transcripts_from_lineitem(spark, SF_DIR)
    batch_of = F.pmod(F.xxhash64("conv_id"), F.lit(N_BATCHES))
    # one FILE per drop: the file-source trigger is per file, and a
    # conversation split across files would violate the conv-complete-
    # batch contract of the foreachBatch pipeline
    for b in range(N_BATCHES):
        (tr.filter(batch_of == b)
         .coalesce(1).write.mode("append").parquet(src))
    # 5th drop: exact re-delivery of batch 0
    tr.filter(batch_of == 0).coalesce(1).write.mode("append").parquet(src)

    dicts = {k: v for k, v in
             fixtures_to_spark(spark, make_fixtures(seed=42, n_convs=1)).items()
             if k != "transcripts"}

    # per-batch steal delta: a polluted batch wall carries its own receipt
    batches: list[dict] = []
    last = [time.monotonic()]
    last_steal = [steal_cs()]

    def on_batch(bid: int, n: int) -> None:
        now = time.monotonic()
        s = steal_cs()
        batches.append({"batch": bid, "appended": n,
                        "wall_sec": round(now - last[0], 3),
                        "steal_cs": s - last_steal[0]})
        last[0] = now
        last_steal[0] = s

    t0 = time.monotonic()
    q = stream_kg_ingest(
        stream_from_directory(spark, src, TRANSCRIPT_DDL),
        dicts, store, os.path.join(WORK, "ckpt"), on_batch=on_batch)
    q.awaitTermination(1800)
    total_wall = time.monotonic() - t0

    got = spark.read.parquet(store)
    n_rows = got.count()
    n_distinct = got.select("subj", "pred", "obj").distinct().count()
    total = sum(b["appended"] for b in batches)
    out = {
        "metric": "kg_ingest_throughput",
        "value": round(total / total_wall, 1),
        "unit": "triples/sec",
        "sf": SF_DIR,
        "parallelism": int(CPUS),
        "n_batches": len(batches),
        "batches": batches,
        "total_wall_sec": round(total_wall, 3),
        "total_triples": total,
        "store_rows": n_rows,
        "store_distinct": n_distinct,
        "redelivery_appended": batches[-1]["appended"] if batches else None,
    }
    assert n_rows == n_distinct == total, out
    assert out["redelivery_appended"] == 0, out

    out["store_growth_independence"] = _store_growth_phase(spark)
    out["small_file_compaction"] = _compaction_phase(spark)
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCH", "ingest_bench.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
