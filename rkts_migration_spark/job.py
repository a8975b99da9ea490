"""spark-submit entry point for the KG-construction pipeline.

Launch (BASELINE.md launch-mode contract):

    zip -r kg_pkg.zip rkts_migration_spark
    spark-submit --master local[32] --py-files kg_pkg.zip \\
        rkts_migration_spark/job.py \\
        --checkpoint /tmp/kg_run --input /path/to/transcripts_parquet

With no ``--input`` the deterministic synthetic fixture transcripts
(fixtures.py, seed/scale flags) are generated — no external data.
Prints one JSON summary line: rows in/out, triples/sec, stage lineage,
and the pipeline window's Janino compiles.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="KG-construction pipeline job")
    ap.add_argument("--checkpoint", required=True, help="stage-table root dir")
    ap.add_argument("--input", default=None,
                    help="parquet/iceberg dir of transcripts; default: synthetic fixtures")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--n-convs", type=int, default=200)
    ap.add_argument("--master", default=None, help="override spark master")
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--stop-after", default=None,
                    choices=["ordered", "mentions", "linked"],
                    help="stop at a stage boundary (kill-and-resume testing)")
    ap.add_argument("--shuffle-partitions", type=int, default=None,
                    help="spark.sql.shuffle.partitions override; default: "
                         "session-factory heuristic (cores when local, 200 "
                         "+ AQE coalesce on a cluster)")
    ap.add_argument("--nt-out", default=None,
                    help="also write the graph as N-Triples text lines "
                         "to this dir (the reference's global.nt sink, "
                         "utils.php:833-840)")
    args = ap.parse_args(argv)

    # imports deferred so --help works without a JVM
    from rkts_migration_spark.fixtures import fixtures_to_spark, make_fixtures
    from rkts_migration_spark.pipeline import run_pipeline
    from rkts_migration_spark.session import codegen_counters, get_spark

    spark = get_spark(
        app_name="kg-construct-job",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )

    fx = make_fixtures(seed=args.seed, n_convs=args.n_convs)
    tables = fixtures_to_spark(spark, fx)
    if args.input:
        tables["transcripts"] = spark.read.parquet(args.input)

    t0 = time.time()
    cg0 = codegen_counters(spark)
    res = run_pipeline(
        spark,
        tables,
        checkpoint_root=args.checkpoint,
        run_id=args.run_id,
        resume=not args.no_resume,
        stop_after=args.stop_after,
    )
    n_out = res.triples.count()
    # pipeline throughput window closes HERE: the audit count and the
    # optional NT text sink below are reported separately so wall_sec /
    # rows_per_sec stay comparable across runs and flag settings
    wall = time.time() - t0
    cg1 = codegen_counters(spark)
    # input-order audit (report_error analog, kept as data): turn_idx
    # must be 0..n-1 contiguous per conversation
    from rkts_migration_spark.operators.ordering import assert_contiguous
    from rkts_migration_spark.sources.tables import read_stage

    t_audit = time.time()
    n_violations = assert_contiguous(
        read_stage(spark, args.checkpoint, "ordered")
    ).count()
    audit_sec = time.time() - t_audit
    nt_sec = None
    if args.nt_out and not args.stop_after:
        from pyspark.sql import functions as F

        from rkts_migration_spark.functions.text import nt_line_col

        t_nt = time.time()
        (res.triples
         .select(nt_line_col(
             F.col("subj"), F.col("pred"), F.col("obj")).alias("value"))
         .write.mode("overwrite").text(args.nt_out))
        nt_sec = round(time.time() - t_nt, 3)

    summary = {
        "run_id": res.run_id,
        "stopped_after": args.stop_after,
        "output_rows": n_out,
        "turn_order_violations": n_violations,
        "wall_sec": round(wall, 3),
        "rows_per_sec": round(n_out / wall, 1) if wall > 0 else None,
        "audit_sec": round(audit_sec, 3),
        "nt_sink_sec": nt_sec,
        # Janino compiles in the pipeline window: near the run's distinct
        # generated classes when the codegen cache holds them all
        "codegen": {"compiles": cg1["compiles"] - cg0["compiles"],
                    "compile_s": round(cg1["compile_s"] - cg0["compile_s"], 3)},
        "stages_committed": {
            k: {"rows": m["rows"], "n_partitions": m["n_partitions"],
                **m["metrics"]}
            for k, m in res.manifests.items()
        },
    }
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
