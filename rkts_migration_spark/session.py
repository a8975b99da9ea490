"""SparkSession factory tuned for the KG-construction pipeline.

Local-mode defaults follow the public Spark tuning guidance: shuffle
partitions sized to cores (not the 200 default), AQE on (runtime
coalescing + skew-join backstop; per-key counts need neither, since
map-side partial aggregation already bounds a hot key), Arrow
enabled for every pandas-UDF boundary.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# measured perf settings that every session builder applies
PERF_CONF = {
    # InferFiltersFromGenerate re-derives `size(expr) > 0 AND
    # isnotnull(expr)` below every explode and filter-pushdown then
    # substitutes the generator's FULL child expression into the
    # condition — for the mention-extraction Generate that means the
    # gazetteer alternation regex runs 3x per turn instead of once
    # (measured: the explode stage drops 9.05 s -> 2.92 s at local[8] on
    # the sf0.1 scaling input with the rule excluded). Semantics are
    # identical: a non-outer explode drops empty/null arrays by itself;
    # the inferred filter exists only to enable further pushdown, which
    # none of our plans use.
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    # The in-memory columnar cache encodes/decodes in batches of this
    # many rows (default 10,000). The flagship persists two corpus-sized
    # intermediates (ordered, linked) that every triple family re-reads,
    # so per-batch setup (compression-codec init, batch allocation,
    # accessor dispatch) is paid ~O(rows/batchSize) times per column per
    # consumer. 65,536 measured: linked cache build -19%, full flagship
    # -11% at local[8] and -14% at local[8] on the 8x scaling input, a
    # wash at local[2] (narrow runs are bandwidth-slack, not
    # overhead-bound). Memory stays bounded, but per task: one batch
    # buffers 64Ki rows x bytes/column (~10-15 MB for our widest text
    # column) for each column of each concurrently running cache-build
    # task, so an executor holds up to cores x cached columns x that —
    # the multiplier to check on small executors (few GB, 2 cores) or
    # wider text columns. Compression stays ON — unlike disabling
    # compression, which measured SLOWER end-to-end (bigger cache ->
    # more bytes through the bus on every downstream read).
    "spark.sql.inMemoryColumnarStorage.batchSize": "65536",
    # Spark's generated-code cache is an LRU of this many classes
    # (default 100). One run of this pipeline needs more distinct
    # classes than that: 121 for the test fixture's in-memory run, 156
    # for a checkpointed ckpt_65 pass, 202 for a stream_6k pass of two
    # micro-batches. At the default the cache never hits, and every
    # warm-JVM run and every micro-batch compiles all of its Janino
    # classes again: a repeat fixture run compiled 84-86 classes in
    # ~1.0 s at the default, and 6 in 0.03-0.06 s at 512 (local[4]).
    # 512 is >= 2x the largest working set. End to end at local[4], 10
    # pairs each: stream_6k wall -14%, ckpt_65 wall -26%. Cost: the heap
    # a ckpt_65 pass retains rises 134 -> 202 MB (peak_rss_mb +10%);
    # non-heap memory moves < 4%. A static conf: it takes effect only
    # when set before the JVM's first codegen. Executor JVMs of a
    # cluster get it from the same conf; that path is not measured.
    # codegen_counters() counts compiles, to check that it took.
    "spark.sql.codegen.cache.maxEntries": "512",
    # A read of a directory with more subdirectories than this lists
    # them in a Spark job of one task per subdirectory (default 32), not
    # on the driver. A stream's bucketed triple store has n_buckets
    # (default 64) partition directories, so every store read in a
    # micro-batch paid a 64-task "Listing leaf files" job of 0.3-0.45 s.
    # At 64 the driver lists them itself: with the parallel append
    # already in, stream_6k wall 15.37 -> 14.56 s (-5%, medians of 8
    # seeds, local[4] on a 4-vCPU host). Measured on a local
    # filesystem only: against an object store, where each listing is a
    # network round trip, keep Spark's default of 32 and its parallel
    # listing (not measured here).
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "64",
}


def codegen_counters(spark: SparkSession) -> dict:
    """Janino compiles so far in this JVM and their total time: the
    compile count of the codegen metrics and CodeGenerator's compile
    time. Report the difference over a window to see what it
    compiled; a cache hit compiles nothing."""
    codegen = spark._jvm.org.apache.spark.sql.catalyst.expressions.codegen
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return {
        "compiles": metrics.METRIC_COMPILATION_TIME().getCount(),
        "compile_s": codegen.CodeGenerator.compileTime() / 1e9,
    }


def get_spark(
    app_name: str = "spark-kg-construct",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, else all
    cores). ``shuffle_partitions`` defaults to the local core count so
    small-SF shuffles don't fragment into 200 empty tasks; on a real
    cluster, leave it unset and let AQE coalesce.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        if master.startswith("local["):
            inner = master[len("local[") : -1]
            shuffle_partitions = os.cpu_count() if inner == "*" else int(inner)
        else:
            shuffle_partitions = 200

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in {**PERF_CONF, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
