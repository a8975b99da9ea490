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
