"""Stage-table IO with atomic-commit semantics.

Iceberg (`spark.write.format("iceberg")`) is the production format for
the triple/stage tables per BASELINE north_rule; when the runtime jar
is absent (this sandbox) the fallback writes parquet into a temp dir
and renames it into place, then writes the manifest LAST — a reader
treats a stage as committed only when the manifest exists, so partial
writes are never resumed from. Same contract, either backend.

A commit runs one Spark job, the write. Lineage (rows per output
partition, per BASELINE north_rule) comes from the written files'
parquet footers, keyed by the ``part-NNNNN`` index in their names
(Iceberg: ``record_count`` in the table's ``files`` metadata); the
manifest also records the schema ``read_stage`` opens the table with.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import time
import uuid
from collections import defaultdict

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

MANIFEST = "_STAGE_MANIFEST.json"

# the write task's index that leads a data file's name: part-00003-<uuid>
# .c000.snappy.parquet (parquet), 00003-<task>-<uuid>-00001.parquet (Iceberg)
_PART_INDEX = re.compile(r"(?:part-)?(\d+)-")

_ICEBERG: dict[str, bool] = {}  # application id -> Iceberg runtime loadable


def _has_iceberg(spark: SparkSession) -> bool:
    """A py4j class probe, run once per SparkContext."""
    app = spark.sparkContext.applicationId
    if app not in _ICEBERG:
        try:
            spark._jvm.java.lang.Class.forName(  # noqa: SLF001
                "org.apache.iceberg.spark.source.IcebergSource"
            )
            _ICEBERG[app] = True
        except Exception:
            _ICEBERG[app] = False
    return _ICEBERG[app]


def stage_path(root: str, stage: str) -> str:
    return os.path.join(root, stage)


def stage_manifest(root: str, stage: str) -> dict | None:
    p = os.path.join(stage_path(root, stage), MANIFEST)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def stage_is_complete(root: str, stage: str) -> bool:
    """Committed, with the schema ``read_stage`` opens it with. A
    manifest written before manifests recorded the schema reads as
    incomplete, so a resumed run rebuilds that stage."""
    m = stage_manifest(root, stage)
    return bool(m and m.get("complete") and "schema" in m)


def write_stage(df: DataFrame, root: str, stage: str, run_id: str) -> dict:
    """Write a stage table, then its manifest; returns the manifest."""
    spark = df.sparkSession
    path = stage_path(root, stage)
    t0 = time.time()
    writer = df.write.mode("overwrite")

    if _has_iceberg(spark):
        # Production path: Iceberg table, atomic snapshot commit.
        writer.format("iceberg").save(path)
        files = [
            (r["file_path"], r["record_count"])
            for r in spark.read.format("iceberg").load(path + "#files")
            .select("file_path", "record_count").collect()
        ]
    else:
        tmp = path + f"._tmp_{uuid.uuid4().hex[:8]}"
        writer.parquet(tmp)
        if os.path.exists(path):
            shutil.rmtree(path)
        os.replace(tmp, path)
        files = [(f, pq.read_metadata(f).num_rows) for f in glob.glob(
            os.path.join(glob.escape(path), "part-*"))]

    rows: dict[int, int] = defaultdict(int)  # write partition -> rows
    for f, n in files:
        if n:  # the one empty file Spark writes for an empty output
            rows[int(_PART_INDEX.match(os.path.basename(f))[1])] += n
    lineage = [{"partition_id": p, "rows": n} for p, n in sorted(rows.items())]
    try:  # stage metrics: on-disk footprint (parquet fallback path)
        n_bytes = sum(
            os.path.getsize(os.path.join(dp, fn))
            for dp, _, fns in os.walk(path) for fn in fns
        )
    except OSError:
        n_bytes = None
    manifest = {
        "stage": stage,
        "run_id": run_id,
        "complete": True,
        "rows": sum(p["rows"] for p in lineage),
        "n_partitions": len(lineage),
        "partitions": lineage,
        "schema": json.loads(df.schema.json()),
        "metrics": {"write_wall_sec": round(time.time() - t0, 3),
                    "bytes": n_bytes},
        "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    with open(os.path.join(path, MANIFEST), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


def read_stage(spark: SparkSession, root: str, stage: str) -> DataFrame:
    """The committed table, opened with its manifest's schema: no Spark
    job."""
    path = stage_path(root, stage)
    if _has_iceberg(spark):
        try:
            return spark.read.format("iceberg").load(path)
        except Exception:
            pass
    schema = T.StructType.fromJson(stage_manifest(root, stage)["schema"])
    return spark.read.schema(schema).parquet(path)
