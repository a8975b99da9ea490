"""The measured process: one SparkSession, one workload, closed loop.

Started by run.py once the inputs exist. It sets up the session and
the dictionary tables, runs one untimed warm-up pass, then timed passes
until ``--seconds`` have gone by. Each pass is checked against the
oracle's reference, ends by dropping every cache and running a JVM GC,
and starts with fresh output directories. ``--trace 1`` instead runs
one untraced and one traced pass and reports the per-layer metrics.
The last stdout line is the result; the line before it holds the host
diagnostics.
"""

from __future__ import annotations

import argparse
import contextlib
import functools
import gc
import glob
import json
import os
import re
import shutil
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import host, tracing  # noqa: E402
from perfbench.gate import check, spark_digest  # noqa: E402

DIMS = ("gazetteer", "id_remap", "cross_corpus_map", "same_text_map",
        "abstract_map", "entity_props")
STAGES = ("ordered", "mentions", "linked", "triples")
RESTARTS = 15  # stream restarts per pass; resume_s is their median
SPARK_TOTALS = ("spark.tasks", "spark.executor_cpu_s", "spark.shuffle_write_mb",
                "spark.spill_mb", "spark.gc_s")


@dataclass
class Pass:
    wall: float = 0.0
    triples: int = 0
    errors: list[str] = field(default_factory=list)
    resume: float | None = None
    batches: list[tuple[int, int, float]] = field(default_factory=list)
    extra: dict = field(default_factory=dict)
    tracers: dict = field(default_factory=dict)
    window: tuple[float, float] = (0.0, 0.0)  # the span ``wall`` times


class Bench:
    def __init__(self, a):
        self.a = a
        with open(os.path.join(a.entry, "reference.json")) as f:
            self.ref = json.load(f)
        self.work = a.work

    # -- set-up and hygiene ------------------------------------------------
    def setup(self) -> dict:
        from rkts_migration_spark.session import get_spark

        # a fixed-size heap (-Xms = -Xmx), so that GC timing does not swing
        # with when G1 grows the heap; the GC log gives the heap's address
        # range and its occupancy after each collection
        self.gc_log = os.path.join(self.work, "gc.log")
        conf = {"spark.driver.memory": "3g",
                "spark.driver.extraJavaOptions":
                    f"-Xms3g -Xlog:gc,pagesize:file={self.gc_log}:timemillis "
                    f"-Djava.io.tmpdir={os.environ.get('TMPDIR', '/tmp')}",
                "spark.ui.showConsoleProgress": "false"}
        if self.a.trace:
            self.eventlog_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.eventlog_dir)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": self.eventlog_dir,
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
        self.spark = get_spark(app_name="perfbench", master="local[4]",
                               extra_conf=conf)
        t_session = time.time()
        self.dims = {name: self.spark.read.parquet(
            os.path.join(self.a.entry, "dims", f"{name}.parquet"))
            for name in DIMS}
        self.cache_dims()
        t_dims = time.time()
        self.base_rdds = self.persistent_rdds()
        return {"session.start_s": t_session - self.a.t0,
                "session.dict_load_s": t_dims - t_session}

    def cache_dims(self) -> None:
        with ThreadPoolExecutor(len(DIMS)) as pool:
            list(pool.map(lambda df: df.cache().count(), self.dims.values()))

    def persistent_rdds(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()

    def clean(self) -> int:
        """Collect the Python and JVM heaps with the pass's caches still
        held (the GC log records what the pass retained), drop them, cache
        the dictionary tables again and collect once more. Returns the
        number of RDDs the pass left persisted."""
        n = self.persistent_rdds() - self.base_rdds
        # py4j proxies the pass dropped pin their JVM objects until
        # Python's collector runs; without this the retained heap of a
        # stream_6k pass read anywhere from 170 to 560 MB between runs
        gc.collect()
        self.spark._jvm.System.gc()
        self.spark.catalog.clearCache()
        self.cache_dims()
        self.spark._jvm.System.gc()
        return n

    def heap(self) -> tuple[int, int]:
        """Address range of the JVM's heap, from the GC log."""
        with open(self.gc_log) as f:
            m = re.search(r"Heap: .*base=(0x[0-9a-f]+) .*size=(\d+)([KMG])",
                          f.read())
        base = int(m.group(1), 16)
        return base, base + int(m.group(2)) * 1024 ** " KMG".index(m.group(3))

    def live_heap_mb(self, windows) -> float:
        """Largest heap occupancy after a full collection within
        ``windows``: the collections ``clean`` forces at pass end. Young
        collections are left out: what they leave in the heap includes
        old-generation garbage, which swung the figure by ±20%."""
        unit = {"K": 1 / 1024, "M": 1, "G": 1024}
        peak = 0.0
        with open(self.gc_log) as f:
            for line in f:
                m = re.match(r"\[(\d+)ms\] GC\(\d+\) Pause Full .*"
                             r"\d+[KMG]->(\d+)([KMG])\(", line)
                if m and any(a <= int(m.group(1)) / 1e3 <= b for a, b in windows):
                    peak = max(peak, int(m.group(2)) * unit[m.group(3)])
        return peak

    def fresh(self, name: str) -> str:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        return path

    def tables(self) -> dict:
        """Dictionary tables plus the transcripts of drop 0."""
        t = dict(self.dims)
        t["transcripts"] = self.spark.read.parquet(
            os.path.join(self.a.entry, "drops", "drop_00.parquet"))
        return t

    def gate(self, p: Pass, what: str, got: dict, want: dict) -> None:
        reason = check(got, want)
        if reason:
            p.errors.append(f"{what}: {reason}")
        p.triples = got["count"]

    def stop(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            if getattr(gateway, "proc", None) is not None:
                gateway.proc.stdin.close()
                gateway.proc.wait(timeout=60)


# -- workloads --------------------------------------------------------------
# A pass function takes the bench and ``phase``, a context-manager factory
# that yields a Tracer (traced pass) or None around each measured phase.

def inmem_pass(b: Bench, phase) -> Pass:
    from rkts_migration_spark.pipeline import build_triples_inmem

    p = Pass()
    t0 = time.time()
    with phase("inmem"):
        got = spark_digest(build_triples_inmem(b.spark, b.tables()))
    p.wall = time.time() - t0
    p.window = (t0, t0 + p.wall)
    b.gate(p, "in-memory output", got, b.ref["drops"][0])
    p.extra["cached_rdds_end"] = b.clean()
    return p


def ckpt_pass(b: Bench, phase, resume: bool = True) -> Pass:
    from rkts_migration_spark.pipeline import run_pipeline

    p = Pass()
    root = b.fresh("ckpt")
    lost = b.fresh("ckpt_lost_triples")
    want = b.ref["drops"][0]
    t0 = time.time()
    with phase("pass"):
        got = spark_digest(run_pipeline(b.spark, b.tables(), root).triples)
    p.wall = time.time() - t0
    p.window = (t0, t0 + p.wall)
    b.gate(p, "checkpointed output", got, want)
    p.extra["cached_rdds_end"] = b.clean()
    if not resume:
        return p
    # the state a crash after `linked` leaves: the triples stage is gone
    shutil.move(os.path.join(root, "triples"), lost)
    t0 = time.time()
    with phase("resume"):
        res = run_pipeline(b.spark, b.tables(), root)
        got = spark_digest(res.triples)
    p.resume = time.time() - t0
    if set(res.manifests) != {"triples"}:
        p.errors.append(f"resume re-ran stages {sorted(res.manifests)}")
    b.gate(p, "resumed output", got, want)
    b.clean()
    return p


def stream_pass(b: Bench, phase) -> Pass:
    from rkts_migration_spark.fixtures import TRANSCRIPT_DDL
    from rkts_migration_spark.streaming import (
        stream_from_directory,
        stream_kg_ingest,
    )

    p = Pass()
    store = b.fresh("store")
    ckpt = b.fresh("stream_ckpt")
    src = os.path.join(b.a.entry, "drops")
    events: list[tuple[int, int, float]] = []

    def ingest() -> None:
        stream_kg_ingest(
            stream_from_directory(b.spark, src, TRANSCRIPT_DDL, 1), b.dims,
            store, ckpt, trigger_once=True,
            on_batch=lambda bid, n: events.append((bid, n, time.time())),
        ).awaitTermination()

    t0 = time.time()
    with phase("pass") as tr:
        if tr is not None:
            tr.store_dir = store
        ingest()
        got = spark_digest(b.spark.read.parquet(store)
                           .select("subj", "pred", "obj"))
    p.wall = time.time() - t0
    p.window = (t0, t0 + p.wall)
    prev = t0
    for bid, n, t in events:
        p.batches.append((bid, n, t - prev))
        prev = t
    b.gate(p, "stream store", got, b.ref["union"])
    appended = [n for _, n, _ in p.batches]
    if appended != b.ref["appended"]:
        p.errors.append(f"batches appended {appended}, "
                        f"reference {b.ref['appended']}")
    # triples appended again although a re-delivered drop already holds them
    p.extra["redelivery_appended"] = sum(appended[1:]) - sum(b.ref["appended"][1:])
    stats = []
    for path in glob.glob(os.path.join(store, "_INGEST_MANIFESTS", "*.json")):
        with open(path) as f:
            stats.append(json.load(f))
    total = sum(s.get("store_buckets_total", 0) for s in stats)
    p.extra["buckets_read_frac"] = (
        sum(s.get("store_buckets_read", 0) for s in stats) / total if total else 0)
    p.extra["cached_rdds_end"] = b.clean()
    # restarts from the stream checkpoint after a crash outside a batch:
    # every batch is committed, so each must find nothing to do
    events.clear()
    restarts = []
    with phase("resume"):
        for _ in range(RESTARTS):
            t0 = time.time()
            ingest()
            restarts.append(time.time() - t0)
    p.resume = statistics.median(restarts)
    p.extra["restarts_s"] = restarts
    if events:
        p.errors.append(f"restart ran batches {[bid for bid, _, _ in events]}")
    return p


# workload -> (timed pass, untimed warm-up pass, extra pass of the traced
# run that measures the in-memory form over the same input, or None)
WORKLOADS = {
    "ckpt_65": (ckpt_pass, functools.partial(ckpt_pass, resume=False),
                inmem_pass),
    # the in-memory pipeline over drop 0 warms the per-batch work
    "stream_6k": (stream_pass, inmem_pass, None),
}


# -- runs ----------------------------------------------------------------------

@contextlib.contextmanager
def _untraced(_name):
    yield None


def run_pass(b: Bench, fn, phase, sampler=None) -> Pass:
    s0 = host.steal_cs()
    t0 = time.time()
    if sampler:
        sampler.begin()
    try:
        p = fn(b, phase)
    except Exception as e:  # a raising pass is a failed pass
        p = Pass(wall=time.time() - t0, errors=[f"raised {e!r}"[:500]],
                 window=(t0, time.time()))
    finally:
        if sampler:
            sampler.end()
    p.extra["steal_cs"] = host.steal_cs() - s0
    return p


def end_to_end(setup: dict, passes: list[Pass], mem: float) -> dict:
    wall = statistics.median(p.wall for p in passes)
    triples = passes[-1].triples
    resumes = [p.resume for p in passes if p.resume is not None]
    new_batches = [w for p in passes for _, n, w in p.batches if n > 0]
    return {
        "wall_s": wall,
        "triples_per_s": triples / wall,
        "triples_out": triples,
        "resume_s": statistics.median(resumes) if resumes else 0,
        # a batch pass is one batch
        "batch_p50_s": statistics.median(new_batches) if new_batches else wall,
        "setup_s": setup["session.start_s"] + setup["session.dict_load_s"],
        "peak_rss_mb": mem,
    }


def per_layer(b: Bench, setup: dict, warm: Pass, plain: Pass,
              traced: Pass, inmem: Pass | None) -> dict:
    ev = tracing.EventLog(glob.glob(os.path.join(b.eventlog_dir, "*"))[0])
    tr = traced.tracers.get("pass") or tracing.Tracer()
    rs = traced.tracers.get("resume") or tracing.Tracer()
    c = tr.counts
    turns = sum(b.ref["turns"])
    m = dict(setup)
    m["session.warmup_s"] = warm.wall
    m["ordered.wall_s"] = tr.total("ordered")
    m["ordered.rows"] = c["ordered.rows"]
    m["canonicalize.wall_s"] = tr.total("canonicalize")
    m["canonicalize.components"] = c["canonicalize.components"]
    m["extract.wall_s"] = tr.total("extract")
    m["extract.mentions"] = c["extract.mentions"]
    m["extract.mentions_per_turn"] = c["extract.mentions"] / turns
    m["extract.trie"] = c["extract.trie"]
    m["link.wall_s"] = tr.total("link")
    m["link.rows"] = c["link.rows"]
    m["link.hit_rate"] = (c["link.rows"] / c["extract.mentions"]
                          if c["extract.mentions"] else 0)
    m["materialize.wall_s"] = tr.total("materialize")
    for fam in tracing.FAMILIES:
        m[f"materialize.{fam}.wall_s"] = tr.total(f"materialize.{fam}")
        m[f"materialize.{fam}.rows"] = c[f"materialize.{fam}.rows"]
    m["pipeline.driver_gap_s"] = ev.idle_s(*plain.window)
    m["pipeline.jobs"] = ev.jobs_submitted(*plain.window)
    m["pipeline.inmem_wall_s"] = inmem.wall if inmem else 0
    for pre, t in (("tables", tr), ("resume.tables", rs)):
        m[f"{pre}.commit_s"] = t.total("tables.commit", nested=True)
        m[f"{pre}.read_s"] = t.total("tables.read")
        m[f"{pre}.jobs"] = ev.jobs_in_spans(t.windows("tables."))
        m[f"{pre}.bytes_written"] = t.counts["tables.bytes_written"]
    for st in STAGES:
        m[f"tables.commit.{st}_s"] = tr.total(f"tables.commit.{st}")
    walls = [w for _, _, w in plain.batches]
    m["stream.build_s"] = tr.total("stream.build")
    m["stream.antijoin_s"] = tracing.antijoin_s(tr)
    m["stream.append_s"] = tr.total("stream.append")
    m["stream.manifest_s"] = tr.total("stream.manifest")
    m["stream.batch_growth"] = walls[-1] / walls[0] if walls else 0
    m["stream.buckets_read_frac"] = plain.extra.get("buckets_read_frac", 0)
    # every batch after the first carries the re-delivery of drop 0
    m["stream.redelivery_s"] = sum(walls[1:])
    m["stream.redelivery_appended"] = plain.extra.get("redelivery_appended", 0)
    m["stream.cached_rdds_end"] = (plain.extra["cached_rdds_end"]
                                   if plain.batches else 0)
    m["stream.appended"] = sum(n for _, n, _ in plain.batches)
    totals = ev.task_totals(*plain.window)
    for k in SPARK_TOTALS:
        m[k] = totals.get(k, 0)
    m["host.steal_cs"] = plain.extra["steal_cs"]
    m["trace.overhead_s"] = traced.wall - plain.wall
    return m


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--entry", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--cotenant-jvms", type=int, default=-1)
    a = ap.parse_args()
    fn, warm_fn, inmem_fn = WORKLOADS[a.workload]
    b = Bench(a)
    setup = b.setup()
    passes: list[Pass] = []
    inmem = None
    try:
        with host.MemSampler(host.child_jvm(os.getpid()), b.heap()) as sampler:
            warm = run_pass(b, warm_fn, _untraced)
            if a.trace:
                plain = run_pass(b, fn, _untraced)
                tracers: dict = {}

                @contextlib.contextmanager
                def traced_phase(name):
                    tr = tracers[name] = tracing.Tracer()
                    with tracing.installed(tr):
                        yield tr

                traced = run_pass(b, fn, traced_phase)
                traced.tracers = tracers
                passes = [plain, traced]
                if inmem_fn:
                    inmem = run_pass(b, inmem_fn, _untraced)
            else:
                deadline = time.time() + a.seconds
                while not passes or time.time() < deadline:
                    passes.append(run_pass(b, fn, _untraced, sampler))
                    if passes[-1].errors:
                        break
    finally:
        b.stop()
    attempted = [warm] + passes + ([inmem] if inmem else [])
    failed = [p for p in attempted if p.errors]
    if a.trace:
        metrics = per_layer(b, setup, warm, plain, traced, inmem)
        metrics["fail_frac"] = len(failed) / len(attempted)
    else:
        metrics = end_to_end(setup, passes, max(sampler.nonheap_mb, default=0)
                             + b.live_heap_mb(sampler.windows))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if a.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    assert set(units) == set(metrics), set(units) ^ set(metrics)
    print(json.dumps({
        "diagnostics": {
            "workload": a.workload, "seed": a.seed, "nproc": host.nproc(),
            "cotenant_jvms_at_start": a.cotenant_jvms,
            "warmup_s": warm.wall,
            "pass_walls_s": [p.wall for p in passes],
            "first_vs_last_pass_s": [passes[0].wall, passes[-1].wall],
            "resume_walls_s": [p.resume for p in passes if p.resume is not None],
            "batch_walls_s": [[round(w, 4) for _, _, w in p.batches]
                              for p in passes if p.batches],
            "steal_cs_per_pass": [p.extra.get("steal_cs") for p in passes],
            "stream_restarts_s": [p.extra.get("restarts_s") for p in passes
                                  if "restarts_s" in p.extra],
            "errors": [e for p in failed for e in p.errors],
        }}))
    print(json.dumps({
        "correct": not failed,
        "attempted": len(attempted),
        "failed": len(failed),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
