"""Spans around the program's layers, recorded from outside the program.

Inside ``installed(tracer)`` the public functions each layer exposes are
swapped, in the namespaces their callers look them up in, for wrappers
that open a span, call the original and force the returned DataFrame
(persist + count) before closing the span, so the lazy Spark work of a
layer runs inside its span; leaving the block puts the originals back.
Spark jobs and task metrics come from the event log and are attributed
to spans and passes by submission or finish time.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time
from collections import defaultdict

FAMILIES = ("turn", "conv", "section", "mention", "top_entity", "label",
            "entity_prop")


class Tracer:
    def __init__(self):
        self.spans: list[tuple[str, float, float]] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.marks: list[tuple[str, float]] = []
        self.store_dir: str | None = None
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.time()
        try:
            yield
        finally:
            with self._lock:
                self.spans.append((name, t0, time.time()))

    def mark(self, name: str) -> None:
        with self._lock:
            self.marks.append((name, time.time()))

    def add(self, key: str, value: float) -> None:
        with self._lock:
            self.counts[key] += value

    def total(self, name: str, nested: bool = False) -> float:
        """Summed duration of the spans called ``name`` (and, with
        ``nested``, of those called ``name.*``)."""
        return sum(t1 - t0 for n, t0, t1 in self.spans
                   if n == name or (nested and n.startswith(name + ".")))

    def windows(self, prefix: str) -> list[tuple[float, float]]:
        return [(t0, t1) for n, t0, t1 in self.spans if n.startswith(prefix)]


def _force(df):
    df = df.persist()
    return df, df.count()


def _patches(tr: Tracer):
    """(namespace, attribute, wrapper factory) for every traced call."""
    from pyspark.sql.readwriter import DataFrameWriter

    from rkts_migration_spark import extract, materialize, pipeline
    from rkts_migration_spark.operators import graph
    from rkts_migration_spark.streaming import incremental

    def layer(name, rows_key=None):
        def factory(fn):
            def wrapped(*a, **k):
                with tr.span(name):
                    out, n = _force(fn(*a, **k))
                if rows_key:
                    tr.add(rows_key, n)
                return out
            return wrapped
        return factory

    def canonical_map(fn):
        def wrapped(*a, **k):
            with tr.span("canonicalize"):
                out, _ = _force(fn(*a, **k))
                tr.add("canonicalize.components",
                       out.select("canon_id").distinct().count())
            return out
        return wrapped

    def trie_flag(fn):
        def wrapped(*a, **k):
            tr.counts["extract.trie"] = 1
            return fn(*a, **k)
        return wrapped

    def commit(fn):
        def wrapped(df, root, stage, *a, **k):
            with tr.span(f"tables.commit.{stage}"):
                manifest = fn(df, root, stage, *a, **k)
            tr.add("tables.bytes_written", manifest["metrics"]["bytes"] or 0)
            return manifest
        return wrapped

    def prune(fn):
        def wrapped(*a, **k):
            tr.mark("stream.antijoin")
            return fn(*a, **k)
        return wrapped

    def manifest(fn):
        def wrapped(*a, **k):
            with tr.span("stream.manifest"):
                return fn(*a, **k)
        return wrapped

    def parquet(fn):
        def wrapped(self, path, *a, **k):
            if tr.store_dir and str(path).startswith(tr.store_dir):
                with tr.span("stream.append"):
                    return fn(self, path, *a, **k)
            return fn(self, path, *a, **k)
        return wrapped

    out = [
        (pipeline, "with_section_index", layer("ordered", "ordered.rows")),
        (pipeline, "build_canonical_map", canonical_map),
        (pipeline, "build_abstract_lookup", layer("canonicalize")),
        (pipeline, "extract_mentions", layer("extract", "extract.mentions")),
        (extract, "extract_mentions_trie", trie_flag),
        (pipeline, "link_and_canonicalize", layer("link", "link.rows")),
        (pipeline, "assemble_triples", layer("materialize")),
        (pipeline, "write_stage", commit),
        (pipeline, "read_stage", layer("tables.read")),
        (incremental, "build_triples_inmem", layer("stream.build")),
        (incremental, "_fs_write_json", manifest),
        (graph, "prune_store_to_touched", prune),
        (DataFrameWriter, "parquet", parquet),
    ]
    for fam in FAMILIES:
        out.append((materialize, f"{fam}_triples",
                    layer(f"materialize.{fam}", f"materialize.{fam}.rows")))
    return out


@contextlib.contextmanager
def installed(tr: Tracer):
    saved = []
    try:
        for ns, attr, factory in _patches(tr):
            orig = getattr(ns, attr)
            saved.append((ns, attr, orig))
            setattr(ns, attr, factory(orig))
        yield tr
    finally:
        for ns, attr, orig in reversed(saved):
            setattr(ns, attr, orig)


def antijoin_s(tr: Tracer) -> float:
    """Per batch, from the bucket-pruning call to the first append or
    manifest write after it: the touched-bucket collect plus the
    anti-join that the delta count runs."""
    ends = sorted(t0 for n, t0, _ in tr.spans
                  if n in ("stream.append", "stream.manifest"))
    total = 0.0
    for _, t in tr.marks:
        later = [e for e in ends if e >= t]
        if later:
            total += later[0] - t
    return total


# --- event log --------------------------------------------------------------

class EventLog:
    """Jobs and task metrics of one Spark application's event log."""

    def __init__(self, path: str):
        self.jobs: dict[int, list[float]] = {}
        self.tasks: list[tuple[float, dict]] = []
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    self.jobs[ev["Job ID"]] = [ev["Submission Time"] / 1e3, None]
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in self.jobs:
                    self.jobs[ev["Job ID"]][1] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    self.tasks.append((ev["Task Info"]["Finish Time"] / 1e3, m))

    def jobs_submitted(self, t0: float, t1: float) -> int:
        return sum(1 for s, _ in self.jobs.values() if t0 <= s <= t1)

    def jobs_in_spans(self, spans) -> int:
        return sum(1 for s, _ in self.jobs.values()
                   if any(a <= s <= b for a, b in spans))

    def idle_s(self, t0: float, t1: float) -> float:
        """Seconds of [t0, t1] during which no job was running."""
        ivs = sorted((max(s, t0), min(e or t1, t1))
                     for s, e in self.jobs.values() if s < t1 and (e or t1) > t0)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (t1 - t0) - covered

    def task_totals(self, t0: float, t1: float) -> dict:
        tot = defaultdict(float)
        for t, m in self.tasks:
            if t0 <= t <= t1:
                tot["spark.tasks"] += 1
                tot["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                tot["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3
                tot["spark.spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                          + m.get("Disk Bytes Spilled", 0)) / 2**20
                tot["spark.shuffle_write_mb"] += (
                    (m.get("Shuffle Write Metrics") or {})
                    .get("Shuffle Bytes Written", 0) / 2**20)
        return dict(tot)
