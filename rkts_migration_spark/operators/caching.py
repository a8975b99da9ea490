"""Cached-dependency tracking for lazily-returned DataFrames.

Several dedup/ANN operators and the in-memory pipeline persist an
intermediate table (postings, band buckets, projected vectors, the
ordered and linked stages) that the RETURNED DataFrame's plan
references multiple times — the persist is load-bearing (Spark has no
cross-DAG subtree reuse), but the operator can't unpersist it before
the caller's consuming action has run. Without cleanup, a long-lived
session chaining dedup passes accumulates cached stage tables until
executor storage evicts them under pressure (ADVICE r3).

Pattern: the operator attaches its persisted handles to the returned
DataFrame (``attach_cached_deps``); the caller releases them after its
terminal action (``release_cached_deps``), or uses ``cached_deps`` as
a context manager::

    edges = neardup_verified_edges(df, cand)
    edges.write.parquet(out)          # consuming action
    release_cached_deps(edges)        # frees postings/buckets

Handles survive ordinary chaining only on the object the operator
returned — a derived DataFrame (``edges.filter(...)``) is a new
object, so operators that compose internally (neardup_clusters)
re-attach the union of their children's handles to their own output.
Attributes on DataFrame objects are plain Python state (driver-side
only), never serialized into the plan.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame

_ATTR = "_rkts_cached_deps"


def attach_cached_deps(df: DataFrame, deps) -> DataFrame:
    """Record persisted DataFrames that ``df``'s plan depends on,
    extending (not replacing) any already attached."""
    existing = list(getattr(df, _ATTR, []))
    setattr(df, _ATTR, existing + [d for d in deps if d is not None])
    return df


def cached_deps_of(df: DataFrame) -> list[DataFrame]:
    """The handles attached to ``df`` (possibly empty)."""
    return list(getattr(df, _ATTR, []))


def release_cached_deps(df: DataFrame) -> int:
    """Unpersist every attached handle; returns how many were freed.
    Idempotent (the list is cleared after release)."""
    deps = cached_deps_of(df)
    for d in deps:
        d.unpersist()
    setattr(df, _ATTR, [])
    return len(deps)


@contextmanager
def cached_deps(df: DataFrame):
    """``with cached_deps(edges) as e: e.write...`` — releases on exit."""
    try:
        yield df
    finally:
        release_cached_deps(df)
