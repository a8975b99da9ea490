"""Correctness gate: triple count plus an order-free digest.

The digest of a triple set is the sum of the first 60 bits of
md5(subj \\x1f pred \\x1f obj) over its triples. A sum does not depend on
row order, and the same number comes out of Python (for the oracle's
set) and out of one Spark aggregate (for the program's output).
"""

from __future__ import annotations

import hashlib

SEP = "\x1f"
HEX_DIGITS = 15  # 60 bits; a sum of 2^30 of them fits decimal(38, 0)


def digest(triples) -> dict:
    """{"count", "hash"} of an iterable of distinct (subj, pred, obj)."""
    n = 0
    h = 0
    for t in triples:
        n += 1
        h += int(hashlib.md5(SEP.join(t).encode("utf-8")).hexdigest()
                 [:HEX_DIGITS], 16)
    return {"count": n, "hash": str(h)}


def spark_digest(df) -> dict:
    """The same digest of a (subj, pred, obj) DataFrame, in one job."""
    from pyspark.sql import functions as F

    part = F.conv(
        F.substring(F.md5(F.concat_ws(SEP, "subj", "pred", "obj")), 1, HEX_DIGITS),
        16, 10,
    ).cast("decimal(38,0)")
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(part).alias("h")).first()
    return {"count": int(row["n"]), "hash": str(int(row["h"] or 0))}


def check(got: dict, want: dict) -> str | None:
    """None when the digests agree, else a one-line reason."""
    if got["count"] != want["count"]:
        return f"count {got['count']} != reference {want['count']}"
    if got["hash"] != want["hash"]:
        return f"digest differs from the reference at equal count {got['count']}"
    return None
