"""Benchmark entry point: one workload, one seed, one result line.

    python3 perfbench/run.py --workload inmem_65 --seed 1 --seconds 20 --trace 0

Run from the repository root. It makes (or finds in its cache) the
seeded inputs and the oracle's reference in a separate process, then
starts the measured process (measure.py) and passes its standard output
through; the last line is the JSON result. Everything it writes lives
under ``.perfbench/`` in the current directory. The exit code is
nonzero when any pass was wrong or raised, or when the program cannot
be imported.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import host  # noqa: E402

WORKLOAD_INPUTS = {"ckpt_65": "g65", "stream_6k": "g6k"}
# sources whose change must invalidate cached inputs and references
INPUT_SOURCES = ("perfbench/gen.py", "perfbench/gate.py",
                 "rkts_migration_spark/oracle.py",
                 "rkts_migration_spark/fixtures.py",
                 "rkts_migration_spark/vocab.py")
CACHE_KEEP = 64  # entries are about 0.5 MB; keep every seed of a round
RUN_LIMIT_S = 175


def _source_token() -> str:
    h = hashlib.md5()
    for rel in INPUT_SOURCES:
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:10]


def _killpg(proc: subprocess.Popen) -> None:
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def _run(cmd: list[str], deadline: float, env: dict) -> int:
    """Run ``cmd`` in its own process group, stdout passed through; the
    whole group is killed when it overruns ``deadline`` or exits."""
    proc = subprocess.Popen(cmd, env=env, start_new_session=True)
    try:
        return proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        print(f"timed out: {cmd[1]}", file=sys.stderr)
        return 124
    finally:
        _killpg(proc)


def ensure_inputs(kind: str, seed: int, deadline: float, env: dict) -> str | None:
    cache = os.path.join(".perfbench", "cache")
    entry = os.path.abspath(os.path.join(cache, f"{kind}-s{seed}-{_source_token()}"))
    if os.path.exists(os.path.join(entry, "reference.json")):
        os.utime(entry)
        return entry
    shutil.rmtree(entry + ".tmp", ignore_errors=True)
    rc = _run([sys.executable, os.path.join(HERE, "gen.py"), "--kind", kind,
               "--seed", str(seed), "--out", entry], deadline, env)
    if rc != 0:
        return None
    old = sorted((os.path.join(cache, d) for d in os.listdir(cache)),
                 key=os.path.getmtime)[:-CACHE_KEEP]
    for d in old:
        shutil.rmtree(d, ignore_errors=True)
    return entry


def main() -> int:
    deadline = time.time() + RUN_LIMIT_S
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOAD_INPUTS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "rkts_migration_spark")):
        print("the program (rkts_migration_spark/) is missing", file=sys.stderr)
        return 2

    env = dict(os.environ)
    # Spark's Python workers import the program (the trie path runs there)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p)
    # scratch space of Spark and of Python stays inside the checkout
    tmp = os.path.abspath(os.path.join(".perfbench", "tmp"))
    os.makedirs(tmp, exist_ok=True)
    env["SPARK_LOCAL_DIRS"] = env["TMPDIR"] = tmp
    cotenants = host.live_jvms()  # before this run starts a JVM of its own

    entry = ensure_inputs(WORKLOAD_INPUTS[a.workload], a.seed, deadline, env)
    if entry is None:
        print("input generation failed", file=sys.stderr)
        return 2
    work = os.path.abspath(os.path.join(".perfbench", "work", str(os.getpid())))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        return _run([sys.executable, os.path.join(HERE, "measure.py"),
                     "--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", str(a.trace),
                     "--entry", entry, "--work", work, "--t0", repr(t0),
                     "--cotenant-jvms", str(cotenants)], deadline, env)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
