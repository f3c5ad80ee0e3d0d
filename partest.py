"""Parallel test runner: the same coverage as ``pytest tests/ -q``, split
across as many worker processes as this machine's cores and RAM allow,
each with its own SparkSession and DuckDB connection.

``worker_count`` sizes the run: one worker per 4 cores, and no more
workers than driver heaps (``SPARK_GRAFT_DRIVER_MEM``, default 8g, as in
``session.get_spark``) fit in physical RAM.  Each worker runs the whole
suite with ``SPARK_GRAFT_TEST_SHARD=i/n``, which ``tests/conftest.py``
deals by md5 of the node id, so the n workers partition the suite exactly;
with one worker the shard is left unset and the run is plain serial
pytest.  Every worker runs ``local[cores // n]``.

Logs go to ``.partest/<i>.log``; each worker's rc, wall and pytest
summary line print at the end, with the log tail of any failed worker.
The exit code is non-zero if any worker fails.  Usage:
``python partest.py`` (or ``make test-par``).
"""

from __future__ import annotations

import os
import subprocess
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent)
_UNITS = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _size_bytes(size: str) -> int:
    """A JVM memory size ("8g", "24576m"); a bare number is MiB, as in
    ``spark.driver.memory``."""
    size = size.strip().lower().removesuffix("b")
    if size[-1:] in _UNITS:
        return int(size[:-1]) * _UNITS[size[-1]]
    return int(size) << 20


def worker_count(cores: int, ram_bytes: int, heap: str) -> int:
    """Workers for a box with ``cores`` cores and ``ram_bytes`` of physical
    memory when each worker's driver heap is ``heap``."""
    return max(1, min(cores // 4, ram_bytes // _size_bytes(heap)))


def main() -> int:
    cores = os.cpu_count() or 1
    ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    n = worker_count(cores, ram, os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    logdir = Path(_REPO) / ".partest"
    logdir.mkdir(exist_ok=True)
    print(f"partest: {n} worker(s) at local[{cores // n}]", flush=True)
    t0 = time.perf_counter()
    procs = {}
    for i in range(n):
        # The full suite always: an inherited SPARK_GRAFT_SUITE=fast must
        # not trim a worker.
        env = dict(os.environ, SPARK_GRAFT_SUITE="full",
                   SPARK_GRAFT_CPUS=str(cores // n))
        env.pop("SPARK_GRAFT_TEST_SHARD", None)
        if n > 1:
            env["SPARK_GRAFT_TEST_SHARD"] = f"{i}/{n}"
        with (logdir / f"{i}.log").open("w") as log:
            procs[i] = subprocess.Popen(
                [sys.executable, "-m", "pytest", "-q", "tests/"],
                cwd=_REPO, env=env, stdout=log, stderr=subprocess.STDOUT,
            )
    walls: dict[int, float] = {}
    while len(walls) < n:
        for i, proc in procs.items():
            if i not in walls and proc.poll() is not None:
                walls[i] = round(time.perf_counter() - t0, 1)
        time.sleep(1.0)
    rc = 0
    for i, proc in procs.items():
        tail = (logdir / f"{i}.log").read_text().strip().splitlines()
        summary = tail[-1] if tail else "(no output)"
        print(f"[{i}/{n}] rc={proc.returncode} wall={walls[i]}s {summary}")
        if proc.returncode != 0:
            rc = 1
            print("\n".join(tail[-30:]))
    print(f"total wall: {time.perf_counter() - t0:.1f}s rc={rc}")
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
