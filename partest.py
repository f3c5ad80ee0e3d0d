"""Parallel test runner (VERDICT r11 stretch #8): same coverage as
``pytest tests/ -q``, split across concurrent worker PROCESSES, each with
its own SparkSession and DuckDB connection.

pytest-xdist is not in this frozen environment, so the split is explicit:
the 430+-query oracle battery — the suite's longest serial leg — shards
round-robin via ``SPARK_GRAFT_ORACLE_SHARD=i/n`` (tests/test_oracle_all.py),
the plans and fuzzer files shard the same way via the generic
``SPARK_GRAFT_TEST_SHARD=i/n`` collection filter (tests/conftest.py), and
the remaining files group into workers balanced by measured wall.
Coverage-exactness of the whole plan is itself a harness test
(``test_partest_plan_covers_whole_suite``).
Concurrency safety relies on contracts the suite already carries: artifact
builds publish with one atomic rename (`artifacts.ensure_artifact`), the
bucketed-join query writes external tables into per-call tempdirs, and the
single timing-gated test (window-group-limit pruning) keeps its
min-of-three/3x margin and runs inside the plans worker alongside
plan-shape asserts that are the real gate.

Each worker runs ``local[N]`` with N = cpu_count // workers (floor 4) so
the box is shared instead of 10x oversubscribed.  Exit code is non-zero if
any worker fails; per-worker tails print on failure.  Measured on the
32-core box: 6 workers = 935 s wall, the round-12 10-worker rebalance =
679 s (serial suite ~20 min) — per-test cost is driver-side-dominated
(Catalyst/py4j/DuckDB), so test-level parallelism wins until the box
saturates.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent)

# Worker plan: (label, pytest args, extra env).  Round-12 rebalance: the
# 6-worker split left a ~15 min critical path (each of oracle x3 / plans /
# fuzzers / misc ran 14-16 min); the generic SPARK_GRAFT_TEST_SHARD device
# (tests/conftest.py) now also halves the plans and fuzzers files, and the
# oracle battery runs four shards.  Per-test cost is dominated by
# driver-side work (Catalyst analysis, py4j, DuckDB), not executor compute,
# so more workers at fewer cores each wins until the box saturates.
_WORKERS: list[tuple[str, list[str], dict[str, str]]] = [
    # Round-15 rebalance (the recorded-wall test fired twice after the
    # round's 14 query additions re-dealt the round-robin shards —
    # oracle-1 drew a ~505 s heavy hand and the whole-bench plan-golden
    # test wandered between plans shards): the oracle battery splits
    # FIVE ways on hash-stable names, and test_plan_stability.py — one
    # test that builds every bench plan — gets its own worker so it can
    # never reshuffle the plans legs.
    ("oracle-0", ["tests/test_oracle_all.py"], {"SPARK_GRAFT_ORACLE_SHARD": "0/5"}),
    ("oracle-1", ["tests/test_oracle_all.py"], {"SPARK_GRAFT_ORACLE_SHARD": "1/5"}),
    ("oracle-2", ["tests/test_oracle_all.py"], {"SPARK_GRAFT_ORACLE_SHARD": "2/5"}),
    ("oracle-3", ["tests/test_oracle_all.py"], {"SPARK_GRAFT_ORACLE_SHARD": "3/5"}),
    ("oracle-4", ["tests/test_oracle_all.py"], {"SPARK_GRAFT_ORACLE_SHARD": "4/5"}),
    ("goldens", ["tests/test_plan_stability.py"], {}),
    ("plans-0", ["tests/test_plans.py"],
     {"SPARK_GRAFT_TEST_SHARD": "0/4"}),
    ("plans-1", ["tests/test_plans.py"],
     {"SPARK_GRAFT_TEST_SHARD": "1/4"}),
    ("plans-2", ["tests/test_plans.py"],
     {"SPARK_GRAFT_TEST_SHARD": "2/4"}),
    ("plans-3", ["tests/test_plans.py"],
     {"SPARK_GRAFT_TEST_SHARD": "3/4"}),
    ("fuzzers-0", ["tests/test_property_random.py"],
     {"SPARK_GRAFT_TEST_SHARD": "0/3"}),
    ("fuzzers-1", ["tests/test_property_random.py"],
     {"SPARK_GRAFT_TEST_SHARD": "1/3"}),
    ("fuzzers-2", ["tests/test_property_random.py"],
     {"SPARK_GRAFT_TEST_SHARD": "2/3"}),
    # The whole-registry cartesian sweep plans ~500 queries (212 s) — its
    # own worker so no hash-dealt shard ever draws a 200 s outlier.
    ("sweep", ["tests/test_sweep_global.py"], {}),
    ("functions", ["tests/test_functions.py", "tests/test_harness.py"], {}),
    # misc split in the r15 rebalance: the spill battery's child JVMs +
    # the slow-marked streaming scale proofs made the old single misc
    # worker the suite's critical path (349 s vs a 189 s median).
    ("misc-0", ["tests/test_sources.py"], {}),
    ("misc-1", ["tests/test_streaming.py", "tests/test_spill_pressure.py"],
     {}),
]


def main() -> int:
    cpus = os.cpu_count() or 32
    per_worker = max(4, cpus // len(_WORKERS))
    logdir = Path(_REPO) / ".partest"
    logdir.mkdir(exist_ok=True)
    t0 = time.perf_counter()
    procs = []
    for label, args, extra in _WORKERS:
        # FULL suite always: an inherited SPARK_GRAFT_SUITE=fast (the
        # opt-in fast tier, tests/conftest.py) must not trim a worker;
        # partest is the full-battery runner by contract.
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(per_worker),
                   SPARK_GRAFT_SUITE="full", **extra)
        log = (logdir / f"{label}.log").open("w")
        procs.append(
            (
                label,
                subprocess.Popen(
                    [sys.executable, "-m", "pytest", "-q", *args],
                    cwd=_REPO,
                    env=env,
                    stdout=log,
                    stderr=subprocess.STDOUT,
                ),
                log,
            )
        )
    # Record each worker's own wall (poll, don't serialize on wait order) —
    # the committed partest_walls.json feeds the rebalance harness test
    # (VERDICT r12 stretch #8): a future addition that silently rebuilds a
    # long critical path fails that test instead of hiding in total wall.
    walls: dict[str, float] = {}
    pending = {label: proc for label, proc, _log in procs}
    while pending:
        for label in list(pending):
            if pending[label].poll() is not None:
                walls[label] = round(time.perf_counter() - t0, 1)
                del pending[label]
        if pending:
            time.sleep(1.0)
    # Walls are measurements, not correctness — record them UNCONDITIONALLY
    # so a stale committed record self-heals: if the file were gated on
    # rc == 0, the balance test (which runs INSIDE the misc worker and
    # fails exactly when the record is stale) would deadlock the refresh
    # its own assertion message prescribes.
    #
    # Record schema (ADVICE r13 #1): {"best": {...}, "latest": {...},
    # "counts": {...}}.  `best` is the elementwise min across runs — the
    # box shows up to 1.6x same-run noise between IDENTICAL workloads (the
    # four oracle shards carry 117-118 tests each and still spread
    # 344-574 s in one run), so a single run's walls measure the weather
    # and the min converges to the plan's inherent balance, which is what
    # the harness test gates.  But a frozen min can never fire on a future
    # slowdown, so the min RESETS per worker whenever that worker's
    # collected-test count changes (a new test rebuilding a critical path
    # produces a fresh wall instead of being discarded), and the whole
    # record resets on a plan change (different label set).  `latest` is
    # this run verbatim, for trend reading.
    import json
    import re

    counts: dict[str, int] = {}
    summaries: dict[str, str] = {}
    for label, _proc, _log in procs:
        tail = (logdir / f"{label}.log").read_text().strip().splitlines()
        summaries[label] = tail[-1] if tail else "(no output)"
        ran = sum(
            int(n)
            for n, word in re.findall(
                r"(\d+) (passed|failed|skipped|xfailed|xpassed|error)",
                summaries[label],
            )
        )
        counts[label] = ran

    best = dict(walls)
    record_counts = dict(counts)
    wpath = Path(_REPO) / "partest_walls.json"
    if wpath.exists():
        try:
            old = json.loads(wpath.read_text())
            old_best = old.get("best", old)  # pre-r14 records were flat
            old_counts = old.get("counts", {})
            if set(old_best) == set(walls):
                # Merge ONLY when the recorded count proves the workload is
                # unchanged — an unknown old count (pre-r14 flat record, or
                # a hand-edited file) must reset, not merge: treating None
                # as "unchanged" would min-merge walls measured under a
                # different test plan, which is exactly the stale-floor
                # failure the count reset exists to prevent (review r14 #1).
                for k in walls:
                    if (
                        counts[k] == 0
                        and old_counts.get(k, 0) > 0
                        and "no tests ran" not in summaries[k]
                    ):
                        # The worker died before pytest printed a summary
                        # line (count regex parsed nothing AND pytest's own
                        # "no tests ran" marker is absent — a group that
                        # legitimately collected zero tests prints it and
                        # resets below): its short wall is an abort, not a
                        # measurement — keep the prior best/count so the
                        # bogus floor never commits; `latest` still records
                        # the aborted run verbatim (ADVICE r14 #2, abort vs
                        # emptied-group distinction per the r15 review).
                        best[k] = old_best[k]
                        record_counts[k] = old_counts[k]
                    elif old_counts.get(k) == counts[k]:
                        best[k] = min(walls[k], old_best[k])
                    # else: workload changed/unknown — reset to this run.
        except ValueError:
            pass
    record = {"best": best, "latest": walls, "counts": record_counts}
    wpath.write_text(json.dumps(record, indent=1, sort_keys=True) + "\n")
    rc = 0
    for label, proc, log in procs:
        code = proc.wait()
        log.close()
        # Print THIS run's measured wall (ADVICE r13 #2), not the merged
        # historical best the JSON records.
        print(f"[{label}] rc={code} wall={walls[label]}s {summaries[label]}")
        if code != 0:
            rc = 1
            tail = (logdir / f"{label}.log").read_text().strip().splitlines()
            print("\n".join(tail[-30:]))
    print(f"total wall: {time.perf_counter() - t0:.1f}s rc={rc}")
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
