#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Prepares the inputs for ``--seed`` (cached
under ``perfbench/.cache``), measures one fresh worker process
(``worker.py``) and prints, as the last line of standard output, one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  The line before it carries the host-weather diagnostics of
the run (not metrics).  ``--smoke`` runs the tiny inputs.

Exits non-zero without a result line when the engine package is missing or
the worker does not finish.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from workloads import WORKLOADS  # noqa: E402

#: name -> unit, printed with ``--trace 0``.
END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "warm_s": "s",
    "warm_geomean_s": "s",
    "warm_cpu_s": "s",
    "peak_rss_mb": "MB",
}

_LAYERS = {
    "session.launch_s": "s", "session.first_job_s": "s", "session.python_boot_s": "s",
    "registry.load_s": "s",
    "build.s": "s", "build.driver_s": "s", "build.job_s": "s", "build.jobs": "count",
    "exec.s": "s", "exec.gap_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count",
    "task.run_s": "s", "task.cpu_s": "s", "task.cpu_frac": "ratio", "task.gc_s": "s",
    "task.deser_s": "s", "task.peak_mem_bytes": "bytes",
    "scan.bytes": "bytes", "scan.rows": "count", "scan.files": "count",
    "scan.rows_per_out_row": "ratio",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes", "shuffle.write_s": "s",
    "shuffle.fetch_wait_s": "s",
    "spill.mem_bytes": "bytes", "spill.disk_bytes": "bytes",
    "python.boot_s": "s", "python.run_s": "s",
    "python.bytes_sent": "bytes", "python.bytes_recv": "bytes", "python.rows_recv": "count",
    "write.bytes": "bytes", "write.rows": "count", "write.files": "count",
    "write.dyn_parts": "count", "write.job_commit_s": "s",
    "trace.warm_s": "s", "trace.jobs": "count", "trace.unattributed_jobs": "count",
    "trace.setup_python_boot_s": "s", "trace.cold_python_boot_s": "s",
    "trace.cold_first_job_extra_s": "s",
}
#: name -> unit, printed with ``--trace 1``.
PER_LAYER = dict(_LAYERS)
for _ops in WORKLOADS.values():
    for _op in _ops:
        PER_LAYER[f"op.{_op.name}.build_s"] = "s"
        PER_LAYER[f"op.{_op.name}.exec_s"] = "s"

WORKER_TIMEOUT_S = 165


def calibrate() -> float:
    """Seconds for a fixed, engine-independent CPU kernel (pure Python)."""
    t = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _wait_group(pgid: int) -> None:
    """Kill what is left of the worker's process group and wait for it."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    for _ in range(100):
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="accepted for the benchmark contract; a run measures a fixed "
                         "number of passes, however long they take")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, about a minute")
    args = ap.parse_args()
    t_start = time.monotonic()
    root = Path.cwd()
    if not (root / "auron_spark" / "__init__.py").is_file():
        print("perfbench: no auron_spark package in the current directory; "
              "run from the root of a checkout", file=sys.stderr)
        return 2

    import fixtures

    mode = "smoke" if args.smoke else "full"
    host = {"load1_start": os.getloadavg()[0], "calib_before_s": calibrate()}
    inputs = fixtures.prepare(mode, args.seed)
    out = HERE / ".cache" / "runs" / f"{args.workload}-{mode}-s{args.seed}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    env["SPARK_LOCAL_DIRS"] = str(out / "spark-local")
    env["TMPDIR"] = str(out / "tmp")
    (out / "tmp").mkdir()
    env["PYTHONDONTWRITEBYTECODE"] = "1"
    cmd = [sys.executable, str(HERE / "worker.py"), "--workload", args.workload,
           "--mode", mode, "--trace", str(args.trace),
           "--inputs", json.dumps(inputs), "--out", str(out), "--repo", str(root)]
    ticks0 = _cpu_ticks()
    with open(out / "worker.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=out, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(30.0, WORKER_TIMEOUT_S - (time.monotonic() - t_start)))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _wait_group(proc.pid)
            proc.wait()
    ticks1 = _cpu_ticks()
    delta = [b - a for a, b in zip(ticks0, ticks1)]
    host["steal_share"] = delta[7] / max(1, sum(delta)) if len(delta) > 7 else 0.0
    host["calib_after_s"] = calibrate()
    for junk in ("data", "spark-local", "eventlog", "tmp"):
        shutil.rmtree(out / junk, ignore_errors=True)
    result_path = out / "result.json"
    if code != 0 or not result_path.exists():
        tail = (out / "worker.log").read_text(errors="replace")[-4000:]
        print(f"perfbench: worker failed (exit {code}); log tail:\n{tail}", file=sys.stderr)
        return 1
    res = json.loads(result_path.read_text())
    host.update(passes=res["passes"], pass_wall_s=res["pass_wall_s"])
    (out / "host.json").write_text(json.dumps(host))
    if args.trace:
        values, units = res["layers"], PER_LAYER
    else:
        values, units = res["end_to_end"], END_TO_END
    # A metric an operation failure left undefined reads 0 (the run is then
    # reported as not correct).
    metrics = {}
    for k, u in units.items():
        v = float(values.get(k) or 0.0)
        metrics[k] = {"value": v if math.isfinite(v) else 0.0, "unit": u}
    for f in res["failures"]:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    print(json.dumps({"host": host, "run_dir": str(out.relative_to(root))}))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
