"""One measured run: a fresh process, one client, operations in a fixed order.

Started by ``run.py`` (never imported by it), so ``setup_s`` can be timed from
this process's own start.  Writes ``result.json`` (and, traced,
``spans.jsonl``) into ``--out``.

Protocol:

1. **Setup** ends at a barrier: imports, ``registry.load_all()``,
   ``session.get_spark()``, one JVM job, and one pandas-UDF job over
   ``nproc`` partitions (boots a Python worker in every task slot).
2. **Cold pass**: every operation once, build then action.
3. **Warm passes**: exactly ``WARM_PASSES``, however long they take.
   The first ``DISCARD`` are discarded (the JVM is still compiling); each
   operation's time is its minimum over the rest.  A fixed pass count keeps
   the statistic comparable between a fast and a slow run.

Each (pass, operation, phase) is a Spark job group, traced or not; tracing
adds only Spark's event log.
"""

from __future__ import annotations

import time

_T0_WALL = time.time()  # noqa: E402  (before any heavy import)

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

WARM_PASSES = 14
DISCARD = 6


def _process_age_s() -> float:
    """Seconds since this process started (from /proc, 10 ms resolution)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _proc_tree(root: int) -> list[int]:
    """``root`` and every live descendant (driver, JVM, Python workers)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of the process tree, reaped children included."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in _proc_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / tick


def tree_peak_rss_mb(root: int) -> dict[str, float]:
    """Peak RSS (``VmHWM``) in MB of each live process of the tree, keyed
    ``<pid> <program>``."""
    out = {}
    for pid in _proc_tree(root):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                prog = fh.read().split(b"\0")[0].decode(errors="replace").rsplit("/", 1)[-1]
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        out[f"{pid} {prog}"] = int(line.split()[1]) / 1024
        except OSError:
            continue
    return out


class Recorder:
    """In-memory spans of the benchmark's own layer boundaries."""

    def __init__(self) -> None:
        self.spans: list[dict] = [{"id": "run", "parent": None, "kind": "run", "name": "run",
                                   "start_ms": _T0_WALL * 1e3 - _process_age_s() * 1e3}]

    def add(self, kind: str, name: str, parent: str, t0: float, t1: float, **attrs) -> None:
        self.spans.append({"id": name, "parent": parent, "kind": kind, "name": name,
                           "start_ms": t0 * 1e3, "end_ms": t1 * 1e3, **attrs})


def stop_jvm(gateway) -> None:
    """Shut the py4j gateway and wait for the JVM: it exits when its stdin
    (a pipe from this process) closes."""
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _barrier_udf():
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def plus_one(s):
        return s + 1

    # Real (not postponed-string) hints: pandas_udf infers its type from them.
    plus_one.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(plus_one, "long")


def run(args: argparse.Namespace) -> dict:
    rec = Recorder()
    out = Path(args.out)
    inputs = json.loads(args.inputs)
    nproc = os.cpu_count() or 1
    sys.path.insert(0, str(Path(args.repo).resolve()))
    sys.path.insert(0, str(Path(__file__).resolve().parent))

    # ---- setup -------------------------------------------------------------
    t = time.time()
    from auron_spark import registry, session

    from workloads import WORKLOADS, Ctx

    rec.add("setup_step", "setup:imports", "setup", t, time.time())
    t = time.time()
    specs = registry.load_all()
    rec.add("setup_step", "setup:registry", "setup", t, time.time())
    # JVM temp files (Spark's artifact directory, hsperfdata) stay in the run
    # directory.
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:+PerfDisableSharedMem"}
    if args.trace:
        (out / "eventlog").mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (out / "eventlog").resolve().as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t = time.time()
    spark = session.get_spark(f"perfbench-{args.workload}", extra_conf=conf)
    rec.add("setup_step", "setup:launch", "setup", t, time.time())
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    gateway = sc._gateway
    t = time.time()
    sc.setJobGroup("setup:first_job", "setup:first_job")
    spark.range(0, 1000 * nproc, 1, nproc).selectExpr("sum(id)").collect()
    rec.add("setup_step", "setup:first_job", "setup", t, time.time())
    t = time.time()
    sc.setJobGroup("setup:python_boot", "setup:python_boot")
    spark.range(0, 1000 * nproc, 1, nproc).select(_barrier_udf()("id")).write.format(
        "noop").mode("overwrite").save()
    rec.add("setup_step", "setup:python_boot", "setup", t, time.time())
    setup_s = _process_age_s()
    rec.add("setup", "setup", "run", rec.spans[0]["start_ms"] / 1e3, time.time())

    # ---- passes --------------------------------------------------------------
    ops = WORKLOADS[args.workload]
    expected = json.loads((Path(__file__).parent / "expected.json").read_text())[args.mode]
    ctx = Ctx(spark=spark, specs=specs, inputs=inputs, out=out / "data")
    me = os.getpid()
    times: dict[str, list[tuple[float, float]]] = {op.name: [] for op in ops}
    pass_cpu: list[float] = []
    pass_wall: list[float] = []
    attempted = failed = 0
    failures: list[str] = []
    deferred: dict[str, tuple] = {}

    def verify(op, p: int, result) -> int:
        """Check one output against expected.json, outside the timed window;
        returns 1 on mismatch."""
        name = f"p{p}:{op.name}"
        sc.setJobGroup(f"{name}:check", f"{name}:check")
        t0 = time.time()
        try:
            rows, digest = op.check(result)
        except Exception:
            rows, digest = -1, traceback.format_exc(limit=3)
        rec.add("phase", f"{name}:check", name, t0, time.time(),
                **{"pass": p, "op": op.name, "phase": "check"})
        want = expected.get(op.name)
        if want is not None and [rows, digest] == [want["rows"], want["digest"]]:
            return 0
        failures.append(f"{name}: got rows={rows} digest={digest}, want {want}")
        return 1

    passes = 1 + WARM_PASSES  # pass 0 is the cold pass
    for p in range(passes):
        ctx.pass_no = p
        cpu0, w0, pt0 = tree_cpu_s(me), time.perf_counter(), time.time()
        for op in ops:
            name = f"p{p}:{op.name}"
            ot0 = time.time()
            attempted += 1
            try:
                sc.setJobGroup(f"{name}:build", f"{name}:build")
                tb0 = time.time()
                b0 = time.perf_counter()
                built = op.build(ctx)
                b1 = time.perf_counter()
                tb1 = time.time()
                sc.setJobGroup(f"{name}:exec", f"{name}:exec")
                te0 = time.time()
                e0 = time.perf_counter()
                result = op.act(ctx, built)
                e1 = time.perf_counter()
                te1 = time.time()
            except Exception:  # an operation that raises counts as failed
                failed += 1
                failures.append(f"{name}: {traceback.format_exc(limit=3)}")
                rec.add("op", name, f"p{p}", ot0, time.time(), failed=True)
                continue
            times[op.name].append((b1 - b0, e1 - e0))
            rec.add("phase", f"{name}:build", name, tb0, tb1,
                    **{"pass": p, "op": op.name, "phase": "build"})
            rec.add("phase", f"{name}:exec", name, te0, te1,
                    **{"pass": p, "op": op.name, "phase": "exec",
                       "rows": len(result) if isinstance(result, list) else 0})
            if op.check_every_pass or p == 0:
                failed += verify(op, p, result)
            else:
                deferred[op.name] = (op, p, result)
            rec.add("op", name, f"p{p}", ot0, time.time())
        pass_wall.append(time.perf_counter() - w0)
        for op in ops:  # outputs of the previous pass are no longer needed
            shutil.rmtree(ctx.out / op.name / f"p{p - 1}", ignore_errors=True)
        pass_cpu.append(tree_cpu_s(me) - cpu0)
        rec.add("pass", f"p{p}", "run", pt0, time.time(), **{"pass": p})
    # Written datasets are checked on the cold pass (above) and on the last
    # pass (here).
    for op, p_last, result in deferred.values():
        failed += verify(op, p_last, result)
    peak_rss = tree_peak_rss_mb(me)
    app_id = sc.applicationId
    spark.stop()
    stop_jvm(gateway)
    rec.spans[0]["end_ms"] = time.time() * 1e3

    first = 1 + DISCARD  # first measured pass (pass 0 is the cold pass)
    measured = list(range(first, passes))
    per_op_min = {
        n: (min(b for b, _ in v[first:]), min(b + e for b, e in v[first:]))
        for n, v in times.items() if len(v) > first
    }
    warm = [tot for _, tot in per_op_min.values()]
    res = {
        "attempted": attempted,
        "failed": failed,
        "failures": failures[:20],
        "passes": passes,
        "end_to_end": {
            "setup_s": setup_s,
            "cold_s": sum(b + e for v in times.values() for b, e in v[:1])
            if all(times.values()) else math.nan,
            "warm_s": sum(warm) if len(warm) == len(ops) else math.nan,
            "warm_geomean_s": math.exp(statistics.fmean(math.log(x) for x in warm))
            if len(warm) == len(ops) else math.nan,
            "warm_cpu_s": statistics.median(pass_cpu[first:]) if len(pass_cpu) > first
            else math.nan,
            "peak_rss_mb": sum(peak_rss.values()),
        },
        "pass_wall_s": pass_wall,
        "pass_cpu_s": pass_cpu,
        "op_min_s": per_op_min,
        "peak_rss_mb_by_process": peak_rss,
    }
    if args.trace:
        import tracing as tr

        logs = [f for f in (out / "eventlog").iterdir() if app_id in f.name]
        jobs, stages = tr.parse_event_log(logs[0])
        spans = tr.build_spans(rec.spans, jobs, stages)
        tr.write_spans(spans, out / "spans.jsonl")
        layers = tr.layer_metrics(tr.read_spans(out / "spans.jsonl"), measured)
        layers["trace.warm_s"] = res["end_to_end"]["warm_s"]
        res["layers"] = layers
    return res


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--mode", default="full")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--repo", required=True)
    args = ap.parse_args()
    res = run(args)
    Path(args.out, "result.json").write_text(json.dumps(res))


if __name__ == "__main__":
    main()
