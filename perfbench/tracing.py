"""Traced run: Spark event log + benchmark spans -> span file -> layer metrics.

The worker records its own spans (run, setup steps, pass, operation, phase)
in memory and tags every Spark job with ``setJobGroup(<phase span name>)``.
After the session stops, :func:`build_spans` reads Spark's event log and
hangs each job under the phase span named by its job group, and each stage
under its job.  Task metrics and SQL metrics are summed onto the stage and
job spans.  :func:`write_spans` writes one JSON object per span;
:func:`layer_metrics` computes the per-layer numbers from that list.

Span times are epoch milliseconds (the benchmark's ``time.time()`` and the
JVM's ``currentTimeMillis`` read the same clock).  A span's self time is its
duration minus the part of it that its children cover.
"""

from __future__ import annotations

import json
import re
from collections import defaultdict
from pathlib import Path

# SQL metric name -> counter key.  Timings are converted to seconds.
_SQL_METRICS = {
    "time to start Python workers": "python.boot_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_recv",
    "number of files read": "scan.files",
    "number of written files": "write.files",
    "number of dynamic part": "write.dyn_parts",
    "job commit time": "write.job_commit_s",
}
_PY_NODE = re.compile(r"Python|Pandas|InArrow")


def _task_counters(tm: dict) -> dict[str, float]:
    sr = tm.get("Shuffle Read Metrics", {})
    sw = tm.get("Shuffle Write Metrics", {})
    im = tm.get("Input Metrics", {})
    om = tm.get("Output Metrics", {})
    return {
        "task.run_s": tm.get("Executor Run Time", 0) / 1e3,
        "task.cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
        "task.gc_s": tm.get("JVM GC Time", 0) / 1e3,
        "task.deser_s": tm.get("Executor Deserialize Time", 0) / 1e3,
        "scan.bytes": im.get("Bytes Read", 0),
        "scan.rows": im.get("Records Read", 0),
        "shuffle.write_bytes": sw.get("Shuffle Bytes Written", 0),
        "shuffle.write_s": sw.get("Shuffle Write Time", 0) / 1e9,
        "shuffle.read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle.fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1e3,
        "spill.mem_bytes": tm.get("Memory Bytes Spilled", 0),
        "spill.disk_bytes": tm.get("Disk Bytes Spilled", 0),
        "write.bytes": om.get("Bytes Written", 0),
        "write.rows": om.get("Records Written", 0),
    }


def _add(into: dict, more: dict) -> None:
    for k, v in more.items():
        into[k] = into.get(k, 0) + v


def parse_event_log(path: Path) -> tuple[list[dict], list[dict]]:
    """Jobs and stages of an uncompressed, non-rolling Spark event log, with
    task and SQL metrics summed per stage (SQL driver-side metrics per job)."""
    accum: dict[int, tuple[str, str, str]] = {}  # id -> (node, metric, type)
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    exec_job: dict[int, int] = {}
    driver_updates: list[tuple[int, int, float]] = []
    task_updates: list[tuple[int, int, float]] = []
    peak_mem: dict[int, int] = defaultdict(int)

    def walk(plan: dict) -> None:
        for m in plan.get("metrics", []):
            accum[m["accumulatorId"]] = (plan.get("nodeName", ""), m["name"], m["metricType"])
        for c in plan.get("children", []):
            walk(c)

    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jid = e["Job ID"]
                jobs[jid] = {"job": jid, "start_ms": e["Submission Time"], "end_ms": None,
                             "group": props.get("spark.jobGroup.id"), "counters": {},
                             "n_stages": 0, "n_tasks": 0}
                for sid in e["Stage IDs"]:
                    stage_job.setdefault(sid, jid)
                if props.get("spark.sql.execution.id") is not None:
                    exec_job.setdefault(int(props["spark.sql.execution.id"]), jid)
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end_ms"] = e["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                sid = si["Stage ID"]
                st = stages.setdefault(sid, {"stage": sid, "counters": {}})
                st.update(start_ms=si.get("Submission Time"), end_ms=si.get("Completion Time"),
                          n_tasks=si.get("Number of Tasks", 0), job=stage_job.get(sid))
            elif kind == "SparkListenerTaskEnd":
                sid = e["Stage ID"]
                st = stages.setdefault(sid, {"stage": sid, "counters": {}})
                tm = e.get("Task Metrics") or {}
                _add(st["counters"], _task_counters(tm))
                peak_mem[sid] = max(peak_mem[sid], tm.get("Peak Execution Memory", 0))
                for a in e["Task Info"].get("Accumulables", []):
                    try:  # SQL metric updates are logged as strings
                        task_updates.append((sid, a["ID"], float(a["Update"])))
                    except (KeyError, TypeError, ValueError):
                        pass
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"):
                walk(e["sparkPlanInfo"])
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for aid, val in e["accumUpdates"]:
                    driver_updates.append((e["executionId"], aid, val))

    def sql_counters(aid: int, val: float) -> dict[str, float]:
        node, name, mtype = accum.get(aid, ("", "", ""))
        out = {}
        key = _SQL_METRICS.get(name)
        if key:
            out[key] = val / 1e3 if mtype == "timing" else val / 1e9 if mtype == "nsTiming" else val
        if name == "number of output rows" and _PY_NODE.search(node):
            out["python.rows_recv"] = val
        return out

    for sid, aid, val in task_updates:
        if sid in stages:
            _add(stages[sid]["counters"], sql_counters(aid, val))
    for eid, aid, val in driver_updates:
        jid = exec_job.get(eid)
        if jid is not None:
            _add(jobs[jid]["counters"], sql_counters(aid, val))
    for sid, st in stages.items():
        st["counters"]["task.peak_mem_bytes"] = peak_mem[sid]
        jid = st.get("job")
        if jid in jobs:
            jobs[jid]["n_stages"] += 1
            jobs[jid]["n_tasks"] += st.get("n_tasks", 0)
    return list(jobs.values()), [s for s in stages.values() if s.get("start_ms")]


def build_spans(bench: list[dict], jobs: list[dict], stages: list[dict]) -> list[dict]:
    """Benchmark spans plus one span per job (child of the phase span its job
    group names, else of ``unattributed``) and per stage (child of its job)."""
    by_name = {s["name"]: s["id"] for s in bench}
    spans = [dict(s) for s in bench]
    run_id = next(s["id"] for s in bench if s["kind"] == "run")
    for j in jobs:
        parent = by_name.get(j["group"] or "")
        spans.append({
            "id": f"job{j['job']}", "parent": parent or run_id, "kind": "job",
            "name": f"job {j['job']}", "start_ms": j["start_ms"],
            "end_ms": j["end_ms"] or j["start_ms"], "attributed": parent is not None,
            "n_stages": j["n_stages"], "n_tasks": j["n_tasks"], "counters": j["counters"],
        })
    for st in stages:
        spans.append({
            "id": f"stage{st['stage']}", "parent": f"job{st['job']}", "kind": "stage",
            "name": f"stage {st['stage']}", "start_ms": st["start_ms"],
            "end_ms": st["end_ms"] or st["start_ms"], "counters": st["counters"],
        })
    _self_times(spans)
    return spans


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _self_times(spans: list[dict]) -> None:
    kids: dict[str, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.get("parent"):
            kids[s["parent"]].append((s["start_ms"], s["end_ms"]))
    for s in spans:
        dur = s["end_ms"] - s["start_ms"]
        s["self_ms"] = dur - _covered(kids[s["id"]], s["start_ms"], s["end_ms"])


def write_spans(spans: list[dict], path: Path) -> None:
    with open(path, "w") as fh:
        for s in spans:
            fh.write(json.dumps(s, sort_keys=True) + "\n")


def read_spans(path: Path) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh]


LAYER_COUNTERS = (
    "task.run_s", "task.cpu_s", "task.gc_s", "task.deser_s", "task.peak_mem_bytes",
    "scan.bytes", "scan.rows", "scan.files",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.write_s", "shuffle.fetch_wait_s",
    "spill.mem_bytes", "spill.disk_bytes",
    "python.boot_s", "python.run_s", "python.bytes_sent",
    "python.bytes_recv", "python.rows_recv",
    "write.bytes", "write.rows", "write.files", "write.dyn_parts", "write.job_commit_s",
)


def layer_metrics(spans: list[dict], measured: list[int]) -> dict[str, float]:
    """Per-layer numbers from a span list.  Session and registry numbers come
    from the setup spans; everything else is a per-pass mean over the
    ``measured`` warm passes (``op.*`` numbers: the minimum, as for
    ``warm_s``)."""
    by_id = {s["id"]: s for s in spans}
    phase_of: dict[str, dict] = {}

    def phase(s: dict) -> dict | None:
        """The phase span above ``s`` (or None for setup/unattributed)."""
        if s["id"] in phase_of:
            return phase_of[s["id"]]
        p = s
        while p is not None and p["kind"] != "phase":
            p = by_id.get(p.get("parent"))
        phase_of[s["id"]] = p
        return p

    n = max(1, len(measured))
    m: dict[str, float] = defaultdict(float)
    job_kids: dict[str, list[dict]] = defaultdict(list)
    for s in spans:
        if s["kind"] == "job":
            job_kids[s["parent"]].append(s)
    setup = {s["name"]: s for s in spans if s["kind"] == "setup_step"}
    m["registry.load_s"] = _dur(setup["setup:registry"])
    m["session.launch_s"] = _dur(setup["setup:launch"])
    m["session.first_job_s"] = _dur(setup["setup:first_job"])
    m["session.python_boot_s"] = _dur(setup["setup:python_boot"])
    op_times: dict[str, dict[str, list[float]]] = defaultdict(lambda: defaultdict(list))
    out_rows = 0
    peak = 0
    for s in spans:
        if s["kind"] == "phase" and s["pass"] in measured:
            kind = s["phase"]
            jobs = job_kids[s["id"]]
            dur = _dur(s)
            if kind in ("build", "exec"):
                m[f"{kind}.s"] += dur / n
                m[f"{kind}.jobs"] += len(jobs) / n
                op_times[s["op"]][kind].append(dur)
            if kind == "build":
                m["build.job_s"] += (dur - s["self_ms"] / 1e3) / n
                m["build.driver_s"] += s["self_ms"] / 1e3 / n
            elif kind == "exec":
                m["exec.gap_s"] += s["self_ms"] / 1e3 / n
                out_rows += s.get("rows", 0)
        elif s["kind"] in ("job", "stage"):
            ph = phase(s)
            if ph is None or ph["pass"] not in measured:
                continue
            if s["kind"] == "job" and ph["phase"] == "exec":
                m["exec.stages"] += s["n_stages"] / n
                m["exec.tasks"] += s["n_tasks"] / n
            for k, v in s["counters"].items():
                if k == "task.peak_mem_bytes":
                    peak = max(peak, v)
                else:
                    m[k] += v / n
    m["task.peak_mem_bytes"] = peak
    m["task.cpu_frac"] = m["task.cpu_s"] / m["task.run_s"] if m["task.run_s"] else 0.0
    # Output rows: rows the queries returned plus rows the writers wrote.
    out_per_pass = out_rows / n + m["write.rows"]
    m["scan.rows_per_out_row"] = m["scan.rows"] / out_per_pass if out_per_pass else 0.0
    for op, kinds in op_times.items():
        for kind, vals in kinds.items():
            m[f"op.{op}.{kind}_s"] = min(vals)
    jobs = [s for s in spans if s["kind"] == "job"]
    m["trace.jobs"] = len(jobs)
    m["trace.unattributed_jobs"] = sum(1 for s in jobs if not s["attributed"])
    setup_jobs = {s["id"] for s in jobs if phase(s) is None and s["attributed"]}
    m["trace.setup_python_boot_s"] = sum(
        st["counters"].get("python.boot_s", 0) for st in spans
        if st["kind"] == "stage" and st["parent"] in setup_jobs)
    # Start-up work leaking past the setup barrier would show here: Python
    # workers booted in the cold pass, or a cold first job much slower than
    # the first job of a warm pass.
    m["trace.cold_python_boot_s"] = sum(
        st["counters"].get("python.boot_s", 0) for st in spans
        if st["kind"] == "stage" and (phase(st) or {}).get("pass") == 0)
    first_job: dict[int, float] = {}
    for s in sorted(jobs, key=lambda s: s["start_ms"]):
        ph = phase(s)
        if ph is not None:
            first_job.setdefault(ph["pass"], _dur(s))
    warm_first = [first_job[p] for p in measured if p in first_job]
    m["trace.cold_first_job_extra_s"] = (
        first_job.get(0, 0.0) - min(warm_first) if warm_first else 0.0)
    return dict(m)


def _dur(s: dict) -> float:
    return (s["end_ms"] - s["start_ms"]) / 1e3
