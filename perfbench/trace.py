"""Tracing for the benchmark's traced run, and the environment stamp.

Spans are recorded from the benchmark's own code around each call into a
layer of the package; nothing inside the package is instrumented.  With
tracing off, ``Tracer.span`` is a bare ``yield`` and nothing is counted.

Three sources feed the per-layer metrics:

- spans (name, start, end, parent, operation id, py4j calls), kept in
  memory and written as JSON when the run ends;
- Catalyst phase times from ``queryExecution().tracker().phases()``;
- the uncompressed Spark event log, whose jobs carry the operation id as
  their job group.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time
from contextlib import contextmanager


def cpu_ticks() -> list[int] | None:
    """The aggregate cpu line of /proc/stat (user .. steal), or None."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:9]]
    except OSError:
        return None
    return ticks if len(ticks) == 8 else None


def steal_pct(t0: list[int] | None, t1: list[int] | None) -> float:
    """Hypervisor steal as a percentage of all ticks between two samples."""
    if not (t0 and t1):
        return 0.0
    d = [b - a for a, b in zip(t0, t1)]
    return 100.0 * d[7] / sum(d) if sum(d) else 0.0


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system, with reaped children) used so far by
    process ``root`` and all its descendants: the driver, the Spark JVM
    and every Python worker and planner process it started.  Hypervisor
    steal is not charged to a process, so this clock does not run while
    the host withholds the CPU."""
    root = os.getpid() if root is None else root
    stats: dict[int, tuple[int, int]] = {}  # pid -> (ppid, ticks)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is field 3 (state): ppid is field 4, utime..cstime 14-17
        stats[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += stats.get(pid, (0, 0))[1]
        stack.extend(children.get(pid, []))
    return total / _CLK_TCK


class Tracer:
    """Span recorder.  ``op`` tags the current operation; ``span`` times a
    call into one layer and counts the py4j round trips made inside it."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self.op_id: int | None = None
        self.py4j_calls = 0
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    def count_py4j(self, spark) -> None:
        """Count py4j round trips by wrapping the gateway client's
        ``send_command``; every JVM call from Python goes through it."""
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counted(*args, **kwargs):
            self.py4j_calls += 1
            return send(*args, **kwargs)

        client.send_command = counted

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "op": self.op_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self._t0,
        }
        py4j0 = self.py4j_calls
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0
            rec["py4j_calls"] = self.py4j_calls - py4j0

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def catalyst_phases(df) -> dict[str, float]:
    """Force the physical plan, then read the analysis/optimization/planning
    phase times (seconds) that Spark's QueryPlanningTracker recorded."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        out[name] = (p.get().endTimeMs() - p.get().startTimeMs()) / 1000.0 if p.isDefined() else 0.0
    return out


# Stages whose plan holds a Python data-source scan or an Arrow/pandas
# Python-worker node.
_PYTHON_NODE = re.compile(r"osmpbf|osmxml|InPandas|InArrow|EvalPython|PythonUDF|Python")


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per-job-group execution metrics from an uncompressed event log.

    Returns {job group: {stages, tasks, executor_run_s, gc_s,
    shuffle_read_bytes, shuffle_write_bytes, spill_bytes, task_skew,
    pyworker_run_s, python_scan_rows}}; ``task_skew`` is max/median task
    run time of the group's longest stage, and ``python_scan_rows`` the
    rows the group's Python data-source scans (``BatchScan ... (Python)``
    plan nodes) produced, summed from their tasks' ``number of output
    rows`` metric updates."""
    stage_group: dict[int, str] = {}
    stage_python: dict[int, bool] = {}
    task_run: dict[int, list[float]] = {}
    stage_sums: dict[int, dict[str, float]] = {}
    scan_metric_ids: set[int] = set()
    row_updates: dict[int, list[tuple[int, int]]] = {}  # stage -> (metric id, rows)
    for dirpath, _, files in os.walk(log_dir):
        for fname in sorted(files):
            if fname.startswith(".") or fname.startswith("appstatus"):
                continue
            with open(os.path.join(dirpath, fname)) as f:
                for line in f:
                    e = json.loads(line)
                    kind = e.get("Event")
                    if kind and kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                        scan_metric_ids |= _python_scan_metrics(e["sparkPlanInfo"])
                    elif kind == "SparkListenerJobStart":
                        group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                        if group:
                            for sid in e["Stage IDs"]:
                                stage_group[sid] = group
                    elif kind == "SparkListenerStageCompleted":
                        info = e["Stage Info"]
                        names = []
                        for rdd in info.get("RDD Info", []):
                            names.append(rdd.get("Name", ""))
                            if rdd.get("Scope"):
                                names.append(json.loads(rdd["Scope"]).get("name", ""))
                        stage_python[info["Stage ID"]] = any(_PYTHON_NODE.search(n) for n in names)
                    elif kind == "SparkListenerTaskEnd":
                        m = e.get("Task Metrics")
                        if not m:
                            continue
                        sid = e["Stage ID"]
                        row_updates.setdefault(sid, []).extend(
                            (a["ID"], int(a["Update"]))
                            for a in e["Task Info"].get("Accumulables", [])
                            if a.get("Name") == "number of output rows" and "Update" in a)
                        run = m["Executor Run Time"] / 1000.0
                        task_run.setdefault(sid, []).append(run)
                        s = stage_sums.setdefault(sid, dict.fromkeys(
                            ("run", "gc", "read", "write", "spill"), 0.0))
                        s["run"] += run
                        s["gc"] += m["JVM GC Time"] / 1000.0
                        rd = m.get("Shuffle Read Metrics", {})
                        s["read"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                        s["write"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                        s["spill"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
    groups: dict[str, dict] = {}
    for sid, s in stage_sums.items():
        group = stage_group.get(sid)
        if group is None:
            continue
        g = groups.setdefault(group, dict.fromkeys(
            ("stages", "tasks", "executor_run_s", "gc_s", "shuffle_read_bytes",
             "shuffle_write_bytes", "spill_bytes", "pyworker_run_s", "python_scan_rows"), 0.0))
        g.setdefault("_longest", (-1.0, 1.0))
        g["stages"] += 1
        g["tasks"] += len(task_run[sid])
        g["executor_run_s"] += s["run"]
        g["gc_s"] += s["gc"]
        g["shuffle_read_bytes"] += s["read"]
        g["shuffle_write_bytes"] += s["write"]
        g["spill_bytes"] += s["spill"]
        if stage_python.get(sid):
            g["pyworker_run_s"] += s["run"]
        g["python_scan_rows"] += sum(n for i, n in row_updates.get(sid, []) if i in scan_metric_ids)
        if s["run"] > g["_longest"][0]:
            runs = task_run[sid]
            med = statistics.median(runs)
            g["_longest"] = (s["run"], max(runs) / med if med > 0 else 1.0)
    for g in groups.values():
        g["task_skew"] = g.pop("_longest")[1]
    return groups


def _python_scan_metrics(plan: dict) -> set[int]:
    """Accumulator ids of the ``number of output rows`` metric of every
    Python data-source scan node in an event-log ``sparkPlanInfo`` tree."""
    out, stack = set(), [plan]
    while stack:
        node = stack.pop()
        if node["nodeName"].startswith("BatchScan") and "(Python)" in node.get("simpleString", ""):
            out |= {m["accumulatorId"] for m in node.get("metrics", [])
                    if m["name"] == "number of output rows"}
        stack.extend(node.get("children", []))
    return out
