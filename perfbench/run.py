"""Benchmark entry point.

    python3 perfbench/run.py --workload pbf_extract --seed 1 --seconds 10 --trace 0

One driver thread runs a closed loop: it issues the next operation only
after the previous one finished, sinks each result into Spark's ``noop``
format and calls ``spark.catalog.clearCache()`` in between.  Operations
run in rounds; each round runs every operation class once, in an order
drawn from the seed, and the timed region ends with the first round that
finishes after ``--seconds``.

Set-up (session start, input generation, workload preparation and
``WARMUP_PASSES`` warm-up passes over every class) happens before the
timed region.  The first warm-up pass collects one result per class and
checks it; a failed check or an operation that raises counts as failed.
The first operation of a process costs 5-20x a warm one (JVM class
loading, Python-data-source and Python-worker start).  After it the JVM
keeps compiling: its JIT compiler threads burn about half of an
operation's CPU time in the second pass and still a third in the
sixth, so the CPU cost per operation falls by ~10% a pass for several
passes.  Set-up is most of a run: on a contended 4-vCPU host session
start and the first pass alone take 30-50 s, so the timed region is
kept to one round at the ``run_seconds`` the benchmark declares.  The
``warmup_curve`` of the detail line shows, per run and class, where the
timed region started.

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end ones:

- ``setup_s``: process start to the first timed operation (wall);
- ``cpu_s_per_op``: CPU seconds the whole engine (this driver process,
  the Spark JVM and every Python worker and planner it starts) spends
  per operation over the timed region.

Throughput in wall time (``ops_per_s``) and per-class median latencies
(``class_p50_s``) are in the detail line, not among the metrics: on a
shared 4-vCPU host whose hypervisor steal went from 0 % to 20 %, the
suite's wall throughput spread by 0.34-0.39 of its median over ten
seeds and its CPU time per operation by 0.14-0.22.  There is no latency
percentile: a run affords one sample per class.

With ``--trace 1`` the timed rounds alternate untraced and traced (spans,
py4j counts, Catalyst phases, an event log with one job group per
operation), per-layer probes run afterwards, and the run reports the
per-layer metrics instead.  Spans go to
``.perfbench_work/traces/<workload>-<seed>.json``.

Everything the run writes stays under ``.perfbench_work`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

T_PROCESS = time.perf_counter()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import workloads  # noqa: E402
from perfbench.trace import (  # noqa: E402
    Tracer,
    catalyst_phases,
    cpu_ticks,
    read_event_log,
    steal_pct,
    tree_cpu_s,
)

WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
WARMUP_PASSES = 2
MAX_CORES = 4


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def configure_environment(work: str, cores: int, trace: bool) -> str:
    """Point every temp, shuffle and log directory into the checkout and
    make the package importable by Python workers.  Returns the event-log
    directory (used only when tracing)."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    events = os.path.join(work, "eventlog")
    for d in (tmp, local, events):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    confs = [
        "spark.ui.showConsoleProgress=false",
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
    ]
    if trace:
        confs += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{events}",
            "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f"--conf '{c}'" for c in confs) + " pyspark-shell"
    )
    return events


class Runner:
    """One closed-loop client over one workload and one session."""

    def __init__(self, spark, workload, tracer, order_rng: random.Random):
        self.spark = spark
        self.workload = workload
        self.tracer = tracer
        self.order_rng = order_rng
        self.next_op = 0
        self.op_class: dict[int, str] = {}
        self.persisted_max = 0

    def op(self, cls: str, collect_check: bool = False, geometry: bool = True):
        """Run one operation; returns (latency_s, ok, check_detail)."""
        sc = self.spark.sparkContext
        tr = self.tracer
        self.next_op += 1
        self.op_class[self.next_op] = cls
        tr.op_id = self.next_op
        if tr.enabled:
            sc.setJobGroup(f"op-{self.next_op}", cls)
        detail = ""
        t0 = time.perf_counter()
        try:
            with tr.span("op"):
                df = self.workload.build(self.spark, cls, tr, geometry=geometry)
                if tr.enabled:
                    with tr.span("catalyst"):
                        tr.spans[-1]["phases"] = catalyst_phases(df)
                with tr.span("exec.run"):
                    if collect_check:
                        ok, detail = self.workload.check(self.spark, cls, df)
                    else:
                        df.write.format("noop").mode("overwrite").save()
                        ok = True
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok, detail = False, "raised"
        latency = time.perf_counter() - t0
        self.spark.catalog.clearCache()
        if tr.enabled:
            # later untraced jobs must not inherit this operation's group
            sc._jsc.clearJobGroup()
            self.persisted_max = max(self.persisted_max, sc._jsc.getPersistentRDDs().size())
        return latency, ok, detail

    def timed(self, seconds: float, traced_rounds: bool = False) -> dict:
        """Whole rounds until ``seconds`` have passed, at least one.  Each
        round records its operation latencies and the hypervisor steal it
        ran under, for adjudicating slow runs.

        With ``traced_rounds`` the rounds alternate untraced and traced,
        ending after an even number (at least two), so the
        traced-over-untraced comparison sees as many rounds of each."""
        rounds, per_class = [], {c: [] for c in self.workload.classes}
        attempted = failed = 0
        t0 = time.perf_counter()
        while True:
            elapsed = time.perf_counter() - t0
            if traced_rounds:
                if elapsed >= seconds and rounds and len(rounds) % 2 == 0:
                    break
            elif elapsed >= seconds and rounds:
                break
            traced = traced_rounds and len(rounds) % 2 == 1
            self.tracer.enabled = traced
            order = list(self.workload.classes)
            self.order_rng.shuffle(order)
            done, ticks, first = [], cpu_ticks(), self.next_op + 1
            cpu0, tr0 = tree_cpu_s(), time.perf_counter()
            for cls in order:
                latency, ok, _ = self.op(cls)
                attempted += 1
                if ok:
                    done.append(latency)
                    if not traced:
                        per_class[cls].append(latency)
                else:
                    failed += 1
            rounds.append({
                "wall_s": time.perf_counter() - tr0,
                "cpu_s": tree_cpu_s() - cpu0,
                "latencies": done,
                "steal_pct": steal_pct(ticks, cpu_ticks()),
                "traced": traced,
                "ops": range(first, self.next_op + 1),
            })
        self.tracer.enabled = False
        return {"attempted": attempted, "failed": failed, "rounds": rounds, "per_class": per_class}


def ops_per_s(rounds: list[dict]) -> float:
    return sum(len(r["latencies"]) for r in rounds) / sum(r["wall_s"] for r in rounds)


def cpu_s_per_op(rounds: list[dict]) -> float:
    return sum(r["cpu_s"] for r in rounds) / sum(len(r["latencies"]) for r in rounds)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it every Python worker)
    to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark on its way out (see ``finally``)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ticks0, load0 = cpu_ticks(), os.getloadavg()[0]
    nproc = os.cpu_count() or 1
    cores = min(MAX_CORES, nproc)
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    events_dir = configure_environment(work, cores, bool(args.trace))

    # fails here, before any output, when the package is not in the checkout
    from osmdatapy_spark import get_spark

    workload = workloads.WORKLOADS[args.workload](work)
    tracer = Tracer()
    order_rng = random.Random(args.seed * 7919 + 17)
    spark = None
    report: dict = {}
    try:
        t = time.perf_counter()
        spark = get_spark("perfbench", cpus=cores)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t
        if args.trace:
            tracer.count_py4j(spark)

        t = time.perf_counter()
        workload.prepare(args.seed)
        generate_s = time.perf_counter() - t
        input_digest = workload.input_digest()
        tracer.enabled = bool(args.trace)
        workload.ready(spark, tracer)
        tracer.enabled = False

        runner = Runner(spark, workload, tracer, order_rng)
        checks, warmup = {}, {c: [] for c in workload.classes}
        failed = attempted = 0
        for n in range(WARMUP_PASSES):
            order = list(workload.classes)
            order_rng.shuffle(order)
            for cls in order:
                # the first pass collects and checks each class's result
                latency, ok, detail = runner.op(cls, collect_check=(n == 0))
                warmup[cls].append(latency)
                attempted += 1
                failed += 0 if ok else 1
                if n == 0:
                    checks[cls] = {"ok": ok, "detail": detail}
        setup_s = time.perf_counter() - T_PROCESS

        timed = runner.timed(args.seconds, traced_rounds=bool(args.trace))
        attempted += timed["attempted"]
        failed += timed["failed"]
        report = {
            "setup_s": setup_s,
            "session_s": session_s,
            "generate_s": generate_s,
            "setup_layers": dict(workload.setup_layers),
            "timed": timed,
            "warmup": warmup,
            "sizes": workload.sizes(),
        }
        if args.trace:
            report["probes"] = probes(spark, workload, runner, tracer, timed, work)
    finally:
        if spark is not None:
            stop_session(spark)
        if hasattr(workload, "close"):
            workload.close()

    ticks1, load1 = cpu_ticks(), os.getloadavg()[0]
    env = {
        "nproc": nproc,
        "master": f"local[{cores}]",
        "steal_pct": steal_pct(ticks0, ticks1),
        "load1": [load0, load1],
    }
    correct = all(c["ok"] for c in checks.values()) and failed == 0
    if args.trace:
        metrics = per_layer_metrics(report, tracer, runner, events_dir, env, session_s)
        os.makedirs(os.path.join(WORK_ROOT, "traces"), exist_ok=True)
        tracer.dump(os.path.join(WORK_ROOT, "traces", f"{args.workload}-{args.seed}.json"))
    else:
        metrics = {
            "setup_s": {"value": report["setup_s"], "unit": "s"},
            "cpu_s_per_op": {"value": cpu_s_per_op(timed["rounds"]), "unit": "s"},
        }
    shutil.rmtree(work, ignore_errors=True)

    untraced = [r for r in timed["rounds"] if not r["traced"]]
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "env": env,
        "sizes": report["sizes"],
        "input_digest": input_digest,
        "checks": checks,
        "session_s": report["session_s"],
        "generate_s": report["generate_s"],
        "setup_layers": report["setup_layers"],
        # warm-up curve: latency of each warm-up pass, then the first and
        # last untraced timed latency, per class; flat after the first
        # entry means the timed region saw the steady state
        "warmup_curve": {
            c: [round(x, 3) for x in report["warmup"][c]]
            + [round(x, 3) for x in timed["per_class"][c][:1] + timed["per_class"][c][-1:]]
            for c in workload.classes
        },
        "rounds": [
            {"wall_s": round(r["wall_s"], 3), "cpu_s": round(r["cpu_s"], 3),
             "steal_pct": round(r["steal_pct"], 3),
             "traced": r["traced"], "latencies": [round(x, 3) for x in r["latencies"]]}
            for r in timed["rounds"]
        ],
        "timed_ops": timed["attempted"],
        "ops_per_s": round(ops_per_s(untraced), 4),
        "cpu_s_per_op": round(cpu_s_per_op(untraced), 4),
        "class_p50_s": {
            c: round(statistics.median(v), 4) for c, v in timed["per_class"].items() if v
        },
    }
    print("detail " + json.dumps(detail, sort_keys=True))
    print(json.dumps({
        "correct": bool(correct),
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def probes(spark, workload, runner, tracer, timed, work) -> dict:
    """Per-layer probes, run traced after the timed region."""
    tracer.enabled = True
    try:
        if isinstance(workload, workloads.ExtractWorkload):
            return extract_probes(spark, workload, runner, tracer, timed, work)
        return suite_probes(spark, workload, tracer)
    finally:
        tracer.enabled = False


def extract_probes(spark, workload, runner, tracer, timed, work) -> dict:
    """Geometry on minus off per class; for the PBF workload also the
    data-source plan and scan cost per class and a bronze write."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from osmdatapy_spark import OSM
    from osmdatapy_spark.sources.pbf import PBF_SCHEMA, PbfDataSource, read_pbf

    out = {"geometry_s": [], "plan_s": [], "scan_s": [], "scan_rows": []}
    for cls in workload.classes:
        kinds, key = workloads.EXTRACT_CLASSES[cls]
        tracer.enabled = False  # timed like the untraced operations it is compared with
        off, ok, _ = runner.op(cls, geometry=False)
        tracer.enabled = True
        if ok and timed["per_class"][cls]:
            out["geometry_s"].append(statistics.median(timed["per_class"][cls]) - off)
        if workload.bronze:
            continue
        opts = {"path": workload.pbf, "osmtypes": ",".join(map(str, sorted(kinds))),
                "any_tag_keys": key}
        with tracer.span("sources.plan"):
            t = time.perf_counter()
            PbfDataSource(opts).reader(PBF_SCHEMA).partitions()
            out["plan_s"].append(time.perf_counter() - t)
        obs = Observation(f"scan-{cls}")
        with tracer.span("sources.scan"):
            t = time.perf_counter()
            (read_pbf(spark, workload.pbf, osmtypes=kinds, any_tag_keys={key})
             .observe(obs, F.count(F.lit(1)).alias("rows"))
             .write.format("noop").mode("overwrite").save())
            out["scan_s"].append(time.perf_counter() - t)
        out["scan_rows"].append(obs.get["rows"])
    if not workload.bronze:
        bronze = os.path.join(work, "bronze-probe")
        with tracer.span("engine.bronze_write"):
            t = time.perf_counter()
            OSM.from_pbf(spark, workload.pbf).to_bronze(bronze)
            out["bronze_write_s"] = time.perf_counter() - t
        out["bronze_bytes_per_pbf_byte"] = (
            workloads.dir_bytes(bronze) / os.path.getsize(workload.pbf))
    return out


def suite_probes(spark, workload, tracer) -> dict:
    """ANN index training, then curate step costs by prefix differencing:
    time the recipe cut after each step (noop sink) and subtract the
    previous prefix."""
    from osmdatapy_spark.curate import Curate
    from osmdatapy_spark.tables import load_table

    steps = [
        ("normalize", lambda c: c.normalize()),
        ("exact_dedup", lambda c: c.exact_dedup()),
        ("fuzzy_dedup", lambda c: c.fuzzy_dedup(threshold=0.5)),
        ("quality_filter", lambda c: c.quality_filter(min_tokens=20, max_tokens=95, min_diversity=0.3)),
        ("domain_cap", lambda c: c.domain_cap("source", 10)),
    ]
    ann_train_s = workload.train_ann(spark, tracer)
    docs = load_table(spark, workload.sf_dir, "documents").select("doc_id", "text", "lang", "source")
    out, prev = {}, 0.0
    for i, (name, _) in enumerate(steps):
        with tracer.span(f"curate.{name}"):
            t = time.perf_counter()
            cur = Curate(docs)
            for _, step in steps[: i + 1]:
                cur = step(cur)
            cur.df().write.format("noop").mode("overwrite").save()
            took = time.perf_counter() - t
        spark.catalog.clearCache()
        out[name] = took - prev
        prev = took
    return {"curate": out, "ann_train_s": ann_train_s}


def per_layer_metrics(report, tracer, runner, events_dir, env, session_s) -> dict:
    rounds, probes = report["timed"]["rounds"], report["probes"]
    traced = [r for r in rounds if r["traced"]]
    groups = read_event_log(events_dir)
    in_timed = {op for r in traced for op in r["ops"]}
    execs = [groups[f"op-{op}"] for op in in_timed if f"op-{op}" in groups]
    phases = [s["phases"] for s in tracer.spans if s["name"] == "catalyst" and s["op"] in in_timed]

    def phase(name):
        return mean(p.get(name, 0.0) for p in phases)

    def g(field):
        return mean(e[field] for e in execs)

    def spans_mean(*names, field="dur"):
        per_op: dict = {}
        for s in tracer.spans:
            if s["name"] in names and s["op"] in in_timed:
                v = s["end"] - s["start"] if field == "dur" else s[field]
                per_op[s["op"]] = per_op.get(s["op"], 0) + v
        return mean(per_op.values())

    ex_run = sum(e["executor_run_s"] for e in execs)
    py_run = sum(e["pyworker_run_s"] for e in execs)
    scan_s = sum(probes.get("scan_s", []))
    # rows the engine's own scans decoded per row its query returned
    expected = getattr(runner.workload, "expected", {})
    decoded_per_returned = mean(
        groups[f"op-{op}"]["python_scan_rows"] / len(expected[runner.op_class[op]])
        for op in in_timed
        if f"op-{op}" in groups and expected.get(runner.op_class[op]))
    curate = probes.get("curate", {})
    layers = report["setup_layers"]
    values = {
        "session.start_s": session_s,
        "sources.plan_s": mean(probes.get("plan_s", [])),
        "sources.scan_s": mean(probes.get("scan_s", [])),
        "sources.rows_decoded_per_row_returned": decoded_per_returned,
        "sources.elements_per_s": sum(probes.get("scan_rows", [])) / scan_s if scan_s else 0.0,
        "query.compile_s": spans_mean("query.compile"),
        "engine.build_s": spans_mean("engine.open", "engine.build"),
        "engine.py4j_calls": spans_mean("engine.open", "engine.build", field="py4j_calls"),
        "suite.build_s": spans_mean("suite.build"),
        "suite.py4j_calls": spans_mean("suite.build", field="py4j_calls"),
        "catalyst.analysis_s": phase("analysis"),
        "catalyst.optimization_s": phase("optimization"),
        "catalyst.planning_s": phase("planning"),
        "exec.run_s": spans_mean("exec.run"),
        "exec.stages": g("stages"),
        "exec.tasks": g("tasks"),
        "exec.executor_run_s": g("executor_run_s"),
        "exec.shuffle_read_bytes": g("shuffle_read_bytes"),
        "exec.shuffle_write_bytes": g("shuffle_write_bytes"),
        "exec.spill_bytes": g("spill_bytes"),
        "exec.gc_s": g("gc_s"),
        "exec.task_skew": g("task_skew"),
        "pyworker.run_s": g("pyworker_run_s"),
        "pyworker.share": py_run / ex_run if ex_run else 0.0,
        "operators.geometry_s": mean(probes.get("geometry_s", [])),
        "curate.normalize_s": curate.get("normalize", 0.0),
        "curate.exact_dedup_s": curate.get("exact_dedup", 0.0),
        "curate.fuzzy_dedup_s": curate.get("fuzzy_dedup", 0.0),
        "curate.quality_filter_s": curate.get("quality_filter", 0.0),
        "curate.domain_cap_s": curate.get("domain_cap", 0.0),
        "functions.ann_train_s": probes.get("ann_train_s", 0.0),
        "tables.load_s": layers.get("tables.load_s", 0.0),
        "engine.bronze_write_s": layers.get(
            "engine.bronze_write_s", probes.get("bronze_write_s", 0.0)),
        "engine.bronze_bytes_per_pbf_byte": layers.get(
            "engine.bronze_bytes_per_pbf_byte", probes.get("bronze_bytes_per_pbf_byte", 0.0)),
        "cache.persisted_rdds_after_op": runner.persisted_max,
        "env.steal_pct": env["steal_pct"],
        "env.load1": env["load1"][0],
        "trace.overhead_ratio": (
            ops_per_s(traced) / ops_per_s([r for r in rounds if not r["traced"]])),
    }
    per_class = report["timed"]["per_class"]
    for cls in list(workloads.EXTRACT_CLASSES) + workloads.SUITE_CLASSES:
        v = per_class.get(cls)
        values[f"class.{cls}.op_p50_s"] = statistics.median(v) if v else 0.0
    return {name: {"value": v, "unit": unit_of(name)} for name, v in values.items()}


def unit_of(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_pct"):
        return "%"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("share", "ratio", "skew", "per_row_returned", "per_pbf_byte")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
