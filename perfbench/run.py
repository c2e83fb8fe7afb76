"""Link-graph engine benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  One process is one closed-loop client on
``local[nproc]`` with the engine's production ``get_spark`` defaults:
set-up (session start, input generation), then jobs back to back for
``--seconds`` (the first job is the session's first run of the
pipeline, so it pays every plan's first-use cost), then every job's
outputs are checked against single-node oracles.  The last stdout line
is the JSON result; ``--trace 1`` reports per-layer metrics instead of
end-to-end ones.  Everything the run writes stays under ``.bench_out/``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

import stats
from tracing import STAGE_METRICS, Tracer, layer_of, read_event_log, span_stage_metrics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Input set-ups per run; setup_s takes their median.
SETUP_REPS = 3

END_TO_END = (
    ("setup_s", "s"),
    ("job_s", "s"),
)
# Per-layer metrics: name -> unit.
LAYER_METRICS = {
    # Printed with the end-to-end metrics but left unbounded: G1 heap
    # growth makes VmHWM swing by a quarter between identical runs,
    # edges_per_s times only the first-use-heavy PageRank calls and
    # spreads more than job_s across seeds, and matches_per_s is 0 on
    # transcript_pipeline, which runs no motif query.
    "peak_rss_mb": "MB",
    "edges_per_s": "1/s",
    "matches_per_s": "1/s",
    "session.start_s": "s",
    "sources.gen_s": "s",
    "sources.read_s": "s",
    "derive.busy_s": "s",
    "derive.turns_in": "count",
    "derive.edges_out": "count",
    "graph.build_s": "s",
    "pagerank.build_s": "s",
    "pagerank.round_s": "s",
    "pagerank.rounds": "count",
    "components.busy_s": "s",
    "components.jobs": "count",
    "lpa.busy_s": "s",
    "lpa.jobs": "count",
    "triangles.busy_s": "s",
    "triangles.count": "count",
    "plan.compile_s": "s",
    "match.busy_s": "s",
    "match.matches": "count",
    "match.useful_ratio": "ratio",
    "checkpoint.bytes": "bytes",
    "checkpoint.rounds_saved": "count",
    "checkpoint.resume_s": "s",
    "job.self_s": "s",
    "trace.job_s": "s",
    "trace.overhead_s": "s",
}
# Layers whose spans launch Spark jobs; each gets the stage metrics.
STAGE_LAYERS = (
    "sources", "derive", "graph", "pagerank", "checkpoint",
    "components", "lpa", "triangles", "match",
)
LAYER_METRICS.update(
    {f"{layer}.{metric}": unit for layer in STAGE_LAYERS for metric, unit in STAGE_METRICS}
)


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _vm_hwm_kb(pid="self"):
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class Ctx:
    def __init__(self, spark, tracer, run_dir, seed, nproc):
        self.spark, self.tracer = spark, tracer
        self.run_dir, self.seed, self.nproc = run_dir, seed, nproc


def _start_session(run_dir, traced, nproc):
    from grandiso_networkx_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    conf = {
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        events = os.path.join(run_dir, "events")
        os.makedirs(events)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + events,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(app_name="perfbench", master=f"local[{nproc}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _wall(span):
    return span["end"] - span["start"]


def _median_or_zero(values):
    return stats.median(values) if values else 0.0


def _edges_per_s(wl, job):
    """PageRank edges x rounds per second of pagerank calls (a resume
    from checkpoint is one too)."""
    calls = job["spans"]["pagerank"] + job["spans"].get("checkpoint", [])
    rounds = sum(len(s["iter_seconds"]) for s in calls)
    return wl.pagerank_edges(job["out"]) * rounds / sum(_wall(s) for s in calls)


def _matches_per_s(job):
    """Motif matches per second of motif calls (0 for a job without)."""
    calls = [s for n, ss in job["spans"].items() if layer_of(n) == "match" for s in ss]
    return sum(s["matches"] for s in calls) / sum(_wall(s) for s in calls) if calls else 0.0


def _stop_session(spark):
    """Stop Spark, then close the gateway JVM's stdin (it exits on EOF)
    and wait for it to end."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _untraced_job_s(results_dir, workload):
    """Median job_s of this checkout's earlier untraced runs."""
    vals = []
    for path in glob.glob(os.path.join(results_dir, f"{workload}-*-trace0-*.json")):
        with open(path) as f:
            vals.append(json.load(f)["report"]["job_s"])
    return stats.median(vals) if vals else None


def _layer_metrics(tracer, jobs, wl, events_dir, extras, setup, report, results_dir):
    """Per-layer numbers from the timed jobs' spans and the event log."""
    med = stats.median
    tasks, jobs_per_group = read_event_log(events_dir)

    def spark_jobs(job, name):
        return sum(jobs_per_group.get(s["group"], 0) for s in job["spans"].get(name, []))

    m = {k: 0.0 for k in LAYER_METRICS}
    m["peak_rss_mb"] = report["peak_rss_mb"]
    m["edges_per_s"] = report["edges_per_s"]
    m["matches_per_s"] = report["matches_per_s"]
    m["session.start_s"] = setup["session_s"]
    m["sources.gen_s"] = setup["gen_s"]

    def busy(job, prefix):
        return sum(_wall(s) for n, ss in job["spans"].items()
                   if layer_of(n) == prefix or n == prefix for s in ss)

    for key, span_name in (
        ("sources.read_s", "sources.read"), ("derive.busy_s", "derive"),
        ("graph.build_s", "graph"), ("components.busy_s", "components"),
        ("lpa.busy_s", "lpa"), ("triangles.busy_s", "triangles"),
        ("plan.compile_s", "plan"), ("match.busy_s", "match"),
        ("checkpoint.resume_s", "checkpoint"),
    ):
        m[key] = med([busy(j, span_name) for j in jobs])
    m["components.jobs"] = med([spark_jobs(j, "components") for j in jobs])
    m["lpa.jobs"] = med([spark_jobs(j, "lpa") for j in jobs])
    pr = [j["spans"]["pagerank"][0] for j in jobs if "pagerank" in j["spans"]]
    if pr:
        its = pr[-1]["iter_seconds"]
        m["pagerank.rounds"] = len(its)
        m["pagerank.round_s"] = med(its)
        m["pagerank.build_s"] = med([_wall(s) - sum(s["iter_seconds"]) for s in pr])
    ck = [j["spans"]["checkpoint"][0] for j in jobs if "checkpoint" in j["spans"]]
    if ck:
        m["checkpoint.bytes"] = ck[-1]["bytes"]
        m["checkpoint.rounds_saved"] = ck[-1]["rounds_saved"]
    if jobs[-1]["out"] is not None:
        m.update(wl.layer_counts(jobs[-1]["out"]))
    m.update(extras)
    self_t = stats.self_times(tracer.spans)
    m["job.self_s"] = med([self_t[j["root"]["id"]] for j in jobs])
    m["trace.job_s"] = report["job_s"]
    base = _untraced_job_s(results_dir, wl.name)
    m["trace.overhead_s"] = report["job_s"] - base if base is not None else 0.0

    per_group = span_stage_metrics(tasks)
    job_runs = {j["root"]["run"] for j in jobs}
    for layer in STAGE_LAYERS:
        rows = [per_group[s["group"]] for s in tracer.spans
                if s["run"] in job_runs and layer_of(s["name"]) == layer and s["group"] in per_group]
        if not rows:
            continue
        for metric, _ in STAGE_METRICS:
            key = f"{layer}.{metric}"
            if metric == "task_skew":
                m[key] = max(r[metric] for r in rows)
            else:
                m[key] = sum(r[metric] for r in rows) / len(jobs)
    return m, base


def _run(args, workload_cls, nproc, run_dir, results_dir, tag):
    """Set up, run the timed window, check the outputs, print the result."""
    traced = bool(args.trace)
    tracer = Tracer(traced)
    ledger = stats.Ledger()
    spark = None
    try:
        # -- set-up: session, SETUP_REPS input builds --------------------
        with tracer.span("session", run_id="setup") as s_sess:
            spark = _start_session(run_dir, traced, nproc)
            tracer.bind(spark)
        ctx = Ctx(spark, tracer, run_dir, args.seed, nproc)
        wl = workload_cls(ctx)
        gen = []
        for rep in range(SETUP_REPS):
            with tracer.span("sources.gen", run_id="setup") as s:
                wl.setup_input(rep)
            gen.append(_wall(s))
        setup = {
            "session_s": _wall(s_sess),
            "gen_s": stats.median(gen),
        }
        setup_s = setup["session_s"] + setup["gen_s"]

        # -- timed window: one client, jobs back to back ----------------
        jobs = []
        t0 = time.perf_counter()
        while not jobs or time.perf_counter() - t0 < args.seconds:
            run_id = f"job-{len(jobs) + 1}"
            first = len(tracer.spans)
            try:
                with tracer.span("job", run_id=run_id) as root:
                    out = wl.job(run_id)
            except Exception:  # a failed job fails all its ops
                traceback.print_exc()
                out = None
            spans = {}
            for s in tracer.spans[first + 1:]:
                spans.setdefault(s["name"], []).append(s)
            jobs.append({"root": root, "out": out, "spans": spans})
        window_s = time.perf_counter() - t0

        extras = wl.extras() if traced else {}
        wl.release()
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        peak_kb = _vm_hwm_kb() + _vm_hwm_kb(jvm_pid)
        env = {
            "nproc": nproc,
            "python": platform.python_version(),
            "pyspark": spark.version,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "spark_conf": dict(sorted(spark.sparkContext.getConf().getAll())),
            "sql_conf": {k: spark.conf.get(k) for k in (
                "spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions",
                "spark.sql.autoBroadcastJoinThreshold")},
        }
    finally:
        if spark is not None:
            _stop_session(spark)

    # -- oracles, outside the timed window ---------------------------------
    want = wl.expected()
    for j in jobs:
        if j["out"] is None:
            for op in wl.ops:
                ledger.record(op, False, "job raised")
            continue
        for op, ok in wl.check(j["out"], want).items():
            ledger.record(op, ok, f"{j['root']['run']} output differs from oracle")

    ok_jobs = [j for j in jobs if j["out"] is not None]
    job_times = [_wall(j["root"]) for j in jobs]
    job_s = stats.median(job_times)
    tail = stats.tail_summary(job_times)
    report = {
        "setup_s": setup_s,
        "job_s": job_s,
        "edges_per_s": _median_or_zero([_edges_per_s(wl, j) for j in ok_jobs]),
        "matches_per_s": _median_or_zero([_matches_per_s(j) for j in ok_jobs]),
        "peak_rss_mb": peak_kb / 1024.0,
    }
    if "read" in wl.ops:
        report["turns_per_s"] = _median_or_zero([j["out"]["read"] / _wall(j["root"]) for j in ok_jobs])

    result_path = os.path.join(results_dir, f"{tag}-{int(time.time())}.json")
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "window_s": window_s, "jobs": len(jobs),
        "job_times_s": job_times, "job_tail": tail, "setup": setup,
        "failed_ratio": ledger.failed_ratio,
        "failures": ledger.failures, "env": env, "report": report,
    }
    if traced:
        layer, base = _layer_metrics(
            tracer, ok_jobs or jobs, wl, os.path.join(run_dir, "events"),
            extras, setup, report, results_dir)
        detail["layers"] = layer
        detail["untraced_job_s"] = base
        metrics = {k: {"value": float(v), "unit": LAYER_METRICS[k]} for k, v in layer.items()}
    else:
        metrics = {k: {"value": float(report[k]), "unit": u} for k, u in END_TO_END}
    tracer.dump(os.path.join(results_dir, f"{tag}-spans.jsonl"), stats.self_times(tracer.spans))
    with open(result_path, "w") as f:
        json.dump(detail, f, indent=1, default=str)

    p = f"p{tail['percentile']:g}" if tail["percentile"] is not None else "none (under 20 jobs)"
    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"jobs {len(jobs)}  nproc {nproc}  pyspark {env['pyspark']}  "
          f"java {env['java']}  python {env['python']}")
    print(f"setup_s        {setup_s:.3f} s")
    print(f"job_s          {job_s:.3f} s  (median of {len(jobs)}; highest supported percentile: {p})")
    for name in ("turns_per_s", "edges_per_s", "matches_per_s"):
        if name in report:
            print(f"{name:<14} {report[name]:.1f} 1/s")
    print(f"failed_ratio   {ledger.failed_ratio:.4f}  ({ledger.failed}/{ledger.attempted})")
    print(f"peak_rss_mb    {report['peak_rss_mb']:.1f} MB")
    print(f"details        {os.path.relpath(result_path, ROOT)}")
    for failure in ledger.failures:
        print(f"FAILED {failure}")
    print(json.dumps({
        "correct": ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": metrics,
    }), flush=True)
    return 0 if ledger.failed == 0 else 1


def main(argv=None):
    args = _parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "grandiso_networkx_spark")):
        print("perfbench: engine package grandiso_networkx_spark not found; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    out_root = os.path.join(ROOT, ".bench_out")
    results_dir = os.path.join(out_root, "results")
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    run_dir = os.path.join(out_root, "runs", tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(results_dir, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

    try:
        return _run(args, workloads.WORKLOADS[args.workload], nproc, run_dir, results_dir, tag)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
