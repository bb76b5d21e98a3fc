"""Benchmark entry point.

    python3 perfbench/run.py --workload {etl_stream,queries} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. Generates the workload's inputs from the
seed, starts a Spark session sized for the host, then times one pass of
the workload in that fresh session (the cost a batch job pays on every
submission) and checks every output against its reference outside the
timed spans. Further
passes run only while ``--seconds`` lasts. With ``--trace 1`` the
session runs under Spark's uncompressed event log and the run reports
per-layer figures of that pass instead of the end-to-end ones.

Stdout: a report of every metric by name and unit, then as the last line
one JSON object {"correct", "attempted", "failed", "metrics"}. The full
record (spans, input sizes, per-query figures, host provenance) goes to
``.perfbench_results/``. Everything the run writes stays under the
working directory; its scratch directory is removed at exit.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.getcwd()
ENGINE = "mrc_spark_jobs_pubmed_spark"

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "setup.generate_s": "s",
    "trace.pass_s": "s",
    "failed_share": "share",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.relational_build_jobs": "count",
    "plans.dedup_graph_build_jobs": "count",
    "plans.relational_s": "s",
    "plans.dedup_graph_s": "s",
    "spark.plan_s": "s",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.task_run_s": "s",
    "spark.busy_share": "share",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.python_bytes_in": "bytes",
    "spark.python_bytes_out": "bytes",
    "sources.scan_bytes": "bytes",
    "pipeline.fetch_calls": "count",
    "pipeline.fetch_calls_per_page": "count",
    "pipeline.resume_fetch_calls_per_page": "count",
    "pipeline.retry_responses": "count",
    "pipeline.failed_pages": "count",
    "pipeline.work_table_s": "s",
    "pipeline.articles_sink_s": "s",
    "pipeline.kw1_sink_s": "s",
    "pipeline.kw2_sink_s": "s",
    "pipeline.articles": "count",
    "pipeline.dropped_lines": "count",
    "pipeline.resume_rows_appended": "count",
    "pipeline.files_written": "count",
    "pipeline.bytes_written_per_input_byte": "ratio",
    "pipeline.fresh_articles_per_s": "1/s",
    "pipeline.resume_articles_per_s": "1/s",
    "streaming.session_windows.events_per_s": "1/s",
    "streaming.stateful_sessionize.events_per_s": "1/s",
    "streaming.events_per_s": "1/s",
    "streaming.batch_p50_s": "s",
    "streaming.batch_tail_s": "s",
    "streaming.batches": "count",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "streaming.commit_s": "s",
    "streaming.late_rows_dropped": "count",
}


def host_memory_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb() -> int:
    """An eighth of host RAM, between 1 and 2 GiB: the local-mode JVM holds
    every executor, and the inputs are a few MB."""
    return max(1024, min(2048, host_memory_mb() // 8))


def isolate(run_dir: str) -> None:
    """Per-run scratch, cores and memory; must run before pyspark is imported."""
    cpus = len(os.sched_getaffinity(0))
    for sub in ("local", "tmp", "warehouse", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_memory_mb()}m",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        # Python workers import the engine (and this benchmark's fetcher)
        # by module path, whatever their working directory
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })


class Ctx:
    """State of one run, passed to the workload."""

    def __init__(self, seed: int, run_dir: str):
        from perfbench.trace import Tracer
        from perfbench.workloads import Ops

        self.seed = seed
        self.run_dir = run_dir
        self.tracer = Tracer()
        self.ops = Ops()
        self.spark = None
        self.sizes: dict = {}
        self.stream_runs: dict[str, str] = {}  # streaming run id -> phase
        self.spark_cpus = 0
        self.phase = "s:"

    @property
    def phase(self) -> str:
        """Job-group and span prefix: s: setup, p: timed passes, r: pipeline replay."""
        return self.tracer.tags["phase"]

    @phase.setter
    def phase(self, value: str) -> None:
        self.tracer.tags["phase"] = value

    def group(self, name: str) -> None:
        """Tag the Spark jobs that follow with ``<phase><name>``."""
        g = f"{self.phase}{name}"
        self.spark.sparkContext.setJobGroup(g, g)

    def start(self, generation: int, event_log: bool):
        from mrc_spark_jobs_pubmed_spark.session import get_session

        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, f"warehouse/{generation}"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        }
        if event_log:
            log_dir = os.path.join(self.run_dir, "eventlog", str(generation))
            os.makedirs(log_dir, exist_ok=True)
            conf |= {"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false", "spark.eventLog.dir": log_dir}
        self.spark = get_session(app_name="perfbench", extra_conf=conf)
        return self.spark


def provenance(spark, seed: int) -> dict:
    sha = None  # a checkout without .git: the source digest identifies the code
    if os.path.isdir(".git"):
        try:
            sha = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                                 timeout=10, check=True).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    h = hashlib.sha256()
    for root, dirs, files in sorted(os.walk(ENGINE)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(root, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return {"cpus": spark.sparkContext.defaultParallelism, "ram_mb": host_memory_mb(),
            "driver_memory_mb": driver_memory_mb(), "git_sha": sha,
            "engine_sha256": h.hexdigest(), "seed": seed, "spark_version": spark.version,
            "python": sys.version.split()[0]}


def measure(wl, seconds: float) -> list[float]:
    """Passes for ``seconds``: at least one, and another only while the last
    pass still fits in the time left. Returns each pass's wall."""
    walls: list[float] = []
    t_end = time.perf_counter() + seconds
    while not walls or time.perf_counter() + walls[-1] <= t_end:
        walls.append(wl.run_pass())
    return walls


def layer_metrics(ctx, wl, log, pass_s: float) -> tuple[dict, dict]:
    """Per-layer figures of the traced pass (phase ``p:``), and the jobs
    each registry query started while its DataFrame was built."""
    from perfbench.workloads import DEDUP_GRAPH, RELATIONAL

    spans = [s for s in ctx.tracer.spans if s.get("phase") == "p:"]

    def span_sum(name):
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    def in_pass(g):
        return g.startswith("p:") or ctx.stream_runs.get(g) == "p:"

    per = log.total(in_pass)
    build_jobs = {s["query"]: log.total(lambda g, q=s["query"]: g == f"p:build:{q}")["jobs"]
                  for s in spans if s["name"] == "plans.build"}
    build_s, plan_s = span_sum("plans.build"), span_sum("spark.plan")
    out = dict.fromkeys(PER_LAYER, 0)
    out |= {f"spark.{k}": per[k] for k in (
        "jobs", "stages", "tasks", "failed_tasks", "task_run_s", "gc_s", "shuffle_write_bytes",
        "shuffle_read_bytes", "spill_bytes", "python_bytes_in", "python_bytes_out")}
    out |= {
        "trace.pass_s": pass_s,
        "plans.build_s": build_s,
        "plans.build_jobs": sum(build_jobs.values()),
        "plans.relational_build_jobs": sum(build_jobs.get(q, 0) for q in RELATIONAL),
        "plans.dedup_graph_build_jobs": sum(build_jobs.get(q, 0) for q in DEDUP_GRAPH),
        "spark.plan_s": plan_s,
        "sources.scan_bytes": per["scan_bytes"],
    }
    out |= wl.layers(0)
    out["spark.exec_s"] = pass_s - out["plans.build_s"] - out["spark.plan_s"]
    out["spark.busy_share"] = per["task_run_s"] / (ctx.spark_cpus * out["spark.exec_s"])
    return out, build_jobs


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ENGINE, "pipeline", "run.py")):
        print(f"perfbench: run from the repository root; {ENGINE}/ not found in {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    isolate(run_dir)
    ctx = Ctx(args.seed, run_dir)
    try:
        result = run(ctx, WORKLOADS[args.workload](ctx), args)
    finally:
        shutdown(ctx)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def run(ctx, wl, args) -> dict:
    """Boot, generate, then time one cold pass (plus further passes while
    ``--seconds`` lasts). With ``--trace`` the session runs under the
    event log and the run reports per-layer figures of that one pass."""
    from perfbench.trace import RssSampler

    tr = ctx.tracer
    rss = RssSampler()
    stop = threading.Event()
    sampler = threading.Thread(target=rss.watch, args=(stop, 0.25), daemon=True)
    sampler.start()
    try:
        with tr.span("session.start"):
            ctx.start(0, event_log=bool(args.trace))
            ctx.spark.range(1).count()  # the context is up and has run a job
        ctx.spark_cpus = ctx.spark.sparkContext.defaultParallelism
        prov = provenance(ctx.spark, args.seed)
        with tr.span("setup.generate"):
            ctx.sizes = wl.generate()
        ctx.phase = "p:"
        walls = measure(wl, 0 if args.trace else args.seconds)
    finally:
        stop.set()
        sampler.join()
    setup = {k: tr.total(k) for k in ("session.start", "setup.generate")}
    e2e = {"setup_s": sum(setup.values()), "pass_s": walls[0], "peak_rss_mb": rss.peak}
    report = {k: (v, END_TO_END[k]) for k, v in e2e.items()} | wl.report(0)
    if len(walls) > 1:
        report["warm_pass_s (median of later passes)"] = (statistics.median(walls[1:]), "s")
    layers = None
    if args.trace:
        layers, build_jobs = traced_layers(ctx, wl, walls[0])
        layers |= {"session.start_s": setup["session.start"],
                   "setup.generate_s": setup["setup.generate"],
                   "failed_share": ctx.ops.failed / ctx.ops.attempted}
        report |= {k: (v, PER_LAYER[k]) for k, v in layers.items()}
        report |= {f"plans.build_jobs[{q}]": (n, "count") for q, n in build_jobs.items()}
        overhead = tracing_overhead(wl.name, walls[0])
        if overhead:
            report[f"trace.overhead_share (vs {overhead[1]} untraced runs)"] = (overhead[0], "share")
    for k, (v, unit) in report.items():
        print(f"{k:48s} {v:.6g} {unit}" if isinstance(v, float) else f"{k:48s} {v} {unit}")
    print(f"inputs {json.dumps(ctx.sizes)}")
    print(f"provenance {json.dumps(prov)}")
    for e in ctx.ops.errors:
        print(f"FAILED {e}")
    record = {"workload": wl.name, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "provenance": prov, "inputs": ctx.sizes,
              "passes_s": walls, "report": {k: v for k, (v, _u) in report.items()},
              "errors": ctx.ops.errors, "spans": tr.dump()}
    os.makedirs(os.path.join(ROOT, ".perfbench_results"), exist_ok=True)
    with open(os.path.join(ROOT, ".perfbench_results",
                           f"{wl.name}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    metrics = ({k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()} if args.trace
               else {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()})
    return {"correct": ctx.ops.failed == 0, "attempted": ctx.ops.attempted,
            "failed": ctx.ops.failed, "metrics": metrics}


def traced_layers(ctx, wl, pass_s: float) -> tuple[dict, dict]:
    """Replay the pipeline stages, then parse the traced pass's event log."""
    from perfbench.trace import EventLog

    ctx.phase = "r:"
    wl.replay()
    ctx.spark.stop()  # closes and renames the event log
    log = EventLog(EventLog.find(os.path.join(ctx.run_dir, "eventlog", "0")))
    return layer_metrics(ctx, wl, log, pass_s)


def tracing_overhead(name: str, traced_pass_s: float) -> tuple[float, int] | None:
    """Traced pass over the median untraced pass of the earlier runs whose
    records sit in ``.perfbench_results`` (any seed), minus one."""
    untraced = []
    for f in glob.glob(os.path.join(ROOT, ".perfbench_results", f"{name}-seed*-trace0.json")):
        with open(f) as fh:
            untraced.append(json.load(fh)["passes_s"][0])
    if not untraced:
        return None
    return traced_pass_s / statistics.median(untraced) - 1, len(untraced)


def shutdown(ctx) -> None:
    """Stop Spark and wait for the JVM (and with it every Python worker) to exit."""
    from pyspark import SparkContext

    if ctx.spark is not None:
        ctx.spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    raise SystemExit(main())
