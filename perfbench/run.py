"""Ingest benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the workload's inputs from the
seed, measures for ``--seconds``, checks every output, and prints one
JSON object as the last line of stdout: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). The line before it carries
run details: nproc, load average before and after, git sha, and the
metrics under their workload-specific names.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("cdc_live", "search", "corpus_clean")
PACKAGE = "platypus_ingestion_plugins_spark"


def load_spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def workload_class(name: str):
    if name == "cdc_live":
        from ingest import CdcLive

        return CdcLive
    if name == "search":
        from search import Search

        return Search
    from clean import CorpusClean

    return CorpusClean


class Context:
    """What a workload sees: the session, its scratch dir, the seed and
    the (possibly no-op) tracer and layer instrumentation."""

    def __init__(self, spark, tmp: str, seed: int, tracer, stats):
        self.spark = spark
        self.tmp = tmp
        self.seed = seed
        self.tracer = tracer
        self.stats = stats
        self.layer = None
        self.progress = None


def per_op_spark(counts: dict, ops: int) -> dict:
    n = max(ops, 1)
    return {
        "spark.jobs_per_batch": counts["jobs"] / n,
        "spark.stages_per_batch": counts["stages"] / n,
        "spark.tasks_per_batch": counts["tasks"] / n,
        "spark.shuffle_bytes_per_batch": counts["shuffle_bytes"] / n,
        "spark.executor_cpu_s": counts["cpu_ns"] / 1e9 / n,
        "spark.gc_ms": counts["gc_ms"] / n,
    }


def remove_tree(path: str) -> None:
    """Delete the run's scratch; retries while exiting Spark worker
    processes still remove their own files."""
    for _ in range(100):
        shutil.rmtree(path, ignore_errors=True)
        if not os.path.exists(path):
            return
        time.sleep(0.1)
    raise RuntimeError(f"could not remove {path}")


def run(args, root: str, spec: dict) -> tuple[dict, dict]:
    """Returns (result, details)."""
    from common import NullTracer, Tracer, git_sha, loadavg, read_event_log
    from engine import LayerTrace, ProgressLog, Session

    t_begin = time.perf_counter()
    nproc = len(os.sched_getaffinity(0))
    cpus = min(int(os.environ.get("SPARK_GRAFT_CPUS", nproc)), nproc)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # the engine's 16g default exceeds this benchmark's reference host
    # (15 GB, shared); 1g holds every workload
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    # executors' Python workers import the engine and the benchmark
    os.environ["PYTHONPATH"] = os.pathsep.join([root, HERE, os.environ.get("PYTHONPATH", "")])
    scratch_root = os.path.join(root, ".perfbench_tmp")
    os.makedirs(scratch_root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=scratch_root)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    details = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc,
        "spark_cpus": cpus,
        "loadavg_before": loadavg(),
        "git_sha": git_sha(root),
    }
    from platypus_ingestion_plugins_spark.streaming.pipeline import ThroughputListener

    session = None
    try:
        try:
            session = Session(tmp, event_log=bool(args.trace))
            ctx = Context(session.spark, tmp, args.seed, NullTracer(), ThroughputListener())
            if args.trace:
                ctx.progress = ProgressLog()
                session.spark.streams.addListener(ctx.progress)
            wl = workload_class(args.workload)(ctx)
            wl.setup()
            setup_s = time.perf_counter() - t_begin
            if not args.trace:
                e2e = wl.summarize(wl.measure(args.seconds))
                e2e["setup_s"] = setup_s
            else:
                # untraced, traced, untraced: drift over the run cancels
                # out of the overhead ratio
                before = wl.summarize(wl.measure(args.seconds / 4))
                ctx.tracer = Tracer()
                ctx.layer = LayerTrace(ctx.tracer).install()
                t0 = time.time() * 1000
                m = wl.measure(args.seconds / 2)
                t1 = time.time() * 1000
                ctx.layer.uninstall()
                tracer, ctx.tracer = ctx.tracer, NullTracer()
                after = wl.summarize(wl.measure(args.seconds / 4))
                ctx.tracer = tracer
                untraced = {k: (before[k] + after[k]) / 2 for k in before}
                layers = wl.layers(m)
                layers["trace.overhead_ratio"] = wl.overhead(untraced, wl.summarize(m))
                ops = layers.get("streaming.batches") or wl.operations(m)
            attempted, failed = wl.check()
            rss = session.peak_rss_mb()
        finally:
            if session is not None:
                session.close()
        if args.trace:
            # the event log is complete once the session has stopped
            layers.update(per_op_spark(read_event_log(session.event_dir, t0, t1), ops))
            trace_file = os.path.join(root, ".perfbench_out", f"trace-{args.workload}-seed{args.seed}.json")
            ctx.tracer.dump(trace_file)
            details["trace_file"] = os.path.relpath(trace_file, root)
    finally:
        remove_tree(tmp)
    details["loadavg_after"] = loadavg()
    details["wall_s"] = time.perf_counter() - t_begin

    if args.trace:
        wanted = [m["name"] for m in spec["per_layer"]]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        details["not_exercised"] = sorted(n for n in wanted if n not in layers)
        values = {n: float(layers.get(n, 0.0)) for n in wanted}
    else:
        e2e["peak_rss_mb"] = rss
        wanted = [m["name"] for m in spec["end_to_end"]]
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        values = {n: float(e2e[n]) for n in wanted}
        details["named_metrics"] = {
            k: {"value": v, "unit": u} for k, (v, u) in wl.named(e2e).items()
        }
    metrics = {n: {"value": values[n], "unit": units[n]} for n in wanted}
    ok = failed == 0
    result = {"correct": ok, "attempted": int(attempted), "failed": int(failed), "metrics": metrics if ok else {}}
    return result, details


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"error: run from the repository root ({PACKAGE}/ not found in {root})", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    spec = load_spec(root)
    try:
        result, details = run(args, root, spec)
    except Exception:
        traceback.print_exc()
        result = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
        details = {"workload": args.workload, "seed": args.seed, "error": "exception, see stderr"}
    print(json.dumps(details), flush=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
