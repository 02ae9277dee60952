#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Generates the workload's inputs from
the seed, runs it on ``get_spark(cpus=<nproc>)`` with the engine's
defaults, checks the outputs against independent references, and prints
two JSON lines: a detailed report (every figure by name with its unit and
sample count, the checks, versions and input sizes), then the result
line ``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace
0`` the metrics are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` they are its per-layer metrics, and the spans are written
to ``.bench_traces/``.  Metric names, units and the workloads' reasons
live in ``BENCHMARK.json``; see ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(work: str) -> None:
    """Keep every file the run writes inside ``work`` and let the
    engine's Python workers import the package from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")
    os.environ["PYTHONWARNINGS"] = "ignore::FutureWarning"
    import tempfile
    tempfile.tempdir = tmp


def versions(spark) -> dict:
    java = [line for line in subprocess.run(
        ["java", "-version"], capture_output=True, text=True).stderr
        .splitlines() if "version" in line]
    return {"spark": spark.version, "java": java[0] if java else None,
            "python": sys.version.split()[0]}


def derive_layers(run, spec: list) -> dict:
    """Per-layer metrics from the spans (see perfbench/README.md for the
    definition of each); layers a workload does not touch read 0."""
    spans = run.tracer.spans
    L = {m["name"]: 0.0 for m in spec}

    def dur(names):
        return sum(s["end"] - s["start"] for s in spans
                   if s["name"] in names and s["phase"] == "measure")

    def measured(name):
        return [s for s in spans if s["phase"] == "measure"
                and s["name"] == name]

    L["sources.batch.load_s"] = dur({"sources.batch.events_stream",
                                     "sources.batch.load_table"})
    L["core.stream.plan_s"] = dur({"core.stream.plan"})
    L["core.stream.scan_s"] = dur({"core.stream.scan"})
    L["core.stream.group_s"] = dur({"core.stream.group"})
    L["core.stream.window_s"] = dur({"core.stream.window",
                                     "core.stream.window_from"})
    L["core.stream.join_s"] = dur({"core.stream.zip_join",
                                   "core.stream.take"})
    L["functions.reducers.ewma_s"] = dur({"functions.reducers.ewma"})
    L["functions.reducers.arrow_rows"] = sum(
        s.get("input_records", 0) for s in measured("functions.reducers.ewma"))
    L["operators.text.filter_s"] = dur({
        "operators.text.c4_rule_filter",
        "operators.text.gopher_quality_filter"})
    L["operators.dedup.exact_s"] = dur({"operators.dedup.exact_groups"})
    L["operators.dedup.minhash_s"] = dur(
        {"operators.dedup.lsh_candidate_pairs"})
    L["operators.dedup.components_s"] = dur(
        {"operators.dedup.connected_components"})
    L["operators.dedup.incremental_s"] = dur(
        {"operators.dedup.incremental_near_dup"})
    L["operators.snapshot.write_s"] = dur(
        {"operators.snapshot.write_snapshot"})
    L["operators.snapshot.read_s"] = dur({
        "operators.snapshot.read_snapshot", "operators.snapshot.read_bloom"})
    L["operators.similarity.build_s"] = sum(
        s["end"] - s["start"] for s in spans
        if s.get("index") == "pq" and s["phase"] == "setup")
    topk = measured("operators.similarity.pq_index_batch_topk")
    L["operators.similarity.topk_s"] = sum(s["end"] - s["start"]
                                           for s in topk)
    if topk:
        L["operators.similarity.scan_rows_per_query"] = sum(
            s.get("input_records", 0) for s in topk) \
            / run.res.detail["ann_queries"]

    top = [s for s in spans if s["phase"] == "measure"]
    for f in ("tasks", "executor_run_s", "executor_cpu_s", "gc_s",
              "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        L[f"spark.{f}"] = sum(s.get(f, 0) for s in top)
    L["sources.batch.input_bytes"] = sum(   # live input is not this layer's
        s.get("input_bytes", 0) for s in top
        if s["name"] != "streaming.live.query")
    wall = sum(s["end"] - s["start"] for s in top if s["parent"] is None)
    L["spark.busy_share"] = (L["spark.executor_run_s"] / (wall * run.cpus)
                             if wall else 0.0)
    for k, v in run.res.layers.items():
        if k in L and v is not None:
            L[k] = v
    return L


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every child process."""
    from pyspark import SparkContext
    from perfbench.trace import descendants
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()      # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    for pid in descendants(os.getpid()):
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "scespet_spark", "__init__.py")):
        print(f"perfbench: no scespet_spark package under {ROOT}; run from "
              "the root of a full checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    sys.path.insert(0, ROOT)
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Run, sizes
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = os.path.join(ROOT, ".bench_work", run_id)
    isolate(work)

    cpus = len(os.sched_getaffinity(0))
    tracer = Tracer(enabled=args.trace == 1, run_id=run_id)
    run = Run(args.seed, args.seconds, work, tracer, cpus)
    t_start = time.time()
    try:
        WORKLOADS[args.workload](run)
        info = versions(run.spark)
        if tracer.enabled:
            tracer.attach_stage_counters(run.spark, {
                s["group"]: s for s in tracer.spans if "group" in s})
            layers = derive_layers(run, bench["per_layer"])
    finally:
        if run.spark is not None:
            run.log("workload done")
            stop_spark(run.spark)
            run.log("spark stopped")
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(os.path.dirname(work)):
            os.rmdir(os.path.dirname(work))
    if tracer.enabled:
        tracer.dump(os.path.join(ROOT, ".bench_traces", f"{run_id}.json"))

    res = run.res
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    units = {**e2e, "peak_rss_mb": "MB"}
    figures = {name: {"value": statistics.median(v), "samples": len(v),
                      "unit": units.get(name)}
               for name, v in res.samples.items()}
    missing = [name for name in e2e if name not in figures]
    if missing:
        print(f"perfbench: no samples for {missing}; checks: {res.checks}",
              file=sys.stderr)
        return 1
    correct = all(c["ok"] for c in res.checks) and res.failed == 0
    detail = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "nproc": cpus,
        **info, "sizes": sizes(args.workload), "figures": figures,
        "named": res.detail,
        "error_rate": res.failed / max(res.attempted, 1),
        "checks": res.checks, "wall_s": time.time() - t_start,
    }
    if tracer.enabled:
        detail["layers"] = layers
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]}
                   for m in bench["per_layer"]}
    else:
        metrics = {name: {"value": figures[name]["value"], "unit": unit}
                   for name, unit in e2e.items()}
    print(json.dumps(detail, default=str))
    print(json.dumps({"correct": correct, "attempted": max(res.attempted, 1),
                      "failed": res.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
