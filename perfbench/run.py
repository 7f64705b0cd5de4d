#!/usr/bin/env python3
"""Benchmark entry point. From the repository root:

    python3 perfbench/run.py --workload crawl_sf01 --seed 1 --seconds 10 \\
        --trace 0

Prints a host record, then, as its last line, one JSON object with the keys
correct, attempted, failed and metrics. The metrics are the end-to-end
metrics of BENCHMARK.json, or with --trace 1 its per-layer metrics; a
per-layer metric of a layer the workload bypasses reads 0. A traced run also
keeps its spans in .perfbench_work/trace-<workload>-<seed>.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()   # the JVM exits on end of input
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def pick(spec: list[dict], measured: dict, default_zero: bool) -> dict:
    out = {}
    for m in spec:
        if m["name"] not in measured and not default_zero:
            raise RuntimeError(f"metric {m['name']} was not measured")
        value, unit = measured.get(m["name"], (0, m["unit"]))
        if unit != m["unit"]:
            raise RuntimeError(f"{m['name']} measured in {unit}, "
                               f"BENCHMARK.json says {m['unit']}")
        out[m["name"]] = {"value": value, "unit": unit}
    return out


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "wdd", "pipeline.py")):
        print(f"no wdd package under {ROOT}: run from a checkout of the "
              "repository", file=sys.stderr)
        return 2

    # sampled before Spark starts, so the run's own load is not in it
    load1_before = os.getloadavg()[0]
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        # every JVM, the launcher's too: temp files in the checkout and no
        # perf-data file in /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "WDD_LOCAL_DIR": os.path.join(run_dir, "spark-local"),
        "WDD_DRIVER_MEM": "3g",
    })
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path.insert(0, ROOT)

    import workloads
    from instruments import ProcessTree, host_cpu_ticks

    run = workloads.Run(args.seed, args.seconds, bool(args.trace), run_dir)
    t0, (steal0, ticks0) = time.perf_counter(), host_cpu_ticks()
    with ProcessTree() as tree:
        try:
            workloads.WORKLOADS[args.workload](run)
            app_id = run.spark.sparkContext.applicationId
        finally:
            if run.spark is not None:
                stop_spark(run.spark)
    steal1, ticks1 = host_cpu_ticks()
    host = {"nproc": len(os.sched_getaffinity(0)),
            "load1_before": load1_before,
            "steal_pct": 100 * (steal1 - steal0) / max(ticks1 - ticks0, 1),
            "cpu_s": tree.cpu_seconds,
            "wall_s": time.perf_counter() - t0,
            "peak_rss_mb": tree.peak_rss_bytes / 2**20}
    run.layer["host.peak_rss_mb"] = (host["peak_rss_mb"], "MB")
    run.layer["host.cpu_s"] = (host["cpu_s"], "s")

    if args.trace:
        run.event_log_metrics(app_id, "job")
        run.layer["trace.job_wall_s"] = run.e2e["job_wall_s"]
        with open(os.path.join(
                WORK, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "host": host, "spans": run.tracer.with_self_time(),
                       "lookups": run.lookups}, f)
        metrics = pick(spec["per_layer"], run.layer, default_zero=True)
    else:
        metrics = pick(spec["end_to_end"], run.e2e, default_zero=False)
    shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "trace": args.trace, "host": host,
                      "lookup_p50_ms": {k: v for k, (v, _) in run.layer.items()
                                        if k.endswith("_p50_ms")}}))
    print(json.dumps({"correct": run.failed == 0,
                      "attempted": run.attempted, "failed": run.failed,
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
