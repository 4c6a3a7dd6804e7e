"""One benchmark run in a fresh process: start Spark inside the run's temp
root, run the workload, and write its result as JSON. ``run.py`` starts
this file and owns isolation, time limits and clean-up."""

from __future__ import annotations

import argparse
import json
import os
import platform
import sys
import time
from concurrent.futures import ThreadPoolExecutor


def collect(args, root: str, started: float) -> dict:
    import pyarrow
    import pyspark

    from perfbench import crawl_wide, serve_mixed
    from perfbench.common import Ctx, JobCounter, RssSampler, nproc, start_spark, stop_spark
    from perfbench.trace import Tracer

    workload = {"crawl_wide": crawl_wide, "serve_mixed": serve_mixed}[args.workload]
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}-{int(time.time())}"
    tracer = Tracer(run_id, enabled=bool(args.trace))
    with RssSampler() as rss, ThreadPoolExecutor(max_workers=1) as pool:
        # inputs are generated in Python while the JVM starts
        inputs = pool.submit(workload.prepare, args.seed)
        spark = start_spark(args.tmp)
        try:
            jobs = JobCounter(spark)
            ctx = Ctx(spark, root, args.tmp, args.seed, args.seconds, tracer, jobs, started)
            ctx.mark("spark_started")
            out = workload.run(ctx, inputs.result())
            n_jobs, failed_tasks = jobs.jobs(), jobs.failed_tasks()
        finally:
            stop_spark(spark)
    failed = out.failed + failed_tasks
    metrics = dict(out.e2e)
    if args.trace:
        metrics = dict(out.layers)
        metrics.update({f"trace.{k}": v for k, v in out.e2e.items()})
        metrics.update({f"self_s.{k}": v for k, v in tracer.self_times().items()})
        metrics["process.peak_rss_mb"] = rss.peak_mb
        metrics["spark.jobs"] = n_jobs
        metrics["spark.failed_tasks"] = failed_tasks
        metrics["fail_ratio"] = failed / out.attempted
        os.makedirs(os.path.join(root, ".perfbench-out"), exist_ok=True)
        tracer.dump(os.path.join(root, ".perfbench-out", f"trace-{run_id}.json"))
    return {
        "metrics": metrics,
        "attempted": out.attempted,
        "failed": failed,
        "mismatches": out.mismatches,
        "phases": ctx.phases,
        "env": {
            "nproc": nproc(),
            "python": platform.python_version(),
            "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
        },
    }


def main() -> int:
    started = time.perf_counter()
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--tmp", required=True)
    p.add_argument("--out", required=True)
    args = p.parse_args()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    res = collect(args, root, started)
    with open(args.out, "w") as f:
        json.dump(res, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
