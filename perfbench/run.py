"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl_wide --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all

One run of one workload prints its metrics by name and unit, then, as the
last line, one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics of BENCHMARK.json with ``--trace 0``,
the per-layer ones with ``--trace 1``). It exits non-zero when an output
check fails. ``--workload all`` runs every workload untraced and traced
and also prints the tracing overhead.

Each run gets a fresh temp root under the checkout (TMPDIR, Spark local
dirs, warehouses), runs the workload in a child process group, and
removes both afterwards."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("crawl_wide", "serve_mixed")
DEFAULT_SEED = 1
RUN_LIMIT_S = 170
DRIVER_MEM = "2g"  # Spark driver heap: the run fits in it, and the box is shared


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _group_alive(pgid: int) -> bool:
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def run_one(workload: str, seed: int, seconds: float, trace: int) -> dict | None:
    """→ the worker's result, or None when the run failed to produce one."""
    base = os.path.join(ROOT, ".perfbench-tmp")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{workload}-{seed}-", dir=base)
    n = str(len(os.sched_getaffinity(0)))
    env = dict(
        os.environ,
        PYTHONPATH=ROOT,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
        SPARK_GRAFT_CPUS=n,
        ETHOS_DRIVER_MEM=DRIVER_MEM,
    )
    out_path = os.path.join(tmp, "result.json")
    log_path = os.path.join(tmp, "worker.log")
    try:
        with open(log_path, "wb") as log:
            proc = subprocess.Popen(
                [sys.executable, os.path.join(ROOT, "perfbench", "worker.py"),
                 "--workload", workload, "--seed", str(seed),
                 "--seconds", str(seconds), "--trace", str(trace),
                 "--tmp", tmp, "--out", out_path],
                cwd=tmp, env=env, stdout=log, stderr=subprocess.STDOUT,
                start_new_session=True,
            )
            try:
                proc.wait(timeout=RUN_LIMIT_S)
            except subprocess.TimeoutExpired:
                print(f"{workload}: run exceeded {RUN_LIMIT_S} s", file=sys.stderr)
            finally:
                # the worker's process group: driver JVM, Python workers,
                # a served child process — stop all of it and wait
                try:
                    os.killpg(proc.pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
                proc.wait()
                deadline = time.monotonic() + 30
                while _group_alive(proc.pid) and time.monotonic() < deadline:
                    time.sleep(0.1)
        if proc.returncode != 0 or not os.path.exists(out_path):
            with open(log_path, errors="replace") as f:
                sys.stderr.write(f.read()[-4000:])
            return None
        with open(out_path) as f:
            return json.load(f)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def report(res: dict, trace: int) -> dict:
    """The contract's result object, metrics in BENCHMARK.json order."""
    spec = _spec()["per_layer" if trace else "end_to_end"]
    missing = [m["name"] for m in spec if m["name"] not in res["metrics"]]
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    return {
        "correct": not res["mismatches"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {
            m["name"]: {"value": float(res["metrics"][m["name"]]), "unit": m["unit"]}
            for m in spec
        },
    }


def _print_run(workload: str, res: dict, rep: dict) -> None:
    print(f"# {workload} env {json.dumps(res['env'])}")
    print(f"# {workload} phases (s since start) "
          + json.dumps({k: round(v, 2) for k, v in res["phases"].items()}))
    for name, m in rep["metrics"].items():
        print(f"{workload}  {name} = {m['value']:.6g} {m['unit']}")
    for bad in res["mismatches"][:20]:
        print(f"{workload}  MISMATCH {bad}")


def run_all(seed: int, seconds: float) -> int:
    """Every workload, untraced then traced, with the tracing overhead:
    the traced run's end-to-end figures minus the untraced run's."""
    ok, summary = True, {}
    for w in WORKLOADS:
        plain, traced = run_one(w, seed, seconds, 0), run_one(w, seed, seconds, 1)
        if plain is None or traced is None:
            return 1
        rep, trep = report(plain, 0), report(traced, 1)
        _print_run(w, plain, rep)
        _print_run(w, traced, trep)
        overhead = {}
        for name, m in rep["metrics"].items():
            t = traced["metrics"][f"trace.{name}"]
            overhead[name] = t - m["value"]
            print(f"{w}  trace overhead {name} = {t - m['value']:+.6g} {m['unit']}"
                  f" ({(t / m['value'] - 1) * 100:+.1f}%)")
        ok = ok and rep["correct"] and trep["correct"]
        summary[w] = {"end_to_end": rep, "per_layer": trep, "trace_overhead": overhead}
    print(json.dumps(summary))
    return 0 if ok else 1


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=None)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "ethos_spark")):
        print("ethos_spark not found beside perfbench/", file=sys.stderr)
        return 2
    seconds = args.seconds if args.seconds is not None else _spec()["run_seconds"]
    if args.workload == "all":
        return run_all(args.seed, seconds)
    res = run_one(args.workload, args.seed, seconds, args.trace)
    if res is None:
        return 1
    rep = report(res, args.trace)
    _print_run(args.workload, res, rep)
    print(json.dumps(rep))
    return 0 if rep["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
