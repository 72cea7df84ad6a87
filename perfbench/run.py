"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Runs from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``). The line before it gives the error rate; before that
come the failed operations, one per line, and in an untraced run the
wall-clock figures. Scratch files go under ``.perfbench_work/`` and are
removed at exit; the traced run leaves its spans in
``.perfbench_out/``."""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Deployment settings: the Spark driver heap (the engine's default of
# 24g does not fit a 15 GiB machine shared with other jobs) and the
# parallelism (one core per local task).
DRIVER_MEM = "2g"

# name -> (transcript turns, source batches)
WORKLOADS = {
    "ingest": (800, 8),
    "serve": (2500, 1),
}


def _configure_env(work: str, cpus: int) -> None:
    """Must run before pyspark starts the JVM: workers inherit it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Spark's Python workers import bleve_spark whatever the cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
        "pyspark-shell")


def _stop_spark() -> None:
    """Stop the session and wait for the JVM (and its Python workers)
    to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if importlib.util.find_spec("bleve_spark") is None or not os.path.isfile(
            os.path.join(ROOT, "tests", "oracle.py")):
        print("perfbench: bleve_spark and tests/oracle.py must sit beside "
              "perfbench/ (run from a repository checkout)",
              file=sys.stderr)
        return 2

    # a terminated run still stops the JVM and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    _configure_env(work, cpus)

    from perfbench.tracing import NullTracer, Tracer
    from perfbench.workloads import Run, Workload

    wl = Workload(args.workload, *WORKLOADS[args.workload])
    tracer = Tracer() if args.trace else NullTracer()
    run = Run(wl, args.seed, args.seconds, tracer, work, cpus)
    try:
        e2e, layer = run.execute()
    finally:
        _stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.write(os.path.join(
            out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))

    metrics = layer if args.trace else e2e
    units = _units(args.trace)
    failed = len(run.failures)
    for f in run.failures:
        print(f"FAILED {f}")
    if not args.trace:
        print("wall " + json.dumps({k: v for k, v in layer.items()
                                    if k.startswith(("wall.", "host."))}))
    print(f"error_rate {failed / run.attempted:.6f} "
          f"({failed} failed of {run.attempted} operations)")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


def _units(trace: int) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
