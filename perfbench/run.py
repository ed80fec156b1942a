"""Benchmark of the NQS fact stream (see perfbench/README.md).

Run it from any directory; the repository root is the parent of this
file's directory:

    python3 perfbench/run.py --workload nqs_live --seed 1 --seconds 20 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the run also turns
on Spark's event log and spans around package calls, and the metrics are the
per-layer ones.  Everything the run writes stays under ``.perfbench/`` in
the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

import tracing as T

PACKAGE = "nqs_console_flink_window_spark"
WORKLOADS = ("nqs_live", "nqs_replay")
STATE = ".perfbench"  # under the checkout root
CPUS = 2
HEAP = "2g"


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input sizes; tiny is for the smoke run")
    return p.parse_args(argv)


def launch_env(root: str, work: str, event_dir: str | None) -> None:
    """Environment for the JVM and Spark's Python workers: the package on
    every Python path, scratch space inside the checkout, and the event log
    when tracing."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # Two task threads leave the other cores to the JVM's compiler and GC
    # threads and to the generator; a fixed heap takes heap resizing out of
    # the timings.  Both are set here, not inherited, so every run is alike.
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["NQS_DRIVER_MEMORY"] = HEAP
    args = f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms{HEAP}' "
    args += T.launch_args(event_dir) if event_dir else "pyspark-shell"
    os.environ["PYSPARK_SUBMIT_ARGS"] = args


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str]) -> int:
    a = parse_args(argv)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"{PACKAGE}/ not found in {root}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    state = os.path.join(root, STATE)
    work = os.path.join(state, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    event_dir = os.path.join(work, "eventlog") if a.trace else None
    if event_dir:
        os.makedirs(event_dir)
    launch_env(root, work, event_dir)

    t0 = time.perf_counter()
    import nqs
    from nqs_console_flink_window_spark.session import get_spark

    spark = get_spark(f"perfbench-{a.workload}")
    session_s = time.perf_counter() - t0
    progress = T.ProgressLog()
    spark.streams.addListener(progress)
    tracer = T.Tracer(recording=False) if a.trace else None
    if tracer:
        nqs.install_spans(tracer)
    ctx = nqs.Ctx(spark, a.seed, a.seconds, work, nqs.SIZES[a.size], progress, tracer,
                  event_dir, session_s)
    try:
        out = nqs.WORKLOADS[a.workload](ctx)
    finally:
        if tracer:
            tracer.restore()
        stop_spark(spark)
        for b in progress.snapshot():
            print(f"batch {b.batch_id} at {b.start:.2f}: {b.rows} rows, "
                  f"{b.duration_ms.get('triggerExecution')} ms", file=sys.stderr)

    last_path = os.path.join(state, f"{a.workload}-{a.size}.last.json")
    if a.trace:
        # tracing overhead: this run's traced operations against the last
        # untraced run's, or else against this run's span-off operations
        base = nqs.op_p50_s(out.ops, traced=False)
        if os.path.exists(last_path):
            with open(last_path) as f:
                base = json.load(f)["op_p50_s"]
        out.layers["trace.overhead_s"] = nqs.op_p50_s(out.ops, traced=True) - base
        tracer.write(os.path.join(state, f"{a.workload}.spans.jsonl"))
        report = {k: {"value": v, "unit": nqs.LAYER_METRICS[k][0],
                      "moves": nqs.LAYER_METRICS[k][1]} for k, v in out.layers.items()}
        with open(os.path.join(state, f"{a.workload}.trace.json"), "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)
        metrics = {k: {"value": v, "unit": nqs.LAYER_METRICS[k][0]}
                   for k, v in sorted(out.layers.items())}
    else:
        with open(last_path, "w") as f:
            json.dump({"op_p50_s": nqs.op_p50_s(out.ops)}, f)
        metrics = {k: {"value": v, "unit": nqs.E2E_UNITS[k]} for k, v in out.metrics.items()}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": out.correct, "attempted": out.attempted,
                      "failed": out.failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
