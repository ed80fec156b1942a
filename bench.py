"""BENCH harness — runs the headline query suite at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced end-to-end with a noop write (full computation, no
driver-side collect).  A warmup run of the smallest query absorbs JVM/
codegen startup so timings reflect steady-state throughput.
"""

from __future__ import annotations

import json
import os
import pathlib
import re
import sys
import time

_REPO = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(_REPO))
# Spark's Python workers import the package too (UDFs, mapInPandas): put
# the repo on their path as well, so a launch from any directory works
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (str(_REPO), os.environ.get("PYTHONPATH", "")) if p
)

from nqs_console_flink_window_spark.plans import all as _all  # noqa: E402,F401
from nqs_console_flink_window_spark.plans.registry import REGISTRY  # noqa: E402
from nqs_console_flink_window_spark.session import get_spark  # noqa: E402


def force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def reset_per_pass_state(name: str) -> None:
    """Per-query pre-pass reset.  The standing-INDEX queries keep their
    per-process caches across passes by design (build outside the timed
    region — querying the index is the number).  web_curate_pipeline is
    the opposite: the pipeline IS the ingest, so its per-process result
    cache is cleared before every timed pass — the number is the full
    WARC -> parse -> extract -> curate -> index-landing run."""
    if name == "web_curate_pipeline":
        from nqs_console_flink_window_spark.plans import queries_ext as QE

        QE._WEB_CURATE_CACHE.clear()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    spark = get_spark("nqs-bench")
    headline = {n: q for n, q in REGISTRY.items() if q.headline}

    # Warmup: run every headline query once at the TARGET SF.  Warming at a
    # smaller SF leaves 10×-data shuffle/JIT paths cold and inflated round-7's
    # recorded total by 1.32× vs a back-to-back re-run (BASELINE.md band
    # notes).  One untimed pass at the target dir makes the timed pass
    # reflect steady-state throughput — what a long 100 TB job sees.
    warmup_dir = sf_dir

    # One failing query must not zero out the whole bench (round-2 lesson:
    # a loader regression crashed the first warmup call and the round
    # recorded no timings at all).  Time what runs, name what failed.
    failures: dict[str, str] = {}
    for name, q in headline.items():
        try:
            force(q.spark(spark, warmup_dir))
        except Exception as e:  # noqa: BLE001 - survey, don't die
            failures[name] = f"{type(e).__name__}: {e}"[:200]

    # Min of 3 timed passes per query: single shots on a 32-thread local
    # JVM carry 10-15% scheduler/GC noise (two back-to-back round-8 suite
    # runs spread 21.9 s vs 25.0 s); the min is the steady-state
    # throughput number and is stable run-to-run, which is what the
    # per-query baselines in BASELINE.md are compared against.
    timings: dict[str, float] = {}
    for name, q in headline.items():
        if name in failures:
            continue
        best = None
        try:
            for _ in range(3):
                reset_per_pass_state(name)
                t0 = time.perf_counter()
                force(q.spark(spark, sf_dir))
                dt = time.perf_counter() - t0
                best = dt if best is None or dt < best else best
        except Exception as e:  # noqa: BLE001
            failures[name] = f"{type(e).__name__}: {e}"[:200]
            continue
        timings[name] = round(best, 3)

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline suite wall time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # Prove the $SPARK_GRAFT_CPUS contract (round-12 verdict: every
        # 8c/32c scaling ratio sat at ~1 and nothing in the recorded JSON
        # could show whether the env var reached the JVM).  These echo the
        # session the timings actually ran on; at sf0.1 the suite is
        # dominated by fixed per-job scheduling cost, so near-1 ratios with
        # correct master/parallelism mean overhead-bound, not mis-wired.
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
    }
    if failures:
        out["failed"] = failures
    print(json.dumps(out))
    if failures:
        sys.exit(1)


if __name__ == "__main__":
    main()
