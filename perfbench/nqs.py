"""The NQS fact-stream workloads.

Both drive ``streaming.jobs.run_fact_stream``: validate -> broadcast enrich
-> protocol dispatch -> compiled score -> 10 s tumbling window -> idempotent
day-partitioned landing, plus the dead-letter branch.

- ``nqs_live``: open loop.  The generator process drops files of freshly
  stamped events on a fixed schedule into the watched directory while the
  query runs on its real 10 s processing-time trigger.
- ``nqs_replay``: closed loop.  A pre-staged backlog is drained by an
  ``availableNow`` query, again and again on fresh output and checkpoint
  directories (the restart after an outage).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq
from nqs_console_flink_window_spark.functions.score import dispatch_score_rank_sql
from nqs_console_flink_window_spark.operators import parse as P
from nqs_console_flink_window_spark.plans import all as _all_queries  # noqa: F401
from nqs_console_flink_window_spark.plans.registry import REGISTRY
from nqs_console_flink_window_spark.sinks import writers as W
from nqs_console_flink_window_spark.sources import batch as SB
from nqs_console_flink_window_spark.streaming import jobs as J
from pyspark.sql import functions as F

import tracing as T

# The registry's four-protocol dispatch (plans/queries.py), built through the
# public score compiler.
DISPATCH_MAPS = {
    "PING": {"rtt": "value * 12.0", "lost_rate": "value / 500.0"},
    "HTTP": {
        "dns_cost": "value / 5.0",
        "conn_cost": "value",
        "text_cost": "value * 10.0",
        "avg_speed": "value * 2.0",
    },
    "GAME": {"tcp_delay": "value", "rtt": "value - 100.0", "conn_cost": "value"},
    "SPEED": {},
}
DISPATCH_SQL = dispatch_score_rank_sql(J.PROTO_EXPR, DISPATCH_MAPS)
REQUIRED = ["event_type", "user_id"]
FACT_COLS = ["w_start", "protocol", "c_mktsegment", "cnt", "sum_score", "avg_score"]
TRIGGER_S = 10  # run_fact_stream's processing-time trigger
# A live file that lands late adds its lateness to the freshness measured,
# so a run with a file later than this is void.
LATE_BOUND_S = 0.1
SETUP_REPS = 3

SIZES = {
    "full": {
        "customers": 15_000,
        "warm_events": 100_000,  # nqs_live warm-up: one trigger's worth
        "warm_files": 10,
        "seed_events": 10_000,
        "rate": 10_000,  # nqs_live events per second, one file a second
        "backlog_events": 500_000,
        "backlog_files": 10,
    },
    "tiny": {
        "customers": 500,
        "warm_events": 5_000,
        "warm_files": 2,
        "seed_events": 500,
        "rate": 200,
        "backlog_events": 5_000,
        "backlog_files": 2,
    },
}

# Per-layer metrics: name -> (unit, the end-to-end metric it should move).
LAYER_METRICS = {
    "streaming.batch_p50_s": ("s", "freshness_p50_s"),
    "streaming.events_per_s": ("1/s", "freshness_p50_s"),
    **{m: ("ms", "freshness_p50_s") for m in T.PROGRESS_PHASES.values()},
    "streaming.jobs_per_batch": ("count", "freshness_p50_s"),
    "sinks.write_s": ("s", "freshness_p50_s"),
    "sinks.files_written": ("count", "freshness_p50_s"),
    "parse.reject_probe_s": ("s", "freshness_p50_s"),
    "sources.scan_s": ("s", "freshness_p50_s"),
    "parse.validate_s": ("s", "freshness_p50_s"),
    "enrich.join_s": ("s", "freshness_p50_s"),
    "score.dispatch_s": ("s", "freshness_p50_s"),
    "windows.tumbling_agg_s": ("s", "freshness_p50_s"),
    "plans.nqs_fact_pipeline_s": ("s", "freshness_p50_s"),
    "plans.nqs_fact_pipeline.jobs": ("count", "freshness_p50_s"),
    "plans.nqs_fact_pipeline.stages": ("count", "freshness_p50_s"),
    "spark.jobs": ("count", "freshness_p50_s"),
    "spark.stages": ("count", "freshness_p50_s"),
    "spark.tasks": ("count", "freshness_p50_s"),
    "spark.exec_cpu_s": ("s", "freshness_p50_s"),
    "spark.gc_s": ("s", "freshness_p50_s"),
    "spark.spill_bytes": ("bytes", "freshness_p50_s"),
    "spark.shuffle_write_bytes": ("bytes", "freshness_p50_s"),
    "spark.driver_s": ("s", "freshness_p50_s"),
    "gen.late_max_s": ("s", "freshness_p50_s"),
    "trace.span_overhead_s": ("s", "freshness_p50_s"),
    "trace.overhead_s": ("s", "freshness_p50_s"),
}
E2E_UNITS = {"setup_s": "s", "freshness_p50_s": "s", "freshness_p90_s": "s"}


@dataclass
class Ctx:
    """What a workload gets from the runner."""

    spark: object
    seed: int
    seconds: int
    work: str
    size: dict
    progress: T.ProgressLog
    tracer: T.Tracer | None
    event_dir: str | None
    session_s: float


@dataclass
class Op:
    """One timed operation: a live micro-batch or a backlog drain."""

    start: float
    end: float
    rows: int
    batch: T.Progress
    freshness: np.ndarray  # seconds from availability to commit, per event
    traced: bool = True


@dataclass
class Outcome:
    attempted: int
    failed: int
    correct: bool
    metrics: dict[str, float]
    layers: dict[str, float]
    ops: list[Op]


def gen(ctx: Ctx, *args: str) -> subprocess.Popen:
    """Start the generator process (``perfbench/gen.py``)."""
    script = os.path.join(os.path.dirname(os.path.abspath(__file__)), "gen.py")
    return subprocess.Popen(
        [sys.executable, script, *args, "--seed", str(ctx.seed)],
        stdout=subprocess.DEVNULL,
    )


def gen_wait(proc: subprocess.Popen) -> None:
    if proc.wait() != 0:
        raise RuntimeError(f"generator exited with {proc.returncode}")


def stage_backlog(ctx: Ctx, sf: str, events: int, files: int) -> None:
    gen_wait(
        gen(
            ctx, "backlog", "--sf", sf, "--manifest", sf + ".jsonl",
            "--customers", str(ctx.size["customers"]),
            "--events", str(events), "--files", str(files),
        )
    )


def read_manifest(path: str) -> dict[str, dict]:
    with open(path) as f:
        return {r["file"]: r for r in map(json.loads, f)}


def commit_time(cp: str, batch_id: int) -> float:
    return os.path.getmtime(os.path.join(cp, "commits", str(batch_id)))


def committed(cp: str) -> set[int]:
    d = os.path.join(cp, "commits")
    return {int(n) for n in os.listdir(d) if n.isdigit()} if os.path.isdir(d) else set()


def source_files(cp: str) -> dict[str, int]:
    """File name -> id of the batch that read it, from the file source's
    checkpoint log (plain and compacted entries)."""
    out: dict[str, int] = {}
    d = os.path.join(cp, "sources", "0")
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        with open(os.path.join(d, name)) as f:
            for line in f:
                if line.startswith("{"):
                    rec = json.loads(line)
                    out[os.path.basename(rec["path"])] = rec["batchId"]
    return out


def data_files(path: str) -> int:
    n = 0
    for _, _, names in os.walk(path):
        n += sum(1 for x in names if x.endswith(".parquet"))
    return n


def wait_for(pred, timeout: float, poll: float = 0.05):
    deadline = time.time() + timeout
    while time.time() < deadline:
        got = pred()
        if got:
            return got
        time.sleep(poll)
    return pred()


def drain(ctx: Ctx, sf: str, base: str) -> Op:
    """One ``availableNow`` run of the fact stream over ``sf``; the backlog
    is available from the moment the query starts."""
    out, cp = f"{base}/out", f"{base}/cp"
    t0 = time.time()
    J.run_fact_stream(ctx.spark, sf, out, cp, DISPATCH_SQL, available_now=True)
    t1 = time.time()
    batch = wait_for(
        lambda: next((b for b in ctx.progress.snapshot() if t0 <= b.start < t1), None), 10
    )
    if batch is None:
        raise RuntimeError(f"no progress reported for the drain into {base}")
    # Every event of the backlog is available from t0 and lands in one
    # commit.  Each drain reads the same backlog, so one value per drain
    # weighs its events equally with every other drain's.
    fresh = np.array([commit_time(cp, batch.batch_id) - t0])
    return Op(t0, t1, batch.rows, batch, fresh)


def setup_reps(ctx: Ctx, events: int, files: int, name: str) -> list[float]:
    """Stage a backlog with the generator and drain it once, ``SETUP_REPS``
    times over; the drains also warm the JVM up."""
    reps = []
    for i in range(SETUP_REPS):
        t0 = time.perf_counter()
        sf = f"{ctx.work}/{name}{i}"
        stage_backlog(ctx, sf, events, files)
        drain(ctx, sf, f"{ctx.work}/{name}{i}-run")
        reps.append(time.perf_counter() - t0)
    return reps


# ---------------------------------------------------------------------------
# correctness
# ---------------------------------------------------------------------------


def landed(ctx: Ctx, path: str, batches: set[int]):
    df = ctx.spark.read.parquet(path)
    return df.filter(F.col("batch_id").isin(sorted(batches)))


def check_counts(ctx: Ctx, out: str, batches: set[int], valid: int, invalid: int) -> bool:
    """Landed ``SUM(cnt)`` equals the valid events the batches read, and the
    dead-letter rows equal the invalid ones."""
    got = landed(ctx, out, batches).agg(F.sum("cnt")).first()[0] or 0
    rej = landed(ctx, out + "_rejects", batches).count() if invalid else 0
    ok = got == valid and rej == invalid
    if not ok:
        print(f"check: landed {got}/{valid} valid, {rej}/{invalid} rejects", file=sys.stderr)
    return ok


def check_replay(ctx: Ctx, sf: str, base: str, manifest: dict[str, dict]) -> bool:
    """The drained output equals ``fact_transform`` run in batch on the same
    files, and the counts match what the generator wrote."""
    out = f"{base}/out"
    stream = landed(ctx, out, {0}).select(*FACT_COLS)
    batch = J.fact_transform(
        SB.load_table(ctx.spark, sf, "events"),
        SB.load_table(ctx.spark, sf, "customer"),
        DISPATCH_SQL,
    ).select(*FACT_COLS)
    same = stream.exceptAll(batch).count() == 0 and batch.exceptAll(stream).count() == 0
    if not same:
        print("check: streamed facts differ from the batch transform", file=sys.stderr)
    valid = sum(r["valid"] for r in manifest.values())
    invalid = sum(r["invalid"] for r in manifest.values())
    return same and check_counts(ctx, out, {0}, valid, invalid)


# ---------------------------------------------------------------------------
# per-layer metrics (traced runs)
# ---------------------------------------------------------------------------


PLAN_REPS = 3


def noop_seconds(df, reps: int = PLAN_REPS) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def prefix_layers(ctx: Ctx, sf: str) -> dict[str, float]:
    """Seconds each step of the fact pipeline adds, from batch runs of its
    growing prefixes over the workload's input files."""
    spark = ctx.spark
    ev = SB.load_table(spark, sf, "events")
    cust = SB.load_table(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    valid = P.validate(ev, REQUIRED)
    enriched = valid.join(F.broadcast(cust), valid["user_id"] == cust["c_custkey"], "left")
    scored = enriched.withColumn("protocol", F.expr(J.PROTO_EXPR)).withColumn(
        "score", F.expr(DISPATCH_SQL)
    )
    windowed = J.fact_transform(ev, SB.load_table(spark, sf, "customer"), DISPATCH_SQL)
    steps = [
        ("sources.scan_s", ev),
        ("parse.validate_s", valid),
        ("enrich.join_s", enriched),
        ("score.dispatch_s", scored),
        ("windows.tumbling_agg_s", windowed),
    ]
    out, prev = {}, 0.0
    for name, df in steps:
        t = noop_seconds(df)
        out[name] = t - prev
        prev = t
    plan = REGISTRY["nqs_fact_pipeline"].spark(spark, sf)
    t0 = time.time()
    out["plans.nqs_fact_pipeline_s"] = noop_seconds(plan)
    out["_plans_window"] = (t0, time.time())
    return out


def span_layers(ctx: Ctx, ops: list[Op]) -> dict[str, float]:
    """Sink time and the dead-letter probe per batch, from spans."""
    tr = ctx.tracer
    writes, probes = [], []
    for op in ops:
        if not op.traced:
            continue
        lo = op.batch.start
        hi = lo + op.batch.seconds
        w = tr.within("sinks.writers.idempotent_batch_write", lo, hi)
        writes.append(sum(s.end - s.start for s in w))
        for inv in tr.within("operators.parse.invalid", lo, hi):
            nxt = [s.start for s in w if s.start >= inv.end]
            probes.append(min(nxt + [hi]) - inv.end)
    return {
        "sinks.write_s": statistics.median(writes) if writes else 0.0,
        "parse.reject_probe_s": statistics.median(probes) if probes else 0.0,
    }


def engine_layers(ctx: Ctx, ops: list[Op], plans_window) -> dict[str, float]:
    jobs = T.read_event_log(ctx.event_dir)
    layers = T.engine_counters(jobs, [(op.start, op.end) for op in ops])
    batches = [(op.batch.start, op.batch.start + op.batch.seconds) for op in ops]
    per_batch = T.engine_counters(jobs, batches)
    layers["streaming.jobs_per_batch"] = per_batch["spark.jobs"]
    plan_jobs = T.jobs_between(jobs, *plans_window)
    layers["plans.nqs_fact_pipeline.jobs"] = len(plan_jobs) / PLAN_REPS
    layers["plans.nqs_fact_pipeline.stages"] = sum(len(j.stages) for j in plan_jobs) / PLAN_REPS
    return layers


def install_spans(tracer: T.Tracer) -> None:
    """Wrap the package functions the fact stream calls, under the names of
    the modules that define them."""
    tracer.wrap(J, "fact_transform", "streaming.jobs.fact_transform")
    tracer.wrap(J, "read_events_stream", "sources.streams.read_events_stream")
    tracer.wrap(J, "load_table", "sources.batch.load_table")
    tracer.wrap(J, "tumbling_agg", "operators.windows.tumbling_agg")
    tracer.wrap(W, "idempotent_batch_write", "sinks.writers.idempotent_batch_write")
    tracer.wrap(P, "validate", "operators.parse.validate")
    tracer.wrap(P, "invalid", "operators.parse.invalid")


def layer_metrics(ctx: Ctx, ops: list[Op], sf: str, out_dirs: list[tuple[str, int]],
                  late_max: float) -> dict[str, float]:
    layers: dict[str, float] = {
        "streaming.batch_p50_s": statistics.median(op.batch.seconds for op in ops),
        "streaming.events_per_s": statistics.median(
            op.rows / (op.end - op.start) for op in ops
        ),
    }
    for phase, name in T.PROGRESS_PHASES.items():
        layers[name] = statistics.median(op.batch.duration_ms.get(phase, 0) for op in ops)
    layers.update(span_layers(ctx, ops))
    layers["sinks.files_written"] = statistics.median(
        data_files(f"{out}/batch_id={b}") + data_files(f"{out}_rejects/batch_id={b}")
        for out, b in out_dirs
    )
    layers["gen.late_max_s"] = late_max
    layers["trace.span_overhead_s"] = op_p50_s(ops, True) - op_p50_s(ops, False)
    ctx.tracer.recording = False
    prefixes = prefix_layers(ctx, sf)
    plans_window = prefixes.pop("_plans_window")
    layers.update(prefixes)
    layers.update(engine_layers(ctx, ops, plans_window))
    return layers


# ---------------------------------------------------------------------------
# end-to-end metrics
# ---------------------------------------------------------------------------


def e2e(ctx: Ctx, reps: list[float], ops: list[Op]) -> dict[str, float]:
    fresh = np.concatenate([op.freshness for op in ops])
    return {
        "setup_s": ctx.session_s + statistics.median(reps),
        "freshness_p50_s": float(np.percentile(fresh, 50, method="inverted_cdf")),
        "freshness_p90_s": float(np.percentile(fresh, 90, method="inverted_cdf")),
    }


def op_p50_s(ops: list[Op], traced: bool | None = None) -> float:
    """Median seconds of an operation (all, or only the traced/untraced)."""
    times = [op.end - op.start for op in ops if traced is None or op.traced == traced]
    return statistics.median(times) if times else 0.0


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


def nqs_replay(ctx: Ctx) -> Outcome:
    sz = ctx.size
    reps = setup_reps(ctx, sz["backlog_events"], sz["backlog_files"], "backlog")
    sf = f"{ctx.work}/backlog{SETUP_REPS - 1}"
    manifest = read_manifest(sf + ".jsonl")
    ops: list[Op] = []
    failed = 0
    last = ""
    deadline = time.time() + ctx.seconds
    while time.time() < deadline or len(ops) < 3:
        base = f"{ctx.work}/drain{len(ops) + failed}"
        traced = len(ops) % 2 == 0
        if ctx.tracer:
            ctx.tracer.recording = traced
        try:
            op = drain(ctx, sf, base)
        except Exception as e:  # noqa: BLE001 - a failed drain is counted, not fatal
            print(f"drain failed: {type(e).__name__}: {e}", file=sys.stderr)
            shutil.rmtree(base, ignore_errors=True)
            failed += 1
            if failed > 3:
                break
            continue
        op.traced = traced
        if last:
            shutil.rmtree(last, ignore_errors=True)
        last = base
        ops.append(op)
    if not ops:
        raise RuntimeError("every drain failed")
    correct = check_replay(ctx, sf, last, manifest)
    metrics = e2e(ctx, reps, ops)
    layers = {}
    if ctx.tracer:
        layers = layer_metrics(ctx, ops, sf, [(f"{last}/out", 0)], 0.0)
    return Outcome(len(ops) + failed, failed, correct, metrics, layers, ops)


def nqs_live(ctx: Ctx) -> Outcome:
    """The live stream starts on a seed file while set-up runs beside it.
    Then the generator feeds it from the next trigger boundary on, and the
    next ``seconds // 10`` triggers are measured."""
    sz = ctx.size
    sf, out, cp = f"{ctx.work}/live", f"{ctx.work}/live-out", f"{ctx.work}/live-cp"
    # the file source needs one file to read the schema from
    stage_backlog(ctx, sf, sz["seed_events"], 1)
    manifest_path = sf + ".jsonl"
    stop_file = f"{ctx.work}/stop"
    n_batches = max(1, ctx.seconds // TRIGGER_S)
    errors: list[BaseException] = []

    def run() -> None:
        try:
            J.run_fact_stream(ctx.spark, sf, out, cp, DISPATCH_SQL, available_now=False)
        except Exception as e:  # noqa: BLE001 - reported by the main thread
            errors.append(e)

    stream = threading.Thread(target=run, name="nqs-live-stream", daemon=True)
    stream.start()
    feeder = None
    try:
        reps = setup_reps(ctx, sz["warm_events"], sz["warm_files"], "warm")
        # The stream is idle now: its triggers find no new file.  Drops start
        # just after a trigger boundary, so each later trigger reads exactly
        # one interval of files.
        grid = math.ceil((time.time() + 0.5) / TRIGGER_S) * TRIGGER_S
        feeder = gen(
            ctx, "live", "--sf", sf, "--manifest", manifest_path,
            "--customers", str(sz["customers"]), "--rate", str(sz["rate"]),
            "--start", str(grid), "--seconds", str(TRIGGER_S * (n_batches + 6)),
            "--stop-file", stop_file,
        )
        lo, hi = grid + TRIGGER_S - 1, grid + TRIGGER_S * (n_batches + 1) - 1

        def measured() -> list[T.Progress]:
            if errors:
                raise errors[0]
            got = [b for b in ctx.progress.snapshot() if lo <= b.start < hi]
            return got if len(got) >= n_batches else []

        done = threading.Event()

        def toggle() -> None:
            # alternate span recording batch by batch for the overhead estimate
            while not done.is_set():
                k = len([b for b in ctx.progress.snapshot() if b.start >= lo])
                ctx.tracer.recording = k % 2 == 0
                time.sleep(0.05)

        toggler = threading.Thread(target=toggle, daemon=True)
        if ctx.tracer:
            toggler.start()
        batches = wait_for(measured, hi - time.time() + 60, poll=0.1)
        done.set()
        if ctx.tracer:
            toggler.join()
    finally:
        with open(stop_file, "w"):
            pass
        if feeder is not None:
            gen_wait(feeder)
        for q in ctx.spark.streams.active:
            q.stop()
        stream.join(60)
    if errors:
        raise errors[0]
    if not batches:
        raise RuntimeError("live stream did not complete the measured triggers")

    manifest = read_manifest(manifest_path)
    seen = source_files(cp)
    done_ids = committed(cp)
    ops: list[Op] = []
    for i, b in enumerate(sorted(batches, key=lambda b: b.start)[:n_batches]):
        commit = commit_time(cp, b.batch_id)
        stamps = [
            pq.read_table(f"{sf}/events.parquet/{f}", columns=["ts"])["ts"].cast("int64")
            for f, bid in seen.items() if bid == b.batch_id
        ]
        fresh = commit - np.concatenate([s.to_numpy() for s in stamps]) / 1e6
        ops.append(Op(b.start, b.start + b.seconds, b.rows, b, fresh, traced=i % 2 == 0))
    odd = [op.batch.batch_id for op in ops if op.rows != TRIGGER_S * sz["rate"]]
    if odd:
        print(f"batches {odd} did not read {TRIGGER_S} files", file=sys.stderr)
    late = [r["late_s"] for r in manifest.values() if "due" in r and lo - TRIGGER_S <= r["due"] < hi]
    late_max = max(late) if late else 0.0
    void = late_max > LATE_BOUND_S
    if void:
        print(f"run void: generator ran {late_max:.3f} s late (bound {LATE_BOUND_S} s)",
              file=sys.stderr)
    read = {f: bid for f, bid in seen.items() if bid in done_ids}
    valid = sum(manifest[f]["valid"] for f in read)
    invalid = sum(manifest[f]["invalid"] for f in read)
    correct = check_counts(ctx, out, done_ids, valid, invalid) and not void
    metrics = e2e(ctx, reps, ops)
    layers = {}
    if ctx.tracer:
        layers = layer_metrics(ctx, ops, sf, [(out, op.batch.batch_id) for op in ops], late_max)
    return Outcome(len(ops), len(ops) if void else 0, correct, metrics, layers, ops)


WORKLOADS = {"nqs_live": nqs_live, "nqs_replay": nqs_replay}
