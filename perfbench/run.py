"""Benchmark of the engine, one workload per invocation.

Run from the repository root:

    python3 perfbench/run.py --workload driver_sf0.001 --seed 1 --seconds 10 --trace 0

The last line on stdout is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with --trace 0,
the per-layer metrics with --trace 1.  The line before it holds the detail
behind them: sample counts, every pass, the exact counts, the checks that
failed and the host record.  README.md explains the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import sys
import time
from dataclasses import dataclass, field
from functools import partial

import summary
from inputs import make_stream, make_tables
from oracle import check_queries, check_stream
from tracing import (LOAD_SUFFIX, LoadSpy, SparkRest, Spans, spark_layer, stream_capture,
                     streaming_layer, with_input)

SETUPS = 3        # session builds per run; setup_s is their median
WARMUP = 1        # untimed warm passes, past the steepest JIT warm-up
RUN_CAP_S = 140   # no pass starts once the run is this old, to end within 180 s
WORK_DIR = ".perfbench"  # under the working directory; git ignores it

# Counts that must repeat exactly from one traced pass to the next.
EXACT = ("tables.load_calls", "tables.load_jobs", "spark.jobs", "spark.stages",
         "spark.tasks", "spark.input_rows", "streaming.batches", "streaming.input_rows",
         "streaming.late_rows_dropped", "streaming.dup_rows_dropped")

PER_LAYER = (
    "session.build_s",
    "tables.load_calls", "tables.load_s", "tables.load_jobs",
    "queries.build_s",
    "spark.plan_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks", "spark.idle_core_s",
    "spark.exec_s", "spark.task_run_s", "spark.task_cpu_s", "spark.gc_s", "spark.input_rows",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
    "streaming.batches", "streaming.input_rows", "streaming.output_rows", "streaming.trigger_s",
    "streaming.add_batch_s", "streaming.plan_s", "streaming.source_s", "streaming.commit_s",
    "streaming.state_rows", "streaming.state_bytes", "streaming.state_commit_s",
    "streaming.late_rows_dropped", "streaming.dup_rows_dropped",
    "trace.pass_s", "trace.overhead_s", "trace.other_s",
)


def unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    return "bytes" if name.endswith("_bytes") else "count"


@dataclass
class Pass:
    wall: float
    ops: list[float]            # latency of each operation that succeeded
    attempted: int
    errors: list[str] = field(default_factory=list)
    layer: dict | None = None   # per-layer values when the pass was traced


class Tracer:
    """Per-run tracing state: the REST reader, the load spy and the spans."""

    def __init__(self, spark, cores: int) -> None:
        self.sc = spark.sparkContext
        self.cores = cores
        self.rest = SparkRest(self.sc)
        self.load = LoadSpy(self.sc)
        self.spans = Spans()


class Batch:
    """Every engine query, in a seeded order per pass, each to the noop sink
    (every column of every row computed, nothing written)."""

    def __init__(self, sf: float, heap: str, timed: int = 2) -> None:
        self.sf, self.heap, self.timed = sf, heap, timed

    def prepare(self, work: str, seed: int) -> str:
        self.data = os.path.join(work, "data")
        make_tables(self.data, seed, self.sf)
        self.rng = random.Random(seed)
        return self.data

    def run_pass(self, spark, n: int, tr: Tracer | None) -> Pass:
        from engine.queries import QUERIES

        names = sorted(QUERIES)
        self.rng.shuffle(names)
        p = Pass(0.0, [], len(names))
        layers = []
        start = time.perf_counter()
        span = tr.spans.add("pass", start, 0.0, n=n) if tr else None
        for name in names:
            t0 = time.perf_counter()
            try:
                if tr:
                    layers.append(self._traced_query(spark, QUERIES[name], name, n, tr, span))
                else:
                    QUERIES[name].fn(spark, self.data).write.format("noop").mode("overwrite").save()
            except Exception as e:  # counted as a failed operation
                p.errors.append(f"pass {n} {name}: {type(e).__name__}: {e}")
                continue
            p.ops.append(time.perf_counter() - t0)
        p.wall = time.perf_counter() - start
        if tr:
            tr.spans.items[span]["end"] = start + p.wall
            tr.sc.setLocalProperty("spark.jobGroup.id", None)
            tr.rest.settle()
            prefix = f"pb{n}:"
            exec_s = sum(x["exec_s"] for x in layers)
            p.layer = spark_layer(tr.rest, lambda g: g.startswith(prefix),
                                  lambda g: g.endswith(LOAD_SUFFIX), exec_s, tr.cores)
            for key in ("tables.load_calls", "tables.load_s", "queries.build_s", "spark.plan_s"):
                p.layer[key] = sum(x[key] for x in layers)
            p.layer["trace.other_s"] = p.wall - sum(p.layer[k] for k in (
                "tables.load_s", "queries.build_s", "spark.plan_s", "spark.exec_s"))
        return p

    def _traced_query(self, spark, q, name: str, n: int, tr: Tracer, parent: int) -> dict:
        group = f"pb{n}:{name}"
        tr.sc.setJobGroup(group, group)
        tr.load.reset(group)
        t0 = time.perf_counter()
        with tr.load.installed():
            df = q.fn(spark, self.data)
        t1 = time.perf_counter()
        # Forces physical planning; the save below plans again, so this
        # second planning is tracing overhead.
        df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        qs = tr.spans.add("query", t0, t3, parent, query=name, load_calls=tr.load.calls,
                          load_s=tr.load.seconds)
        tr.spans.add("build", t0, t1, qs)
        tr.spans.add("plan", t1, t2, qs)
        tr.spans.add("exec", t2, t3, qs)
        return {"tables.load_calls": tr.load.calls, "tables.load_s": tr.load.seconds,
                "queries.build_s": (t1 - t0) - tr.load.seconds, "spark.plan_s": t2 - t1,
                "exec_s": t3 - t2}

    def verify(self, spark) -> tuple[int, list[str]]:
        return check_queries(spark, self.data, spark.sparkContext.defaultParallelism)


class StreamReplay:
    """A closed-loop replay of a seeded event stream through windowed_counts
    (complete mode) and stream_dedup (append mode), each drained to a memory
    sink by engine.streaming."""

    def __init__(self, events: int, files: int, dups: int, late: int, heap: str,
                 timed: int = 2) -> None:
        self.events, self.files, self.dups, self.late = events, files, dups, late
        self.heap, self.timed = heap, timed
        self.tables: list[str] = []

    def prepare(self, work: str, seed: int) -> str:
        self.stream = make_stream(os.path.join(work, "stream"), seed, self.events,
                                  self.files, self.dups, self.late)
        return self.stream.dir

    def run_pass(self, spark, n: int, tr: Tracer | None) -> Pass:
        from engine import streaming

        src = self.stream.dir
        drains = (
            ("windowed_counts", lambda: streaming.run_aggregation_to_memory(
                streaming.windowed_counts(streaming.read_event_stream(spark, src)))),
            ("stream_dedup", lambda: streaming.run_to_memory(
                streaming.stream_dedup(streaming.read_event_stream(spark, src)))),
        )
        p = Pass(0.0, [], len(drains))
        tables, progress, run_ids = [], [], set()
        start = time.perf_counter()
        span = tr.spans.add("pass", start, 0.0, n=n) if tr else None
        for name, drain in drains:
            with stream_capture() as started:
                t0 = time.perf_counter()
                try:
                    tables.append(drain())
                except Exception as e:  # counted as a failed operation
                    p.errors.append(f"pass {n} {name}: {type(e).__name__}: {e}")
                t1 = time.perf_counter()
            prog = [pr for q in started for pr in q.recentProgress]
            run_ids.update(str(q.runId) for q in started)
            progress.append(prog)
            rows = sum(pr["numInputRows"] for pr in prog)
            if len(tables) == len(progress) and rows != self.stream.rows:
                p.errors.append(f"pass {n} {name}: read {rows} rows of {self.stream.rows}")
            if tr:
                ds = tr.spans.add("drain", t0, t1, span, query=name)
                for pr in prog:
                    b0 = tr.spans.perf_time(pr["timestamp"])
                    tr.spans.add("microbatch", b0, b0 + pr["durationMs"]["triggerExecution"] / 1e3,
                                 ds, batch=pr["batchId"], duration_ms=pr["durationMs"],
                                 input_rows=pr["numInputRows"])
        p.wall = time.perf_counter() - start
        p.ops = [pr["durationMs"]["triggerExecution"] / 1e3
                 for prog in progress for pr in with_input(prog)]
        for old in self.tables:
            spark.catalog.dropTempView(old)
        self.tables = tables
        self.dedup_progress = progress[-1]
        if tr:
            tr.spans.items[span]["end"] = start + p.wall
            tr.rest.settle()
            p.layer = spark_layer(tr.rest, lambda g: g in run_ids, lambda g: False,
                                  p.wall, tr.cores)
            p.layer.update(streaming_layer([pr for prog in progress for pr in prog]))
            p.layer["trace.other_s"] = p.wall - p.layer["streaming.trigger_s"]
        return p

    def verify(self, spark) -> tuple[int, list[str]]:
        if len(self.tables) != 2:
            return 1, ["no complete replay to check"]
        return check_stream(spark, self.stream, *self.tables, self.dedup_progress)


WORKLOADS = {
    # 17 queries on tables of a few KB: a pass is driver, planning and
    # scheduling cost, so data-path changes should not move it.
    "driver_sf0.001": partial(Batch, sf=0.001, heap="2g"),
    # The same queries on 100x the rows, where execution dominates.  Kept for
    # runs by hand: a run takes about 100 s on 4 vCPUs, too long to list in
    # BENCHMARK.json beside the two one-minute workloads.
    "olap_sf0.1": partial(Batch, sf=0.1, heap="6g"),
    # 5,000 events in 16 files, 4 micro-batches per operator, with 200
    # re-emitted duplicates and 50 rows behind the watermark.  Its passes
    # take half as long as the batch workload's, so a run makes four timed
    # passes instead of two.  The host's speed changes from one ten-second
    # stretch to the next, and more timed passes average over more of them.
    "stream_replay": partial(StreamReplay, events=5_000, files=16, dups=200, late=50,
                             heap="2g", timed=4),
}


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def launch(cores: int, data_dir: str, app: str):
    from engine.session import build_session

    t0 = time.perf_counter()
    spark = build_session(cores, sf_dir=data_dir, app_name=app)
    return spark, time.perf_counter() - t0


def stop(spark) -> None:
    """Stops the session and its JVM, and waits for the JVM to exit, so the
    next build starts a JVM from scratch."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def measure(wl, spark, args, tracer: Tracer | None, t_run: float):
    """The cold pass, the untimed warm-up passes, then warm passes for
    `args.seconds`, at least `wl.timed` of them.  A traced run alternates
    traced and plain warm passes, starting and ending with a traced one, so
    tracing overhead is measured in one JVM with linear JIT drift
    cancelled."""
    first = wl.run_pass(spark, 0, tracer)
    warmup = [wl.run_pass(spark, n, None) for n in range(1, 1 + WARMUP)]
    warm: list[tuple[Pass, bool]] = []
    min_warm = 3 if tracer else wl.timed
    t0 = time.perf_counter()
    while True:
        traced = tracer is not None and len(warm) % 2 == 0
        n = 1 + len(warmup) + len(warm)
        warm.append((wl.run_pass(spark, n, tracer if traced else None), traced))
        now = time.perf_counter()
        typical = statistics.median([p.wall for p, _ in warm])
        if len(warm) >= min_warm and warm[-1][1] == (tracer is not None) and (
                now - t0 + typical > args.seconds or now - t_run + typical > RUN_CAP_S):
            return first, warmup, warm


def end_to_end(setups, first: Pass, warm: list[Pass]) -> tuple[dict, dict]:
    """The gated metrics, and the per-operation latencies with every sample
    count for the detail line."""
    ops = [x for p in warm for x in p.ops]
    metrics = {
        "setup_s": statistics.median(setups),
        "first_pass_s": first.wall,
        "pass_s": statistics.median([p.wall for p in warm]),
    }
    detail = {"samples": {"setup_s": len(setups), "first_pass_s": 1, "pass_s": len(warm),
                          "op_s": len(ops)},
              "op_p50_s": statistics.median(ops),
              "op_p90_s": summary.percentile(ops, 0.9)}
    return metrics, detail


def per_layer(setups, first: Pass, warm: list[tuple[Pass, bool]]) -> tuple[dict, list[str]]:
    """Medians over the traced warm passes, plus the exact-count check over
    every traced pass."""
    traced = [p for p, t in warm if t]
    plain = [p for p, t in warm if not t]
    metrics = {k: statistics.median([p.layer.get(k, 0) for p in traced]) for k in PER_LAYER}
    metrics["session.build_s"] = statistics.median(setups)
    metrics["trace.pass_s"] = statistics.median([p.wall for p in traced])
    metrics["trace.overhead_s"] = (metrics["trace.pass_s"]
                                   - statistics.median([p.wall for p in plain]))
    errors = []
    for key in EXACT:
        seen = {p.layer.get(key) for p in [first, *traced]}
        if len(seen) > 1:
            errors.append(f"{key} differs between traced passes: {sorted(seen)}")
    return metrics, errors


def run(args, work: str) -> tuple[dict, dict]:
    wl = WORKLOADS[args.workload]()
    t_run = time.perf_counter()
    cpu0, load0 = cpu_times(), os.getloadavg()
    cores = len(os.sched_getaffinity(0))
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.update({
        "SPARK_GRAFT_DRIVER_MEM": wl.heap,
        "SPARK_GRAFT_UI": "true" if args.trace else "false",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_SUBMIT_ARGS":
            f"--driver-java-options -Djava.io.tmpdir={work}/tmp pyspark-shell",
    })
    marks = [("start", t_run)]

    def mark(phase: str) -> None:
        marks.append((phase, time.perf_counter()))

    data_dir = wl.prepare(work, args.seed)
    mark("inputs")
    setups, spark = [], None
    try:
        for i in range(SETUPS):
            if spark is not None:
                stop(spark)
            spark, dt = launch(cores, data_dir, f"perfbench-{args.workload}")
            setups.append(dt)
        mark("setups")
        tracer = Tracer(spark, cores) if args.trace else None
        first, warmup, warm = measure(wl, spark, args, tracer, t_run)
        mark("passes")
        checks, check_errors = wl.verify(spark)
        mark("checks")
    finally:
        if spark is not None:
            stop(spark)
    mark("stop")

    passes = [first, *warmup] + [p for p, _ in warm]
    failures = [e for p in passes for e in p.errors] + check_errors
    attempted = sum(p.attempted for p in passes) + checks
    if args.trace:
        metrics, count_errors = per_layer(setups, first, warm)
        spans_dir = os.path.join(os.path.dirname(work), "spans")
        os.makedirs(spans_dir, exist_ok=True)
        spans_path = os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.jsonl")
        tracer.spans.write(spans_path)
        detail = {"spans": spans_path}
    else:
        metrics, detail = end_to_end(setups, first, [p for p, _ in warm])
        count_errors = []
    cpu1 = cpu_times()
    delta = [b - a for a, b in zip(cpu0, cpu1)]
    detail.update({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "failed_frac": len(failures) / attempted,
        "errors": failures + count_errors,
        "setups_s": setups,
        "passes": [{"wall_s": p.wall, "ops": len(p.ops), "traced": p.layer is not None,
                    "kind": kind,
                    **({k: p.layer[k] for k in EXACT if k in p.layer} if p.layer else {})}
                   for kind, group in (("cold", [first]), ("warmup", warmup),
                                       ("warm", [p for p, _ in warm]))
                   for p in group],
        "host": {
            "nproc": os.cpu_count(), "spark_cores": cores, "driver_heap": wl.heap,
            "steal_share": delta[7] / max(1, sum(delta)),
            "loadavg_start": load0, "loadavg_end": os.getloadavg(),
            "run_s": time.perf_counter() - t_run,
            "phases_s": {b[0]: b[1] - a[1] for a, b in zip(marks, marks[1:])},
            "env": {k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT_")},
        },
    })
    line = {
        "correct": not failures and not count_errors,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()},
    }
    return detail, line


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # A SIGTERM unwinds like an exception, so the JVM is still stopped.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "engine", "queries.py")):
        print("perfbench: engine/ not found; run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, WORK_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        detail, line = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
