"""Per-layer tracing from outside the engine.

Nothing here edits the engine.  `LoadSpy` and `stream_capture` swap a
module attribute for the life of a `with` block: `engine.queries.load` (every table
load a query makes) and `DataStreamWriter.start` (to keep the handle of the
streaming query that `engine.streaming` starts and stops).  Spark-side work
comes from the monitoring REST API of the driver UI (SPARK_GRAFT_UI=true) and
from `StreamingQuery.recentProgress`.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime

LOAD_SUFFIX = ":load"


class Spans:
    """Spans kept in memory and written out once, at the end of a run.  Times
    are `time.perf_counter()` values; `write` turns them into epoch seconds."""

    def __init__(self) -> None:
        self.items: list[dict] = []
        self.offset = time.time() - time.perf_counter()

    def perf_time(self, iso: str) -> float:
        """The perf_counter value of an ISO-8601 UTC timestamp."""
        return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() - self.offset

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            **attrs) -> int:
        self.items.append({"id": len(self.items), "parent": parent, "name": name,
                           "start": start, "end": end, **attrs})
        return len(self.items) - 1

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.items:
                f.write(json.dumps({**s, "start": s["start"] + self.offset,
                                    "end": s["end"] + self.offset}) + "\n")


class LoadSpy:
    """Counts and times `engine.tables.load` calls made through
    `engine.queries`, and tags the Spark jobs they launch (parquet schema
    inference) with the job group `<group>:load`."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.group = ""
        self.calls = 0
        self.seconds = 0.0

    def reset(self, group: str) -> None:
        self.group, self.calls, self.seconds = group, 0, 0.0

    @contextmanager
    def installed(self):
        import engine.queries as queries

        orig = queries.load

        def load(*args, **kwargs):
            self.sc.setJobGroup(self.group + LOAD_SUFFIX, "table load")
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                self.seconds += time.perf_counter() - t0
                self.calls += 1
                self.sc.setJobGroup(self.group, self.group)

        queries.load = load
        try:
            yield self
        finally:
            queries.load = orig


@contextmanager
def stream_capture():
    """Collects every StreamingQuery started inside the block."""
    from pyspark.sql.streaming import DataStreamWriter

    started: list = []
    orig = DataStreamWriter.start

    def start(self, *args, **kwargs):
        q = orig(self, *args, **kwargs)
        started.append(q)
        return q

    DataStreamWriter.start = start
    try:
        yield started
    finally:
        DataStreamWriter.start = orig


class SparkRest:
    """Reads jobs and stages of the running application from the driver UI's
    monitoring REST API."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def settle(self) -> None:
        """Waits until the UI's listener has seen every event posted so far."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def jobs(self, keep) -> list[dict]:
        """Jobs whose job group satisfies `keep`."""
        return [j for j in self._get("/jobs") if keep(j.get("jobGroup") or "")]

    def stages(self) -> list[dict]:
        """Every stage attempt that ran; skipped stages excluded."""
        return [s for s in self._get("/stages") if s["status"] != "SKIPPED"]


def spark_layer(rest: SparkRest, keep, is_load, exec_s: float, cores: int) -> dict:
    """Scheduling and execution counters of the jobs whose group satisfies
    `keep`; `is_load` picks out the table-load jobs among them."""
    jobs = rest.jobs(keep)
    load_jobs = [j for j in jobs if is_load(j.get("jobGroup") or "")]
    ran = rest.stages()

    def stages_of(js):
        ids = {i for j in js for i in j["stageIds"]}
        return [s for s in ran if s["stageId"] in ids]

    stages = stages_of(jobs)
    load_ids = {i for j in load_jobs for i in j["stageIds"]}
    exec_run_s = sum(s["executorRunTime"] for s in stages if s["stageId"] not in load_ids) / 1e3
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": sum(s["numTasks"] for s in stages),
        "spark.failed_tasks": sum(s["numFailedTasks"] for s in stages),
        "spark.exec_s": exec_s,
        "spark.task_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
        "spark.task_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "spark.gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
        "spark.idle_core_s": exec_s * cores - exec_run_s,
        "spark.input_rows": sum(s["inputRecords"] for s in stages),
        "spark.shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
        "spark.shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
        "spark.spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages),
        "tables.load_jobs": len(load_jobs),
    }


def with_input(progress: list[dict]) -> list[dict]:
    return [p for p in progress if p["numInputRows"] > 0]


def streaming_layer(progress: list[dict]) -> dict:
    """Micro-batch counters summed over the progress of one or more queries.
    State size is the sum over operators of each query's last batch, so pass
    each query's progress in order."""
    def ms(key: str) -> float:
        return sum(p["durationMs"].get(key, 0) for p in progress) / 1e3

    ops = [op for p in progress for op in p["stateOperators"]]
    last = {p["id"]: p["stateOperators"] for p in progress}  # each query's last batch
    final = [op for query_ops in last.values() for op in query_ops]
    return {
        "streaming.batches": len(with_input(progress)),
        "streaming.input_rows": sum(p["numInputRows"] for p in progress),
        "streaming.output_rows": sum(p["sink"]["numOutputRows"] for p in progress),
        "streaming.trigger_s": ms("triggerExecution"),
        "streaming.add_batch_s": ms("addBatch"),
        "streaming.plan_s": ms("queryPlanning"),
        "streaming.source_s": ms("getBatch") + ms("latestOffset"),
        "streaming.commit_s": ms("walCommit") + ms("commitOffsets"),
        "streaming.state_rows": sum(op["numRowsTotal"] for op in final),
        "streaming.state_bytes": sum(op["memoryUsedBytes"] for op in final),
        "streaming.state_commit_s": sum(op["commitTimeMs"] for op in ops) / 1e3,
        "streaming.late_rows_dropped": sum(op["numRowsDroppedByWatermark"] for op in ops),
        "streaming.dup_rows_dropped": sum(
            op.get("customMetrics", {}).get("numDroppedDuplicateRows", 0) for op in ops),
    }
