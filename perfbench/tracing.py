"""Spans and per-layer attribution, all from outside the engine.

The runner records ``run -> pass -> key -> {build, action}`` spans around its
calls into the engine. In a traced run it also reads, after the timed passes,
Spark's status REST API (jobs, stages, SQL node metrics) and the micro-batch
progress a ``StreamingQueryListener`` collected, and attributes each job,
stage, SQL execution and batch to the key span it ran in:

- jobs by the job group the runner sets around each key, and otherwise by
  their submission time falling inside the key's span (micro-batch jobs run
  on the stream execution thread, which the thread-local group misses);
- stages and batches by submission time;
- SQL executions through their job ids, else by submission time.
"""

from __future__ import annotations

import json
import re
import threading
import time
import urllib.request
from collections import defaultdict
from dataclasses import asdict, dataclass, field
from datetime import datetime, timezone

from metrics import LAYER_MODULES, median, percentile, self_time


@dataclass
class Span:
    name: str  # run | pass | key | build | action
    start: float  # epoch seconds
    end: float = 0.0
    parent: int | None = None
    key: str | None = None
    pass_no: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span store; written out once, at the end of the run."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    def open(self, name: str, parent: int | None = None, **kw) -> int:
        self.spans.append(Span(name, time.time(), parent=parent, **kw))
        return len(self.spans) - 1

    def close(self, idx: int) -> Span:
        span = self.spans[idx]
        span.end = time.time()
        return span

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **asdict(s)}) + "\n")


# -- Spark status REST API ---------------------------------------------------

_VALUE_RE = re.compile(r"^(-?[\d.,]+)\s*([A-Za-z]*)$")
_SCALE = {
    "": 1, "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "ms": 1e-3, "s": 1, "m": 60, "h": 3600,
}


def parse_sql_metric(text: str) -> float:
    """A SQL-tab metric string as a number in base units (s, bytes, count).
    Task-aggregated metrics read ``total (min, med, max ...)\\n<total> (...)``;
    the total is taken."""
    if "\n" in text:
        text = text.split("\n", 1)[1].split(" (", 1)[0]
    m = _VALUE_RE.match(text.strip())
    if not m or m.group(2) not in _SCALE:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SCALE[m.group(2)]


def parse_ts(text: str | None) -> float | None:
    """REST (``...GMT``) or streaming-progress (``...Z``) timestamp to epoch."""
    if not text:
        return None
    text = text.replace("GMT", "").replace("Z", "")
    return datetime.strptime(text, "%Y-%m-%dT%H:%M:%S.%f").replace(tzinfo=timezone.utc).timestamp()


class StatusApi:
    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=60) as r:
            return json.load(r)

    def snapshot(self) -> dict:
        return {
            "jobs": self.get("jobs"),
            "stages": self.get("stages"),
            "sql": self.get("sql?details=true&planDescription=false&offset=0&length=1000000"),
        }


def make_stream_listener():
    """A ``StreamingQueryListener`` that keeps every progress report."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress: list[dict] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            with self._lock:
                self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return ProgressLog()


def catalyst_phases(df) -> dict[str, float]:
    """Analysis/optimization/planning seconds from the DataFrame's own
    planning tracker (planning is forced here; the action planned a copy)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = opt.get().durationMs() / 1000 if opt.isDefined() else 0.0
    return out


# -- attribution -------------------------------------------------------------

_PY_RUN = "time to run Python workers"
# Spark 4.1.2's "time to initialize Python workers" includes the idle wait
# of a reused worker between tasks, so only worker start-up time is read.
_PY_BOOT = "time to start Python workers"
_SINK = {
    "number of written files": "sink_files",
    "written output": "sink_bytes",
    "task commit time": "sink_task_commit_s",
    "job commit time": "sink_job_commit_s",
}

KEY_FIELDS = (
    "wall_s", "build_s", "action_s", "cover", "build_jobs", "build_driver_s", "jobs",
    "stages", "skipped_stages", "tasks", "delay_s", "failed_tasks", "exec_run_s", "exec_cpu_s",
    "gc_s", "deserialize_s", "scan_bytes", "scan_rows", "shuffle_write", "shuffle_read",
    "fetch_wait_s", "spill_bytes", "peak_exec_bytes", "udf_run_s", "udf_boot_s", "udf_sent",
    "udf_received", "udf_rows", "sink_files", "sink_bytes", "sink_task_commit_s",
    "sink_job_commit_s", "stream_batches", "add_batch_ms", "wal_commit_ms", "state_rows",
    "state_commit_ms", "analysis_s", "optimization_s", "planning_s", "worker_cpu_s",
)


def attribute(tracer: Tracer, status: dict, progress: list[dict]) -> tuple[list[dict], int]:
    """One record per timed key execution, plus the count of jobs submitted
    inside a timed pass that no key span claims."""
    keys = [(i, s) for i, s in enumerate(tracer.spans) if s.name == "key" and s.attrs.get("timed")]
    recs = {}
    for i, s in keys:
        kids = {c.name: c for c in tracer.children(i)}
        build, action = kids.get("build"), kids.get("action")
        r = dict.fromkeys(KEY_FIELDS, 0.0)
        r.update(pass_no=s.pass_no, key=s.key, module=s.attrs["module"], batch_ms=[])
        r["wall_s"] = s.dur
        r["build_s"] = build.dur if build else 0.0
        r["action_s"] = action.dur if action else 0.0
        r["cover"] = (r["build_s"] + r["action_s"]) / s.dur if s.dur > 0 else 1.0
        r.update({f"{k}_s": v for k, v in s.attrs.get("catalyst", {}).items()})
        r["worker_cpu_s"] = s.attrs.get("worker_cpu_s", 0.0)
        r["_build"] = build
        recs[i] = r
    groups = {s.attrs["group"]: i for i, s in keys}

    def by_time(t: float | None) -> int | None:
        if t is None:
            return None
        for i, s in keys:
            if s.start <= t <= s.end:
                return i
        return None

    passes = [s for s in tracer.spans if s.name == "pass" and s.attrs.get("timed")]
    job_key, unattributed = {}, 0
    job_iv: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for job in status["jobs"]:
        t0, t1 = parse_ts(job.get("submissionTime")), parse_ts(job.get("completionTime"))
        i = groups.get(job.get("jobGroup"))
        if i is None:
            i = by_time(t0)
        if i is None:
            if t0 is not None and any(p.start <= t0 <= p.end for p in passes):
                unattributed += 1
            continue
        job_key[job["jobId"]] = i
        r = recs[i]
        r["jobs"] += 1
        r["skipped_stages"] += job.get("numSkippedStages", 0)
        b = r["_build"]
        if b is not None and t0 is not None and b.start <= t0 <= b.end:
            r["build_jobs"] += 1
        if t0 is not None:
            job_iv[i].append((t0, t1 if t1 is not None else t0))

    for st in status["stages"]:
        if st.get("status") == "SKIPPED":
            continue
        t0 = parse_ts(st.get("submissionTime"))
        i = by_time(t0)
        if i is None:
            continue
        r = recs[i]
        r["stages"] += 1
        r["tasks"] += st.get("numCompleteTasks", 0)
        r["failed_tasks"] += st.get("numFailedTasks", 0)
        t_first = parse_ts(st.get("firstTaskLaunchedTime"))
        if t_first is not None and t0 is not None:
            r["delay_s"] += max(0.0, t_first - t0)
        r["exec_run_s"] += st.get("executorRunTime", 0) / 1e3
        r["exec_cpu_s"] += st.get("executorCpuTime", 0) / 1e9
        r["gc_s"] += st.get("jvmGcTime", 0) / 1e3
        r["deserialize_s"] += st.get("executorDeserializeTime", 0) / 1e3
        r["scan_bytes"] += st.get("inputBytes", 0)
        r["scan_rows"] += st.get("inputRecords", 0)
        r["shuffle_write"] += st.get("shuffleWriteBytes", 0)
        r["shuffle_read"] += st.get("shuffleReadBytes", 0)
        r["fetch_wait_s"] += st.get("shuffleFetchWaitTime", 0) / 1e3
        r["spill_bytes"] += st.get("diskBytesSpilled", 0)
        r["peak_exec_bytes"] = max(r["peak_exec_bytes"], st.get("peakExecutionMemory", 0))

    for ex in status["sql"]:
        ids = ex.get("successJobIds", []) + ex.get("failedJobIds", []) + ex.get("runningJobIds", [])
        i = next((job_key[j] for j in ids if j in job_key), None)
        if i is None:
            i = by_time(parse_ts(ex.get("submissionTime")))
        if i is None:
            continue
        r = recs[i]
        for node in ex.get("nodes", []):
            m = {x["name"]: parse_sql_metric(x["value"]) for x in node.get("metrics", [])}
            if _PY_RUN in m:
                r["udf_run_s"] += m[_PY_RUN]
                r["udf_boot_s"] += m.get(_PY_BOOT, 0.0)
                r["udf_sent"] += m.get("data sent to Python workers", 0.0)
                r["udf_received"] += m.get("data returned from Python workers", 0.0)
                r["udf_rows"] += m.get("number of output rows", 0.0)
            for name, fld in _SINK.items():
                r[fld] += m.get(name, 0.0)

    for p in progress:
        i = by_time(parse_ts(p.get("timestamp")))
        if i is None:
            continue
        r = recs[i]
        d = p.get("durationMs", {})
        r["stream_batches"] += 1
        r["batch_ms"].append(float(d.get("triggerExecution", 0)))
        r["add_batch_ms"] += d.get("addBatch", 0)
        r["wal_commit_ms"] += d.get("walCommit", 0) + d.get("commitOffsets", 0)
        for op in p.get("stateOperators", []):
            r["state_rows"] += op.get("numRowsUpdated", 0)
            r["state_commit_ms"] += op.get("commitTimeMs", 0)

    for i, r in recs.items():
        b = r.pop("_build")
        if b is not None:
            r["build_driver_s"] = self_time(b.start, b.end, job_iv[i])
    return list(recs.values()), unattributed


def pass_layers(recs: list[dict], pass_wall: float, cores: int) -> dict[str, float]:
    """Per-layer metrics of one pass from its key records."""
    tot = defaultdict(float)
    for r in recs:
        for k in KEY_FIELDS:
            tot[k] += r[k]
    batches = [ms for r in recs for ms in r["batch_ms"]]
    out = {
        "build.wall_s": tot["build_s"],
        "build.driver_s": tot["build_driver_s"],
        "build.jobs": tot["build_jobs"],
        "build.job_frac": tot["build_jobs"] / tot["jobs"] if tot["jobs"] else 0.0,
        "catalyst.analysis_s": tot["analysis_s"],
        "catalyst.optimization_s": tot["optimization_s"],
        "catalyst.planning_s": tot["planning_s"],
        "sched.jobs": tot["jobs"],
        "sched.stages": tot["stages"],
        "sched.skipped_stages": tot["skipped_stages"],
        "sched.tasks": tot["tasks"],
        "sched.tasks_per_stage": tot["tasks"] / tot["stages"] if tot["stages"] else 0.0,
        "sched.delay_s": tot["delay_s"],
        "exec.run_s": tot["exec_run_s"],
        "exec.cpu_s": tot["exec_cpu_s"],
        "exec.gc_s": tot["gc_s"],
        "exec.deserialize_s": tot["deserialize_s"],
        "exec.core_util": tot["exec_run_s"] / (cores * pass_wall) if pass_wall > 0 else 0.0,
        "exec.failed_tasks": tot["failed_tasks"],
        "scan.bytes": tot["scan_bytes"],
        "scan.rows": tot["scan_rows"],
        "shuffle.write_bytes": tot["shuffle_write"],
        "shuffle.read_bytes": tot["shuffle_read"],
        "shuffle.fetch_wait_s": tot["fetch_wait_s"],
        "shuffle.spill_bytes": tot["spill_bytes"],
        "mem.peak_exec_bytes": max((r["peak_exec_bytes"] for r in recs), default=0.0),
        "udf.python_run_s": tot["udf_run_s"],
        "udf.python_boot_s": tot["udf_boot_s"],
        "udf.bytes_sent": tot["udf_sent"],
        "udf.bytes_received": tot["udf_received"],
        "udf.rows_received": tot["udf_rows"],
        "udf.worker_cpu_s": tot["worker_cpu_s"],
        "sink.files": tot["sink_files"],
        "sink.bytes": tot["sink_bytes"],
        "sink.task_commit_s": tot["sink_task_commit_s"],
        "sink.job_commit_s": tot["sink_job_commit_s"],
        "stream.batches": tot["stream_batches"],
        "stream.batch_p50_ms": percentile(batches, 50),
        "stream.batch_max_ms": max(batches, default=0.0),
        "stream.add_batch_ms": tot["add_batch_ms"],
        "stream.wal_commit_ms": tot["wal_commit_ms"],
        "stream.state_rows": tot["state_rows"],
        "stream.state_commit_ms": tot["state_commit_ms"],
    }
    for m in LAYER_MODULES:
        out[f"build.wall_s.{m}"] = sum(r["build_s"] for r in recs if r["module"] == m)
    return out


def per_key(recs: list[dict]) -> dict[str, dict[str, float]]:
    """Each key's layer fields, median over its timed executions."""
    by_key = defaultdict(list)
    for r in recs:
        by_key[r["key"]].append(r)
    return {
        k: {f: median(r[f] for r in rs) for f in KEY_FIELDS} | {"executions": len(rs)}
        for k, rs in sorted(by_key.items())
    }
