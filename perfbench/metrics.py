"""Metric catalogue and the Spark-free arithmetic the benchmark reports with.

Every metric the benchmark can print is declared here once, with its unit.
``BENCHMARK.json`` at the repository root must list exactly the same names
(the self-tests check it), so a metric cannot be added on one side only.
"""

from __future__ import annotations

import math
import statistics
from collections.abc import Iterable, Sequence

# Modules that own the keys of the workloads; plan-build time is split
# per module as ``build.wall_s.<module>``.
LAYER_MODULES = (
    "operators.joins",
    "operators.tpch_suite",
    "operators.windows",
    "operators.nested",
    "udf.vectorized",
    "streaming.jobs",
    "sources.ingest",
)

# (name, unit, better, bound): what a user of the engine sees.
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("pass_s", "s", "lower", 0.25),
    ("query_p50_s", "s", "lower", 0.25),
    ("cpu_s", "s", "lower", 0.25),
    ("ok_frac", "frac", "higher", 0.01),
)

# (name, unit, better): single-layer metrics, printed by the traced run.
PER_LAYER = (
    ("session.build_s", "s", "lower"),
    ("session.warmup_s", "s", "lower"),
    ("build.wall_s", "s", "lower"),
    ("build.driver_s", "s", "lower"),
    ("build.jobs", "count", "lower"),
    ("build.job_frac", "frac", "lower"),
    *((f"build.wall_s.{m}", "s", "lower") for m in LAYER_MODULES),
    ("catalyst.analysis_s", "s", "lower"),
    ("catalyst.optimization_s", "s", "lower"),
    ("catalyst.planning_s", "s", "lower"),
    ("sched.jobs", "count", "lower"),
    ("sched.stages", "count", "lower"),
    ("sched.skipped_stages", "count", "lower"),
    ("sched.tasks", "count", "lower"),
    ("sched.tasks_per_stage", "count", "higher"),
    ("sched.delay_s", "s", "lower"),
    ("sched.unattributed_jobs", "count", "lower"),
    ("exec.run_s", "s", "lower"),
    ("exec.cpu_s", "s", "lower"),
    ("exec.gc_s", "s", "lower"),
    ("exec.deserialize_s", "s", "lower"),
    ("exec.core_util", "frac", "higher"),
    ("exec.failed_tasks", "count", "lower"),
    ("scan.bytes", "bytes", "lower"),
    ("scan.rows", "rows", "lower"),
    ("shuffle.write_bytes", "bytes", "lower"),
    ("shuffle.read_bytes", "bytes", "lower"),
    ("shuffle.fetch_wait_s", "s", "lower"),
    ("shuffle.spill_bytes", "bytes", "lower"),
    ("mem.peak_exec_bytes", "bytes", "lower"),
    ("mem.peak_rss_mb", "MB", "lower"),
    ("jvm.jit_cpu_s", "s", "lower"),
    ("udf.python_run_s", "s", "lower"),
    ("udf.python_boot_s", "s", "lower"),
    ("udf.bytes_sent", "bytes", "lower"),
    ("udf.bytes_received", "bytes", "lower"),
    ("udf.rows_received", "rows", "lower"),
    ("udf.worker_cpu_s", "s", "lower"),
    ("sink.files", "count", "lower"),
    ("sink.bytes", "bytes", "lower"),
    ("sink.task_commit_s", "s", "lower"),
    ("sink.job_commit_s", "s", "lower"),
    ("stream.batches", "count", "lower"),
    ("stream.batch_p50_ms", "ms", "lower"),
    ("stream.batch_max_ms", "ms", "lower"),
    ("stream.add_batch_ms", "ms", "lower"),
    ("stream.wal_commit_ms", "ms", "lower"),
    ("stream.state_rows", "rows", "lower"),
    ("stream.state_commit_ms", "ms", "lower"),
    ("trace.pass_s", "s", "lower"),
    ("trace.key_cover_min", "frac", "higher"),
)

# A tail percentile is reported only when at least this many samples lie
# beyond it; below that it is an outlier, not a percentile.
TAIL_BEYOND = 10


def median(values: Iterable[float]) -> float:
    vals = list(values)
    return statistics.median(vals) if vals else 0.0


def tail_percentile(n: int, candidates: Sequence[int] = (50, 75, 90, 95, 99)) -> int | None:
    """Highest candidate percentile with at least ``TAIL_BEYOND`` of ``n``
    samples beyond it, or None if not even the median has that many."""
    best = None
    for p in candidates:
        if n * (100 - p) / 100 >= TAIL_BEYOND:
            best = p
    return best


def percentile(values: Sequence[float], p: float) -> float:
    """Nearest-rank percentile (a value that was actually observed)."""
    vals = sorted(values)
    if not vals:
        return 0.0
    rank = max(1, math.ceil(p / 100 * len(vals)))
    return vals[rank - 1]


def union_length(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(start: float, end: float, children: Iterable[tuple[float, float]]) -> float:
    """A span's duration minus the part of it that its child spans cover."""
    return (end - start) - union_length(children, start, end)


def emit(values: dict[str, float], trace: bool) -> dict[str, dict]:
    """The ``metrics`` object of the printed result line: every declared
    metric of the mode, by name with its unit; a missing or extra value is a
    bug in the benchmark, not a measurement."""
    decl = [(n, u) for n, u, *_ in (PER_LAYER if trace else END_TO_END)]
    names = {n for n, _ in decl}
    if set(values) != names:
        raise ValueError(
            f"metric set mismatch: missing {sorted(names - set(values))}, "
            f"extra {sorted(set(values) - names)}"
        )
    return {n: {"value": float(values[n]), "unit": u} for n, u in decl}
