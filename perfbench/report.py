#!/usr/bin/env python3
"""Where did a key's time go? Print one key's layer breakdown from a traced run.

    python3 perfbench/run.py --workload curation_ingest --seed 777 --trace 1
    python3 perfbench/report.py --workload curation_ingest --seed 777 --key q_stream_tumbling

Without ``--key`` it lists every key of the run. When the untraced run of the
same workload and seed is also present, the tracing overhead on ``pass_s`` is
printed as well. Values are medians over the run's timed passes.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".perfbench", "out")

# (label, field, unit) grouped by layer, in the order a key's time is spent.
LAYOUT = (
    ("key", (("wall", "wall_s", "s"), ("build", "build_s", "s"), ("action", "action_s", "s"),
             ("build+action cover", "cover", ""))),
    ("plan-build", (("driver-only (no job running)", "build_driver_s", "s"), ("jobs during build", "build_jobs", ""))),
    ("catalyst", (("analysis", "analysis_s", "s"), ("optimization", "optimization_s", "s"),
                  ("planning", "planning_s", "s"))),
    ("scheduler", (("jobs", "jobs", ""), ("stages", "stages", ""), ("skipped stages", "skipped_stages", ""),
                   ("tasks", "tasks", ""), ("first-task delay", "delay_s", "s"))),
    ("executor", (("task run", "exec_run_s", "s"), ("task cpu", "exec_cpu_s", "s"), ("gc", "gc_s", "s"),
                  ("deserialize", "deserialize_s", "s"), ("failed tasks", "failed_tasks", ""))),
    ("scan/shuffle", (("scan bytes", "scan_bytes", "B"), ("scan rows", "scan_rows", ""),
                      ("shuffle write", "shuffle_write", "B"), ("shuffle read", "shuffle_read", "B"),
                      ("fetch wait", "fetch_wait_s", "s"), ("spill", "spill_bytes", "B"),
                      ("peak exec memory", "peak_exec_bytes", "B"))),
    ("python udf", (("worker run", "udf_run_s", "s"), ("worker start", "udf_boot_s", "s"),
                    ("worker cpu", "worker_cpu_s", "s"), ("bytes sent", "udf_sent", "B"),
                    ("bytes received", "udf_received", "B"), ("rows received", "udf_rows", ""))),
    ("sink", (("files", "sink_files", ""), ("bytes", "sink_bytes", "B"),
              ("task commit", "sink_task_commit_s", "s"), ("job commit", "sink_job_commit_s", "s"))),
    ("streaming", (("micro-batches", "stream_batches", ""), ("addBatch", "add_batch_ms", "ms"),
                   ("wal+offset commit", "wal_commit_ms", "ms"), ("state rows updated", "state_rows", ""),
                   ("state commit", "state_commit_ms", "ms"))),
)


def load(workload: str, seed: int, trace: int) -> dict | None:
    path = os.path.join(OUT, f"{workload}-seed{seed}-trace{trace}.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def fmt(v: float, unit: str) -> str:
    if unit == "B":
        return f"{v / (1 << 20):.2f} MiB"
    if unit == "":
        return f"{v:g}" if v != int(v) else f"{int(v)}"
    return f"{v:.3f} {unit}"


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=777)
    p.add_argument("--key")
    args = p.parse_args(argv)
    traced = load(args.workload, args.seed, 1)
    if traced is None:
        print(f"no traced artifact for {args.workload} seed {args.seed} in {OUT}; run "
              f"perfbench/run.py --workload {args.workload} --seed {args.seed} --trace 1", file=sys.stderr)
        return 2
    st = traced["stamp"]
    print(f"{args.workload} seed {st['seed']} on {st['master']}, heap {st['driver_heap']}, "
          f"Spark {st['spark']}, commit {st['git_commit'] or st['engine_md5']}")
    untraced = load(args.workload, args.seed, 0)
    traced_pass = traced["per_layer"]["trace.pass_s"]
    if untraced is not None:
        base = untraced["end_to_end"]["pass_s"]
        print(f"pass_s untraced {base:.3f} s, traced {traced_pass:.3f} s, "
              f"tracing overhead {traced_pass / base - 1:+.1%}")
    keys = traced["per_key"]
    if args.key is None:
        print(f"{'key':28} {'wall_s':>8} {'build_s':>8} {'action_s':>8} {'jobs':>5} {'in build':>8}")
        for k, r in sorted(keys.items(), key=lambda kv: -kv[1]["wall_s"]):
            print(f"{k:28} {r['wall_s']:8.3f} {r['build_s']:8.3f} {r['action_s']:8.3f} "
                  f"{int(r['jobs']):5d} {int(r['build_jobs']):8d}")
        return 0
    if args.key not in keys:
        print(f"{args.key} is not a key of {args.workload}: {sorted(keys)}", file=sys.stderr)
        return 2
    r = keys[args.key]
    print(f"{args.key}: median of {r['executions']} timed executions")
    for layer, rows in LAYOUT:
        print(f"  {layer}")
        for label, field, unit in rows:
            print(f"    {label:30} {fmt(r[field], unit)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
