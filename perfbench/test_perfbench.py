"""Spark-free self-tests of the benchmark's own arithmetic and of BENCHMARK.json.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

import metrics
from tracing import Tracer, attribute, parse_sql_metric, pass_layers
from workloads import WORKLOADS, key_orders

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_tail_percentile_needs_ten_samples_beyond():
    assert metrics.tail_percentile(19) is None
    assert metrics.tail_percentile(20) == 50
    assert metrics.tail_percentile(40) == 75
    assert metrics.tail_percentile(99) == 75
    assert metrics.tail_percentile(100) == 90
    assert metrics.tail_percentile(200) == 95
    assert metrics.tail_percentile(1000) == 99


def test_percentile_is_an_observed_value():
    vals = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert metrics.percentile(vals, 50) == 3.0
    assert metrics.percentile(vals, 90) == 5.0
    assert metrics.percentile(vals, 1) == 1.0
    assert metrics.percentile([], 50) == 0.0


def test_self_time_subtracts_union_of_children():
    # children overlap each other and stick out of the parent
    kids = [(1.0, 3.0), (2.0, 5.0), (8.0, 12.0), (-3.0, -1.0)]
    assert metrics.union_length(kids, 0.0, 10.0) == pytest.approx(6.0)
    assert metrics.self_time(0.0, 10.0, kids) == pytest.approx(4.0)
    assert metrics.self_time(0.0, 10.0, []) == pytest.approx(10.0)
    assert metrics.self_time(0.0, 10.0, [(0.0, 10.0), (2.0, 3.0)]) == pytest.approx(0.0)


# Charsets BENCHMARK.json allows for metric and workload names and for units.
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def test_metric_names_and_units_fit_the_charset():
    e2e = [n for n, *_ in metrics.END_TO_END]
    layer = [n for n, *_ in metrics.PER_LAYER]
    for name in e2e + layer + list(WORKLOADS):
        assert NAME_RE.fullmatch(name), name
    for unit in [u for _, u, *_ in metrics.END_TO_END + metrics.PER_LAYER]:
        assert UNIT_RE.fullmatch(unit), unit
    assert len(set(e2e + layer)) == len(e2e) + len(layer)


def test_bounds_and_setup_metric():
    bounds = {n: b for n, _, _, b in metrics.END_TO_END}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    assert ("setup_s", "s", "lower") == metrics.END_TO_END[0][:3]


def test_benchmark_json_names_what_the_runner_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert bench["paths"] == ["perfbench"]
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert [w["why"] for w in bench["workloads"]] == [w.why for w in WORKLOADS.values()]
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in bench["workloads"])
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]] == list(
        metrics.END_TO_END
    )
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == list(metrics.PER_LAYER)


def test_emit_prints_exactly_the_declared_metrics():
    e2e = {n: 1.0 for n, *_ in metrics.END_TO_END}
    out = metrics.emit(e2e, trace=False)
    assert list(out) == [n for n, *_ in metrics.END_TO_END]
    assert out["setup_s"] == {"value": 1.0, "unit": "s"}
    layer = {n: 0 for n, *_ in metrics.PER_LAYER}
    assert list(metrics.emit(layer, trace=True)) == [n for n, *_ in metrics.PER_LAYER]
    with pytest.raises(ValueError):
        metrics.emit({**e2e, "extra": 1.0}, trace=False)
    with pytest.raises(ValueError):
        metrics.emit(e2e, trace=True)


def test_seed_fixes_the_key_order():
    for wl in WORKLOADS.values():
        a, b = key_orders(wl, 3), key_orders(wl, 3)
        first = [next(a) for _ in range(6)]
        assert first == [next(b) for _ in range(6)]
        assert all(sorted(o) == sorted(wl.keys) for o in first)
        other = key_orders(wl, 4)
        assert first != [next(other) for _ in range(6)]


def test_seed_fixes_the_generated_data(tmp_path):
    sys.path.insert(0, ROOT)
    from host import tree_hash
    from run import generate

    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        generate(0.001, seed, str(tmp_path / name))
    assert tree_hash(str(tmp_path / "a")) == tree_hash(str(tmp_path / "b"))
    assert tree_hash(str(tmp_path / "a")) != tree_hash(str(tmp_path / "c"))


def test_parse_sql_metric_reads_totals_in_base_units():
    agg = "total (min, med, max (stageId: taskId))\n1.5 s (158 ms, 165 ms, 711 ms (stage 1.0: task 2))"
    assert parse_sql_metric(agg) == pytest.approx(1.5)
    assert parse_sql_metric("10 ms") == pytest.approx(0.01)
    assert parse_sql_metric("9.5 MiB") == pytest.approx(9.5 * 2**20)
    assert parse_sql_metric("600,700") == 600700
    assert parse_sql_metric("n/a") == 0.0


def _ts(t: float) -> str:
    from datetime import datetime, timezone

    return datetime.fromtimestamp(t, timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "GMT"


def test_attribution_by_group_time_and_listener():
    t0 = 1_800_000_000.0
    tr = Tracer()
    run = tr.open("run")
    p = tr.open("pass", run, pass_no=0, attrs={"timed": True})
    tr.spans[p].start = t0
    k = tr.open("key", p, key="q_x", pass_no=0, attrs={"group": "p0:q_x", "module": "streaming.jobs", "timed": True})
    b = tr.open("build", k, key="q_x", pass_no=0)
    a = tr.open("action", k, key="q_x", pass_no=0)
    for idx, (s, e) in {k: (t0 + 1, t0 + 5), b: (t0 + 1, t0 + 4), a: (t0 + 4, t0 + 5)}.items():
        tr.spans[idx].start, tr.spans[idx].end = s, e
    tr.spans[p].end = tr.spans[run].end = t0 + 6
    status = {
        "jobs": [
            # tagged job in the build span
            {"jobId": 1, "jobGroup": "p0:q_x", "submissionTime": _ts(t0 + 1.5), "completionTime": _ts(t0 + 2.5), "numSkippedStages": 1},
            # untagged micro-batch job, inside the key span by time
            {"jobId": 2, "submissionTime": _ts(t0 + 3.0), "completionTime": _ts(t0 + 3.5)},
            # untagged job between keys: unattributed
            {"jobId": 3, "submissionTime": _ts(t0 + 5.5), "completionTime": _ts(t0 + 5.6)},
            # setup job before the timed pass: ignored
            {"jobId": 0, "submissionTime": _ts(t0 - 9), "completionTime": _ts(t0 - 8)},
        ],
        "stages": [
            {"status": "COMPLETE", "submissionTime": _ts(t0 + 1.6), "firstTaskLaunchedTime": _ts(t0 + 1.7),
             "numCompleteTasks": 4, "executorRunTime": 2000, "executorCpuTime": 1_500_000_000, "inputBytes": 100},
            {"status": "SKIPPED"},
        ],
        "sql": [
            {"successJobIds": [2], "submissionTime": _ts(t0 + 2.9), "nodes": [
                {"nodeName": "MapInArrow", "metrics": [
                    {"name": "time to run Python workers", "value": "total (min, med, max)\n2.0 s (1 s, 1 s, 1 s)"},
                    {"name": "time to start Python workers", "value": "0 ms"},
                    {"name": "number of output rows", "value": "1,000"}]},
                {"nodeName": "Execute InsertIntoHadoopFsRelationCommand", "metrics": [
                    {"name": "number of written files", "value": "3"},
                    {"name": "written output", "value": "1.0 KiB"}]},
            ]},
        ],
    }
    progress = [{"timestamp": _ts(t0 + 3.0).replace("GMT", "Z"), "durationMs": {"triggerExecution": 400, "addBatch": 300, "walCommit": 20},
                 "stateOperators": [{"numRowsUpdated": 7, "commitTimeMs": 5}]}]
    recs, unattributed = attribute(tr, status, progress)
    assert unattributed == 1
    (r,) = recs
    assert (r["jobs"], r["build_jobs"], r["skipped_stages"]) == (2, 2, 1)
    assert r["build_driver_s"] == pytest.approx(3.0 - 1.0 - 0.5, abs=1e-3)
    assert (r["stages"], r["tasks"], r["exec_run_s"]) == (1, 4, 2.0)
    assert r["delay_s"] == pytest.approx(0.1, abs=1e-3)
    assert (r["udf_run_s"], r["udf_rows"], r["sink_files"], r["sink_bytes"]) == (2.0, 1000, 3, 1024)
    assert (r["stream_batches"], r["state_rows"], r["batch_ms"]) == (1, 7, [400.0])
    assert r["cover"] == pytest.approx(1.0)
    layers = pass_layers(recs, pass_wall=6.0, cores=4)
    assert layers["exec.core_util"] == pytest.approx(2.0 / 24)
    assert layers["build.wall_s.streaming.jobs"] == pytest.approx(3.0)
    assert layers["build.job_frac"] == pytest.approx(1.0)
    assert set(layers) | {
        "session.build_s", "session.warmup_s", "mem.peak_rss_mb", "jvm.jit_cpu_s", "sched.unattributed_jobs",
        "trace.pass_s", "trace.key_cover_min",
    } == {n for n, *_ in metrics.PER_LAYER}


def test_speed_probe_samples_and_stops_its_child():
    from host import SpeedProbe

    probe = SpeedProbe()
    samples = [probe.sample() for _ in range(3)]
    probe.close()
    assert all(s > 0 for s in samples)
    assert probe.echo.returncode == 0
