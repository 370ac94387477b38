#!/usr/bin/env python3
"""Layered benchmark of the engine on the host it runs on.

    python3 perfbench/run.py --workload curation_ingest --seed 777 --seconds 10 --trace 0

One invocation:

1. generates the workload's fixture with ``tools/gen_sf.gen`` seeded by
   ``--seed`` (untimed);
2. sets up: builds the session with ``session.get_spark`` on ``local[nproc]``
   with a driver heap derived from host RAM, then runs three warm-up passes.
   The first is also the oracle gate: each key's result is collected and
   hashed with ``tools/parity_sweep.canon_hash`` against its ``all_oracles()``
   DuckDB SQL (hashing and DuckDB time are not part of set-up);
3. times passes over the keys through the noop sink, each in a seeded
   shuffled order, until ``--seconds`` have elapsed (at least three).
   Between passes, outside every span, a speed probe samples how fast the
   host runs; end-to-end times are corrected for steal and host speed
   (``Runner.results``);
4. prints one JSON line: end-to-end metrics with ``--trace 0``, per-layer
   metrics with ``--trace 1`` (a traced run also reads Spark's status REST
   API and a streaming listener; see tracing.py).

A full artifact (host and input stamp, per-pass and per-key numbers, gate
verdicts) goes to ``.perfbench/out/<workload>-seed<seed>-trace<t>.json``;
``perfbench/report.py`` prints one key's layer breakdown from it. A failed
key or oracle mismatch makes the exit code 1.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

import host
import metrics
from tracing import StatusApi, Tracer, attribute, catalyst_phases, make_stream_listener, pass_layers, per_key
from workloads import DEFAULT_SEED, WORKLOADS, key_orders

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
ENGINE_FILES = (
    "data_pipeline_aws_spark/__init__.py",
    "data_pipeline_aws_spark/session.py",
    "tools/gen_sf.py",
    "tools/parity_sweep.py",
    "__spark_entry__.py",
)
# Share of a key's wall time its build and action spans must cover.
MIN_COVER = 0.95
# Untimed passes after the oracle-gate pass: per-pass CPU falls for about
# four passes after a session build while HotSpot compiles the hot paths;
# the JIT threads' own CPU is kept out of cpu_s.
WARMUP_PASSES = 2
MIN_PASSES = 3
PROBE_REPS = 8


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=6.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def generate(scale: float, seed: int, out: str) -> None:
    from tools import gen_sf

    gen_sf.SEED = seed  # gen() seeds its generator from the module constant
    with contextlib.redirect_stdout(sys.stderr):
        gen_sf.gen(scale, out)


def clear_sink_caches(sf_dir: str) -> None:
    """Remove this fixture's ``dpas_*`` caches from the run's own TMPDIR."""
    import tempfile

    from data_pipeline_aws_spark.caches import sf_tag

    for d in glob.glob(os.path.join(tempfile.gettempdir(), f"dpas_*_{sf_tag(sf_dir)}*")):
        shutil.rmtree(d, ignore_errors=True)


class OracleGate:
    """Compare a collected result with the key's DuckDB oracle twin."""

    def __init__(self, sf_dir: str, tmp: str, threads: int) -> None:
        import duckdb

        from data_pipeline_aws_spark import all_oracles
        from data_pipeline_aws_spark.tables import TABLES
        from tools.parity_sweep import canon_hash

        self.canon_hash, self.oracles = canon_hash, all_oracles()
        self.con = duckdb.connect()
        self.con.execute(f"SET threads={threads}")
        self.con.execute("SET memory_limit='2GB'")
        self.con.execute(f"SET temp_directory='{os.path.join(tmp, 'duckdb')}'")
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    def check(self, key: str, pdf) -> str:
        a = self.canon_hash(pdf)
        b = self.canon_hash(self.con.execute(self.oracles[key]).fetchdf())
        return "pass" if a == b else f"FAIL spark={a[:2]} duck={b[:2]}"

    def close(self) -> None:
        self.con.close()


class Runner:
    def __init__(self, args, run_dir: str, t_proc: float, gen_s: float, sf_dir: str) -> None:
        self.args, self.run_dir, self.sf_dir = args, run_dir, sf_dir
        self.t_proc, self.gen_s = t_proc, gen_s
        self.wl = WORKLOADS[args.workload]
        self.trace = bool(args.trace)
        self.orders = key_orders(self.wl, args.seed)
        self.tracer = Tracer()
        self.tree = host.ProcessTree()
        self.cores = host.nproc()
        self.failures: list[str] = []
        self.gate: dict[str, str] = {}
        self.attempted = 0
        self.listener = None
        self.speed = host.SpeedProbe()
        self.probes: list[float] = []

    def probe(self) -> None:
        """Sample the host's speed; runs between passes, outside every span."""
        self.probes += [self.speed.sample() for _ in range(PROBE_REPS)]

    def setup(self) -> None:
        from data_pipeline_aws_spark import all_queries
        from data_pipeline_aws_spark.session import get_spark

        ticks0 = host.cpu_ticks()
        self.queries = all_queries()
        self.spark = get_spark()
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.trace:
            self.listener = make_stream_listener()
            self.spark.streams.addListener(self.listener)
        self.build_s = time.time() - self.t_proc - self.gen_s
        self.warmup_s = self.gate_s = 0.0
        self.probe()
        gate = OracleGate(self.sf_dir, os.path.join(self.run_dir, "tmp"), self.cores)
        try:
            for key in next(self.orders):
                self._gate_key(gate, key)
        finally:
            gate.close()
        # JIT compilation still burns CPU in the passes after a session
        # build, so they belong to set-up.
        for i in range(WARMUP_PASSES):
            self.probe()
            self.warmup_s += self.run_pass(-1 - i, timed=False).dur
        self.setup_steal = host.steal_share(ticks0, host.cpu_ticks())

    def _gate_key(self, gate: OracleGate, key: str) -> None:
        """Warm ``key`` up by collecting its result, and check it against the
        oracle; only the collect counts as set-up time."""
        if self.wl.cold_sinks:
            clear_sink_caches(self.sf_dir)
        self.attempted += 1
        self._group(f"gate:{key}")
        t0 = time.perf_counter()
        try:
            pdf = self.queries[key](self.spark, self.sf_dir).toPandas()
            t1 = time.perf_counter()
            self.gate[key] = gate.check(key, pdf)
            self.gate_s += time.perf_counter() - t1
        except Exception as exc:  # noqa: BLE001 - recorded as a failed key
            t1 = time.perf_counter()
            self.gate[key] = f"ERR {type(exc).__name__}: {exc}"[:300]
            traceback.print_exc()
        self.warmup_s += t1 - t0
        if self.gate[key] != "pass":
            self.failures.append(f"gate {key}: {self.gate[key]}")

    def _group(self, group: str) -> None:
        if self.trace:
            self.spark.sparkContext.setJobGroup(group, group)

    def run_key(self, key: str, pass_no: int, parent: int, timed: bool) -> None:
        tr = self.tracer
        group = f"p{pass_no}:{key}"
        module = self.queries[key].__module__.removeprefix("data_pipeline_aws_spark.")
        attrs = {"group": group, "module": module, "timed": timed}
        ticks = host.cpu_ticks()
        k = tr.open("key", parent, key=key, pass_no=pass_no, attrs=attrs)
        self._group(group)
        self.attempted += 1
        df = None
        try:
            b = tr.open("build", k, key=key, pass_no=pass_no)
            df = self.queries[key](self.spark, self.sf_dir)
            tr.close(b)
            a = tr.open("action", k, key=key, pass_no=pass_no)
            df.write.format("noop").mode("overwrite").save()
            tr.close(a)
        except Exception as exc:  # noqa: BLE001 - recorded as a failed key
            self.failures.append(f"pass {pass_no} {key}: {type(exc).__name__}: {exc}"[:300])
            traceback.print_exc()
        tr.close(k)
        attrs["steal"] = host.steal_share(ticks, host.cpu_ticks())
        if self.trace:
            if df is not None:
                attrs["catalyst"] = catalyst_phases(df)
            cpu = self.tree.cpu()["workers"]
            attrs["worker_cpu_s"] = cpu - self._workers_cpu
            self._workers_cpu = cpu

    def run_pass(self, pass_no: int, timed: bool):
        """One pass over the keys in the seed's next order; returns its span."""
        order = next(self.orders)
        if self.wl.cold_sinks:
            clear_sink_caches(self.sf_dir)
        cpu = self.tree.cpu()
        self._workers_cpu = cpu["workers"]
        ticks = host.cpu_ticks()
        attrs = {"timed": timed, "order": order}
        p = self.tracer.open("pass", self.run_span if timed else None, pass_no=pass_no, attrs=attrs)
        for key in order:
            self.run_key(key, pass_no, p, timed)
        span = self.tracer.close(p)
        attrs["steal"] = host.steal_share(ticks, host.cpu_ticks())
        now = self.tree.cpu()
        attrs["jit_cpu_s"] = now["jit"] - cpu["jit"]
        attrs["cpu_s"] = sum(now.values()) - sum(cpu.values()) - attrs["jit_cpu_s"]
        return span

    def timed(self) -> None:
        self.run_span = self.tracer.open("run")
        t_start, pass_no = time.time(), 0
        self.tree.reset_peak_rss()
        while pass_no < MIN_PASSES or time.time() - t_start < self.args.seconds:
            self.probe()
            self.run_pass(pass_no, timed=True)
            pass_no += 1
        self.tracer.close(self.run_span)
        self.probe()
        self.peak_rss = self.tree.peak_rss()

    def results(self) -> dict:
        """Wall times are scaled by (1 - steal share), which removes the vCPU
        time another tenant of the host took while the run wanted it. Every
        time, CPU times too, is then scaled by the run's speed scale: the
        reference probe time over this run's median probe time (host.SpeedProbe),
        so a run on a host slowed by its neighbours reads as on the reference
        host. Raw walls, CPU times and probe samples stay in the artifact."""
        spans = self.tracer.spans
        passes = [s for s in spans if s.name == "pass" and s.attrs["timed"]]
        keys = [s for s in spans if s.name == "key" and s.attrs["timed"]]
        speed = host.PROBE_REF_S / metrics.median(self.probes)
        q = [s.dur * (1 - s.attrs["steal"]) * speed for s in keys]
        p_tail = metrics.tail_percentile(len(q))
        # The median key of per-key medians: pooling all executions would
        # move the median between keys as the pass count varies.
        per_key_s = {
            k: metrics.median(s.dur * (1 - s.attrs["steal"]) * speed for s in keys if s.key == k)
            for k in self.wl.keys
        }
        e2e = {
            "setup_s": (self.build_s + self.warmup_s) * (1 - self.setup_steal) * speed,
            "pass_s": metrics.median(s.dur * (1 - s.attrs["steal"]) for s in passes) * speed,
            "query_p50_s": metrics.median(per_key_s.values()),
            "cpu_s": metrics.median(s.attrs["cpu_s"] for s in passes) * speed,
            "ok_frac": 1 - len(self.failures) / self.attempted,
        }
        out = {
            "end_to_end": e2e,
            "phases_s": {
                "build": self.build_s,
                "warmup": self.warmup_s,
                "gate": self.gate_s,
                "timed": self.tracer.spans[self.run_span].dur,
            },
            "setup_steal": self.setup_steal,
            "speed_scale": speed,
            "probes_s": self.probes,
            "peak_rss_mb": self.peak_rss / (1 << 20),
            "query_samples": len(q),
            "query_tail": {"percentile": p_tail, "value_s": metrics.percentile(q, p_tail) if p_tail else None},
            "passes": [{"wall_s": s.dur, **s.attrs} for s in passes],
            "keys_wall_s": {k: [s.dur for s in keys if s.key == k] for k in self.wl.keys},
            "keys_s": per_key_s,
        }
        if self.trace:
            out.update(self.layers(passes, e2e["pass_s"]))
        return out

    def layers(self, passes, pass_s: float) -> dict:
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # status store and listener are complete
        status = StatusApi(self.spark).snapshot()
        recs, unattributed = attribute(self.tracer, status, self.listener.progress)
        per_pass = []
        for s in passes:
            per_pass.append(pass_layers([r for r in recs if r["pass_no"] == s.pass_no], s.dur, self.cores))
        layer = {name: metrics.median(p[name] for p in per_pass) for name in per_pass[0]}
        cover = min((r["cover"] for r in recs), default=1.0)
        if cover < MIN_COVER:
            self.failures.append(f"build+action spans cover {cover:.3f} < {MIN_COVER} of a key's wall")
        layer.update(
            {
                "session.build_s": self.build_s,
                "session.warmup_s": self.warmup_s,
                "mem.peak_rss_mb": self.peak_rss / (1 << 20),
                "jvm.jit_cpu_s": metrics.median(s.attrs["jit_cpu_s"] for s in passes),
                "sched.unattributed_jobs": unattributed,
                "trace.pass_s": pass_s,
                "trace.key_cover_min": cover,
            }
        )
        return {"per_layer": layer, "per_key": per_key(recs), "layer_passes": per_pass}

    def stop(self) -> None:
        """Stop Spark and wait for the JVM and every worker to exit."""
        from pyspark import SparkContext

        self.speed.close()
        spark = getattr(self, "spark", None)
        if spark is not None:
            spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
        reap_children()


def reap_children(timeout: float = 30.0) -> None:
    """Kill and wait for anything still running under this process."""
    tree = host.ProcessTree()
    deadline = time.time() + timeout
    while True:
        left = [pid for pid in tree.members() if pid != tree.root]
        if not left:
            return
        if time.time() > deadline:
            for pid in left:
                with contextlib.suppress(OSError):
                    os.kill(pid, 9)
        with contextlib.suppress(ChildProcessError):
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        time.sleep(0.2)


def main(argv=None) -> int:
    t_proc = host.process_start_epoch()
    args = parse_args(argv)
    missing = [f for f in ENGINE_FILES if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: engine sources missing from {ROOT}: {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Everything the engine, Spark or pyspark write to stdout goes to stderr;
    # stdout carries only the result line.
    result_fd = os.dup(1)
    os.dup2(2, 1)
    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    env = host.isolate(run_dir, bool(args.trace))
    sf_dir = os.path.join(run_dir, "data")
    runner = None
    try:
        t0 = time.time()
        generate(WORKLOADS[args.workload].scale, args.seed, sf_dir)
        gen_s = time.time() - t0
        stamp = host.stamp(ROOT, args.seed, sf_dir) | {"env": env, "gen_s": gen_s}
        runner = Runner(args, run_dir, t_proc, gen_s, sf_dir)
        runner.setup()
        runner.timed()
        res = runner.results()
    finally:
        if runner is not None:
            runner.stop()
        else:
            reap_children()
        shutil.rmtree(run_dir, ignore_errors=True)

    values = res["per_layer"] if args.trace else res["end_to_end"]
    line = {
        "correct": not runner.failures,
        "attempted": runner.attempted,
        "failed": len(runner.failures),
        "metrics": metrics.emit(values, bool(args.trace)),
    }
    os.makedirs(os.path.join(WORK, "out"), exist_ok=True)
    base = os.path.join(WORK, "out", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    artifact = {"workload": args.workload, "stamp": stamp, "gate": runner.gate, "failures": runner.failures, **res}
    with open(f"{base}.json", "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
    runner.tracer.dump(f"{base}.spans.jsonl")
    for msg in runner.failures:
        print(f"perfbench: {msg}", file=sys.stderr)
    phases = {"gen": stamp["gen_s"], **res["phases_s"], "total": time.time() - t_proc}
    print("perfbench: phases " + " ".join(f"{k}={v:.1f}s" for k, v in phases.items()), file=sys.stderr)
    os.write(result_fd, (json.dumps(line) + "\n").encode())
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
