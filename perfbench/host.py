"""Host facts, environment isolation and /proc accounting for the engine's
process tree (the benchmark's own Python driver, the Spark JVM it launches
and the Python workers the JVM forks)."""

from __future__ import annotations

import hashlib
import math
import os
import platform
import subprocess
import sys
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def ram_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap(ram: int) -> str:
    """A quarter of host RAM, clamped to [1g, 16g] (the engine's old fixed
    default), so the driver spills instead of being killed on a small host."""
    mb = max(1024, min(16384, ram // 4 // (1 << 20)))
    return f"{mb}m"


def cpu_ticks() -> list[int]:
    """All-CPU jiffies since boot from /proc/stat: user nice system idle
    iowait irq softirq steal ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(t0: list[int], t1: list[int]) -> float:
    """Share of the vCPU time this VM wanted to run that another tenant took:
    steal over (busy + steal). An idle vCPU accrues no steal, so dividing by
    all jiffies would understate what the running threads lost."""
    d = [b - a for a, b in zip(t0, t1)]
    busy = d[0] + d[1] + d[2] + d[5] + d[6]
    return d[7] / max(1, busy + d[7])


# About the probe's median during runs on the reference host (a 4-vCPU Xeon
# VM at 2.1 GHz; 8-10 ms while it ran fast), so a scaled time reads roughly
# as it would there. Any constant works: it only sets the unit.
PROBE_REF_S = 0.010


class SpeedProbe:
    """How fast the host runs this run, measured by benchmark code that calls
    nothing of the engine, so no engine change can move it.

    A sample is the geometric mean of two fixed tasks that stand for the two
    costs of a small-data pass: compute (thread CPU time of sorting eight
    copies of 2^16 seeded integers, which stay in the core's caches) and
    cross-process wake-ups (wall time of 2000 one-byte round trips through
    pipes to a Python echo child, as py4j calls and task hand-offs do). Both
    slow down together with the engine when other tenants load the host;
    the sort's median moved by ±4% between processes on a steady host."""

    ROUND_TRIPS = 2000
    ECHO = "import os\nwhile os.write(1, os.read(0, 1)):\n    pass\n"

    def __init__(self) -> None:
        import numpy as np

        self.src = np.random.default_rng(0).integers(0, 1 << 40, 1 << 16)
        self.buf = np.empty_like(self.src)
        self.echo = subprocess.Popen(
            [sys.executable, "-c", self.ECHO], stdin=subprocess.PIPE, stdout=subprocess.PIPE, bufsize=0
        )

    def sample(self) -> float:
        t0 = time.thread_time()
        for _ in range(8):
            self.buf[:] = self.src
            self.buf.sort()
        compute = time.thread_time() - t0
        t0 = time.perf_counter()
        for _ in range(self.ROUND_TRIPS):
            self.echo.stdin.write(b"x")
            self.echo.stdout.read(1)
        wake = time.perf_counter() - t0
        return math.sqrt(compute * wake)

    def close(self) -> None:
        self.echo.stdin.close()
        try:
            self.echo.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.echo.kill()
            self.echo.wait()


def process_start_epoch() -> float:
    """Wall-clock time at which this process started."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / _TICK


def isolate(run_dir: str, trace: bool) -> dict[str, str]:
    """Point every temp and scratch location of the engine, Spark and the
    oracle at ``run_dir`` so a run neither reads nor reaps anyone else's
    ``dpas_*`` caches. Returns the variables it set."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(os.path.join(tmp, "spark-local"), exist_ok=True)
    n = nproc()
    confs = [f"spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}"]
    if trace:
        confs += [
            f"{k}=1000000"
            for k in ("spark.ui.retainedJobs", "spark.ui.retainedStages", "spark.sql.ui.retainedExecutions")
        ]
    env = {
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "SPARK_LOCAL_IP": "127.0.0.1",
        # No hsperfdata file in the system temp dir, which ignores java.io.tmpdir.
        # Fixed JIT compiler threads, so their CPU stays countable per thread
        # (a retired dynamic one folds into the process total unnamed).
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads",
        "PYSPARK_SUBMIT_ARGS": " ".join(f"--conf {c}" for c in confs) + " pyspark-shell",
        "SPARK_GRAFT_CPUS": str(n),
        "SPARK_GRAFT_DRIVER_MEM": driver_heap(ram_bytes()),
        "SPARK_GRAFT_UI": "true" if trace else "false",
    }
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return env


def tree_hash(root: str) -> str:
    """md5 over the relative paths and bytes of every file under ``root``."""
    h = hashlib.md5()
    for dirpath, dirnames, files in os.walk(root):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for name in sorted(files):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def git_commit(root: str) -> str | None:
    """HEAD of ``root`` if it is a git checkout (an exported tree is not)."""
    if not os.path.exists(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except OSError:
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def stamp(root: str, seed: int, fixture_dir: str) -> dict:
    """Host and input fingerprint carried by every artifact."""
    import duckdb
    import pyspark

    return {
        "nproc": nproc(),
        "ram_bytes": ram_bytes(),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "duckdb": duckdb.__version__,
        "master": f"local[{os.environ['SPARK_GRAFT_CPUS']}]",
        "driver_heap": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "seed": seed,
        "fixture_dir": os.path.relpath(fixture_dir, root),
        "fixture_md5": tree_hash(fixture_dir),
        "git_commit": git_commit(root),
        "engine_md5": tree_hash(os.path.join(root, "data_pipeline_aws_spark")),
    }


def _stat(pid: int) -> tuple[int, str, float] | None:
    """(ppid, comm, cpu seconds incl. reaped children) of ``pid``."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    head, rest = raw.rsplit(")", 1)
    comm = head.split("(", 1)[1]
    fields = rest.split()
    cpu = sum(int(x) for x in fields[11:15]) / _TICK  # utime stime cutime cstime
    return int(fields[1]), comm, cpu


def _jit_cpu(pid: int) -> float:
    """CPU seconds of the HotSpot JIT compiler threads of JVM ``pid``."""
    total = 0.0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0.0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        head, rest = raw.rsplit(")", 1)
        if head.split("(", 1)[1].startswith(("C1 CompilerThre", "C2 CompilerThre")):
            fields = rest.split()
            total += (int(fields[11]) + int(fields[12])) / _TICK
    return total


def _hwm(pid: int) -> int:
    """Peak resident bytes (VmHWM) of ``pid`` since birth or last reset."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class ProcessTree:
    """The descendants of this process, split by role: ``driver`` (this
    process), ``jvm`` (the Spark JVM and anything else it is not a Python
    worker) and ``workers`` (Python processes under the JVM). ``cpu()`` also
    splits the JVM's JIT compiler threads out as ``jit``."""

    def __init__(self) -> None:
        self.root = os.getpid()

    def members(self) -> dict[int, str]:
        info = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    info[int(name)] = st
        children: dict[int, list[int]] = {}
        for pid, (ppid, _, _) in info.items():
            children.setdefault(ppid, []).append(pid)
        roles = {self.root: "driver"}
        stack = [(self.root, False)]
        while stack:
            pid, under_jvm = stack.pop()
            for child in children.get(pid, ()):
                comm = info[child][1]
                jvm = under_jvm or comm == "java"
                roles[child] = "workers" if under_jvm and comm.startswith("python") else (
                    "jvm" if jvm else "driver"
                )
                stack.append((child, jvm))
        return roles

    def cpu(self) -> dict[str, float]:
        out = {"driver": 0.0, "jvm": 0.0, "workers": 0.0, "jit": 0.0}
        for pid, role in self.members().items():
            st = _stat(pid)
            if st is not None:
                jit = _jit_cpu(pid) if st[1] == "java" else 0.0
                out[role] += st[2] - jit
                out["jit"] += jit
        return out

    def reset_peak_rss(self) -> None:
        """Restart every member's VmHWM from its current RSS."""
        for pid in self.members():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                pass

    def peak_rss(self) -> int:
        """Sum of the members' VmHWM: each process's peak since the last
        reset (an upper bound on the tree's simultaneous peak), read with no
        sampling thread to contend for the driver's interpreter lock."""
        return sum(_hwm(pid) for pid in self.members())
