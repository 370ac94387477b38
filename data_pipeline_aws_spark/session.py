"""SparkSession factory — the engine's one place for execution config.

The reference declares its runtime as an AWS Glue ``glueetl`` Spark job
(``lambda-stack.yml:17``) with no tuning at all; here the equivalent knobs are
explicit and scale-aware, and split in two:

- ``SQL_CONFS`` — every engine-wide ``spark.sql.*`` value, in one table.
  ``tune_session`` is the only code that applies it, so a session the
  engine builds (``get_spark``) and one it is handed (the driver's own
  session, via ``__spark_entry__``) end up with the same SQL config:
  AQE on (runtime coalescing, skew-join splitting, SMJ→BHJ conversion),
  CBO on, UTC session timezone, Arrow enabled.
- ``get_spark`` — the settings a running session cannot change: master,
  app name, driver heap (``driver_memory``), JVM options and the UI. It
  then calls ``tune_session``.

``spark.sql.shuffle.partitions`` is not in the table: the caller owns it.
``tune_session`` only replaces Spark's stock default (200) with 32, and
``get_spark(shuffle_partitions=...)`` sets it explicitly. On a real cluster
AQE's ``advisoryPartitionSizeInBytes`` takes over after the initial value,
so the setting is a floor, not a schedule.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

SQL_CONFS = {
    # Oracle (DuckDB) parity and sane cross-region semantics.
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Start every AQE shuffle WIDE and let runtime stats coalesce down
    # (AQE can merge partitions but never split beyond the initial
    # number). The round-12 sf10 decade showed the fixed 32-wide floor
    # crossing the single-host spill cliff on the shuffle-heaviest
    # keys: q_link_predict 265->124 s, q_dedup_clusters 166->86 s at
    # initial=256, while a 12-key sf0.1 spot-check was flat-to-faster
    # (q_item_item_recs 3.2->2.2 s). This is the idiomatic answer —
    # width from runtime statistics, not a hand-tuned constant.
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "256",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # CBO on from the first query, not flipped mid-session by the first
    # catalog query (round-12 ADVICE: a mid-session flip made plans
    # execution-order dependent). Runtime-safe: with no table
    # statistics present CBO degrades to the default estimator, so
    # non-catalog queries plan identically either way.
    "spark.sql.cbo.enabled": "true",
    "spark.sql.cbo.joinReorder.enabled": "true",
    # events.ts is parquet TIMESTAMP(NANOS): Spark <=4.0 reads it as
    # epoch-nanos under this flag; tables.table normalizes either decoding.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Every pandas interchange (Pandas UDFs, toPandas) is columnar-batched,
    # never per-row pickled.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Bucketed tables are written one-file-per-bucket (see
    # sources/ingest.py); with that invariant the catalog's SORTED BY
    # metadata is safe to trust, letting bucket joins skip the sort as
    # well as the shuffle. (Off by default since 3.0 because multi-file
    # buckets force a single-threaded merge-read — not our layout.)
    "spark.sql.legacy.bucketedTableScan.outputOrdering": "true",
}


def driver_memory() -> str:
    """Driver heap: ``SPARK_GRAFT_DRIVER_MEM`` if set, else a quarter of
    physical RAM clamped to [1g, 16g], so a small host's driver spills
    instead of being killed by the kernel."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1024, min(16384, ram // 4 >> 20))}m"


def ship_package(spark: SparkSession) -> None:
    """Make this package importable inside Spark's Python workers regardless
    of their working directory: zip the package source once per code version
    and ``sc.addPyFile`` it.

    Module-level functions handed to mapInPandas/mapInArrow are cloudpickled
    BY REFERENCE (module + qualname) — the worker must be able to import the
    module, and workers do not inherit the driver's ``sys.path`` edits. This
    is the same move a real cluster deployment makes (``--py-files``); in
    local mode it costs one ~100 KB zip per code version."""
    sources = []
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    for dirpath, dirnames, files in os.walk(pkg_dir):
        dirnames[:] = [d for d in dirnames if d != "__pycache__"]
        sources += [os.path.join(dirpath, f) for f in files if f.endswith(".py")]
    h = hashlib.md5()
    for p in sorted(sources):
        h.update(p.encode())
        h.update(open(p, "rb").read())
    zpath = os.path.join(tempfile.gettempdir(), f"dpas_pkg_{h.hexdigest()[:10]}.zip")
    if not os.path.exists(zpath):
        root = os.path.dirname(pkg_dir)
        tmp = f"{zpath}.tmp{os.getpid()}"
        with zipfile.ZipFile(tmp, "w") as z:
            for p in sorted(sources):
                z.write(p, os.path.relpath(p, root))
        os.replace(tmp, zpath)  # atomic: concurrent sessions race safely
    spark.sparkContext.addPyFile(zpath)


def get_spark(app_name: str = "data_pipeline_aws_spark", *, shuffle_partitions: int | None = None) -> SparkSession:
    """Return (building if needed) the shared engine SparkSession."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # UI off by default (tests/parity don't need it); bench.py opts in
        # via SPARK_GRAFT_UI=true to read per-stage peakExecutionMemory
        # from the status REST API for its spill-safety stamps.
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", driver_memory())
        .config("spark.driver.extraJavaOptions", "-XX:+UseG1GC -XX:MaxGCPauseMillis=200")
        .getOrCreate()
    )
    tune_session(spark)  # incl. ship_package for Python workers
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return spark


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply ``SQL_CONFS`` (and ship the package) to any session, built
    here or by the caller.

    The driver hands ``entry()``/``queries()`` a session it built itself; the
    settings that matter for oracle parity and small-scale latency are all
    runtime-mutable, so they are applied here instead of as build flags.
    """
    conf = spark.conf
    # The driver wraps EVERY queries() call with tune_session; the settings
    # are idempotent, so a sentinel skips ~10 py4j conf round-trips per query
    # after the first call on a given session.
    try:
        if conf.get("spark.dpas.tuned", None) == "1":
            return spark
    except Exception:
        pass
    ship_package(spark)
    for key, value in SQL_CONFS.items():
        conf.set(key, value)
    # Only replace the stock default (200): a caller who deliberately set a
    # higher value keeps it — this engine must not silently retune an
    # externally-owned session's shuffle width for its other workloads.
    try:
        if int(spark.conf.get("spark.sql.shuffle.partitions")) == 200:
            conf.set("spark.sql.shuffle.partitions", "32")
    except Exception:
        conf.set("spark.sql.shuffle.partitions", "32")
    conf.set("spark.dpas.tuned", "1")
    return spark
