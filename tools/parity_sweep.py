#!/usr/bin/env python
"""Multi-SF oracle parity sweep: run EVERY registered query against its
DuckDB oracle twin at each given SF dir and write PARITY_MULTI_SF.json at
the repo root — the round artifact proving SF-dependent constants (e.g.
z-order bit widths, histogram bucket spans, watermark calendar slices) hold
across scales, not just at the driver's graded sf0.01.

Usage:
    python tools/parity_sweep.py /root/testdata/sf0.001 /root/testdata/sf0.1
    python tools/parity_sweep.py --only q_new_key,q_other sf_dir [sf_dir ...]

`--only` sweeps just the named keys and MERGES their rows into the existing
artifact — the mid-round path for landing a new key with committed parity
evidence in the same commit (the test_policy evidence-chain pin) without a
40-minute full sweep. The round-closing protocol still regenerates the
whole artifact on the frozen code; stale rows for since-removed keys are
caught by the same policy test, so merging cannot mask drift.

Status per (sf, key): "pass" (hash match), "rows-only:N" (no oracle by
design — N rows returned), "FAIL ..." (hash mismatch) or "ERR ..." (raised).
Exit code is non-zero if any FAIL/ERR.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import duckdb
import pandas as pd

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from data_pipeline_aws_spark.session import driver_memory  # noqa: E402
from data_pipeline_aws_spark.tables import TABLES  # noqa: E402  - single source of truth


def canon_hash(df: pd.DataFrame) -> tuple[int, tuple, str]:
    """Order-insensitive value hash matching the round driver's compare:
    columns sorted by name, timestamps normalized to ns, floats %.6f."""
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).astype("datetime64[ns]").astype(str)
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64").map(lambda v: "%.6f" % v)
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64").astype(str)
        else:
            df[c] = s.astype(str)
    rows = sorted(map(tuple, df.itertuples(index=False, name=None)))
    return len(rows), tuple(df.columns), hashlib.md5(repr(rows).encode()).hexdigest()


def _oracle_df(con, sql: str) -> pd.DataFrame:
    """Run the oracle under a wall-clock watchdog: a runaway DuckDB plan
    (round-11: a pushed-down inequality became a 1.5e9-row nested-loop
    join) is interrupted after SPARK_GRAFT_ORACLE_TIMEOUT seconds and
    recorded as that key's ERR instead of stalling the whole sweep.

    The query runs on a PER-QUERY cursor (round-11 ADVICE): interrupting
    the shared connection raced query completion — a late interrupt could
    cancel the NEXT key's oracle and record a spurious ERR against the
    wrong key. A cursor is its own connection (same catalog/views); the
    watchdog's interrupt can only ever hit this one query, and the cursor
    is joined+closed before the function returns."""
    import threading

    timeout = float(os.environ.get("SPARK_GRAFT_ORACLE_TIMEOUT", "900"))
    cur = con.cursor()
    done = threading.Event()

    def watchdog():
        if not done.wait(timeout):
            try:
                cur.interrupt()
            except Exception:  # noqa: BLE001 - cursor may be closing
                pass

    t = threading.Thread(target=watchdog, daemon=True)
    t.start()
    try:
        return cur.execute(sql).fetchdf()
    finally:
        done.set()
        t.join(timeout=5.0)  # no interrupt may be in flight past here
        try:
            cur.close()
        except Exception:  # noqa: BLE001
            pass


def sweep(
    spark: SparkSession,
    sf_dir: str,
    only: list[str] | None = None,
    bound: set[str] | None = None,
) -> dict[str, str]:
    tag = sf_dir.rstrip("/").split("/")[-1]
    con = duckdb.connect()
    # Cap the oracle engine: an uncapped DuckDB defaults to ~80% of RAM and
    # the sf1.0 dedup oracles drove the sweep process to ~104 GB RSS on top
    # of the Spark driver JVM — OOM-killed 68 keys in (round-11 lesson).
    # Spill goes to a scratch dir, never the repo cwd's .tmp.
    import tempfile

    con.execute(
        f"SET memory_limit='{os.environ.get('SPARK_GRAFT_DUCK_MEM', '24GB')}'"
    )
    con.execute(
        f"SET threads={int(os.environ.get('SPARK_GRAFT_DUCK_THREADS', '16'))}"
    )
    spill = os.path.join(tempfile.gettempdir(), "dpas_duck_spill")
    os.makedirs(spill, exist_ok=True)
    con.execute(f"SET temp_directory='{spill}'")
    con.execute(
        "SET max_temp_directory_size="
        f"'{os.environ.get('SPARK_GRAFT_DUCK_SPILL_MAX', '40GB')}'"
    )
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    out: dict[str, str] = {}
    # --only preserves the GIVEN order (cheap-first scheduling lets a
    # clock-bounded sweep land the most verdicts before cutoff); the full
    # sweep stays alphabetical for reproducibility.
    names = sorted(qs) if only is None else list(dict.fromkeys(only))
    unknown = set(names) - set(qs)
    if unknown:
        sys.exit(f"--only names not in the registry: {sorted(unknown)}")
    for name in names:
        try:
            spdf = qs[name](spark, sf_dir).toPandas()
            sql = oracles.get(name)
            if bound and name in bound:
                out[name] = f"bound:rows={len(spdf)}"
            elif sql is None:
                out[name] = f"rows-only:{len(spdf)}"
            else:
                a, b = canon_hash(spdf), canon_hash(_oracle_df(con, sql))
                out[name] = "pass" if a == b else f"FAIL spark={a[:2]} duck={b[:2]}"
        except Exception as exc:  # noqa: BLE001 - record, keep sweeping
            out[name] = f"ERR {type(exc).__name__}: {exc}"[:300]
        print(f"{tag} {name}: {out[name]}", flush=True)
    return out


def main() -> None:
    args = sys.argv[1:]
    only: list[str] | None = None
    bound: set[str] = set()
    out_path = os.path.join(_REPO, "PARITY_MULTI_SF.json")
    if "--bound" in args:
        # Bound-verdict keys (round-12 verdict order #2): at extreme SFs
        # some DECLARED-Θ(N²) truth oracles (exact dedup/LSH audits) are
        # unaffordable in DuckDB even though the Spark side completes.
        # For these the sweep runs the Spark side and records an explicit
        # "bound:rows=N" verdict instead of a hash — a visible, honest
        # downgrade (never applied silently on timeout).
        i = args.index("--bound")
        if i + 1 >= len(args):
            sys.exit("usage: --bound key1,key2 [--only ...] sf_dir [...]")
        bound = set(args[i + 1].split(","))
        args = args[:i] + args[i + 2 :]
    if "--out" in args:
        # A separate artifact (e.g. the one-off sf1.0 scale probe) — the
        # policy test requires every tag in PARITY_MULTI_SF.json to cover
        # the WHOLE registry, so partial-keyset sweeps at extra SFs must
        # not merge into it.
        i = args.index("--out")
        if i + 1 >= len(args):
            sys.exit("usage: --out path.json [--only ...] sf_dir [sf_dir ...]")
        out_path = args[i + 1]
        args = args[:i] + args[i + 2 :]
    if "--only" in args:
        i = args.index("--only")
        if i + 1 >= len(args):
            sys.exit("usage: --only key1,key2 [sf_dir ...]")
        only = args[i + 1].split(",")
        args = args[:i] + args[i + 2 :]
    sf_dirs = args or ["/root/testdata/sf0.001", "/root/testdata/sf0.1"]
    cores = os.environ.get("SPARK_GRAFT_CPUS", "16")
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("parity_multi_sf")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        # the sf1.0 probe OOMs a default-memory (1g) driver JVM; match
        # the package session helper's sizing
        .config("spark.driver.memory", driver_memory())
        # extreme-SF audits collect full result relations for hashing; the
        # 1g default result cap is a harness artifact, not a query property
        .config(
            "spark.driver.maxResultSize",
            os.environ.get("SPARK_GRAFT_MAX_RESULT", "8g"),
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    result = {
        sf_dir.rstrip("/").split("/")[-1]: sweep(spark, sf_dir, only, bound)
        for sf_dir in sf_dirs
    }
    path = out_path
    if only is not None and os.path.exists(path):
        with open(path) as f:
            merged = json.load(f)
        for tag, rows in result.items():
            merged.setdefault(tag, {}).update(rows)
        result = merged
    with open(path, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    bad = {
        (tag, k): v
        for tag, m in result.items()
        for k, v in m.items()
        if not (v == "pass" or v.startswith("rows-only"))
    }
    for (tag, k), v in sorted(bad.items()):
        print(f"BAD {tag} {k}: {v}")
    n = sum(len(m) for m in result.values())
    print(f"{n} (sf, key) rows swept, {len(bad)} bad -> {path}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
