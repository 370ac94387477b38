"""Table loader — path-parameterized, schema-stable parquet sources.

The reference's storage model is "S3 prefixes as tables" with env-parameterized
locations (``lambda-stack.yml:20-21`` passes ``--ENV`` into the Glue job);
here the same idea is ``load(spark, sf_dir)``: one base directory, bare table
names, parquet scans that Catalyst can push filters and projections into.
"""

from __future__ import annotations

import os
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale factor
# (region=5, nation=25 rows at every SF). supplier/customer/part grow with SF,
# so they are NOT hard-coded broadcast — AQE decides from runtime stats.
ALWAYS_BROADCAST = frozenset({"region", "nation"})


@lru_cache(maxsize=None)
def _parquet_footers(path: str) -> tuple:
    """Footer metadata of every part of the parquet table at ``path`` (one
    file, or a directory of ``*.parquet`` parts). Footer-only read,
    memoized per path — a few ms once per (sf_dir, table)."""
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        parts = [os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")]
    else:
        parts = [path]
    return tuple(pq.ParquetFile(p).metadata for p in parts)


def _scan_width(path: str) -> int:
    """How many tasks a parquet scan of ``path`` can possibly get: row
    groups are Spark's split atoms (a file with one row group is one task
    no matter what maxPartitionBytes says)."""
    return sum(m.num_row_groups for m in _parquet_footers(path))


def table_rows(sf_dir: str, name: str) -> int:
    """Exact row count of a table from its parquet footer(s) — free (no
    Spark job, metadata only). The scale-adaptive partition-width inputs
    (e.g. q_item_item_recs' pair-join width) derive from this so per-task
    state stays bounded at any SF instead of trusting AQE's byte-advisory
    coalescing to keep hash-build sides small (guide §5: more partitions =
    smaller per-task state)."""
    return sum(m.num_rows for m in _parquet_footers(f"{sf_dir}/{name}.parquet"))


def spread(spark: SparkSession, df: DataFrame, sf_dir: str, name: str) -> DataFrame:
    """Round-robin repartition to the session's core count IFF the source
    table's parquet layout cannot feed the cores itself.

    The optimization-guide §2.5 move for unsplittable inputs ("one huge
    unsplittable file ... repartition immediately after the read"): the
    bench fixtures are single-file single-row-group parquet, so every scan
    stage — and with it all map-side work (tokenize, shingle, hash,
    vectorized decode) — otherwise runs as ONE task on local[32] (measured:
    q_text_winnow spends 3.85 s of its 3.96 s stage-wall in one task). The
    gate is the actual input layout, not a local-mode constant: a
    production table with >= cores row groups (any realistic 100 TB layout)
    returns the scan untouched, so no extra exchange ever ships data that
    was already parallel. Catalyst pushes filters/projections below the
    repartition, so pushdown at the scan is unchanged."""
    if _scan_width(f"{sf_dir}/{name}.parquet") >= spark.sparkContext.defaultParallelism:
        return df
    return df.repartition(spark.sparkContext.defaultParallelism)


def table(
    spark: SparkSession, sf_dir: str, name: str, *, spread_scan: bool = False
) -> DataFrame:
    """Scan one table. Pure ``spark.read.parquet`` — no caching, no hints —
    so every downstream query plan starts from a pushdown-capable file scan.

    ``events.ts`` is parquet TIMESTAMP(NANOS); how it decodes depends on the
    Spark version: ≤4.0 with ``spark.sql.legacy.parquet.nanosAsLong=true``
    (set in ``session.SQL_CONFS``) it arrives as epoch-nanos LongType; 4.1+
    ignores that flag and reads it as a µs-truncated TIMESTAMP_NTZ. Both
    are normalized here to a µs TimestampType (session timezone is pinned
    UTC, so the NTZ cast is value-preserving) — the exact truncation DuckDB
    applies when it reads the same file into its µs-native TIMESTAMP, so
    oracle comparisons stay bit-identical across versions.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    if spread_scan:
        df = spread(spark, df, sf_dir, name)
    return df


def load(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load all tables as a dict and register each as a temp view so both the
    DataFrame API and ``spark.sql`` address the same scans."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
