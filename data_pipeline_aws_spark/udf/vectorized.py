"""Vectorized (Arrow) Pandas UDF surface (SURVEY §2.10).

Two shapes: scalar Series→Series (per-row math at numpy speed) and
GROUPED_AGG (custom aggregate). Both move data as Arrow record batches —
~10-100× over row-at-a-time pickling, and the only sanctioned way for Python
to touch the hot path at 100 TB.

UDF objects are built lazily (pandas_udf registration needs a live
SparkSession, so decorating at import time would break module loading).
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from data_pipeline_aws_spark.registry import query
from data_pipeline_aws_spark.tables import table


@lru_cache(maxsize=None)
def _log_price_score():
    def fn(extendedprice: pd.Series, discount: pd.Series) -> pd.Series:
        """log1p of the discounted price — numpy-vectorized over Arrow batches."""
        return np.log1p(extendedprice * (1.0 - discount))

    return pandas_udf(fn, "double")


@lru_cache(maxsize=None)
def _weighted_avg_price():
    def fn(price: pd.Series, qty: pd.Series) -> float:
        return float(np.sum(price * qty) / np.sum(qty))

    return pandas_udf(fn, "double")  # Series, Series -> scalar hints: grouped-agg


def log_price_score(extendedprice, discount) -> Column:
    return _log_price_score()(extendedprice, discount)


def weighted_avg_price(price, qty) -> Column:
    return _weighted_avg_price()(price, qty)


@query(
    "q_pandas_udf",
    oracle="""
SELECT
  l_orderkey,
  l_linenumber,
  ROUND(ln(1 + l_extendedprice * (1 - l_discount)), 6) AS price_score
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
""",
)
def q_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar Pandas UDF over lineitem (rounded to absorb libm-vs-numpy ulp
    differences). The shipdate filter still pushes to parquet — UDFs don't
    block pushdown of independent predicates."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp"))
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round(log_price_score("l_extendedprice", "l_discount"), 6).alias("price_score"),
        )
    )


@query(
    "q_pandas_udaf",
    oracle="""
SELECT
  l_returnflag,
  ROUND(SUM(l_extendedprice * l_quantity) / SUM(l_quantity), 4) AS wavg_price
FROM lineitem
GROUP BY l_returnflag
""",
)
def q_pandas_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG Pandas UDF: quantity-weighted average price per flag
    (rounded — group-internal summation order is engine-dependent)."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(weighted_avg_price("l_extendedprice", "l_quantity"), 4).alias("wavg_price")
    )


@query(
    "q_grouped_map",
    oracle="""
SELECT c_custkey, c_mktsegment,
       ROUND((c_acctbal - AVG(c_acctbal) OVER seg)
             / STDDEV_SAMP(c_acctbal) OVER seg, 4) AS bal_zscore
FROM customer
WINDOW seg AS (PARTITION BY c_mktsegment)
""",
)
def q_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map Pandas transform (applyInPandas): per-segment z-score of
    account balance. Each group arrives as ONE Arrow-backed pandas frame and
    is normalized with numpy — the UDTF-ish shape for per-group model scoring
    or feature normalization. Group cardinality bounds task memory: segments
    here; at 100 TB pick keys whose groups fit an executor (or pre-aggregate
    the moments JVM-side and broadcast them, which also avoids the shuffle)."""
    c = table(spark, sf_dir, "customer")

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        bal = pdf["c_acctbal"].to_numpy()
        z = (bal - bal.mean()) / bal.std(ddof=1)
        return pd.DataFrame(
            {
                "c_custkey": pdf["c_custkey"],
                "c_mktsegment": pdf["c_mktsegment"],
                "bal_zscore": np.round(z, 4),
            }
        )

    return c.select("c_custkey", "c_mktsegment", "c_acctbal").groupBy(
        "c_mktsegment"
    ).applyInPandas(zscore, "c_custkey long, c_mktsegment string, bal_zscore double")


UDTF_CHUNK = 20


@query(
    "q_python_udtf",
    oracle=f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n_tok
  FROM documents
)
SELECT d.doc_id, c.i AS chunk_idx,
       CAST(LEAST({UDTF_CHUNK}, d.n_tok - c.i * {UDTF_CHUNK}) AS INT) AS n_tokens,
       d.toks[c.i * {UDTF_CHUNK} + 1] AS head_token
FROM d, LATERAL unnest(generate_series(0,
         CAST(CEIL(d.n_tok * 1.0 / {UDTF_CHUNK}) AS INT) - 1)) c(i)
""",
)
def q_python_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 table-valued function): one input document row
    → N chunk rows (disjoint 20-token chunks with index, size, and head
    token), consumed via LATERAL join — the user-defined generator shape
    (parsers, splitters, API fan-outs) that scalar and aggregate UDFs
    can't express. Completes the §2.10 UDF surface: pandas UDF (scalar),
    GROUPED_AGG (UDAF), applyInPandas (grouped map), and now a true UDTF.

    The chunking itself is deliberately SQL-expressible so the oracle
    hash-checks the UDTF row-fan-out exactly. Arrow-optimized UDTF
    evaluation (`spark.sql.execution.pythonUDTF.arrow.enabled`) batches
    rows through the Python worker; JVM-side `q_text_chunks` remains the
    hot-path form — this key exists to pin the extension point, priced
    honestly as the Python boundary it is."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, chunk_idx int, n_tokens int, head_token string")
    class ChunkDoc:
        def eval(self, doc_id, text):  # noqa: ANN001 - pyspark callback shape
            toks = text.split(" ")
            for i in range(0, (len(toks) + UDTF_CHUNK - 1) // UDTF_CHUNK):
                chunk = toks[i * UDTF_CHUNK : (i + 1) * UDTF_CHUNK]
                yield (doc_id, i, len(chunk), chunk[0])

    prev = spark.conf.get("spark.sql.execution.pythonUDTF.arrow.enabled", "false")
    spark.conf.set("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
    try:
        spark.udtf.register("dpas_chunk_doc", ChunkDoc)
        table(spark, sf_dir, "documents").createOrReplaceTempView("dpas_udtf_docs")
        return spark.sql(
            "SELECT c.* FROM dpas_udtf_docs, LATERAL dpas_chunk_doc(doc_id, text) c"
        )
    finally:
        spark.conf.set("spark.sql.execution.pythonUDTF.arrow.enabled", prev)


@query(
    "q_arrow_map",
    oracle="""
SELECT vec_id,
       CAST(len(embedding) AS INT)  AS dim,
       ROUND(SQRT(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm
FROM embeddings
""",
)
def q_arrow_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`mapInArrow` surface (Spark 4 Arrow-native map): per-vector L2 norm
    and dimensionality computed directly on pyarrow RecordBatches — no
    pandas materialization at all, the lowest-overhead Python boundary
    Spark offers (one layer below mapInPandas: no Block→DataFrame
    conversion, columns stay Arrow buffers end to end).

    numpy reads the Arrow list buffers zero-copy (values + offsets),
    squares in float64 and reduces per row; the fixed 64-dim layout makes
    it one reshape + one einsum per batch. Python sees only
    (vec_id, embedding); the label column is pruned at the scan. This is
    the template for custom vector kernels (norms, PQ distance tables,
    quantizer encode) where even pandas overhead is measurable at 100 TB."""
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return e.mapInArrow(arrow_l2_norms, "vec_id long, dim int, l2_norm double")


def arrow_l2_norms(batches):
    """Arrow-native L2-norm kernel for mapInArrow (see q_arrow_map); module
    level so the ragged/empty-row fallback is unit-testable off-plan."""
    import pyarrow as pa

    for batch in batches:
        vec_ids = batch.column("vec_id")
        emb = batch.column("embedding")
        # flatten() (not .values) + offset re-basing: a SLICED
        # ListArray keeps absolute offsets into the parent buffer —
        # .values would misalign the reshape and silently fold
        # trailing parent values into the last row's norm
        flat = np.asarray(emb.flatten(), dtype=np.float64)
        offsets = np.asarray(emb.offsets)
        offsets = offsets - offsets[0]
        dims = np.diff(offsets).astype(np.int32)
        # fixture vectors are fixed-dim; reshape + einsum does all rows
        # in one BLAS-shaped pass
        if len(dims) and dims[0] > 0 and (dims == dims[0]).all():
            sq = np.einsum(
                "ij,ij->i", flat.reshape(len(dims), dims[0]),
                flat.reshape(len(dims), dims[0]),
            )
        else:
            # cumsum segment-sum, not np.add.reduceat: reduceat returns
            # the NEXT segment's leading element for zero-length (or
            # null) rows and raises on a trailing empty row — the
            # cumsum difference is exactly 0 for empty segments
            cs = np.concatenate(([0.0], np.cumsum(flat * flat)))
            sq = cs[offsets[1:]] - cs[offsets[:-1]]
        yield pa.RecordBatch.from_arrays(
            [
                vec_ids,
                pa.array(dims, type=pa.int32()),
                pa.array(np.round(np.sqrt(sq), 6), type=pa.float64()),
            ],
            names=["vec_id", "dim", "l2_norm"],
        )


@lru_cache(maxsize=None)
def _order_value_bucket_arrow():
    from pyspark.sql.functions import udf

    def fn(totalprice: float) -> str:
        # scalar Python, but Arrow-serialized: the batch transfer is
        # columnar even though the function body sees one value at a time
        if totalprice < 50_000:
            return "small"
        if totalprice < 200_000:
            return "mid"
        return "large"

    return udf(fn, "string", useArrow=True)


@query(
    "q_arrow_udf",
    oracle="""
SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
            WHEN o_totalprice < 200000 THEN 'mid'
            ELSE 'large' END            AS value_bucket,
       CAST(COUNT(*) AS BIGINT)         AS n_orders,
       ROUND(SUM(o_totalprice), 2)      AS revenue
FROM orders
GROUP BY 1
""",
)
def q_arrow_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized scalar Python UDF (Spark 4's `udf(useArrow=True)`)
    — the remaining rung of the Python-UDF ladder between row-pickled
    UDFs (never used here) and vectorized pandas_udf: the function body
    is scalar Python, but batches cross the JVM↔Python boundary as Arrow
    record batches, which removes the pickle tax while keeping the
    write-a-plain-function ergonomics. The oracle replays the bucketing
    relationally, so the hash proves the UDF path byte-faithful.

    Scale note: this surface exists for logic too branchy to vectorize
    cleanly; anything expressible as column math belongs in built-ins or
    pandas_udf (both demonstrated by sibling keys). The post-UDF
    aggregate is the usual map-side-combinable groupBy."""
    o = table(spark, sf_dir, "orders")
    bucket = _order_value_bucket_arrow()(F.col("o_totalprice"))
    return (
        o.select(bucket.alias("value_bucket"), "o_totalprice")
        .groupBy("value_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@query(
    "q_cogrouped_map",
    oracle="""
WITH e AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         ROUND(SUM(value), 4)     AS event_value
  FROM events GROUP BY user_id
),
o AS (
  SELECT o_custkey AS user_id,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         ROUND(SUM(o_totalprice), 2) AS order_value
  FROM orders GROUP BY o_custkey
)
SELECT COALESCE(e.user_id, o.user_id)   AS user_id,
       COALESCE(n_events, 0)            AS n_events,
       COALESCE(event_value, 0.0)       AS event_value,
       COALESCE(n_orders, 0)            AS n_orders,
       COALESCE(order_value, 0.0)       AS order_value
FROM e FULL OUTER JOIN o USING (user_id)
""",
)
def q_cogrouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped applyInPandas (`groupBy(...).cogroup(...)`) — the API for
    FULL-OUTER custom logic over two relations at once: one pandas
    function sees BOTH sides' rows for a cogroup key in the same call
    (either side possibly empty — semantics a join-then-groupBy can only
    emulate with null gymnastics). Here it emits the per-user
    activity/spend profile; the real use is logic SQL can't express —
    sequence alignment, per-entity model scoring — so the profile keeps
    the oracle exact while the plumbing (co-partitioned shuffle, Arrow
    batch per group, empty-side handling) is the production shape.

    Scale lesson baked in: the cogroup KEY is the 32-way hash SEGMENT,
    never the raw entity id — applyInPandas fires one Python call per
    key, so keying by entity at ~30 k keys costs ~30 k interpreter
    round-trips (the first cut measured 47 s; this shape runs in ~1 s).
    Per-entity full-outer alignment happens INSIDE each segment frame as
    one vectorized pd.merge. Both sides still pre-aggregate to entity
    grain map-side, so each segment frame is bounded model-state, and
    the segment count (not the entity count) bounds Python overhead at
    any corpus size."""
    import pandas as pd  # noqa: F811 - worker-side import parity

    from data_pipeline_aws_spark.functions.curation import stratum_bucket

    n_seg = 32
    e = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("event_value"),
        )
        .withColumn("seg", stratum_bucket(F.col("user_id"), n_seg))
    )
    o = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("order_value"),
        )
        .withColumn("seg", stratum_bucket(F.col("user_id"), n_seg))
    )

    def profile(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        merged = pd.merge(
            left[["user_id", "n_events", "event_value"]],
            right[["user_id", "n_orders", "order_value"]],
            on="user_id",
            how="outer",
        )
        return pd.DataFrame(
            {
                "user_id": merged["user_id"].astype("int64"),
                "n_events": merged["n_events"].fillna(0).astype("int64"),
                "event_value": merged["event_value"]
                .fillna(0.0)
                .astype("float64"),
                "n_orders": merged["n_orders"].fillna(0).astype("int64"),
                "order_value": merged["order_value"]
                .fillna(0.0)
                .astype("float64"),
            }
        )

    return e.groupBy("seg").cogroup(o.groupBy("seg")).applyInPandas(
        profile,
        "user_id long, n_events long, event_value double, "
        "n_orders long, order_value double",
    )
