"""Loaders for the driver's synthetic parquet tables (TESTDATA.md).

``events.ts`` has shipped in two physical layouts across driver
rounds: TIMESTAMP(NANOS) — which Spark's vectorized reader rejects,
so ``spark.sql.legacy.parquet.nanosAsLong`` reads it as a raw ns
bigint — and plain TIMESTAMP(MICROS) (isAdjustedToUTC=false → Spark
TIMESTAMP_NTZ). Both normalize to the same two columns here:
``ts`` (session-TZ TimestampType, µs precision — matching what DuckDB
produces when it coerces ns → µs, so oracle comparisons line up) and
``ts_ns`` (raw ns bigint, used by the event→broker seeder).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType

from ..session import ensure_confs

# Deterministic repartition key per table for widen_scan (a real,
# high-cardinality column — hash repartitioning on it is stable under
# task retry, unlike rand-derived keys; optimization guide §2.5).
_WIDEN_KEYS = {
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}

# (sf_dir, table, parallelism) -> scan split count, memoized because
# .rdd.getNumPartitions() costs ~50 ms of driver-side plan conversion
# and the file layout is static for a session.
_SCAN_PARTS: dict[tuple, int] = {}


def widen_scan(df: DataFrame, name: str, sf_dir: str = "") -> DataFrame:
    """Scale-adaptive scan parallelization (optimization guide §2.5:
    "input skew — one huge unsplittable file … repartition immediately
    after the read").

    The driver's test parquet is one file with ONE row group per
    table, so every scan plans as a single effective task and all
    scan-side work (tokenize/shingle/md5, vector arithmetic, partial
    aggregation) serializes on one core while the rest idle. This
    helper hash-repartitions the freshly-read table to the session's
    default parallelism — but ONLY when the scan's own split count is
    below that parallelism. At production scale a 100 TB table scans
    as thousands of splits, the guard is false, and the plan is
    byte-identical to the un-widened one (no exchange is ever added);
    the repartition is therefore a local-input-skew fix, not a
    constant tuned for local mode. Callers opt in per query: it pays
    off exactly where per-row scan-side CPU dominates the (tiny)
    shuffle of the table (measured r15: 2.3x on the shingle+md5 pass,
    a regression on cheap scans like q06/q14 — so it is NOT default).
    """
    spark = df.sparkSession
    p = spark.sparkContext.defaultParallelism
    ck = (sf_dir, name, p)
    n = _SCAN_PARTS.get(ck)
    if n is None:
        _SCAN_PARTS[ck] = n = df.rdd.getNumPartitions()
    if n >= p:
        return df
    return df.repartition(p, _WIDEN_KEYS[name])


def load_table(
    spark: SparkSession, sf_dir: str, name: str, widen: bool = False
) -> DataFrame:
    ensure_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        if isinstance(df.schema["ts"].dataType, LongType):
            # ns-bigint layout: integer DIV keeps full precision (a
            # double division of an ~1.7e18 ns value would round in
            # the last µs digit)
            df = df.withColumnRenamed("ts", "ts_ns").withColumn(
                "ts", F.expr("timestamp_micros(CAST(ts_ns DIV 1000 AS LONG))")
            )
        else:
            # µs layout (TIMESTAMP or TIMESTAMP_NTZ): with the session
            # TZ pinned to UTC the NTZ→TZ cast is an exact relabel
            df = df.withColumn("ts", F.col("ts").cast("timestamp")).withColumn(
                "ts_ns", F.expr("unix_micros(ts) * CAST(1000 AS LONG)")
            )
    if widen:
        df = widen_scan(df, name, sf_dir)
    return df
