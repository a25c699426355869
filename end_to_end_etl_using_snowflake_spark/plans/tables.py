"""Load the driver's TPC-H-ish Parquet tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file per table under the sf dir.

Scans stay declarative (``spark.read.parquet``) so Catalyst gets filter
pushdown + column pruning for free; at 100 TB these would be
partitioned/bucketed external tables, but the call sites are identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.skew import is_undersplit

TPCH_TABLES = (
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


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TPCH_TABLES:
        raise KeyError(f"unknown table {name!r}")
    if name == "events":
        # set at runtime too: the driver builds its own session without
        # engine defaults, and TIMESTAMP(NANOS) is unreadable without it
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        # normalize ts across testdata generations: TIMESTAMP(NANOS)
        # parquet arrives as long nanos (nanosAsLong) and is truncated
        # to micros with integer `div` (double division would lose
        # precision on e18 nanos); TIMESTAMP(MICROS) parquet arrives as
        # TIMESTAMP_NTZ and is kept as-is — both match DuckDB's naive
        # micro-second TIMESTAMP semantics.
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn(
                "ts",
                F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
            )
    return df


def rebalance_scan(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Rescue scan parallelism when the file layout undersplits.

    A parquet file with few row groups can't be split below row-group
    granularity, so a heavy-compute pipeline downstream of the scan
    (wide joins, many decimal aggregates) runs on a handful of tasks
    no matter how many cores exist. When the scan's partition count is
    below the cluster's parallelism, one round-robin exchange of the
    scanned rows buys full-width execution for everything after it —
    measured 1.8x on the flagship rebuild (3.3 s -> 1.9 s at sf0.1,
    single-row-group fixture).

    When the layout is already well-split (the 100 TB case: thousands
    of row groups / files), the condition is false and this is a
    no-op — the extra shuffle is NOT paid. Only use below compute-heavy
    pipelines; for cheap scans the exchange costs more than it buys
    (measured: +4 s total when applied to every load).
    """
    if is_undersplit(df, spark):
        return df.repartition(spark.sparkContext.defaultParallelism)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (mirrors the DuckDB oracle's
    pre-registered views, so ``spark.sql`` text can be shared). Also
    enables Spark 4.1's native TIME type on the session — the TO_TIME
    family (f44) lowers onto it, and the driver runs builders on a
    BARE session where the flag is off by default — and registers the
    codec UDFs (COMPRESS family, f48)."""
    from ..functions.codecs import ensure_codec_udfs

    spark.conf.set("spark.sql.timeType.enabled", "true")
    ensure_codec_udfs(spark)
    for name in TPCH_TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
