"""SparkSession builder + catalog bootstrap.

The reference pins a single virtual warehouse (``ayo_warehouse``,
reference README.md:21) and one database ``demo`` with schemas
``stg``/``raw``/``transformed`` (README.md:26,31-33). In Spark the
"warehouse" is the session itself; the schemas become catalog databases.

Scale posture (100 TB north star, tested on local[*]):

- AQE on: runtime coalesce, skew-join splitting, dynamic broadcast.
- ``spark.sql.shuffle.partitions`` defaults to a small local value; on a
  real cluster set it ~2-3x total cores (or rely on AQE coalesce from a
  high initial value).
- ANSI mode stays ON (Spark 4 default) to match Snowflake's strict
  implicit-cast behavior (bad varchar->number casts raise, not NULL).
- Arrow enabled for the Pandas-UDF slow path (vector ops, multimodal).
- Spark's generated-code cache holds ``CODEGEN_CACHE_ENTRIES`` (1000)
  compiled classes, not the default 100. The medallion pipeline's
  wake-ups reuse about 112 classes per backfill load and about 216
  per trickle cycle; an LRU of 100 evicts each class before its next
  use, so every warm wake-up recompiled 73-76 (backfill) or 164-169
  (trickle) Janino classes, and each new class also starts over in
  the JIT. At about 3x both working sets, a warm wake-up compiles
  nothing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

SCHEMAS = ("stg", "raw", "transformed")

# ``spark.sql.codegen.cache.maxEntries`` (a static conf, default 100):
# about 3x the generated classes the pipeline's warm wake-ups reuse
# (~112 backfill + ~216 trickle, counted with CodegenMetrics'
# compilation-time histogram); any size above ~250 measured the same
CODEGEN_CACHE_ENTRIES = 1000


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "end_to_end_etl_spark",
    warehouse_dir: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) the engine session.

    ``warehouse_dir`` is where managed tables live (the Snowflake
    "database storage" analog). Local tests point it at a tmpdir.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 2 * cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE re-coalesce shuffles INSIDE cached plans too — without
        # this every .persist() pins its pre-AQE partition count and the
        # pipeline's CDC-batch caches run wide stages of empty tasks
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # Files: pack small files, split big ones; 128 MiB tasks are the
        # sweet spot for 100 TB scans (and irrelevant-but-harmless locally).
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # ...but never scan with fewer splits than the machine has cores:
        # a single sub-128MiB parquet file otherwise becomes ONE task and
        # serializes the whole map side (scan -> join -> partial agg). At
        # cluster scale files >> cores and this floor is a no-op.
        .config("spark.sql.files.minPartitionNum", str(2 * cpus))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # the events table stores TIMESTAMP(NANOS); Spark has no nanos
        # type, so read as long and convert (plans.tables.load)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Spark 4.1's native TIME type (gated off by default): the
        # Snowflake TO_TIME/TIME_FROM_PARTS/::TIME surface needs it
        .config("spark.sql.timeType.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    if not os.environ.get("SPARK_GRAFT_EXTERNAL_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    if warehouse_dir:
        builder = builder.config("spark.sql.warehouse.dir", warehouse_dir)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def bootstrap_catalog(spark: SparkSession) -> None:
    """Create the reference's three schemas as catalog databases
    (reference README.md:31-33: ``create schema stg/raw/transformed``)."""
    for schema in SCHEMAS:
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {schema}")
