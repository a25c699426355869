"""Named file formats — the Snowflake ``CREATE FILE FORMAT`` analog.

The reference defines exactly one (type=CSV, README.md:38-45; see
``csv_format`` for the translation), but Snowflake file formats are
named, reusable parse specs covering JSON/Parquet/Avro too — this
module is that abstraction for the engine's ingest layer: a format
object any stage/pipe can reference by value.

Scale note: format choice is a per-file-reader concern; exactly-once
ingest (the load manifest) and the stage-table contract are
format-agnostic, so COPY INTO and pipes take a format parameter rather
than hard-coding CSV.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .csv_format import CSV_OPTIONS


@dataclass(frozen=True)
class FileFormat:
    """type + reader options; ``fmt`` is any Spark datasource name."""

    fmt: str
    options: Mapping[str, str] = field(default_factory=dict)

    def read(
        self,
        spark: SparkSession,
        paths: Sequence[str],
        schema: T.StructType | None = None,
    ) -> DataFrame:
        reader = spark.read.format(self.fmt).options(**self.options)
        if schema is not None:
            reader = reader.schema(schema)
        return reader.load(list(paths))


# the reference's named CSV format (README.md:38-45)
CSV_FORMAT = FileFormat("csv", CSV_OPTIONS)

# JSON lines (Snowflake type=JSON with strip_outer_array=false):
# one object per line, schema-on-read against the stage schema;
# fields absent from a record -> NULL (PERMISSIVE), matching the CSV
# format's error_on_column_count_mismatch=false posture.
JSON_FORMAT = FileFormat("json", {"mode": "PERMISSIVE"})

# Parquet stage files (Snowflake type=PARQUET): self-describing;
# schema argument still enforced for the stage-table contract.
PARQUET_FORMAT = FileFormat("parquet", {})

# ORC stage files (Snowflake type=ORC): same self-describing contract
# as Parquet, second columnar interchange format.
ORC_FORMAT = FileFormat("orc", {})
