"""Warehouse + managed tables: the Snowflake database/schema/table
surface (reference README.md:21-33) on a Parquet directory tree.

    <base>/<schema>/<table>/            parquet data
    <base>/<schema>/<table>.__changelog under the same name (streams)

``ManagedTable`` couples the atomic-overwrite ParquetTable with its
Changelog so every mutation records change rows — the engine invariant
that makes streams (T1/T2) work. ``show_*`` provide the S7 catalog
introspection surface (customer-...sql:205-207).
"""

from __future__ import annotations

import os
from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.dml import ParquetTable, data_files, empty_frame, parquet_row_count
from ..streaming.changelog import Changelog

SCHEMAS = ("stg", "raw", "transformed")


class ManagedTable:
    """``partition_by`` declares the partition key once, as ``{name:
    expression over the logical columns}`` (Iceberg's hidden
    partitioning): ``_commit`` derives it, it exists only as
    ``<name>=<value>`` directories, and callers pass and get back
    logical rows only."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        partition_by: Mapping[str, Column] | None = None,
    ):
        self.spark = spark
        self.path = path
        self.schema = schema
        self.partition_by = dict(partition_by or {})
        self.storage = ParquetTable(spark, path, list(self.partition_by))
        self.changelog = Changelog(spark, path)

    @property
    def name(self) -> str:
        return os.path.basename(self.path)

    def read(self) -> DataFrame:
        if not self.storage.exists():
            # an empty LocalRelation: zero tasks, and every join or
            # union branch fed by it is pruned by the optimizer — the
            # initial-load MERGE plans as a projection (dml.empty_frame)
            return empty_frame(self.spark, self.schema)
        # explicit schema: skips footer inference, keeps the declared
        # column order for partitioned layouts, and makes an empty
        # partitioned directory (a zero-row overwrite writes no files)
        # readable. The trailing select drops the partition key:
        # partition discovery on a root-directory read appends it even
        # under a user schema.
        return (
            self.spark.read.schema(self.schema)
            .parquet(self.storage.path)
            .select(*[f.name for f in self.schema.fields])
        )

    def touched(self, batch: DataFrame) -> list | None:
        """The partition-key values the rows of ``batch`` (logical
        columns) map to: one Spark job, O(distinct values) on the
        driver. None, with no job, for a flat or missing table: the
        batch touches all of it."""
        if not self.partition_by or not self.storage.exists():
            return None
        (key,) = self.partition_by.values()
        return [r[0] for r in batch.select(key).distinct().collect()]

    def identity_max(self, col: str, replaced: Sequence | None = ()) -> int:
        """Seed for an identity column: its stored maximum, 0 for a
        missing or empty table or for a commit that replaces all of it
        (``replaced`` None, a flat table's ``touched``), so a rebuild
        numbers from 1. A partition replace continues past every stored
        key, the replaced partitions' included, so no key is reused.
        Read from the parquet footers (``ParquetTable.column_max`` —
        driver metadata, no Spark job); when a row group lacks
        statistics it falls back to one scan."""
        if replaced is None or not self.storage.exists():
            return 0
        m = self.storage.column_max(col)
        if m is None:
            m = self.read().agg(F.max(col)).first()[0]
        return int(m) if m is not None else 0

    def read_partitions(self, values: Sequence | None) -> DataFrame:
        """Path-pruned read of the partitions of key ``values`` (None:
        all of the table) — the physical partition pruning of the
        partition-pruned MERGE: at 100 TB, listing the touched month
        directories instead of the whole table. Values absent on disk
        are skipped (a batch can carry brand-new partitions)."""
        if values is None:
            return self.read()
        dirs = self._stored_dirs(values)
        if not dirs:
            # brand-new partitions: the same empty LocalRelation as a
            # missing table, so the MERGE against them loses its joins
            return empty_frame(self.spark, self.schema)
        return self.spark.read.schema(self.schema).parquet(*dirs)

    def stored_rows(self, values: Sequence | None, limit: int) -> int | None:
        """The rows ``read_partitions(values)`` reads, summed from the
        parquet footers (driver metadata, no Spark job); None once the
        sum passes ``limit``, so at most the footers of about ``limit``
        rows are read."""
        dirs = [self.storage.path] if values is None else self._stored_dirs(values)
        n = 0
        for d in dirs:
            for path in data_files(d):
                n += parquet_row_count(path)
                if n > limit:
                    return None
        return n

    def _stored_dirs(self, values: Sequence) -> list[str]:
        """The directories of partition-key ``values`` that exist."""
        dirs = [os.path.join(self.storage.path, d) for d in self._partition_dirs(values)]
        return [d for d in dirs if os.path.exists(d)]

    def _partition_dirs(self, values: Sequence) -> list[str]:
        """The directories, relative to the table, of partition-key
        ``values``, each once."""
        (pcol,) = self.storage.partition_by
        # Spark writes a NULL (or empty) value to its default partition
        values = dict.fromkeys(
            "__HIVE_DEFAULT_PARTITION__" if v in (None, "") else str(v) for v in values
        )
        # Spark percent-escapes special chars in partition dir names;
        # this path-level lookup only supports values that need no
        # escaping (true for the __month 'YYYY-MM' keys). Fail loudly
        # rather than silently skipping an escaped directory.
        unsafe = [v for v in values if any(c in "/\\:%#?{}[]" for c in v)]
        if unsafe:
            raise ValueError(f"non-path-safe partition values: {unsafe!r}")
        return [f"{pcol}={v}" for v in values]

    def _commit(
        self, df: DataFrame, changes: DataFrame | None, action: str, keep: Sequence[str] = ()
    ) -> int:
        """The one commit behind every mutation: write ``df`` (logical
        rows) once, with the partition key derived from them, in the
        table's layout, to a temp directory and record the change
        version — by hard-linking those files when ``changes`` is None
        (the change rows are the rows written), else by writing
        ``changes``, e.g. a MERGE's applied batch; then publish the
        temp with the live paths ``keep`` linked in, after the version
        (``ParquetTable.publish``). Both plans run before the publish,
        so ``df`` may read this table. A crash before the version's
        meta write leaves temps, which reopening the table removes, and
        maybe an unread ``_version`` the next commit replaces; a crash
        after it, before the publish's last rename, leaves change
        rows the table lacks, and callers re-run the step (COPY
        re-loads unmarked files, merges are idempotent per key)."""
        # a given batch is written first: it is the cached source of
        # df's plan, and a filled cache saves that plan a Spark job
        if changes is not None:
            version = self.changelog.record(changes, action)
        if self.partition_by:
            df = df.withColumns(self.partition_by)
        tmp = self.storage.write_tmp(df)
        if changes is None:
            version = self.changelog.record_linked(tmp, action)
        self.storage.publish(tmp, keep)
        return version

    def append(self, df: DataFrame, action: str = "INSERT") -> int:
        """INSERT INTO: the written rows are the change rows, and the
        new table keeps every live file. Unpartitioned tables only,
        refused before anything is written: no caller appends to a
        partitioned one."""
        if self.storage.partition_by:
            raise ValueError(f"append to a partitioned table: {self.path}")
        return self._commit(df, None, action, self.storage.files())

    def overwrite(self, df: DataFrame, changes: DataFrame | None = None, action: str = "UPSERT") -> int:
        """Atomic replace of the whole table by ``df``. ``changes``
        (default: the rows written) is what lands in the changelog."""
        return self._commit(df, changes, action)

    def overwrite_partitions(
        self,
        df: DataFrame,
        changes: DataFrame | None = None,
        action: str = "UPSERT",
        replaced: Sequence | None = None,
    ) -> int:
        """Partition-scoped replace (the partition-pruned MERGE commit):
        the partitions the rows of ``df`` map to and those of key values
        ``replaced`` are rewritten, the others are kept, and a missing
        table is created. A ``replaced`` value no row of ``df`` maps to
        loses its partition: a recompute that yields no rows for it
        drops the old ones. An unpartitioned table is one
        partition, so it is replaced whole, as ``overwrite`` does.
        ``changes`` as in ``overwrite``, so stream consumers do not
        depend on which commit a producer used."""
        keep = self.storage.partitions()
        if replaced and keep:
            gone = set(self._partition_dirs(replaced))
            keep = [d for d in keep if d not in gone]
        return self._commit(df, changes, action, keep)

    def truncate(self) -> int:
        """M5 TRUNCATE (customer-...sql:172)."""
        self.storage.truncate()
        return self.changelog.bump()


class Warehouse:
    """One directory tree = one Snowflake database ('demo')."""

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir
        self._tables: dict[tuple[str, str], ManagedTable] = {}
        for schema in SCHEMAS:
            os.makedirs(os.path.join(base_dir, schema), exist_ok=True)

    def table(
        self,
        schema: str,
        name: str,
        struct: T.StructType,
        partition_by: Mapping[str, Column] | None = None,
    ) -> ManagedTable:
        if schema not in SCHEMAS:
            raise KeyError(f"unknown schema {schema!r}")
        key = (schema, name)
        if key not in self._tables:
            self._tables[key] = ManagedTable(
                self.spark, os.path.join(self.base_dir, schema, name), struct, partition_by
            )
        return self._tables[key]

    # -- S7 catalog introspection ------------------------------------------
    def show_tables(self) -> DataFrame:
        rows = [
            (s, n, t.changelog.version, t.storage.exists())
            for (s, n), t in sorted(self._tables.items())
        ]
        return self.spark.createDataFrame(
            rows, "schema string, name string, version long, has_data boolean"
        )

    def show_streams(self) -> DataFrame:
        rows = []
        for (s, n), t in sorted(self._tables.items()):
            meta = t.changelog._read_meta()
            for consumer, offset in sorted(meta["offsets"].items()):
                rows.append((s, n, consumer, offset, meta["version"]))
        return self.spark.createDataFrame(
            rows,
            "schema string, table string, consumer string, offset long, version long",
        )

    def show_columns(self) -> DataFrame:
        """SHOW COLUMNS / INFORMATION_SCHEMA.COLUMNS: every registered
        table's typed DDL as rows — the introspection surface BI tools
        and migration scripts read. Pure catalog metadata (the
        in-memory structs the S5 typed DDL declared), no file I/O."""
        rows = []
        for (s, n), t in sorted(self._tables.items()):
            for i, f in enumerate(t.schema.fields):
                rows.append(
                    (s, n, i + 1, f.name, f.dataType.simpleString(), f.nullable)
                )
        return self.spark.createDataFrame(
            rows,
            "schema_name string, table_name string, ordinal long, "
            "column_name string, data_type string, nullable boolean",
        )

    def get_ddl(self, name: str) -> str:
        """``GET_DDL('TABLE', '<name>')`` (r12): reconstruct the
        Snowflake-style CREATE statement from the registered typed
        struct — the reverse of the S5 typed-DDL declaration, so a
        user can round-trip a table definition out of the engine.
        Spark types render as their Snowflake spellings (STRING ->
        VARCHAR, BIGINT -> NUMBER(38,0), DOUBLE -> FLOAT, DECIMAL ->
        NUMBER(p,s), TIMESTAMP -> TIMESTAMP_NTZ); a partitioned
        layout surfaces as CLUSTER BY, the physical contract sql53
        gives that clause. Name resolves as schema.name or by unique
        short name; unknown/ambiguous names refuse."""
        low = name.lower()
        hits = [
            k for k in self._tables
            if f"{k[0]}.{k[1]}".lower() == low or k[1].lower() == low
        ]
        if len(hits) != 1:
            raise ValueError(
                f"GET_DDL: table {name!r} is "
                + ("ambiguous: " + str(sorted(hits)) if hits
                   else "not registered")
            )
        (schema, tname) = hits[0]
        t = self._tables[(schema, tname)]
        sf = {
            "string": "VARCHAR", "bigint": "NUMBER(38,0)",
            "int": "NUMBER(38,0)", "smallint": "NUMBER(38,0)",
            "double": "FLOAT", "float": "FLOAT", "boolean": "BOOLEAN",
            "date": "DATE", "timestamp": "TIMESTAMP_NTZ",
            "timestamp_ntz": "TIMESTAMP_NTZ", "binary": "BINARY",
        }
        cols = []
        for f in t.schema.fields:
            s = f.dataType.simpleString()
            if s.startswith("decimal("):
                typ = "NUMBER" + s[len("decimal"):]
            else:
                typ = sf.get(s, s.upper())
            cols.append(
                f"\t{f.name} {typ}{'' if f.nullable else ' NOT NULL'}"
            )
        ddl = (
            f"create or replace TABLE {schema.upper()}.{tname.upper()} (\n"
            + ",\n".join(cols) + "\n)"
        )
        if t.storage.partition_by:
            ddl += " cluster by (" + ", ".join(t.storage.partition_by) + ")"
        return ddl + ";"
