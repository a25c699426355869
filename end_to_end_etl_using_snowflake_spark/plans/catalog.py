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
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.dml import ParquetTable, data_files, empty_frame
from ..streaming.changelog import Changelog

SCHEMAS = ("stg", "raw", "transformed")


class ManagedTable:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        partition_by: Sequence[str] = (),
    ):
        self.spark = spark
        self.path = path
        self.schema = schema
        self.storage = ParquetTable(spark, path, partition_by)
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
        # readable. The trailing select drops derived partition-key
        # columns (e.g. the incremental mode's __month): partition
        # discovery on a root-directory read appends them even under a
        # user schema — they are directory metadata, not table columns.
        return (
            self.spark.read.schema(self.schema)
            .parquet(self.storage.path)
            .select(*[f.name for f in self.schema.fields])
        )

    def identity_max(self, col: str) -> int:
        """Seed for an identity column: its stored maximum, 0 for a
        missing or empty table. Read from the parquet footers
        (``ParquetTable.column_max`` — driver metadata, no Spark job);
        when a row group lacks statistics it falls back to one scan."""
        if not self.storage.exists():
            return 0
        m = self.storage.column_max(col)
        if m is None:
            m = self.read().agg(F.max(col)).first()[0]
        return int(m) if m is not None else 0

    def read_partitions(self, values: Sequence[str]) -> DataFrame:
        """Path-pruned read: ONLY the listed partition-directory values
        of the (single) partition column are opened — the physical form
        of partition pruning the partition-pruned MERGE relies on. At
        100 TB this is the difference between listing the whole table
        and listing the touched day/month directories. Values absent on
        disk are skipped (a batch can carry brand-new partitions)."""
        (pcol,) = self.storage.partition_by
        # Spark percent-escapes special chars in partition dir names;
        # this path-level lookup only supports values that need no
        # escaping (true for the __month 'YYYY-MM' keys). Fail loudly
        # rather than silently skipping an escaped directory.
        unsafe = [v for v in values if any(c in "/\\:%#?{}[]" for c in str(v))]
        if unsafe:
            raise ValueError(f"non-path-safe partition values: {unsafe!r}")
        dirs = [
            os.path.join(self.storage.path, f"{pcol}={v}")
            for v in values
            if os.path.exists(os.path.join(self.storage.path, f"{pcol}={v}"))
        ]
        if not dirs:
            # brand-new partitions: the same empty LocalRelation as a
            # missing table, so the MERGE against them loses its joins
            return empty_frame(self.spark, self.schema)
        return self.spark.read.schema(self.schema).parquet(*dirs)

    def append(self, df: DataFrame, action: str = "INSERT") -> int:
        """INSERT INTO + change record. For an unpartitioned table the
        batch is computed and written ONCE — the changelog commit
        records the same rows, then the table append hardlinks the
        just-written version files (r16: the old shape ran the full
        input plan twice, e.g. the pipe ingest re-read every landing
        CSV for the changelog job). Crash between record and link:
        change rows exist that the table lacks — same class as the old
        order's inverse window; callers re-run (COPY's write-then-mark
        re-loads, merges dedup per key), so the step stays idempotent.
        Partitioned tables keep the two-write path (their table layout
        differs from the changelog's)."""
        if self.storage.partition_by:
            self.storage.append(df)
            return self.changelog.record(df, action)
        version = self.changelog.record(df, action)
        src = os.path.join(
            self.changelog.log_path, f"_version={version}", f"_action={action}"
        )
        os.makedirs(self.storage.path, exist_ok=True)
        for path in data_files(src):
            f = os.path.basename(path)
            target = os.path.join(self.storage.path, f)
            if os.path.exists(target):  # part names are unique
                target = os.path.join(self.storage.path, f"v{version}-{f}")
            os.link(path, target)
        return version

    def overwrite(self, df: DataFrame, changes: DataFrame | None = None, action: str = "UPSERT") -> int:
        """Atomic replace; ``changes`` (default: the full new content)
        is what lands in the changelog — for a MERGE pass the applied
        source batch, not the whole post-state.

        Order matters: the changelog is recorded BEFORE the swap so both
        plans read the pre-swap table (ParquetTable.overwrite itself is
        write-temp-then-rename, so ``df`` reading this table is safe).
        A crash in between leaves extra change rows; re-running the step
        is safe because downstream merges are idempotent per key.

        ``changes=None`` + unpartitioned table takes the shared-write
        path (r16): ``df`` is computed and written once to the temp
        dir, the changelog version hardlinks those files
        (Changelog.record_linked — zero copies), then the swap lands.
        Same crash discipline: the changelog still commits before the
        table becomes visible.
        """
        if changes is None and not self.storage.partition_by:
            tmp = self.storage.write_tmp(df)
            version = self.changelog.record_linked(tmp, action)
            self.storage.swap_tmp(tmp)
            return version
        version = self.changelog.record(changes if changes is not None else df, action)
        self.storage.overwrite(df)
        return version

    def overwrite_partitions(
        self, df: DataFrame, changes: DataFrame | None = None, action: str = "UPSERT"
    ) -> int:
        """Partition-scoped replace (the partition-pruned MERGE commit):
        only the partitions present in ``df`` are rewritten; the
        changelog records the applied batch exactly as ``overwrite``
        does, so stream consumers are agnostic to which commit path a
        producer used. Same ordering/crash discipline as ``overwrite``.
        """
        version = self.changelog.record(changes if changes is not None else df, action)
        self.storage.overwrite_partitions(df)
        return version

    def truncate(self) -> int:
        """M5 TRUNCATE (customer-...sql:172)."""
        self.storage.truncate(self.schema)
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
        partition_by: Sequence[str] = (),
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
