"""DML rewrites for plain-Parquet tables (SURVEY §2.8 M3-M7).

Snowflake gives row-level DML; plain Parquet gives atomic directory
swap. Every mutation is therefore expressed as "compute the post-state
DataFrame, then atomically replace the table" — which is also the right
shape at 100 TB (rewrite only affected partitions, never row-by-row).

Write protocol (crash-safe): ``write_parquet`` is the storage layer's
one Spark write. Every commit writes its rows once, in the table's
layout, to a fresh ``<table>.__tmp_<uuid>``; nothing there is visible
until a rename publishes it:

- table commit (``ParquetTable.publish``): the live data files the
  commit keeps are hard-linked into the temp (an append keeps every
  file, a partition overwrite the partitions the temp does not write,
  an overwrite or truncate nothing); then the live table renames into
  ``<table>.__old_<uuid>`` and the temp's in. A published table
  directory is never modified in place;
- transaction: the temp renames to ``<table>.__txn_<id>`` and the
  intent marker publishes it (``MultiTableTransaction``);
- changelog version: the temp's files are hard-linked into a staging
  directory that renames to ``_version=N`` (``Changelog.record_linked``).

A crash before the publish leaves only a temp no reader lists; a
crash between the two renames leaves the table missing. Opening the
table (``ParquetTable``) puts the newest ``__old_`` back in that case
and removes every other ``__old_`` and ``__tmp_`` sibling, so it reads
exactly its state before or after the commit. Re-running a failed step
is safe because every post-state computation here is idempotent for
the same inputs (MERGE included — see operators.merge).
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid
from collections.abc import Iterable, Iterator, Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def update_where(
    df: DataFrame, predicate: Column, assignments: Mapping[str, Column]
) -> DataFrame:
    """M6: ``UPDATE ... SET ... WHERE`` (order-...sql:377-387) as ONE
    conditional projection over the full table.

    SQL/Snowflake UPDATE evaluates the WHERE predicate and EVERY SET
    expression against the PRE-update row, so all assignments land in a
    single ``select`` over the original columns — ``UPDATE t SET a=b,
    b=a`` swaps. (Sequential ``withColumn`` calls would let a later SET
    expression see an earlier target's NEW value — ADVICE r8.)"""
    unknown = sorted(set(assignments) - set(df.columns))
    if unknown:
        raise ValueError(f"SET targets not columns of the table: {unknown}")
    return df.select(
        *[
            F.when(predicate, assignments[c]).otherwise(F.col(c)).alias(c)
            if c in assignments
            else F.col(c)
            for c in df.columns
        ]
    )


def delete_where(df: DataFrame, predicate: Column) -> DataFrame:
    """DELETE as its complement filter."""
    return df.filter(~predicate | predicate.isNull())


def empty_frame(spark: SparkSession, schema) -> DataFrame:
    """Zero-row relation with an exact schema (nullability included):
    an empty ``LocalRelation``, which scans as zero tasks and which the
    optimizer can SEE is empty.

    ``createDataFrame([], schema)`` parallelizes an empty PYTHON list
    into ``defaultParallelism`` partitions, and every downstream scan
    launches one Python worker per partition that produces zero rows
    (measured 3.2 s for three 32-partition scans, r17). An empty JVM
    RDD scans as zero tasks too, but as a ``LogicalRDD`` it is opaque
    to Catalyst. The empty ``LocalRelation`` is pruned by the first
    optimizer batch (``PropagateEmptyRelation``) together with every
    join and union branch it feeds: a MERGE into a missing table plans
    as exactly a projection of the source, with no caller-side "target
    is empty" flag. Accepts a StructType or DDL string.
    """
    return local_frame(spark, [], schema)


def local_frame(spark: SparkSession, rows: Sequence, schema) -> DataFrame:
    """Small literal DataFrame as a JVM ``LocalTableScan`` — zero
    tasks, no Python workers.

    ``createDataFrame(list)`` spreads the rows over
    ``defaultParallelism`` PYTHON partitions, so every scan of the
    literal launches that many Python workers (measured 1.15 s vs
    0.17 s for three scans of a 200-row literal). Routing the rows
    through a ``pyarrow.Table`` makes the conversion an Arrow batch
    that lands as a JVM LocalRelation regardless of the session's
    Arrow conf — exactly what Catalyst produces for a SQL VALUES list.

    ``rows`` are tuples with one value per schema column (a row of
    any other length raises, as ``createDataFrame`` does);
    ``schema`` is a DDL string or StructType.
    Verified type coverage: strings / longs / ints / doubles / bools
    (the literal-metadata shapes this engine builds driver-side);
    callers with dates, decimals or nested types should keep
    ``createDataFrame``.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    names = [f.name for f in schema.fields]
    for r in rows:
        if len(r) != len(names):
            raise ValueError(
                f"local_frame row has {len(r)} values for {len(names)} "
                f"columns: {r!r}"
            )
    tbl = pa.Table.from_pylist(
        [dict(zip(names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(tbl, schema=schema)


def _hidden(name: str) -> bool:
    """Spark's file-index rule: names starting with ``.`` and names
    starting with ``_`` are not data, except ``key=value`` partition
    directories such as a changelog's ``_version=3``."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def data_files(root: str) -> Iterator[str]:
    """Paths of the parquet data files under ``root`` — exactly the
    files a Spark scan of ``root`` reads, so footer counts and hard
    links agree with ``spark.read.parquet(root)``."""
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if not _hidden(d)]
        for f in files:
            if f.endswith(".parquet") and not _hidden(f):
                yield os.path.join(dirpath, f)


def parquet_row_count(path: str) -> int:
    """Exact row count of a parquet file, or of the data files under a
    directory, from the FOOTERS — O(files) driver-side metadata, no
    Spark job (the Snowflake COUNT(*)-from-micro-partition-metadata
    semantic). 0 for a missing path."""
    import pyarrow.parquet as pq

    files = [path] if os.path.isfile(path) else data_files(path)
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def parquet_schema(path: str) -> T.StructType:
    """The schema a Spark scan of a parquet file reads, from its FOOTER
    with no Spark job: the row metadata a Spark writer stores there
    (``org.apache.spark.sql.parquet.row.metadata``), else the file's
    own schema mapped as Spark maps it (a timestamp with no time zone
    reads as ``timestamp_ntz``); every level nullable, as Spark reads
    files."""
    import json

    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    def nullable(t: T.DataType) -> T.DataType:
        if isinstance(t, T.StructType):
            return T.StructType(
                [T.StructField(f.name, nullable(f.dataType), True, f.metadata) for f in t.fields]
            )
        if isinstance(t, T.ArrayType):
            return T.ArrayType(nullable(t.elementType), True)
        if isinstance(t, T.MapType):
            return T.MapType(nullable(t.keyType), nullable(t.valueType), True)
        return t

    meta = pq.read_metadata(path)
    stored = (meta.metadata or {}).get(b"org.apache.spark.sql.parquet.row.metadata")
    if stored is None:
        return nullable(from_arrow_schema(meta.schema.to_arrow_schema(), prefer_timestamp_ntz=True))
    return nullable(T.StructType.fromJson(json.loads(stored)))


def write_parquet(df: DataFrame, path: str, partition_by: Sequence[str] = ()) -> None:
    """The storage layer's one Spark write: ``df`` as parquet files in
    the new directory ``path``, one ``<col>=<value>`` directory level
    per ``partition_by`` column.

    Partitioned writes repartition by the partition key first: without
    it every upstream task writes a file into every partition it holds
    rows for (tasks x partitions small files — the listing tax then
    swamps every later scan). One shuffle buys one file per partition.
    At 100 TB, if single partitions outgrow one task, add a secondary
    spread key here (e.g. ``repartition(key, pmod(hash(id), k))``) —
    the layout contract (all rows of a partition value in its
    directory) is unchanged."""
    if partition_by:
        df = df.repartition(*[F.col(c) for c in partition_by])
    df.write.partitionBy(*partition_by).parquet(path)


def hardlink_tree(src: str, dst: str) -> None:
    """Copy a directory tree as hard links — O(files) metadata, zero
    bytes copied. Safe for this engine's write-once files."""
    for root, _dirs, files in os.walk(src):
        rel = os.path.relpath(root, src)
        dst_dir = dst if rel == "." else os.path.join(dst, rel)
        os.makedirs(dst_dir, exist_ok=True)
        for f in files:
            os.link(os.path.join(root, f), os.path.join(dst_dir, f))


def _swap(path: str, tmp: str, old: str) -> None:
    """Publish the complete directory ``tmp`` at ``path``: rename the
    live directory to ``old``, rename ``tmp`` in, delete ``old``."""
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def truncate(spark: SparkSession, df: DataFrame) -> DataFrame:
    """M5: ``TRUNCATE TABLE`` (customer-...sql:172) -> empty frame with
    the same schema."""
    return empty_frame(spark, df.schema)


class ParquetTable:
    """A managed Parquet table with atomic overwrite — the engine's
    storage primitive backing S5 table sinks (customer-...sql:3,16,31).

    ``overwrite`` implements M3 INSERT OVERWRITE (order-...sql:179) and
    the swap step of MERGE; ``append`` implements M4 INSERT INTO
    (order-...sql:306-339). ``partition_by`` names the partition
    columns of the rows written — ``ManagedTable`` derives them from its
    declared key — and ``overwrite_partitions`` turns a commit into a
    partition-level rewrite: at 100 TB the fact partitions by order
    month, so a daily batch rewrites the months it touches, not the
    table.
    """

    def __init__(self, spark: SparkSession, path: str, partition_by: Sequence[str] = ()):
        self.spark = spark
        self.path = path
        self.partition_by = list(partition_by)
        self._recover_swap()

    def _recover_swap(self) -> None:
        """Roll back a publish interrupted between its two renames: a
        missing table directory gets its newest ``__old_`` sibling back.
        Every other ``__old_`` and ``__tmp_`` sibling (a crashed write,
        change version or meta write, or an old copy not yet removed)
        is then removed, so the table reads exactly its committed
        state after a crash."""
        parent, name = os.path.split(self.path)
        if not os.path.isdir(parent):
            return
        strays = [
            os.path.join(parent, s)
            for s in os.listdir(parent)
            if s.startswith((f"{name}.__old_", f"{name}.__tmp_"))
        ]
        olds = sorted((p for p in strays if ".__old_" in p), key=lambda p: os.stat(p).st_ctime)
        if olds and not self.exists():
            os.rename(olds[-1], self.path)
            strays.remove(olds[-1])
        for p in strays:
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            else:
                os.remove(p)

    def exists(self) -> bool:
        return os.path.exists(self.path)

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.path)

    def append(self, df: DataFrame) -> None:
        self.publish(self.write_tmp(df), self.files())

    def overwrite(self, df: DataFrame, sidecar: Mapping[str, str] | None = None) -> None:
        """Atomic full overwrite via write-temp-then-swap. Safe even when
        ``df`` reads from this same table (the read plan resolves against
        the old directory until the swap).

        ``sidecar`` maps filename -> text content, written into the
        temp directory BEFORE the swap so data and metadata commit in
        the same atomic rename (e.g. DynamicTable's ``_applied_version``
        stamp). Names must start with ``_`` — Spark and parquet globs
        ignore underscore-prefixed files."""
        self.publish(self.write_tmp(df, sidecar))

    def write_tmp(self, df: DataFrame, sidecar: Mapping[str, str] | None = None) -> str:
        """The write half of every commit: materialize ``df`` once, in
        the table's layout, into a temp directory next to the table and
        return its path. A caller can hard-link the freshly written
        files into a changelog version before ``publish``."""
        tmp = f"{self.path}.__tmp_{uuid.uuid4().hex[:8]}"
        write_parquet(df, tmp, self.partition_by)
        for name, content in (sidecar or {}).items():
            if not name.startswith("_"):
                raise ValueError(f"sidecar files must be underscore-prefixed: {name}")
            with open(os.path.join(tmp, name), "w") as fh:
                fh.write(content)
        return tmp

    def files(self) -> list[str]:
        """The data files an append keeps, relative to the table."""
        return [os.path.relpath(p, self.path) for p in data_files(self.path)]

    def partitions(self) -> list[str]:
        """The partition directories, relative to the table, that a
        partition overwrite keeps unless its temp writes them."""
        if not self.partition_by:
            return []
        levels = [f"{c}=*" for c in self.partition_by]
        found = glob.glob(os.path.join(glob.escape(self.path), *levels))
        return [os.path.relpath(p, self.path) for p in found]

    def publish(self, tmp: str, keep: Iterable[str] = ()) -> None:
        """The commit half of every table write: hard-link each live
        path of ``keep`` (relative to the table) that ``tmp`` lacks into
        ``tmp`` — zero bytes copied, no kept file rewritten — then swap
        the complete ``tmp`` in with two renames. Opening the table
        rolls back a crash between them (``_recover_swap``)."""
        for rel in keep:
            src, dst = os.path.join(self.path, rel), os.path.join(tmp, rel)
            if os.path.lexists(dst):
                continue
            if os.path.isdir(src):
                hardlink_tree(src, dst)
            else:
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.link(src, dst)
        _swap(self.path, tmp, f"{self.path}.__old_{uuid.uuid4().hex[:8]}")

    def overwrite_partitions(self, df: DataFrame) -> None:
        """Replace only the partitions present in ``df`` (the
        O(touched partitions) fact maintenance path); the other
        partitions are kept. An unpartitioned table is one partition,
        so it is replaced whole."""
        self.publish(self.write_tmp(df), self.partitions())

    def truncate(self) -> None:
        """TRUNCATE is a metadata operation, not a job: publish an
        empty directory with the same atomic rename discipline as
        ``overwrite``. Readers handle a file-less table directory
        (ManagedTable.read supplies the schema explicitly), so there
        is nothing for Spark to compute — launching a zero-row write
        job here cost ~0.5 s per pipeline cycle for no work."""
        tmp = f"{self.path}.__tmp_{uuid.uuid4().hex[:8]}"
        os.makedirs(tmp)
        self.publish(tmp)

    def clone_to(self, path: str) -> "ParquetTable":
        """Zero-copy ``CREATE TABLE ... CLONE`` (the Snowflake
        metadata-clone semantic): hardlink every data file into the
        new table directory — O(files) metadata operations, ZERO bytes
        copied, instant at any table size. Correct because this
        engine's files are write-once and its table directories are
        never modified in place: every commit publishes a complete new
        directory (``publish``), hard-linking the files it keeps, and
        shared inodes survive the old directory's rmtree via their link
        count — so after cloning, either side may be overwritten,
        truncated, or appended to without the other observing it. At
        100 TB this is the difference between an instant
        dev/test/backup branch and a full-table copy job."""
        if os.path.exists(path):
            raise ValueError(f"clone target already exists: {path}")
        if not self.exists():
            raise ValueError(f"cannot clone a non-existent table: {self.path}")
        hardlink_tree(self.path, path)
        return ParquetTable(self.spark, path, partition_by=self.partition_by)

    def drop(self) -> None:
        """``DROP TABLE`` with retention (the Snowflake semantic: a
        dropped table is renamed into time-travel retention, not
        deleted, so ``UNDROP`` can restore it instantly). A pure
        metadata rename — O(1) at any table size. A second drop of a
        recreated table replaces the retained copy (Snowflake keeps
        one UNDROP generation per name by default)."""
        if not self.exists():
            raise ValueError(f"cannot drop a non-existent table: {self.path}")
        dropped = f"{self.path}.__dropped"
        if os.path.exists(dropped):
            shutil.rmtree(dropped, ignore_errors=True)
        os.rename(self.path, dropped)

    def undrop(self) -> None:
        """``UNDROP TABLE``: restore the retained dropped copy by
        renaming it back — refuses if a live table now holds the name
        (matching Snowflake, which requires renaming the live object
        first)."""
        dropped = f"{self.path}.__dropped"
        if not os.path.exists(dropped):
            raise ValueError(f"no dropped table in retention for: {self.path}")
        if self.exists():
            raise ValueError(
                f"cannot undrop over a live table (rename it first): {self.path}"
            )
        os.rename(dropped, self.path)

    def file_count(self) -> int:
        return sum(1 for _ in data_files(self.path))

    def column_max(self, col: str):
        """Exact column maximum from the parquet FOOTER statistics —
        O(files) driver-side metadata, no Spark job (r17): the same
        min/max every scan's zone-map pruning trusts, and the same
        mechanism Snowflake uses to answer MIN/MAX from micro-partition
        metadata. Returns None when the table is empty or ANY row group
        lacks usable stats for ``col`` (caller falls back to a scan) —
        never a silently-wrong value."""
        import pyarrow.parquet as pq

        if not self.exists():
            return None
        best = None
        for path in data_files(self.path):
            md = pq.ParquetFile(path).metadata
            try:
                idx = md.schema.names.index(col)
            except ValueError:
                return None
            for rg in range(md.num_row_groups):
                c = md.row_group(rg).column(idx)
                st = c.statistics
                if c.num_values == 0:
                    continue
                if st is None or not st.has_min_max:
                    return None
                best = st.max if best is None else max(best, st.max)
        return best

    def compact(self, max_files: int = 1) -> bool:
        """Small-file compaction: rewrite the table when its part-file
        count exceeds ``max_files`` (per partition for partitioned
        tables). A continuously-merging engine accretes small files —
        every append/cycle writes at least one — and small files tax
        every subsequent scan (footer reads, no intra-file parallelism
        worth having, object-store request amplification at 100 TB).
        Returns True when a rewrite happened.

        Unpartitioned: coalesce to ``max_files`` (narrow, no shuffle).
        Partitioned: the write clusters by the partition columns
        (``write_parquet``) -> one file per partition. The rewrite
        reuses the atomic overwrite swap, so readers never see
        a half-compacted table.
        """
        if not self.exists() or self.file_count() <= max_files:
            return False
        df = self.read()
        self.overwrite(df if self.partition_by else df.coalesce(max_files))
        return True


def incremental_agg_merge(
    fact: DataFrame,
    delta: DataFrame,
    keys: Sequence[str],
    sum_cols: Sequence[str],
    count_col: str | None = None,
) -> DataFrame:
    """Incremental fact maintenance: fold a delta's partial aggregates
    into an existing fact instead of rebuilding it.

    The reference rebuilds ``fact_order`` from ALL of raw_order every
    cycle (INSERT OVERWRITE, order-...sql:179) — O(history) per cycle.
    For additive measures (SUM/COUNT), the merge of partial aggregates
    IS the full aggregate, so a cycle only costs O(delta):

        new_fact = (fact ∪ agg(delta)) GROUP BY keys SUM each measure

    Exactness: decimal sums are associative; the result is bit-identical
    to the full rebuild (the oracle proves it). Non-additive measures
    (distinct counts, percentiles) need sketches or a rebuild — out of
    scope here, as in the reference.

    Scale: at 100 TB with a date-partitioned fact, pair with
    ``ParquetTable.overwrite_partitions`` so only partitions containing
    delta keys are rewritten.
    """
    cols = list(sum_cols) + ([count_col] if count_col else [])
    merged = fact.select(*keys, *cols).unionByName(delta.select(*keys, *cols))
    return merged.groupBy(*keys).agg(
        *[F.sum(c).alias(c) for c in cols]
    )


def multi_table_insert(
    spark: SparkSession,
    source: DataFrame,
    branches: Sequence[tuple[str, Column]],
    base_path: str,
    otherwise: str | None = None,
) -> dict[str, ParquetTable]:
    """Snowflake ``INSERT FIRST ... WHEN <cond> THEN INTO <t> ... ELSE
    INTO <t>`` — conditional multi-table insert from ONE scan of the
    source (order-end-to-end-pipeline-script.sql routes orders into a
    single fact; INSERT ALL/FIRST is the same surface's multi-target
    form).

    FIRST semantics come from the ``when``-chain: a row lands in the
    first branch whose condition matches (later branches never see it),
    and ``otherwise`` catches the rest. The implementation tags each
    row with its branch and writes ONE parquet dataset partitioned by
    the tag — one scan, one shuffle (clustering rows by branch), one
    write job, regardless of how many targets there are. Each branch's
    partition directory then IS that target table. At 100 TB this is
    the difference between N full scans (one per target) and one.
    """
    tag = None
    for name, cond in branches:
        tag = F.when(cond, F.lit(name)) if tag is None else tag.when(cond, F.lit(name))
    if otherwise is not None:
        tag = tag.otherwise(F.lit(otherwise))
    routed = source.withColumn("__branch", tag)
    if otherwise is None:
        routed = routed.filter(F.col("__branch").isNotNull())
    root = ParquetTable(spark, base_path, partition_by=["__branch"])
    root.overwrite(routed)
    names = [n for n, _ in branches] + ([otherwise] if otherwise else [])
    return {
        n: ParquetTable(spark, os.path.join(base_path, f"__branch={n}"))
        for n in names
    }


class MultiTableTransaction:
    """Atomic multi-table commit on plain-parquet tables — the
    Snowflake multi-statement transaction (``BEGIN ... COMMIT``)
    semantic: either EVERY table shows its new state or NONE does,
    even across a crash mid-commit.

    Protocol (write-ahead intent + roll-forward):

    1. stage: each table's post-state is written to a temp
       (``write_tmp``), which renames to ``<path>.__txn_<id>`` (crash
       here = garbage temps, tables untouched);
    2. intent: ONE marker file ``<dir>/__txn_<id>.json`` listing every
       (table, temp, old) rename — the commit point is this single
       atomic file creation;
    3. swap: each table's live dir renames away and the temp renames
       in (pure metadata);
    4. done: the marker is removed, old dirs deleted.

    A crash BEFORE step 2 leaves only temps -> ``recover`` rolls BACK
    (deletes temps; tables never changed). A crash AFTER step 2 (mid-
    swap) -> ``recover`` rolls FORWARD (finishes the remaining renames
    — each is idempotent: done if the temp is gone). Readers never see
    a torn state across a recovery boundary because visibility flips
    per the marker, exactly one table-rename at a time, and recovery
    completes the flip before the warehouse serves queries again (the
    reference relies on Snowflake's transaction manager for the same
    guarantee).

    At 100 TB the data writes are the same partition-level rewrites a
    single-table commit pays; the added transactional cost is one
    marker file + O(tables) renames.
    """

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir
        self.txn_id = uuid.uuid4().hex[:12]
        self._staged: list[tuple[str, str]] = []  # (live path, temp path)

    def stage(self, table: "ParquetTable", df: DataFrame) -> None:
        tmp = f"{table.path}.__txn_{self.txn_id}"
        os.rename(table.write_tmp(df), tmp)
        self._staged.append((table.path, tmp))

    @property
    def _marker(self) -> str:
        return os.path.join(self.base_dir, f"__txn_{self.txn_id}.json")

    def commit(self, crash_after_renames: int | None = None) -> None:
        """``crash_after_renames`` is test-only fault injection: raise
        mid-swap after N renames (AFTER the intent marker exists)."""
        import json

        intent = [{"live": live, "tmp": tmp} for live, tmp in self._staged]
        os.makedirs(self.base_dir, exist_ok=True)
        tmp_marker = f"{self._marker}.tmp"
        with open(tmp_marker, "w") as f:
            json.dump(intent, f)
        os.rename(tmp_marker, self._marker)  # THE commit point
        self._roll_forward(intent, crash_after_renames)

    def _roll_forward(self, intent, crash_after: int | None = None) -> None:
        done = 0
        for entry in intent:
            live, tmp = entry["live"], entry["tmp"]
            if crash_after is not None and done >= crash_after:
                raise RuntimeError(f"injected crash after {done} renames")
            if not os.path.exists(tmp):
                continue  # this rename already happened (recovery rerun)
            _swap(live, tmp, f"{live}.__old_{self.txn_id}")
            done += 1
        os.remove(self._marker)

    @classmethod
    def recover(cls, spark: SparkSession, base_dir: str) -> dict[str, int]:
        """Crash recovery for ``base_dir``: roll FORWARD every
        transaction whose intent marker exists, roll BACK (delete)
        orphaned temps with no marker. Idempotent; run before serving
        queries. Returns {'forward': n, 'back': n}."""
        import json

        stats = {"forward": 0, "back": 0}
        markers = []
        if os.path.isdir(base_dir):
            markers = [
                f for f in os.listdir(base_dir)
                if f.startswith("__txn_") and f.endswith(".json")
            ]
        committed_tmps = set()
        for m in markers:
            with open(os.path.join(base_dir, m)) as f:
                intent = json.load(f)
            committed_tmps.update(e["tmp"] for e in intent)
            txn = cls(spark, base_dir)
            txn._staged = [(e["live"], e["tmp"]) for e in intent]
            # borrow the marker's id so _marker resolves to this file
            txn.txn_id = m[len("__txn_"):-len(".json")]
            txn._roll_forward(intent)
            stats["forward"] += 1
        # orphaned temps (staged but never committed) roll back
        for root, dirs, _files in os.walk(base_dir):
            for d in list(dirs):
                full = os.path.join(root, d)
                if "__txn_" in d and full not in committed_tmps:
                    shutil.rmtree(full, ignore_errors=True)
                    dirs.remove(d)
                    stats["back"] += 1
        return stats
