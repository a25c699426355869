"""Engine-owned changelog: the Snowflake STREAM analog (SURVEY §2.10).

Snowflake streams (reference customer-...sql:48-49, item-...sql:40-41,
order-...sql:66-67) are CDC views over a table: consuming one inside a
DML statement atomically advances its offset, so the same changes are
never reprocessed (T1); change rows carry insert/update/delete actions
(T2).

Plain Parquet has no CDF, so each managed table keeps a companion
changelog directory that only ever gains whole versions:

    <table>.__changelog/_version=N/_action=A/part-*.parquet
                           table columns; _version/_action are
                           partition directories
    <table>.__meta.json    {"version": N, "offsets": {consumer: V},
                            "rows": {V: count}, "times": {V: ts}}

A version is published with one rename of a complete staging
directory to ``_version=N``; the meta's atomic replace then commits
it. A crash between the two leaves a ``_version=N`` above the meta's
version: readers never see it (they stop at the meta's version), and
the next commit of version N replaces it.

A *stream* is just a named consumer: reading returns rows with
``offsets[consumer] < _version <= version``; committing sets the
offset. The write-table -> commit-offset sequence is crash-safe the
same way Structured Streaming's is: a re-run re-reads the same batch
and the downstream MERGE is idempotent for identical input.

Scale: the changelog is partitioned by ``_version``, and a stream
read passes Spark the unread ``_version=N`` directories by name, so it
lists and opens the new versions only, however long the log's history
(past 32 unread versions, Spark lists them with a parallel job). It
reads them with the schema Spark stored in their parquet footers, so
no Spark job infers it. Metadata (one small JSON per table) stays on
the driver — row data never does.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.dml import (
    data_files,
    empty_frame,
    parquet_row_count,
    parquet_schema,
    write_parquet,
)

ACTION_COL = "_action"
VERSION_COL = "_version"


class Changelog:
    def __init__(self, spark: SparkSession, table_path: str):
        self.spark = spark
        self.table_path = table_path
        self.log_path = f"{table_path}.__changelog"
        self.meta_path = f"{table_path}.__meta.json"

    # -- metadata ----------------------------------------------------------
    def _read_meta(self) -> dict:
        if not os.path.exists(self.meta_path):
            return {"version": 0, "offsets": {}}
        with open(self.meta_path) as f:
            return json.load(f)

    def _write_meta(self, meta: dict) -> None:
        # a __tmp_ sibling of the table, which reopening it removes
        parent, name = os.path.split(self.table_path)
        fd, tmp = tempfile.mkstemp(prefix=f"{name}.__tmp_", dir=parent or ".")
        with os.fdopen(fd, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, self.meta_path)  # atomic

    @property
    def version(self) -> int:
        return self._read_meta()["version"]

    def offset(self, consumer: str) -> int:
        return self._read_meta()["offsets"].get(consumer, 0)

    # -- producer side -----------------------------------------------------
    def record(self, df: DataFrame, action: str, at: str | None = None) -> int:
        """Commit the rows of ``df`` as a new version; returns it.

        ``at`` optionally stamps the version's commit time (ISO text,
        injectable for determinism like the F1 clock) into the meta —
        the index ``AT (TIMESTAMP => ...)`` time travel resolves
        against (:meth:`version_at`). Unstamped versions are simply
        invisible to timestamp resolution.

        The rows are written once, flat, to a ``<table>.__tmp_<id>``
        sibling and published through :meth:`record_linked`, so both
        producers share one rename-published layout. ``_version`` and
        ``_action`` of ``df`` (a batch read from a stream carries
        them) are dropped: the new version's own values live in its
        directory names, and the parquet files carry exactly the
        table columns."""
        tmp = f"{self.table_path}.__tmp_{uuid.uuid4().hex[:8]}"
        write_parquet(df.drop(VERSION_COL, ACTION_COL), tmp)
        try:
            return self.record_linked(tmp, action, at)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def record_linked(
        self, src_dir: str, action: str, at: str | None = None
    ) -> int:
        """Commit a new version by HARDLINKING the parquet files of
        ``src_dir`` (a directory some producer just wrote in its
        table's layout) instead of running a second write job.
        Partition directories of ``src_dir`` are flattened into the
        version, so their keys (e.g. ``__month``) are not change
        columns, as ``ManagedTable.read()`` drops them too.

        The links go into a ``<table>.__tmp_<id>/_action=A`` staging
        directory, which one ``os.rename`` publishes as
        ``_version=N``, replacing any ``_version=N`` a crash left
        behind; the meta write then commits it. O(files) metadata
        work, zero bytes copied, shared write-once inodes (same trick
        as CLONE TABLE)."""
        meta = self._read_meta()
        stage = f"{self.table_path}.__tmp_{uuid.uuid4().hex[:8]}"
        dst = os.path.join(stage, f"{ACTION_COL}={action}")
        os.makedirs(dst)
        for path in data_files(src_dir):
            # partitionBy writes one part name into many partition
            # directories: the directory makes the link name unique
            part, f = os.path.split(os.path.relpath(path, src_dir))
            if part:
                f = f"{f[: -len('.parquet')]}.{part.replace(os.sep, '.')}.parquet"
            os.link(path, os.path.join(dst, f))
        version_dir = os.path.join(self.log_path, f"{VERSION_COL}={meta['version'] + 1}")
        shutil.rmtree(version_dir, ignore_errors=True)
        os.makedirs(self.log_path, exist_ok=True)
        os.rename(stage, version_dir)
        return self._add_version(meta, version_dir, at)

    def _add_version(self, meta: dict, version_dir: str | None, at: str | None = None) -> int:
        """Commit the version after ``meta``'s: the row count of the
        files in ``version_dir`` (None: zero) and commit time ``at``."""
        v = meta["version"] = meta["version"] + 1
        rows = parquet_row_count(version_dir) if version_dir else 0
        meta.setdefault("rows", {})[str(v)] = rows
        if at is not None:
            meta.setdefault("times", {})[str(v)] = at
        self._write_meta(meta)
        return v

    def version_at(self, ts: str) -> int:
        """Greatest version whose recorded commit time is <= ``ts``
        (ISO text comparison — both sides must use the same rendering);
        0 when no stamped version qualifies (= empty table, matching
        Snowflake's 'object did not exist at that time' boundary)."""
        times = self._read_meta().get("times", {})
        best = 0
        for v, t in times.items():
            if t <= ts:
                best = max(best, int(v))
        return best

    def version_before(self, ts: str) -> int:
        """Greatest version whose recorded commit time is strictly
        < ``ts`` — Snowflake's ``BEFORE (TIMESTAMP => ...)`` boundary
        (a version committed exactly AT the probe instant is
        excluded, unlike :meth:`version_at`); 0 when none qualifies."""
        times = self._read_meta().get("times", {})
        best = 0
        for v, t in times.items():
            if t < ts:
                best = max(best, int(v))
        return best

    def bump(self) -> int:
        """Version bump with no rows (e.g. TRUNCATE)."""
        return self._add_version(self._read_meta(), None)

    # -- consumer side (the "stream") --------------------------------------
    def stream_read(self, consumer: str) -> tuple[DataFrame, int]:
        """Unconsumed change rows + the version to commit after applying.

        The read opens the unread ``_version=N`` directories only (the
        log is the ``basePath``, so ``_version`` and ``_action`` stay
        columns): its cost follows the new data, not the log's history,
        and a version above the meta's (a commit that crashed before its
        meta write) is not read. The schema is the one the versions'
        writer stored (:meth:`_schema`), so no Spark job runs before an
        action. A range of truncate bumps alone, which write no
        directory, reads as an empty frame of that schema; a log with no
        data file reads as None, as a missing one does.
        """
        meta = self._read_meta()
        current = meta["version"]
        offset = meta["offsets"].get(consumer, 0)
        if not os.path.exists(self.log_path):
            return None, current
        dirs = [self._version_dir(v) for v in range(offset + 1, current + 1)]
        dirs = [d for d in dirs if os.path.isdir(d)]
        schema = self._schema(dirs, current)
        if schema is None:
            return None, current
        if not dirs:
            return empty_frame(self.spark, schema), current
        df = self.spark.read.schema(schema).option("basePath", self.log_path).parquet(*dirs)
        return df, current

    def _version_dir(self, version: int) -> str:
        return os.path.join(self.log_path, f"{VERSION_COL}={version}")

    def _schema(self, dirs: list[str], current: int) -> T.StructType | None:
        """The change rows' schema: the one Spark stored in the footer
        of the newest data file of ``dirs`` (else of the log's newest
        committed version), then ``_version`` int and ``_action``
        string, the types Spark infers for the directory names. None
        when no committed version holds a data file."""

        def newest_first():
            yield from reversed(dirs)
            prefix = f"{VERSION_COL}="
            listed = (e for e in os.listdir(self.log_path) if e.startswith(prefix))
            versions = sorted((int(e[len(prefix):]) for e in listed), reverse=True)
            yield from (self._version_dir(v) for v in versions if v <= current)

        for d in newest_first():
            for path in data_files(d):
                return T.StructType(
                    parquet_schema(path).fields
                    + [
                        T.StructField(VERSION_COL, T.IntegerType()),
                        T.StructField(ACTION_COL, T.StringType()),
                    ]
                )
        return None

    def stream_has_data(self, consumer: str) -> bool:
        """system$stream_has_data analog (customer-...sql:66): cheap
        check — metadata version compare + per-version row counts
        recorded at commit time, so it answers WITHOUT a Spark job
        (r16: the isEmpty probe cost one job per task-DAG gate — 6
        jobs per pipeline cycle)."""
        meta = self._read_meta()
        rows = meta.get("rows", {})
        offset = meta["offsets"].get(consumer, 0)
        return any(rows.get(str(v), 0) > 0 for v in range(offset + 1, meta["version"] + 1))

    def stream_rows(self, consumer: str, version: int) -> int | None:
        """The change rows ``stream_read`` returned with ``version``:
        the row counts recorded at commit of the consumer's unread
        versions, summed with no Spark job; None when one of them has
        no recorded count."""
        meta = self._read_meta()
        rows = meta.get("rows", {})
        offset = meta["offsets"].get(consumer, 0)
        counts = [rows.get(str(v)) for v in range(offset + 1, version + 1)]
        return None if None in counts else sum(counts)

    def stream_commit(self, consumer: str, version: int) -> None:
        """Advance the consumer offset (the transactional half of T1 —
        call after the consuming write lands)."""
        meta = self._read_meta()
        meta["offsets"][consumer] = version
        self._write_meta(meta)

    # -- retention ---------------------------------------------------------
    def vacuum(self, retain_versions: int = 1) -> list[int]:
        """Drop change partitions every consumer has consumed, keeping
        the last ``retain_versions`` for snapshot-as-of reads — the
        Snowflake time-travel retention analog.

        A continuously-merging engine grows its changelog without
        bound otherwise; at 100 TB retention is the difference between
        a bounded log and a second copy of history. Safety floor:
        never drop a version any consumer still has to read
        (min committed offset), then keep ``retain_versions`` below
        the head for time travel. Partition-level directory removal —
        no rewrite, O(dropped versions). Returns the versions dropped.
        """
        meta = self._read_meta()
        if not os.path.exists(self.log_path):
            return []
        offsets = meta["offsets"].values()
        consumer_floor = min(offsets) if offsets else meta["version"]
        cutoff = min(consumer_floor, meta["version"] - retain_versions)
        dropped = []
        for entry in sorted(os.listdir(self.log_path)):
            if not entry.startswith(f"{VERSION_COL}="):
                continue
            v = int(entry.split("=", 1)[1])
            if v <= cutoff:
                shutil.rmtree(os.path.join(self.log_path, entry), ignore_errors=True)
                dropped.append(v)
        return dropped


def snapshot_as_of(changes: DataFrame, keys, version: int) -> DataFrame:
    """Time-travel read: reconstruct the table state at ``version`` from
    a changelog (table columns + ``_action`` + ``_version``) — the
    latest change per key at or before the version wins; DELETE means
    the key is absent. This is the same replay the recovery path uses;
    Snowflake exposes it as ``AT (STATEMENT/TIMESTAMP ...)``.

    Scale: the changelog is partitioned by ``_version``, so the
    ``_version <= v`` filter prunes files before any shuffle; the
    window shuffles only changed keys, not the table.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(F.col(VERSION_COL).desc())
    latest = (
        changes.filter(F.col(VERSION_COL) <= version)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
    )
    return latest.filter(F.col(ACTION_COL) != "DELETE").drop(
        "__rn", ACTION_COL, VERSION_COL
    )


def table_changes(
    changes: DataFrame,
    keys,
    v_from: int,
    v_to: int,
    append_only: bool = False,
) -> DataFrame:
    """Snowflake ``CHANGES (INFORMATION => DEFAULT | APPEND_ONLY)``
    between two versions (r8): the MINIMAL row delta between the table
    state at ``v_from`` and at ``v_to`` — not the raw change journal.
    Matches Snowflake's documented net-change semantics:

    - a key present only at ``v_to`` -> one INSERT row
      (METADATA$ISUPDATE false),
    - present only at ``v_from`` -> one DELETE row carrying the OLD
      payload,
    - present in both with a differing payload -> the DELETE(old) +
      INSERT(new) pair, both METADATA$ISUPDATE true,
    - unchanged rows emit nothing (a row updated and reverted inside
      the interval is invisible — net semantics).

    ``append_only=True`` switches to Snowflake's documented
    APPEND_ONLY contract, which is JOURNAL-based, not net (ADVICE r8):
    every row genuinely APPENDED inside ``(v_from, v_to]`` surfaces —
    including rows inserted then deleted within the interval
    (Snowflake's 10-inserted/5-deleted example returns 10) and
    re-inserts under a key that was deleted earlier; updates to
    existing keys stay invisible. Derived from the journal itself: a
    change row is an append iff its action is insert-ish and the key's
    immediately-preceding journal action (if any) is DELETE.

    Scale: DEFAULT's endpoint snapshots replay with _version partition
    pruning (snapshot_as_of) and the diff is ONE keyed full-outer
    join + per-column null-safe comparison — no window over the raw
    journal, no cartesian. APPEND_ONLY is one keyed window (lag of
    _action) over journal rows pruned to ``_version <= v_to`` — the
    journal holds changed rows only, so both paths shuffle deltas,
    never the table. METADATA$ROW_ID is not emitted (the engine keys
    rows by the caller's key columns, which the output carries).
    Retention caveat (both flavors): versions vacuumed below v_from
    must still satisfy every consumer's offset floor (vacuum's
    contract) or prior-existence classification loses history.
    """
    from functools import reduce

    keys = list(keys)
    if append_only:
        from pyspark.sql import Window

        w = Window.partitionBy(*keys).orderBy(F.col(VERSION_COL))
        hist = changes.filter(F.col(VERSION_COL) <= v_to).withColumn(
            "__prev_action", F.lag(ACTION_COL).over(w)
        )
        payload = [
            c for c in changes.columns
            if c not in keys and c not in (ACTION_COL, VERSION_COL)
        ]
        return hist.filter(
            (F.col(VERSION_COL) > v_from)
            & (F.col(ACTION_COL) != "DELETE")
            & (
                F.col("__prev_action").isNull()
                | (F.col("__prev_action") == "DELETE")
            )
        ).select(
            *keys,
            *payload,
            F.lit("INSERT").alias("METADATA$ACTION"),
            F.lit(False).alias("METADATA$ISUPDATE"),
        )
    start = snapshot_as_of(changes, keys, v_from)
    now = snapshot_as_of(changes, keys, v_to)
    payload = [c for c in start.columns if c not in keys]
    s2 = start.select(
        *keys, *[F.col(c).alias(f"__old_{c}") for c in payload]
    ).withColumn("__in_s", F.lit(1))
    n2 = now.withColumn("__in_n", F.lit(1))
    j = n2.join(s2, on=keys, how="full_outer")
    same = reduce(
        lambda a, b: a & b,
        [F.col(c).eqNullSafe(F.col(f"__old_{c}")) for c in payload],
        F.lit(True),
    )
    in_both = F.col("__in_s").isNotNull() & F.col("__in_n").isNotNull()

    def _rows(cond, cols, action, isupdate):
        return j.filter(cond).select(
            *keys,
            *cols,
            F.lit(action).alias("METADATA$ACTION"),
            F.lit(isupdate).alias("METADATA$ISUPDATE"),
        )

    new_cols = [F.col(c).alias(c) for c in payload]
    old_cols = [F.col(f"__old_{c}").alias(c) for c in payload]
    inserts = _rows(F.col("__in_s").isNull(), new_cols, "INSERT", False)
    deletes = _rows(F.col("__in_n").isNull(), old_cols, "DELETE", False)
    upd_ins = _rows(in_both & ~same, new_cols, "INSERT", True)
    upd_del = _rows(in_both & ~same, old_cols, "DELETE", True)
    return inserts.unionByName(upd_ins).unionByName(deletes).unionByName(upd_del)


def append_only_stream_read(
    changelog: "Changelog", consumer: str, keys
) -> tuple[DataFrame, int]:
    """Snowflake ``CREATE STREAM ... APPEND_ONLY = TRUE`` semantics:
    the stream surfaces only genuinely APPENDED rows — updates to
    existing keys are invisible, and the contract is JOURNAL-based
    (ADVICE r8): a row inserted then deleted inside the unconsumed
    interval still surfaces (Snowflake's documented
    10-inserted/5-deleted example returns 10), and a re-insert under a
    previously-deleted key counts as appended. The engine's changelog
    records batch-level actions, not row-level insert-vs-update, so
    append-ness is DERIVED from the journal: a change row is an append
    iff its action is insert-ish and the key's immediately-preceding
    journal action (lag of ``_action`` per key, any version) is either
    absent or DELETE.

    Scale: one keyed window over journal rows only (changed rows,
    never the table); classification needs each batch key's prior
    journal row, so the read spans the retained log — vacuum's
    consumer-floor contract guarantees nothing a consumer still needs
    is gone. Returns (inserts_df with _version, commit_version) like
    stream_read; offsets commit through the normal stream_commit."""
    from pyspark.sql import Window

    meta = changelog._read_meta()
    current = meta["version"]
    offset = meta["offsets"].get(consumer, 0)
    if not os.path.exists(changelog.log_path):
        return None, current
    all_changes = changelog.spark.read.parquet(changelog.log_path)
    w = Window.partitionBy(*keys).orderBy(F.col(VERSION_COL))
    hist = all_changes.withColumn("__prev_action", F.lag(ACTION_COL).over(w))
    return (
        hist.filter(
            (F.col(VERSION_COL) > offset)
            & (F.col(ACTION_COL) != "DELETE")
            & (
                F.col("__prev_action").isNull()
                | (F.col("__prev_action") == "DELETE")
            )
        ).drop("__prev_action"),
        current,
    )
