"""Partition-pruned MERGE machinery (round 4): path-pruned reads,
clustered partitioned writes, and the partition-scoped commit path.

The end-to-end semantics (incremental mode converges to the rebuild
state over the reference fixtures) live in test_pipeline_replay; the
sf-scale convergence proof is pl_backfill_incremental's oracle. These
tests pin the storage-layer contracts those builds rely on.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from end_to_end_etl_using_snowflake_spark.operators.dml import data_files
from end_to_end_etl_using_snowflake_spark.plans.catalog import ManagedTable
from end_to_end_etl_using_snowflake_spark.streaming.changelog import Changelog


def _table(spark, tmp_path, name="t"):
    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("v", T.LongType()),
        ]
    )
    return ManagedTable(
        spark, str(tmp_path / name), schema, partition_by={"__m": F.substring("k", 1, 1)}
    ), schema


def test_read_partitions_opens_only_requested_dirs(spark, tmp_path):
    tbl, schema = _table(spark, tmp_path)
    data = spark.createDataFrame(
        [("a1", 1), ("a2", 2), ("b1", 3), ("c1", 4)], schema
    )
    tbl.overwrite(data, changes=data)
    # logical read: partition key suppressed, all rows
    assert sorted(tbl.read().columns) == ["k", "v"]
    assert tbl.read().count() == 4
    # path-pruned read: only the listed partition dirs
    got = sorted(r.k for r in tbl.read_partitions(["a", "c"]).collect())
    assert got == ["a1", "a2", "c1"]
    # absent partition values are skipped, not an error
    assert tbl.read_partitions(["zzz"]).count() == 0
    assert tbl.read_partitions(["a", "zzz"]).count() == 2


def test_clustered_write_one_file_per_partition(spark, tmp_path):
    tbl, schema = _table(spark, tmp_path)
    rows = [(f"{p}{i}", i) for p in "abcd" for i in range(25)]
    df = spark.createDataFrame(rows, schema).repartition(16)  # scattered
    tbl.overwrite(df, changes=df)
    # without the repartition-by-key inside the write, every upstream
    # task writes a file into every partition it holds rows for
    # (up to 16x4 files); clustered -> exactly one per partition
    for p in "abcd":
        pdir = os.path.join(tbl.storage.path, f"__m={p}")
        files = [f for f in os.listdir(pdir) if f.endswith(".parquet")]
        assert len(files) == 1, f"partition {p}: {files}"


def test_overwrite_partitions_touches_only_carried_partitions(spark, tmp_path):
    tbl, schema = _table(spark, tmp_path)
    base = spark.createDataFrame([("a1", 1), ("b1", 2), ("c1", 3)], schema)
    tbl.overwrite(base, changes=base)
    # replace partition 'b' only; 'a' and 'c' files must be untouched
    # (the same inodes, never rewritten, in a newly published directory)
    def files(p):
        pdir = os.path.join(tbl.storage.path, f"__m={p}")
        return {(os.stat(f).st_ino, os.stat(f).st_mtime_ns) for f in data_files(pdir)}

    before = {p: files(p) for p in "ac"}
    delta = spark.createDataFrame([("b1", 20), ("b2", 21)], schema)
    version = tbl.overwrite_partitions(delta, changes=delta)
    assert version > 0  # changelog advanced (stream consumers see it)
    got = sorted((r.k, r.v) for r in tbl.read().collect())
    assert got == [("a1", 1), ("b1", 20), ("b2", 21), ("c1", 3)]
    for p, kept in before.items():
        assert kept and files(p) == kept, f"partition {p} was rewritten"


def _generated(spark, schema, parts: str, n: int, v: int = 0):
    rows = [(f"{p}{i}", v + i) for p in parts for i in range(n)]
    return spark.createDataFrame(rows, schema)


def test_interrupted_partition_publish_rolls_back_on_reopen(spark, tmp_path, monkeypatch):
    """A crash between the two renames of the publish leaves the table
    missing and its old directory in an ``__old_`` sibling. Reopening
    the table puts it back, untouched and without the batch's new
    partition; re-running the commit then lands the whole batch."""
    tbl, schema = _table(spark, tmp_path)
    base = _generated(spark, schema, "abcd", 5)
    tbl.overwrite(base)
    mtimes = {
        p: os.path.getmtime(os.path.join(tbl.storage.path, f"__m={p}"))
        for p in "acd"
    }
    delta = _generated(spark, schema, "be", 3, v=100)

    rename = os.rename

    def crash_between_renames(src, dst):
        if dst == tbl.storage.path and "__tmp_" in str(src):
            raise RuntimeError("injected crash between the publish's renames")
        rename(src, dst)

    monkeypatch.setattr(os, "rename", crash_between_renames)
    with pytest.raises(RuntimeError, match="injected crash"):
        tbl.overwrite_partitions(delta)
    monkeypatch.undo()
    assert not os.path.exists(tbl.storage.path)

    tbl, _ = _table(spark, tmp_path)  # reopen
    got = {(r.k, r.v) for r in tbl.read().collect()}
    assert got == {(r.k, r.v) for r in base.collect()}
    assert not os.path.exists(os.path.join(tbl.storage.path, "__m=e"))
    for p, before in mtimes.items():
        after = os.path.getmtime(os.path.join(tbl.storage.path, f"__m={p}"))
        assert after == before, f"partition {p} was touched"
    parent, name = os.path.split(tbl.storage.path)
    assert sorted(s for s in os.listdir(parent) if s.startswith(f"{name}.")) == [
        f"{name}.__changelog", f"{name}.__meta.json"
    ]

    tbl.overwrite_partitions(delta)
    expected = {(r.k, r.v) for r in base.collect() if not r.k.startswith("b")}
    expected |= {(r.k, r.v) for r in delta.collect()}
    assert {(r.k, r.v) for r in tbl.read().collect()} == expected


def test_partition_commit_links_its_change_version(spark, tmp_path):
    """``changes=None`` on a partitioned table: the version hard-links
    the written files, and its rows carry the logical columns only."""
    tbl, schema = _table(spark, tmp_path)
    tbl.overwrite_partitions(_generated(spark, schema, "ab", 4))
    delta = _generated(spark, schema, "b", 2, v=50)
    version = tbl.overwrite_partitions(delta)
    changes, _ = tbl.changelog.stream_read("c")
    changes = changes.filter(F.col("_version") == version)
    assert sorted(changes.columns) == ["_action", "_version", "k", "v"]
    assert {(r.k, r.v) for r in changes.collect()} == {(r.k, r.v) for r in delta.collect()}
    vdir = os.path.join(tbl.changelog.log_path, f"_version={version}")
    linked = {os.stat(p).st_ino for p in data_files(vdir)}
    part_b = os.path.join(tbl.storage.path, "__m=b")
    assert linked == {os.stat(p).st_ino for p in data_files(part_b)}


def test_append_refuses_partitioned_tables(spark, tmp_path):
    tbl, schema = _table(spark, tmp_path)
    with pytest.raises(ValueError, match="partitioned"):
        tbl.append(_generated(spark, schema, "a", 2))
    parent = os.path.dirname(tbl.storage.path)
    assert not [s for s in os.listdir(parent) if s.startswith("t")]


def test_record_linked_flattens_partitions_sharing_a_file_name(spark, tmp_path):
    """``partitionBy`` writes one part-file name into every partition
    directory; linking three of them into one version must not collide."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "written"
    for i, p in enumerate("abc"):
        (src / f"__m={p}").mkdir(parents=True)
        table = pa.table({"k": [f"{p}{j}" for j in range(i + 1)]})
        pq.write_table(table, src / f"__m={p}" / "part-00000-same.c000.snappy.parquet")
    log = Changelog(spark, str(tmp_path / "t"))
    version = log.record_linked(str(src), "UPSERT")
    assert log._read_meta()["rows"][str(version)] == 6
    rows, _ = log.stream_read("c")
    assert sorted(rows.columns) == ["_action", "_version", "k"]
    assert sorted(r.k for r in rows.collect()) == ["a0", "b0", "b1", "c0", "c1", "c2"]
    for path in data_files(str(src)):
        assert os.stat(path).st_nlink == 2


def test_read_partitions_opens_each_directory_once(spark, tmp_path):
    """A value listed twice, and NULL next to "" (both Spark's default
    partition), open their directory once: a directory opened twice
    reads its rows twice, and a MERGE against them keeps both copies."""
    tbl, schema = _table(spark, tmp_path)
    tbl.overwrite(spark.createDataFrame([("a1", 1), ("b1", 2), (None, 3)], schema))
    assert [tuple(r) for r in tbl.read_partitions(["a", "a"]).collect()] == [("a1", 1)]
    assert [tuple(r) for r in tbl.read_partitions([None, ""]).collect()] == [(None, 3)]


def test_declared_key_is_derived_from_logical_rows(spark, tmp_path):
    """The table derives its partition key: a commit of logical rows
    writes one directory per derived value, a read returns the logical
    columns, and ``touched`` maps a batch to the values it carries."""
    tbl, schema = _table(spark, tmp_path)
    tbl.overwrite_partitions(_generated(spark, schema, "ab", 2))
    assert sorted(tbl.storage.partitions()) == ["__m=a", "__m=b"]
    assert sorted(r.k for r in tbl.read_partitions(["b"]).collect()) == ["b0", "b1"]
    assert tbl.read().columns == ["k", "v"]
    batch = _generated(spark, schema, "bc", 1)
    assert sorted(tbl.touched(batch)) == ["b", "c"]
    assert sorted(r.k for r in tbl.read_partitions(tbl.touched(batch)).collect()) == ["b0", "b1"]


def test_touched_read_of_a_flat_or_missing_table_runs_no_spark_job(spark, tmp_path):
    """A flat table reads whole and a missing partitioned one reads as
    the empty relation; neither needs the batch's key values, so
    neither submits a Spark job."""
    tbl, schema = _table(spark, tmp_path, "missing")
    flat = ManagedTable(spark, str(tmp_path / "flat"), schema)
    flat.overwrite(_generated(spark, schema, "ab", 2))
    batch = _generated(spark, schema, "a", 1)
    sc = spark.sparkContext
    sc.setJobGroup("touched_read", "touched read")
    try:
        frames = [t.read_partitions(t.touched(batch)) for t in (flat, tbl)]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup("touched_read")) == []
    assert frames[0].count() == 4
    assert frames[1].rdd.getNumPartitions() == 0
