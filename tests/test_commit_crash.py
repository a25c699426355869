"""Crash safety of the table commits at the storage level: a crash at
any rename a commit makes leaves, after the table is reopened, exactly
its rows before or after the commit and no stray sibling."""

from __future__ import annotations

import itertools
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from end_to_end_etl_using_snowflake_spark.operators.dml import data_files
from end_to_end_etl_using_snowflake_spark.plans.catalog import ManagedTable

from .conftest import InjectedCrash

SCHEMA = T.StructType([T.StructField("k", T.StringType()), T.StructField("v", T.LongType())])


def _open(spark, path, partitioned):
    key = {"__m": F.substring("k", 1, 1)} if partitioned else None
    return ManagedTable(spark, path, SCHEMA, partition_by=key)


def _frame(spark, rows):
    # two scan partitions, so an unpartitioned write leaves two part files
    return spark.createDataFrame(rows, SCHEMA).repartitionByRange(2, "k")


def _rows(table) -> list[tuple]:
    return sorted(map(tuple, table.read().collect()))


def _inodes(table) -> set[int]:
    return {os.stat(f).st_ino for f in data_files(table.path)}


def _strays(path) -> list[str]:
    parent, name = os.path.split(path)
    keep = {name, f"{name}.__changelog", f"{name}.__meta.json"}
    return sorted(set(os.listdir(parent)) - keep)


BASE = [("a1", 1), ("a2", 2), ("b1", 3), ("b2", 4)]
BATCH = [("b1", 30), ("e1", 50), ("e2", 51)]
# commit name -> (partitioned, apply(table, batch frame), rows after)
COMMITS = {
    "append": (False, lambda t, df: t.append(df), BASE + BATCH),
    "overwrite": (False, lambda t, df: t.overwrite(df), BATCH),
    "overwrite_partitions": (
        True,
        lambda t, df: t.overwrite_partitions(df),
        [r for r in BASE if not r[0].startswith("b")] + BATCH,
    ),
    "truncate": (False, lambda t, df: t.truncate(), []),
}


@pytest.mark.parametrize("commit", sorted(COMMITS))
def test_crash_at_every_rename_leaves_the_old_or_new_table(spark, tmp_path, crash_at_rename, commit):
    partitioned, apply, after = COMMITS[commit]
    before = sorted(BASE)
    for n in itertools.count(1):
        path = str(tmp_path / f"crash{n}" / "t")
        os.makedirs(os.path.dirname(path))
        table = _open(spark, path, partitioned)
        table.overwrite(_frame(spark, BASE))
        batch = _frame(spark, BATCH)
        live = _inodes(table)
        try:
            with crash_at_rename(n):
                apply(table, batch)
        except InjectedCrash:
            crashed = True
        else:
            crashed = False

        table = _open(spark, path, partitioned)  # reopen
        assert _rows(table) in (before, sorted(after)), f"crash at rename {n}"
        assert _strays(path) == [], f"crash at rename {n}"
        if not crashed:
            assert _rows(table) == sorted(after)
            assert n > 2, "the commit made fewer renames than expected"
            if commit != "truncate":  # the temp held at least two files
                assert len(_inodes(table) - live) >= 2
            break


def test_reopen_removes_stray_temps_and_old_copies(spark, tmp_path):
    path = str(tmp_path / "t")
    table = _open(spark, path, False)
    table.overwrite(_frame(spark, BASE))
    for stray in ("t.__tmp_1a2b3c4d", "t.__old_5e6f7a8b"):
        os.makedirs(tmp_path / stray / "sub")
        (tmp_path / stray / "sub" / "part-0.parquet").write_bytes(b"x")
    (tmp_path / "t.__tmp_9c0d1e2f").write_text("{}")  # a crashed meta write

    table = _open(spark, path, False)
    assert _strays(path) == []
    assert _rows(table) == sorted(BASE)
