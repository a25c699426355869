from __future__ import annotations

import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from end_to_end_etl_using_snowflake_spark.session import bootstrap_catalog, get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    warehouse = str(tmp_path_factory.mktemp("warehouse"))
    spark = get_spark(warehouse_dir=warehouse)
    bootstrap_catalog(spark)
    yield spark


@pytest.fixture
def compiles(spark):
    """``compiles()`` is the number of classes Spark's code generator
    has compiled in this JVM so far (``CodegenMetrics``' compilation-time
    histogram takes one sample per Janino compile)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return lambda: metrics.METRIC_COMPILATION_TIME().getCount()


class InjectedCrash(RuntimeError):
    """The failure ``crash_at_rename`` injects in place of a rename."""


@pytest.fixture
def crash_at_rename():
    """``with crash_at_rename(n): ...`` makes the n-th ``os.rename`` or
    ``os.replace`` call inside the block raise ``InjectedCrash`` instead
    of renaming, as a process killed at that step would leave the
    files; the calls before it rename as usual."""

    @contextlib.contextmanager
    def arm(n: int):
        calls = 0

        def fail_nth(real):
            def call(*args, **kwargs):
                nonlocal calls
                calls += 1
                if calls == n:
                    raise InjectedCrash(f"injected crash at rename {n}")
                return real(*args, **kwargs)

            return call

        with pytest.MonkeyPatch.context() as m:
            m.setattr(os, "rename", fail_nth(os.rename))
            m.setattr(os, "replace", fail_nth(os.replace))
            yield

    return arm
