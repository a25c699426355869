"""Task timeline of ``EntityPipelines.run_all`` wake-ups.

Lands perfbench's seeded ``trickle`` inputs (``perfbench/gen.py``) in a
scratch directory, runs the initial load of a warehouse in the
``--fact-mode`` posture (default ``incremental``) as cycle 0 and then
``--cycles`` cycles (one generated batch plus one ``run_all()`` each),
and prints every task's start and end offset from
the start of its ``run_all()``, read from the engine's own task history
(``dags[e].history``). A SKIPPED or SUSPENDED task has no end.

``--jobs`` also prints each cycle's Spark jobs and completed tasks per
task run and pipe refresh, grouped by the job descriptions the engine
sets (``task <dag>.<task>``, ``pipe <name> ingest``) and read from the
JVM status store, which is populated with the UI off.

``--compiles`` also prints each cycle's Janino compiles and their
total milliseconds, read from Spark's own ``CodegenMetrics``
compilation-time histogram (one sample per compiled class) through
py4j. The count is exact; the milliseconds are exact until the
histogram's sampling reservoir (1028 samples) overflows, and are then
scaled from the new samples it kept (printed with a ``~``).

``--files`` also prints, after each cycle, every table's data files and
partition directories and the number of ``<table>.__tmp_*`` /
``<table>.__old_*`` siblings left beside it (0 unless a commit crashed).

Usage:
    python tools/task_timeline.py [--seed 1] [--cycles 3] [--work DIR]
        [--fact-mode {incremental,rebuild}] [--jobs] [--compiles] [--files]

Measurement-only tooling: never imported by the engine or bench.
"""

from __future__ import annotations

import argparse
import collections
import os
import shutil
import sys
import tempfile
import time
from datetime import datetime, timezone

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import gen  # noqa: E402

from end_to_end_etl_using_snowflake_spark.pipelines.entities import (  # noqa: E402
    EntityPipelines,
)
from end_to_end_etl_using_snowflake_spark.plans.catalog import Warehouse  # noqa: E402
from end_to_end_etl_using_snowflake_spark.session import get_spark  # noqa: E402

CLOCK = datetime(2021, 6, 1, tzinfo=timezone.utc)


def timeline(etl: EntityPipelines) -> tuple[float, list[tuple[float, float | None, str, str]]]:
    """Run one wake-up; return its wall seconds and (start, end, task,
    state) offsets in seconds from the start of ``run_all``."""
    seen = {e: len(d.history) for e, d in etl.dags.items()}
    t0 = datetime.now(timezone.utc)
    p0 = time.perf_counter()
    etl.run_all()
    wall = time.perf_counter() - p0
    rows = []
    for e, d in etl.dags.items():
        for r in d.history[seen[e]:]:
            end = (r.completed_time - t0).total_seconds() if r.completed_time else None
            rows.append(((r.scheduled_time - t0).total_seconds(), end, r.task_name, r.state))
    return wall, sorted(rows, key=lambda row: row[0])


def job_census(sc, after: int) -> dict[str, list[int]]:
    """{description: [jobs, completed tasks]} of the Spark jobs with ids
    above ``after``. Listener events arrive after an action returns, so
    this polls until no such job runs and two reads agree."""
    store = sc._jsc.sc().statusStore()
    prev, deadline = None, time.monotonic() + 10
    while True:
        listed = store.jobsList(None)
        jobs = sorted(
            (j.jobId(), j.status().toString(), j)
            for j in map(listed.apply, range(listed.size()))
            if j.jobId() > after
        )
        seen = [(i, st) for i, st, _ in jobs]
        if (seen == prev and "RUNNING" not in {st for _, st in seen}) or time.monotonic() > deadline:
            break
        prev = seen
        time.sleep(0.1)
    out: dict[str, list[int]] = {}
    for _, _, j in jobs:
        d = j.description()
        counts = out.setdefault(d.get() if d.isDefined() else "(no description)", [0, 0])
        counts[0] += 1
        counts[1] += j.numCompletedTasks()
    return out


def compile_snapshot(spark) -> tuple[int, collections.Counter]:
    """(compiles so far, Counter of the kept compile-time samples in
    ms) of the JVM's ``CodegenMetrics.METRIC_COMPILATION_TIME``."""
    hist = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    return hist.getCount(), collections.Counter(hist.getSnapshot().getValues())


def compile_delta(before, after) -> tuple[int, str]:
    """Compiles between two ``compile_snapshot`` reads and their total
    ms: the samples ``after`` holds beyond ``before``, exact while the
    reservoir has dropped none, else scaled to the compile count."""
    n = after[0] - before[0]
    new = after[1] - before[1]
    total = sum(v * c for v, c in new.items())
    if sum(after[1].values()) == after[0]:
        return n, f"{total}"
    kept = sum(new.values())
    return n, f"~{round(total * n / kept) if kept else 0}"


def file_census(wh: Warehouse) -> list[tuple[str, int, int, int]]:
    """(schema.table, data files, partitions, stray temp and old
    siblings) of every table of ``wh``."""
    out = []
    for (schema, name), t in sorted(wh._tables.items()):
        strays = [s for s in os.listdir(os.path.dirname(t.path))
                  if s.startswith((f"{name}.__tmp_", f"{name}.__old_"))]
        out.append((f"{schema}.{name}", len(t.storage.files()), len(t.storage.partitions()), len(strays)))
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--cycles", type=int, default=3)
    ap.add_argument("--work", default=None, help="scratch directory (default: a temp dir)")
    ap.add_argument("--fact-mode", choices=("incremental", "rebuild"), default="incremental",
                    help="the warehouse's fact posture (EntityPipelines fact_mode)")
    ap.add_argument("--jobs", action="store_true", help="print Spark jobs and tasks per task")
    ap.add_argument("--compiles", action="store_true",
                    help="print Janino compiles and their milliseconds per cycle")
    ap.add_argument("--files", action="store_true", help="print data files and partitions per table")
    args = ap.parse_args()

    work = tempfile.mkdtemp(prefix="task_timeline_", dir=args.work)
    spark = get_spark()
    try:
        landing = os.path.join(work, "landing")
        ds = gen.build(args.seed, gen.SHAPES["trickle"])
        gen.write_initial(ds, landing)
        wh = Warehouse(spark, os.path.join(work, "warehouse"))
        etl = EntityPipelines(spark, wh, landing, clock=lambda: CLOCK, fact_mode=args.fact_mode)
        for cycle in range(args.cycles + 1):
            if cycle:
                gen.write_batch(ds, cycle, landing)
            tracker = spark.sparkContext.statusTracker()
            last_job = max(tracker.getJobIdsForGroup(None), default=-1)
            compiled = compile_snapshot(spark) if args.compiles else None
            wall, rows = timeline(etl)
            print(f"cycle {cycle}: run_all {wall:.2f} s")
            if args.compiles:
                n, ms = compile_delta(compiled, compile_snapshot(spark))
                print(f"  compiles {n}, {ms} ms")
            for start, end, name, state in rows:
                span = f"{start:6.2f} -> {end:6.2f}" if end is not None else f"{start:6.2f}          "
                print(f"  {span}  {name:34s} {state}")
            if args.jobs:
                census = job_census(spark.sparkContext, last_job)
                jobs, tasks = (sum(c[i] for c in census.values()) for i in (0, 1))
                print(f"  jobs tasks  description  (cycle: {jobs} jobs, {tasks} tasks)")
                for desc, (n_jobs, n_tasks) in sorted(census.items()):
                    print(f"  {n_jobs:4d} {n_tasks:5d}  {desc}")
            if args.files:
                print("  files parts strays  table")
                for table, files, parts, strays in file_census(wh):
                    print(f"  {files:5d} {parts:5d} {strays:6d}  {table}")
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
