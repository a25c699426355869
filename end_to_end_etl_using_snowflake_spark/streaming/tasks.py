"""T3-T7: the task orchestrator — Snowflake TASK analog.

Reference task surface (customer-...sql:62-179, x3 entities): a root
task on ``schedule='1 minute'`` gated by ``WHEN
system$stream_has_data(...)``, with ``AFTER``-chained children forming
a linear 5-node DAG; suspend/resume lifecycle (customer-...sql:182-195)
and ``information_schema.task_history()`` (customer-...sql:198-201).

Semantics implemented:

- WHEN is a cheap pre-check; a false WHEN records SKIPPED and stops the
  chain (children fire only after a parent actually ran — Snowflake's
  behavior for a skipped root).
- A task exception, raised by its body or its WHEN, records FAILED
  and stops the chain.
- ``run_cycle`` executes one scheduled wake-up; the schedule itself
  (the '1 minute' mode) is ``EntityPipelines.run_forever``. In Spark
  the cycle is driver-side choreography only — every body is a
  DataFrame job, so compute still scales out; at 100 TB you point the
  same DAG at a real scheduler (Airflow etc.) without touching task
  bodies.
"""

from __future__ import annotations

import traceback
from collections.abc import Callable, Mapping
from dataclasses import dataclass
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Task:
    name: str
    body: Callable[[], object]
    after: str | None = None  # parent task (AFTER chaining, customer-...sql:71)
    when: Callable[[], bool] | None = None  # WHEN predicate (customer-...sql:66)
    enabled: bool = True  # resume/suspend (customer-...sql:182-195)


@dataclass
class TaskRun:
    task_name: str
    state: str  # SUCCEEDED | SKIPPED | FAILED | SUSPENDED
    scheduled_time: datetime
    completed_time: datetime | None
    error: str | None = None


class TaskDag:
    """Linear AFTER-chained DAG, the only shape the reference uses.

    A wake-up walks the chain in order and stops at the first task that
    does not succeed. The one cross-DAG dependency the reference has
    (the fact task reads both dims, order-...sql:204-207) is not an
    edge here: ``run_cycle`` takes a per-task ``wait`` that blocks
    until another DAG's cycle has ended, so each chain keeps its own
    history, gates and failure semantics."""

    def __init__(self, spark: SparkSession, name: str):
        self.spark = spark
        self.name = name
        self.tasks: list[Task] = []
        self.history: list[TaskRun] = []

    def add(self, task: Task) -> Task:
        if task.after is not None and all(t.name != task.after for t in self.tasks):
            raise ValueError(f"AFTER references unknown task {task.after!r}")
        self.tasks.append(task)
        return task

    def resume(self, name: str) -> None:
        self._get(name).enabled = True

    def suspend(self, name: str) -> None:
        self._get(name).enabled = False

    def _get(self, name: str) -> Task:
        for t in self.tasks:
            if t.name == name:
                return t
        raise KeyError(name)

    def run_cycle(
        self, wait: Mapping[str, Callable[[], object]] | None = None
    ) -> list[TaskRun]:
        """One wake-up: walk the chain in order; stop at the first
        task that does not succeed (children only run after a parent
        ran).

        ``wait`` maps a task name to a callable run just before that
        task; the task is scheduled when it returns. A WHEN predicate,
        a wait or a body that raises records the task FAILED."""
        wait = wait or {}
        runs: list[TaskRun] = []
        for task in self.tasks:
            run = self._run(task, wait.get(task.name))
            runs.append(run)
            if run.state != "SUCCEEDED":
                break
        self.history.extend(runs)
        return runs

    def _run(self, task: Task, wait: Callable[[], object] | None) -> TaskRun:
        scheduled = datetime.now(timezone.utc)
        if not task.enabled:
            return TaskRun(task.name, "SUSPENDED", scheduled, None)
        try:
            if wait is not None:
                wait()
                scheduled = datetime.now(timezone.utc)
            if task.when is not None and not task.when():
                return TaskRun(task.name, "SKIPPED", scheduled, None)
            # label every job the body submits; the description is
            # thread-local, so concurrent entity cycles (entities.run_all)
            # label correctly per thread
            self.spark.sparkContext.setJobDescription(f"task {self.name}.{task.name}")
            try:
                task.body()
            finally:
                self.spark.sparkContext.setJobDescription(None)
        except Exception:
            return TaskRun(
                task.name,
                "FAILED",
                scheduled,
                datetime.now(timezone.utc),
                traceback.format_exc(limit=3),
            )
        return TaskRun(task.name, "SUCCEEDED", scheduled, datetime.now(timezone.utc))

    def task_history(self) -> DataFrame:
        """information_schema.task_history() analog
        (customer-...sql:198-201), newest first (O2)."""
        rows = [
            (r.task_name, r.state, r.scheduled_time, r.completed_time, r.error)
            for r in self.history
        ]
        df = self.spark.createDataFrame(
            rows,
            "name string, state string, scheduled_time timestamp, "
            "completed_time timestamp, error string",
        )
        return df.orderBy("scheduled_time", ascending=False)

    def show_tasks(self) -> DataFrame:
        rows = [
            (t.name, t.after, "started" if t.enabled else "suspended", t.when is not None)
            for t in self.tasks
        ]
        return self.spark.createDataFrame(
            rows, "name string, after string, state string, has_when boolean"
        )
