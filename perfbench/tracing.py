"""Per-layer tracing from outside the engine.

``Tracer.install`` wraps public methods of the engine's layers at run
time (nothing in the engine is edited); ``uninstall`` puts the
originals back, so one process can run untraced and traced operations.
Each wrapped call records a span (name, start, end, parent, operation
id) in memory; ``dump`` writes them out at the end of the run.

A metric sums the durations of its spans per operation, counting only
the outermost span when a metric's methods nest (``overwrite`` calls
``write_tmp``). Spans from the engine's worker threads take the
operation as their parent. Spark job and task counts come from the
public ``SparkContext.statusTracker()``: job ids are sequential, so the
jobs of one operation are the ids it added.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from collections import defaultdict

from end_to_end_etl_using_snowflake_spark.operators import dml, merge
from end_to_end_etl_using_snowflake_spark.pipelines.entities import EntityPipelines
from end_to_end_etl_using_snowflake_spark.plans.catalog import ManagedTable
from end_to_end_etl_using_snowflake_spark.sources.pipe import Pipe
from end_to_end_etl_using_snowflake_spark.streaming.changelog import Changelog
from end_to_end_etl_using_snowflake_spark.streaming.tasks import TaskDag

# (owner, attribute, metric); None marks a span kept only for structure
WRAPPED = [
    (Pipe, "refresh", "sources.refresh_s"),
    (Changelog, "stream_has_data", "streaming.gate_s"),
    (Changelog, "stream_read", "streaming.stream_read_s"),
    (Changelog, "record", "streaming.record_s"),
    (Changelog, "record_linked", "streaming.record_s"),
    (Changelog, "stream_commit", "streaming.commit_s"),
    (merge, "merge_dataframes", "operators.merge.plan_s"),
    (merge, "dedup_latest", "operators.merge.plan_s"),
    (merge, "fill_identity", "operators.merge.plan_s"),
    (dml.ParquetTable, "overwrite", "operators.dml.write_s"),
    (dml.ParquetTable, "write_tmp", "operators.dml.write_s"),
    (dml.ParquetTable, "overwrite_partitions", "operators.dml.write_s"),
    (dml.ParquetTable, "append", "operators.dml.write_s"),
    (ManagedTable, "append", "plans.catalog.append_s"),
    (ManagedTable, "overwrite", "plans.catalog.overwrite_s"),
    (ManagedTable, "overwrite_partitions", "plans.catalog.overwrite_s"),
    (ManagedTable, "read", "plans.catalog.read_s"),
    (ManagedTable, "read_partitions", "plans.catalog.read_s"),
    (EntityPipelines, "run_all", None),
    (TaskDag, "run_cycle", None),
]

PARTITION_KEY = "__month"


def _parquet_files(root: str) -> dict[str, int]:
    out = {}
    for dirpath, _dirs, names in os.walk(root):
        for name in names:
            if name.endswith(".parquet"):
                p = os.path.join(dirpath, name)
                out[p] = os.lstat(p).st_ino
    return out


def _partition_dirs(root: str) -> list[str]:
    if not os.path.isdir(root):
        return []
    return [d for d in os.listdir(root) if d.startswith(PARTITION_KEY + "=")]


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.op: int | None = None
        self.counts: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self._local = threading.local()
        self._restore: list[tuple[object, str, object]] = []
        self._groups: list[str] = []
        self.op_groups: dict[int, list[str]] = defaultdict(list)
        self._lock = threading.Lock()

    # -- wrapping -------------------------------------------------------
    def install(self) -> None:
        for owner, attr, metric in WRAPPED:
            original = owner.__dict__[attr]
            self._restore.append((owner, attr, original))
            short = owner.__name__.rsplit(".", 1)[-1]
            setattr(owner, attr, self._wrap(original, f"{short}.{attr}", metric))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._restore):
            setattr(owner, attr, original)
        self._restore.clear()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _wrap(self, fn, name: str, metric: str):
        hook = getattr(self, "_hook_" + name.replace(".", "_"), None)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = self._stack()
            outer = metric is None or all(self.spans[i]["metric"] != metric for i in stack)
            span = {"name": name, "metric": metric if outer else None, "op": self.op,
                    "parent": stack[-1] if stack else None,
                    "thread": threading.get_ident(), "start": time.perf_counter()}
            with self._lock:
                self.spans.append(span)
                idx = len(self.spans) - 1
            stack.append(idx)
            ctx = hook(args, kwargs, None, before=True) if hook else None
            try:
                result = fn(*args, **kwargs)
            finally:
                span["end"] = time.perf_counter()
                stack.pop()
            if hook:
                hook(args, kwargs, result, before=False, ctx=ctx)
            return result

        return traced

    def _count(self, key: str, value: float) -> None:
        if self.op is not None:
            with self._lock:
                self.counts[self.op][key] += value

    # -- per-method counters ----------------------------------------------
    def _hook_Pipe_refresh(self, args, kwargs, result, before, ctx=None):
        if before:
            gid = f"perfbench-sources-{len(self._groups)}"
            self._groups.append(gid)
            self.sc.setJobGroup(gid, "perfbench sources")
            return gid
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self._count("sources.files_loaded", result)
        if self.op is not None:
            self.op_groups[self.op].append(ctx)

    def _dml_before(self, table):
        return _parquet_files(table.path)

    def _dml_after(self, root, before):
        after = _parquet_files(root)
        old = set(before.values()) if before else set()
        new = [p for p, ino in after.items() if ino not in old]
        self._count("operators.dml.files_written", len(new))
        self._count("operators.dml.bytes_written", sum(os.lstat(p).st_size for p in new))
        return new

    def _hook_ParquetTable_write_tmp(self, args, kwargs, result, before, ctx=None):
        if not before:
            self._dml_after(result, None)

    def _hook_ParquetTable_append(self, args, kwargs, result, before, ctx=None):
        if before:
            return self._dml_before(args[0])
        self._dml_after(args[0].path, ctx)

    def _hook_ParquetTable_overwrite_partitions(self, args, kwargs, result, before, ctx=None):
        if before:
            return self._dml_before(args[0])
        new = self._dml_after(args[0].path, ctx)
        parts = {os.path.basename(os.path.dirname(p)) for p in new}
        self._count("operators.dml.partitions_rewritten", len(parts))

    def _hook_ManagedTable_read_partitions(self, args, kwargs, result, before, ctx=None):
        table, values = args[0], args[1]
        if before or not table.name.startswith("raw_"):
            return None
        existing = _partition_dirs(table.storage.path)
        if existing:
            read = sum(1 for v in values if f"{PARTITION_KEY}={v}" in existing)
            self._count("_partitions_read", read)
            self._count("_partitions_total", len(existing))

    # -- Spark status -----------------------------------------------------
    def _job_ids(self) -> set[int]:
        st = self.sc.statusTracker()
        ids = set(st.getJobIdsForGroup(None))
        for gid in self._groups:
            ids |= set(st.getJobIdsForGroup(gid))
        return ids

    def last_job_id(self) -> int:
        return max(self._job_ids(), default=-1)

    def settle(self, after: int, timeout: float = 5.0) -> int:
        """Wait until the status store has seen every job after job id
        ``after`` end (listener events arrive asynchronously after an
        action returns); returns the last job id."""
        st = self.sc.statusTracker()
        deadline = time.monotonic() + timeout
        prev = None
        while time.monotonic() < deadline:
            ids = {j for j in self._job_ids() if j > after}
            running = [j for j in ids if (info := st.getJobInfo(j)) is None
                       or info.status not in ("SUCCEEDED", "FAILED")]
            if not running and ids == prev:
                break
            prev = ids
            time.sleep(0.05)
        return self.last_job_id()

    def spark_counts(self, op: int, first: int, last: int) -> dict[str, float]:
        """Jobs, tasks and failed tasks of the jobs with ids in
        (``first``, ``last``], and the jobs ``Pipe.refresh`` submitted."""
        st = self.sc.statusTracker()
        jobs = [j for j in self._job_ids() if first < j <= last]
        tasks = failed = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else ():
                stage = st.getStageInfo(sid)
                if stage is not None:
                    tasks += stage.numCompletedTasks
                    failed += stage.numFailedTasks
        src = set()
        for gid in self.op_groups.get(op, ()):
            src |= set(st.getJobIdsForGroup(gid))
        return {"pipelines.spark_jobs": len(jobs), "pipelines.spark_tasks": tasks,
                "pipelines.spark_failed_tasks": failed, "sources.spark_jobs": len(src)}

    # -- per-operation summary ------------------------------------------
    def op_metrics(self, op: int) -> dict[str, float]:
        """Summed span durations and counters of one operation. The
        order phase of ``run_all`` is the order DAG's cycle (the only
        DAG cycle ``run_all`` runs in its own thread); the dim phase is
        everything in ``run_all`` before it."""
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s["op"] != op or "end" not in s:
                continue
            if s["metric"]:
                out[s["metric"]] += s["end"] - s["start"]
            parent = self.spans[s["parent"]] if s["parent"] is not None else None
            if s["name"] == "TaskDag.run_cycle" and parent \
                    and parent["name"] == "EntityPipelines.run_all":
                out["pipelines.order_phase_s"] += s["end"] - s["start"]
                out["pipelines.dim_phase_s"] += s["start"] - parent["start"]
        c = self.counts.get(op, {})
        for k, v in c.items():
            if not k.startswith("_"):
                out[k] += v
        total = c.get("_partitions_total", 0)
        out["operators.dml.partitions_read_frac"] = c.get("_partitions_read", 0) / total if total else 1.0
        return dict(out)

    def dump(self, path: str) -> None:
        """Write the spans, each with its self time (duration minus the
        part of it covered by its child spans in the same thread)."""
        children = defaultdict(list)
        for i, s in enumerate(self.spans):
            if s["parent"] is not None:
                children[s["parent"]].append(i)
        rows = []
        for i, s in enumerate(self.spans):
            if "end" not in s:
                continue
            covered, cursor = 0.0, s["start"]
            for c in sorted((self.spans[k] for k in children[i] if "end" in self.spans[k]),
                            key=lambda k: k["start"]):
                lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            rows.append({"id": i, "name": s["name"], "op": s["op"], "parent": s["parent"],
                         "start": s["start"], "end": s["end"],
                         "self_s": s["end"] - s["start"] - covered})
        with open(path, "w") as f:
            json.dump(rows, f)
