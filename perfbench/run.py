#!/usr/bin/env python3
"""The repository benchmark: the medallion pipeline as its users see it.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 20 --trace 0

One process, one closed-loop client: the next operation starts only
after the previous one returned. Spark runs through the engine's own
``get_spark()`` on ``local[<cores>]`` (``SPARK_GRAFT_CPUS`` = cores),
with no configuration added. Inputs come from ``gen.py`` (seeded,
single-threaded, outside the engine); outputs are checked against a
DuckDB replay of the same CSVs (``oracle.py``) outside the timed
sections.

Workloads (see BENCHMARK.json for sizes and the reasons):

- ``backfill``: one operation = a fresh warehouse in the reference's
  rebuild posture loads the whole seeded landing tree in one
  ``EntityPipelines.run_all()``.
- ``trickle``: an incremental warehouse, loaded during set-up; one
  operation = land one seeded batch, run one ``run_all()`` wake-up.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs
untraced, traced, traced, untraced operations (``tracing.py``) and
prints the per-layer metrics plus the tracing overhead. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed``, ``metrics``. Scratch
files live in ``.perfbench_work/<pid>/`` (removed at exit) and spans in
``.perfbench_out/``, both at the root of the checkout.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import filecmp  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from datetime import datetime, timezone  # noqa: E402

import gen  # noqa: E402
import oracle  # noqa: E402
from sysstats import (  # noqa: E402
    cpu_seconds, peak_rss_mib, process_tree, storage_metrics, tree_bytes,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = "end_to_end_etl_using_snowflake_spark"
# per process, so two runs in one checkout never share scratch space
WORK = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
OUT = os.path.join(ROOT, ".perfbench_out")
CLOCK = datetime(2021, 6, 1, tzinfo=timezone.utc)
# a run measures at least --seconds and at least this many operations;
# a trace run at least four: untraced, traced, traced, untraced, so that
# the tracing overhead cancels a linear drift across the run
MIN_OPS = 2
MIN_TRACED_OPS = 4
LAST_START_S = 110.0  # no operation starts later than this into the process
GEN_REPEATS = 2  # input generation runs this often per set-up; must be byte-identical
TASKS_PER_OP = 15  # three entity chains of five tasks, all SUCCEEDED


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _link_tree(src: str, dst: str) -> None:
    for dirpath, _dirs, names in os.walk(src):
        out = os.path.join(dst, os.path.relpath(dirpath, src))
        os.makedirs(out, exist_ok=True)
        for name in names:
            os.link(os.path.join(dirpath, name), os.path.join(out, name))


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _match, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs
    )


def _task_failures(runs: dict) -> list[str]:
    states = [r for chain in runs.values() for r in chain]
    bad = [f"{r.task_name}={r.state}" for r in states if r.state == "FAILED"]
    ok = sum(r.state == "SUCCEEDED" for r in states)
    if ok != TASKS_PER_OP:
        bad.append(f"{ok} of {TASKS_PER_OP} tasks succeeded")
    return bad


class Workload:
    """Set-up plus one timed operation; subclasses fill in the posture."""

    fact_mode: str

    def __init__(self, spark, ds, landing_src: str, input_bytes: int):
        self.spark = spark
        self.ds = ds
        self.src = landing_src
        self.input_bytes = input_bytes
        self.stored_ratio = 0.0
        self.warehouse = ""
        self.changelog: dict[str, float] = {}

    def pipelines(self, base: str):
        from end_to_end_etl_using_snowflake_spark.pipelines.entities import EntityPipelines
        from end_to_end_etl_using_snowflake_spark.plans.catalog import Warehouse

        self.warehouse = os.path.join(base, "warehouse")
        return EntityPipelines(self.spark, Warehouse(self.spark, self.warehouse),
                               os.path.join(base, "landing"), clock=lambda: CLOCK,
                               fact_mode=self.fact_mode)

    def _stored_ratio(self) -> float:
        return tree_bytes(self.warehouse) / self.input_bytes


class Backfill(Workload):
    fact_mode = "rebuild"

    def setup(self) -> None:
        """One checked warm-up load of the same landing tree: the first
        load in a JVM compiles every plan of the path."""
        self.n = 0
        self.expected = oracle.Expected(self.src, CLOCK)
        self.prepare()
        bad = _task_failures(self.run()) or self.finish(0)
        if bad:
            raise RuntimeError(f"warm-up load failed: {bad}")

    def prepare(self) -> None:
        self.n += 1
        self.base = os.path.join(WORK, f"load{self.n}")
        _link_tree(self.src, os.path.join(self.base, "landing"))
        self.etl = self.pipelines(self.base)

    def run(self) -> dict:
        return self.etl.run_all()

    def finish(self, k: int) -> list[str]:
        bad = self.expected.check(self.warehouse)
        if k == 1:
            self.stored_ratio = self._stored_ratio()
        self.changelog = storage_metrics(self.warehouse)
        # the rebuild stash of the dropped pipelines object stays cached
        # otherwise; every load starts from an empty cache
        self.spark.catalog.clearCache()
        shutil.rmtree(self.base)
        return bad

    def close(self) -> list[str]:
        self.expected.close()
        return []


class Trickle(Workload):
    fact_mode = "incremental"

    def setup(self) -> None:
        """The initial load."""
        base = os.path.join(WORK, "trickle")
        self.landing = os.path.join(base, "landing")
        _link_tree(self.src, self.landing)
        self.etl = self.pipelines(base)
        self.cycle = 0
        bad = _task_failures(self.etl.run_all())
        if bad:
            raise RuntimeError(f"initial load failed: {bad}")

    def prepare(self) -> None:
        self.cycle += 1
        self.input_bytes += gen.write_batch(self.ds, self.cycle, self.landing)

    def run(self) -> dict:
        return self.etl.run_all()

    def finish(self, k: int) -> list[str]:
        if k == 1:
            self.stored_ratio = self._stored_ratio()
        return []

    def close(self) -> list[str]:
        """The end-of-run audit: the warehouse after every cycle equals
        the replay of the initial load plus every landed batch."""
        self.changelog = storage_metrics(self.warehouse)
        expected = oracle.Expected(self.landing, CLOCK)
        try:
            return expected.check(self.warehouse)
        finally:
            expected.close()


WORKLOADS = {"backfill": Backfill, "trickle": Trickle}


def _start_session():
    from end_to_end_etl_using_snowflake_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark()
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def _stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    children = [p for p in process_tree() if p != os.getpid()]
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in children):
        time.sleep(0.1)


def _generate(seed: int, shape, out: str):
    """Generate the inputs GEN_REPEATS times; returns the data set, the
    median generation time, the input bytes and whether every repeat
    wrote byte-identical files."""
    times, dirs = [], []
    for i in range(GEN_REPEATS):
        d = f"{out}{i}"
        t0 = time.perf_counter()
        ds = gen.build(seed, shape)
        size = gen.write_initial(ds, d)
        times.append(time.perf_counter() - t0)
        dirs.append(d)
    same = all(_same_tree(dirs[0], d) for d in dirs[1:])
    for d in dirs[1:]:
        shutil.rmtree(d)
    return ds, dirs[0], _median(times), size, same


def run(args, spark, session_s: float) -> dict:
    session_ready = time.perf_counter()
    tracer = None
    try:
        ds, src, gen_s, input_bytes, deterministic = _generate(
            args.seed, gen.SHAPES[args.workload], os.path.join(WORK, "gen"))
        wl = WORKLOADS[args.workload](spark, ds, src, input_bytes)
        t0 = time.perf_counter()
        wl.setup()
        warm_s = time.perf_counter() - t0
        setup_s = (session_ready - T_PROCESS) + gen_s + warm_s
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark)

        latencies, cpu, traced, untraced, per_op, failures = [], [], [], [], [], []
        engine = process_tree()
        window_start = time.perf_counter()
        steal0 = _cpu_steal()
        k = 0
        min_ops = MIN_TRACED_OPS if tracer is not None else MIN_OPS
        while (k < min_ops or time.perf_counter() - window_start < args.seconds) \
                and time.perf_counter() - T_PROCESS < LAST_START_S:
            k += 1
            wl.prepare()
            _quiesce(spark)
            is_traced = tracer is not None and k % 4 in (2, 3)
            hist0 = {e: len(d.history) for e, d in wl.etl.dags.items()}
            if is_traced:
                tracer.op = k
                first_job = tracer.last_job_id()
                tracer.install()
            c1 = cpu_seconds(engine)
            t1 = time.perf_counter()
            try:
                runs = wl.run()
                error = None
            except Exception as exc:  # an operation that raises counts as failed
                runs, error = {}, f"{type(exc).__name__}: {exc}"
            lat = time.perf_counter() - t1
            cpu.append(cpu_seconds(engine) - c1)
            if is_traced:
                tracer.uninstall()
                tracer.op = None
                m = tracer.op_metrics(k)
                m["pipelines.cpu_s"] = cpu[-1]
                m.update(tracer.spark_counts(k, first_job, tracer.settle(first_job)))
                for e, d in wl.etl.dags.items():
                    for r in d.history[hist0[e]:]:
                        if r.completed_time is not None:
                            m[f"streaming.task_s.{r.task_name}"] = (
                                r.completed_time - r.scheduled_time).total_seconds()
                per_op.append(m)
            bad = [error] if error else _task_failures(runs)
            if not error:
                bad += wl.finish(k)
            latencies.append(lat)
            (traced if is_traced else untraced).append(lat)
            if bad:
                failures.append((k, bad))
                if args.workload == "trickle":
                    break  # the warehouse state is unknown after a failed cycle
        if tracer is not None:
            tracer.dump(os.path.join(OUT, f"{args.workload}-seed{args.seed}-spans.json"))
        t_close = time.perf_counter()
        window_s = t_close - window_start
        steal1 = _cpu_steal()
        steal = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        audit = wl.close()
        close_s = time.perf_counter() - t_close
        attempted = len(latencies)
        failed = len(failures)
        if audit:
            failures.append(("audit", audit))
            failed = attempted  # the end state covers every cycle
        pids = process_tree()
        rss = peak_rss_mib(pids)
        rss_by_process = {f"{p} {_comm(p)}": peak_rss_mib([p]) for p in pids}
    finally:
        if tracer is not None:
            tracer.uninstall()

    report = {"latencies_s": latencies, "cpu_s": cpu, "failures": failures,
              "inputs_deterministic": deterministic, "gen_s": gen_s,
              "session_s": session_s, "workload_setup_s": warm_s, "window_s": window_s,
              "audit_s": close_s, "cpu_steal_frac": steal,
              "peak_rss_mib_by_process": rss_by_process}
    if args.trace:
        names = sorted({n for m in per_op for n in m})
        layer = {n: _median([m.get(n, 0.0) for m in per_op]) for n in names}
        layer.update(wl.changelog)
        layer["session.start_s"] = session_s
        layer["session.peak_rss_mb"] = rss
        layer["pipelines.cycle_drift_ratio"] = _drift(latencies)
        layer["trace.overhead_s"] = _median(traced) - _median(untraced)
        report["spark_jobs_per_traced_op"] = [m.get("pipelines.spark_jobs") for m in per_op]
        metrics = {n: {"value": layer.get(n, 0.0), "unit": unit} for n, unit in PER_LAYER}
    else:
        values = {"setup_s": setup_s, "op_p50_s": _median(latencies),
                  "stored_bytes_per_input_byte": wl.stored_ratio}
        metrics = {n: {"value": values[n], "unit": unit} for n, unit in END_TO_END}
    return {"report": report, "result": {
        "correct": deterministic and failed == 0 and attempted > 0,
        "attempted": attempted, "failed": failed, "metrics": metrics}}


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def _cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def _quiesce(spark) -> None:
    """Untimed pause before an operation: collect garbage in the Python
    process and the JVM and let Spark's asynchronous cleanup of the
    previous operation finish, so every operation starts from the same
    state."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(0.2)


def _drift(latencies: list[float]) -> float:
    """Median of the last quarter of operations over the first quarter."""
    q = max(1, len(latencies) // 4)
    return _median(latencies[-q:]) / _median(latencies[:q])


END_TO_END = [("setup_s", "s"), ("op_p50_s", "s"), ("stored_bytes_per_input_byte", "ratio")]

TASKS = ["customer_raw_tsk", "item_raw_tsk", "order_raw_tsk", "dim_customer_tsk",
         "dim_item_tsk", "fact_order_tsk", "truncate_staging_table_customer",
         "truncate_staging_table_item", "truncate_staging_table_order"]

PER_LAYER = [
    ("session.start_s", "s"), ("session.peak_rss_mb", "MiB"),
    ("sources.refresh_s", "s"), ("sources.files_loaded", "count"), ("sources.spark_jobs", "count"),
    ("streaming.gate_s", "s"), ("streaming.stream_read_s", "s"), ("streaming.record_s", "s"),
    ("streaming.commit_s", "s"),
    *[(f"streaming.task_s.{t}", "s") for t in TASKS],
    ("streaming.changelog_versions", "count"), ("streaming.changelog_bytes", "bytes"),
    ("operators.merge.plan_s", "s"),
    ("operators.dml.write_s", "s"), ("operators.dml.files_written", "count"),
    ("operators.dml.bytes_written", "bytes"), ("operators.dml.partitions_rewritten", "count"),
    ("operators.dml.partitions_read_frac", "ratio"),
    ("plans.catalog.append_s", "s"), ("plans.catalog.overwrite_s", "s"),
    ("plans.catalog.read_s", "s"),
    ("pipelines.dim_phase_s", "s"), ("pipelines.order_phase_s", "s"),
    ("pipelines.spark_jobs", "count"), ("pipelines.spark_tasks", "count"),
    ("pipelines.spark_failed_tasks", "count"), ("pipelines.cpu_s", "s"),
    ("pipelines.cycle_drift_ratio", "ratio"),
    ("trace.overhead_s", "s"),
]


def _prepare_environment(cores: int) -> None:
    """Keep every file the run writes inside the checkout."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d))
    os.makedirs(OUT, exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    os.environ.pop("SPARK_GRAFT_EXTERNAL_MASTER", None)


def main() -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, ENGINE, "__init__.py")):
        print(f"engine package {ENGINE}/ not found next to perfbench/", file=sys.stderr)
        return 2
    _prepare_environment(len(os.sched_getaffinity(0)))
    sys.path.insert(0, ROOT)
    spark = None
    try:
        spark, session_s = _start_session()
        out = run(args, spark, session_s)
    finally:
        if spark is not None:
            _stop_session(spark)
        shutil.rmtree(WORK, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(WORK))
        except OSError:
            pass  # another run still uses it
    report, result = out["report"], out["result"]
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(OUT, f"{name}.json"), "w") as f:
        json.dump({"report": report, "result": result}, f, indent=1)
    print(f"workload={args.workload} seed={args.seed} trace={args.trace} "
          f"ops={result['attempted']} failed={result['failed']} correct={result['correct']} "
          f"cpu_steal={report['cpu_steal_frac']:.3f}")
    print("op latencies (s): " + " ".join(f"{x:.3f}" for x in report["latencies_s"]))
    for k, bad in report["failures"]:
        print(f"FAILED op {k}: {bad}")
    for n, m in result["metrics"].items():
        print(f"  {n:48s} {m['value']:>16.6g} {m['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
