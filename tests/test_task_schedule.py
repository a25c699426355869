"""The wake-up schedule: ``TaskDag.run_cycle`` gates, waits and failure
records, and ``EntityPipelines.run_all``'s one cross-entity edge (the
fact task starts after both dim cycles). Hermetic: every input is a
small CSV written by the test."""

from __future__ import annotations

import os
from datetime import datetime, timezone

import pytest

from end_to_end_etl_using_snowflake_spark.operators.dml import data_files
from end_to_end_etl_using_snowflake_spark.pipelines.entities import EntityPipelines
from end_to_end_etl_using_snowflake_spark.plans.catalog import Warehouse
from end_to_end_etl_using_snowflake_spark.sources import csv_format as CF
from end_to_end_etl_using_snowflake_spark.streaming.tasks import Task, TaskDag


def _states(runs) -> list[tuple[str, str]]:
    return [(r.task_name, r.state) for r in runs]


def test_raising_when_records_failed_and_stops_the_chain(spark):
    ran = []

    def broken_gate():
        raise RuntimeError("gate exploded")

    dag = TaskDag(spark, "t")
    dag.add(Task("root", body=lambda: ran.append("root"), when=broken_gate))
    dag.add(Task("child", body=lambda: ran.append("child"), after="root"))
    runs = dag.run_cycle()
    assert _states(runs) == [("root", "FAILED")]
    assert "gate exploded" in runs[0].error
    assert runs[0].completed_time is not None
    assert ran == []
    assert _states(dag.history) == [("root", "FAILED")]
    assert [r.state for r in dag.task_history().collect()] == ["FAILED"]


def test_wait_runs_before_its_task_and_a_raising_wait_fails_it(spark):
    events = []
    dag = TaskDag(spark, "t")
    dag.add(Task("a", body=lambda: events.append("a")))
    dag.add(Task("b", body=lambda: events.append("b"), after="a"))

    runs = dag.run_cycle({"b": lambda: events.append("wait b")})
    assert events == ["a", "wait b", "b"]
    assert _states(runs) == [("a", "SUCCEEDED"), ("b", "SUCCEEDED")]

    def upstream_failed():
        raise ValueError("upstream cycle raised")

    runs = dag.run_cycle({"b": upstream_failed})
    assert _states(runs) == [("a", "SUCCEEDED"), ("b", "FAILED")]
    assert "upstream cycle raised" in runs[1].error
    assert events == ["a", "wait b", "b", "a"]


# ----------------------------------------------------------------------
# run_all over generated CSVs
# ----------------------------------------------------------------------


def _write(landing, entity: str, name: str, rows: list[tuple]) -> None:
    header = ",".join(CF.STAGE_SCHEMAS[entity].names)
    lines = [header, *(",".join(r) for r in rows)]
    (landing / entity / f"{name}.csv").write_text("\n".join(lines) + "\n")


def _customer(i: int) -> tuple:
    return (f"C{i}", "Mr.", f"F{i}", f"L{i}", "1", "2", "1990", "X", f"c{i}@x.com", "Y")


def _item(i: int) -> tuple:
    return (f"I{i}", f"item {i}", "2020-01-01", "", "9.99", "cls", "cat", "Y")


def _order(day: int, cust: int, item: int, qty: int = 1, month: int = 3) -> tuple:
    return (
        f"2021-{month:02d}-{day:02d}", f"10:{cust:02d}:{item:02d} AM", f"I{item}", f"item {item}",
        f"C{cust}", "Mr.", f"F{cust}", f"L{cust}", "S1", "store", str(qty),
        "10.00", "0.00", "0.00", "10.00", "10.80", "2.00",
    )


@pytest.fixture
def pipeline(spark, tmp_path):
    landing = tmp_path / "landing"
    for e in ("customer", "item", "order"):
        (landing / e).mkdir(parents=True)

    def make(fact_mode: str = "rebuild") -> EntityPipelines:
        # one warehouse per posture: two may load the same landing files
        clock = lambda: datetime(2022, 3, 1, tzinfo=timezone.utc)  # noqa: E731
        wh = Warehouse(spark, str(tmp_path / "wh" / fact_mode))
        return EntityPipelines(spark, wh, str(landing), clock=clock, fact_mode=fact_mode)

    _write(landing, "customer", "c0", [_customer(i) for i in range(3)])
    _write(landing, "item", "i0", [_item(i) for i in range(2)])
    _write(landing, "order", "o0", [_order(1, 0, 0), _order(1, 1, 1, qty=2)])
    return landing, make


def _fact(p: EntityPipelines) -> dict[tuple, int]:
    """(customer_id, item_id, order_date) -> order_quantity."""
    cust = {r.customer_dim_key: r.customer_id for r in p.dim_customer.read().collect()}
    item = {r.item_dim_key: r.item_id for r in p.dim_item.read().collect()}
    return {
        (cust[r.customer_dim_key], item[r.item_dim_key], str(r.order_date)): r.order_quantity
        for r in p.fact_order.read().collect()
    }


def _all_succeeded(runs, entities=("customer", "item", "order")) -> bool:
    return all([r.state for r in runs[e]] == ["SUCCEEDED"] * 5 for e in entities)


@pytest.mark.parametrize("fact_mode", ["rebuild", "incremental"])
def test_new_customer_and_its_first_order_land_in_one_wake_up(pipeline, fact_mode):
    landing, make = pipeline
    p = make(fact_mode)
    assert _all_succeeded(p.run_all())

    _write(landing, "customer", "c1", [_customer(7)])
    _write(landing, "order", "o1", [_order(2, 7, 1, qty=5)])
    runs = p.run_all()
    assert _all_succeeded(runs, ("customer", "order"))
    assert _states(runs["item"]) == [("pause_pipe_item", "SKIPPED")]
    new_key = [r.customer_dim_key for r in p.dim_customer.read().collect()
               if r.customer_id == "C7"]
    assert len(new_key) == 1
    fact = p.fact_order.read().collect()
    assert [(r.customer_dim_key, r.order_quantity) for r in fact
            if str(r.order_date) == "2021-03-02"] == [(new_key[0], 5)]
    assert _fact(p) == {
        ("C0", "I0", "2021-03-01"): 1,
        ("C1", "I1", "2021-03-01"): 2,
        ("C7", "I1", "2021-03-02"): 5,
    }


def test_order_only_batch_rebuilds_fact_with_both_dim_roots_skipped(pipeline):
    landing, make = pipeline
    p = make()
    p.run_all()

    _write(landing, "order", "o1", [_order(3, 2, 0, qty=4)])
    runs = p.run_all()
    assert _states(runs["customer"]) == [("pause_pipe_customer", "SKIPPED")]
    assert _states(runs["item"]) == [("pause_pipe_item", "SKIPPED")]
    assert [r.state for r in runs["order"]] == ["SUCCEEDED"] * 5
    assert _fact(p)[("C2", "I0", "2021-03-03")] == 4


def test_fact_task_is_scheduled_after_both_dim_cycles_end(pipeline):
    _, make = pipeline
    p = make()
    runs = p.run_all()
    assert _all_succeeded(runs)
    fact = next(r for r in runs["order"] if r.task_name == "fact_order_tsk")
    for e in ("customer", "item"):
        dim = next(r for r in runs[e] if r.task_name == f"dim_{e}_tsk")
        assert fact.scheduled_time >= dim.completed_time
        assert fact.scheduled_time >= runs[e][-1].completed_time


def test_raising_dim_cycle_fails_the_fact_and_next_wake_up_recovers(pipeline):
    landing, make = pipeline
    p = make()
    p.run_all()

    _write(landing, "customer", "c1", [_customer(8)])
    _write(landing, "order", "o1", [_order(4, 8, 0)])
    refresh = p.pipes["customer"].refresh

    def broken_refresh():
        raise OSError("landing zone unreachable")

    p.pipes["customer"].refresh = broken_refresh
    history = {e: len(d.history) for e, d in p.dags.items()}
    with pytest.raises(OSError, match="landing zone unreachable"):
        p.run_all()
    assert len(p.dags["customer"].history) == history["customer"]
    assert [r.state for r in p.dags["item"].history[history["item"]:]] == ["SKIPPED"]
    order = p.dags["order"].history[history["order"]:]
    assert _states(order) == [
        ("pause_pipe_order", "SUCCEEDED"),
        ("order_raw_tsk", "SUCCEEDED"),
        ("fact_order_tsk", "FAILED"),
    ]
    assert "landing zone unreachable" in order[-1].error
    assert p.pipes["order"].paused

    p.pipes["customer"].refresh = refresh
    runs = p.run_all()
    assert [r.state for r in runs["customer"]] == ["SUCCEEDED"] * 5
    assert [r.state for r in runs["order"]] == ["SUCCEEDED"] * 5
    assert not p.pipes["order"].paused
    assert _fact(p)[("C8", "I0", "2021-03-04")] == 1


def test_transform_failure_does_not_leave_the_pipe_paused(pipeline):
    """A transform that fails after its raw task committed the stage
    offset leaves the pipe paused and the stage stream empty. The next
    wake-up must still finish the chain, or no file ever lands again."""
    landing, make = pipeline
    p = make()
    p.run_all()
    assert p.dim_customer.read().count() == 3

    dim_task = p.dags["customer"]._get("dim_customer_tsk")
    body = dim_task.body

    def fail_once():
        dim_task.body = body
        raise RuntimeError("injected dim failure")

    dim_task.body = fail_once
    _write(landing, "customer", "c1", [_customer(i) for i in range(3, 6)])
    runs = p.run_all()
    assert runs["customer"][-1].task_name == "dim_customer_tsk"
    assert runs["customer"][-1].state == "FAILED"
    assert p.pipes["customer"].paused

    _write(landing, "customer", "c2", [_customer(i) for i in range(6, 8)])
    runs = p.run_all()
    assert [r.state for r in runs["customer"]] == ["SUCCEEDED"] * 5
    assert not p.pipes["customer"].paused
    assert p.dim_customer.read().count() == p.raw["customer"].read().count() == 6

    p.run_all()  # the file that landed while the pipe was paused
    assert p.dim_customer.read().count() == 8

    runs = p.run_all()  # idle: the gate skips again
    assert _states(runs["customer"]) == [("pause_pipe_customer", "SKIPPED")]


def _inodes(root: str) -> set[int]:
    return {os.stat(p).st_ino for p in data_files(root)}


def _version(table, v: int):
    """Change rows of version ``v`` and the inodes of its files."""
    rows = table.changelog.stream_read("probe")[0].filter(f"_version = {v}")
    vdir = os.path.join(table.changelog.log_path, f"_version={v}")
    return rows.drop("_version", "_action"), _inodes(vdir)


def test_incremental_order_commits_link_their_change_versions(pipeline):
    """The partitioned order tables commit once: each change version
    hard-links the files the commit wrote, and its rows carry the
    logical columns only (no ``__month``)."""
    landing, make = pipeline
    _write(landing, "order", "o_feb", [_order(9, 2, 0, month=2)])
    p = make("incremental")
    assert _all_succeeded(p.run_all())

    raw = p.raw["order"]
    rows, linked = _version(raw, 1)  # the initial load
    assert rows.columns == raw.schema.names
    assert sorted(map(tuple, rows.collect())) == sorted(map(tuple, raw.read().collect()))
    assert linked == _inodes(raw.storage.path)

    _write(landing, "order", "o1", [_order(2, 0, 1, qty=4)])
    assert _all_succeeded(p.run_all(), ("order",))
    fact = p.fact_order
    rows, linked = _version(fact, fact.changelog.version)
    assert rows.columns == fact.schema.names
    march = fact.read().filter("order_date >= '2021-03-01'")
    assert sorted(map(tuple, rows.collect())) == sorted(map(tuple, march.collect()))
    assert march.count() == 3 and fact.read().count() == 4
    assert linked == _inodes(os.path.join(fact.storage.path, "__month=2021-03"))


def test_null_partition_value_keeps_its_rows_across_batches(pipeline):
    """An order with a NULL ``order_date`` lands in Spark's default
    ``__month`` partition. A later batch carrying another NULL-date
    order must merge into that partition, not replace it."""
    landing, make = pipeline
    null_date = lambda cust: ("\\N", *_order(1, cust, 0)[1:])  # noqa: E731
    _write(landing, "order", "o_null1", [null_date(0)])
    p = make("incremental")
    assert _all_succeeded(p.run_all())

    _write(landing, "order", "o_null2", [null_date(1)])
    assert _all_succeeded(p.run_all(), ("order",))
    raw = p.raw["order"].read()
    assert sorted(r.customer_id for r in raw.filter("order_date IS NULL").collect()) == ["C0", "C1"]
    assert raw.count() == 4
    assert {k: v for k, v in _fact(p).items() if k[2] == "None"} == {
        ("C0", "I0", "None"): 1,
        ("C1", "I0", "None"): 1,
    }


def _order_on(date: str, cust: int, item: int) -> tuple:
    """An order whose ``order_date`` field is the raw text ``date``."""
    return (date, *_order(1, cust, item)[1:])


def _business(p: EntityPipelines) -> list[tuple]:
    """The fact's rows without its identity key, as sortable text."""
    rows = p.fact_order.read().drop("order_fact_key").collect()
    return sorted(tuple(map(str, r)) for r in rows)


def test_incremental_fact_equals_the_rebuilt_fact(pipeline):
    """Both postures, fed the same three wake-ups, end in the same fact:
    a two-month initial load; an update to a February order plus an
    order with a NULL (``\\N``) date; an order dated ``2021-3-7``,
    which belongs to March like the other March orders. The rebuilt
    fact numbers its keys 1..N, and both facts' keys are unique."""
    landing, make = pipeline
    _write(landing, "order", "o_feb", [_order(9, 2, 0, month=2)])
    ps = {mode: make(mode) for mode in ("rebuild", "incremental")}
    wake_ups = [
        {},
        {"o_upd": [_order(9, 2, 0, qty=7, month=2), _order_on("\\N", 0, 1)]},
        {"o_short": [_order_on("2021-3-7", 1, 0)]},
    ]
    for i, files in enumerate(wake_ups):
        for name, rows in files.items():
            _write(landing, "order", name, rows)
        for p in ps.values():
            assert _all_succeeded(p.run_all(), ("order",) if i else ("customer", "item", "order"))

    assert _fact(ps["rebuild"]) == {
        ("C2", "I0", "2021-02-09"): 7,
        ("C0", "I0", "2021-03-01"): 1,
        ("C1", "I1", "2021-03-01"): 2,
        ("C0", "I1", "None"): 1,
        ("C1", "I0", "2021-03-07"): 1,
    }
    assert _business(ps["incremental"]) == _business(ps["rebuild"])
    for mode, p in ps.items():
        keys = [r.order_fact_key for r in p.fact_order.read().collect()]
        assert len(keys) == len(set(keys)), f"{mode}: duplicate fact keys"
    rebuilt = sorted(r.order_fact_key for r in ps["rebuild"].fact_order.read().collect())
    assert rebuilt == list(range(1, len(rebuilt) + 1))


def test_one_batch_with_null_and_empty_dates_keeps_each_raw_order_once(pipeline):
    """A ``\\N`` date and a quoted empty date both map to the default
    partition of ``raw_order``; one batch carrying both must merge into
    that partition once, so the earlier NULL-date order stays single.
    The empty date still fails the fact's date cast, so only raw is
    checked here."""
    landing, make = pipeline
    _write(landing, "order", "o_null1", [_order_on("\\N", 0, 0)])
    p = make("incremental")
    assert _all_succeeded(p.run_all())

    _write(landing, "order", "o_null2", [_order_on("\\N", 1, 0), _order_on('""', 2, 0)])
    p.run_all()
    raw = p.raw["order"].read()
    keys = p.MERGE_KEYS["order"]
    assert raw.count() == raw.select(*keys).distinct().count() == 5
    assert sorted(r.customer_id for r in raw.filter("order_date IS NULL").collect()) == ["C0", "C1"]
    assert [r.customer_id for r in raw.filter("order_date = ''").collect()] == ["C2"]


def test_incremental_fact_drops_a_touched_month_left_without_rows(pipeline):
    """A touched month whose recompute from raw yields no fact rows is
    replaced by no rows, as the rebuild drops them: the initial load
    holds a February order of I0 and two March orders of I1; the next
    wake-up end-dates I1, so its new March order and both old ones
    join no current item row."""
    landing, make = pipeline
    _write(landing, "order", "o0", [_order(9, 0, 0, month=2), _order(1, 1, 1), _order(2, 2, 1)])
    ps = {mode: make(mode) for mode in ("rebuild", "incremental")}
    for p in ps.values():
        assert _all_succeeded(p.run_all())

    _write(landing, "item", "i_end", [_item(1)[:3] + ("2021-03-15",) + _item(1)[4:]])
    _write(landing, "order", "o1", [_order(3, 0, 1)])
    for p in ps.values():
        assert _all_succeeded(p.run_all(), ("item", "order"))

    assert _fact(ps["rebuild"]) == {("C0", "I0", "2021-02-09"): 1}
    assert _business(ps["incremental"]) == _business(ps["rebuild"])


def test_warm_wake_up_compiles_nothing(pipeline, compiles):
    """Once the pipeline's plans have run, a wake-up reuses every
    generated class, though each wake-up inserts a new customer, item
    and order and so moves all three identity seeds."""
    landing, make = pipeline
    p = make("incremental")
    assert _all_succeeded(p.run_all())
    for i in range(3, 6):
        _write(landing, "customer", f"c{i}", [_customer(i)])
        _write(landing, "item", f"i{i}", [_item(i)])
        _write(landing, "order", f"o{i}", [_order(i, i, i)])
        before = compiles()
        assert _all_succeeded(p.run_all())
    assert compiles() - before == 0
    assert len(_fact(p)) == 5


def test_run_forever_loads_each_file_once_across_a_restart(spark, tmp_path):
    """The schedule runs ``run_all`` once per wake-up. A fresh ``EntityPipelines`` on the same warehouse and landing directory
    loads only the file that landed since: the old customers keep their
    ``updated_timestamp``, the new one is inserted with the restart's
    clock stamp, and the chain truncates the stage."""
    landing = tmp_path / "landing"
    for e in ("customer", "item", "order"):
        (landing / e).mkdir(parents=True)
    _write(landing, "customer", "c0", [_customer(i) for i in range(3)])
    _write(landing, "item", "i0", [_item(i) for i in range(2)])
    _write(landing, "order", "o0", [_order(1, 0, 0), _order(1, 1, 1, qty=2)])
    day1 = datetime(2022, 3, 1, tzinfo=timezone.utc)
    day2 = datetime(2022, 3, 2, tzinfo=timezone.utc)

    def make(now: datetime) -> EntityPipelines:
        wh = Warehouse(spark, str(tmp_path / "wh"))
        return EntityPipelines(spark, wh, str(landing), clock=lambda: now)

    p = make(day1)
    p.run_forever(0, max_wakeups=2)
    # wake-up 1 walks every chain; wake-up 2 finds no new file
    for e in ("customer", "item", "order"):
        assert [r.state for r in p.dags[e].history] == ["SUCCEEDED"] * 5 + ["SKIPPED"]
    assert _fact(p) == {("C0", "I0", "2021-03-01"): 1, ("C1", "I1", "2021-03-01"): 2}
    keys = {r.customer_id: r.customer_dim_key for r in p.dim_customer.read().collect()}

    renamed = list(_customer(1))
    renamed[2] = "Renamed"
    _write(landing, "customer", "c1", [tuple(renamed), _customer(3)])
    p = make(day2)
    p.run_forever(0, max_wakeups=1)
    assert [r.state for r in p.dags["customer"].history] == ["SUCCEEDED"] * 5
    assert [r.state for r in p.dags["item"].history] == ["SKIPPED"]
    assert [r.state for r in p.dags["order"].history] == ["SKIPPED"]
    assert p.pipes["customer"].manifest.loaded() == {"c0.csv", "c1.csv"}
    assert p.stage["customer"].read().count() == 0
    assert p.raw["customer"].read().count() == 4

    dim = {r.customer_id: r for r in p.dim_customer.read().collect()}
    naive = lambda d: d.replace(tzinfo=None)  # noqa: E731
    assert {c: dim[c].customer_dim_key for c in keys} == keys
    assert [dim[c].updated_timestamp for c in ("C0", "C2")] == [naive(day1)] * 2
    assert dim["C1"].first_name == "Renamed"
    assert (dim["C1"].added_timestamp, dim["C1"].updated_timestamp) == (naive(day1), naive(day2))
    assert dim["C3"].customer_dim_key == max(keys.values()) + 1
    assert dim["C3"].added_timestamp == dim["C3"].updated_timestamp == naive(day2)
