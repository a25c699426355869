"""Replay the reference's de-facto test: history -> delta_1 -> delta_2
(FIXTURES.md §A.2), asserting golden layer contents after each step.

Fixture quirks exercised: headerless+blank-first-line+9-column
customer_delta_1.csv (PERMISSIVE parse), latest-wins item dedup,
SCD-1 update-in-place, inner-join fact drops unresolved keys.
"""

from __future__ import annotations

import shutil
from datetime import datetime, timezone
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from end_to_end_etl_using_snowflake_spark.pipelines.entities import EntityPipelines
from end_to_end_etl_using_snowflake_spark.plans.catalog import Warehouse

SRC = Path("/root/reference/source_data")

STEPS = {
    1: ["customer_history.csv", "item_history.csv", "order_history.csv"],
    2: ["customer_delta_1.csv", "item_delta_1.csv", "order_delta_1.csv"],
    3: ["customer_delta_2.csv", "item_delta_2.csv"],
}


def _entity_of(fname: str) -> str:
    return fname.split("_")[0]


@pytest.fixture(scope="module")
def replayed(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("replay")
    landing = base / "landing"
    for e in ("customer", "item", "order"):
        (landing / e).mkdir(parents=True)
    wh = Warehouse(spark, str(base / "warehouse"))

    clocks = {
        1: datetime(2020, 1, 1, tzinfo=timezone.utc),
        2: datetime(2020, 1, 2, tzinfo=timezone.utc),
        3: datetime(2020, 1, 3, tzinfo=timezone.utc),
    }
    state = {"step": 1}
    pipelines = EntityPipelines(
        spark, wh, str(landing), clock=lambda: clocks[state["step"]]
    )

    results = {}
    for step, files in STEPS.items():
        state["step"] = step
        for f in files:
            shutil.copy(SRC / f, landing / _entity_of(f) / f)
        runs = pipelines.run_all()
        results[step] = {
            "runs": runs,
            "dim_customer": pipelines.dim_customer.read().collect(),
            "dim_item": pipelines.dim_item.read().collect(),
            "fact_order": pipelines.fact_order.read().collect(),
        }
    return pipelines, results, clocks


def test_step1_initial_load(replayed):
    _, results, _ = replayed
    r = results[1]
    assert len(r["dim_customer"]) == 20
    assert len(r["dim_item"]) == 21
    # the history fixtures have ZERO orders whose customer_id resolves in
    # customer_history (verified vs DuckDB) — the inner join drops all 18;
    # the reference author hit exactly this (manual key-fix UPDATEs,
    # order-...sql:377-387). Golden: empty fact after step 1.
    assert len(r["fact_order"]) == 0
    # every task in every chain succeeded
    for runs in r["runs"].values():
        assert [x.state for x in runs] == ["SUCCEEDED"] * 5


def test_step2_delta1_inserts(replayed):
    _, results, _ = replayed
    r = results[2]
    assert len(r["dim_customer"]) == 21  # headerless 9-col file still lands
    assert len(r["dim_item"]) == 22
    neal = [x for x in r["dim_customer"] if x.customer_id == "AAAAAAAAPOJJJDAA"]
    assert len(neal) == 1
    assert neal[0].first_name == "Neal" and neal[0].is_active is None  # missing col -> NULL
    # fact gains the delta order group (FIXTURES.md golden)
    new = [
        x
        for x in r["fact_order"]
        if str(x.order_date) == "2000-10-27" and x.order_quantity == 46
    ]
    assert len(new) == 1
    assert float(new[0].sale_price) == 23.50
    assert float(new[0].net_paid) == 1081.00
    assert float(new[0].net_profit) == -3209.42


def test_step3_scd1_update(replayed):
    _, results, clocks = replayed
    r = results[3]
    assert len(r["dim_customer"]) == 22
    assert len(r["dim_item"]) == 22  # same item_id updated in place
    item = [x for x in r["dim_item"] if x.item_id == "AAAAAAAACDLBXPPP"]
    assert len(item) == 1
    assert item[0].item_class == "stones"
    assert str(item[0].start_date) == "1997-10-28"
    assert item[0].end_date is None
    # SCD-1 timestamps: added frozen at insert step, updated advanced
    assert item[0].added_timestamp == clocks[2].replace(tzinfo=None)
    assert item[0].updated_timestamp == clocks[3].replace(tzinfo=None)


def test_identity_keys_unique_and_stable(replayed):
    pipelines, results, _ = replayed
    dim = results[3]["dim_customer"]
    keys = [x.customer_dim_key for x in dim]
    assert len(set(keys)) == len(keys)
    assert min(keys) == 1 and max(keys) == len(keys)  # contiguous
    # keys assigned in step 1 unchanged by later merges
    step1 = {x.customer_id: x.customer_dim_key for x in results[1]["dim_customer"]}
    step3 = {x.customer_id: x.customer_dim_key for x in dim}
    assert all(step3[cid] == k for cid, k in step1.items())


def test_idle_cycle_skips(replayed):
    pipelines, _, _ = replayed
    runs = pipelines.run_cycle("customer")  # no new files
    assert runs[0].state == "SKIPPED"
    assert len(runs) == 1  # chain stops at the gated root


def test_stage_truncated_and_pipe_resumed(replayed):
    pipelines, _, _ = replayed
    for e in ("customer", "item", "order"):
        assert pipelines.stage[e].read().count() == 0  # M5 truncate ran
        assert pipelines.pipes[e].status()["executionState"] == "RUNNING"


def test_task_history_surface(replayed):
    pipelines, _, _ = replayed
    hist = pipelines.dags["customer"].task_history()
    states = {r["state"] for r in hist.collect()}
    assert "SUCCEEDED" in states and "SKIPPED" in states
    # P5 IN-list filter over history (customer-...sql:199)
    n = hist.filter(
        F.col("name").isin("pause_pipe_customer", "customer_raw_tsk")
    ).count()
    assert n > 0


def test_referential_integrity(replayed):
    """Semi-join probes (order-...sql:365-371): every fact key resolves."""
    pipelines, _, _ = replayed
    fact = pipelines.fact_order.read()
    dc = pipelines.dim_customer.read()
    di = pipelines.dim_item.read()
    assert fact.join(dc, "customer_dim_key", "left_anti").count() == 0
    assert fact.join(di, "item_dim_key", "left_anti").count() == 0


def test_crash_replay_between_write_and_commit(spark, tmp_path):
    """T1's crash window: the dim table write landed but the stream
    offset commit did not. Recovery = re-run the task; the merge is
    idempotent, so the replay must create no duplicate rows, no new
    identity keys, and must not disturb added_timestamp."""
    landing = tmp_path / "landing"
    for e in ("customer", "item", "order"):
        (landing / e).mkdir(parents=True)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    clock = {"now": datetime(2022, 3, 1, tzinfo=timezone.utc)}
    p = EntityPipelines(spark, wh, str(landing), clock=lambda: clock["now"])
    shutil.copy(SRC / "customer_history.csv", landing / "customer" / "customer_history.csv")
    p.run_cycle("customer")
    before = {r.customer_id: (r.customer_dim_key, r.added_timestamp)
              for r in p.dim_customer.read().collect()}
    assert len(before) == 20

    # simulate the crash: rewind the consumer offset as if the commit
    # never happened, then recover by re-running the task body
    raw_log = p.raw["customer"].changelog
    committed = raw_log.offset("dim_tsk")
    raw_log.stream_commit("dim_tsk", 0)
    clock["now"] = datetime(2022, 3, 2, tzinfo=timezone.utc)
    p._dim_customer_task()

    after = {r.customer_id: (r.customer_dim_key, r.added_timestamp)
             for r in p.dim_customer.read().collect()}
    assert after == before  # no dup rows, same identities, added_ts frozen
    assert raw_log.offset("dim_tsk") == committed  # offset re-committed


def test_incremental_fact_mode_matches_rebuild(spark, tmp_path_factory):
    """fact_mode="incremental" (month-partitioned fact, only touched
    months recomputed and replaced per cycle) must
    produce the same fact as the reference-parity full rebuild after
    the whole history -> delta1 -> delta2 replay — compared on business
    columns (identity key VALUES are engine-specific and differ by
    assignment order across modes; uniqueness asserted instead)."""
    facts = {}
    for mode in ("rebuild", "incremental"):
        base = tmp_path_factory.mktemp(f"replay_{mode}")
        landing = base / "landing"
        for e in ("customer", "item", "order"):
            (landing / e).mkdir(parents=True)
        wh = Warehouse(spark, str(base / "warehouse"))
        clocks = {
            1: datetime(2020, 1, 1, tzinfo=timezone.utc),
            2: datetime(2020, 1, 2, tzinfo=timezone.utc),
            3: datetime(2020, 1, 3, tzinfo=timezone.utc),
        }
        state = {"step": 1}
        p = EntityPipelines(
            spark, wh, str(landing),
            clock=lambda: clocks[state["step"]], fact_mode=mode,
        )
        for step, files in STEPS.items():
            state["step"] = step
            for f in files:
                shutil.copy(SRC / f, landing / _entity_of(f) / f)
            p.run_all()
        rows = p.fact_order.read().collect()
        keys = [r.order_fact_key for r in rows]
        assert len(keys) == len(set(keys)), f"{mode}: duplicate fact keys"
        business = sorted(
            tuple(str(v) for k, v in sorted(r.asDict().items()) if k != "order_fact_key")
            for r in rows
        )
        facts[mode] = business
    assert facts["incremental"] == facts["rebuild"]
    assert len(facts["rebuild"]) > 0


def test_fixture_fingerprints_guard():
    """The golden-table oracles (pl_task_history/pl_show_streams/
    pl_list_stage) silently depend on the 8 reference CSVs never
    changing. assert_fixture_fingerprints turns that silent dependency
    into a loud, diagnosed failure — and a drifted file must name
    itself in the error."""
    import pytest as _pytest

    from end_to_end_etl_using_snowflake_spark.plans.pipeline_queries import (
        _FIXTURE_MD5,
        assert_fixture_fingerprints,
    )

    # current fixtures match the pinned generation
    assert_fixture_fingerprints()

    # a drifted copy fails with the filename in the diagnosis
    import shutil as _sh
    import tempfile as _tf

    with _tf.TemporaryDirectory() as d:
        for f in _FIXTURE_MD5:
            _sh.copy(f"/root/reference/source_data/{f}", f"{d}/{f}")
        with open(f"{d}/item_delta_2.csv", "a") as fh:
            fh.write("\n# drift")
        with _pytest.raises(AssertionError, match="item_delta_2.csv"):
            assert_fixture_fingerprints(d)
