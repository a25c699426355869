"""Pipeline-surface driver queries: run the full reference replay
(history -> delta_1 -> delta_2, FIXTURES.md §A.2) inside a scratch
warehouse and expose each layer / observability surface as a DataFrame.

The dim/fact state queries carry REAL DuckDB oracles: the MERGE chain
is SQL-expressible (SURVEY §5 — anti-join ∪ updated-source, replayed
step by step in CTEs over ``read_csv`` of the reference fixtures), and
the injected clock freezes every timestamp. The one engine-specific
part is identity KEY VALUES (assigned in (xxhash64-bucket, business
key) order — deliberately not a SQL-reproducible order, see
operators/merge.py:fill_identity), so:

- ``pl_dim_customer`` / ``pl_dim_item`` / ``pl_fact_order`` verify the
  full post-replay table state minus the raw key values (fact exposes
  its dim keys by joining back to the business ids);
- ``pl_identity_keys`` verifies exactly the key property the engine
  promises — contiguous 1..N, unique — which IS oracle-predictable.

Observability surfaces (task history, stream registry, stage listing)
carry GOLDEN-TABLE oracles (VALUES literals): they reflect engine run
metadata rather than a SQL expression over inputs, but their
post-replay content is exactly specified by the reference's task/
stream semantics, derivable by hand from the fixtures, and pinned as
data (wall-clock timestamps aggregated away).
"""

from __future__ import annotations

import functools
import os
import shutil
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scratch import scratch_dir
from .registry import register

_REFERENCE_DATA = "/root/reference/source_data"
_STEPS = {
    1: ["customer_history.csv", "item_history.csv", "order_history.csv"],
    2: ["customer_delta_1.csv", "item_delta_1.csv", "order_delta_1.csv"],
    3: ["customer_delta_2.csv", "item_delta_2.csv"],
}
# The observability queries (pl_task_history / pl_show_streams /
# pl_list_stage) pin GOLDEN-TABLE (VALUES) oracles hand-derived from
# these exact fixture bytes. If the fixtures ever drift, fail HERE with
# a diagnosis instead of as an opaque value-hash mismatch downstream.
_FIXTURE_MD5 = {
    "customer_history.csv": "b8faabe9474a4c17c031abb77700a31c",
    "item_history.csv": "84d0d36186df18903a9f6c49e71deeb6",
    "order_history.csv": "8d21349d09d0400ba622ef126843b6c2",
    "customer_delta_1.csv": "887e0a9961e0708f4b35a1b99a4a0ad5",
    "item_delta_1.csv": "64242fa4336b7d116b16dc6a247051e6",
    "order_delta_1.csv": "5ae418e04105f26d2693b6ded683d25c",
    "customer_delta_2.csv": "24dac82e893a96b17aee0e16803ee5ac",
    "item_delta_2.csv": "2b811dbfb2c41eb8bb093b36a9e8f6d0",
}
_memo: dict[int, object] = {}


def assert_fixture_fingerprints(base_dir: str = _REFERENCE_DATA) -> None:
    """Pre-assert the 8 reference fixture CSVs are byte-identical to
    the generation the golden-table oracles were derived from."""
    import hashlib

    drifted = []
    for fname, want in _FIXTURE_MD5.items():
        path = os.path.join(base_dir, fname)
        with open(path, "rb") as fh:
            got = hashlib.md5(fh.read()).hexdigest()
        if got != want:
            drifted.append(f"{fname}: expected md5 {want}, found {got}")
    if drifted:
        raise AssertionError(
            "reference fixture drift detected — the golden-table oracles "
            "(pl_task_history/pl_show_streams/pl_list_stage) and the "
            "replay oracles were hand-derived from the original fixture "
            "bytes and must be re-derived:\n  " + "\n  ".join(drifted)
        )


def _read_reference(spark: SparkSession, fname: str, schema) -> DataFrame:
    """One reference fixture file, read as the pipe's COPY reads it."""
    from ..sources.copy_into import read_stage_files

    return read_stage_files(spark, [os.path.join(_REFERENCE_DATA, fname)], schema)


def _replayed(spark: SparkSession):
    """Run the 3-step replay once per process; memoized."""
    key = id(spark)
    if key in _memo:
        return _memo[key]
    assert_fixture_fingerprints()
    from ..pipelines.entities import EntityPipelines
    from ..plans.catalog import Warehouse

    base = scratch_dir("etl_replay_")
    landing = os.path.join(base, "landing")
    for e in ("customer", "item", "order"):
        os.makedirs(os.path.join(landing, e))
    clocks = {s: datetime(2020, 1, s, tzinfo=timezone.utc) for s in _STEPS}
    state = {"step": 1}
    pipelines = EntityPipelines(
        spark,
        Warehouse(spark, os.path.join(base, "warehouse")),
        landing,
        clock=lambda: clocks[state["step"]],
    )
    for step, files in _STEPS.items():
        state["step"] = step
        for f in files:
            shutil.copy(
                os.path.join(_REFERENCE_DATA, f),
                os.path.join(landing, f.split("_")[0], f),
            )
        pipelines.run_all()
    _memo[key] = pipelines
    return pipelines


# ----------------------------------------------------------------------
# DuckDB oracle construction: replay the MERGE chain in SQL
# ----------------------------------------------------------------------
_CSV_OPTS = "header=false, null_padding=true, delim=',', quote='\"', auto_detect=false"
_T = {1: "2020-01-01 00:00:00", 2: "2020-01-02 00:00:00", 3: "2020-01-03 00:00:00"}


def _read_csv_sql(fname: str, cols: list[str], skip: int) -> str:
    """read_csv fragment matching the engine's Snowflake file format
    (sources/csv_format.py): all-varchar stage schema, one skipped
    physical line when a header exists (customer_delta_1.csv starts
    with a BLANK line and no header — DuckDB drops blank lines before
    counting, so skip=0 there), null-padding for short rows (the 9/10
    column PERMISSIVE quirk), empty unquoted field -> NULL (both
    engines' default)."""
    collist = ", ".join(f"'{c}': 'VARCHAR'" for c in cols)
    return (
        f"SELECT * FROM read_csv('{_REFERENCE_DATA}/{fname}', {_CSV_OPTS}, "
        f"skip={skip}, columns={{{collist}}})"
    )


def _merge_step_sql(prev: str, batch: str, key: str, cols: list[str], step: int) -> str:
    """One SCD-1 MERGE as the anti-join ∪ updated-source state equation
    (operators/merge.py:merge_dataframes): matched -> source values +
    updated_timestamp=clock, kept -> verbatim, inserted -> source values
    + both timestamps=clock."""
    ts = f"TIMESTAMP '{_T[step]}'"
    sel = ", ".join(f"{{a}}.{c}" for c in cols)
    return f"""
        SELECT b.{key}, {sel.format(a='b')}, s.added_timestamp,
               {ts} AS updated_timestamp
        FROM {prev} s JOIN {batch} b USING ({key})
        UNION ALL
        SELECT s.{key}, {sel.format(a='s')}, s.added_timestamp, s.updated_timestamp
        FROM {prev} s WHERE NOT EXISTS (SELECT 1 FROM {batch} b WHERE b.{key} = s.{key})
        UNION ALL
        SELECT b.{key}, {sel.format(a='b')}, {ts}, {ts}
        FROM {batch} b WHERE NOT EXISTS (SELECT 1 FROM {prev} s WHERE s.{key} = b.{key})
    """


_CUST_COLS = [
    "customer_id", "salutation", "first_name", "last_name", "birth_day",
    "birth_month", "birth_year", "birth_country", "email_address", "is_active",
]
_ITEM_COLS = [
    "item_id", "item_desc", "start_date", "end_date", "price",
    "item_class", "item_category", "is_active",
]
_ORDER_COLS = [
    "order_date", "order_time", "item_id", "item_desc", "customer_id",
    "salutation", "first_name", "last_name", "store_id", "store_name",
    "order_quantity", "sale_price", "disount_amt",
    "coupon_amt", "net_paid", "net_paid_tax", "net_profit",
]


def _dim_chain_sql(entity: str, key: str, cols: list[str], d2: bool) -> str:
    """WITH-chain replaying history -> delta_1 -> delta_2 for one dim."""
    rest = [c for c in cols if c != key]
    skips = {f"{entity}_history.csv": 1, f"{entity}_delta_1.csv": 1, f"{entity}_delta_2.csv": 1}
    if entity == "customer":
        skips["customer_delta_1.csv"] = 0  # blank line + no header
    parts = [
        f"h AS ({_read_csv_sql(f'{entity}_history.csv', cols, skips[f'{entity}_history.csv'])})",
        f"d1 AS ({_read_csv_sql(f'{entity}_delta_1.csv', cols, skips[f'{entity}_delta_1.csv'])})",
        f"s1 AS (SELECT *, TIMESTAMP '{_T[1]}' AS added_timestamp, "
        f"TIMESTAMP '{_T[1]}' AS updated_timestamp FROM h)",
        f"s2 AS ({_merge_step_sql('s1', 'd1', key, rest, 2)})",
    ]
    last = "s2"
    if d2:
        parts.insert(2, f"d2 AS ({_read_csv_sql(f'{entity}_delta_2.csv', cols, 1)})")
        parts.append(f"s3 AS ({_merge_step_sql('s2', 'd2', key, rest, 3)})")
        last = "s3"
    return "WITH " + ",\n".join(parts) + f"\nSELECT * FROM {last}"


_PL_DIM_CUSTOMER_ORACLE = f"""
    SELECT customer_id, salutation, first_name, last_name,
           birth_day::INTEGER AS birth_day, birth_month::INTEGER AS birth_month,
           birth_year::INTEGER AS birth_year, birth_country, email_address,
           added_timestamp, updated_timestamp, is_active
    FROM ({_dim_chain_sql('customer', 'customer_id', _CUST_COLS, d2=True)})
"""

_PL_DIM_ITEM_ORACLE = f"""
    SELECT item_id, item_desc, start_date::DATE AS start_date,
           end_date::DATE AS end_date, price::DECIMAL(7,2)::DOUBLE AS price,
           item_class, item_category, added_timestamp, updated_timestamp,
           is_active
    FROM ({_dim_chain_sql('item', 'item_id', _ITEM_COLS, d2=True)})
"""

# The fact was last rebuilt in the step-2 cycle (no order files land in
# step 3, so the WHEN gate skips the order chain): raw_order = history
# ∪ delta_1; the star join resolves against the step-2 dim state —
# customers seen by step 2, items whose step-2 current row has
# end_date IS NULL. Key membership equals the final state here (step 3
# only updates attributes in place), and the inner join drops orders
# whose keys miss the dims (the reference author's own referential gap,
# order-...sql:365-387).
_FACT_GROUPED_SQL = f"""
    WITH oh AS ({_read_csv_sql('order_history.csv', _ORDER_COLS, 1)}),
    od AS ({_read_csv_sql('order_delta_1.csv', _ORDER_COLS, 1)}),
    co AS (SELECT * FROM oh UNION ALL SELECT * FROM od),
    ch AS ({_read_csv_sql('customer_history.csv', _CUST_COLS, 1)}),
    cd AS ({_read_csv_sql('customer_delta_1.csv', _CUST_COLS, 0)}),
    cust AS (SELECT customer_id FROM ch UNION SELECT customer_id FROM cd),
    ih AS ({_read_csv_sql('item_history.csv', _ITEM_COLS, 1)}),
    idl AS ({_read_csv_sql('item_delta_1.csv', _ITEM_COLS, 1)}),
    item_s2 AS (
        SELECT item_id, end_date FROM idl
        UNION ALL
        SELECT item_id, end_date FROM ih
        WHERE item_id NOT IN (SELECT item_id FROM idl)
    ),
    items AS (SELECT item_id FROM item_s2 WHERE end_date IS NULL)
    SELECT co.order_date::DATE AS order_date, co.customer_id, co.item_id,
           count(*)::BIGINT AS order_count,
           sum(co.order_quantity::BIGINT)::BIGINT AS order_quantity,
           sum(co.sale_price::DECIMAL(20,2))::DOUBLE AS sale_price,
           sum(co.disount_amt::DECIMAL(20,2))::DOUBLE AS disount_amt,
           sum(co.coupon_amt::DECIMAL(20,2))::DOUBLE AS coupon_amt,
           sum(co.net_paid::DECIMAL(20,2))::DOUBLE AS net_paid,
           sum(co.net_paid_tax::DECIMAL(20,2))::DOUBLE AS net_paid_tax,
           sum(co.net_profit::DECIMAL(20,2))::DOUBLE AS net_profit
    FROM co
    JOIN cust USING (customer_id)
    JOIN items USING (item_id)
    GROUP BY 1, 2, 3
"""


@register(
    "pl_dim_customer",
    oracle=_PL_DIM_CUSTOMER_ORACLE,
    doc="""S1+S2+M1+M2 end-to-end: CSV stage ingest (PERMISSIVE quirks
    included) -> raw MERGE -> typed dim_customer with frozen-clock
    timestamps. Oracle replays the same 3-step MERGE chain in DuckDB
    CTEs over the reference fixtures (customer-...sql:118-165). Key
    VALUES are engine-specific (hash-bucket order) and checked by
    pl_identity_keys instead.""",
    tags=("S1", "S2", "M1", "M2", "F1", "pipeline"),
)
def pl_dim_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _replayed(spark).dim_customer.read().drop("customer_dim_key")


@register(
    "pl_dim_item",
    oracle=_PL_DIM_ITEM_ORACLE,
    doc="""W1 latest-wins dedup + SCD-1 update-in-place: dim_item after
    replay (item AAAAAAAACDLBXPPP inserted by delta_1, updated in place
    by delta_2 — item-...sql:111-151). DECIMAL price leaves as DOUBLE
    per the driver dtype conventions.""",
    tags=("M2", "W1", "F4", "pipeline"),
)
def pl_dim_item(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _replayed(spark)
        .dim_item.read()
        .drop("item_dim_key")
        .withColumn("price", F.col("price").cast("double"))
    )


@register(
    "pl_fact_order",
    oracle=_FACT_GROUPED_SQL,
    doc="""M3 INSERT OVERWRITE star-join rebuild over the replayed
    warehouse (order-...sql:179-212): dim keys joined back to business
    ids so the oracle can recompute the star join + 3-key group + 7
    implicit-cast SUMs from the fixtures alone.""",
    tags=("M3", "J1", "J2", "A1", "A2", "A3", "pipeline"),
)
def pl_fact_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _replayed(spark)
    f = p.fact_order.read()
    dc = p.dim_customer.read().select("customer_dim_key", "customer_id")
    di = p.dim_item.read().select("item_dim_key", "item_id")
    money = [
        "sale_price", "disount_amt", "coupon_amt",
        "net_paid", "net_paid_tax", "net_profit",
    ]
    return (
        f.join(F.broadcast(dc), "customer_dim_key")
        .join(F.broadcast(di), "item_dim_key")
        .select(
            "order_date",
            "customer_id",
            "item_id",
            "order_count",
            "order_quantity",
            *[F.col(c).cast("double").alias(c) for c in money],
        )
    )


@register(
    "pl_identity_keys",
    oracle=f"""
    WITH ch AS ({_read_csv_sql('customer_history.csv', _CUST_COLS, 1)}),
    cd1 AS ({_read_csv_sql('customer_delta_1.csv', _CUST_COLS, 0)}),
    cd2 AS ({_read_csv_sql('customer_delta_2.csv', _CUST_COLS, 1)}),
    ih AS ({_read_csv_sql('item_history.csv', _ITEM_COLS, 1)}),
    id1 AS ({_read_csv_sql('item_delta_1.csv', _ITEM_COLS, 1)}),
    id2 AS ({_read_csv_sql('item_delta_2.csv', _ITEM_COLS, 1)}),
    nc AS (SELECT count(DISTINCT customer_id) AS n FROM
           (SELECT customer_id FROM ch UNION ALL SELECT customer_id FROM cd1
            UNION ALL SELECT customer_id FROM cd2)),
    ni AS (SELECT count(DISTINCT item_id) AS n FROM
           (SELECT item_id FROM ih UNION ALL SELECT item_id FROM id1
            UNION ALL SELECT item_id FROM id2)),
    nf AS (SELECT count(*) AS n FROM ({_FACT_GROUPED_SQL}))
    SELECT 'dim_customer' AS tbl, n::BIGINT AS n_rows, n::BIGINT AS n_keys,
           1::BIGINT AS min_key, n::BIGINT AS max_key FROM nc
    UNION ALL
    SELECT 'dim_item', n::BIGINT, n::BIGINT, 1::BIGINT, n::BIGINT FROM ni
    UNION ALL
    SELECT 'fact_order', n::BIGINT, n::BIGINT, 1::BIGINT, n::BIGINT FROM nf
    """,
    doc="""The identity-column contract (customer-...sql:32 autoincrement
    analog): surrogate keys are unique and contiguous 1..N in every
    transformed table. Key VALUES are engine-specific (FIXTURES.md);
    this is exactly the property the engine promises, and the oracle
    predicts N from the fixtures alone.""",
    tags=("M2", "identity", "pipeline"),
)
def pl_identity_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _replayed(spark)
    parts = []
    for tbl, df, key in [
        ("dim_customer", p.dim_customer.read(), "customer_dim_key"),
        ("dim_item", p.dim_item.read(), "item_dim_key"),
        ("fact_order", p.fact_order.read(), "order_fact_key"),
    ]:
        parts.append(
            df.agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.countDistinct(key).cast("long").alias("n_keys"),
                F.min(key).cast("long").alias("min_key"),
                F.max(key).cast("long").alias("max_key"),
            ).withColumn("tbl", F.lit(tbl))
        )
    out = parts[0]
    for x in parts[1:]:
        out = out.unionByName(x)
    return out.select("tbl", "n_rows", "n_keys", "min_key", "max_key")


@register(
    "pl_task_history",
    # GOLDEN-TABLE oracle (VALUES literal): this surface reflects engine
    # run metadata, not a SQL expression over input tables — but its
    # content after the fixed 3-step replay is exactly specified by the
    # reference's task semantics (5-task chain x 3 cycles; the WHEN
    # stream-has-data gate skips the order chain in step 3 because no
    # order file lands — customer-...sql:62-68, order-...sql:226-227),
    # so the expected rows are derivable by hand and pinned as data.
    # Wall-clock timestamps are aggregated away.
    oracle="""
    SELECT * FROM (VALUES
        ('customer', 'pause_pipe_customer',             'SUCCEEDED', CAST(3 AS BIGINT)),
        ('customer', 'customer_raw_tsk',                'SUCCEEDED', CAST(3 AS BIGINT)),
        ('customer', 'dim_customer_tsk',                'SUCCEEDED', CAST(3 AS BIGINT)),
        ('customer', 'truncate_staging_table_customer', 'SUCCEEDED', CAST(3 AS BIGINT)),
        ('customer', 'play_pipe_customer',              'SUCCEEDED', CAST(3 AS BIGINT)),
        ('item',     'pause_pipe_item',                 'SUCCEEDED', CAST(3 AS BIGINT)),
        ('item',     'item_raw_tsk',                    'SUCCEEDED', CAST(3 AS BIGINT)),
        ('item',     'dim_item_tsk',                    'SUCCEEDED', CAST(3 AS BIGINT)),
        ('item',     'truncate_staging_table_item',     'SUCCEEDED', CAST(3 AS BIGINT)),
        ('item',     'play_pipe_item',                  'SUCCEEDED', CAST(3 AS BIGINT)),
        ('order',    'pause_pipe_order',                'SUCCEEDED', CAST(2 AS BIGINT)),
        ('order',    'pause_pipe_order',                'SKIPPED',   CAST(1 AS BIGINT)),
        ('order',    'order_raw_tsk',                   'SUCCEEDED', CAST(2 AS BIGINT)),
        ('order',    'fact_order_tsk',                  'SUCCEEDED', CAST(2 AS BIGINT)),
        ('order',    'truncate_staging_table_order',    'SUCCEEDED', CAST(2 AS BIGINT)),
        ('order',    'play_pipe_order',                 'SUCCEEDED', CAST(2 AS BIGINT))
    ) AS t(entity, name, state, n_runs)
    """,
    doc="""T3/T4/T7: task run history (information_schema.task_history
    analog, customer-...sql:198-201) aggregated per (dag, task, state)
    over the whole replay. The order chain's step-3 root was SKIPPED by
    its WHEN stream-has-data gate (no order file in step 3) and its
    AFTER-chained tasks therefore never ran (count 2) — the scheduling
    semantics the reference encodes, pinned as a golden oracle.""",
    tags=("T3", "T4", "T7", "pipeline"),
)
def pl_task_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _replayed(spark)
    parts = []
    for e in ("customer", "item", "order"):
        parts.append(
            p.dags[e]
            .task_history()
            .groupBy("name", "state")
            .agg(F.count(F.lit(1)).alias("n_runs"))
            .withColumn("entity", F.lit(e))
        )
    out = parts[0]
    for x in parts[1:]:
        out = out.unionByName(x)
    return out.select("entity", "name", "state", "n_runs")


@register(
    "pl_show_streams",
    oracle="""
    SELECT * FROM (VALUES
        ('raw', 'raw_customer', 'dim_tsk',  CAST(3 AS BIGINT), CAST(3 AS BIGINT)),
        ('raw', 'raw_item',     'dim_tsk',  CAST(3 AS BIGINT), CAST(3 AS BIGINT)),
        ('raw', 'raw_order',    'fact_tsk', CAST(2 AS BIGINT), CAST(2 AS BIGINT)),
        ('stg', 'stg_customer', 'raw_tsk',  CAST(5 AS BIGINT), CAST(6 AS BIGINT)),
        ('stg', 'stg_item',     'raw_tsk',  CAST(5 AS BIGINT), CAST(6 AS BIGINT)),
        ('stg', 'stg_order',    'raw_tsk',  CAST(3 AS BIGINT), CAST(4 AS BIGINT))
    ) AS t(schema, "table", consumer, "offset", version)
    """,
    doc="""S7/T1: stream registry (show streams analog) with
    per-consumer committed offsets after the replay. Golden oracle:
    offsets/versions are fully determined by the replay's append and
    consume sequence (each stage table: 3 ingest appends interleaved
    with 3 truncate bumps = version 6, consumer committed at 5
    pre-truncate; order ran one fewer cycle; raw changelogs advance one
    version per applied batch with the consumer fully caught up) —
    T1's transactional-offset contract pinned as data.""",
    tags=("S7", "T1", "pipeline"),
)
def pl_show_streams(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _replayed(spark).wh.show_streams()


@register(
    "pl_list_stage",
    oracle="""
    SELECT * FROM (VALUES
        ('customer', 'customer_history.csv', 'RUNNING'),
        ('customer', 'customer_delta_1.csv', 'RUNNING'),
        ('customer', 'customer_delta_2.csv', 'RUNNING'),
        ('item',     'item_history.csv',     'RUNNING'),
        ('item',     'item_delta_1.csv',     'RUNNING'),
        ('item',     'item_delta_2.csv',     'RUNNING'),
        ('order',    'order_history.csv',    'RUNNING'),
        ('order',    'order_delta_1.csv',    'RUNNING')
    ) AS t(entity, file, pipe_state)
    """,
    doc="""S4/S6: `list @landing` (customer-...sql:204) plus pipe status
    (system$pipe_status analog). Golden oracle: the landing dir holds
    exactly the 8 fixture files pushed over the 3 steps, and every pipe
    ends the replay resumed (play_pipe_* closes each completed cycle;
    the order pipe was never paused in step 3).""",
    tags=("S6", "S4", "pipeline"),
)
def pl_list_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.copy_into import list_stage

    p = _replayed(spark)
    rows = []
    for e, pipe in p.pipes.items():
        for f in list_stage(pipe.landing_dir):
            rows.append((e, f, pipe.status()["executionState"]))
    return spark.createDataFrame(rows, "entity string, file string, pipe_state string")


# ----------------------------------------------------------------------
# F3/T6: pipe status / force_resume + task suspend/resume lifecycle
# ----------------------------------------------------------------------
_admin_memo: dict[int, DataFrame] = {}


@register(
    "pl_pipe_task_admin",
    # GOLDEN-TABLE oracle (VALUES literal): an operator-intervention
    # scenario over the customer fixtures whose every observable —
    # task-history counts, pipe-status snapshots, final table sizes —
    # is exactly determined by the suspend/skip/force-resume semantics
    # (see doc). Wall-clock never surfaces; snapshots are pinned as data.
    oracle="""
    SELECT * FROM (VALUES
        ('task', 'pause_pipe_customer',             'SUCCEEDED', CAST(3 AS BIGINT)),
        ('task', 'pause_pipe_customer',             'SKIPPED',   CAST(1 AS BIGINT)),
        ('task', 'customer_raw_tsk',                'SUCCEEDED', CAST(3 AS BIGINT)),
        ('task', 'dim_customer_tsk',                'SUCCEEDED', CAST(2 AS BIGINT)),
        ('task', 'dim_customer_tsk',                'SUSPENDED', CAST(1 AS BIGINT)),
        ('task', 'truncate_staging_table_customer', 'SUCCEEDED', CAST(2 AS BIGINT)),
        ('task', 'play_pipe_customer',              'SUCCEEDED', CAST(2 AS BIGINT)),
        ('pipe', 'stg_customer_pipe@after_suspend',      'PAUSED',  CAST(0 AS BIGINT)),
        ('pipe', 'stg_customer_pipe@after_force_resume', 'RUNNING', CAST(0 AS BIGINT)),
        ('pipe', 'stg_customer_pipe@pre_final_cycle',    'RUNNING', CAST(1 AS BIGINT)),
        ('pipe', 'stg_customer_pipe@final',              'RUNNING', CAST(0 AS BIGINT)),
        ('table', 'raw_customer',  'ROWS', CAST(22 AS BIGINT)),
        ('table', 'dim_customer',  'ROWS', CAST(22 AS BIGINT))
    ) AS t(kind, name, state, n)
    """,
    doc="""F3 (pipe status / force_resume) + T6 (task suspend/resume):
    an operator-intervention scenario on the customer pipeline.

    Cycle 1 loads customer_history (5 tasks SUCCEED). The operator then
    SUSPENDS dim_customer_tsk (alter task ... suspend,
    customer-...sql:182-195) and delta_1 lands: cycle 2 pauses the
    pipe, merges stage->raw, then hits the suspended task — the chain
    stops (Snowflake: a suspended task never runs, children never
    fire), leaving the pipe PAUSED and staging untruncated. That stuck
    state is exactly what system$pipe_status is for: the
    'after_suspend' snapshot pins executionState=PAUSED. Recovery is
    F3's system$pipe_force_resume (customer-...sql:179) — snapshot
    RUNNING — plus task RESUME. Cycle 3 (nothing landed) pins the WHEN
    gate: the stage stream was already consumed by cycle 2's raw_tsk,
    so the root task SKIPs. delta_2 lands (pendingFileCount=1 pre-
    cycle) and cycle 4 runs the full chain; the resumed dim task
    consumes BOTH pending raw-stream batches in one MERGE (offsets
    held while suspended — T1's contract is what makes suspension
    safe), converging raw and dim to the same 22-customer state the
    uninterrupted replay reaches.""",
    tags=("F3", "T6", "S4", "T1", "pipeline"),
)
def pl_pipe_task_admin(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = id(spark)
    if key not in _admin_memo:
        _admin_memo[key] = _run_admin_scenario(spark)
    return _admin_memo[key]


def _run_admin_scenario(spark: SparkSession) -> DataFrame:
    assert_fixture_fingerprints()
    from ..pipelines.entities import EntityPipelines
    from ..plans.catalog import Warehouse

    base = scratch_dir("etl_admin_")
    landing = os.path.join(base, "landing")
    for e in ("customer", "item", "order"):
        os.makedirs(os.path.join(landing, e))
    clock = lambda: datetime(2020, 2, 1, tzinfo=timezone.utc)  # noqa: E731
    p = EntityPipelines(
        spark, Warehouse(spark, os.path.join(base, "warehouse")), landing, clock=clock
    )
    cust_landing = os.path.join(landing, "customer")
    pipe = p.pipes["customer"]
    dag = p.dags["customer"]
    snapshots: list[tuple[str, str, int]] = []

    def snap(label: str) -> None:
        st = pipe.status()
        snapshots.append(
            (f"{st['name']}@{label}", st["executionState"], st["pendingFileCount"])
        )

    # cycle 1: history loads clean
    shutil.copy(os.path.join(_REFERENCE_DATA, "customer_history.csv"), cust_landing)
    p.run_cycle("customer")
    # operator suspends the dim task; delta_1 lands; cycle 2 stalls
    # mid-chain with the pipe paused and staging untruncated
    dag.suspend("dim_customer_tsk")
    shutil.copy(os.path.join(_REFERENCE_DATA, "customer_delta_1.csv"), cust_landing)
    p.run_cycle("customer")
    snap("after_suspend")
    # F3 recovery: force-resume the pipe, resume the task
    pipe.resume()
    snap("after_force_resume")
    dag.resume("dim_customer_tsk")
    # cycle 3: nothing landed and the stage stream is already consumed
    # -> the WHEN gate SKIPs the root task
    p.run_cycle("customer")
    # delta_2 lands; the pre-cycle snapshot sees it pending
    shutil.copy(os.path.join(_REFERENCE_DATA, "customer_delta_2.csv"), cust_landing)
    snap("pre_final_cycle")
    # cycle 4: full chain; dim consumes both held raw batches
    p.run_cycle("customer")
    snap("final")

    task_rows = (
        dag.task_history()
        .groupBy("name", "state")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("task").alias("kind"), "name", "state", "n")
    )
    pipe_rows = spark.createDataFrame(
        [("pipe", n, s, c) for n, s, c in snapshots],
        "kind string, name string, state string, n long",
    )
    table_rows = spark.createDataFrame(
        [
            ("table", "raw_customer", "ROWS", p.raw["customer"].read().count()),
            ("table", "dim_customer", "ROWS", p.dim_customer.read().count()),
        ],
        "kind string, name string, state string, n long",
    )
    return task_rows.unionByName(pipe_rows).unionByName(table_rows)


# ----------------------------------------------------------------------
# The reference operator console, executed VERBATIM (VERDICT r5 #7)
# ----------------------------------------------------------------------

# Exact statement text from customer-end-to-end-pipeline-script.sql:198-216
# (including the commented-out scheduled_time filter and spacing).
_CONSOLE_TASK_HISTORY = """select *  from table(information_schema.task_history()) 
where name in ('PAUSE_PIPE_CUSTOMER','CUSTOMER_RAW_TSK','DIM_CUSTOMER_TSK','TRUNCATE_STAGING_TABLE_CUSTOMER','PLAY_PIPE_CUSTOMER')
--and scheduled_time = current_date()
order by scheduled_time desc;"""


@register(
    "pl_reference_console",
    # GOLDEN-TABLE oracle: every row is fully determined by the
    # 3-step replay's task/stream/pipe semantics (same derivations as
    # pl_task_history / pl_show_streams / pl_list_stage) — this entry's
    # point is that the VERBATIM Snowflake statements produce it.
    oracle="""
    SELECT * FROM (VALUES
        ('task_history', 'PAUSE_PIPE_CUSTOMER',             'SUCCEEDED:3'),
        ('task_history', 'CUSTOMER_RAW_TSK',                'SUCCEEDED:3'),
        ('task_history', 'DIM_CUSTOMER_TSK',                'SUCCEEDED:3'),
        ('task_history', 'TRUNCATE_STAGING_TABLE_CUSTOMER', 'SUCCEEDED:3'),
        ('task_history', 'PLAY_PIPE_CUSTOMER',              'SUCCEEDED:3'),
        ('show_tasks', 'customer.pause_pipe_customer',             'started'),
        ('show_tasks', 'customer.customer_raw_tsk',                'started'),
        ('show_tasks', 'customer.dim_customer_tsk',                'started'),
        ('show_tasks', 'customer.truncate_staging_table_customer', 'started'),
        ('show_tasks', 'customer.play_pipe_customer',              'started'),
        ('show_tasks', 'item.pause_pipe_item',                     'started'),
        ('show_tasks', 'item.item_raw_tsk',                        'started'),
        ('show_tasks', 'item.dim_item_tsk',                        'started'),
        ('show_tasks', 'item.truncate_staging_table_item',         'started'),
        ('show_tasks', 'item.play_pipe_item',                      'started'),
        ('show_tasks', 'order.pause_pipe_order',                   'started'),
        ('show_tasks', 'order.order_raw_tsk',                      'started'),
        ('show_tasks', 'order.fact_order_tsk',                     'started'),
        ('show_tasks', 'order.truncate_staging_table_order',       'started'),
        ('show_tasks', 'order.play_pipe_order',                    'started'),
        ('show_streams', 'raw.raw_customer', 'dim_tsk:3:3'),
        ('show_streams', 'raw.raw_item',     'dim_tsk:3:3'),
        ('show_streams', 'raw.raw_order',    'fact_tsk:2:2'),
        ('show_streams', 'stg.stg_customer', 'raw_tsk:5:6'),
        ('show_streams', 'stg.stg_item',     'raw_tsk:5:6'),
        ('show_streams', 'stg.stg_order',    'raw_tsk:3:4'),
        ('show_pipes', 'stg_customer_pipe', 'RUNNING:0'),
        ('show_pipes', 'stg_item_pipe',     'RUNNING:0'),
        ('show_pipes', 'stg_order_pipe',    'RUNNING:0'),
        ('list_stage', 'customer_history.csv', 'customer'),
        ('list_stage', 'customer_delta_1.csv', 'customer'),
        ('list_stage', 'customer_delta_2.csv', 'customer'),
        ('list_stage', 'item_history.csv',     'item'),
        ('list_stage', 'item_delta_1.csv',     'item'),
        ('list_stage', 'item_delta_2.csv',     'item'),
        ('list_stage', 'order_history.csv',    'order'),
        ('list_stage', 'order_delta_1.csv',    'order'),
        ('pipe_status', 'stg_customer_pipe', 'RUNNING:0'),
        ('alter_task', 'dim_customer_tsk@suspended', 'suspended'),
        ('alter_task', 'dim_customer_tsk@resumed',   'started')
    ) AS t(surface, item, value)
    """,
    doc="""The reference's OPERATOR CONSOLE executed VERBATIM
    (customer-end-to-end-pipeline-script.sql:198-216 plus the
    alter-task lifecycle at :190-195): the exact statement texts —
    ``select *  from table(information_schema.task_history()) where
    name in ('PAUSE_PIPE_CUSTOMER', ...) order by scheduled_time
    desc`` (comment line and all), ``list @landing``, ``show tasks``,
    ``show streams``, ``show pipes``, ``select
    system$pipe_status('stg.stg_customer_pipe')``, ``alter task
    dim_customer_tsk suspend/resume`` — are pasted unchanged into
    functions/snowflake_sql.py:snowflake_sql, which dispatches catalog
    statements to the engine registries, lifecycle statements to the
    task/pipe primitives, and rewrites the task_history() table
    function to a temp view over the run log (names UPPERCASED per
    Snowflake's unquoted-identifier rule — the reference's WHERE
    filter relies on it) so the WHERE/ORDER BY run through Spark SQL
    verbatim. Results are projected to a (surface, item, value) long
    format with wall-clock aggregated away; an in-query assert pins
    the verbatim history statement's raw row count (5 tasks x 3 runs).
    Every statement is metadata-sized — no data scan.""",
    tags=("S6", "S7", "T6", "T7", "F3", "dialect", "pipeline"),
)
def pl_reference_console(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.snowflake_sql import snowflake_sql

    p = _replayed(spark)
    run = lambda text: snowflake_sql(spark, text, p)

    hist = run(_CONSOLE_TASK_HISTORY)
    hist_rows = hist.collect()  # 15 rows of run metadata — O(runs)
    if len(hist_rows) != 15:
        raise RuntimeError(f"verbatim task_history returned {len(hist_rows)} rows")
    if [r["state"] for r in hist_rows].count("SUCCEEDED") != 15:
        raise RuntimeError("unexpected non-SUCCEEDED customer task run")
    agg = {}
    for r in hist_rows:
        agg[(r["name"], r["state"])] = agg.get((r["name"], r["state"]), 0) + 1
    rows = [("task_history", n, f"{s}:{c}") for (n, s), c in agg.items()]

    rows += [
        ("show_tasks", f"{r['dag']}.{r['name']}", r["state"])
        for r in run("show tasks;").collect()
    ]
    rows += [
        ("show_streams", f"{r['schema']}.{r['table']}",
         f"{r['consumer']}:{r['offset']}:{r['version']}")
        for r in run("show streams;").collect()
    ]
    rows += [
        ("show_pipes", r["name"], f"{r['execution_state']}:{r['pending_files']}")
        for r in run("show pipes;").collect()
    ]
    rows += [
        ("list_stage", r["file"], r["entity"])
        for r in run("list @landing;").collect()
    ]
    rows += [
        ("pipe_status", r["name"], f"{r['execution_state']}:{r['pending_files']}")
        for r in run("select system$pipe_status('stg.stg_customer_pipe');").collect()
    ]

    # lifecycle round-trip (T6): suspend via the verbatim statement,
    # observe through show tasks, resume — net state unchanged, so the
    # shared replay stays valid for every other pl_* entry.
    run("alter task dim_customer_tsk suspend;")
    st = {r["name"]: r["state"] for r in run("show tasks;").collect()}
    rows.append(("alter_task", "dim_customer_tsk@suspended", st["dim_customer_tsk"]))
    run("alter task dim_customer_tsk resume;")
    st = {r["name"]: r["state"] for r in run("show tasks;").collect()}
    rows.append(("alter_task", "dim_customer_tsk@resumed", st["dim_customer_tsk"]))

    return spark.createDataFrame(rows, "surface string, item string, value string")


# ----------------------------------------------------------------------
# sql18: the reference's raw-layer MERGE statement, verbatim
# ----------------------------------------------------------------------

# customer-end-to-end-pipeline-script.sql:77-110, pasted unchanged (the
# task wrapper lines 70-76 are the scheduling envelope pl_task_history
# already replays; this is the statement body the task executes).
_SQL18_MERGE_TEXT = """
merge into raw.raw_customer
using stg.stg_customer_stm on
raw_customer.customer_id = stg_customer_stm.customer_id
when matched
--covers updates and deletes
 then update set
    raw_customer.salutation = stg_customer_stm.salutation,
    raw_customer.first_name = stg_customer_stm.first_name,
    raw_customer.last_name = stg_customer_stm.last_name,
    raw_customer.birth_day = stg_customer_stm.birth_day,
    raw_customer.birth_month = stg_customer_stm.birth_month,
    raw_customer.birth_year = stg_customer_stm.birth_year,
    raw_customer.birth_country = stg_customer_stm.birth_country,
    raw_customer.email_address = stg_customer_stm.email_address,
    raw_customer.is_active = stg_customer_stm.is_active
when not matched then
insert (
  customer_id ,
  salutation ,
  first_name ,
  last_name ,
  birth_day ,
  birth_month ,
  birth_year ,
  birth_country ,
  email_address,
  is_active)
values (
  stg_customer_stm.customer_id ,
  stg_customer_stm.salutation ,
  stg_customer_stm.first_name ,
  stg_customer_stm.last_name ,
  stg_customer_stm.birth_day ,
  stg_customer_stm.birth_month ,
  stg_customer_stm.birth_year ,
  stg_customer_stm.birth_country ,
  stg_customer_stm.email_address,
  stg_customer_stm.is_active)
"""


def _sql18_merge_step(prev: str, batch: str) -> str:
    upd = ", ".join(f"b.{c}" for c in _CUST_COLS[1:])
    keep = ", ".join(f"s.{c}" for c in _CUST_COLS[1:])
    return f"""
        SELECT s.customer_id, {upd} FROM {prev} s
        JOIN {batch} b USING (customer_id)
        UNION ALL
        SELECT s.customer_id, {keep} FROM {prev} s
        WHERE NOT EXISTS (SELECT 1 FROM {batch} b
                          WHERE b.customer_id = s.customer_id)
        UNION ALL
        SELECT b.customer_id, {upd} FROM {batch} b
        WHERE NOT EXISTS (SELECT 1 FROM {prev} s
                          WHERE s.customer_id = b.customer_id)
    """


@register(
    "sql18_reference_merge",
    oracle=f"""
    WITH h AS ({_read_csv_sql('customer_history.csv', _CUST_COLS, 1)}),
    d1 AS ({_read_csv_sql('customer_delta_1.csv', _CUST_COLS, 0)}),
    d2 AS ({_read_csv_sql('customer_delta_2.csv', _CUST_COLS, 1)}),
    s1 AS ({_sql18_merge_step('h', 'd1')}),
    s2 AS ({_sql18_merge_step('s1', 'd2')})
    SELECT * FROM s2
    """,
    doc="""The reference's raw-layer MERGE statement executed VERBATIM
    as text (customer-end-to-end-pipeline-script.sql:77-110 pasted
    unchanged) — the CENTRAL statement of every reference pipeline,
    closing the last gap between 'equivalent machinery' and 'runs the
    user's own SQL': functions/sqldialect.py:merge_statement parses
    the MERGE INTO ... USING ... ON ... WHEN MATCHED THEN UPDATE SET
    ... WHEN NOT MATCHED THEN INSERT shape and compiles it to the
    engine's MERGE state equation as one Spark SQL text over temp
    views (LEFT JOIN + CASE per SET column ∪ LEFT ANTI insert branch
    — the user's expressions run exactly as written). Replayed twice
    over the reference's own fixture CSVs (history <- delta_1 <-
    delta_2, the engine's Snowflake file format handling the blank
    first line / 9-column PERMISSIVE quirks); the oracle replays the
    identical chain in DuckDB over the same bytes. Scale shape is the
    MERGE operator's: one keyed join + one anti join per batch, no
    row multiplication.""",
    tags=("sql-surface", "dialect", "merge", "reference-verbatim"),
)
def sql18_reference_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import merge_statement
    from ..sources.csv_format import CUSTOMER_STAGE

    assert_fixture_fingerprints()
    read = functools.partial(_read_reference, spark, schema=CUSTOMER_STAGE)

    state = read("customer_history.csv")
    for delta in ("customer_delta_1.csv", "customer_delta_2.csv"):
        out = merge_statement(
            spark,
            _SQL18_MERGE_TEXT,
            {"raw.raw_customer": state, "stg.stg_customer_stm": read(delta)},
        )
        # cut lineage between steps: the next step re-registers the
        # target view, and a lazy plan reading that same view would
        # cycle (O(20-row) fixture relation)
        state = out.localCheckpoint(eager=True)
    return state


# ----------------------------------------------------------------------
# sql19: the reference's dim-layer MERGE statement, verbatim
# ----------------------------------------------------------------------

# customer-end-to-end-pipeline-script.sql:124-165, pasted unchanged.
_SQL19_DIM_MERGE_TEXT = """
  merge into transformed.dim_customer
  using raw.raw_customer_stm
  on
  dim_customer.customer_id = raw_customer_stm.customer_id
when matched
  then update set
      dim_customer.salutation = raw_customer_stm.salutation,
      dim_customer.first_name = raw_customer_stm.first_name,
      dim_customer.last_name = raw_customer_stm.last_name,
      dim_customer.birth_day = raw_customer_stm.birth_day,
      dim_customer.birth_month = raw_customer_stm.birth_month,
      dim_customer.birth_year = raw_customer_stm.birth_year,
      dim_customer.birth_country = raw_customer_stm.birth_country,
      dim_customer.email_address = raw_customer_stm.email_address,
      dim_customer.is_active = raw_customer_stm.is_active,
      dim_customer.updated_timestamp = current_timestamp()
when not matched
then
  insert (
    customer_id ,
    salutation ,
    first_name ,
    last_name ,
    birth_day ,
    birth_month ,
    birth_year ,
    birth_country ,
    email_address,
    is_active
  )
  values (
    raw_customer_stm.customer_id ,
    raw_customer_stm.salutation ,
    raw_customer_stm.first_name ,
    raw_customer_stm.last_name ,
    raw_customer_stm.birth_day ,
    raw_customer_stm.birth_month ,
    raw_customer_stm.birth_year ,
    raw_customer_stm.birth_country ,
    raw_customer_stm.email_address,
    raw_customer_stm.is_active
   )
"""


@register(
    "sql19_reference_dim_merge",
    oracle=_PL_DIM_CUSTOMER_ORACLE,
    doc="""The reference's DIM-layer MERGE statement executed VERBATIM
    as text (customer-end-to-end-pipeline-script.sql:124-165 pasted
    unchanged) — the typed half of the sql18 surface, exercising the
    merge_statement features the raw layer doesn't: implicit
    varchar->typed casts on every SET/VALUES expression (A3/F4,
    ANSI-strict), DDL column DEFAULTS for the insert columns the
    statement leaves unnamed (added/updated timestamps — the frozen
    per-step literal is the F1 injectable clock applied at the text
    boundary, exactly where Snowflake's DDL default would evaluate
    current_timestamp()), and the autoincrement identity column
    (customer_dim_key stays NULL through the text path and is filled
    by fill_identity, the engine's ``number autoincrement`` analog;
    key VALUES are engine-specific so the in-query audit asserts
    non-null + unique and the projection drops them — the
    pl_identity_keys contract). The 3-step replay (history, delta_1,
    delta_2) over the reference's own fixture bytes converges to
    pl_dim_customer's closed-form oracle — the DataFrame pipeline and
    the verbatim-text pipeline provably compute the same state.""",
    tags=("sql-surface", "dialect", "merge", "reference-verbatim"),
)
def sql19_reference_dim_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import merge_statement
    from ..operators.dml import empty_frame
    from ..operators.merge import fill_identity
    from ..sources.csv_format import CUSTOMER_STAGE, DIM_CUSTOMER

    assert_fixture_fingerprints()
    read = functools.partial(_read_reference, spark, schema=CUSTOMER_STAGE)

    state = empty_frame(spark, DIM_CUSTOMER)
    steps = [
        ("customer_history.csv", _T[1]),
        ("customer_delta_1.csv", _T[2]),
        ("customer_delta_2.csv", _T[3]),
    ]
    for fname, ts in steps:
        text = _SQL19_DIM_MERGE_TEXT.replace(
            "current_timestamp()", f"TIMESTAMP '{ts}'"
        )
        out = merge_statement(
            spark,
            text,
            {"transformed.dim_customer": state, "raw.raw_customer_stm": read(fname)},
            defaults={
                "added_timestamp": f"TIMESTAMP '{ts}'",
                "updated_timestamp": f"TIMESTAMP '{ts}'",
            },
        )
        state = fill_identity(
            out, "customer_dim_key", order_by=["customer_id"]
        ).localCheckpoint(eager=True)
    # identity audit: values are engine-specific (pl_identity_keys),
    # but every row must have a unique key — assert in-query, O(1) aggs
    audit = state.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("customer_dim_key").alias("nn"),
        F.countDistinct("customer_dim_key").alias("nd"),
    ).first()
    if not (audit["n"] == audit["nn"] == audit["nd"]):
        raise RuntimeError(f"identity audit failed: {audit}")
    return state.select(
        "customer_id", "salutation", "first_name", "last_name",
        "birth_day", "birth_month", "birth_year", "birth_country",
        "email_address", "added_timestamp", "updated_timestamp", "is_active",
    )


# ----------------------------------------------------------------------
# sql20: the reference's item raw MERGE (dedup-subquery source), verbatim
# ----------------------------------------------------------------------

# item-end-to-end-pipeline-script.sql:71-105, pasted unchanged.
_SQL20_ITEM_MERGE_TEXT = """
merge into raw.raw_item
using
(select item_id, item_desc, start_date, end_date, price, item_class, item_category, is_active from
(select *, row_number() over(partition by item_id order by start_date desc) as rownum from stg.stg_item_stm) a
where rownum = 1) as stg_item_stm
on
raw_item.item_id = stg_item_stm.item_id
when matched
 then update set
    raw_item.item_desc = stg_item_stm.item_desc,
    raw_item.start_date = stg_item_stm.start_date,
    raw_item.end_date = stg_item_stm.end_date,
    raw_item.price = stg_item_stm.price,
    raw_item.item_class = stg_item_stm.item_class,
    raw_item.item_category = stg_item_stm.item_category,
    raw_item.is_active = stg_item_stm.is_active
when not matched then
insert (
  item_id,
  item_desc,
  start_date,
  end_date,
  price,
  item_class,
  item_category,
  is_active)
values (
  stg_item_stm.item_id,
  stg_item_stm.item_desc,
  stg_item_stm.start_date,
  stg_item_stm.end_date,
  stg_item_stm.price,
  stg_item_stm.item_class,
  stg_item_stm.item_category,
  stg_item_stm.is_active)
"""


def _sql20_merge_step(prev: str, batch: str) -> str:
    upd = ", ".join(f"b.{c}" for c in _ITEM_COLS[1:])
    keep = ", ".join(f"s.{c}" for c in _ITEM_COLS[1:])
    dedup = (
        f"SELECT item_id, {', '.join(_ITEM_COLS[1:])} FROM "
        f"(SELECT *, row_number() OVER (PARTITION BY item_id"
        f" ORDER BY start_date DESC) AS rownum FROM {batch}) a"
        f" WHERE rownum = 1"
    )
    return f"""
        SELECT s.item_id, {upd} FROM {prev} s
        JOIN ({dedup}) b USING (item_id)
        UNION ALL
        SELECT s.item_id, {keep} FROM {prev} s
        WHERE NOT EXISTS (SELECT 1 FROM ({dedup}) b
                          WHERE b.item_id = s.item_id)
        UNION ALL
        SELECT b.item_id, {upd} FROM ({dedup}) b
        WHERE NOT EXISTS (SELECT 1 FROM {prev} s
                          WHERE s.item_id = b.item_id)
    """


@register(
    "sql20_reference_item_merge",
    oracle=f"""
    WITH h AS ({_read_csv_sql('item_history.csv', _ITEM_COLS, 1)}),
    d1 AS ({_read_csv_sql('item_delta_1.csv', _ITEM_COLS, 1)}),
    d2 AS ({_read_csv_sql('item_delta_2.csv', _ITEM_COLS, 1)}),
    s1 AS ({_sql20_merge_step('h', 'd1')}),
    s2 AS ({_sql20_merge_step('s1', 'd2')})
    SELECT * FROM s2
    """,
    doc="""The reference's ITEM raw-layer MERGE executed VERBATIM
    (item-end-to-end-pipeline-script.sql:71-105 pasted unchanged) —
    the subquery-source variant of sql18: the USING side is the
    reference's own latest-start_date-wins dedup subquery (row_number
    ... where rownum = 1), whose alias deliberately SHADOWS the stage
    view it reads — merge_statement resolves the subquery's plan
    against the live views before binding the alias, so the shadowing
    works exactly as Snowflake scopes it. Replayed over the item
    fixture CSVs (history <- delta_1 <- delta_2); oracle replays the
    identical dedup + state equation in DuckDB over the same bytes.
    W1 (latest-wins window dedup) + M1 composed as pure text.""",
    tags=("sql-surface", "dialect", "merge", "reference-verbatim"),
)
def sql20_reference_item_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import merge_statement
    from ..sources.csv_format import ITEM_STAGE

    assert_fixture_fingerprints()
    read = functools.partial(_read_reference, spark, schema=ITEM_STAGE)

    state = read("item_history.csv")
    for delta in ("item_delta_1.csv", "item_delta_2.csv"):
        out = merge_statement(
            spark,
            _SQL20_ITEM_MERGE_TEXT,
            {"raw.raw_item": state, "stg.stg_item_stm": read(delta)},
        )
        state = out.localCheckpoint(eager=True)
    return state


# ----------------------------------------------------------------------
# sql21: the reference's fact-rebuild INSERT OVERWRITE, verbatim
# ----------------------------------------------------------------------

# order-end-to-end-pipeline-script.sql:176-209, pasted unchanged (the
# task envelope :170-175 is pl_task_history's surface; this is the
# statement body — including the commented-out item_desc residual).
_SQL21_FACT_TEXT = """
insert overwrite into transformed.fact_order (
order_date,
customer_dim_key ,
item_dim_key ,
order_count,
order_quantity ,
sale_price ,
disount_amt ,
coupon_amt ,
net_paid ,
net_paid_tax ,
net_profit)
select
      ro.order_date,
      dc.customer_dim_key ,
      di.item_dim_key,
      count(1) as order_count,
      sum(ro.order_quantity) ,
      sum(ro.sale_price) ,
      sum(ro.disount_amt) ,
      sum(ro.coupon_amt) ,
      sum(ro.net_paid) ,
      sum(ro.net_paid_tax),
      sum(ro.net_profit)
  from raw.raw_order ro
    join dim_customer dc on dc.customer_id = ro.customer_id
    join dim_item di on di.item_id = ro.item_id
    --and di.item_desc = ro.item_desc
    and di.end_date is null
    group by
        ro.order_date,
        dc.customer_dim_key ,
        di.item_dim_key
        order by ro.order_date;
"""


# Like _FACT_GROUPED_SQL but with the dims AS OF delta_2 (sql21 runs
# the verbatim statement against the FINAL replayed warehouse, i.e.
# "the task re-ran now" — the recorded fact TABLE state stays at the
# step-2 rebuild because step 3's WHEN gate skipped the order chain,
# which pl_fact_order pins).
_SQL21_ORACLE = f"""
    WITH oh AS ({_read_csv_sql('order_history.csv', _ORDER_COLS, 1)}),
    od AS ({_read_csv_sql('order_delta_1.csv', _ORDER_COLS, 1)}),
    co AS (SELECT * FROM oh UNION ALL SELECT * FROM od),
    ch AS ({_read_csv_sql('customer_history.csv', _CUST_COLS, 1)}),
    cd1 AS ({_read_csv_sql('customer_delta_1.csv', _CUST_COLS, 0)}),
    cd2 AS ({_read_csv_sql('customer_delta_2.csv', _CUST_COLS, 1)}),
    cust AS (SELECT customer_id FROM ch UNION SELECT customer_id FROM cd1
             UNION SELECT customer_id FROM cd2),
    ih AS ({_read_csv_sql('item_history.csv', _ITEM_COLS, 1)}),
    id1 AS ({_read_csv_sql('item_delta_1.csv', _ITEM_COLS, 1)}),
    id2 AS ({_read_csv_sql('item_delta_2.csv', _ITEM_COLS, 1)}),
    item_s2 AS (
        SELECT item_id, end_date FROM id1
        UNION ALL
        SELECT item_id, end_date FROM ih
        WHERE item_id NOT IN (SELECT item_id FROM id1)
    ),
    item_s3 AS (
        SELECT item_id, end_date FROM id2
        UNION ALL
        SELECT item_id, end_date FROM item_s2
        WHERE item_id NOT IN (SELECT item_id FROM id2)
    ),
    items AS (SELECT item_id FROM item_s3 WHERE end_date IS NULL)
    SELECT co.order_date::DATE AS order_date, co.customer_id, co.item_id,
           count(*)::BIGINT AS order_count,
           sum(co.order_quantity::BIGINT)::BIGINT AS order_quantity,
           sum(co.sale_price::DECIMAL(20,2))::DOUBLE AS sale_price,
           sum(co.disount_amt::DECIMAL(20,2))::DOUBLE AS disount_amt,
           sum(co.coupon_amt::DECIMAL(20,2))::DOUBLE AS coupon_amt,
           sum(co.net_paid::DECIMAL(20,2))::DOUBLE AS net_paid,
           sum(co.net_paid_tax::DECIMAL(20,2))::DOUBLE AS net_paid_tax,
           sum(co.net_profit::DECIMAL(20,2))::DOUBLE AS net_profit
    FROM co
    JOIN cust USING (customer_id)
    JOIN items USING (item_id)
    GROUP BY 1, 2, 3
"""


@register(
    "sql21_reference_fact_insert",
    oracle=_SQL21_ORACLE,
    doc="""The reference's fact-rebuild statement executed VERBATIM
    (order-end-to-end-pipeline-script.sql:176-209 pasted unchanged,
    commented-out join residual included) — completing the verbatim
    set: raw MERGE (sql18), dim MERGE (sql19), dedup-subquery MERGE
    (sql20), and now the M3 INSERT OVERWRITE star join + 3-key
    aggregate with its A3 implicit varchar SUM casts and O1 trailing
    ORDER BY. functions/sqldialect.py:insert_overwrite_statement
    parses the insert list, runs the SELECT against the FINAL replayed
    warehouse state ("the task re-ran now" — note the recorded fact
    TABLE stays at the step-2 rebuild because step 3's WHEN gate
    skipped the order chain, which pl_fact_order pins; the oracle here
    carries the dims through delta_2), and maps columns BY POSITION
    like Snowflake; the
    caller owns the actual overwrite (M3's atomic swap) so the shim
    stays pure. Post-projection (outside the verbatim text): dim keys
    join back to business ids (key VALUES are engine-specific —
    pl_identity_keys contract) and the float sums Snowflake's implicit
    casts produce are rounded to the exact 2-dec values (group sums
    are exact decimals; rounding removes sub-ulp float noise without
    touching the statement). Oracle: the closed-form grouped audit
    over the fixture bytes (pl_fact_order's relation).""",
    tags=("sql-surface", "dialect", "insert-overwrite", "reference-verbatim"),
)
def sql21_reference_fact_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import insert_overwrite_statement

    p = _replayed(spark)
    out = insert_overwrite_statement(
        spark,
        _SQL21_FACT_TEXT,
        {
            "raw.raw_order": p.raw["order"].read(),
            "dim_customer": p.dim_customer.read(),
            "dim_item": p.dim_item.read(),
        },
    )
    dc = p.dim_customer.read().select("customer_dim_key", "customer_id")
    di = p.dim_item.read().select("item_dim_key", "item_id")
    money = [
        "sale_price", "disount_amt", "coupon_amt",
        "net_paid", "net_paid_tax", "net_profit",
    ]
    return (
        out.join(F.broadcast(dc), "customer_dim_key")
        .join(F.broadcast(di), "item_dim_key")
        .select(
            F.col("order_date").cast("date").alias("order_date"),
            "customer_id",
            "item_id",
            F.col("order_count").cast("long").alias("order_count"),
            F.round("order_quantity", 0).cast("long").alias("order_quantity"),
            *[F.round(F.col(c), 2).cast("double").alias(c) for c in money],
        )
    )


# ----------------------------------------------------------------------
# sql22: the reference's order raw MERGE (composite key), verbatim
# ----------------------------------------------------------------------

# order-end-to-end-pipeline-script.sql:111-163, pasted unchanged — the
# J4 composite-key MERGE (4-column ON chain, 13 SET columns).
_SQL22_ORDER_MERGE_TEXT = """merge into raw.raw_order
using stg.stg_order_stm on
raw_order.order_date = stg_order_stm.order_date and 
raw_order.order_time = stg_order_stm.order_time and 
raw_order.item_id = stg_order_stm.item_id and
raw_order.item_desc = stg_order_stm.item_desc 
when matched 
 then update set 
    raw_order.customer_id = stg_order_stm.customer_id,
    raw_order.salutation = stg_order_stm.salutation,
    raw_order.first_name = stg_order_stm.first_name,
    raw_order.last_name = stg_order_stm.last_name,
    raw_order.store_id = stg_order_stm.store_id,
    raw_order.store_name = stg_order_stm.store_name,
    raw_order.order_quantity = stg_order_stm.order_quantity,
    raw_order.sale_price = stg_order_stm.sale_price,
    raw_order.disount_amt = stg_order_stm.disount_amt,
    raw_order.coupon_amt = stg_order_stm.coupon_amt,
    raw_order.net_paid = stg_order_stm.net_paid,
    raw_order.net_paid_tax = stg_order_stm.net_paid_tax,
    raw_order.net_profit = stg_order_stm.net_profit
  when not matched then 
  insert (
    order_date ,
    order_time ,
    item_id ,
    item_desc ,
    customer_id ,
    salutation ,
    first_name ,
    last_name ,
    store_id ,
    store_name ,
    order_quantity ,
    sale_price ,
    disount_amt ,
    coupon_amt ,
    net_paid ,
    net_paid_tax ,
    net_profit ) 
  values (
    stg_order_stm.order_date ,
    stg_order_stm.order_time ,
    stg_order_stm.item_id ,
    stg_order_stm.item_desc ,
    stg_order_stm.customer_id ,
    stg_order_stm.salutation ,
    stg_order_stm.first_name ,
    stg_order_stm.last_name ,
    stg_order_stm.store_id ,
    stg_order_stm.store_name ,
    stg_order_stm.order_quantity ,
    stg_order_stm.sale_price ,
    stg_order_stm.disount_amt ,
    stg_order_stm.coupon_amt ,
    stg_order_stm.net_paid ,
    stg_order_stm.net_paid_tax ,
    stg_order_stm.net_profit )"""


def _sql22_merge_step(prev: str, batch: str) -> str:
    keys = ["order_date", "order_time", "item_id", "item_desc"]
    rest = [c for c in _ORDER_COLS if c not in keys]
    # plain (null-UNSAFE) equality like the verbatim statement's ON:
    # Snowflake's NULL = NULL is not true, so a NULL-keyed stage row
    # never matches and always inserts — the compiled Spark join has
    # the same semantics; the oracle must NOT use IS NOT DISTINCT FROM
    on = " AND ".join(f"b.{k} = s.{k}" for k in keys)
    kb = ", ".join(f"b.{k}" for k in keys)
    ks = ", ".join(f"s.{k}" for k in keys)
    upd = ", ".join(f"b.{c}" for c in rest)
    keep = ", ".join(f"s.{c}" for c in rest)
    return f"""
        SELECT {kb}, {upd} FROM {prev} s JOIN {batch} b ON {on}
        UNION ALL
        SELECT {ks}, {keep} FROM {prev} s
        WHERE NOT EXISTS (SELECT 1 FROM {batch} b WHERE {on})
        UNION ALL
        SELECT {kb}, {upd} FROM {batch} b
        WHERE NOT EXISTS (SELECT 1 FROM {prev} s WHERE {on})
    """


@register(
    "sql22_reference_order_merge",
    oracle=f"""
    WITH h AS ({_read_csv_sql('order_history.csv', _ORDER_COLS, 1)}),
    d1 AS ({_read_csv_sql('order_delta_1.csv', _ORDER_COLS, 1)}),
    s1 AS ({_sql22_merge_step('h', 'd1')})
    SELECT * FROM s1
    """,
    doc="""The reference's ORDER raw-layer MERGE executed VERBATIM
    (order-end-to-end-pipeline-script.sql:111-163 pasted unchanged) —
    the composite-key member of the verbatim set (J4: a 4-column ON
    chain over (order_date, order_time, item_id, item_desc), 13 SET
    columns, 17 insert columns). merge_statement's ON parser walks the
    AND chain and null-probes the first source key for the match flag;
    the oracle replays the same state equation in DuckDB with the
    SAME null-UNSAFE equality (Snowflake's NULL = NULL is not true, so
    a NULL-keyed stage row never matches and always inserts — both the
    compiled Spark join and the oracle's NOT EXISTS preserve that).
    History <- delta_1 replay (the order entity ships no delta_2).""",
    tags=("sql-surface", "dialect", "merge", "reference-verbatim"),
)
def sql22_reference_order_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import merge_statement
    from ..sources.csv_format import ORDER_STAGE

    assert_fixture_fingerprints()
    read = functools.partial(_read_reference, spark, schema=ORDER_STAGE)

    state = read("order_history.csv")
    out = merge_statement(
        spark,
        _SQL22_ORDER_MERGE_TEXT,
        {"raw.raw_order": state, "stg.stg_order_stm": read("order_delta_1.csv")},
    )
    return out


# ----------------------------------------------------------------------
# sql23: the reference's pipe DDL, verbatim
# ----------------------------------------------------------------------

# customer-end-to-end-pipeline-script.sql:51-56, pasted unchanged.
_SQL23_PIPE_DDL = """
create or replace pipe stg.stg_customer_pipe
auto_ingest=true
as
copy into stg.stg_customer
from @landing/landing/customer
file_format = (type = 'CSV', skip_header=1, error_on_column_count_mismatch=false);
"""


@register(
    "sql23_reference_pipe_ddl",
    oracle=f"""
    WITH h AS ({_read_csv_sql('customer_history.csv', _CUST_COLS, 1)}),
    d1 AS ({_read_csv_sql('customer_delta_1.csv', _CUST_COLS, 0)})
    SELECT * FROM h UNION ALL SELECT * FROM d1
    """,
    doc="""The reference's PIPE DDL executed VERBATIM
    (customer-end-to-end-pipeline-script.sql:51-56 pasted unchanged) —
    the INGEST entry point of the verbatim set: parse_pipe_ddl
    (functions/sqldialect.py) extracts name / AUTO_INGEST / COPY INTO
    target / @stage path / inline FILE_FORMAT options and binds them
    to the engine's Pipe (sources/pipe.py — the manifest-tracked
    idempotent COPY with the skip_header / PERMISSIVE translation the
    named CSV format documents). The entry seeds a scratch @landing
    with the customer history + delta_1 fixture bytes, refreshes the
    pipe TWICE (second refresh must load nothing — the S2 idempotence
    contract, asserted in-query), and returns the stage content; the
    oracle reads the same bytes with read_csv. DDL text -> running
    pipe, no translation by hand.""",
    tags=("sql-surface", "dialect", "pipe", "reference-verbatim"),
)
def sql23_reference_pipe_ddl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import parse_pipe_ddl
    from ..plans.catalog import Warehouse
    from ..sources.csv_format import CUSTOMER_STAGE
    from ..sources.pipe import Pipe

    assert_fixture_fingerprints()
    ddl = parse_pipe_ddl(_SQL23_PIPE_DDL)
    if ddl["format_options"].get("type", "").upper() != "CSV":
        raise ValueError("reference pipe must declare the CSV format")

    base = scratch_dir("pipe_ddl_")
    # bind @landing/landing/customer to a scratch stage dir seeded with
    # the fixture bytes
    landing = os.path.join(base, *ddl["stage_path"].split("/")[1:])
    os.makedirs(landing)
    for f in ("customer_history.csv", "customer_delta_1.csv"):
        shutil.copy(os.path.join(_REFERENCE_DATA, f), os.path.join(landing, f))
    wh = Warehouse(spark, os.path.join(base, "warehouse"))
    schema_name, table_name = ddl["table"].split(".")
    stage = wh.table(schema_name, table_name, CUSTOMER_STAGE)
    pipe = Pipe(spark, ddl["name"], landing, stage, CUSTOMER_STAGE)
    n1 = pipe.refresh()
    n2 = pipe.refresh()  # idempotence: already-loaded files never reload
    if not (n1 == 2 and n2 == 0):
        raise RuntimeError(f"pipe refresh contract violated: {n1=} {n2=}")
    return stage.read()


# ----------------------------------------------------------------------
# sql24: the reference's task-orchestration DDL, verbatim
# ----------------------------------------------------------------------

# customer-end-to-end-pipeline-script.sql:62-180, pasted unchanged —
# the complete 5-task customer chain (root schedule + AFTER edges +
# WHEN stream gates + bodies).
_SQL24_TASK_DDL_BLOB = """create or replace task transformed.pause_pipe_customer
  warehouse = ayo_warehouse 
  schedule  = '1 minute'
when
  system$stream_has_data('stg.stg_customer_stm')
as
  alter pipe stg.stg_customer_pipe set pipe_execution_paused = true;
  
  
create or replace task transformed.customer_raw_tsk
  warehouse = ayo_warehouse 
  after transformed.pause_pipe_customer
when
  system$stream_has_data('stg.stg_customer_stm')
as
merge into raw.raw_customer 
using stg.stg_customer_stm on
raw_customer.customer_id = stg_customer_stm.customer_id
when matched
--covers updates and deletes
 then update set 
    raw_customer.salutation = stg_customer_stm.salutation,
    raw_customer.first_name = stg_customer_stm.first_name,
    raw_customer.last_name = stg_customer_stm.last_name,
    raw_customer.birth_day = stg_customer_stm.birth_day,
    raw_customer.birth_month = stg_customer_stm.birth_month,
    raw_customer.birth_year = stg_customer_stm.birth_year,
    raw_customer.birth_country = stg_customer_stm.birth_country,
    raw_customer.email_address = stg_customer_stm.email_address,
    raw_customer.is_active = stg_customer_stm.is_active
when not matched then 
insert (
  customer_id ,
  salutation ,
  first_name ,
  last_name ,
  birth_day ,
  birth_month ,
  birth_year ,
  birth_country ,
  email_address,
  is_active) 
values (
  stg_customer_stm.customer_id ,
  stg_customer_stm.salutation ,
  stg_customer_stm.first_name ,
  stg_customer_stm.last_name ,
  stg_customer_stm.birth_day ,
  stg_customer_stm.birth_month ,
  stg_customer_stm.birth_year ,
  stg_customer_stm.birth_country ,
  stg_customer_stm.email_address,
  stg_customer_stm.is_active);
  
  
  
create or replace task transformed.dim_customer_tsk
    warehouse = ayo_warehouse 
after transformed.customer_raw_tsk
when
  system$stream_has_data('raw.raw_customer_stm')
as
  merge into transformed.dim_customer 
  using raw.raw_customer_stm 
  on
  dim_customer.customer_id = raw_customer_stm.customer_id 
when matched
  then update set 
      dim_customer.salutation = raw_customer_stm.salutation,
      dim_customer.first_name = raw_customer_stm.first_name,
      dim_customer.last_name = raw_customer_stm.last_name,
      dim_customer.birth_day = raw_customer_stm.birth_day,
      dim_customer.birth_month = raw_customer_stm.birth_month,
      dim_customer.birth_year = raw_customer_stm.birth_year,
      dim_customer.birth_country = raw_customer_stm.birth_country,
      dim_customer.email_address = raw_customer_stm.email_address,
      dim_customer.is_active = raw_customer_stm.is_active,
      dim_customer.updated_timestamp = current_timestamp()
when not matched 
then 
  insert (
    customer_id ,
    salutation ,
    first_name ,
    last_name ,
    birth_day ,
    birth_month ,
    birth_year ,
    birth_country ,
    email_address,
    is_active
  ) 
  values (
    raw_customer_stm.customer_id ,
    raw_customer_stm.salutation ,
    raw_customer_stm.first_name ,
    raw_customer_stm.last_name ,
    raw_customer_stm.birth_day ,
    raw_customer_stm.birth_month ,
    raw_customer_stm.birth_year ,
    raw_customer_stm.birth_country ,
    raw_customer_stm.email_address,
    raw_customer_stm.is_active
   );
  
  
create or replace task transformed.truncate_staging_table_customer
  warehouse = ayo_warehouse 
  after transformed.dim_customer_tsk
as
  truncate table if exists stg.stg_customer;  
  

create or replace task transformed.play_pipe_customer
  warehouse = ayo_warehouse 
  after transformed.truncate_staging_table
as
  select system$pipe_force_resume('stg.stg_customer_pipe');"""


@register(
    "sql24_reference_task_ddl",
    oracle="""
    SELECT * FROM (VALUES
      ('transformed.pause_pipe_customer', NULL, '1 minute',
       'stg.stg_customer_stm', 'alter_pipe'),
      ('transformed.customer_raw_tsk', 'transformed.pause_pipe_customer',
       NULL, 'stg.stg_customer_stm', 'merge_into'),
      ('transformed.dim_customer_tsk', 'transformed.customer_raw_tsk',
       NULL, 'raw.raw_customer_stm', 'merge_into'),
      ('transformed.truncate_staging_table_customer',
       'transformed.dim_customer_tsk', NULL, NULL, 'truncate'),
      ('transformed.play_pipe_customer', 'transformed.truncate_staging_table',
       NULL, NULL, 'pipe_force_resume')
    ) AS t(task_name, after_task, schedule, when_stream, body_kind)
    """,
    doc="""The reference's complete task-orchestration DDL parsed
    VERBATIM (customer-end-to-end-pipeline-script.sql:62-180 pasted
    unchanged): parse_task_ddls (functions/sqldialect.py) extracts the
    5-task chain — root schedule ('1 minute'), AFTER edges, WHEN
    system$stream_has_data gates, and bodies classified to the engine
    dispatch they run through (alter_pipe -> pipe pause, merge_into ->
    merge_statement, truncate -> ManagedTable.truncate,
    pipe_force_resume -> pipe.force_resume) — the T3/T4 orchestration
    surface as text. The golden oracle pins the EXACT parsed chain,
    including the reference's own AFTER-typo
    ('transformed.truncate_staging_table' without the _customer
    suffix, :177 — preserved faithfully like the disount_amt column;
    SURVEY §7.5 reference-bug policy). The engine's running chain
    (streaming/tasks.py, pl_task_history) implements exactly these
    semantics; this entry proves the TEXT layer maps onto it 1:1.""",
    tags=("sql-surface", "dialect", "tasks", "reference-verbatim"),
)
def sql24_reference_task_ddl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import parse_task_ddls

    rows = [
        (t["name"], t["after"], t["schedule"], t["when_stream"], t["body_kind"])
        for t in parse_task_ddls(_SQL24_TASK_DDL_BLOB)
    ]
    return spark.createDataFrame(
        rows,
        "task_name string, after_task string, schedule string,"
        " when_stream string, body_kind string",
    )


# ----------------------------------------------------------------------
# sql25: run the WHOLE customer pipeline from the reference's own text
# ----------------------------------------------------------------------


def _task_chain_order(tasks: list[dict]) -> list[dict]:
    """Topological order of a parsed task chain: the scheduled root
    first, then tasks whose AFTER target is already placed. AFTER
    targets resolve by exact name, else by UNIQUE PREFIX — the
    reference's own play_pipe task cites
    'transformed.truncate_staging_table' without the _customer suffix
    (customer-...sql:177; Snowflake would reject the DDL, but the
    author's intent is unambiguous and pl_task_history's golden chain
    already encodes it) — ambiguous or unresolvable targets raise."""
    placed: list[dict] = [t for t in tasks if t["schedule"]]
    if len(placed) != 1:
        raise ValueError("task chain needs exactly one scheduled root")
    remaining = [t for t in tasks if not t["schedule"]]
    while remaining:
        progressed = False
        names = [p["name"] for p in placed]
        for t in list(remaining):
            cands = [n for n in names if n == t["after"]] or [
                n for n in names if n.startswith(t["after"] or "\x00")
            ]
            if len(cands) > 1:
                raise ValueError(f"ambiguous AFTER target: {t['after']!r}")
            if cands:
                placed.append(t)
                remaining.remove(t)
                progressed = True
        if not progressed:
            raise ValueError(
                f"unresolvable AFTER targets: {[t['after'] for t in remaining]}"
            )
    return placed


def _script_replay(
    spark: SparkSession,
    pipe_ddl_text: str,
    task_blob: str,
    stage_schema,
    dim_schema,
    raw_name: str,
    dim_name: str,
    stage_stream: str,
    raw_stream: str,
    identity_col: str,
    identity_order: list,
    steps: list,
) -> DataFrame:
    """The text-driven pipeline runtime behind sql25/sql26: parse the
    pipe + task DDLs, bind to engine objects, run the fixture replay
    with every body dispatched through the statement shims. See
    sql25's docstring for the full contract. Reference-bug fidelity:
    an ``alter pipe`` body naming a DIFFERENT pipe than this replay's
    (the item script pauses the CUSTOMER pipe — copy-paste bug,
    item-...sql:61) is skipped exactly as Snowflake would pause the
    other pipe and leave this one running."""
    from ..functions.sqldialect import (
        merge_statement,
        parse_pipe_ddl,
        parse_task_ddls,
    )
    from ..operators.merge import fill_identity
    from ..plans.catalog import Warehouse
    from ..sources.pipe import Pipe

    assert_fixture_fingerprints()
    base = scratch_dir("script_replay_")
    pdd = parse_pipe_ddl(pipe_ddl_text)
    tasks = _task_chain_order(parse_task_ddls(task_blob))

    landing = os.path.join(base, *pdd["stage_path"].split("/")[1:])
    os.makedirs(landing)
    wh = Warehouse(spark, os.path.join(base, "warehouse"))
    sschema, stbl = pdd["table"].split(".")
    stage = wh.table(sschema, stbl, stage_schema)
    raw = wh.table("raw", raw_name, stage_schema)
    dim = wh.table("transformed", dim_name, dim_schema)
    pipe = Pipe(spark, pdd["name"], landing, stage, stage_schema)

    streams = {stage_stream: (stage, "raw_tsk"), raw_stream: (raw, "dim_tsk")}

    for fname, ts in steps:
        shutil.copy(
            os.path.join(_REFERENCE_DATA, fname), os.path.join(landing, fname)
        )
        pipe.refresh()  # the pipe runs between cycles (resumed last cycle)
        for t in tasks:
            if t["when_stream"]:
                tbl, consumer = streams[t["when_stream"]]
                has = tbl.changelog.stream_has_data(consumer)
                if t.get("when_negated"):
                    has = not has
                if not has:
                    continue
            kind = t["body_kind"]
            if kind == "alter_pipe":
                import re as _re

                named = _re.search(
                    r"alter\s+pipe\s+([\w.]+)", t["body"], _re.IGNORECASE
                )
                if named and named.group(1).lower() == pdd["name"].lower():
                    pipe.pause()
                # else: the body pauses a pipe outside this replay (the
                # reference's own cross-entity copy-paste bug) — skip,
                # exactly as Snowflake would leave THIS pipe running
            elif kind == "pipe_force_resume":
                pipe.resume()
            elif kind == "truncate":
                stage.truncate()
            elif kind == "merge_into":
                tbl, consumer = streams[t["when_stream"]]
                batch, version = tbl.changelog.stream_read(consumer)
                batch = batch.drop("_action", "_version")
                body = t["body"].replace("current_timestamp()", f"TIMESTAMP '{ts}'")
                target = body.lower().split("using")[0]
                if f"raw.{raw_name}" in target:
                    out = merge_statement(
                        spark, body,
                        {f"raw.{raw_name}": raw.read(), stage_stream: batch},
                    )
                    applied = out._merge_source.localCheckpoint(eager=True)
                    raw.overwrite(out.localCheckpoint(eager=True), changes=applied)
                else:
                    out = merge_statement(
                        spark, body,
                        {f"transformed.{dim_name}": dim.read(), raw_stream: batch},
                        defaults={
                            "added_timestamp": f"TIMESTAMP '{ts}'",
                            "updated_timestamp": f"TIMESTAMP '{ts}'",
                        },
                    )
                    out = fill_identity(
                        out, identity_col, order_by=identity_order
                    ).localCheckpoint(eager=True)
                    dim.overwrite(out.select(*dim.schema.names), changes=batch)
                tbl.changelog.stream_commit(consumer, version)
            else:
                raise RuntimeError(f"unexpected task body kind: {kind}")
    return dim.read()



@register(
    "sql25_reference_script_replay",
    oracle=_PL_DIM_CUSTOMER_ORACLE,
    doc="""THE capstone of the verbatim surface: the customer pipeline
    executed end-to-end FROM THE REFERENCE'S OWN TEXT — the pipe DDL
    (sql23's blob) and the complete 5-task DDL chain (sql24's blob)
    are parsed, bound to engine objects (Pipe, ManagedTables, the
    changelog streams behind each system$stream_has_data gate), and
    the chain runs the 3-step fixture replay with every task BODY
    dispatched through the statement shims: alter_pipe -> pause,
    MERGE INTO raw -> merge_statement over the stage stream, MERGE
    INTO dim -> merge_statement with DDL timestamp defaults (frozen
    per-step clock at the text boundary = F1) + fill_identity
    (autoincrement), truncate -> stage TRUNCATE,
    system$pipe_force_resume -> force_resume. Stream offsets commit
    transactionally after each body (T1); WHEN gates consult
    stream_has_data exactly like the engine chain (T3). The final
    dim_customer state must equal pl_dim_customer's closed-form
    oracle — text-driven runtime and DataFrame pipeline provably
    converge. AFTER edges resolve by unique prefix (the reference's
    own :177 typo, documented in _task_chain_order).""",
    tags=("sql-surface", "dialect", "pipeline", "reference-verbatim", "capstone"),
)
def sql25_reference_script_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.csv_format import CUSTOMER_STAGE, DIM_CUSTOMER

    dim = _script_replay(
        spark,
        _SQL23_PIPE_DDL,
        _SQL24_TASK_DDL_BLOB,
        CUSTOMER_STAGE,
        DIM_CUSTOMER,
        raw_name="raw_customer",
        dim_name="dim_customer",
        stage_stream="stg.stg_customer_stm",
        raw_stream="raw.raw_customer_stm",
        identity_col="customer_dim_key",
        identity_order=["customer_id"],
        steps=[
            ("customer_history.csv", _T[1]),
            ("customer_delta_1.csv", _T[2]),
            ("customer_delta_2.csv", _T[3]),
        ],
    )
    return dim.select(
        "customer_id", "salutation", "first_name", "last_name",
        "birth_day", "birth_month", "birth_year", "birth_country",
        "email_address", "added_timestamp", "updated_timestamp", "is_active",
    )


# ----------------------------------------------------------------------
# sql26: the item pipeline from the reference's own text
# ----------------------------------------------------------------------

# item-end-to-end-pipeline-script.sql:44-49 and :55-166, pasted
# unchanged — including the pause task's CROSS-ENTITY copy-paste bug
# (:61 pauses stg.stg_customer_pipe; the runtime skips pausing a pipe
# outside this replay, exactly Snowflake's effect on the item pipe).
_SQL26_ITEM_PIPE_DDL = """create or replace pipe stg.stg_item_pipe 
auto_ingest=true 
as
copy into stg.stg_item
from @landing/landing/item
file_format = (type = 'CSV', skip_header=1, error_on_column_count_mismatch=false)"""

_SQL26_ITEM_TASK_BLOB = """create or replace task transformed.pause_pipe_item
  warehouse = ayo_warehouse 
  schedule  = '1 minute'
when
  system$stream_has_data('stg.stg_item_stm')
as
  alter pipe stg.stg_customer_pipe set pipe_execution_paused = true;



create or replace task transformed.item_raw_tsk
  warehouse = ayo_warehouse 
  after transformed.pause_pipe_item
when
  system$stream_has_data('stg.stg_item_stm')
as
merge into raw.raw_item 
using 
(select item_id, item_desc, start_date, end_date, price, item_class, item_category, is_active from 
(select *, row_number() over(partition by item_id order by start_date desc) as rownum from stg.stg_item_stm) a
where rownum = 1) as stg_item_stm
on
raw_item.item_id = stg_item_stm.item_id
when matched 
 then update set
    raw_item.item_desc = stg_item_stm.item_desc, 
    raw_item.start_date = stg_item_stm.start_date,
    raw_item.end_date = stg_item_stm.end_date,
    raw_item.price = stg_item_stm.price,
    raw_item.item_class = stg_item_stm.item_class,
    raw_item.item_category = stg_item_stm.item_category,
    raw_item.is_active = stg_item_stm.is_active
when not matched then 
insert (
  item_id,
  item_desc,
  start_date,
  end_date,
  price,
  item_class,
  item_category,
  is_active) 
values (
  stg_item_stm.item_id,
  stg_item_stm.item_desc,
  stg_item_stm.start_date,
  stg_item_stm.end_date,
  stg_item_stm.price,
  stg_item_stm.item_class,
  stg_item_stm.item_category,
  stg_item_stm.is_active);





create or replace task transformed.dim_item_tsk
  warehouse = ayo_warehouse 
  after transformed.item_raw_tsk
when
    system$stream_has_data('raw.raw_item_stm')
as
  merge into transformed.dim_item
  using raw.raw_item_stm 
  on
  dim_item.item_id = raw_item_stm.item_id
when matched 
  then update set
      dim_item.item_desc = raw_item_stm.item_desc,
      dim_item.start_date = raw_item_stm.start_date,
      dim_item.end_date = raw_item_stm.end_date,
      dim_item.price = raw_item_stm.price,
      dim_item.item_class = raw_item_stm.item_class,
      dim_item.item_category = raw_item_stm.item_category,
      dim_item.is_active = raw_item_stm.is_active,
      dim_item.updated_timestamp = current_timestamp()
when not matched 
then 
  insert (
    item_id,
    item_desc,
    start_date,
    end_date,
    price,
    item_class,
    item_category,
    is_active
  ) 
  values (
    raw_item_stm.item_id,
    raw_item_stm.item_desc,
    raw_item_stm.start_date,
    raw_item_stm.end_date,
    raw_item_stm.price,
    raw_item_stm.item_class,
    raw_item_stm.item_category,
    raw_item_stm.is_active);
    
    
    
create or replace task transformed.truncate_staging_table_item
  warehouse = ayo_warehouse 
  after transformed.dim_item_tsk
as
  truncate table if exists stg.stg_item;  
  

create or replace task transformed.play_pipe_item
  warehouse = ayo_warehouse 
  after transformed.truncate_staging_table_item
as
  select system$pipe_force_resume('stg.stg_item_pipe');"""


@register(
    "sql26_item_script_replay",
    oracle=_PL_DIM_ITEM_ORACLE,
    doc="""The ITEM pipeline executed end-to-end from the reference's
    own text (sql25's runtime, second entity): pipe DDL + 5-task DDL
    chain parsed verbatim — this script carries TWO reference bugs the
    replay must survive faithfully: the pause task pauses the
    CUSTOMER pipe (:61 copy-paste — the runtime skips pausing a pipe
    outside the replay, which is exactly the effect Snowflake's
    execution has on the item pipe), and the raw merge dedups through
    the alias-shadowing subquery (sql20's shape) — the runtime records
    CDC changes from the statement's RESOLVED source so the dim
    stream sees post-dedup rows, matching the engine pipeline.
    3-step fixture replay converges to pl_dim_item's closed-form
    oracle (typed casts, SCD end_date NULL semantics, frozen-clock
    timestamps).""",
    tags=("sql-surface", "dialect", "pipeline", "reference-verbatim", "capstone"),
)
def sql26_item_script_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.csv_format import DIM_ITEM, ITEM_STAGE

    dim = _script_replay(
        spark,
        _SQL26_ITEM_PIPE_DDL,
        _SQL26_ITEM_TASK_BLOB,
        ITEM_STAGE,
        DIM_ITEM,
        raw_name="raw_item",
        dim_name="dim_item",
        stage_stream="stg.stg_item_stm",
        raw_stream="raw.raw_item_stm",
        identity_col="item_dim_key",
        identity_order=["item_id"],
        steps=[
            ("item_history.csv", _T[1]),
            ("item_delta_1.csv", _T[2]),
            ("item_delta_2.csv", _T[3]),
        ],
    )
    return dim.drop("item_dim_key").withColumn(
        "price", F.col("price").cast("double")
    )


# ----------------------------------------------------------------------
# sql27/sql28: the WHOLE three-script warehouse from the reference's
# own text — verbatim (which wedges on the reference's cross-entity
# pause bug) and with the one-token intent fix (which converges to the
# engine pipelines' state)
# ----------------------------------------------------------------------

# The six CDC declarations, pasted unchanged from the three scripts
# (customer-...sql:48-49, item-...sql:40-41, order-...sql:66-67). Note
# the order script's raw stream is named fact_order_stm but is declared
# ON raw_order — the trigger relation for the fact rebuild.
_SQL27_STREAM_DDLS = """
create or replace stream stg.stg_customer_stm on table stg.stg_customer;
create or replace stream raw.raw_customer_stm on table raw.raw_customer;
create or replace stream stg.stg_item_stm on table stg.stg_item;
create or replace stream raw.raw_item_stm on table raw.raw_item;
create or replace stream stg.stg_order_stm on table stg.stg_order;
create or replace stream raw.fact_order_stm on table raw.raw_order;
"""

# order-end-to-end-pipeline-script.sql:72-77, pasted unchanged.
_SQL27_ORDER_PIPE_DDL = """create or replace pipe stg.stg_order_pipe
auto_ingest=true
as
copy into stg.stg_order
from @landing/landing/order
file_format = (type = 'CSV', skip_header=1, error_on_column_count_mismatch=false);
"""

# order-end-to-end-pipeline-script.sql:93-229, pasted unchanged — the
# complete 5-task order chain: the scheduled pause root, the
# composite-key raw MERGE (sql22's null-UNSAFE 4-column ON), the
# INSERT OVERWRITE fact rebuild (sql21's statement) gated on the
# fact_order_stm trigger, the unconditional truncate, and the resume
# task guarded by the NEGATED gate ``when not system$stream_has_data``
# (:226-227 — the one negated WHEN in the reference).
_SQL27_ORDER_TASK_BLOB = """--create a task to pause pipe when stream has data
use schema transformed;
create or replace task transformed.pause_pipe_order
  warehouse = ayo_warehouse
  schedule  = '1 minute'
when
  system$stream_has_data('stg.stg_order_stm')
as
  alter pipe stg.stg_order_pipe set pipe_execution_paused = true;



create or replace task transformed.raw_order_tsk
  warehouse = ayo_warehouse
  after transformed.pause_pipe_order
when
  system$stream_has_data('stg.stg_order_stm')
as
merge into raw.raw_order
using stg.stg_order_stm on
raw_order.order_date = stg_order_stm.order_date and
raw_order.order_time = stg_order_stm.order_time and
raw_order.item_id = stg_order_stm.item_id and
raw_order.item_desc = stg_order_stm.item_desc
when matched
 then update set
    raw_order.customer_id = stg_order_stm.customer_id,
    raw_order.salutation = stg_order_stm.salutation,
    raw_order.first_name = stg_order_stm.first_name,
    raw_order.last_name = stg_order_stm.last_name,
    raw_order.store_id = stg_order_stm.store_id,
    raw_order.store_name = stg_order_stm.store_name,
    raw_order.order_quantity = stg_order_stm.order_quantity,
    raw_order.sale_price = stg_order_stm.sale_price,
    raw_order.disount_amt = stg_order_stm.disount_amt,
    raw_order.coupon_amt = stg_order_stm.coupon_amt,
    raw_order.net_paid = stg_order_stm.net_paid,
    raw_order.net_paid_tax = stg_order_stm.net_paid_tax,
    raw_order.net_profit = stg_order_stm.net_profit
  when not matched then
  insert (
    order_date ,
    order_time ,
    item_id ,
    item_desc ,
    customer_id ,
    salutation ,
    first_name ,
    last_name ,
    store_id ,
    store_name ,
    order_quantity ,
    sale_price ,
    disount_amt ,
    coupon_amt ,
    net_paid ,
    net_paid_tax ,
    net_profit )
  values (
    stg_order_stm.order_date ,
    stg_order_stm.order_time ,
    stg_order_stm.item_id ,
    stg_order_stm.item_desc ,
    stg_order_stm.customer_id ,
    stg_order_stm.salutation ,
    stg_order_stm.first_name ,
    stg_order_stm.last_name ,
    stg_order_stm.store_id ,
    stg_order_stm.store_name ,
    stg_order_stm.order_quantity ,
    stg_order_stm.sale_price ,
    stg_order_stm.disount_amt ,
    stg_order_stm.coupon_amt ,
    stg_order_stm.net_paid ,
    stg_order_stm.net_paid_tax ,
    stg_order_stm.net_profit );




create or replace task transformed.fact_order_tsk
warehouse = ayo_warehouse
after transformed.raw_order_tsk
when
  system$stream_has_data('raw.fact_order_stm')
as
insert overwrite into transformed.fact_order (
order_date,
customer_dim_key ,
item_dim_key ,
order_count,
order_quantity ,
sale_price ,
disount_amt ,
coupon_amt ,
net_paid ,
net_paid_tax ,
net_profit)
select
      ro.order_date,
      dc.customer_dim_key ,
      di.item_dim_key,
      count(1) as order_count,
      sum(ro.order_quantity) ,
      sum(ro.sale_price) ,
      sum(ro.disount_amt) ,
      sum(ro.coupon_amt) ,
      sum(ro.net_paid) ,
      sum(ro.net_paid_tax),
      sum(ro.net_profit)
  from raw.raw_order ro
    join dim_customer dc on dc.customer_id = ro.customer_id
    join dim_item di on di.item_id = ro.item_id
    --and di.item_desc = ro.item_desc
    and di.end_date is null
    group by
        ro.order_date,
        dc.customer_dim_key ,
        di.item_dim_key
        order by ro.order_date;


 create or replace task transformed.truncate_staging_table_order
  warehouse = ayo_warehouse
  after transformed.fact_order_tsk
as
  truncate table if exists stg.stg_order;



create or replace task transformed.play_pipe_order
  warehouse = ayo_warehouse
  after transformed.truncate_staging_table_order
when not
  system$stream_has_data('stg.stg_order_stm')
as
  select system$pipe_force_resume('stg.stg_order_pipe');"""


_WH_TEXT_MEMO: dict[tuple, dict] = {}


def _warehouse_text_replay(spark: SparkSession, fix_pause_bug: bool) -> dict:
    """Run the reference's ENTIRE warehouse from its own text: all three
    scripts' pipe DDLs, stream DDLs, and 5-task chains parsed verbatim
    and driven through the 3-step fixture replay in the engine's
    cross-entity cycle order (customer -> item -> order per step, the
    dependency order-...sql:204-207 requires). Bodies dispatch through
    the statement shims exactly like sql25/26; new here: the
    ``insert_overwrite`` body kind (the fact rebuild runs
    insert_overwrite_statement over the live warehouse views, fills
    the autoincrement key, and commits the fact_order_stm trigger
    offset) and the negated WHEN gate (order-...sql:226-227).

    ``fix_pause_bug`` selects the treatment of the reference's
    cross-entity copy-paste bug: the ITEM script's pause task pauses
    the CUSTOMER pipe (item-...sql:61). Run verbatim (False), that
    pause lands AFTER the customer chain's own resume in every cycle,
    so the customer pipe is paused at every subsequent refresh — the
    customer pipeline ingests nothing after step 1 and the warehouse
    WEDGES with dim_customer frozen at the history state (sql27 pins
    that closed form; the delta-only customer AAAAAAAAPOJJJDAA's
    orders never reach the fact). With the one-token intent fix
    (True — the pause task names its own pipe, which is what the
    engine pipelines implement), the replay converges bit-exactly to
    the engine's fact state (sql28). The divergence is thereby
    isolated to exactly one statement of the 15-task surface."""
    from ..functions.sqldialect import (
        insert_overwrite_statement,
        merge_statement,
        parse_pipe_ddl,
        parse_stream_ddls,
        parse_task_ddls,
    )
    from ..operators.merge import fill_identity
    from ..plans.catalog import Warehouse
    from ..sources.csv_format import (
        CUSTOMER_STAGE,
        DIM_CUSTOMER,
        DIM_ITEM,
        FACT_ORDER,
        ITEM_STAGE,
        ORDER_STAGE,
    )
    from ..sources.pipe import Pipe

    key = (id(spark), fix_pause_bug)
    if key in _WH_TEXT_MEMO:
        return _WH_TEXT_MEMO[key]
    assert_fixture_fingerprints()
    base = scratch_dir("wh_text_")
    wh = Warehouse(spark, os.path.join(base, "warehouse"))

    # typed schemas for the tables the scripts CREATE (DDL cited per
    # field in sources/csv_format.py)
    schemas = {
        "stg.stg_customer": CUSTOMER_STAGE,
        "raw.raw_customer": CUSTOMER_STAGE,
        "transformed.dim_customer": DIM_CUSTOMER,
        "stg.stg_item": ITEM_STAGE,
        "raw.raw_item": ITEM_STAGE,
        "transformed.dim_item": DIM_ITEM,
        "stg.stg_order": ORDER_STAGE,
        "raw.raw_order": ORDER_STAGE,
        "transformed.fact_order": FACT_ORDER,
    }
    tables = {n: wh.table(*n.split("."), s) for n, s in schemas.items()}

    # streams bind to the changelog of the table their DDL names; the
    # stream's own name is its consumer id (one offset per stream)
    streams = {
        s["name"].lower(): (tables[s["table"].lower()], s["name"])
        for s in parse_stream_ddls(_SQL27_STREAM_DDLS)
    }

    item_blob = _SQL26_ITEM_TASK_BLOB
    if fix_pause_bug:
        # the ONE-token intent fix: item's pause task pauses its OWN
        # pipe (what the engine pipelines implement; item-...sql:61
        # names the customer's — a copy-paste slip)
        fixed = item_blob.replace(
            "alter pipe stg.stg_customer_pipe", "alter pipe stg.stg_item_pipe"
        )
        if fixed == item_blob:
            raise RuntimeError("pause-bug fix did not apply — blob drifted")
        item_blob = fixed

    pipes: dict[str, Pipe] = {}
    chains = []
    files = {
        "customer": {
            1: "customer_history.csv",
            2: "customer_delta_1.csv",
            3: "customer_delta_2.csv",
        },
        "item": {1: "item_history.csv", 2: "item_delta_1.csv", 3: "item_delta_2.csv"},
        "order": {1: "order_history.csv", 2: "order_delta_1.csv"},
    }
    for ename, pipe_ddl, blob in (
        ("customer", _SQL23_PIPE_DDL, _SQL24_TASK_DDL_BLOB),
        ("item", _SQL26_ITEM_PIPE_DDL, item_blob),
        ("order", _SQL27_ORDER_PIPE_DDL, _SQL27_ORDER_TASK_BLOB),
    ):
        pdd = parse_pipe_ddl(pipe_ddl)
        landing = os.path.join(base, *pdd["stage_path"].split("/")[1:])
        os.makedirs(landing)
        stage = tables[pdd["table"].lower()]
        pipes[pdd["name"].lower()] = Pipe(
            spark, pdd["name"], landing, stage, stage.schema
        )
        chains.append(
            (ename, pdd["name"].lower(), landing, _task_chain_order(parse_task_ddls(blob)))
        )

    identity = {
        "transformed.dim_customer": ("customer_dim_key", ["customer_id"]),
        "transformed.dim_item": ("item_dim_key", ["item_id"]),
        "transformed.fact_order": (
            "order_fact_key",
            ["order_date", "customer_dim_key", "item_dim_key"],
        ),
    }
    import re as _re

    def run_task(t: dict, ts: str) -> None:
        kind, body = t["body_kind"], t["body"]
        if kind == "alter_pipe":
            named = _re.search(r"alter\s+pipe\s+([\w.]+)", body, _re.IGNORECASE)
            pipe = pipes.get(named.group(1).lower()) if named else None
            if pipe is not None:
                # pauses WHATEVER pipe the text names — under verbatim
                # replay the item task pauses the CUSTOMER's (the bug)
                pipe.pause()
        elif kind == "pipe_force_resume":
            named = _re.search(
                r"system\$pipe_force_resume\s*\(\s*'([\w.]+)'", body, _re.IGNORECASE
            )
            pipes[named.group(1).lower()].resume()
        elif kind == "truncate":
            named = _re.search(
                r"truncate\s+table\s+(?:if\s+exists\s+)?([\w.]+)", body, _re.IGNORECASE
            )
            tables[named.group(1).lower()].truncate()
        elif kind == "merge_into":
            src_tbl, consumer = streams[t["when_stream"].lower()]
            batch, version = src_tbl.changelog.stream_read(consumer)
            batch = batch.drop("_action", "_version")
            target_name = _re.search(
                r"merge\s+into\s+([\w.]+)", body, _re.IGNORECASE
            ).group(1).lower()
            target = tables[target_name]
            body_ts = body.replace("current_timestamp()", f"TIMESTAMP '{ts}'")
            rel = {target_name: target.read(), t["when_stream"]: batch}
            if target_name.startswith("raw."):
                out = merge_statement(spark, body_ts, rel)
                applied = out._merge_source.localCheckpoint(eager=True)
                target.overwrite(out.localCheckpoint(eager=True), changes=applied)
            else:
                out = merge_statement(
                    spark,
                    body_ts,
                    rel,
                    defaults={
                        "added_timestamp": f"TIMESTAMP '{ts}'",
                        "updated_timestamp": f"TIMESTAMP '{ts}'",
                    },
                )
                id_col, id_order = identity[target_name]
                out = fill_identity(out, id_col, order_by=id_order)
                target.overwrite(
                    out.select(*target.schema.names).localCheckpoint(eager=True),
                    changes=batch,
                )
            src_tbl.changelog.stream_commit(consumer, version)
        elif kind == "insert_overwrite":
            # the trigger stream is consumed to reset it; the SELECT
            # reads the live TABLES (order-...sql:176-177,203)
            trig_tbl, consumer = streams[t["when_stream"].lower()]
            _, version = trig_tbl.changelog.stream_read(consumer)
            out = insert_overwrite_statement(
                spark, body, {n: tbl.read() for n, tbl in tables.items()}
            )
            target_name = _re.search(
                r"insert\s+overwrite\s+into\s+([\w.]+)", body, _re.IGNORECASE
            ).group(1).lower()
            target = tables[target_name]
            id_col, id_order = identity[target_name]
            # Snowflake's implicit insert casts to the DDL types, then
            # the autoincrement fill for the unlisted identity column
            typed = out.select(
                *[
                    F.col(f.name).cast(f.dataType).alias(f.name)
                    for f in target.schema.fields
                    if f.name != id_col
                ]
            ).withColumn(id_col, F.lit(None).cast("long"))
            filled = fill_identity(typed, id_col, order_by=id_order, existing_max=0)
            target.overwrite(
                filled.select(*target.schema.names).localCheckpoint(eager=True)
            )
            trig_tbl.changelog.stream_commit(consumer, version)
        else:
            raise RuntimeError(f"unexpected task body kind: {kind}")

    for step in (1, 2, 3):
        for ename, _pk, landing, _tasks in chains:
            f = files[ename].get(step)
            if f:
                shutil.copy(os.path.join(_REFERENCE_DATA, f), os.path.join(landing, f))
        for ename, pipe_key, _landing, tasks in chains:
            pipes[pipe_key].refresh()
            for t in tasks:
                if t["when_stream"]:
                    tbl, consumer = streams[t["when_stream"].lower()]
                    has = tbl.changelog.stream_has_data(consumer)
                    if t.get("when_negated"):
                        has = not has
                    if not has:
                        continue
                run_task(t, _T[step])
    _WH_TEXT_MEMO[key] = tables
    return tables


def _fact_business_projection(tables: dict) -> DataFrame:
    """pl_fact_order's projection over a text-replayed warehouse: dim
    keys (engine-specific VALUES, pl_identity_keys contract) join back
    to business ids; DECIMAL money leaves as DOUBLE per the driver
    dtype conventions."""
    fact = tables["transformed.fact_order"].read()
    dc = tables["transformed.dim_customer"].read().select(
        "customer_dim_key", "customer_id"
    )
    di = tables["transformed.dim_item"].read().select("item_dim_key", "item_id")
    money = [
        "sale_price", "disount_amt", "coupon_amt",
        "net_paid", "net_paid_tax", "net_profit",
    ]
    return (
        fact.join(F.broadcast(dc), "customer_dim_key")
        .join(F.broadcast(di), "item_dim_key")
        .select(
            "order_date",
            "customer_id",
            "item_id",
            "order_count",
            "order_quantity",
            *[F.col(c).cast("double").alias(c) for c in money],
        )
    )


# The wedged closed form of dim_customer: the step-1 merge ONLY —
# history rows with both timestamps at the step-1 clock. The delta
# files never ingest because the item script's pause task keeps the
# customer pipe paused at every refresh after step 1.
_WEDGED_DIM_CUSTOMER_SQL = f"""
    WITH h AS ({_read_csv_sql('customer_history.csv', _CUST_COLS, 1)})
    SELECT customer_id, salutation, first_name, last_name,
           birth_day::INTEGER AS birth_day, birth_month::INTEGER AS birth_month,
           birth_year::INTEGER AS birth_year, birth_country, email_address,
           TIMESTAMP '{_T[1]}' AS added_timestamp,
           TIMESTAMP '{_T[1]}' AS updated_timestamp, is_active
    FROM h
"""


@register(
    "sql27_warehouse_script_wedge",
    oracle=_WEDGED_DIM_CUSTOMER_SQL,
    doc="""All THREE reference scripts executed together, VERBATIM —
    and the replay faithfully reproduces the reference's latent
    cross-entity bug: the item script's pause task pauses the CUSTOMER
    pipe (item-...sql:61, a copy-paste slip). In every cycle that
    pause lands after the customer chain's own resume, so the customer
    pipe is paused at every subsequent refresh: the delta files never
    ingest, dim_customer FREEZES at the history state, and the fact
    rebuild (step 2) drops the delta-only customer AAAAAAAAPOJJJDAA's
    orders — with the reference's own referential gap (most order keys
    miss the dims, order-...sql:365-387) that leaves the wedged fact
    EMPTY, asserted in-query. Returned relation: the frozen
    dim_customer; oracle = the step-1-only merge closed form (all
    timestamps at the step-1 clock). The runtime is
    _warehouse_text_replay: pipe + stream + task DDLs all parsed from
    the scripts' own text, bodies dispatched through the statement
    shims, insert_overwrite + negated-WHEN gates included. sql28 is
    the same replay with the one-token intent fix, proving the entire
    divergence is that single statement
    (test_warehouse_text_replay_wedge_vs_fix pins the exact row
    delta).""",
    tags=("sql-surface", "dialect", "pipeline", "reference-verbatim", "capstone"),
)
def sql27_warehouse_script_wedge(spark: SparkSession, sf_dir: str) -> DataFrame:
    tables = _warehouse_text_replay(spark, fix_pause_bug=False)
    n_fact = tables["transformed.fact_order"].read().count()
    if n_fact != 0:
        raise RuntimeError(
            f"wedge contract violated: expected an EMPTY wedged fact "
            f"(history customers never join the fixture orders), found {n_fact} rows"
        )
    return (
        tables["transformed.dim_customer"]
        .read()
        .drop("customer_dim_key")
        .select(
            "customer_id", "salutation", "first_name", "last_name",
            "birth_day", "birth_month", "birth_year", "birth_country",
            "email_address", "added_timestamp", "updated_timestamp", "is_active",
        )
    )


@register(
    "sql28_warehouse_script_replay",
    oracle=_FACT_GROUPED_SQL,
    doc="""THE full-warehouse capstone: all three reference scripts —
    three pipe DDLs, six stream DDLs, fifteen task DDLs — parsed from
    their own text and replayed through the statement shims in the
    engine's cross-entity cycle order, with exactly ONE token changed
    from the reference (the item pause task pauses its own pipe, the
    evident intent of item-...sql:61 — sql27 runs the verbatim text
    and pins the wedge that slip causes). Converges bit-exactly to the
    engine pipelines' fact state (_FACT_GROUPED_SQL — pl_fact_order's
    oracle): text-driven runtime and DataFrame pipelines provably
    compute the same warehouse, dims and fact, end to end.""",
    tags=("sql-surface", "dialect", "pipeline", "reference-verbatim", "capstone"),
)
def sql28_warehouse_script_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fact_business_projection(_warehouse_text_replay(spark, fix_pause_bug=True))
