"""Output checks: the expected warehouse, computed by DuckDB from the
same landing CSVs the engine ingested, compared row for row with the
parquet files the engine wrote.

The expected state replays the pipeline's semantics in SQL:

- raw: per business key, the row of the latest batch wins; inside one
  batch the raw task's tiebreak applies (item: ``start_date`` first),
  then every non-key column descending in alphabetical order
  (``pipelines/entities.py:_raw_task``);
- dims: the raw rows, typed, with both timestamps at the fixed clock;
- fact: surviving raw orders star-joined to the dims (current items
  only), grouped by (order_date, customer, item).

Identity keys are checked for uniqueness and compared through the dim
join, never by value. Every check runs outside the timed sections.
"""

from __future__ import annotations

import glob
import os
from datetime import datetime

import duckdb

from gen import COLUMNS, KEYS

MONEY = ("sale_price", "disount_amt", "coupon_amt", "net_paid", "net_paid_tax", "net_profit")


def _q(path: str) -> str:
    return "'" + path.replace("'", "''") + "'"


def _parquet(table_dir: str) -> str:
    return f"read_parquet({_q(os.path.join(table_dir, '**', '*.parquet'))}, hive_partitioning=false)"


class Expected:
    """The expected warehouse for one landing tree, held in DuckDB."""

    def __init__(self, landing_root: str, clock: datetime):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        ts = f"TIMESTAMP '{clock.strftime('%Y-%m-%d %H:%M:%S')}'"
        for entity in COLUMNS:
            files = sorted(glob.glob(os.path.join(landing_root, entity, "*.csv")))
            cols = ", ".join(COLUMNS[entity])
            types = "{" + ", ".join(f"'{c}': 'VARCHAR'" for c in COLUMNS[entity]) + "}"
            self.con.execute(f"""
                CREATE TABLE src_{entity} AS
                SELECT {cols},
                       CAST(regexp_extract(filename, 'b([0-9]+)_[0-9]+\\.csv$', 1) AS INTEGER) AS batch
                FROM read_csv([{', '.join(_q(f) for f in files)}], header=true, delim=',',
                              quote='"', columns={types}, filename=true)""")
            keys = KEYS[entity]
            order = ["batch DESC"]
            if entity == "item":
                order.append("start_date DESC NULLS LAST")
            order += [f"{c} DESC NULLS LAST" for c in sorted(COLUMNS[entity]) if c not in keys]
            self.con.execute(f"""
                CREATE TABLE raw_{entity} AS SELECT {cols} FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY {', '.join(keys)} ORDER BY {', '.join(order)}) AS rn
                    FROM src_{entity}) WHERE rn = 1""")
        self.con.execute(f"""
            CREATE TABLE dim_customer AS SELECT customer_id, salutation, first_name, last_name,
                CAST(birth_day AS INTEGER) AS birth_day, CAST(birth_month AS INTEGER) AS birth_month,
                CAST(birth_year AS INTEGER) AS birth_year, birth_country, email_address,
                {ts} AS added_timestamp, {ts} AS updated_timestamp, is_active
            FROM raw_customer""")
        self.con.execute(f"""
            CREATE TABLE dim_item AS SELECT item_id, item_desc,
                CAST(start_date AS DATE) AS start_date, CAST(end_date AS DATE) AS end_date,
                CAST(price AS DECIMAL(7,2)) AS price, item_class, item_category,
                {ts} AS added_timestamp, {ts} AS updated_timestamp, is_active
            FROM raw_item""")
        sums = ", ".join(
            f"CAST(SUM(CAST(o.{m} AS DECIMAL(20,2))) AS DECIMAL(20,2)) AS {m}" for m in MONEY
        )
        self.con.execute(f"""
            CREATE TABLE fact AS SELECT CAST(o.order_date AS DATE) AS order_date,
                o.customer_id, o.item_id, COUNT(*) AS order_count,
                SUM(CAST(o.order_quantity AS BIGINT)) AS order_quantity, {sums}
            FROM raw_order o JOIN dim_customer c ON o.customer_id = c.customer_id
            JOIN dim_item i ON o.item_id = i.item_id AND i.end_date IS NULL
            GROUP BY ALL""")

    def _diff(self, expected: str, actual: str, cols: str) -> int:
        return self.con.execute(f"""
            SELECT (SELECT COUNT(*) FROM (SELECT {cols} FROM {expected}
                                          EXCEPT ALL SELECT {cols} FROM {actual}))
                 + (SELECT COUNT(*) FROM (SELECT {cols} FROM {actual}
                                          EXCEPT ALL SELECT {cols} FROM {expected}))
        """).fetchone()[0]

    def check(self, warehouse: str) -> list[str]:
        """Compare a warehouse directory tree with the expected state;
        returns the list of mismatches (empty = correct)."""
        bad = []
        wh = lambda *p: _parquet(os.path.join(warehouse, *p))  # noqa: E731
        for entity in COLUMNS:
            stage = os.path.join(warehouse, "stg", f"stg_{entity}")
            if glob.glob(os.path.join(stage, "**", "*.parquet"), recursive=True):
                bad.append(f"stg_{entity} not truncated")
            n = self._diff(f"raw_{entity}", wh("raw", f"raw_{entity}"), ", ".join(COLUMNS[entity]))
            if n:
                bad.append(f"raw_{entity}: {n} rows differ")
        dims = {"customer": "customer_dim_key", "item": "item_dim_key"}
        for entity, key in dims.items():
            table = wh("transformed", f"dim_{entity}")
            cols = ", ".join(d[0] for d in self.con.execute(
                f"SELECT * FROM dim_{entity} LIMIT 0").description)
            n = self._diff(f"dim_{entity}", table, cols)
            if n:
                bad.append(f"dim_{entity}: {n} rows differ")
            dup = self.con.execute(
                f"SELECT COUNT(*) - COUNT(DISTINCT {key}) + COUNT(*) - COUNT({key}) FROM {table}"
            ).fetchone()[0]
            if dup:
                bad.append(f"dim_{entity}: {key} not unique")
        fact = wh("transformed", "fact_order")
        self.con.execute(f"""
            CREATE OR REPLACE TEMP VIEW actual_fact AS
            SELECT f.order_date, c.customer_id, i.item_id, f.order_count, f.order_quantity,
                   {', '.join('f.' + m for m in MONEY)}
            FROM {fact} f
            JOIN {wh('transformed', 'dim_customer')} c ON f.customer_dim_key = c.customer_dim_key
            JOIN {wh('transformed', 'dim_item')} i ON f.item_dim_key = i.item_dim_key""")
        cols = "order_date, customer_id, item_id, order_count, order_quantity, " + ", ".join(MONEY)
        n = self._diff("fact", "actual_fact", cols)
        if n:
            bad.append(f"fact_order: {n} rows differ")
        dup = self.con.execute(
            f"SELECT COUNT(*) - COUNT(DISTINCT order_fact_key) FROM {fact}"
        ).fetchone()[0]
        if dup:
            bad.append("fact_order: order_fact_key not unique")
        return bad

    def close(self) -> None:
        self.con.close()
