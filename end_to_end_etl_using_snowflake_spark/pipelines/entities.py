"""The three reference entity pipelines (customer / item / order),
wired exactly as the 5-task chains in
reference etl_script/{customer,item,order}-end-to-end-pipeline-script.sql:

    pause_pipe_<e>  (WHEN stage stream has data; customer-...sql:62-68)
      -> <e>_raw_tsk       MERGE stage-stream -> raw       (customer-...sql:71-114)
      -> dim_<e>_tsk       MERGE raw-stream   -> dim       (customer-...sql:118-165)
         / fact_order_tsk  INSERT OVERWRITE fact rebuild   (order-...sql:173-212)
      -> truncate_staging_table_<e>                        (customer-...sql:168-172)
      -> play_pipe_<e>                                     (customer-...sql:175-179)

Reference bugs intentionally fixed, not replicated (SURVEY §7.5): the
item pause task pauses the ITEM pipe (item-...sql:61 pauses customer's
by copy-paste), task names use the systematic ``<layer>_<entity>_stm``
convention, and AFTER chains reference tasks that exist.

The clock is injectable so ``current_timestamp()`` defaults
(customer-...sql:42-43) are testable against golden outputs.

Scale: dims merge via broadcast-anti-join (CDC batches are tiny);
fact_order is INSERT OVERWRITE like the reference (order-...sql:179).
``fact_mode="incremental"`` declares raw_order and fact_order
partitioned by order month; the order tasks are the same code in both
postures, and on the partitioned tables read and rewrite only the
months a batch touches.
"""

from __future__ import annotations

import itertools
import os
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timezone
from functools import partialmethod

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import merge as M
from ..plans.catalog import ManagedTable, Warehouse
from ..sources import csv_format as CF
from ..sources.pipe import Pipe
from ..streaming.tasks import Task, TaskDag

Clock = Callable[[], datetime]


def _utc_now() -> datetime:
    return datetime.now(timezone.utc)


class EntityPipelines:
    """Builds the warehouse tables, pipes, and task DAGs for all three
    entities over a landing directory tree ``<landing>/<entity>/*.csv``."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse: Warehouse,
        landing_root: str,
        clock: Clock = _utc_now,
        fact_mode: str = "rebuild",
    ):
        """``fact_mode``:

        - ``"rebuild"`` (reference parity): INSERT OVERWRITE the whole
          fact from all of raw_order every cycle (order-...sql:179) —
          O(history) per cycle.
        - ``"incremental"`` (100 TB posture): raw_order AND fact are
          partitioned by one ``__month`` key, the 'yyyy-MM' of
          order_date as a date (NULL when it is no date); a cycle
          partition-prunes the raw MERGE to the months the batch
          carries, recomputes ONLY those months of the fact, and
          overwrites those partitions — O(touched partitions), exact
          even when the batch *updates* an existing order (the whole
          affected month is recomputed from raw, so no delta-vs-old
          bookkeeping). Assumes dim key mappings are stable (SCD-1
          in-place updates — true here); a dim key reassignment
          requires one full rebuild.

        This is the only place the mode is read: the order tasks take
        their posture from the tables' declared partitioning.
        """
        if fact_mode not in ("rebuild", "incremental"):
            raise ValueError(f"unknown fact_mode {fact_mode!r}")
        self.spark = spark
        self.wh = warehouse
        self.landing_root = landing_root
        self.clock = clock
        # One key for both order tables: on raw's varchar it gives the
        # month of the fact's date cast ('2021-3-7' -> '2021-03'), and
        # NULL for '' or any other non-date. Month, not day: a month of
        # orders is about one healthy partition at warehouse scale,
        # while a partition per day at test scale degenerates to
        # thousands of near-empty directories whose listing tax swamps
        # the pruning win.
        month = F.expr("date_format(try_cast(order_date AS DATE), 'yyyy-MM')")
        by_month = {"__month": month} if fact_mode == "incremental" else None

        self.stage: dict[str, ManagedTable] = {}
        self.raw: dict[str, ManagedTable] = {}
        self.pipes: dict[str, Pipe] = {}
        for entity, schema in CF.STAGE_SCHEMAS.items():
            self.stage[entity] = warehouse.table("stg", f"stg_{entity}", schema)
            self.raw[entity] = warehouse.table(
                "raw", f"raw_{entity}", schema, by_month if entity == "order" else None
            )
            self.pipes[entity] = Pipe(
                spark,
                f"stg_{entity}_pipe",
                os.path.join(landing_root, entity),
                self.stage[entity],
                schema,
            )
        self.dim_customer = warehouse.table("transformed", "dim_customer", CF.DIM_CUSTOMER)
        self.dim_item = warehouse.table("transformed", "dim_item", CF.DIM_ITEM)
        self.dims = {"customer": self.dim_customer, "item": self.dim_item}
        self.fact_order = warehouse.table("transformed", "fact_order", CF.FACT_ORDER, by_month)

        self.dags = {
            "customer": self._build_dag("customer", self._dim_customer_task),
            "item": self._build_dag("item", self._dim_item_task),
            "order": self._build_dag("order", self._fact_order_task),
        }

    # ------------------------------------------------------------------
    # task DAG assembly (identical 5-task shape x3, README.md:61-65)
    # ------------------------------------------------------------------
    def _build_dag(self, entity: str, transform_body: Callable[[], None]) -> TaskDag:
        dag = TaskDag(self.spark, entity)
        pipe = self.pipes[entity]
        stage = self.stage[entity]
        transform_name = "fact_order_tsk" if entity == "order" else f"dim_{entity}_tsk"
        raw_log = self.raw[entity].changelog
        transform_consumer = "fact_tsk" if entity == "order" else "dim_tsk"

        dag.add(
            Task(
                f"pause_pipe_{entity}",
                body=pipe.pause,
                # also wakes a chain that stopped after its raw task: the
                # stage offset is committed, so only the transform's
                # unread input and the pipe it left paused remain
                when=lambda: stage.changelog.stream_has_data("raw_tsk")
                or (pipe.paused and raw_log.stream_has_data(transform_consumer)),
            )
        )
        dag.add(
            Task(
                f"{entity}_raw_tsk",
                body=lambda: self._raw_task(entity),
                after=f"pause_pipe_{entity}",
            )
        )
        dag.add(Task(transform_name, body=transform_body, after=f"{entity}_raw_tsk"))
        dag.add(
            Task(
                f"truncate_staging_table_{entity}",
                body=stage.truncate,
                after=transform_name,
            )
        )
        dag.add(
            Task(
                f"play_pipe_{entity}",
                body=pipe.resume,
                after=f"truncate_staging_table_{entity}",
                # order variant guards resume on the stage stream being
                # fully drained (order-...sql:226-227)
                when=lambda: not stage.changelog.stream_has_data("raw_tsk"),
            )
        )
        return dag

    # ------------------------------------------------------------------
    # task bodies
    # ------------------------------------------------------------------
    MERGE_KEYS = {
        "customer": ["customer_id"],
        "item": ["item_id"],
        # composite business key (order-...sql:113-116)
        "order": ["order_date", "order_time", "item_id", "item_desc"],
    }
    # latest-per-key order of each change batch (descending): the
    # latest changelog version wins; item follows the reference's
    # start_date desc first (item-...sql:74)
    LATEST_FIRST = {
        "customer": ["_version"],
        "item": ["start_date", "_version"],
        "order": ["_version"],
    }

    def _raw_task(self, entity: str) -> None:
        """MERGE stage-stream -> raw (M1; customer-...sql:77-114).

        The item variant dedups the batch latest-per-key first
        (item-...sql:72-75); we apply latest-wins dedup on the
        changelog version for every entity — same semantics, and
        required for multi-file batches that touch one key twice.

        The merge reads and rewrites only the partitions of raw the
        batch maps to (all of a flat raw): the Snowflake
        micro-partition pruning analog, O(touched partitions) per
        cycle, not O(history).
        """
        stage = self.stage[entity]
        src, version = stage.changelog.stream_read("raw_tsk")
        if src is None:
            return
        keys = self.MERGE_KEYS[entity]
        raw = self.raw[entity]
        # total tiebreak: a multi-file batch can carry two rows with the
        # SAME key and version (e.g. composite-key collisions in a bulk
        # backfill); Snowflake would raise a nondeterministic-merge
        # error, we pick the lexicographically greatest row instead so
        # the outcome never depends on file/partition layout
        order_cols = self.LATEST_FIRST[entity] + [
            c for c in sorted(raw.schema.names) if c not in keys
        ]
        # an initial load's post-state IS the deduped batch: it is
        # written once and the changelog version hardlinks those files
        # (r16). Every other commit also records the batch itself, so
        # the one dedup pass is cached for both consumers.
        link = not raw.storage.exists()
        deduped = M.dedup_latest(src.drop("_action"), keys, order_cols)
        if not link:
            deduped = deduped.persist()
        try:
            # path-pruned: a root read would list every month
            # directory, a Spark job past 32 of them
            target = raw.read_partitions(raw.touched(deduped))
            out = M.merge_dataframes(
                target,
                deduped,
                keys=keys,
                update_cols=[c for c in raw.schema.names if c not in keys],
            ).select(*raw.schema.names)
            raw.overwrite_partitions(out, changes=None if link else deduped.drop("_version"))
        finally:
            if not link:
                deduped.unpersist()
        stage.changelog.stream_commit("raw_tsk", version)

    def _now_lit(self):
        return F.lit(self.clock().replace(tzinfo=None)).cast("timestamp")

    def _dim_task(self, entity: str) -> None:
        """MERGE raw-stream -> typed dim (M2; customer-...sql:118-165,
        item-...sql:111-151): the raw varchar columns are cast to the
        dim's declared types (the reference's implicit casts made
        explicit), updated_timestamp refreshes on match
        (customer-...sql:139), identity + both timestamps are assigned
        on insert. An empty item END_DATE stays NULL = current row.

        New identities continue from the stored maximum
        (``ManagedTable.identity_max``). Every existing key is carried
        through the merge, so that equals the in-plan max over the merge
        result; on an initial load the merge collapses to a projection
        with a literal NULL key and fill_identity to the rank alone."""
        raw, dim = self.raw[entity], self.dims[entity]
        src, version = raw.changelog.stream_read("dim_tsk")
        if src is None:
            return
        keys = self.MERGE_KEYS[entity]
        src = M.dedup_latest(src, keys, self.LATEST_FIRST[entity])
        typed = src.select(
            *[
                F.col(f.name).cast(f.dataType).alias(f.name)
                if raw.schema[f.name].dataType != f.dataType
                else f.name
                for f in dim.schema.fields
                if f.name in raw.schema.names
            ]
        ).persist()  # reused: merge source + changelog record
        now = self._now_lit()
        merged = M.merge_dataframes(
            dim.read(),
            typed,
            keys=keys,
            matched_set={"updated_timestamp": now},
            insert_defaults={"added_timestamp": now, "updated_timestamp": now},
        )
        # an existing dim's merge is two joins that fill_identity
        # consumes several times, so it is cached once; an initial
        # load's merge is a projection of ``typed``, and caching it
        # would hide its literal NULL key from the optimizer
        exists = dim.storage.exists()
        if exists:
            merged = merged.persist()
        ident = f"{entity}_dim_key"
        try:
            out = M.fill_identity(
                merged,
                ident,
                order_by=keys,
                existing_max=dim.identity_max(ident),
                # the inserts are some of the batch's change rows
                max_rows=raw.changelog.stream_rows("dim_tsk", version),
            )
            dim.overwrite(out.select(*dim.schema.names), changes=typed)
        finally:
            if exists:
                merged.unpersist()
            typed.unpersist()
        raw.changelog.stream_commit("dim_tsk", version)

    _dim_customer_task = partialmethod(_dim_task, "customer")
    _dim_item_task = partialmethod(_dim_task, "item")

    def _fact_order_task(self) -> None:
        """INSERT OVERWRITE fact_order rebuild (M3; order-...sql:179-212):
        star join raw_order x dim_customer x dim_item(end_date IS NULL),
        3-key group, count + 7 implicit-cast SUMs, ordered by order_date.
        Reads the raw TABLE (not the stream) — the stream only triggers
        (order-...sql:176-177) and selects what is rebuilt.

        The recompute unit is the partition: the batch's partitions of
        raw (all of a flat raw) are read and rebuilt whole, exact even
        when the batch updates existing orders, and the fact partitions
        they map to are replaced, a month whose recompute yields no fact
        rows (a dim change dropped them all) included. raw_order and
        fact_order share one partition key, so those are the same values
        for both; a flat fact is replaced whole."""
        raw, fact = self.raw["order"], self.fact_order
        src, version = raw.changelog.stream_read("fact_tsk")
        if src is None:
            return
        touched = raw.touched(src)
        ro = raw.read_partitions(touched)
        # the rebuilt groups are at most the raw rows read; a bound past
        # one window's rows changes nothing, so counting stops there
        max_rows = raw.stored_rows(touched, M.IDENTITY_BUCKET_ROWS)
        dc = self.dim_customer.read().select("customer_dim_key", "customer_id")
        di = (
            self.dim_item.read()
            .filter(F.col("end_date").isNull())  # current SCD row (order-...sql:207)
            .select("item_dim_key", "item_id")
        )
        money = lambda c: F.col(c).cast("decimal(20,2)")  # noqa: E731
        agg = (
            ro.join(F.broadcast(dc), "customer_id")
            .join(F.broadcast(di), "item_id")
            .groupBy(
                F.col("order_date").cast("date").alias("order_date"),
                "customer_dim_key",
                "item_dim_key",
            )
            .agg(
                F.count(F.lit(1)).alias("order_count"),
                F.sum(F.col("order_quantity").cast("long")).alias("order_quantity"),
                F.sum(money("sale_price")).cast("decimal(20,2)").alias("sale_price"),
                F.sum(money("disount_amt")).cast("decimal(20,2)").alias("disount_amt"),
                F.sum(money("coupon_amt")).cast("decimal(20,2)").alias("coupon_amt"),
                F.sum(money("net_paid")).cast("decimal(20,2)").alias("net_paid"),
                F.sum(money("net_paid_tax")).cast("decimal(20,2)").alias("net_paid_tax"),
                F.sum(money("net_profit")).cast("decimal(20,2)").alias("net_profit"),
            )
            # The reference's ORDER BY order_date (O1, order-...sql:212)
            # is dropped here (r16): fill_identity's rank sorts by
            # (order_date, customer_dim_key, item_dim_key) itself,
            # independently of input order, so a sort here would be a
            # pure range-exchange + sort cost (Snowflake likewise treats
            # INSERT ... SELECT ORDER BY as a clustering hint, not a
            # semantic guarantee). The audit oracle is order-insensitive.
        )
        # cached without the key column: the literal NULL key added
        # above the cache lets the optimizer reduce fill_identity to the
        # rank alone (no isNull split, no union)
        agg = agg.persist()
        try:
            rebuilt = M.fill_identity(
                agg.withColumn("order_fact_key", F.lit(None).cast("long")),
                "order_fact_key",
                order_by=["order_date", "customer_dim_key", "item_dim_key"],
                # a full rebuild numbers from 1; a partition replace
                # continues past the stored maximum, read before it
                existing_max=fact.identity_max("order_fact_key", touched),
                max_rows=max_rows,
            )
            # the changelog links the rewritten groups (UPSERT granularity);
            # every touched month is replaced, one left without rows too
            fact.overwrite_partitions(rebuilt.select(*fact.schema.names), replaced=touched)
        finally:
            agg.unpersist()
        raw.changelog.stream_commit("fact_tsk", version)

    # ------------------------------------------------------------------
    # cycle driver (T5: pause -> merge -> truncate -> resume)
    # ------------------------------------------------------------------
    def run_cycle(self, entity: str) -> list:
        """One scheduled wake-up for one entity: poll the pipe, then walk
        the 5-task chain. An order cycle run this way does not wait for
        the dims (order-...sql:204-207); ``run_all`` does."""
        self.pipes[entity].refresh()
        return self.dags[entity].run_cycle()

    def run_all(self) -> dict[str, list]:
        """One wake-up for all three entities; the three chains run at
        the same time.

        The entities share no tables, pipes or changelogs. The one
        cross-entity dependency is the fact task's join of both dims
        (order-...sql:204-207), so ``fact_order_tsk`` starts only after
        both dim cycles of this wake-up have ended; the order pipe
        refresh and ``order_raw_tsk`` overlap them. Customer and item
        run on two worker threads, order on the calling thread.

        Each chain keeps its own gates and failure semantics: a dim
        chain that was SKIPPED or FAILED still lets the fact run. A dim
        cycle that raises records ``fact_order_tsk`` FAILED with its
        error; once all three cycles have ended the first exception, in
        customer, item, order order, is re-raised. An injected ``clock``
        is called from several threads."""
        with ThreadPoolExecutor(max_workers=2) as pool:
            dims = {e: pool.submit(self.run_cycle, e) for e in ("customer", "item")}
            wait = {"fact_order_tsk": lambda: [f.result() for f in dims.values()]}
            try:
                self.pipes["order"].refresh()
                order = self.dags["order"].run_cycle(wait)
            finally:
                # a dim cycle's exception takes precedence over order's
                out = {e: f.result() for e, f in dims.items()}
        out["order"] = order
        return out

    def run_forever(
        self, interval_seconds: float = 60.0, max_wakeups: int | None = None
    ) -> None:
        """The root tasks' ``schedule = '1 minute'`` (customer-...sql:64):
        ``run_all`` every ``interval_seconds``, start to start, so the
        fact runs after both dims on every wake-up. Stops after
        ``max_wakeups`` wake-ups (never when None); a wake-up that
        outlasts the interval starts the next one at once."""
        for wakeup in itertools.count(1):
            start = time.monotonic()
            self.run_all()
            if wakeup == max_wakeups:
                return
            time.sleep(max(0.0, start + interval_seconds - time.monotonic()))

    def layer_tables(self) -> dict[str, DataFrame]:
        """P1 layer-inspection surface (customer-...sql:212-216)."""
        out = {}
        for e in CF.STAGE_SCHEMAS:
            out[f"stg.stg_{e}"] = self.stage[e].read()
            out[f"raw.raw_{e}"] = self.raw[e].read()
        out["transformed.dim_customer"] = self.dim_customer.read()
        out["transformed.dim_item"] = self.dim_item.read()
        out["transformed.fact_order"] = self.fact_order.read()
        return out
