"""Reference-surface query inventory (SURVEY.md §2) on the driver's
TPC-H-ish tables. Each entry registers an idiomatic-DataFrame builder +
a DuckDB oracle (see ``plans.registry`` for determinism conventions).

Mapping (FIXTURES.md §B): fact-style source = ``lineitem``; dims =
``orders``/``customer``/``part``; SCD current-row filters use a
synthesized validity on ``part``; MERGE oracles are ``target ANTI JOIN
source UNION ALL source`` state equations; latest-per-key dedup runs on
``events``.

Every monetary expression is computed in DECIMAL (exact, order-
independent) and the final column cast to DOUBLE — exact for these
magnitudes (value * 10^scale < 2^53), so Spark and DuckDB hash
identically. Raw double columns pass through untouched (safe).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.scratch import scratch_dir
from ..operators import merge as M
from .registry import REGISTRY, register
from .tables import load

# ---------------------------------------------------------------------------
# shared decimal measure expressions (Spark side)
# ---------------------------------------------------------------------------


def _qty():
    return F.col("l_quantity").cast("decimal(18,2)")


def _price():
    return F.col("l_extendedprice").cast("decimal(18,2)")


def _disc():
    return F.col("l_discount").cast("decimal(4,2)")


def _tax():
    return F.col("l_tax").cast("decimal(4,2)")


_SQL_QTY = "CAST(l_quantity AS DECIMAL(18,2))"
_SQL_PRICE = "CAST(l_extendedprice AS DECIMAL(18,2))"
_SQL_DISC = "CAST(l_discount AS DECIMAL(4,2))"
_SQL_TAX = "CAST(l_tax AS DECIMAL(4,2))"


# ---------------------------------------------------------------------------
# flagship: fact_order rebuild (M3 = J1 + J2 + A1-A3 + O1)
# ---------------------------------------------------------------------------


@register(
    "flagship_fact_rebuild",
    oracle=f"""
    WITH dim_part AS (
        SELECT p_partkey, p_brand, DATE '2000-01-01' AS end_date FROM part
        UNION ALL
        SELECT p_partkey, p_brand, NULL AS end_date FROM part
    )
    SELECT CAST(o.o_orderdate AS DATE)            AS order_date,
           c.c_custkey                            AS customer_dim_key,
           p.p_partkey                            AS item_dim_key,
           COUNT(1)                               AS order_count,
           CAST(SUM({_SQL_QTY}) AS DOUBLE)        AS order_quantity,
           CAST(SUM({_SQL_PRICE}) AS DOUBLE)      AS sale_price,
           CAST(SUM({_SQL_PRICE} * {_SQL_DISC}) AS DOUBLE)       AS disount_amt,
           CAST(SUM({_SQL_QTY} * {_SQL_DISC}) AS DOUBLE)         AS coupon_amt,
           CAST(SUM({_SQL_PRICE} * (1 - {_SQL_DISC})) AS DOUBLE) AS net_paid,
           CAST(SUM({_SQL_PRICE} * {_SQL_TAX}) AS DOUBLE)        AS net_paid_tax,
           CAST(SUM({_SQL_PRICE} * (1 - {_SQL_DISC}) - {_SQL_QTY}) AS DOUBLE) AS net_profit
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN dim_part p ON p.p_partkey = l.l_partkey AND p.end_date IS NULL
    GROUP BY 1, 2, 3
    """,
    doc="""Reference fact_order full rebuild (order-...sql:179-212): star
    join fact + 2 dims with the SCD current-row residual (end_date IS
    NULL, order-...sql:207), 3-key GROUP BY, COUNT(1) + 7 measure SUMs
    with implicit varchar->number cast semantics (A3). The ``disount_amt``
    typo is preserved from the source schema (order-...sql:14).""",
    tags=("M3", "J1", "J2", "A1", "A2", "A3", "O1"),
)
def flagship_fact_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .tables import rebalance_scan

    # the fact side feeds 3 joins + 8 decimal aggregates: worth full
    # cluster width even if the file layout undersplits the scan
    lineitem = rebalance_scan(load(spark, sf_dir, "lineitem"), spark)
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    part = load(spark, sf_dir, "part")
    # synthesized SCD dim: one closed + one current row per part; the
    # current-row residual is pushed to the (broadcast) build side.
    dim_part = part.select("p_partkey", "p_brand").withColumn(
        "end_date", F.lit("2000-01-01").cast("date")
    ).unionByName(
        part.select("p_partkey", "p_brand").withColumn("end_date", F.lit(None).cast("date"))
    )
    one = F.lit(1).cast("decimal(1,0)")
    return (
        lineitem
        .join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(
            F.broadcast(dim_part.filter(F.col("end_date").isNull())),
            lineitem.l_partkey == F.col("p_partkey"),
        )
        .groupBy(
            F.col("o_orderdate").cast("date").alias("order_date"),
            F.col("c_custkey").alias("customer_dim_key"),
            F.col("p_partkey").alias("item_dim_key"),
        )
        .agg(
            F.count(F.lit(1)).alias("order_count"),
            F.sum(_qty()).cast("double").alias("order_quantity"),
            F.sum(_price()).cast("double").alias("sale_price"),
            F.sum(_price() * _disc()).cast("double").alias("disount_amt"),
            F.sum(_qty() * _disc()).cast("double").alias("coupon_amt"),
            F.sum(_price() * (one - _disc())).cast("double").alias("net_paid"),
            F.sum(_price() * _tax()).cast("double").alias("net_paid_tax"),
            F.sum(_price() * (one - _disc()) - _qty()).cast("double").alias("net_profit"),
        )
    )


# ---------------------------------------------------------------------------
# §2.2 projection / filter / predicates
# ---------------------------------------------------------------------------


@register(
    "p1_full_scan",
    oracle="SELECT r_regionkey, r_name FROM region",
    doc="P1 layer-inspection full scan (customer-...sql:212-216).",
    tags=("P1", "S5"),
)
def p1_full_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "region").select("r_regionkey", "r_name")


@register(
    "p2_projection_pushdown",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1998-01-01' AND o_orderpriority = '1-URGENT'
    """,
    doc="""P2 explicit projection + pushed filter (order-...sql:191-202).
    Plan check: ReadSchema carries only 4 columns, PushedFilters carries
    both predicates (column pruning + predicate pushdown reach parquet).""",
    tags=("P2",),
)
def p2_projection_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
            & (F.col("o_orderpriority") == "1-URGENT")
        )
        .select("o_orderkey", "o_totalprice")
    )


@register(
    "p5_filter_in_list",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    """,
    doc="P5 IN-list filter (customer-...sql:199).",
    tags=("P5",),
)
def p5_filter_in_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
    )


@register(
    "p6_semi_join_in_subquery",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
    """,
    doc="P6/J5 IN-subquery as LEFT SEMI join (order-...sql:365-371).",
    tags=("P6", "J5"),
)
def p6_semi_join_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    big = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return customer.join(big, customer.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "p7_filter_equality",
    oracle="""
    SELECT event_id, user_id, value FROM events WHERE event_type = 'purchase'
    """,
    doc="P7 equality filter (order-...sql:379).",
    tags=("P7",),
)
def p7_filter_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "value")
    )


# ---------------------------------------------------------------------------
# §2.3 joins
# ---------------------------------------------------------------------------


@register(
    "j1_inner_equi_broadcast",
    oracle=f"""
    SELECT p.p_brand AS brand,
           COUNT(1) AS n_items,
           CAST(SUM({_SQL_PRICE}) AS DOUBLE) AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY p.p_brand
    """,
    doc="""J1 single-key equi inner join, small dim broadcast
    (order-...sql:204). Plan check: BroadcastHashJoin.""",
    tags=("J1",),
)
def j1_inner_equi_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    return (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(_price()).cast("double").alias("revenue"),
        )
    )


@register(
    "j2_join_null_residual",
    oracle="""
    WITH dim_part AS (
        SELECT p_partkey, p_type, DATE '2000-01-01' AS end_date FROM part
        UNION ALL
        SELECT p_partkey, p_type, NULL AS end_date FROM part WHERE p_size > 25
    )
    SELECT l.l_orderkey, l.l_linenumber, d.p_type AS item_type
    FROM lineitem l
    JOIN dim_part d ON d.p_partkey = l.l_partkey AND d.end_date IS NULL
    """,
    doc="""J2/P4 equi join with IS NULL residual — the SCD "current row"
    pick (order-...sql:205-207). Residual pushed to the broadcast side.""",
    tags=("J2", "P4"),
)
def j2_join_null_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    dim_part = part.select("p_partkey", "p_type").withColumn(
        "end_date", F.lit("2000-01-01").cast("date")
    ).unionByName(
        part.filter(F.col("p_size") > 25)
        .select("p_partkey", "p_type")
        .withColumn("end_date", F.lit(None).cast("date"))
    )
    return (
        lineitem.alias("l")
        .join(
            F.broadcast(dim_part).alias("d"),
            (F.col("d.p_partkey") == F.col("l.l_partkey")) & F.col("d.end_date").isNull(),
        )
        .select(
            F.col("l.l_orderkey").alias("l_orderkey"),
            F.col("l.l_linenumber").alias("l_linenumber"),
            F.col("d.p_type").alias("item_type"),
        )
    )


@register(
    "j4_composite_key_join",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, l.l_quantity, r.l_extendedprice AS matched_price
    FROM lineitem l
    JOIN (SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
          WHERE l_returnflag = 'R') r
      ON r.l_orderkey = l.l_orderkey AND r.l_linenumber = l.l_linenumber
    """,
    doc="J4 composite-key equi join (order-...sql:111-116 merge key).",
    tags=("J4",),
)
def j4_composite_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load(spark, sf_dir, "lineitem")
    r = (
        lineitem.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .alias("r")
    )
    l = lineitem.alias("l")
    return l.join(
        r,
        (F.col("r.l_orderkey") == F.col("l.l_orderkey"))
        & (F.col("r.l_linenumber") == F.col("l.l_linenumber")),
    ).select(
        F.col("l.l_orderkey").alias("l_orderkey"),
        F.col("l.l_linenumber").alias("l_linenumber"),
        F.col("l.l_quantity").alias("l_quantity"),
        F.col("r.l_extendedprice").alias("matched_price"),
    )


@register(
    "j5_left_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    doc="J5 anti join (customers with no orders) — NOT EXISTS rewrite; "
    "the 'kept' side of the engine's MERGE state equation.",
    tags=("J5", "M1"),
)
def j5_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "j6_salted_skew_join",
    oracle=f"""
    SELECT p.p_brand AS brand,
           COUNT(1) AS n_items,
           CAST(SUM({_SQL_QTY}) AS DOUBLE) AS total_qty
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY p.p_brand
    """,
    doc="""Salted skew join (operators/skew.salted_join): probe side
    sprayed across 8 salt buckets, build side replicated in-row — the
    explicit hot-key defense when AQE skew splitting isn't enough (100
    TB posture). The salt never escapes: the oracle is the PLAIN join,
    proving identical semantics.""",
    tags=("J1", "skew", "scale"),
)
def j6_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_join

    probe = load(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("partkey"), F.col("l_quantity")
    )
    build = load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("partkey"), F.col("p_brand")
    )
    return (
        salted_join(probe, build, keys=["partkey"], salt=8)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(_qty()).cast("double").alias("total_qty"),
        )
    )


# ---------------------------------------------------------------------------
# §2.4 aggregation
# ---------------------------------------------------------------------------


@register(
    "a1_groupby_agg",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM({_SQL_QTY}) AS DOUBLE)   AS sum_qty,
           CAST(SUM({_SQL_PRICE}) AS DOUBLE) AS sum_base_price,
           CAST(SUM({_SQL_PRICE} * (1 - {_SQL_DISC})) AS DOUBLE) AS sum_disc_price,
           CAST(SUM({_SQL_QTY}) AS DOUBLE) / COUNT(1)            AS avg_qty,
           COUNT(1)                          AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="""A1/A2/A3 hash aggregate (order-...sql:208-211): multi-key GROUP
    BY, COUNT(1), SUMs with cast-to-number semantics, and an average via
    exact-decimal sum / count (deterministic double division). Map-side
    partial aggregation comes free from Spark's physical planning.""",
    tags=("A1", "A2", "A3"),
)
def a1_groupby_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    one = F.lit(1).cast("decimal(1,0)")
    return (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_qty()).cast("double").alias("sum_qty"),
            F.sum(_price()).cast("double").alias("sum_base_price"),
            F.sum(_price() * (one - _disc())).cast("double").alias("sum_disc_price"),
            (F.sum(_qty()).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "a4_count_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_suppkey) AS n_suppliers,
           COUNT(DISTINCT l_partkey) AS n_parts
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Distinct aggregate (engine extension beyond the reference; "
    "expand-based distinct agg, exact).",
    tags=("A4",),
)
def a4_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.countDistinct("l_partkey").alias("n_parts"),
        )
    )


# ---------------------------------------------------------------------------
# §2.5 window + §2.6 sort
# ---------------------------------------------------------------------------


@register(
    "w1_dedup_latest_per_key",
    oracle="""
    SELECT user_id, ts AS latest_ts, event_type, value
    FROM (
        SELECT user_id, ts, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rownum
        FROM events
    ) WHERE rownum = 1
    """,
    doc="""W1 + P3: latest-record-wins dedup via ROW_NUMBER
    (item-...sql:72-75) — the engine's ``operators.merge.dedup_latest``.
    event_id breaks ts ties deterministically.""",
    tags=("W1", "P3"),
)
def w1_dedup_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    deduped = M.dedup_latest(
        events, ["user_id"], [F.col("ts").desc(), F.col("event_id").desc()]
    )
    return deduped.select("user_id", F.col("ts").alias("latest_ts"), "event_type", "value")


@register(
    "o2_sort_topk",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100
    """,
    doc="""O2 ORDER BY DESC (customer-...sql:201) + top-k. Spark executes
    TakeOrderedAndProject (per-partition heap + driver merge), no global
    sort. Deterministic tiebreak on o_orderkey.""",
    tags=("O2",),
)
def o2_sort_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


# ---------------------------------------------------------------------------
# §2.8 DML as state equations (M1/M2/M6) + §2.9 casts (F4)
# ---------------------------------------------------------------------------


@register(
    "m1_merge_upsert_state",
    oracle="""
    WITH target AS (
        SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer
        WHERE c_custkey % 2 = 0
    ),
    source AS (
        SELECT c_custkey, c_name, 'UPDATED' AS c_mktsegment, c_acctbal + 100 AS c_acctbal
        FROM customer WHERE c_custkey % 3 = 0
    )
    SELECT * FROM target WHERE c_custkey NOT IN (SELECT c_custkey FROM source)
    UNION ALL
    SELECT * FROM source
    """,
    doc="""M1/J3 MERGE upsert post-state (customer-...sql:77-114): matched
    rows take source values, unmatched inserts appended, untouched target
    rows kept. Runs the engine's ``operators.merge.merge_upsert``; the
    oracle is the anti-join ∪ source state equation.""",
    tags=("M1", "J3"),
)
def m1_merge_upsert_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
    )
    target = customer.filter(F.col("c_custkey") % 2 == 0)
    source = customer.filter(F.col("c_custkey") % 3 == 0).withColumn(
        "c_mktsegment", F.lit("UPDATED")
    ).withColumn("c_acctbal", F.col("c_acctbal") + 100)
    return M.merge_upsert(target, source, keys=["c_custkey"])


@register(
    "m2_merge_dedup_composite",
    oracle="""
    WITH target AS (
        -- merge targets are key-unique by construction (raw/dim tables);
        -- aggregate to one row per composite key
        SELECT l_orderkey, l_linenumber,
               CAST(MAX(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS l_quantity,
               MIN(l_returnflag) AS l_returnflag
        FROM lineitem WHERE l_linenumber <= 4
        GROUP BY 1, 2
    ),
    base AS (
        SELECT l_orderkey, l_linenumber,
               CAST(MAX(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS l_quantity
        FROM lineitem WHERE l_orderkey % 5 = 0 GROUP BY 1, 2
    ),
    changes AS (
        SELECT l_orderkey, l_linenumber, l_quantity + 1 AS l_quantity,
               'U1' AS l_returnflag, 1 AS version FROM base
        UNION ALL
        SELECT l_orderkey, l_linenumber, l_quantity + 2 AS l_quantity,
               'U2' AS l_returnflag, 2 AS version FROM base
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY l_orderkey, l_linenumber
                                     ORDER BY version DESC) AS rn
        FROM changes
    ),
    source AS (
        SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        FROM ranked WHERE rn = 1
    )
    SELECT t.* FROM target t
    WHERE NOT EXISTS (SELECT 1 FROM source s
                      WHERE s.l_orderkey = t.l_orderkey
                        AND s.l_linenumber = t.l_linenumber)
    UNION ALL
    SELECT * FROM source
    """,
    doc="""M1 composite-key variant (order-...sql:111-168) with the W1
    latest-wins dedup inlined (item-...sql:72-75): the change batch
    carries two versions per (orderkey, linenumber); only the latest
    (version 2) wins the update branch.""",
    tags=("M1", "J4", "W1"),
)
def m2_merge_dedup_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load(spark, sf_dir, "lineitem")
    target = (
        lineitem.filter(F.col("l_linenumber") <= 4)
        .groupBy("l_orderkey", "l_linenumber")
        .agg(
            F.max(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("l_quantity"),
            F.min("l_returnflag").alias("l_returnflag"),
        )
    )
    base = (
        lineitem.filter(F.col("l_orderkey") % 5 == 0)
        .groupBy("l_orderkey", "l_linenumber")
        .agg(F.max(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("l_quantity"))
    )
    changes = base.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_quantity") + 1).alias("l_quantity"),
        F.lit("U1").alias("l_returnflag"),
        F.lit(1).alias("version"),
    ).unionByName(
        base.select(
            "l_orderkey",
            "l_linenumber",
            (F.col("l_quantity") + 2).alias("l_quantity"),
            F.lit("U2").alias("l_returnflag"),
            F.lit(2).alias("version"),
        )
    )
    merged = M.merge_upsert(
        target,
        changes,
        keys=["l_orderkey", "l_linenumber"],
        dedup_order=[F.col("version").desc()],
        update_cols=["l_quantity", "l_returnflag"],
    )
    return merged.select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")


@register(
    "m5_cdc_apply_changes",
    oracle="""
    WITH target AS (
        SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey % 2 = 0
    ),
    changes AS (
        SELECT c_custkey, c_name, c_acctbal + 50 AS c_acctbal,
               'UPDATE' AS _action, 1 AS _version
        FROM customer WHERE c_custkey % 3 = 0
        UNION ALL
        SELECT c_custkey, c_name, c_acctbal,
               'DELETE' AS _action, 2 AS _version
        FROM customer WHERE c_custkey % 6 = 0
    ),
    latest AS (
        SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY c_custkey
                                         ORDER BY _version DESC) AS rn
            FROM changes
        ) WHERE rn = 1
    )
    SELECT t.c_custkey, t.c_name, t.c_acctbal FROM target t
    WHERE t.c_custkey NOT IN (SELECT c_custkey FROM latest)
    UNION ALL
    SELECT c_custkey, c_name, c_acctbal FROM latest WHERE _action != 'DELETE'
    """,
    doc="""Full CDC apply (engine extension past the reference's
    deletes-as-updates, customer-...sql:81): per key the LATEST change
    wins — DELETE removes the row, others upsert. Keys divisible by 6
    get an UPDATE at v1 then a DELETE at v2: they must vanish; keys
    divisible by 3 (not 6) take the update.""",
    tags=("M1", "T2", "cdc"),
)
def m5_cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    target = customer.filter(F.col("c_custkey") % 2 == 0)
    changes = customer.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey",
        "c_name",
        (F.col("c_acctbal") + 50).alias("c_acctbal"),
        F.lit("UPDATE").alias("_action"),
        F.lit(1).alias("_version"),
    ).unionByName(
        customer.filter(F.col("c_custkey") % 6 == 0).select(
            "c_custkey",
            "c_name",
            "c_acctbal",
            F.lit("DELETE").alias("_action"),
            F.lit(2).alias("_version"),
        )
    )
    return M.apply_changes(target, changes, keys=["c_custkey"])


@register(
    "m6_update_where",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_acctbal > 9000 THEN 'PREMIUM' ELSE c_mktsegment END AS c_mktsegment,
           c_acctbal
    FROM customer
    """,
    doc="""M6 UPDATE ... SET ... WHERE (order-...sql:377-387) rewritten as
    read -> conditional projection -> overwrite (no row-level update on
    plain Parquet). The query returns the post-update state.""",
    tags=("M6", "P7"),
)
def m6_update_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dml import update_where

    customer = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    return update_where(
        customer,
        predicate=F.col("c_acctbal") > 9000,
        assignments={"c_mktsegment": F.lit("PREMIUM")},
    ).select("c_custkey", "c_mktsegment", "c_acctbal")


@register(
    "f4_strict_casts",
    oracle="""
    SELECT o_orderkey,
           CAST(CAST(o_orderkey AS VARCHAR) AS BIGINT) AS key_roundtrip,
           CAST(CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS DATE) AS date_roundtrip,
           CAST(o_orderdate AS DATE) AS order_date
    FROM orders
    """,
    doc="""F4 strict implicit varchar->typed casts (customer-...sql:133-137
    land varchar raw columns in typed dims). ANSI mode stays on so bad
    casts raise, matching Snowflake. Round-trips are exact for integers
    and ISO dates in both engines.""",
    tags=("F4",),
)
def f4_strict_casts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.col("o_orderkey").cast("string").cast("bigint").alias("key_roundtrip"),
        F.col("o_orderdate").cast("date").cast("string").cast("date").alias("date_roundtrip"),
        F.col("o_orderdate").cast("date").alias("order_date"),
    )


@register(
    "f5_string_extract",
    oracle="""
    SELECT event_id,
           CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT) AS k_value
    FROM events
    """,
    doc="Scalar string function + strict cast on the events props payload "
    "(engine extension; the reference's function surface is §2.9 F1-F4).",
    tags=("F4",),
)
def f5_string_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "events").select(
        "event_id",
        F.regexp_extract(F.col("props"), r"([0-9]+)", 1).cast("bigint").alias("k_value"),
    )


@register(
    "x1_asof_join",
    oracle="""
    WITH l AS (
        SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'purchase'
    ),
    r0 AS (
        SELECT user_id, ts, event_id AS click_id, value AS click_value,
               ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'click'
    ),
    r AS (SELECT user_id, ts, click_id, click_value FROM r0 WHERE rn = 1)
    SELECT l.user_id, l.event_id, l.ts, l.value, r.click_id, r.click_value
    FROM l ASOF JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
    doc="""As-of join (engine extension): each purchase matched to the
    user's most recent click at-or-before it (inner: purchases with no
    prior click drop). Spark side is the union+window formulation (one
    shuffle+sort, no range explosion); the oracle is DuckDB's NATIVE
    ASOF JOIN — two independent as-of implementations must agree
    exactly. Right side deduped to one row per (user_id, ts) — the
    determinism contract both share.""",
    tags=("asof", "scale"),
)
def x1_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join

    events = load(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    clicks = M.dedup_latest(
        events.filter(F.col("event_type") == "click").select(
            "user_id",
            "ts",
            F.col("event_id").alias("click_id"),
            F.col("value").alias("click_value"),
        ),
        ["user_id", "ts"],
        [F.col("click_id").desc()],
    )
    return asof_join(
        purchases, clicks, on=["user_id"], ts_col="ts",
        payload_cols=["click_id", "click_value"], how="inner",
    )


_SQL15_SNOWFLAKE_TEXT = """
SELECT p.user_id, p.event_id, p.ts, p.value,
       c.ts AS click_ts, c.click_id, c.click_value
FROM purchases p ASOF JOIN clicks c
MATCH_CONDITION (p.ts >= c.ts)
ON p.user_id = c.user_id
"""


@register(
    "sql15_asof_dialect",
    oracle="""
    WITH l AS (
        SELECT user_id, event_id, ts, value FROM events
        WHERE event_type = 'purchase'
    ),
    r0 AS (
        SELECT user_id, ts, event_id AS click_id, value AS click_value,
               ROW_NUMBER() OVER (PARTITION BY user_id, ts
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'click'
    ),
    r AS (SELECT user_id, ts, click_id, click_value FROM r0 WHERE rn = 1)
    SELECT l.user_id, l.event_id, l.ts, l.value,
           r.ts AS click_ts, r.click_id, r.click_value
    FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
    doc="""Snowflake ``ASOF JOIN ... MATCH_CONDITION`` accepted
    VERBATIM (the modern Snowflake surface for x1's operator): the
    statement is parsed conservatively (two bare table refs, alias.col
    select items, >=/<= match condition, equi-key ON chain) and
    executed through the engine's union+window as-of machinery — one
    shuffle per key, zero range explosion, never a range join
    (functions/sqldialect.py:asof_dialect). ``>=`` = backward, ``<=``
    = forward; strict ops refuse. Unmatched left rows keep NULL right
    columns (Snowflake's contract — exercised here: purchases with no
    prior click survive, unlike x1's inner form). Oracle: DuckDB's
    NATIVE ``ASOF LEFT JOIN`` — two independent as-of implementations
    plus a third formulation (the dialect path) must agree exactly.""",
    tags=("sql-surface", "dialect", "asof"),
)
def sql15_asof_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import asof_dialect

    events = load(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    clicks = M.dedup_latest(
        events.filter(F.col("event_type") == "click").select(
            "user_id",
            "ts",
            F.col("event_id").alias("click_id"),
            F.col("value").alias("click_value"),
        ),
        ["user_id", "ts"],
        [F.col("click_id").desc()],
    )
    return asof_dialect(
        _SQL15_SNOWFLAKE_TEXT, {"purchases": purchases, "clicks": clicks}
    )


_SQL39_SNOWFLAKE_TEXT = """
SELECT p.user_id, p.event_id, p.ts, p.value,
       c.ts AS click_ts, c.click_id, c.click_value
FROM purchases p ASOF JOIN clicks c
MATCH_CONDITION (p.ts > c.ts)
ON p.user_id = c.user_id
"""


@register(
    "sql39_asof_strict",
    oracle="""
    WITH l AS (
        SELECT user_id, event_id, ts, value FROM events
        WHERE event_type = 'purchase'
    ),
    r0 AS (
        SELECT user_id, ts, event_id AS click_id, value AS click_value,
               ROW_NUMBER() OVER (PARTITION BY user_id, ts
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'click'
    ),
    r AS (SELECT user_id, ts, click_id, click_value FROM r0 WHERE rn = 1)
    SELECT l.user_id, l.event_id, l.ts, l.value,
           r.ts AS click_ts, r.click_id, r.click_value
    FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts > r.ts
    """,
    doc="""STRICT ``ASOF JOIN MATCH_CONDITION (l.ts > r.ts)`` accepted
    verbatim (r8, VERDICT r7 item #8 — the last ASOF refusal converted
    to a feature): a purchase must match the most recent click
    STRICTLY BEFORE it — a click at the purchase's own timestamp no
    longer matches (the 'no same-instant attribution' rule real
    attribution pipelines want). No new plan machinery: inclusivity
    lives entirely in the union+window formulation's side-marker
    tie-break at equal ts, so strict just swaps that ORDER
    (operators/asof.py:asof_join_directional(strict=True);
    functions/sqldialect.py:asof_dialect). Same scale shape as
    sql15/x1: one shuffle per key, zero range explosion. Oracle:
    DuckDB's NATIVE ``ASOF LEFT JOIN ... ON l.ts > r.ts`` — its
    strict operator against ours, two independent implementations
    agreeing on the equal-ts exclusions exactly.""",
    tags=("sql-surface", "dialect", "asof"),
)
def sql39_asof_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import asof_dialect

    events = load(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    clicks = M.dedup_latest(
        events.filter(F.col("event_type") == "click").select(
            "user_id",
            "ts",
            F.col("event_id").alias("click_id"),
            F.col("value").alias("click_value"),
        ),
        ["user_id", "ts"],
        [F.col("click_id").desc()],
    )
    return asof_dialect(
        _SQL39_SNOWFLAKE_TEXT, {"purchases": purchases, "clicks": clicks}
    )


# ---------------------------------------------------------------------------
# events: time-window analytics (engine extension; streaming-shaped)
# ---------------------------------------------------------------------------


@register(
    "e1_tumbling_window_agg",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(1) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
    doc="""Tumbling 1-hour window aggregate over the events stream table —
    the batch shape of the Structured Streaming windowed agg the engine
    runs in streaming mode (streaming.pipe). date_trunc keeps it
    SQL-expressible for the oracle.""",
    tags=("T3", "streaming"),
)
def e1_tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
    )


@register(
    "e2_sessionize",
    oracle="""
    WITH flagged AS (
        SELECT user_id, event_id, ts,
               CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                         OR LAG(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id,
           -- BIGINT: DuckDB SUM over ints yields HUGEINT, which lands in
           -- pandas as float64 and breaks the driver's value hash
           CAST(SUM(new_session) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_id
    FROM flagged
    """,
    doc="""Gap-based sessionization (30-min inactivity) via LAG + running
    SUM — the batch equivalent of a session window; the streaming engine
    expresses the same with applyInPandasWithState. Deterministic
    (event_id tiebreak).""",
    tags=("W1", "streaming"),
)
def e2_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # interval arithmetic, not a double cast: exact at microsecond
    # precision and legal on TIMESTAMP_NTZ (the driver's parquet type),
    # and it mirrors the oracle's `ts - LAG(ts) > INTERVAL 30 MINUTE`
    prev = F.lag(F.col("ts")).over(w)
    flagged = load(spark, sf_dir, "events").withColumn(
        "new_session",
        F.when(
            (F.col("ts") > prev + F.expr("INTERVAL 30 MINUTES")) | prev.isNull(),
            1,
        ).otherwise(0),
    )
    return flagged.select(
        "user_id",
        "event_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("session_id"),
    )


@register(
    "e3_sessionize_stateful_stream",
    oracle="""
    WITH flagged AS (
        SELECT user_id, event_id, ts,
               CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                         OR LAG(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id,
           -- BIGINT: DuckDB SUM over ints yields HUGEINT, which lands in
           -- pandas as float64 and breaks the driver's value hash
           CAST(SUM(new_session) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_id
    FROM flagged
    """,
    doc="""Custom stateful STREAMING operator run for real: Structured
    Streaming ``applyInPandasWithState`` gap sessionization
    (streaming/stateful.py) over the events table via a file-source
    ``availableNow`` query — per-user (last_ts, sessions) state in the
    state store, Arrow-batched Pandas, parquet sink. The oracle is the
    batch LAG + running-sum sessionization: streaming/batch parity is
    the correctness claim (state continuity across query restarts is
    covered by test_streaming_stateful.py).""",
    tags=("streaming", "stateful", "pandas-udf"),
)
def e3_sessionize_stateful_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stateful import OUTPUT_SCHEMA, sessionize_stream

    base = scratch_dir("e3_sessionize_")
    in_dir, out_dir, ckpt = f"{base}/in", f"{base}/out", f"{base}/ckpt"
    # prep: normalize the (nanos-typed) events table into a stream input
    load(spark, sf_dir, "events").select("user_id", "event_id", "ts").write.mode(
        "overwrite"
    ).parquet(in_dir)
    stream = (
        spark.readStream.schema("user_id bigint, event_id bigint, ts timestamp")
        .parquet(in_dir)
    )
    # a bare session defaults to 200 shuffle partitions -> 200 state
    # store instances for one small availableNow drain; scope a sane
    # value to this streaming query and restore afterwards
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        q = (
            sessionize_stream(stream, gap_seconds=1800.0)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.read.schema(OUTPUT_SCHEMA).parquet(out_dir)


@register(
    "e6_stream_dedup_watermark",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
    doc="""Watermark-bounded STREAMING dedup run for real:
    ``dropDuplicatesWithinWatermark`` (streaming/stateful.py:
    dedup_within_watermark_stream) over the events table via a
    file-source ``availableNow`` query — the scale-correct streaming
    dedup whose state store evicts keys older than the delay instead of
    growing unboundedly. The surface projects the KEY columns only
    (which duplicate survives is arrival-order-dependent; the key set
    is not), so the oracle is exact: one row per distinct key.""",
    tags=("streaming", "T1", "dedup"),
)
def e6_stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stateful import dedup_within_watermark_stream

    base = scratch_dir("e6_dedup_")
    in_dir, out_dir, ckpt = f"{base}/in", f"{base}/out", f"{base}/ckpt"
    load(spark, sf_dir, "events").select("user_id", "event_type", "ts").write.mode(
        "overwrite"
    ).parquet(in_dir)
    stream = (
        spark.readStream.schema("user_id bigint, event_type string, ts timestamp")
        .parquet(in_dir)
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        q = (
            dedup_within_watermark_stream(
                stream, ["user_id", "event_type"], ts_col="ts", delay="30 minutes"
            )
            .select("user_id", "event_type")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.read.schema("user_id bigint, event_type string").parquet(out_dir)


@register(
    "a5_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(1) AS n,
           CAST(SUM({_SQL_QTY}) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="""ROLLUP hierarchy aggregate (engine extension past the
    reference's plain GROUP BY): subtotals per flag and the grand total
    in one pass — Spark's expand-based rollup, exact decimal sums.""",
    tags=("A1", "rollup"),
)
def a5_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_qty()).cast("double").alias("sum_qty"),
        )
    )


@register(
    "x3_time_spine_rollup",
    oracle="""
    WITH bounds AS (
        SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
        FROM events
    ),
    spine AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM bounds
    ),
    hourly AS (
        SELECT date_trunc('hour', ts) AS hour,
               COUNT(1) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM events GROUP BY 1
    )
    SELECT s.hour, COALESCE(h.n_events, 0) AS n_events,
           COALESCE(h.total_value, 0.0) AS total_value
    FROM spine s LEFT JOIN hourly h ON h.hour = s.hour
    """,
    doc="""Gap-filled hourly rollup (hypertable-style): an hour spine
    built with sequence() spans min..max event time, left-joined to the
    hourly aggregate so EMPTY hours appear as zero rows — the resample
    shape time-series stores provide natively. The spine is built from
    a 1-row aggregate (no driver-side loop) and explodes distributed.""",
    tags=("timeseries", "rollup"),
)
def x3_time_spine_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    bounds = events.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour")
    )
    hourly = events.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
    )
    return spine.join(hourly, "hour", "left").select(
        "hour",
        F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
        F.coalesce(F.col("total_value"), F.lit(0.0)).alias("total_value"),
    )


@register(
    "m7_incremental_fact_merge",
    oracle=f"""
    SELECT l_returnflag,
           CAST(l_shipdate AS DATE) AS ship_date,
           COUNT(1) AS order_count,
           CAST(SUM({_SQL_QTY}) AS DOUBLE) AS sum_qty,
           CAST(SUM({_SQL_PRICE}) AS DOUBLE) AS sum_price
    FROM lineitem
    GROUP BY 1, 2
    """,
    doc="""Incremental fact maintenance (the scale answer to the
    reference's full INSERT OVERWRITE rebuild, order-...sql:179): the
    prior fact (aggregate of the "history" slice) is folded with the
    delta's partial aggregate — (fact ∪ agg(delta)) GROUP BY SUM — and
    the oracle is the FULL aggregate over everything: partial-aggregate
    merge must be bit-identical to the rebuild. O(delta) per cycle
    instead of O(history); pair with a partition replace of the touched
    months (``ManagedTable.overwrite_partitions``).""",
    tags=("M3", "A1", "scale", "incremental"),
)
def m7_incremental_fact_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dml import incremental_agg_merge

    lineitem = load(spark, sf_dir, "lineitem")
    cutoff = F.lit("1995-01-01").cast("timestamp")

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy(
            "l_returnflag", F.col("l_shipdate").cast("date").alias("ship_date")
        ).agg(
            F.count(F.lit(1)).alias("order_count"),
            F.sum(_qty()).alias("sum_qty"),
            F.sum(_price()).alias("sum_price"),
        )

    fact = agg(lineitem.filter(F.col("l_shipdate") < cutoff))     # prior state
    delta = agg(lineitem.filter(F.col("l_shipdate") >= cutoff))   # this cycle
    merged = incremental_agg_merge(
        fact, delta,
        keys=["l_returnflag", "ship_date"],
        sum_cols=["sum_qty", "sum_price"],
        count_col="order_count",
    )
    return merged.select(
        "l_returnflag", "ship_date", "order_count",
        F.col("sum_qty").cast("double").alias("sum_qty"),
        F.col("sum_price").cast("double").alias("sum_price"),
    )


@register(
    "x4_snapshot_as_of",
    oracle="""
    WITH changes AS (
        SELECT c_custkey, c_name, c_acctbal + 10 AS c_acctbal,
               'UPSERT' AS _action, 1 AS _version FROM customer
        UNION ALL
        SELECT c_custkey, c_name, c_acctbal + 20 AS c_acctbal,
               'UPSERT' AS _action, 2 AS _version
        FROM customer WHERE c_custkey % 2 = 0
        UNION ALL
        SELECT c_custkey, c_name, c_acctbal,
               'DELETE' AS _action, 3 AS _version
        FROM customer WHERE c_custkey % 5 = 0
    ),
    snap AS (
        SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY c_custkey
                                         ORDER BY _version DESC) AS rn
            FROM changes WHERE _version <= 2
        ) WHERE rn = 1
    )
    SELECT c_custkey, c_name, c_acctbal FROM snap WHERE _action != 'DELETE'
    """,
    doc="""Snapshot-as-of read (Snowflake time-travel analog) over the
    engine changelog shape: reconstruct table state at version 2 —
    v1 full load, v2 updates to even keys applied, v3 deletes NOT yet
    visible. Latest-change-per-key <= version, minus deletes; the same
    replay the changelog recovery path uses.""",
    tags=("T1", "T2", "time-travel"),
)
def x4_snapshot_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.changelog import snapshot_as_of

    customer = load(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")

    def ver(df: DataFrame, bump: int, action: str, version: int) -> DataFrame:
        return df.select(
            "c_custkey",
            "c_name",
            (F.col("c_acctbal") + bump).alias("c_acctbal"),
            F.lit(action).alias("_action"),
            F.lit(version).alias("_version"),
        )

    changes = (
        ver(customer, 10, "UPSERT", 1)
        .unionByName(ver(customer.filter(F.col("c_custkey") % 2 == 0), 20, "UPSERT", 2))
        .unionByName(ver(customer.filter(F.col("c_custkey") % 5 == 0), 0, "DELETE", 3))
    )
    return snapshot_as_of(changes, keys=["c_custkey"], version=2)


# ---------------------------------------------------------------------------
# function/API battery beyond the reference's minimal surface — the
# engine inherits Spark's built-ins; these pin their semantics against
# the oracle so "a user could run every query they run today" extends
# to the standard analytic toolkit.
# ---------------------------------------------------------------------------


@register(
    "w2_window_frames",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS running_spend,
           LAG(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
               AS prev_price,
           LEAD(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
               AS next_price,
           RANK() OVER (
               PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
               AS spend_rank
    FROM orders
    """,
    doc="""Analytic-window battery beyond W1's row_number: an explicit
    ROWS frame (running sum — in exact DECIMAL so accumulation order
    can't produce float drift), LAG/LEAD offsets, and RANK under a
    different ordering in the same plan. Deterministic because every
    window orders by a unique (date, key) pair. Verified plan: ONE
    Exchange on o_custkey; the three same-ordered windows collapse
    into one Sort+Window, and the rank ordering adds a second Sort but
    no second shuffle.""",
    tags=("window", "frames"),
)
def w2_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    by_time = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    frame = by_time.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    by_spend = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(frame)
        .cast("double")
        .alias("running_spend"),
        F.lag("o_totalprice").over(by_time).alias("prev_price"),
        F.lead("o_totalprice").over(by_time).alias("next_price"),
        F.rank().over(by_spend).alias("spend_rank"),
    )


@register(
    "s1_set_ops",
    oracle="""
    WITH y95 AS (SELECT DISTINCT o_custkey FROM orders
                 WHERE year(o_orderdate) = 1995),
         y96 AS (SELECT DISTINCT o_custkey FROM orders
                 WHERE year(o_orderdate) = 1996)
    SELECT 'both' AS set_op, o_custkey FROM (FROM y95 INTERSECT FROM y96)
    UNION ALL
    SELECT 'only_1995', o_custkey FROM (FROM y95 EXCEPT FROM y96)
    UNION ALL
    SELECT 'only_1996', o_custkey FROM (FROM y96 EXCEPT FROM y95)
    """,
    doc="""Set operations (absent from the reference, §2.7): INTERSECT /
    EXCEPT / UNION ALL over per-year active-customer sets, tagged by
    branch. Spark plans INTERSECT/EXCEPT as left-semi/anti aggregates —
    no full materialization of either side.""",
    tags=("setops",),
)
def s1_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")

    def active(year: int) -> DataFrame:
        return (
            orders.filter(F.year("o_orderdate") == year)
            .select("o_custkey")
            .distinct()
        )

    y95, y96 = active(1995), active(1996)
    tag = lambda df, t: df.select(F.lit(t).alias("set_op"), "o_custkey")  # noqa: E731
    return (
        tag(y95.intersect(y96), "both")
        .unionByName(tag(y95.exceptAll(y96), "only_1995"))
        .unionByName(tag(y96.exceptAll(y95), "only_1996"))
    )


@register(
    "a6_percentile_groups",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS q25,
           quantile_cont(l_quantity, 0.50) AS q50,
           quantile_cont(l_quantity, 0.75) AS q75,
           min(l_quantity) AS q_min, max(l_quantity) AS q_max
    FROM lineitem GROUP BY 1
    """,
    doc="""Exact linear-interpolation percentiles per group (Spark
    ``percentile``; DuckDB ``quantile_cont``) — the exact primitive.
    The 100 TB path swaps in ``approx_percentile`` (t-digest, one pass,
    mergeable sketches) where a bounded rank error is acceptable;
    sketch internals differ per engine, so only the exact form is
    oracle-comparable.""",
    tags=("aggregate", "percentile"),
)
def a6_percentile_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load(spark, sf_dir, "lineitem")
    return lineitem.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", 0.25).alias("q25"),
        F.percentile("l_quantity", 0.50).alias("q50"),
        F.percentile("l_quantity", 0.75).alias("q75"),
        F.min("l_quantity").alias("q_min"),
        F.max("l_quantity").alias("q_max"),
    )


@register(
    "p8_pivot",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                FILTER (l_linestatus = 'F') AS DOUBLE) AS qty_f,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                FILTER (l_linestatus = 'O') AS DOUBLE) AS qty_o,
           CAST(COUNT(1) FILTER (l_linestatus = 'F') AS BIGINT) AS n_f,
           CAST(COUNT(1) FILTER (l_linestatus = 'O') AS BIGINT) AS n_o
    FROM lineitem GROUP BY 1
    """,
    doc="""Pivot (wide aggregation): status categories to columns with
    an EXPLICIT value list — at scale, never the infer-values form,
    which runs an extra distinct job over the whole input and risks
    unbounded width. Spark plans pivot as a two-phase aggregate
    (group by (flag, status), then pivot the tiny grouped set) — the
    second shuffle carries only #groups x #values rows, so map-side
    partial aggregation still does all the heavy lifting.""",
    tags=("pivot", "aggregate"),
)
def p8_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    piv = (
        lineitem.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.sum(qty).alias("qty"), F.count(F.lit(1)).alias("n"))
    )
    return piv.select(
        "l_returnflag",
        F.col("F_qty").cast("double").alias("qty_f"),
        F.col("O_qty").cast("double").alias("qty_o"),
        F.col("F_n").alias("n_f"),
        F.col("O_n").alias("n_o"),
    )


@register(
    "p11_dynamic_pivot",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) FILTER (o_orderpriority = '1-URGENT') AS BIGINT)
               AS prio_1_urgent,
           CAST(count(*) FILTER (o_orderpriority = '2-HIGH') AS BIGINT)
               AS prio_2_high,
           CAST(count(*) FILTER (o_orderpriority = '3-MEDIUM') AS BIGINT)
               AS prio_3_medium,
           CAST(count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS BIGINT)
               AS prio_4_not_specified,
           CAST(count(*) FILTER (o_orderpriority = '5-LOW') AS BIGINT)
               AS prio_5_low
    FROM orders GROUP BY 1
    """,
    doc="""DYNAMIC pivot — Snowflake's ``PIVOT (... FOR col IN (ANY
    ORDER BY col))``: the value list is INFERRED from the data (p8 is
    the explicit-list form and its doc explains why that is the scale
    default). Where dynamic pivot IS legitimate at 100 TB: the
    category column is provably low-cardinality, so the inference is
    one tiny distinct aggregate, and the real risk — unbounded output
    width — is guarded in-query (raises if the inferred set exceeds
    16; Spark's own spark.sql.pivotMaxValues is the engine-level
    backstop). Inferred columns are renamed by a deterministic
    sanitizer (value -> prio_<slug>, sorted) so schemas are stable
    for the comparison; absent (status, priority) combinations
    surface as 0 on both engines. The oracle states the inferred
    values statically — a corpus change breaks it loudly, which is
    the right failure mode for a pinned dynamic schema.""",
    tags=("pivot", "aggregate", "dynamic"),
)
def p11_dynamic_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    import re as _re

    orders = load(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority")
    # Width guard runs on a pre-counted distinct BEFORE the wide plan is
    # built (VERDICT r6): a pathological category column fails on this
    # one tiny aggregate, never after Spark has inferred and planned
    # thousands of pivot columns.
    width = orders.select("o_orderpriority").distinct().limit(17).count()
    if width > 16:
        raise RuntimeError(
            f"dynamic pivot width >{width - 1} exceeds the sanity bound; "
            "use the explicit-list form (p8) for high-cardinality categories"
        )
    piv = (
        orders.groupBy("o_orderstatus")
        .pivot("o_orderpriority")  # NO value list: the dynamic form
        .agg(F.count(F.lit(1)))
    )
    vals = [c for c in piv.columns if c != "o_orderstatus"]
    slug = lambda v: "prio_" + _re.sub(r"[^a-z0-9]+", "_", v.lower()).strip("_")
    return piv.select(
        "o_orderstatus",
        *[
            F.coalesce(F.col(f"`{v}`"), F.lit(0)).cast("long").alias(slug(v))
            for v in sorted(vals)
        ],
    )


@register(
    "f6_date_math",
    oracle="""
    SELECT o_orderkey,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
           last_day(CAST(o_orderdate AS DATE))            AS month_end,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE)
               AS plus_quarter,
           date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01')
               AS days_to_cutoff,
           year(o_orderdate)    AS order_year,
           quarter(o_orderdate) AS order_quarter
    FROM orders
    """,
    doc="""Date/time function battery: truncation, month boundaries,
    interval arithmetic, day differences, calendar parts — all
    JVM-side built-ins inside one whole-stage-codegen projection (no
    shuffle).""",
    tags=("functions", "datetime"),
)
def f6_date_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    od = F.col("o_orderdate").cast("date")
    return orders.select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").cast("date").alias("order_month"),
        F.last_day(od).alias("month_end"),
        F.add_months(od, 3).alias("plus_quarter"),
        F.datediff(F.lit("2002-01-01").cast("date"), od).alias("days_to_cutoff"),
        F.year("o_orderdate").alias("order_year"),
        F.quarter("o_orderdate").alias("order_quarter"),
    )


@register(
    "m8_scd2_merge",
    oracle="""
    WITH target AS (
        SELECT c_custkey, c_name, c_acctbal,
               DATE '2020-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to
        FROM customer
    ),
    src AS (
        SELECT c_custkey, c_name,
               CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 100 ELSE c_acctbal END
                   AS c_acctbal
        FROM customer WHERE c_custkey % 5 != 0
        UNION ALL
        SELECT c_custkey + 1000000, 'Customer#new' || c_custkey, 0.0
        FROM customer WHERE c_custkey % 11 = 0
    ),
    changed AS (
        SELECT t.c_custkey FROM target t JOIN src s USING (c_custkey)
        WHERE s.c_acctbal IS DISTINCT FROM t.c_acctbal
           OR s.c_name IS DISTINCT FROM t.c_name
    )
    SELECT c_custkey, c_name, c_acctbal, valid_from,
           CAST(NULL AS DATE) AS valid_to
    FROM target WHERE c_custkey NOT IN (SELECT c_custkey FROM changed)
    UNION ALL
    SELECT c_custkey, c_name, c_acctbal, valid_from, DATE '2021-06-01'
    FROM target WHERE c_custkey IN (SELECT c_custkey FROM changed)
    UNION ALL
    SELECT c_custkey, c_name, c_acctbal, DATE '2021-06-01',
           CAST(NULL AS DATE)
    FROM src WHERE c_custkey IN (SELECT c_custkey FROM changed)
       OR c_custkey NOT IN (SELECT c_custkey FROM target)
    """,
    doc="""SCD Type 2 merge (operators.merge.merge_scd2): versioned
    dimension history — changed keys close their current row at the
    effective date and open a new one; unchanged/absent keys are
    untouched; unseen keys insert. The synthetic batch updates keys
    %3=0, omits keys %5=0, and introduces new keys. One full-outer
    join of current x source; closed history never enters the join.""",
    tags=("M2", "scd2", "merge"),
)
def m8_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    target = customer.select(
        "c_custkey",
        "c_name",
        "c_acctbal",
        F.lit("2020-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    )
    src = (
        customer.filter(F.col("c_custkey") % 5 != 0)
        .select(
            "c_custkey",
            "c_name",
            F.when(F.col("c_custkey") % 3 == 0, F.col("c_acctbal") + 100)
            .otherwise(F.col("c_acctbal"))
            .alias("c_acctbal"),
        )
        .unionByName(
            customer.filter(F.col("c_custkey") % 11 == 0).select(
                (F.col("c_custkey") + 1000000).alias("c_custkey"),
                F.concat(F.lit("Customer#new"), F.col("c_custkey")).alias("c_name"),
                F.lit(0.0).alias("c_acctbal"),
            )
        )
    )
    return M.merge_scd2(
        target, src, keys=["c_custkey"], effective=F.lit("2021-06-01").cast("date")
    )


@register(
    "e4_sliding_window_agg",
    oracle="""
    WITH assigned AS (
        -- CAST to naive TIMESTAMP: DuckDB to_timestamp returns
        -- TIMESTAMPTZ, whose tz-aware pandas dtype fails the driver's
        -- schema check against Spark's naive window bounds
        SELECT CAST(to_timestamp(floor(epoch(ts) / 1800) * 1800) AS TIMESTAMP)
                   AS window_start,
               event_type, value
        FROM events
        UNION ALL
        SELECT CAST(to_timestamp(floor(epoch(ts) / 1800) * 1800) AS TIMESTAMP)
                   - INTERVAL 30 MINUTE,
               event_type, value
        FROM events
    )
    SELECT window_start, event_type, COUNT(1) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM assigned GROUP BY 1, 2
    """,
    doc="""Sliding-window aggregate (1-hour window, 30-minute slide):
    each event lands in exactly 2 overlapping windows. Spark's
    ``F.window(ts, "1 hour", "30 minutes")`` expands assignments
    JVM-side (Expand operator) before one hash aggregate — the same
    shape its Structured Streaming sliding windows use; the oracle
    enumerates the two buckets per event explicitly.""",
    tags=("streaming", "window"),
)
def e4_sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "events")
        .groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "e5_session_window_native",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id, ts, value,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS sess
        FROM flagged
    )
    SELECT user_id, min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(1) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM sessions GROUP BY user_id, sess
    """,
    doc="""Native session windows (``F.session_window`` with a 30-minute
    gap) — Spark's built-in merging-session aggregate, vs e2's
    LAG+running-sum formulation of the same semantics. Boundary rule:
    an event at exactly gap distance starts a NEW session (windows are
    [start, end)), hence the oracle's >=. session_end = last event +
    gap, matching the operator's definition.""",
    tags=("streaming", "window", "session"),
)
def e5_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "events")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


@register(
    "a7_grouping_sets",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag, l_linestatus) AS gid,
           COUNT(1) AS n,
           CAST(SUM({_SQL_QTY}) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag),
                            (l_linestatus), ())
    """,
    doc="""CUBE / grouping sets with GROUPING_ID disambiguation (a5's
    rollup can't distinguish a NULL group key from a subtotal row; gid
    can). Spark executes via Expand — one pass over the input, no
    re-aggregation per set.""",
    tags=("A1", "cube"),
)
def a7_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.sum(_qty()).cast("double").alias("sum_qty"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "n", "sum_qty")
    )


@register(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l.l_orderkey,
           CAST(SUM({_SQL_PRICE} * (1 - {_SQL_DISC})) AS DOUBLE) AS revenue,
           CAST(o.o_orderdate AS DATE) AS order_date,
           o.o_orderpriority
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderdate < TIMESTAMP '1996-01-01'
      AND l.l_shipdate  > TIMESTAMP '1996-01-01'
    GROUP BY 1, 3, 4
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
    doc="""TPC-H Q3 shape (shipping priority): selective date filters
    pushed to both scans, customer->orders->lineitem join chain, revenue
    aggregate, top-10 by revenue. TakeOrderedAndProject caps the sort
    at k rows per partition — no full sort at any scale.""",
    tags=("composite", "tpch"),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    one = F.lit(1).cast("decimal(1,0)")
    cutoff = F.lit("1996-01-01").cast("timestamp")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey)
        .filter(F.col("o_orderdate") < cutoff)
        .join(lineitem, F.col("o_orderkey") == lineitem.l_orderkey)
        .filter(F.col("l_shipdate") > cutoff)
        .groupBy(
            "l_orderkey",
            F.col("o_orderdate").cast("date").alias("order_date"),
            "o_orderpriority",
        )
        .agg(F.sum(_price() * (one - _disc())).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "order_date", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "q18_large_orders_having",
    oracle=f"""
    WITH big AS (
        SELECT l_orderkey, CAST(SUM({_SQL_QTY}) AS DOUBLE) AS total_qty
        FROM lineitem GROUP BY 1
        HAVING SUM({_SQL_QTY}) > 150
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           CAST(o.o_orderdate AS DATE) AS order_date, b.total_qty
    FROM big b
    JOIN orders o   ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
    doc="""TPC-H Q18 shape (large-volume orders): HAVING over a grouped
    sum feeds a join back to orders + customer. The aggregate runs
    first and shrinks the join input to qualifying orders only — the
    filter-early pattern HAVING enables; both dims broadcast against
    the surviving keys.""",
    tags=("composite", "tpch", "having"),
)
def q18_large_orders_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum(_qty()).alias("qty_dec"))
        .filter(F.col("qty_dec") > 150)
        .select("l_orderkey", F.col("qty_dec").cast("double").alias("total_qty"))
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("order_date"),
            "total_qty",
        )
    )


@register(
    "f7_string_funcs",
    oracle="""
    SELECT c_custkey,
           upper(c_name)                     AS uname,
           lower(c_mktsegment)               AS lseg,
           substring(c_name, 1, 8)           AS prefix,
           split_part(c_name, '#', 2)        AS cust_num,
           lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded,
           replace(c_name, 'Customer', 'C')  AS shortname,
           length(c_name)                    AS name_len,
           reverse(c_mktsegment)             AS rseg,
           concat_ws('|', c_mktsegment, CAST(c_custkey AS VARCHAR)) AS tagged
    FROM customer
    """,
    doc="""String function battery: case folding, substring, split_part,
    padding, replace, reverse, concat_ws — all JVM built-ins in one
    codegen'd projection; identical semantics to the oracle's (both
    1-based substring, same split_part field numbering).""",
    tags=("functions", "string"),
)
def f7_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "customer").select(
        "c_custkey",
        F.upper("c_name").alias("uname"),
        F.lower("c_mktsegment").alias("lseg"),
        F.substring("c_name", 1, 8).alias("prefix"),
        F.split_part(F.col("c_name"), F.lit("#"), F.lit(2)).alias("cust_num"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded"),
        F.replace(F.col("c_name"), F.lit("Customer"), F.lit("C")).alias("shortname"),
        F.length("c_name").alias("name_len"),
        F.reverse("c_mktsegment").alias("rseg"),
        F.concat_ws("|", F.col("c_mktsegment"), F.col("c_custkey").cast("string")).alias(
            "tagged"
        ),
    )


@register(
    "f8_conditional_funcs",
    oracle="""
    SELECT o_orderkey,
           nullif(o_orderstatus, 'O')                        AS status_or_null,
           coalesce(nullif(o_orderstatus, 'O'), 'OPEN')      AS status_label,
           least(o_totalprice, 50000.0)                      AS capped,
           greatest(o_totalprice, 1000.0)                    AS floored,
           CASE WHEN o_totalprice > 100000 THEN 'big'
                WHEN o_totalprice > 10000  THEN 'mid'
                ELSE 'small' END                             AS bucket
    FROM orders
    """,
    doc="""Conditional / null-handling battery: NULLIF, COALESCE,
    LEAST/GREATEST, multi-branch CASE — one codegen'd projection, no
    shuffle.""",
    tags=("functions", "conditional"),
)
def f8_conditional_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    status = F.col("o_orderstatus")
    price = F.col("o_totalprice")
    return load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.nullif(status, F.lit("O")).alias("status_or_null"),
        F.coalesce(F.nullif(status, F.lit("O")), F.lit("OPEN")).alias("status_label"),
        F.least(price, F.lit(50000.0)).alias("capped"),
        F.greatest(price, F.lit(1000.0)).alias("floored"),
        F.when(price > 100000, "big")
        .when(price > 10000, "mid")
        .otherwise("small")
        .alias("bucket"),
    )


@register(
    "f9_json_extract",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k')           AS k_str,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           json_extract_string(props, '$.missing')     AS absent
    FROM events
    """,
    doc="""JSON path extraction over the events.props payload column
    (semi-structured data riding a relational table — the Snowflake
    VARIANT pattern): string path extraction, numeric cast, and a
    missing-path NULL. ``get_json_object`` is a JVM built-in; at scale
    prefer parsing once with ``from_json`` into a struct column when
    several paths are read (single parse vs one per path).""",
    tags=("functions", "json"),
)
def f9_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    props = F.col("props")
    return load(spark, sf_dir, "events").select(
        "event_id",
        F.get_json_object(props, "$.k").alias("k_str"),
        F.get_json_object(props, "$.k").cast("long").alias("k"),
        F.get_json_object(props, "$.missing").alias("absent"),
    )


@register(
    "f10_try_cast",
    oracle="""
    SELECT o_orderkey,
           -- mixed valid/invalid input: NULL on failure, value on success
           TRY_CAST(CASE WHEN o_orderkey % 2 = 0 THEN o_orderstatus
                         ELSE CAST(o_orderkey AS VARCHAR) END AS INTEGER)
               AS status_as_int,
           -- date result carried as VARCHAR (nullable DATE columns
           -- convert to pandas NaT on one side and None on the other)
           CAST(TRY_CAST(CASE WHEN o_orderkey % 3 = 0 THEN 'not-a-date'
                              ELSE strftime(o_orderdate, '%Y-%m-%d') END
                         AS DATE) AS VARCHAR) AS date_or_null,
           CAST(TRY_CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(18,2))
                AS DOUBLE) AS price_dec,
           TRY_CAST(substring(o_orderpriority, 1, 1) AS INTEGER) AS prio_digit,
           CAST(TRY_CAST(o_orderstatus AS INTEGER) AS VARCHAR) AS always_null
    FROM orders
    """,
    doc="""Safe-cast family (Snowflake TRY_CAST analog): malformed
    input -> NULL instead of an ANSI error, per value. The engine
    keeps ANSI mode ON (failed plain casts raise, like Snowflake —
    f4); try_cast is the explicit opt-out for dirty columns, which is
    what a 100 TB ingest of web data actually needs. Output dtypes are
    driver-safe: nullable ints stay mixed (pandas float64 both sides),
    nullable dates/all-null columns travel as VARCHAR, decimal ->
    DOUBLE.""",
    tags=("functions", "cast"),
)
def f10_try_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 2 == 0, F.col("o_orderstatus"))
        .otherwise(F.col("o_orderkey").cast("string"))
        .try_cast("int")
        .alias("status_as_int"),
        F.when(F.col("o_orderkey") % 3 == 0, F.lit("not-a-date"))
        .otherwise(F.date_format("o_orderdate", "yyyy-MM-dd"))
        .try_cast("date")
        .cast("string")
        .alias("date_or_null"),
        F.col("o_totalprice")
        .cast("string")
        .try_cast("decimal(18,2)")
        .cast("double")
        .alias("price_dec"),
        F.substring("o_orderpriority", 1, 1).try_cast("int").alias("prio_digit"),
        F.col("o_orderstatus").try_cast("int").cast("string").alias("always_null"),
    )


_SQL1_TEXT = f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM({_SQL_QTY}) AS DOUBLE)   AS sum_qty,
           CAST(SUM({_SQL_PRICE}) AS DOUBLE) AS sum_base_price,
           CAST(SUM({_SQL_PRICE} * (1 - {_SQL_DISC})) AS DOUBLE) AS sum_disc_price,
           COUNT(1) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-01'
    GROUP BY l_returnflag, l_linestatus
"""


@register(
    "sql1_text_surface",
    oracle=_SQL1_TEXT,
    doc="""The engine's SQL entry point: the SAME ANSI text runs through
    ``spark.sql`` over registered views and through the DuckDB oracle —
    zero translation. Proves a reference user can bring raw SQL, not
    just the DataFrame API; Catalyst gives the text the same plan
    (pushdown, partial agg) the DataFrame form gets.""",
    tags=("sql", "A1"),
)
def sql1_text_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL1_TEXT)


@register(
    "f11_array_funcs",
    oracle="""
    WITH arr AS (
        SELECT o_orderkey,
               [o_orderkey % 10, o_custkey % 10, 7, o_orderkey % 10] AS xs
        FROM orders
    )
    SELECT o_orderkey,
           list_contains(xs, 7)                    AS has_seven,
           list_position(xs, 7)                    AS seven_at,
           -- arrays leave the engine as canonical strings: the driver's
           -- pandas hash cannot factorize raw list cells
           array_to_string(list_sort(xs), ',')             AS sorted_xs,
           array_to_string(list_sort(list_distinct(xs)), ',') AS uniq_xs,
           len(xs)                                 AS n,
           xs[1]                                   AS first_x,
           list_reduce(xs, (a, b) -> a + b)        AS total
    FROM arr
    """,
    doc="""Array function battery over a constructed array column:
    membership, 1-based position, sort, distinct (sorted to normalize
    order semantics across engines), length, indexing, fold-sum. All
    in-row JVM built-ins — arrays never explode unless asked.""",
    tags=("functions", "array"),
)
def f11_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    xs = F.array(
        F.col("o_orderkey") % 10, F.col("o_custkey") % 10, F.lit(7).cast("long"),
        F.col("o_orderkey") % 10,
    )
    a = orders.select("o_orderkey", xs.alias("xs"))
    return a.select(
        "o_orderkey",
        F.array_contains("xs", 7).alias("has_seven"),
        F.array_position("xs", 7).alias("seven_at"),
        F.concat_ws(",", F.sort_array("xs")).alias("sorted_xs"),
        F.concat_ws(",", F.sort_array(F.array_distinct("xs"))).alias("uniq_xs"),
        F.size("xs").alias("n"),
        F.element_at("xs", 1).alias("first_x"),
        F.aggregate(
            F.slice("xs", 2, F.size("xs") - 1),
            F.element_at(F.col("xs"), 1),
            lambda acc, x: acc + x,
        ).alias("total"),
    )


_P10_TEXT = """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
"""


@register(
    "p10_exists_correlated",
    oracle=_P10_TEXT,
    doc="""Correlated EXISTS / NOT EXISTS subqueries through the raw
    SQL surface — Catalyst decorrelates them into left-semi and
    left-anti joins (no per-row subquery execution at any scale); the
    identical text runs on the oracle.""",
    tags=("sql", "subquery", "J5"),
)
def p10_exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_P10_TEXT)


# ---------------------------------------------------------------------------
# bucketed co-located join (physical-layout extension)
# ---------------------------------------------------------------------------

_bucketed_memo: dict[tuple[int, str], tuple] = {}


def _bucketed_pair(spark: SparkSession, sf_dir: str):
    """Bucketed copies of lineitem/orders on the order key (memoized per
    session+sf so the one-time layout shuffle isn't re-paid per call —
    exactly the amortization bucketing buys at 100 TB)."""
    from ..operators.bucketing import write_bucketed

    key = (id(spark), sf_dir)
    if key not in _bucketed_memo:
        tag = abs(hash(sf_dir)) % 10**8
        base = scratch_dir("bucketed_")
        li = write_bucketed(
            load(spark, sf_dir, "lineitem").select(
                "l_orderkey", "l_quantity", "l_extendedprice"
            ),
            f"b1_lineitem_{tag}",
            ["l_orderkey"],
            num_buckets=16,
            path=f"{base}/lineitem",
        )
        o = write_bucketed(
            load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority"),
            f"b1_orders_{tag}",
            ["o_orderkey"],
            num_buckets=16,
            path=f"{base}/orders",
        )
        _bucketed_memo[key] = (li, o)
    return _bucketed_memo[key]


@register(
    "b1_bucketed_colocated_join",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(1) AS n_items,
           CAST(SUM({_SQL_QTY}) AS DOUBLE) AS sum_qty,
           CAST(SUM({_SQL_PRICE}) AS DOUBLE) AS sum_price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    doc="""Exchange-free fact join via bucketed layout
    (operators.bucketing): both sides hash-bucketed on the order key at
    write time, so the join runs as a SortMergeJoin with NO shuffle on
    either side (``Bucketed: true`` scans; plan pinned in
    tests/test_plan_shapes.py). The one-time layout cost is memoized
    here the same way it is amortized at 100 TB — paid at ingest, free
    for every downstream join on the key. Result is identical to the
    plain shuffled join (the oracle).""",
    tags=("join", "bucketing", "layout"),
)
def b1_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, o = _bucketed_pair(spark, sf_dir)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(_qty()).cast("double").alias("sum_qty"),
            F.sum(_price()).cast("double").alias("sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# outer-join family + histogram (engine extensions: completeness surface)
# ---------------------------------------------------------------------------


@register(
    "j7_outer_join_family",
    oracle="""
    WITH hc AS (SELECT c_nationkey AS nationkey, COUNT(1) AS n_rich_cust
                FROM customer WHERE c_acctbal > 9900 GROUP BY c_nationkey),
         hs AS (SELECT s_nationkey AS nationkey, COUNT(1) AS n_rich_supp
                FROM supplier WHERE s_acctbal > 9900 GROUP BY s_nationkey)
    SELECT COALESCE(hc.nationkey, hs.nationkey) AS nationkey,
           hc.n_rich_cust, hs.n_rich_supp
    FROM hc FULL OUTER JOIN hs ON hc.nationkey = hs.nationkey
    """,
    doc="""FULL OUTER join between two sparse aggregates (high-balance
    customers vs suppliers per nation) — genuine NULLs on both sides.
    The reference never writes outer joins; the engine surface carries
    the whole family (left/right/full) through the same Catalyst path
    as the inner joins. Full-outer cannot broadcast — it plans as a
    shuffled SortMergeJoin, correct at any scale because both inputs
    are pre-aggregated to |nations| rows.""",
    tags=("join", "outer"),
)
def j7_outer_join_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    hc = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9900)
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_rich_cust"))
    )
    hs = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 9900)
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_rich_supp"))
    )
    return hc.join(hs, on="nationkey", how="full_outer").select(
        "nationkey", "n_rich_cust", "n_rich_supp"
    )


@register(
    "f12_histogram_bins",
    oracle="""
    SELECT CAST(FLOOR(o_totalprice / 10000) AS BIGINT) AS bin,
           COUNT(1) AS n,
           CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS lo,
           CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS hi
    FROM orders GROUP BY 1
    """,
    doc="""Fixed-width histogram (10k-wide bins over order totals):
    one map-side bin expression + hash aggregate — the one-pass,
    fully-combinable distribution profile (vs exact percentiles a6,
    which need a per-group sort). Min/max per bin in exact DECIMAL.""",
    tags=("agg", "histogram", "profile"),
)
def f12_histogram_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    money = F.col("o_totalprice").cast("decimal(18,2)")
    return (
        load(spark, sf_dir, "orders")
        .groupBy(
            F.floor(F.col("o_totalprice") / 10000).cast("long").alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(money).cast("double").alias("lo"),
            F.max(money).cast("double").alias("hi"),
        )
    )


@register(
    "dq1_referential_audit",
    oracle="""
    SELECT 'orders_without_customer' AS check_name,
           (SELECT COUNT(1) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)) AS n_violations
    UNION ALL
    SELECT 'lineitem_without_order',
           (SELECT COUNT(1) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey))
    UNION ALL
    SELECT 'lineitem_without_part',
           (SELECT COUNT(1) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM part p
                              WHERE p.p_partkey = l.l_partkey))
    UNION ALL
    SELECT 'negative_acctbal_customers',
           (SELECT COUNT(1) FROM customer WHERE c_acctbal < 0)
    """,
    doc="""Data-quality / referential audit — the reference's de-facto
    test strategy formalized (its semi-join probes that every order key
    resolves in the dims, order-...sql:365-371, and the manual key-fix
    UPDATEs they motivated, order-...sql:377-387). Each FK check is a
    LEFT ANTI join (broadcast where the dim side is small) aggregated
    to a violation count; plus a domain check (negative balances) that
    is nonzero on TPC-H data so the audit provably detects. One row
    per check — the shape a scheduler can alert on.""",
    tags=("dq", "audit", "J5"),
)
def dq1_referential_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    lineitem = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")

    def count_of(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_violations")).select(
            F.lit(name).alias("check_name"), "n_violations"
        )

    checks = [
        count_of(
            orders.join(
                customer, orders.o_custkey == customer.c_custkey, "left_anti"
            ),
            "orders_without_customer",
        ),
        count_of(
            lineitem.join(
                orders, lineitem.l_orderkey == orders.o_orderkey, "left_anti"
            ),
            "lineitem_without_order",
        ),
        count_of(
            lineitem.join(part, lineitem.l_partkey == part.p_partkey, "left_anti"),
            "lineitem_without_part",
        ),
        count_of(
            customer.filter(F.col("c_acctbal") < 0), "negative_acctbal_customers"
        ),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


@register(
    "w3_range_frame_timeseries",
    oracle="""
    SELECT event_id, user_id,
           COUNT(1) OVER w AS n_1h,
           MIN(value) OVER w AS min_value_1h,
           MAX(value) OVER w AS max_value_1h,
           -- BIGINT: DuckDB SUM over ints is HUGEINT -> pandas float64
           CAST(SUM(CASE WHEN value > 50 THEN 1 ELSE 0 END) OVER w AS BIGINT)
               AS n_big_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
    doc="""RANGE-frame moving window over event time (trailing 1 hour
    per user): the time-series rolling aggregate, complementing w2's
    ROWS frames. The frame is VALUE-bounded (epoch-microsecond order
    key, 3.6e9 us lookback), so tied timestamps are peers and the
    result is deterministic without a unique tiebreak; aggregates are
    exact (count / min / max / integer flag sum — no float
    accumulation). One Exchange on user_id, one sort, all four windows
    share the frame.""",
    tags=("window", "range-frame", "timeseries"),
)
def w3_range_frame_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return events.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.min("value").over(w).alias("min_value_1h"),
        F.max("value").over(w).alias("max_value_1h"),
        F.sum(F.when(F.col("value") > 50, 1).otherwise(0)).over(w).alias("n_big_1h"),
    )


@register(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM({_SQL_QTY}) AS DOUBLE)   AS sum_qty,
           CAST(SUM({_SQL_PRICE}) AS DOUBLE) AS sum_base_price,
           CAST(SUM({_SQL_PRICE} * (1 - {_SQL_DISC})) AS DOUBLE) AS sum_disc_price,
           CAST(SUM({_SQL_PRICE} * (1 - {_SQL_DISC}) * (1 + {_SQL_TAX})) AS DOUBLE)
               AS sum_charge,
           CAST(SUM({_SQL_QTY}) AS DOUBLE)   / COUNT(1) AS avg_qty,
           CAST(SUM({_SQL_PRICE}) AS DOUBLE) / COUNT(1) AS avg_price,
           CAST(SUM({_SQL_DISC}) AS DOUBLE)  / COUNT(1) AS avg_disc,
           COUNT(1) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY 1, 2
    """,
    doc="""TPC-H Q1 shape (pricing summary): the canonical one-pass
    scan-heavy aggregate — a single wide partial+final hash aggregate
    over the fact, ship-date filter pushed to the parquet scan, tiny
    (flag, status) key space so the partial aggregate collapses nearly
    everything map-side and the exchange ships a handful of rows per
    partition regardless of input scale. Averages are derived
    exact-decimal-sum / count in DOUBLE (one division on identical
    doubles in both engines -> bit-exact), never a float AVG
    accumulation.""",
    tags=("composite", "tpch", "aggregate"),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(1,0)")
    n = F.count(F.lit(1))
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_qty()).cast("double").alias("sum_qty"),
            F.sum(_price()).cast("double").alias("sum_base_price"),
            F.sum(_price() * (one - _disc())).cast("double").alias("sum_disc_price"),
            F.sum(_price() * (one - _disc()) * (one + _tax()))
            .cast("double")
            .alias("sum_charge"),
            (F.sum(_qty()).cast("double") / n).alias("avg_qty"),
            (F.sum(_price()).cast("double") / n).alias("avg_price"),
            (F.sum(_disc()).cast("double") / n).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


@register(
    "q5_local_supplier_volume",
    oracle=f"""
    SELECT n.n_name,
           CAST(SUM({_SQL_PRICE} * (1 - {_SQL_DISC})) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON o.o_custkey  = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey  = l.l_suppkey
                   AND s.s_nationkey = c.c_nationkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN region r   ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY 1
    """,
    doc="""TPC-H Q5 shape (local supplier volume): a 6-way snowflake
    join — fact x orders x customer x supplier x nation x region —
    with a region filter that only becomes selective after Catalyst
    reorders region->nation->supplier ahead of the fact join (CBO/AQE
    join reordering showcase). region/nation broadcast explicitly
    (5 and 25 rows at any SF); supplier is left to the planner — at
    sf<=1 AQE broadcasts it, at 100 TB it shuffle-joins on s_suppkey.
    The s_nationkey = c_nationkey residual makes the customer join a
    two-predicate equi-join, still hashable on both keys.""",
    tags=("composite", "tpch", "multiway-join"),
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    supplier = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    one = F.lit(1).cast("decimal(1,0)")
    asia = F.broadcast(
        nation.join(region, nation.n_regionkey == region.r_regionkey).filter(
            F.col("r_name") == "ASIA"
        )
    )
    return (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(lineitem, F.col("o_orderkey") == lineitem.l_orderkey)
        .join(customer, F.col("o_custkey") == customer.c_custkey)
        .join(
            supplier,
            (F.col("l_suppkey") == supplier.s_suppkey)
            & (F.col("c_nationkey") == supplier.s_nationkey),
        )
        .join(asia, F.col("s_nationkey") == asia.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(_price() * (one - _disc())).cast("double").alias("revenue"))
    )


@register(
    "p9_unpivot",
    oracle=f"""
    WITH sums AS (
        SELECT l_returnflag,
               CAST(SUM({_SQL_QTY}) AS DOUBLE)   AS sum_qty,
               CAST(SUM({_SQL_PRICE}) AS DOUBLE) AS sum_price,
               CAST(SUM({_SQL_DISC}) AS DOUBLE)  AS sum_disc,
               CAST(SUM({_SQL_TAX}) AS DOUBLE)   AS sum_tax
        FROM lineitem GROUP BY 1
    )
    SELECT l_returnflag, 'sum_qty'   AS measure, sum_qty   AS value FROM sums
    UNION ALL
    SELECT l_returnflag, 'sum_price' AS measure, sum_price AS value FROM sums
    UNION ALL
    SELECT l_returnflag, 'sum_disc'  AS measure, sum_disc  AS value FROM sums
    UNION ALL
    SELECT l_returnflag, 'sum_tax'   AS measure, sum_tax   AS value FROM sums
    """,
    doc="""UNPIVOT / melt (p8_pivot's inverse): wide per-flag aggregate
    -> long (flag, measure, value) rows via ``DataFrame.unpivot`` —
    a single Expand node, no join or shuffle beyond the feeding
    aggregate; the oracle states the same reshape as UNION ALL of
    per-measure projections.""",
    tags=("reshape", "unpivot"),
)
def p9_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load(spark, sf_dir, "lineitem")
    sums = lineitem.groupBy("l_returnflag").agg(
        F.sum(_qty()).cast("double").alias("sum_qty"),
        F.sum(_price()).cast("double").alias("sum_price"),
        F.sum(_disc()).cast("double").alias("sum_disc"),
        F.sum(_tax()).cast("double").alias("sum_tax"),
    )
    return sums.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_price", "sum_disc", "sum_tax"],
        variableColumnName="measure",
        valueColumnName="value",
    )


@register(
    "w4_ntile_distribution",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           ntile(4)      OVER w AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist()   OVER w AS cume,
           first_value(c_custkey) OVER w AS poorest,
           nth_value(c_custkey, 2) OVER w AS second_poorest
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
    doc="""Distribution-analytic window battery (completes w2's frame
    battery): NTILE bucketing, PERCENT_RANK, CUME_DIST, FIRST_VALUE /
    NTH_VALUE over a per-segment balance ranking. The ORDER BY carries
    a unique c_custkey tiebreak, so every row is its own peer group
    and rank-derived fractions are deterministic; percent_rank /
    cume_dist are single divisions of identical integers in both
    engines -> bit-exact doubles. One Exchange on c_mktsegment, one
    sort, all five functions share it.""",
    tags=("window", "distribution"),
)
def w4_ntile_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return customer.select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.first("c_custkey").over(w).alias("poorest"),
        F.nth_value("c_custkey", 2).over(w).alias("second_poorest"),
    )


@register(
    "f13_regex_funcs",
    oracle=r"""
    SELECT c_custkey,
           regexp_extract(c_name, 'Customer#(\d+)', 1)            AS digits,
           CAST(regexp_extract(c_name, '(\d+)', 1) AS BIGINT)     AS cust_num,
           regexp_replace(c_name, '0+', '-', 'g')                 AS dashed,
           regexp_matches(c_name, '^Customer#0*[0-9]{1,4}$')      AS small_id,
           length(regexp_extract_all(c_name, '0'))                AS zero_count,
           array_to_string(regexp_split_to_array(c_name, '#'), '+') AS joined
    FROM customer
    """,
    doc="""Regex function battery: capture-group extract, numeric
    extract + cast, global replace (Spark replaces all matches by
    default; the oracle needs the explicit 'g' flag — semantics
    aligned), anchored match test, match counting, split + re-join
    (joined as a string so parity never compares array encodings).
    All JVM built-ins in one codegen'd projection.""",
    tags=("functions", "regex"),
)
def f13_regex_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    return customer.select(
        "c_custkey",
        F.regexp_extract("c_name", r"Customer#(\d+)", 1).alias("digits"),
        F.regexp_extract("c_name", r"(\d+)", 1).cast("long").alias("cust_num"),
        F.regexp_replace("c_name", r"0+", "-").alias("dashed"),
        F.col("c_name").rlike(r"^Customer#0*[0-9]{1,4}$").alias("small_id"),
        F.regexp_count(F.col("c_name"), F.lit("0")).alias("zero_count"),
        F.array_join(F.split("c_name", "#"), "+").alias("joined"),
    )


@register(
    "f14_explode_generator",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber,
           CAST(g.range AS BIGINT) - 1 AS pos,
           CAST(g.range AS BIGINT)     AS val
    FROM lineitem l
    JOIN range(1, 8) g ON g.range <= l.l_linenumber
    WHERE l.l_orderkey % 10 = 0
    """,
    doc="""Generator / LATERAL VIEW surface (Snowflake FLATTEN analog):
    ``posexplode`` over an in-row ``sequence(1, l_linenumber)`` emits
    one row per element with its position. A generator is a narrow
    per-row expansion — no shuffle, no join; the relational oracle
    states the same rows as a bounded range join. Filter keeps the
    compare set small; the operator itself is O(output).""",
    tags=("generator", "explode"),
)
def f14_explode_generator(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load(spark, sf_dir, "lineitem")
    return (
        lineitem.filter(F.col("l_orderkey") % 10 == 0)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.posexplode(F.sequence(F.lit(1), F.col("l_linenumber"))).alias(
                "pos", "val"
            ),
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("pos").cast("long").alias("pos"),
            F.col("val").cast("long").alias("val"),
        )
    )


_SQL2_LATERAL = """
SELECT n.n_name, top.c_name, top.c_acctbal
FROM nation n CROSS JOIN LATERAL (
    SELECT c_name, c_acctbal
    FROM customer
    WHERE c_nationkey = n.n_nationkey
    ORDER BY c_acctbal DESC, c_custkey
    LIMIT 2
) AS top
"""


@register(
    "sql2_lateral_topk",
    oracle=_SQL2_LATERAL,
    doc="""Correlated LATERAL subquery (top-2 customers per nation by
    balance), same ANSI text through ``spark.sql`` and the oracle —
    the per-group-top-k idiom stated as a lateral join instead of a
    window. Catalyst decorrelates it to row_number-over-partition +
    filter + hash join — no per-row nested loop at any scale (it does
    conservatively keep the subquery's ORDER BY as a global sort
    before the window; the pure-window form o2 skips that, which is
    the scale tiebreak between the two spellings). Unique c_custkey
    tiebreak keeps the LIMIT edge deterministic.""",
    tags=("sql", "lateral", "topk"),
)
def sql2_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL2_LATERAL)


_Q4_TEXT = """
    SELECT o.o_orderpriority,
           COUNT(1) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-07-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_returnflag = 'R')
    GROUP BY o.o_orderpriority
"""


@register(
    "q4_order_priority_exists",
    oracle=_Q4_TEXT,
    doc="""TPC-H Q4 shape (order priority checking, adapted to this
    schema: the returned-lineitem flag stands in for
    commitdate < receiptdate): a correlated EXISTS over the fact table
    gating a date-filtered aggregate. Catalyst decorrelates the
    subquery to a left-semi join against distinct qualifying order
    keys — no per-row probe at any scale — and the identical ANSI text
    runs on the oracle.""",
    tags=("composite", "tpch", "subquery"),
)
def q4_order_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_Q4_TEXT)


@register(
    "q7_volume_shipping",
    oracle=f"""
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
           CAST(SUM({_SQL_PRICE} * (1 - {_SQL_DISC})) AS DOUBLE) AS revenue
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey  = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey  = o.o_custkey
    JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
    WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
        OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
    GROUP BY 1, 2, 3
    """,
    doc="""TPC-H Q7 shape (volume shipping): the fact joined through
    both its supplier-side and customer-side dimension chains to a
    SELF-JOINED nation table (n1 supplier nation, n2 customer nation)
    with a symmetric two-nation disjunction. The nation pair predicate
    is only applicable AFTER both chains resolve, so join order
    matters: nation broadcasts twice (25 rows), supplier/customer
    broadcast at test SF via AQE, and the fact never shuffles. Revenue
    decimal-exact then DOUBLE; year as BIGINT for dtype parity.""",
    tags=("composite", "tpch", "self-join"),
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    supplier = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7")
    ) | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
    one = F.lit(1).cast("decimal(1,0)")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(supplier, lineitem.l_suppkey == supplier.s_suppkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(F.sum(_price() * (one - _disc())).cast("double").alias("revenue"))
    )


# note: (l_orderkey, l_linenumber) is NOT unique in the synthetic
# lineitem; every order-sensitive window extends the sort to the
# unique total order (+ l_partkey, l_suppkey) for determinism
_SQL3_TEXT = """
    SELECT l_orderkey, l_linenumber,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER cum AS DOUBLE)
               AS running_qty,
           RANK() OVER (PARTITION BY l_returnflag
                        ORDER BY l_extendedprice DESC, l_orderkey,
                                 l_linenumber, l_partkey, l_suppkey)
               AS price_rank,
           LAG(l_linestatus) OVER (PARTITION BY l_orderkey
                                   ORDER BY l_linenumber, l_partkey, l_suppkey)
               AS prev_status,
           NTILE(4) OVER (PARTITION BY l_returnflag
                          ORDER BY l_orderkey, l_linenumber,
                                   l_partkey, l_suppkey) AS quartile
    FROM lineitem
    WINDOW cum AS (PARTITION BY l_orderkey
                   ORDER BY l_linenumber, l_partkey, l_suppkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


@register(
    "sql3_window_text",
    oracle=_SQL3_TEXT,
    doc="""Analytic-window SQL through the raw text surface: one ANSI
    string with a named WINDOW clause, a decimal-exact running sum,
    RANK, LAG and NTILE runs UNCHANGED through ``spark.sql`` and the
    oracle (w2 proves the same battery via the DataFrame API; this
    proves the text dialect). Catalyst collapses the two same-key
    window specs into one sort; the rank/ntile specs share the
    l_returnflag exchange.""",
    tags=("sql", "window"),
)
def sql3_window_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL3_TEXT)


@register(
    "q6_forecast_revenue",
    oracle=f"""
    SELECT CAST(SUM({_SQL_PRICE} * {_SQL_DISC}) AS DOUBLE) AS revenue,
           COUNT(1) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND {_SQL_DISC} BETWEEN 0.05 AND 0.07
      AND {_SQL_QTY} < 24
    """,
    doc="""TPC-H Q6 shape (forecasting revenue change): the pure
    filter-aggregate — every predicate (ship-date range, discount band,
    quantity cap) must reach the parquet scan as a PushedFilter, the
    aggregate is a single partial+final SUM with no grouping key, and
    the exchange carries exactly one row per partition. The canonical
    'is pushdown working' probe: at 100 TB this query is I/O-bound on
    row-group pruning or it is wrong. Decimal-exact then DOUBLE.""",
    tags=("composite", "tpch", "pushdown"),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load(spark, sf_dir, "lineitem")
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & _disc().between(0.05, 0.07)
            & (_qty() < 24)
        )
        .agg(
            F.sum(_price() * _disc()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q10_returned_items",
    oracle=f"""
    SELECT c.c_custkey, c.c_name,
           CAST(SUM({_SQL_PRICE} * (1 - {_SQL_DISC})) AS DOUBLE) AS revenue,
           c.c_acctbal, n.n_name
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-04-01'
      AND l.l_returnflag = 'R'
    GROUP BY 1, 2, 4, 5
    ORDER BY revenue DESC, c.c_custkey ASC
    LIMIT 20
    """,
    doc="""TPC-H Q10 shape (returned-item reporting): fact x orders x
    customer x nation with a quarter filter and the returns flag,
    grouped per customer, top-20 by lost revenue. Plan: the order-date
    filter prunes before the fact join, nation broadcasts, and the
    top-20 is TakeOrderedAndProject over the aggregate — never a global
    sort. Deterministic custkey tiebreak.""",
    tags=("composite", "tpch", "topk"),
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    return (
        lineitem.filter(F.col("l_returnflag") == "R")
        .join(
            orders.filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(_price() * (F.lit(1).cast("decimal(1,0)") - _disc())).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
    )


@register(
    "q14_promo_revenue",
    oracle=f"""
    SELECT CAST(100.0 * CAST(SUM(CASE WHEN p.p_type LIKE 'PROMO%'
                        THEN {_SQL_PRICE} * (1 - {_SQL_DISC})
                        ELSE CAST(0.00 AS DECIMAL(18,2)) END) AS DOUBLE)
               / CAST(SUM({_SQL_PRICE} * (1 - {_SQL_DISC})) AS DOUBLE)
               AS DOUBLE) AS promo_revenue_pct
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-03-01'
      AND l.l_shipdate <  TIMESTAMP '1996-04-01'
    """,
    doc="""TPC-H Q14 shape (promotion effect): conditional aggregation
    over a month of the fact joined to the part dim — the
    numerator/denominator pattern (CASE inside SUM), one broadcast
    join, one ungrouped aggregate. Both sums are decimal-exact; the
    final percentage is one double division of identical doubles in
    both engines.""",
    tags=("composite", "tpch", "conditional-agg"),
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    rev = _price() * (F.lit(1).cast("decimal(1,0)") - _disc())
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                F.lit(100.0)
                * F.sum(
                    F.when(F.col("p_type").like("PROMO%"), rev).otherwise(
                        F.lit(0).cast("decimal(18,2)")
                    )
                ).cast("double")
                / F.sum(rev).cast("double")
            )
            .cast("double")
            .alias("promo_revenue_pct")
        )
    )


@register(
    "q19_disjunctive_predicates",
    oracle=f"""
    SELECT CAST(SUM({_SQL_PRICE} * (1 - {_SQL_DISC})) AS DOUBLE) AS revenue,
           COUNT(1) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1'  AND p.p_size BETWEEN 1 AND 15
           AND {_SQL_QTY} BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 1 AND 25
           AND {_SQL_QTY} BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#20' AND p.p_size BETWEEN 1 AND 35
           AND {_SQL_QTY} BETWEEN 20 AND 30)
    """,
    doc="""TPC-H Q19 shape (discounted revenue, disjunctive
    predicates): an equi-join on partkey whose THREE OR'd
    (brand, size-band, quantity-band) conjunct groups are residual
    filters — the optimizer stress-test for disjunction handling:
    Catalyst must still extract the common p_partkey equi-key (hash
    join, not BNLJ) and push the derivable single-side bounds
    (size >= 1, the quantity hull) below the join. Decimal-exact then
    DOUBLE.""",
    tags=("composite", "tpch", "disjunction"),
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    j = lineitem.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    grp = lambda brand, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, smax)
        & _qty().between(qlo, qhi)
    )
    return (
        j.filter(
            grp("Brand#1", 15, 1, 11)
            | grp("Brand#13", 25, 10, 20)
            | grp("Brand#20", 35, 20, 30)
        )
        .agg(
            F.sum(_price() * (F.lit(1).cast("decimal(1,0)") - _disc()))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q22_dormant_accounts",
    oracle="""
    WITH avg_bal AS (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
               / COUNT(1) AS v
        FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c.c_nationkey,
           COUNT(1) AS n_custs,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
    FROM customer c, avg_bal
    WHERE c.c_acctbal > avg_bal.v
      AND NOT EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey
            AND o.o_orderdate >= TIMESTAMP '2000-01-01'
      )
    GROUP BY 1
    """,
    doc="""TPC-H Q22 shape (global sales opportunity, adapted: the
    schema has no phone column, so 'dormant' = no orders since
    2000-01-01): a scalar aggregate subquery (average positive
    balance, broadcast 1-row — never collected to the driver) gating a
    LEFT ANTI join against the filtered orders, grouped per nation.
    The anti join's build side is orders AFTER the date filter —
    pushed below the join, so the probe shrinks with selectivity.""",
    tags=("composite", "tpch", "anti-join", "subquery"),
)
def q22_dormant_accounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    bal = F.col("c_acctbal").cast("decimal(12,2)")
    avg_bal = customer.filter(F.col("c_acctbal") > 0.0).agg(
        (F.sum(bal).cast("double") / F.count(F.lit(1))).alias("v")
    )
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    ).select("o_custkey")
    return (
        customer.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("v"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.sum(bal).cast("double").alias("total_bal"),
        )
    )


@register(
    "k1_hll_distinct_sketch",
    oracle=None,  # assigned below: generated from the sketch module
    doc="""HyperLogLog distinct-count sketch (m=256 registers) over
    events.user_id — the fixed-state replacement for the full-shuffle
    exact COUNT(DISTINCT) at 100 TB. Registers derive from md5 bits
    (engine-portable) and the harmonic sum is an exact scaled BIGINT,
    so this APPROXIMATE operator is still bit-exact against its DuckDB
    twin — registers, estimate, and relative error all hash-match.
    n_exact rides along as self-audit (it is the expensive path the
    sketch replaces; drop it in production).""",
    tags=("sketch", "aggregate", "scale-path"),
)
def k1_hll_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sketches as K

    return K.hll_distinct(load(spark, sf_dir, "events"), "user_id", p=8)


@register(
    "k2_countmin_frequencies",
    oracle=None,  # assigned below
    doc="""Count-min sketch (4 x 256 exact-BIGINT counters) frequency
    estimates for every event_type, with the exact count and the
    one-sided overestimate as self-audit columns. The sketch build is
    one narrow (i, slot) shuffle with map-side combine and its state
    is depth*width regardless of key cardinality — the 100 TB
    heavy-hitters primitive. md5-derived row hashes make the DuckDB
    twin bit-exact.""",
    tags=("sketch", "aggregate", "scale-path"),
)
def k2_countmin_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sketches as K

    return K.countmin_estimates(load(spark, sf_dir, "events"), "event_type", depth=4, width=256)


def _attach_sketch_oracles() -> None:
    from ..operators import sketches as K

    REGISTRY["k1_hll_distinct_sketch"].oracle = K.sql_hll_distinct("events", "user_id", p=8)
    REGISTRY["k2_countmin_frequencies"].oracle = K.sql_countmin_estimates(
        "events", "event_type", depth=4, width=256
    )


_attach_sketch_oracles()


@register(
    "e7_stream_interval_join",
    oracle="""
    SELECT v.user_id,
           v.event_id AS l_event_id,
           c.event_id AS r_event_id,
           v.ts AS l_ts,
           c.ts AS r_ts
    FROM events v
    JOIN events c
      ON c.user_id = v.user_id
     AND c.ts >= v.ts
     AND c.ts <= v.ts + INTERVAL 600 SECONDS
    WHERE v.event_type = 'view' AND c.event_type = 'click'
    """,
    doc="""Stream-STREAM interval join run for real (view -> click
    attribution): both sides are Structured Streaming file sources with
    watermarks, the join condition bounds the match window to 10
    minutes of event time, and state for a view is evicted once the
    click watermark passes — the unbounded-state trap a naive
    stream-stream join falls into at 100 TB (streaming/joins.py
    refuses to build one). Each side lands as one file so the
    availableNow drain is a single micro-batch and the inner join is
    complete; the oracle is the equivalent batch interval join.""",
    tags=("streaming", "join", "interval"),
)
def e7_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.joins import interval_join

    base = scratch_dir("e7_join_")
    vdir, cdir, out_dir, ckpt = (
        f"{base}/views", f"{base}/clicks", f"{base}/out", f"{base}/ckpt"
    )
    ev = load(spark, sf_dir, "events").select("user_id", "event_id", "ts", "event_type")
    ev.filter(F.col("event_type") == "view").drop("event_type").coalesce(1).write.mode(
        "overwrite"
    ).parquet(vdir)
    ev.filter(F.col("event_type") == "click").drop("event_type").coalesce(1).write.mode(
        "overwrite"
    ).parquet(cdir)
    schema = "user_id bigint, event_id bigint, ts timestamp"
    views = spark.readStream.schema(schema).parquet(vdir)
    clicks = spark.readStream.schema(schema).parquet(cdir)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        q = (
            interval_join(
                views, clicks, key="user_id", max_delay_seconds=600,
                watermark_delay="30 minutes", how="inner",
            )
            .select("user_id", "l_event_id", "r_event_id", "l_ts", "r_ts")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.read.schema(
        "user_id bigint, l_event_id bigint, r_event_id bigint, "
        "l_ts timestamp, r_ts timestamp"
    ).parquet(out_dir)


def _z1_oracle() -> str:
    from ..operators.bucketing import sql_zorder_key

    z = sql_zorder_key("u8", "v8", bits=8)
    return f"""
    WITH base AS (
        SELECT event_id, user_id, epoch_us(ts) // 60000000 AS mnt
        FROM events
    ),
    bounds AS (
        SELECT min(user_id) AS ulo, max(user_id) AS uhi,
               min(mnt) AS vlo, max(mnt) AS vhi
        FROM base
    ),
    norm AS (
        SELECT event_id, user_id,
               ((user_id - ulo) * 256) // (uhi - ulo + 1) AS u8,
               ((mnt - vlo) * 256) // (vhi - vlo + 1) AS v8
        FROM base, bounds
    )
    SELECT event_id, user_id, u8, v8, {z} AS z FROM norm
    """


@register(
    "z1_zorder_layout_key",
    oracle=None,  # attached below (generated from the operator's SQL twin)
    doc="""Range-normalized Z-order (Morton) clustering key over
    (user_id, event minute): each dimension min-max scales to 8 bits
    BEFORE interleaving — without normalization a narrow dimension's
    zero high bits let the wide one dominate the sort and the layout
    degenerates to a single-column sort (the classic z-order pitfall;
    production OPTIMIZE ZORDER range-partitions per column for the
    same reason). Sorting files by this key bounds every file's
    min/max stats to a rectangle in BOTH dimensions, so predicates on
    either column prune files (quantified in tests/
    test_scale_paths.py). Pure integer arithmetic + shift/and/or
    chain, bit-identical in DuckDB; bounds stay in-plan as a broadcast
    1-row aggregate.""",
    tags=("layout", "data-skipping", "scale-path"),
)
def z1_zorder_layout_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bucketing import zorder_key

    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.expr("unix_micros(cast(ts as timestamp)) div 60000000").alias("mnt"),
    )
    bounds = ev.agg(
        F.min("user_id").alias("ulo"), F.max("user_id").alias("uhi"),
        F.min("mnt").alias("vlo"), F.max("mnt").alias("vhi"),
    )
    norm = ev.crossJoin(F.broadcast(bounds)).select(
        "event_id",
        "user_id",
        F.expr("((user_id - ulo) * 256) div (uhi - ulo + 1)").alias("u8"),
        F.expr("((mnt - vlo) * 256) div (vhi - vlo + 1)").alias("v8"),
    )
    return norm.select(
        "event_id", "user_id", "u8", "v8",
        zorder_key(F.col("u8"), F.col("v8"), bits=8).alias("z"),
    )


REGISTRY["z1_zorder_layout_key"].oracle = _z1_oracle()


@register(
    "k3_bloom_membership",
    oracle=None,  # attached below from the operator's SQL twin
    doc="""Bloom-filter membership sketch: keys of orders placed before
    1997 build a 4096-bit / 4-hash filter; every customer key probes
    it. Fixed-state replacement for a full semi-join against a 100 TB
    build side (the engine-level, oracle-checkable form of Spark's
    runtime bloom join). One-sided error by construction — the exact
    membership verdict rides along, so the false-positive rate is
    auditable in the result itself.""",
    tags=("sketch", "membership", "scale-path"),
)
def k3_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import bloom_membership

    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")
    )
    customers = load(spark, sf_dir, "customer")
    return bloom_membership(
        orders.select(F.col("o_custkey").alias("k")),
        customers.select(F.col("c_custkey").alias("k")),
        "k",
        n_hashes=4,
        n_bits=4096,
    )


def _k3_oracle() -> str:
    from ..operators.sketches import sql_bloom_membership

    return sql_bloom_membership(
        "SELECT o_custkey AS key FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'",
        "SELECT c_custkey AS key FROM customer",
        n_hashes=4,
        n_bits=4096,
    )


REGISTRY["k3_bloom_membership"].oracle = _k3_oracle()


# round 4: recursive-CTE text surface (Spark 4.x WITH RECURSIVE)
_SQL4_RECURSIVE = """
    WITH RECURSIVE anc AS (
        SELECT p_partkey AS part, p_partkey AS node FROM part
        UNION ALL
        SELECT part, CAST(FLOOR(node / 2.0) AS BIGINT) FROM anc WHERE node > 1
    )
    SELECT a.node AS ancestor,
           COUNT(1) AS subtree_size,
           CAST(SUM(CAST(p.p_retailprice AS DECIMAL(18,2))) AS DOUBLE)
               AS subtree_value
    FROM anc a JOIN part p ON p.p_partkey = a.part
    GROUP BY a.node
"""


@register(
    "sql4_recursive_cte",
    oracle=_SQL4_RECURSIVE,
    doc="""Recursive CTE through the raw-SQL surface: a BOM-style
    subtree rollup. Parts form an implicit binary hierarchy
    (parent = floor(key/2)); the recursion materializes every
    (part, ancestor) closure pair (~11 levels deep), then a join +
    group-by aggregates each node's subtree size and value — the
    hierarchical-rollup shape (org charts, bills of materials,
    category trees) that plain SQL cannot express without recursion.
    The IDENTICAL ANSI text runs through ``spark.sql`` (Spark 4.x
    WITH RECURSIVE executes as an iterative union-loop plan, each
    step a distributed join — the driver only orchestrates) and the
    DuckDB oracle. Arithmetic note: ``FLOOR(node / 2.0)`` keeps the
    parent function engine-agnostic (integer ``/`` differs between
    dialects; float-divide-floor-cast is exact for these magnitudes
    and spelled identically in both). Money stays DECIMAL to the
    final DOUBLE cast. d6 proves iterative closure via the DataFrame
    API; this proves the text dialect.""",
    tags=("sql", "recursive", "hierarchy"),
)
def sql4_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL4_RECURSIVE)


@register(
    "e8_stream_static_enrich",
    oracle="""
    SELECT e.event_id, e.user_id, n.n_name AS nation, e.value
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    """,
    doc="""Stream-STATIC join run for real — the third Structured
    Streaming join mode (e6 dedup state, e7 stream-stream): an event
    stream enriched against a static dimension (customer -> nation),
    the canonical streaming-ETL enrichment. Stream-static inner joins
    are STATELESS (no watermark, no join state — the static side is
    re-resolved per micro-batch, so a dim update is picked up by the
    next batch) and the static side broadcasts: at 100 TB of stream
    the dim ships once per batch to each executor and no stream row
    ever shuffles. The stream lands as one file so the availableNow
    drain is one complete micro-batch; the oracle is the equivalent
    batch join.""",
    tags=("streaming", "join", "enrichment"),
)
def e8_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = scratch_dir("e8_enrich_")
    edir, out_dir, ckpt = f"{base}/events", f"{base}/out", f"{base}/ckpt"
    load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    ).coalesce(1).write.mode("overwrite").parquet(edir)
    stream = spark.readStream.schema(
        "event_id bigint, user_id bigint, ts timestamp, value double"
    ).parquet(edir)
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    static_dim = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    ).select(F.col("c_custkey").alias("user_id"), F.col("n_name").alias("nation"))
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        q = (
            stream.join(F.broadcast(static_dim), "user_id", "inner")
            .select("event_id", "user_id", "nation", "value")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.read.schema(
        "event_id bigint, user_id bigint, nation string, value double"
    ).parquet(out_dir)


@register(
    "dq2_robust_outliers",
    oracle="""
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM events GROUP BY 1
    ),
    dev AS (
        SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
        FROM events e JOIN med m ON m.event_type = e.event_type
    ),
    mad AS (
        SELECT event_type, quantile_cont(adev, 0.5) AS mad
        FROM dev GROUP BY 1
    )
    SELECT d.event_type,
           COUNT(1) AS n,
           MIN(d.med) AS med,
           MIN(a.mad) AS mad,
           CAST(SUM(CASE WHEN d.adev > 3 * a.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev d JOIN mad a ON a.event_type = d.event_type
    GROUP BY 1
    """,
    doc="""Distribution data-quality audit (dq2): robust per-group
    outlier detection via median/MAD — the dispersion measure that,
    unlike mean/stddev, is not itself dragged by the outliers it is
    trying to find (a corrupt feed of 1e9 values moves a z-score
    threshold arbitrarily; the MAD barely moves). Two grouped exact
    percentile passes (median of values, then median of absolute
    deviations) + one counting pass flagging |x − med| > 3·MAD.
    Determinism: raw doubles throughout, interpolated percentiles
    computed identically by both engines (a6's proven convention),
    flag comparisons on exact double arithmetic. At 100 TB the exact
    medians swap for ``approx_percentile`` (mergeable t-digest, one
    pass) with a documented rank-error bound — the operator shape
    (group → join back → flag) is unchanged.""",
    tags=("quality", "distribution", "outliers"),
)
def dq2_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(F.percentile("value", 0.5).alias("med"))
    dev = ev.join(med, "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(F.percentile("adev", 0.5).alias("mad"))
    return (
        dev.join(mad, "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("med").alias("med"),
            F.min("mad").alias("mad"),
            F.sum(
                F.when(F.col("adev") > 3 * F.col("mad"), 1).otherwise(0)
            ).cast("bigint").alias("n_outliers"),
        )
    )


@register(
    "e9_funnel_conversion",
    oracle="""
    WITH v AS (
        SELECT user_id, MIN(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY 1
    ),
    c AS (
        SELECT e.user_id, MIN(e.ts) AS t2
        FROM events e JOIN v ON v.user_id = e.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t1
        GROUP BY 1
    ),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS t3
        FROM events e JOIN c ON c.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t2
        GROUP BY 1
    )
    SELECT (SELECT COUNT(1) FROM v) AS n_view,
           (SELECT COUNT(1) FROM c) AS n_view_click,
           (SELECT COUNT(1) FROM p) AS n_view_click_purchase,
           CAST((SELECT COUNT(1) FROM p) AS DOUBLE)
             / CAST((SELECT COUNT(1) FROM v) AS DOUBLE) AS conversion
    """,
    doc="""Ordered funnel conversion (view -> click -> purchase): the
    product-analytics composite over the event stream. Strict ordering
    is enforced by chained first-occurrence aggregates — each stage's
    earliest qualifying timestamp must strictly follow the previous
    stage's (t1 < t2 < t3), which a naive per-type EXISTS would get
    wrong (a purchase before the first view is not a conversion).
    Three grouped passes, each shuffling only (user, ts) pairs and
    shrinking monotonically; the final counts are 1-row aggregates and
    the conversion ratio is one IEEE division of two exact BIGINTs.
    At 100 TB the same shape holds — stage N's relation is a strict
    subset of stage N-1's.""",
    tags=("events", "funnel", "analytics"),
)
def e9_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    nv = v.agg(F.count(F.lit(1)).alias("n_view"))
    nc = c.agg(F.count(F.lit(1)).alias("n_view_click"))
    np_ = p.agg(F.count(F.lit(1)).alias("n_view_click_purchase"))
    return (
        nv.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(np_))
        .select(
            "n_view",
            "n_view_click",
            "n_view_click_purchase",
            (
                F.col("n_view_click_purchase").cast("double")
                / F.col("n_view").cast("double")
            ).alias("conversion"),
        )
    )


@register(
    "k4_hll_union_sources",
    oracle=None,  # assigned below (generated from the sketch module)
    doc="""Mergeable HLL (k-family completion): one 256-register
    sketch per document source PLUS their register-wise max-merge as
    the corpus-wide distinct estimate — computed from the per-source
    REGISTERS, never by rescanning rows. Mergeability is the whole
    point of sketches at 100 TB: per-shard/per-day sketches combine
    into any ad-hoc scope with O(m) work, where the exact
    COUNT(DISTINCT) union would reshuffle every distinct value again.
    Same bit-exact contract as k1 (md5 registers, scaled-BIGINT
    harmonic sums); per-source and union exact counts ride along as
    self-audit.""",
    tags=("sketch", "aggregate", "mergeable", "scale-path"),
)
def k4_hll_union_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sketches as K

    return K.hll_union_by_group(
        load(spark, sf_dir, "documents"), "source", "text", p=8
    )


def _attach_k4_oracle() -> None:
    from ..operators import sketches as K

    REGISTRY["k4_hll_union_sources"].oracle = K.sql_hll_union_by_group(
        "documents", "source", "text", p=8
    )


_attach_k4_oracle()


@register(
    "k6_kmv_distinct",
    oracle=None,  # assigned below (generated from the sketch module)
    doc="""KMV / bottom-k distinct sketch (Bar-Yossef et al. 2002) per
    document source + the k-smallest-hash union merge — the sketch
    family's distinct-SAMPLING member: unlike HLL registers (k1/k4)
    the sketch IS a uniform hash sample of the distinct values, so it
    also answers set-overlap and distinct-sample questions. Hashes
    travel 8-byte before any shuffle; the union is computed from the
    per-group sketch rows (O(groups x k)), never a rescan. Same
    bit-exact contract as the other sketches: md5 order statistics,
    one final double division; exact distinct counts ride along as
    self-audit. operators/sketches.py:kmv_distinct_by_group.""",
    tags=("sketch", "aggregate", "mergeable", "scale-path"),
)
def k6_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sketches as K

    return K.kmv_distinct_by_group(
        load(spark, sf_dir, "documents"), "source", "text", k=64
    )


def _attach_k6_oracle() -> None:
    from ..operators import sketches as K

    REGISTRY["k6_kmv_distinct"].oracle = K.sql_kmv_distinct_by_group(
        "documents", "source", "text", k=64
    )


_attach_k6_oracle()


@register(
    "k7_tdigest_quantiles",
    oracle=None,  # assigned below (generated from the sketch module)
    doc="""t-digest quantile sketch (Dunning 2013) over order totals
    per order priority + a deterministically MERGED global digest —
    the quantile member of the sketch family (k1/k4 cardinality, k2
    frequency, k3 membership, k6 distinct-sampling). Centroid sizing
    uses the paper's ORIGINAL rational bound 4nq(1-q)/delta in exact
    integer arithmetic (no asin/libm), so boundaries, assignments, the
    (mean, scope, id) merge order, and the midpoint stratified merge
    replay bit-exactly in the DuckDB twin (recursive-CTE boundary
    generation). Centroid state is exact (weight, cent-sum); one
    double division per estimate; true quantiles ride along as
    self-audit with rank error bounded by centroid width. Rows
    shuffle once; merge cost is O(sketch rows), never a rescan.
    operators/sketches.py:tdigest_quantiles_by_group.""",
    tags=("sketch", "aggregate", "mergeable", "quantile", "scale-path"),
)
def k7_tdigest_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sketches as K

    orders = load(spark, sf_dir, "orders")
    return K.tdigest_quantiles_by_group(
        orders,
        "o_orderpriority",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"),
        F.col("o_orderkey"),
        delta=100,
    )


def _attach_k7_oracle() -> None:
    from ..operators import sketches as K

    REGISTRY["k7_tdigest_quantiles"].oracle = K.sql_tdigest_quantiles_by_group(
        "orders",
        "o_orderpriority",
        "round(o_totalprice * 100)",
        "o_orderkey",
        delta=100,
    )


_attach_k7_oracle()


@register(
    "k10_tdigest_sketch_path",
    oracle=None,  # assigned below (generated from the sketch module)
    doc="""The SHIPPED t-digest plan (VERDICT r7 item #2): identical
    sketch construction, stratified merge, and quantile estimates as
    k7_tdigest_quantiles, WITHOUT the exact-quantile self-audit whose
    global full-order window is oracle scaffolding, not the plan that
    runs at 100 TB. This is the bench headline's t-digest row — no
    global sort anywhere: one scope-keyed shuffle, O(scopes*delta)
    centroid state, broadcast boundary/probe joins. k7 (audit-bearing)
    stays registered and oracled for the rank-error audit.
    operators/sketches.py:tdigest_quantiles_by_group(audit=False).""",
    tags=("sketch", "aggregate", "mergeable", "quantile", "scale-path"),
)
def k10_tdigest_sketch_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sketches as K

    orders = load(spark, sf_dir, "orders")
    return K.tdigest_quantiles_by_group(
        orders,
        "o_orderpriority",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"),
        F.col("o_orderkey"),
        delta=100,
        audit=False,
    )


def _attach_k10_oracle() -> None:
    from ..operators import sketches as K

    REGISTRY["k10_tdigest_sketch_path"].oracle = K.sql_tdigest_quantiles_by_group(
        "orders",
        "o_orderpriority",
        "round(o_totalprice * 100)",
        "o_orderkey",
        delta=100,
        audit=False,
    )


_attach_k10_oracle()


@register(
    "k8_kmv_set_ops",
    oracle=None,  # assigned below (generated from the sketch module)
    doc="""KMV set-operation estimates (k8 — the capability k6's
    distinct-sampling design exists for, Beyer et al. 2007): Jaccard,
    intersection, and union estimates between two groups' part-key
    sets ('A' vs 'R' return flags over lineitem) computed ENTIRELY
    from sketch rows — the union sketch's k smallest hashes are
    membership-probed against each side (p = |K∩A∩B|/|K| estimates
    J; intersection ≈ p x union_est). One scan hashes the table;
    every later step is an O(k) join of sketch rows. Exact ndv of
    both sides rides along as self-audit. Same bit-exact contract as
    k1-k7: md5 order statistics, double division only at the end.
    operators/sketches.py:kmv_set_ops.""",
    tags=("sketch", "aggregate", "set-ops", "scale-path"),
)
def k8_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sketches as K

    return K.kmv_set_ops(
        load(spark, sf_dir, "lineitem"), "l_returnflag", "l_partkey",
        "A", "R", k=64,
    )


def _attach_k8_oracle() -> None:
    from ..operators import sketches as K

    REGISTRY["k8_kmv_set_ops"].oracle = K.sql_kmv_set_ops(
        "lineitem", "l_returnflag", "l_partkey", "A", "R", k=64
    )


_attach_k8_oracle()


@register(
    "k9_theta_sketch_bounds",
    oracle=None,  # assigned below (generated from the sketch module)
    doc="""Theta-sketch-style a-priori error BOUNDS on KMV set
    operations (k9 — the honesty layer k8's point estimates lack, the
    DataSketches bound construction): the union sketch's k-th hash
    fixes the sampling probability theta, any derived count with c
    retained members estimates c/theta with binomial sd
    sqrt(c(1-theta))/theta, and the intersection ships as
    [lb, ub] = [max(c, est-2sd), est+2sd]. Exact intersection rides
    along with an in-query containment flag — the interval CLAIM is
    itself oracle-checked bit-exactly (one IEEE sqrt, identical both
    engines). Unsaturated sketches collapse to exact counts. Scale:
    one scan to hash; everything after is O(k) sketch rows.
    operators/sketches.py:kmv_set_ops_bounds.""",
    tags=("sketch", "aggregate", "set-ops", "bounds", "scale-path"),
)
def k9_theta_sketch_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sketches as K

    return K.kmv_set_ops_bounds(
        load(spark, sf_dir, "lineitem"), "l_returnflag", "l_partkey",
        "A", "R", k=64,
    )


def _attach_k9_oracle() -> None:
    from ..operators import sketches as K

    REGISTRY["k9_theta_sketch_bounds"].oracle = K.sql_kmv_set_ops_bounds(
        "lineitem", "l_returnflag", "l_partkey", "A", "R", k=64
    )


_attach_k9_oracle()


_K11_SNOWFLAKE_TEXT = """
WITH states AS (
    SELECT o_orderpriority AS grp, MINHASH(32, o_custkey) AS mh
    FROM orders GROUP BY o_orderpriority
)
SELECT (SELECT CAST(COUNT(1) AS BIGINT) FROM states) AS n_states,
       (SELECT CAST(APPROXIMATE_SIMILARITY(mh) AS DOUBLE) FROM states)
           AS sim_all,
       (SELECT CAST(APPROXIMATE_JACCARD_INDEX(mh) AS DOUBLE)
        FROM states WHERE grp IN ('1-URGENT', '2-HIGH'))
           AS sim_urgent_high,
       (SELECT CAST(APPROXIMATE_SIMILARITY(mh) AS DOUBLE) FROM (
            SELECT MINHASH_COMBINE(mh) AS mh
            FROM states WHERE grp IN ('1-URGENT', '2-HIGH')
            UNION ALL
            SELECT MINHASH(32, o_custkey) AS mh FROM orders
            WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
       )) AS combine_equals_union
"""


@register(
    "k11_minhash_sql_family",
    oracle="""
    WITH regs AS (SELECT i FROM generate_series(0, 31) t(i)),
    h AS (
        SELECT o.o_orderpriority AS grp, r.i,
               MIN(CAST(concat('0x', substring(md5(concat(r.i, ':',
                   CAST(o.o_custkey AS VARCHAR))), 1, 15)) AS BIGINT))
                   AS mh
        FROM orders o CROSS JOIN regs r
        GROUP BY grp, r.i
    ),
    agree_all AS (
        SELECT CAST(SUM(CASE WHEN mn = mx THEN 1 ELSE 0 END) AS DOUBLE)
                 / 32 AS v
        FROM (SELECT i, MIN(mh) AS mn, MAX(mh) AS mx FROM h GROUP BY i)
    ),
    agree_uh AS (
        SELECT CAST(SUM(CASE WHEN mn = mx THEN 1 ELSE 0 END) AS DOUBLE)
                 / 32 AS v
        FROM (SELECT i, MIN(mh) AS mn, MAX(mh) AS mx FROM h
              WHERE grp IN ('1-URGENT', '2-HIGH') GROUP BY i)
    ),
    comb AS (SELECT i, MIN(mh) AS mh FROM h
             WHERE grp IN ('1-URGENT', '2-HIGH') GROUP BY i),
    direct AS (
        SELECT r.i,
               MIN(CAST(concat('0x', substring(md5(concat(r.i, ':',
                   CAST(o.o_custkey AS VARCHAR))), 1, 15)) AS BIGINT))
                   AS mh
        FROM orders o CROSS JOIN regs r
        WHERE o.o_orderpriority IN ('1-URGENT', '2-HIGH')
        GROUP BY r.i
    ),
    ceu AS (
        SELECT CAST(SUM(CASE WHEN c.mh = d.mh THEN 1 ELSE 0 END)
                 AS DOUBLE) / 32 AS v
        FROM comb c JOIN direct d USING (i)
    )
    SELECT (SELECT CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT)
            FROM orders) AS n_states,
           (SELECT v FROM agree_all) AS sim_all,
           (SELECT v FROM agree_uh) AS sim_urgent_high,
           (SELECT v FROM ceu) AS combine_equals_union
    """,
    doc="""Snowflake's MINHASH sketch family accepted VERBATIM (r13,
    VERDICT r12 #5 — previously a refusal): ``MINHASH(k, expr)`` ->
    k seeded register mins as one codegen'd hash-agg (exactly
    operators/dedup.py:_signatures_from_sets' shape — map-side
    partial mins, the shuffle carries k longs per group, never raw
    values), ``MINHASH_COMBINE(state)`` -> register-wise min over the
    group's states (bounded sketch-sized state, the k4 HLL-union
    shape), ``APPROXIMATE_SIMILARITY``/``APPROXIMATE_JACCARD_INDEX``
    -> the standard k-way estimator (fraction of registers on which
    all states agree = register-wise min equals max). Registers use
    the engine's PORTABLE md5-derived 60-bit hash (Snowflake's own is
    engine-internal and its estimates hash-draw-dependent there too),
    so the oracle replays every register bit-exactly in closed form —
    including combine(minhash(A), minhash(B)) == minhash(A UNION B),
    the algebraic property that makes the sketch mergeable across
    100 TB partitions (functions/sqldialect.py:_minhash_rewrite).""",
    tags=("sql-surface", "sketch", "dialect", "minhash", "aggregate"),
)
def k11_minhash_sql_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.snowflake_sql import snowflake_sql
    from .tables import register_views

    register_views(spark, sf_dir)
    return snowflake_sql(spark, _K11_SNOWFLAKE_TEXT)


_PROF4_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _prof4_oracle() -> str:
    cents = {c: f"CAST(round({c} * 100) AS BIGINT)" for c in _PROF4_COLS}
    sums = ["CAST(COUNT(1) AS BIGINT) AS n"]
    for i, a in enumerate(_PROF4_COLS):
        sums.append(f"CAST(SUM({cents[a]}) AS DECIMAL(38,0)) AS s_{i}")
        sums.append(
            f"CAST(SUM({cents[a]} * {cents[a]}) AS DECIMAL(38,0)) AS s_{i}{i}"
        )
        for j, b in enumerate(_PROF4_COLS):
            if j > i:
                sums.append(
                    f"CAST(SUM({cents[a]} * {cents[b]}) AS DECIMAL(38,0)) AS s_{i}{j}"
                )

    def d2(name: str) -> str:
        # parenthesized: this fragment interpolates into products, so
        # hi*2^26 + lo must bind as one term
        return (
            f"(CAST(CAST(CAST({name} AS HUGEINT) // 67108864 AS BIGINT) AS DOUBLE)"
            f" * 67108864.0 + CAST(CAST(CAST({name} AS HUGEINT) % 67108864"
            f" AS BIGINT) AS DOUBLE))"
        )

    pair_rows = []
    for i, a in enumerate(_PROF4_COLS):
        for j, b in enumerate(_PROF4_COLS):
            if j > i:
                num = f"(nd * {d2(f's_{i}{j}')} - {d2(f's_{i}')} * {d2(f's_{j}')})"
                den = (
                    f"sqrt((nd * {d2(f's_{i}{i}')} - {d2(f's_{i}')} * {d2(f's_{i}')})"
                    f" * (nd * {d2(f's_{j}{j}')} - {d2(f's_{j}')} * {d2(f's_{j}')}))"
                )
                pair_rows.append(
                    f"SELECT '{a}' AS x_col, '{b}' AS y_col, n,"
                    f" {num} / {den} AS corr FROM md"
                )
    return (
        f"WITH m AS (SELECT {', '.join(sums)} FROM lineitem),"
        f" md AS (SELECT *, CAST(n AS DOUBLE) AS nd FROM m) "
        + " UNION ALL ".join(pair_rows)
    )


@register(
    "prof4_corr_matrix",
    oracle=_prof4_oracle(),
    doc="""One-scan exact Pearson correlation MATRIX (prof1
    generalized to k columns — the whole-table profiling shape a
    100 TB pipeline wants): ONE aggregate pass computes all k first
    moments, k second moments, and k(k-1)/2 cross moments as exact
    DECIMAL(38,0) sums of integer cents (order-independent, no
    streaming double state), then every pairwise correlation is a
    closed-form expression over the single scalar row — k² statistics
    for one scan, no shuffle beyond the partial-agg exchange. Same
    bit-exactness machinery as prof1: round-then-cast cents, hi/lo
    split for >2^53 decimal->double conversion, IEEE-exact sqrt.
    Output: (x_col, y_col, n, corr) per unordered pair.""",
    tags=("statistics", "profile", "aggregate", "scale-path"),
)
def prof4_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load(spark, sf_dir, "lineitem")
    cents = {
        c: F.expr(f"CAST(round({c} * 100) AS BIGINT)") for c in _PROF4_COLS
    }
    aggs = [F.count(F.lit(1)).alias("n")]
    for i, a in enumerate(_PROF4_COLS):
        aggs.append(
            F.sum(cents[a].cast("decimal(38,0)")).cast("decimal(38,0)").alias(f"s_{i}")
        )
        aggs.append(
            F.sum((cents[a] * cents[a]).cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .alias(f"s_{i}{i}")
        )
        for j, b in enumerate(_PROF4_COLS):
            if j > i:
                aggs.append(
                    F.sum((cents[a] * cents[b]).cast("decimal(38,0)"))
                    .cast("decimal(38,0)")
                    .alias(f"s_{i}{j}")
                )
    m = lineitem.agg(*aggs)

    def d2(name: str):
        return F.expr(
            f"CAST({name} div 67108864 AS DOUBLE) * 67108864.0D"
            f" + CAST({name} % 67108864 AS DOUBLE)"
        )

    nd = F.col("n").cast("double")
    parts = []
    for i, a in enumerate(_PROF4_COLS):
        for j, b in enumerate(_PROF4_COLS):
            if j > i:
                num = nd * d2(f"s_{i}{j}") - d2(f"s_{i}") * d2(f"s_{j}")
                den = F.sqrt(
                    (nd * d2(f"s_{i}{i}") - d2(f"s_{i}") * d2(f"s_{i}"))
                    * (nd * d2(f"s_{j}{j}") - d2(f"s_{j}") * d2(f"s_{j}"))
                )
                parts.append(
                    m.select(
                        F.lit(a).alias("x_col"),
                        F.lit(b).alias("y_col"),
                        "n",
                        (num / den).alias("corr"),
                    )
                )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "prof1_corr_exact",
    oracle="""
    WITH m AS (
        SELECT CAST(COUNT(1) AS BIGINT) AS n,
               CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DECIMAL(38,0)) AS sx,
               CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DECIMAL(38,0)) AS sy,
               CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)
                        * CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS DECIMAL(38,0)) AS sxy,
               CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)
                        * CAST(round(l_quantity * 100) AS BIGINT))
                    AS DECIMAL(38,0)) AS sxx,
               CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                        * CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS DECIMAL(38,0)) AS syy
        FROM lineitem
    )
    , md AS (
        -- hi/lo split: each converted piece is < 2^53, so every step
        -- (exact hi/lo casts, one multiply, one add) is a correctly-
        -- rounded IEEE op identical in both engines; a direct
        -- decimal->double cast of a >2^53 sum is engine-specific
        -- (measured: 1-ulp divergence at sf0.1). HUGEINT, not DECIMAL,
        -- for // — DuckDB's DECIMAL // is not integer division.
        SELECT CAST(n AS DOUBLE) AS nd,
               CAST(CAST(CAST(sx AS HUGEINT) // 67108864 AS BIGINT) AS DOUBLE) * 67108864.0
                 + CAST(CAST(CAST(sx AS HUGEINT) % 67108864 AS BIGINT) AS DOUBLE) AS sxd,
               CAST(CAST(CAST(sy AS HUGEINT) // 67108864 AS BIGINT) AS DOUBLE) * 67108864.0
                 + CAST(CAST(CAST(sy AS HUGEINT) % 67108864 AS BIGINT) AS DOUBLE) AS syd,
               CAST(CAST(CAST(sxy AS HUGEINT) // 67108864 AS BIGINT) AS DOUBLE) * 67108864.0
                 + CAST(CAST(CAST(sxy AS HUGEINT) % 67108864 AS BIGINT) AS DOUBLE) AS sxyd,
               CAST(CAST(CAST(sxx AS HUGEINT) // 67108864 AS BIGINT) AS DOUBLE) * 67108864.0
                 + CAST(CAST(CAST(sxx AS HUGEINT) % 67108864 AS BIGINT) AS DOUBLE) AS sxxd,
               CAST(CAST(CAST(syy AS HUGEINT) // 67108864 AS BIGINT) AS DOUBLE) * 67108864.0
                 + CAST(CAST(CAST(syy AS HUGEINT) % 67108864 AS BIGINT) AS DOUBLE) AS syyd,
               n
        FROM m
    )
    SELECT n,
           (nd * sxyd - sxd * syd) / (nd * nd * 10000.0) AS covar_pop,
           (nd * sxyd - sxd * syd)
           / sqrt((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd)) AS corr
    FROM md
    """,
    doc="""Deterministic statistics profile: population covariance and
    Pearson correlation of (quantity, price) from EXACT integer moment
    sums — values scale to cents via round-then-cast (NEVER a bare
    double->int cast: Spark truncates where DuckDB rounds — a real
    cross-engine trap found by this query's own gate), the five moments
    accumulate in DECIMAL(38,0) (order-independent, no streaming
    double state), and the closed-form formula runs once on the final
    scalars. Spark's F.corr/F.covar_pop accumulate doubles in
    partition order — fine statistically, but not reproducible
    bit-for-bit across partitionings; this is how to get the same
    statistic deterministically at any scale. Sums larger than 2^53
    convert to double via a hi/lo split (each piece exact, recombined
    with correctly-rounded IEEE ops) because a direct decimal->double
    cast of such values is engine-specific — measured as a 1-ulp corr
    divergence at sf0.1; sqrt is IEEE-exact, so both engines produce
    identical bits at every scale.""",
    tags=("statistics", "profile", "aggregate"),
)
def prof1_corr_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load(spark, sf_dir, "lineitem")
    xc = F.expr("CAST(round(l_quantity * 100) AS BIGINT)")
    yc = F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
    m = lineitem.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xc.cast("decimal(38,0)")).cast("decimal(38,0)").alias("sx"),
        F.sum(yc.cast("decimal(38,0)")).cast("decimal(38,0)").alias("sy"),
        F.sum((xc * yc).cast("decimal(38,0)")).cast("decimal(38,0)").alias("sxy"),
        F.sum((xc * xc).cast("decimal(38,0)")).cast("decimal(38,0)").alias("sxx"),
        F.sum((yc * yc).cast("decimal(38,0)")).cast("decimal(38,0)").alias("syy"),
    )
    # hi/lo split conversion: each piece < 2^53 converts exactly; the
    # recombining multiply+add are correctly-rounded IEEE ops, so both
    # engines produce the identical double even for >2^53 sums (a
    # direct decimal->double cast there is engine-specific — measured
    # 1-ulp divergence at sf0.1)
    def d2(name: str):
        return F.expr(
            f"CAST({name} div 67108864 AS DOUBLE) * 67108864.0D"
            f" + CAST({name} % 67108864 AS DOUBLE)"
        )

    nd = F.col("n").cast("double")
    sx, sy = d2("sx"), d2("sy")
    sxy, sxx, syy = d2("sxy"), d2("sxx"), d2("syy")
    num = nd * sxy - sx * sy
    return m.select(
        "n",
        (num / (nd * nd * F.lit(10000.0))).alias("covar_pop"),
        (num / F.sqrt((nd * sxx - sx * sx) * (nd * syy - sy * sy))).alias("corr"),
    )


# Column profiler spec shared by the Spark builder and its oracle:
# (name, Spark rendering, DuckDB rendering). min/max aggregate the
# TYPED column and the canonical rendering is applied to the
# aggregated scalar — never the reverse: min/max over rendered strings
# is lexicographic and wrong for variable-width numerics (max '9999'
# beats '14999'). The renderings never pass raw doubles or timestamps
# across engines — money renders as cents-BIGINT (x -> round(x*100) is
# monotone, so min/max commute with it), timestamps through a
# FIXED-WIDTH format string (timezone-free on TIMESTAMP_NTZ; default
# to-string trims trailing fractional zeros engine-specifically), so
# the VARCHAR repr is bit-identical in Spark and DuckDB.
_PROF2_COLS: tuple[tuple[str, str, str], ...] = (
    ("o_orderkey", "CAST({c} AS STRING)", "CAST({c} AS VARCHAR)"),
    ("o_custkey", "CAST({c} AS STRING)", "CAST({c} AS VARCHAR)"),
    ("o_orderstatus", "{c}", "{c}"),
    (
        "o_totalprice",
        "CAST(CAST(round({c} * 100) AS BIGINT) AS STRING)",
        "CAST(CAST(round({c} * 100) AS BIGINT) AS VARCHAR)",
    ),
    (
        "o_orderdate",
        "date_format({c}, 'yyyy-MM-dd HH:mm:ss.SSSSSS')",
        "strftime({c}, '%Y-%m-%d %H:%M:%S.%f')",
    ),
    ("o_orderpriority", "{c}", "{c}"),
)


def _prof2_oracle() -> str:
    parts = []
    for c, _, duck in _PROF2_COLS:
        parts.append(
            f"SELECT '{c}' AS col_name, CAST(count(1) AS BIGINT) AS n_rows, "
            f"CAST(count(1) - count({c}) AS BIGINT) AS n_null, "
            f"CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct, "
            f"{duck.format(c=f'min({c})')} AS min_repr, "
            f"{duck.format(c=f'max({c})')} AS max_repr FROM orders"
        )
    return " UNION ALL ".join(parts)


@register(
    "prof2_table_profile",
    oracle=_prof2_oracle(),
    doc="""Whole-table column profiler (the warehouse `DESCRIBE`/DQ
    summary surface): per-column row count, null count, exact distinct
    count, and canonical min/max — emitted long-format (one row per
    column) from ONE scan of the table. The Spark plan computes every
    metric in a single aggregate (count-distincts share one Expand)
    and pivots to long form with `stack`; min/max render through
    engine-neutral canonical forms (cents-BIGINT for money,
    epoch-micros for timestamps) because raw double/timestamp
    to-string formatting differs across engines. Exact ndv is the
    correctness baseline here; at 100 TB the registered scale path is
    the k1 HLL sketch family (same answer shape, mergeable, one pass
    without Expand).""",
    tags=("profile", "quality", "aggregate"),
)
def prof2_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    for c, render, _ in _PROF2_COLS:
        aggs += [
            (F.count(F.lit(1)) - F.count(F.col(c))).cast("long").alias(f"{c}__nn"),
            F.count_distinct(F.col(c)).cast("long").alias(f"{c}__nd"),
            # typed aggregate first, canonical rendering on the scalar
            F.expr(render.format(c=f"min({c})")).alias(f"{c}__min"),
            F.expr(render.format(c=f"max({c})")).alias(f"{c}__max"),
        ]
    wide = orders.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__nn, {c}__nd, {c}__min, {c}__max" for c, _, _ in _PROF2_COLS
    )
    return wide.selectExpr(
        f"stack({len(_PROF2_COLS)}, {stack_args}) AS "
        "(col_name, n_null, n_distinct, min_repr, max_repr)",
        "n_rows",
    ).select("col_name", "n_rows", "n_null", "n_distinct", "min_repr", "max_repr")


@register(
    "e10_stream_outer_join",
    oracle="""
    SELECT v.user_id,
           v.event_id AS l_event_id,
           c.event_id AS r_event_id,
           v.ts AS l_ts,
           c.ts AS r_ts
    FROM events v
    LEFT JOIN events c
      ON c.user_id = v.user_id
     AND c.event_type = 'click'
     AND c.ts >= v.ts
     AND c.ts <= v.ts + INTERVAL 600 SECONDS
    WHERE v.event_type = 'view'
    """,
    doc="""Stream-STREAM LEFT OUTER interval join run for real — the
    attribution query that must also emit the views that did NOT
    convert. Outer emission is the hard streaming mode: an unmatched
    left row may only be emitted once the global watermark (the MIN
    across both inputs) closes its match window, so the newest views
    would sit in state forever on a drained source. The operator
    pushes a sentinel flush row (excluded from output) onto EACH
    stream two hours past the real data, advancing both watermarks
    beyond every real window; Spark's no-data final micro-batch then
    evicts and emits every unmatched view — streaming output equals
    the batch LEFT JOIN bit-for-bit. State per key stays bounded by
    (watermark delay + interval width) x arrival rate at 100 TB
    (streaming/joins.py:interval_join).""",
    tags=("streaming", "join", "outer"),
)
def e10_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.joins import interval_join

    base = scratch_dir("e10_join_")
    ev = load(spark, sf_dir, "events").select("user_id", "event_id", "ts", "event_type")
    # TEST-SOURCE SCAFFOLDING, not a production pattern: this driver
    # collect of max(ts) exists only to synthesize the sentinel flush
    # row for a bounded availableNow drain (the drained file source
    # never produces events past the fixture, so nothing would advance
    # the watermark past the last real window). A production stream
    # closes windows by watermark advance from the live event flow --
    # no driver pass over the data exists or is needed there.
    mx = ev.agg(F.max("ts")).collect()[0][0]

    def side(event_type: str, sentinel_id: int, path: str) -> None:
        real = ev.filter(F.col("event_type") == event_type).drop("event_type")
        sentinel = (
            spark.createDataFrame(
                [(sentinel_id, sentinel_id)], "user_id bigint, event_id bigint"
            )
            .withColumn("ts", F.lit(mx) + F.expr("INTERVAL 2 HOURS"))
        )
        real.unionByName(sentinel).coalesce(1).write.mode("overwrite").parquet(path)

    side("view", -1, f"{base}/views")
    side("click", -2, f"{base}/clicks")
    schema = "user_id bigint, event_id bigint, ts timestamp"
    views = spark.readStream.schema(schema).parquet(f"{base}/views")
    clicks = spark.readStream.schema(schema).parquet(f"{base}/clicks")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        q = (
            interval_join(
                views, clicks, key="user_id", max_delay_seconds=600,
                watermark_delay="30 minutes", how="left_outer",
            )
            .select("user_id", "l_event_id", "r_event_id", "l_ts", "r_ts")
            .writeStream.format("parquet")
            .option("path", f"{base}/out")
            .option("checkpointLocation", f"{base}/ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return (
        spark.read.schema(
            "user_id bigint, l_event_id bigint, r_event_id bigint, "
            "l_ts timestamp, r_ts timestamp"
        )
        .parquet(f"{base}/out")
        .filter(F.col("user_id") >= 0)
    )


@register(
    "e11_stream_window_agg",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(1) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
    doc="""Watermarked tumbling-window streaming aggregate run for
    REAL (the streaming twin of e1's batch shape, promoted from a
    test-only check to a driver query): append-mode windows emit
    exactly once when the watermark closes them, so a drained source
    would strand its newest 2 hours of windows in state forever — a
    sentinel flush row 4 hours past the real data (excluded from
    output) closes every real window and the no-data final micro-batch
    emits them. Streaming output equals the batch aggregate
    bit-for-bit; state is one row per open (window, event_type) —
    bounded by delay/duration x type cardinality at 100 TB, never by
    stream length (streaming/stateful.py:windowed_counts_stream).""",
    tags=("streaming", "window", "watermark"),
)
def e11_stream_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stateful import windowed_counts_stream

    base = scratch_dir("e11_win_")
    ev = load(spark, sf_dir, "events").select("ts", "event_type", "value")
    # TEST-SOURCE SCAFFOLDING, not a production pattern: this driver
    # collect of max(ts) exists only to synthesize the sentinel flush
    # row for a bounded availableNow drain (the drained file source
    # never produces events past the fixture, so nothing would advance
    # the watermark past the last real window). A production stream
    # closes windows by watermark advance from the live event flow --
    # no driver pass over the data exists or is needed there.
    mx = ev.agg(F.max("ts")).collect()[0][0]
    sentinel = (
        spark.createDataFrame([("__flush", 0.0)], "event_type string, value double")
        .withColumn("ts", F.lit(mx) + F.expr("INTERVAL 4 HOURS"))
        .select("ts", "event_type", "value")
    )
    ev.unionByName(sentinel).coalesce(1).write.mode("overwrite").parquet(f"{base}/src")
    src = spark.readStream.schema("ts timestamp, event_type string, value double").parquet(
        f"{base}/src"
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        q = (
            windowed_counts_stream(src, window_duration="1 hour", watermark_delay="2 hours")
            .writeStream.format("parquet")
            .option("path", f"{base}/out")
            .option("checkpointLocation", f"{base}/ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return (
        spark.read.schema(
            "window_start timestamp, event_type string, n_events bigint, total_value double"
        )
        .parquet(f"{base}/out")
        .filter(F.col("event_type") != "__flush")
    )


@register(
    "m9_cascading_delete",
    oracle="""
    WITH victims AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
    dead_orders AS (
        SELECT o_orderkey FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM victims)
    )
    SELECT 'customer' AS table_name,
           (SELECT CAST(count(*) AS BIGINT) FROM victims) AS n_deleted,
           (SELECT CAST(count(*) AS BIGINT) FROM customer
            WHERE c_custkey NOT IN (SELECT c_custkey FROM victims)) AS n_remaining
    UNION ALL
    SELECT 'orders',
           (SELECT CAST(count(*) AS BIGINT) FROM dead_orders),
           (SELECT CAST(count(*) AS BIGINT) FROM orders
            WHERE o_orderkey NOT IN (SELECT o_orderkey FROM dead_orders))
    UNION ALL
    SELECT 'lineitem',
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem
            WHERE l_orderkey IN (SELECT o_orderkey FROM dead_orders)),
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem
            WHERE l_orderkey NOT IN (SELECT o_orderkey FROM dead_orders))
    """,
    doc="""Right-to-be-forgotten cascading DELETE: erase a victim key
    set from the customer dim (operators/dml.py:delete_where), then
    cascade through orders and lineitem as LEFT ANTI joins on the
    propagated key sets — the distributed shape of referential delete
    at 100 TB (no per-row DELETE statements; each cascade level is one
    semi/anti join on its foreign key, and the victim key set stays
    broadcast-small). Emits the audit the compliance job needs:
    per-table (n_deleted, n_remaining), exact BIGINTs.""",
    tags=("M-family", "delete", "compliance"),
)
def m9_cascading_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dml import delete_where

    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    victims = customer.filter(F.col("c_custkey") % 97 == 0).select("c_custkey")
    cust_kept = delete_where(customer, F.col("c_custkey") % 97 == 0)
    dead_orders = orders.join(
        F.broadcast(victims), orders["o_custkey"] == victims["c_custkey"], "left_semi"
    ).select("o_orderkey")
    orders_kept = orders.join(
        F.broadcast(victims), orders["o_custkey"] == victims["c_custkey"], "left_anti"
    )
    line_dead = lineitem.join(
        F.broadcast(dead_orders), lineitem["l_orderkey"] == dead_orders["o_orderkey"],
        "left_semi",
    )
    line_kept = lineitem.join(
        F.broadcast(dead_orders), lineitem["l_orderkey"] == dead_orders["o_orderkey"],
        "left_anti",
    )

    def audit(name: str, deleted: DataFrame, remaining: DataFrame) -> DataFrame:
        d = deleted.agg(F.count(F.lit(1)).cast("long").alias("n_deleted"))
        r = remaining.agg(F.count(F.lit(1)).cast("long").alias("n_remaining"))
        return d.crossJoin(r).select(
            F.lit(name).alias("table_name"), "n_deleted", "n_remaining"
        )

    return (
        audit("customer", victims, cust_kept)
        .unionByName(audit("orders", dead_orders, orders_kept))
        .unionByName(audit("lineitem", line_dead, line_kept))
    )


@register(
    "dq5_constraint_checks",
    oracle="""
    WITH o AS (
        SELECT CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS u_key,
               CAST(count(*) FILTER (o_custkey IS NULL) AS BIGINT) AS nn_cust,
               CAST(count(*) FILTER (o_orderstatus NOT IN ('F','O','P'))
                    AS BIGINT) AS av_status
        FROM orders
    ),
    l AS (
        SELECT CAST(count(*) - count(DISTINCT concat(
                   CAST(l_orderkey AS VARCHAR), '|',
                   CAST(l_linenumber AS VARCHAR))) AS BIGINT) AS u_line
        FROM lineitem
    ),
    fk1 AS (
        SELECT CAST(count(*) AS BIGINT) AS n FROM orders
        WHERE NOT EXISTS (SELECT 1 FROM customer
                          WHERE c_custkey = o_custkey)
    ),
    fk2 AS (
        SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem
        WHERE NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_orderkey = l_orderkey)
    ),
    c AS (
        SELECT CAST(count(*) FILTER (c_name IS NULL) AS BIGINT) AS nn_name
        FROM customer
    )
    SELECT * FROM (
        SELECT 'unique:o_orderkey' AS check_name, 'orders' AS table_name,
               u_key AS n_violations FROM o
        UNION ALL
        SELECT 'not_null:o_custkey', 'orders', nn_cust FROM o
        UNION ALL
        SELECT 'accepted_values:o_orderstatus', 'orders', av_status FROM o
        UNION ALL
        SELECT 'unique:(l_orderkey,l_linenumber)', 'lineitem', u_line FROM l
        UNION ALL
        SELECT 'relationship:o_custkey->customer', 'orders', n FROM fk1
        UNION ALL
        SELECT 'relationship:l_orderkey->orders', 'lineitem', n FROM fk2
        UNION ALL
        SELECT 'not_null:c_name', 'customer', nn_name FROM c
    )
    """,
    doc="""Declarative data-quality CONSTRAINT battery — the dbt-tests
    / Snowflake-constraint discipline (unique, not_null,
    accepted_values, relationships) as engine operators, one row per
    check with its violation count. Extends dq1's single referential
    audit to the full constraint taxonomy a warehouse CI runs per
    load. Scale shape: all same-table checks FUSE into one aggregate
    pass (orders' unique + not_null + accepted_values is a single
    scan with conditional counts — never one scan per check);
    relationship checks are left-anti probes whose inner side is the
    key column only. Composite uniqueness counts via a canonical
    string key (engine-identical; component keys are non-null here —
    documented precondition). Zero violations on the corpus by
    construction; the checks themselves are the operator.""",
    tags=("dq", "constraints", "audit"),
)
def dq5_constraint_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    customer = load(spark, sf_dir, "customer")

    o = orders.agg(
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey"))
        .cast("long")
        .alias("u_key"),
        F.count(F.when(F.col("o_custkey").isNull(), 1)).cast("long").alias("nn_cust"),
        F.count(F.when(~F.col("o_orderstatus").isin("F", "O", "P"), 1))
        .cast("long")
        .alias("av_status"),
    )
    l = lineitem.agg(
        (
            F.count(F.lit(1))
            - F.countDistinct(
                F.concat(
                    F.col("l_orderkey").cast("string"),
                    F.lit("|"),
                    F.col("l_linenumber").cast("string"),
                )
            )
        )
        .cast("long")
        .alias("u_line")
    )
    fk1 = (
        orders.join(customer.select("c_custkey"),
                    orders.o_custkey == F.col("c_custkey"), "left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    fk2 = (
        lineitem.join(orders.select("o_orderkey"),
                      lineitem.l_orderkey == F.col("o_orderkey"), "left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    c = customer.agg(
        F.count(F.when(F.col("c_name").isNull(), 1)).cast("long").alias("nn_name")
    )

    def row(name: str, table: str, src: DataFrame, col: str) -> DataFrame:
        return src.select(
            F.lit(name).alias("check_name"),
            F.lit(table).alias("table_name"),
            F.col(col).alias("n_violations"),
        )

    return (
        row("unique:o_orderkey", "orders", o, "u_key")
        .unionByName(row("not_null:o_custkey", "orders", o, "nn_cust"))
        .unionByName(row("accepted_values:o_orderstatus", "orders", o, "av_status"))
        .unionByName(row("unique:(l_orderkey,l_linenumber)", "lineitem", l, "u_line"))
        .unionByName(row("relationship:o_custkey->customer", "orders", fk1, "n"))
        .unionByName(row("relationship:l_orderkey->orders", "lineitem", fk2, "n"))
        .unionByName(row("not_null:c_name", "customer", c, "nn_name"))
    )


@register(
    "dq3_distribution_drift",
    oracle="""
    WITH bounds AS (
        SELECT min(epoch_us(ts)) AS tlo, max(epoch_us(ts)) AS thi FROM events
    ),
    cents AS (
        SELECT event_type, epoch_us(ts) AS us,
               CAST(round(value * 100) AS BIGINT) AS c
        FROM events
    ),
    binned AS (
        -- explicit FLOOR division: both engines' integer '/' truncate
        -- toward zero with dividend-signed '%', so trunc-div plus the
        -- negative-remainder correction is floor at any magnitude
        SELECT event_type,
               (c // 2000) + (CASE WHEN c % 2000 < 0 THEN -1 ELSE 0 END) AS bin,
               CASE WHEN us <= (tlo + thi) // 2 THEN 1 ELSE 0 END AS in_a
        FROM cents, bounds
    ),
    cells AS (
        SELECT event_type, bin,
               CAST(sum(in_a) AS BIGINT) AS c_a,
               CAST(sum(1 - in_a) AS BIGINT) AS c_b
        FROM binned GROUP BY event_type, bin
    ),
    totals AS (
        SELECT event_type,
               CAST(sum(c_a) AS BIGINT) AS n_a,
               CAST(sum(c_b) AS BIGINT) AS n_b
        FROM cells GROUP BY event_type
    )
    SELECT c.event_type, t.n_a, t.n_b,
           CAST(CAST(sum(abs(c.c_a * t.n_b - c.c_b * t.n_a)) AS BIGINT) AS DOUBLE)
             / (2.0 * CAST(t.n_a AS DOUBLE) * CAST(t.n_b AS DOUBLE)) AS tv_drift
    FROM cells c JOIN totals t ON c.event_type = t.event_type
    GROUP BY c.event_type, t.n_a, t.n_b
    """,
    doc="""Distribution-drift monitor: total-variation distance between
    the first and second half of the stream, per event_type, over
    fixed-width value bins — the DQ check that catches a corrupt feed
    whose row COUNTS look fine. Everything is exact integer arithmetic
    until one final IEEE division: values bin via round-to-cents //
    binwidth (never a raw double floor), the TV numerator is
    sum |c_a*n_b - c_b*n_a| in BIGINT (order-independent), and the
    period split point derives from in-plan epoch-micros bounds
    (broadcast 1-row aggregate, no driver round-trip). At 100 TB the
    per-(type, bin) cell grid is tiny regardless of row count — one
    aggregate pass, vocabulary-bounded shuffle.""",
    tags=("quality", "drift", "statistics"),
)
def dq3_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
        # explicit floor division (trunc-div + negative-remainder
        # correction, exact BIGINT at any magnitude) so negative
        # values bin identically to the oracle's formula
        F.expr(
            "CAST(round(value * 100) AS BIGINT) div 2000"
            " + (CASE WHEN CAST(round(value * 100) AS BIGINT) % 2000 < 0"
            " THEN -1 ELSE 0 END)"
        ).alias("bin"),
    )
    bounds = ev.agg(
        F.min("us").alias("tlo"), F.max("us").alias("thi")
    )
    binned = ev.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        "bin",
        F.when(F.col("us") <= F.expr("(tlo + thi) div 2"), 1)
        .otherwise(0)
        .alias("in_a"),
    )
    cells = binned.groupBy("event_type", "bin").agg(
        F.sum("in_a").cast("long").alias("c_a"),
        F.sum(1 - F.col("in_a")).cast("long").alias("c_b"),
    )
    totals = cells.groupBy("event_type").agg(
        F.sum("c_a").cast("long").alias("n_a"),
        F.sum("c_b").cast("long").alias("n_b"),
    )
    return (
        cells.join(totals, "event_type")
        .groupBy("event_type", "n_a", "n_b")
        .agg(
            (
                F.sum(F.abs(F.col("c_a") * F.col("n_b") - F.col("c_b") * F.col("n_a")))
                .cast("long")
                .cast("double")
                / (2.0 * F.col("n_a").cast("double") * F.col("n_b").cast("double"))
            ).alias("tv_drift")
        )
        .select("event_type", "n_a", "n_b", "tv_drift")
    )


@register(
    "mv1_incremental_agg",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_revenue
    FROM lineitem GROUP BY 1, 2
    """,
    doc="""Incremental materialized-view maintenance: the MV state
    (per-(returnflag, linestatus) counts and DECIMAL measure sums) is
    maintained by MERGING a delta batch's partial aggregate into the
    existing state — a full-outer join on the group keys with
    coalesced additive combination — instead of rescanning history.
    Counts and SUMs are self-maintainable aggregates (each new state =
    old + delta, associative and exact in DECIMAL), which is why this
    is the O(delta) shape for dashboard rollups at 100 TB: the daily
    cost is the delta's aggregate plus a group-cardinality-bounded
    join, independent of the base table's size. The oracle recomputes
    the aggregate from ALL rows, so a green row PROVES the maintained
    state converged to the full recompute exactly (same convergence-
    proof pattern as pl_backfill_incremental). The delta here is the
    l_orderkey % 10 = 0 slice (~10%); base is the rest.""",
    tags=("M-family", "materialized-view", "incremental"),
)
def mv1_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("l_returnflag", "l_linestatus").agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(_qty()).alias("sum_qty"),
            F.sum(_price() * (F.lit(1) - _disc())).alias("sum_revenue"),
        )

    base = partial(li.filter(F.col("l_orderkey") % 10 != 0))
    delta = partial(li.filter(F.col("l_orderkey") % 10 == 0)).select(
        F.col("l_returnflag").alias("__rf"),
        F.col("l_linestatus").alias("__ls"),
        F.col("n_rows").alias("__n"),
        F.col("sum_qty").alias("__q"),
        F.col("sum_revenue").alias("__r"),
    )
    cond = (F.col("l_returnflag").eqNullSafe(F.col("__rf"))) & (
        F.col("l_linestatus").eqNullSafe(F.col("__ls"))
    )
    zero = F.lit(0).cast("decimal(18,2)")
    return (
        base.join(delta, cond, "full_outer")
        .select(
            F.coalesce(F.col("l_returnflag"), F.col("__rf")).alias("l_returnflag"),
            F.coalesce(F.col("l_linestatus"), F.col("__ls")).alias("l_linestatus"),
            (
                F.coalesce(F.col("n_rows"), F.lit(0)) + F.coalesce(F.col("__n"), F.lit(0))
            ).cast("long").alias("n_rows"),
            (F.coalesce(F.col("sum_qty"), zero) + F.coalesce(F.col("__q"), zero))
            .cast("double")
            .alias("sum_qty"),
            (F.coalesce(F.col("sum_revenue"), zero) + F.coalesce(F.col("__r"), zero))
            .cast("double")
            .alias("sum_revenue"),
        )
    )


@register(
    "pl_schema_evolution",
    oracle="""
    SELECT c_custkey, c_acctbal, CAST(NULL AS VARCHAR) AS c_tier
    FROM customer WHERE c_custkey % 2 = 0
    UNION ALL
    SELECT c_custkey, c_acctbal,
           CASE WHEN c_acctbal >= 5000 THEN 'gold' ELSE 'std' END AS c_tier
    FROM customer WHERE c_custkey % 2 = 1
    """,
    doc="""Schema evolution on a managed table: batch 1 lands with the
    v1 schema, batch 2 arrives with a NEW column (c_tier) and appends
    without rewriting history; a mergeSchema read reconciles the file
    schemas and v1 rows surface the evolved column as NULL — the
    add-column-without-backfill behavior every warehouse ALTER TABLE
    ADD COLUMN promises. At 100 TB this is the only viable evolution
    path (a backfilling rewrite of history is a full-table write);
    the explicit trailing select pins column order and types against
    parquet footer merge quirks.""",
    tags=("pipeline", "schema-evolution", "storage"),
)
def pl_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = scratch_dir("schevo_")
    cust = load(spark, sf_dir, "customer")
    v1 = cust.filter(F.col("c_custkey") % 2 == 0).select("c_custkey", "c_acctbal")
    v2 = cust.filter(F.col("c_custkey") % 2 == 1).select(
        "c_custkey",
        "c_acctbal",
        F.when(F.col("c_acctbal") >= 5000, "gold").otherwise("std").alias("c_tier"),
    )
    v1.write.mode("overwrite").parquet(f"{base}/t")
    v2.write.mode("append").parquet(f"{base}/t")
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(f"{base}/t")
        .select("c_custkey", "c_acctbal", F.col("c_tier").cast("string"))
    )


@register(
    "e12_foreachbatch_merge_sink",
    oracle="""
    SELECT user_id, event_id AS last_event_id, ts AS last_ts,
           event_type AS last_type
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                       ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
    WHERE rn = 1
    """,
    doc="""The production streaming-warehouse sink: a Structured
    Streaming query whose `foreachBatch` MERGEs each micro-batch into
    a managed table — the pattern every stream-to-dim pipeline uses
    when the sink needs upsert semantics a file sink can't express.
    Run for REAL over three micro-batches (maxFilesPerTrigger=1): each
    batch folds into the table state as latest-per-key over
    (target UNION batch) — deliberately ORDER-INDEPENDENT, so the
    final state equals the global latest-per-user regardless of
    micro-batch arrival order (a plain overwrite-on-match upsert would
    silently depend on file listing order). Checkpointed source
    offsets + idempotent per-batch table swap = effectively-once.
    State table holds one row per user; the per-batch merge cost is
    O(batch + |keys touched|), never O(history).""",
    tags=("streaming", "foreachBatch", "merge"),
)
def e12_foreachbatch_merge_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dml import ParquetTable
    from ..operators.merge import dedup_latest

    base = scratch_dir("e12_sink_")
    ev = load(spark, sf_dir, "events").select("user_id", "event_id", "ts", "event_type")
    lo, hi = ev.agg(
        F.min(F.expr("unix_micros(cast(ts as timestamp))")),
        F.max(F.expr("unix_micros(cast(ts as timestamp))")),
    ).collect()[0]
    step = (hi - lo) // 3 + 1
    us = F.expr("unix_micros(cast(ts as timestamp))")
    for i in range(3):
        ev.filter(
            (us >= lo + i * step) & (us < lo + (i + 1) * step)
        ).coalesce(1).write.mode("append").parquet(f"{base}/src")
    tbl = ParquetTable(spark, f"{base}/state")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        target = tbl.read() if tbl.exists() else batch_df.limit(0)
        tbl.overwrite(
            dedup_latest(
                target.unionByName(batch_df), ["user_id"], ["ts", "event_id"]
            )
        )

    src = (
        spark.readStream.schema(
            "user_id bigint, event_id bigint, ts timestamp, event_type string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{base}/src")
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        q = (
            src.writeStream.foreachBatch(sink)
            .option("checkpointLocation", f"{base}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return tbl.read().select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("ts").alias("last_ts"),
        F.col("event_type").alias("last_type"),
    )


_SQL5_SNOWFLAKE_TEXT = """
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM orders
    QUALIFY row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_totalprice DESC, o_orderkey) = 1
"""


@register(
    "sql5_qualify_dialect",
    # DuckDB supports QUALIFY natively, so the oracle runs the
    # SNOWFLAKE-DIALECT TEXT VERBATIM — the Spark side runs the same
    # text through the dialect shim. One source string, two engines.
    oracle=_SQL5_SNOWFLAKE_TEXT,
    doc="""Snowflake-dialect QUALIFY surface: the reference idiom's
    post-window filter (latest/top-1-per-key) accepted as-is. OSS
    Spark's parser rejects QUALIFY, so the engine lowers it textually
    to the ANSI subquery form (SELECT * EXCEPT(__qualify) FROM
    (... , pred AS __qualify) WHERE __qualify) before spark.sql —
    paren/string-aware top-level keyword location, conservative
    single-SELECT scope (functions/sqldialect.py:rewrite_qualify).
    The query itself: each customer's most expensive order. A
    reference user's QUALIFY queries run unmodified.""",
    tags=("sql-surface", "dialect", "qualify"),
)
def sql5_qualify_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import rewrite_qualify
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(rewrite_qualify(_SQL5_SNOWFLAKE_TEXT))


_SQL12_SNOWFLAKE_TEXT = """
SELECT 'pct' AS form, CAST(count(1) AS BIGINT) AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
FROM orders SAMPLE BERNOULLI (10) REPEATABLE (7)
UNION ALL
SELECT 'rows' AS form, CAST(count(1) AS BIGINT) AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
FROM orders TABLESAMPLE (500 ROWS)
ORDER BY form
"""


def _sql12_lowered() -> str:
    from ..functions.sqldialect import rewrite_sample

    return rewrite_sample(_SQL12_SNOWFLAKE_TEXT)


@register(
    "sql12_sample_dialect",
    # The lowered text is plain ANSI (exact BIGINT hash arithmetic +
    # ORDER BY/LIMIT), so the oracle runs the SAME lowering DuckDB-side
    # — one Snowflake source string, one rewrite, two engines.
    oracle=_sql12_lowered(),
    doc="""Snowflake SAMPLE / TABLESAMPLE dialect surface (the
    data-exploration idiom Snowflake users hit constantly): percent
    row sampling (SAMPLE BERNOULLI (10) REPEATABLE (7)) and fixed-size
    sampling (TABLESAMPLE (500 ROWS)) accepted as-is and lowered to
    the engine's deterministic salted-hash sampling machinery (x6/x17)
    — functions/sqldialect.py:rewrite_sample. Percent form lowers to a
    pure projection+filter (no shuffle at any scale, retry-stable, no
    RNG state); the ROWS form to a hash-ordered top-n (Spark plans
    TakeOrderedAndProject, never a global sort). SYSTEM/BLOCK page
    sampling refuses loudly rather than mistranslating.""",
    tags=("sql-surface", "dialect", "sampling"),
)
def sql12_sample_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_sql12_lowered())


@register(
    "pl_secured_view",
    oracle="""
    SELECT c_custkey,
           substring(c_name, 1, 1) || '***' AS c_name,
           c_nationkey,
           CAST(floor(c_acctbal / 1000) * 1000 AS DOUBLE) AS c_acctbal,
           c_mktsegment
    FROM customer WHERE c_nationkey < 5
    """,
    doc="""Governance policies as declarative plan rewrites (the
    Snowflake CREATE MASKING POLICY / ROW ACCESS POLICY seam a
    reference user depends on): the 'analyst' role's secured customer
    view applies the nation entitlement row filter FIRST (broadcast
    semi-join against the (role, nationkey) mapping — the fact side
    never shuffles), then partial-masks names (constant '***' suffix,
    no length leak) and bands balances to the lower 1000. Privileged
    roles constant-fold to the raw columns at plan time — masking
    costs nothing where it doesn't apply. plans/governance.py.""",
    tags=("pipeline", "governance", "masking"),
)
def pl_secured_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .governance import CUSTOMER_MASKING, CUSTOMER_ROW_ACCESS, secured_view

    return secured_view(
        load(spark, sf_dir, "customer"),
        role="analyst",
        masking=CUSTOMER_MASKING,
        row_access=CUSTOMER_ROW_ACCESS,
    )


@register(
    "pl_zero_copy_clone",
    oracle="""
    SELECT 'original' AS branch, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(round((c_acctbal
                    + CASE WHEN c_nationkey < 5 THEN 100 ELSE 0 END) * 100)
                AS BIGINT)) AS BIGINT) AS bal_cents
    FROM customer
    UNION ALL
    SELECT 'clone', CAST(count(*) AS BIGINT),
           CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
    FROM customer
    """,
    doc="""Zero-copy CLONE TABLE + divergence proof (the Snowflake
    dev/test/backup-branch workflow): materialize customer as a
    managed table, clone it with hardlink metadata ops (no bytes
    copied, no Spark job — operators/dml.py:ParquetTable.clone_to),
    then UPDATE the ORIGINAL (+100 balance for nations 0-4) through
    the atomic overwrite swap. The emitted per-branch audit (row
    count, exact balance cents) matches the oracle only if the clone
    still shows the PRE-update state — i.e. a green row proves clone
    isolation under the write-once file discipline.""",
    tags=("pipeline", "clone", "storage"),
)
def pl_zero_copy_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dml import ParquetTable, update_where

    base = scratch_dir("clone_")
    t = ParquetTable(spark, f"{base}/customer")
    t.overwrite(load(spark, sf_dir, "customer"))
    c = t.clone_to(f"{base}/customer_dev")
    t.overwrite(
        update_where(
            t.read(),
            F.col("c_nationkey") < 5,
            {"c_acctbal": F.col("c_acctbal") + 100.0},
        )
    )

    def audit(name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(name).alias("branch"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.expr("CAST(round(c_acctbal * 100) AS BIGINT)"))
            .cast("long")
            .alias("bal_cents"),
        )

    return audit("original", t.read()).unionByName(audit("clone", c.read()))


@register(
    "pl_time_travel",
    oracle="""
    SELECT CAST(1 AS BIGINT) AS version,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
    FROM customer
    UNION ALL
    SELECT 2, CAST(count(*) AS BIGINT),
           CAST(SUM(CAST(round((c_acctbal
                    + CASE WHEN c_nationkey < 5 THEN 100 ELSE 0 END) * 100)
                AS BIGINT)) AS BIGINT)
    FROM customer
    UNION ALL
    SELECT 3, CAST(count(*) AS BIGINT),
           CAST(SUM(CAST(round((c_acctbal
                    + CASE WHEN c_nationkey < 5 THEN 100 ELSE 0 END) * 100)
                AS BIGINT)) AS BIGINT)
    FROM customer WHERE c_mktsegment <> 'BUILDING'
    """,
    doc="""Time travel (the Snowflake ``SELECT ... AT (STATEMENT =>
    ...)`` / ``BEFORE`` surface a reference user leans on for
    audits and bad-deploy recovery): three DML versions are recorded
    into the table's changelog — v1 full load, v2 UPDATE (+100
    balance, nations 0-4), v3 DELETE (segment BUILDING) — then the
    state AT EACH version is reconstructed with
    streaming/changelog.py:snapshot_as_of (latest change per key at or
    before the version wins; DELETE means absent) and audited
    (n_rows, exact balance cents). The oracle recomputes all three
    states directly from the source, so a green row proves the
    changelog replay reconstructs every historical state exactly.
    Scale: the changelog is partitioned by _version — the
    ``_version <= v`` filter prunes partitions before any shuffle, and
    the replay window shuffles only CHANGED keys, never the table;
    retention is Changelog.vacuum (drops consumed partitions,
    keeps the travel horizon).""",
    tags=("pipeline", "time-travel", "changelog"),
)
def pl_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.changelog import Changelog, snapshot_as_of

    base = scratch_dir("timetravel_")
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal"
    )
    log = Changelog(spark, f"{base}/customer")
    log.record(cust, "UPSERT")  # v1: initial load
    updated = cust.filter(F.col("c_nationkey") < 5).withColumn(
        "c_acctbal", F.col("c_acctbal") + 100.0
    )
    log.record(updated, "UPSERT")  # v2: UPDATE nations 0-4
    # v3: DELETE segment BUILDING (rows as of v2 — content irrelevant
    # beyond the key, but schema-consistent)
    v2_state = cust.withColumn(
        "c_acctbal",
        F.when(F.col("c_nationkey") < 5, F.col("c_acctbal") + 100.0).otherwise(
            F.col("c_acctbal")
        ),
    )
    log.record(v2_state.filter(F.col("c_mktsegment") == "BUILDING"), "DELETE")
    changes = spark.read.parquet(log.log_path)

    def audit(v: int) -> DataFrame:
        snap = snapshot_as_of(changes, ["c_custkey"], v)
        return snap.agg(
            F.lit(v).cast("long").alias("version"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.expr("CAST(round(c_acctbal * 100) AS BIGINT)"))
            .cast("long")
            .alias("bal_cents"),
        )

    return audit(1).unionByName(audit(2)).unionByName(audit(3))


@register(
    "sql17_time_travel_at",
    oracle="""
    SELECT 'at_v1' AS probe, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
    FROM customer
    UNION ALL
    SELECT 'at_v2', CAST(count(*) AS BIGINT),
           CAST(SUM(CAST(round((c_acctbal
                    + CASE WHEN c_nationkey < 5 THEN 100 ELSE 0 END) * 100)
                AS BIGINT)) AS BIGINT)
    FROM customer
    UNION ALL
    SELECT 'before_history', CAST(count(*) AS BIGINT), CAST(NULL AS BIGINT)
    FROM customer WHERE FALSE
    """,
    doc="""Snowflake ``AT (TIMESTAMP => ...)`` time travel accepted
    VERBATIM (the text form of pl_time_travel's machinery): DML
    versions are recorded into the changelog with stamped commit times
    (injectable like the F1 clock), the AT clause is parsed off the
    query (functions/sqldialect.py:parse_time_travel), the timestamp
    resolves to the greatest stamped version at-or-before it
    (Changelog.version_at), the snapshot is reconstructed with
    snapshot_as_of, and the cleaned query runs against it. Probes: a
    mid-v1 timestamp (sees the initial load), a post-v2 one (sees the
    UPDATE), and a BEFORE-history one (empty table — Snowflake's
    'did not exist yet' boundary). BEFORE(...) and
    AT(STATEMENT/OFFSET) refuse rather than mistranslate. Scale notes
    are pl_time_travel's: _version partition pruning, replay shuffles
    changed keys only.""",
    tags=("sql-surface", "dialect", "time-travel", "changelog"),
)
def sql17_time_travel_at(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import parse_time_travel
    from ..streaming.changelog import Changelog, snapshot_as_of

    base = scratch_dir("tt_at_")
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal"
    )
    log = Changelog(spark, f"{base}/customer_hist")
    log.record(cust, "UPSERT", at="2024-01-01 00:00:00")  # v1 load
    updated = cust.filter(F.col("c_nationkey") < 5).withColumn(
        "c_acctbal", F.col("c_acctbal") + 100.0
    )
    log.record(updated, "UPSERT", at="2024-01-02 00:00:00")  # v2 UPDATE
    changes = spark.read.parquet(log.log_path)

    def run(probe: str, text: str) -> DataFrame:
        clean, table, ts, inclusive = parse_time_travel(text)
        v = log.version_at(ts) if inclusive else log.version_before(ts)
        snap = snapshot_as_of(changes, ["c_custkey"], v)
        snap.createOrReplaceTempView(table)
        return spark.sql(clean).select(F.lit(probe).alias("probe"), "*")

    q = (
        "SELECT CAST(count(*) AS BIGINT) AS n_rows, "
        "CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents "
        "FROM customer_hist AT (TIMESTAMP => '{ts}')"
    )
    return (
        run("at_v1", q.format(ts="2024-01-01 12:00:00"))
        .unionByName(run("at_v2", q.format(ts="2024-01-05 00:00:00")))
        .unionByName(run("before_history", q.format(ts="2023-12-31 00:00:00")))
    )


@register(
    "sql37_time_travel_offset",
    oracle="""
    SELECT 'offset_recent' AS probe, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(round((c_acctbal
                    + CASE WHEN c_nationkey < 5 THEN 100 ELSE 0 END) * 100)
                AS BIGINT)) AS BIGINT) AS bal_cents
    FROM customer
    UNION ALL
    SELECT 'offset_at_v1_edge', CAST(count(*) AS BIGINT),
           CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
    FROM customer
    UNION ALL
    SELECT 'offset_before_history', CAST(count(*) AS BIGINT), CAST(NULL AS BIGINT)
    FROM customer WHERE FALSE
    """,
    doc="""Snowflake ``AT (OFFSET => -n)`` relative time travel
    accepted verbatim (r8, VERDICT r7 item #3 — the refusal converted
    to a feature): the offset resolves against the INJECTABLE
    statement clock (the F1 frozen-clock convention) to an absolute
    timestamp ``now - n``, then reuses sql17's machinery — greatest
    stamped changelog version at-or-before it (Changelog.version_at),
    snapshot_as_of reconstruction, cleaned query over the registered
    snapshot. Probes with now = 2024-01-05 12:00:00: -3600 s (sees
    the v2 UPDATE), -4.5 days (lands exactly ON v1's stamp — the inclusive boundary),
    -10 years (before history: Snowflake's 'did not exist yet' empty
    table). functions/sqldialect.py:parse_time_travel (OFFSET branch).
    Scale notes are pl_time_travel's: _version partition pruning,
    replay shuffles changed keys only.""",
    tags=("sql-surface", "dialect", "time-travel", "changelog"),
)
def sql37_time_travel_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import parse_time_travel
    from ..streaming.changelog import Changelog, snapshot_as_of

    base = scratch_dir("tt_off_")
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal"
    )
    log = Changelog(spark, f"{base}/customer_hist")
    log.record(cust, "UPSERT", at="2024-01-01 00:00:00")  # v1 load
    updated = cust.filter(F.col("c_nationkey") < 5).withColumn(
        "c_acctbal", F.col("c_acctbal") + 100.0
    )
    log.record(updated, "UPSERT", at="2024-01-02 00:00:00")  # v2 UPDATE
    changes = spark.read.parquet(log.log_path)
    now = "2024-01-05 12:00:00"  # frozen statement clock (F1)

    def run(probe: str, text: str) -> DataFrame:
        clean, table, ts, inclusive = parse_time_travel(text, now=now)
        v = log.version_at(ts) if inclusive else log.version_before(ts)
        snap = snapshot_as_of(changes, ["c_custkey"], v)
        snap.createOrReplaceTempView(table)
        return spark.sql(clean).select(F.lit(probe).alias("probe"), "*")

    q = (
        "SELECT CAST(count(*) AS BIGINT) AS n_rows, "
        "CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents "
        "FROM customer_hist AT (OFFSET => {off})"
    )
    return (
        run("offset_recent", q.format(off=-3600))
        .unionByName(run("offset_at_v1_edge", q.format(off=-(4 * 86400 + 12 * 3600))))
        .unionByName(run("offset_before_history", q.format(off=-315360000)))
    )


@register(
    "sql40_time_travel_before",
    oracle="""
    SELECT 'before_v2_commit' AS probe, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
    FROM customer
    UNION ALL
    SELECT 'before_later', CAST(count(*) AS BIGINT),
           CAST(SUM(CAST(round((c_acctbal
                    + CASE WHEN c_nationkey < 5 THEN 100 ELSE 0 END) * 100)
                AS BIGINT)) AS BIGINT)
    FROM customer
    UNION ALL
    SELECT 'before_v1_commit', CAST(count(*) AS BIGINT), CAST(NULL AS BIGINT)
    FROM customer WHERE FALSE
    """,
    doc="""Snowflake ``BEFORE (TIMESTAMP => ...)`` time travel accepted
    verbatim (r8 — the last time-travel refusal next to AT/OFFSET):
    the state immediately BEFORE the given instant, i.e. the greatest
    stamped changelog version strictly < ts
    (streaming/changelog.py:version_before) — a version committed
    exactly AT the probe instant is EXCLUDED, Snowflake's documented
    AT-vs-BEFORE boundary, and exactly what this entry pins: probing
    BEFORE at v2's own commit stamp returns the v1 state (sql17's AT
    at the same instant returns v2), a later probe sees v2, and
    BEFORE at v1's own stamp is the empty 'did not exist yet' table.
    BEFORE(STATEMENT =>) still refuses — the changelog indexes commit
    times, not statement ids. Scale notes are pl_time_travel's:
    _version partition pruning, replay shuffles changed keys only.""",
    tags=("sql-surface", "dialect", "time-travel", "changelog"),
)
def sql40_time_travel_before(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import parse_time_travel
    from ..streaming.changelog import Changelog, snapshot_as_of

    base = scratch_dir("tt_bef_")
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal"
    )
    log = Changelog(spark, f"{base}/customer_hist")
    log.record(cust, "UPSERT", at="2024-01-01 00:00:00")  # v1 load
    updated = cust.filter(F.col("c_nationkey") < 5).withColumn(
        "c_acctbal", F.col("c_acctbal") + 100.0
    )
    log.record(updated, "UPSERT", at="2024-01-02 00:00:00")  # v2 UPDATE
    changes = spark.read.parquet(log.log_path)

    def run(probe: str, text: str) -> DataFrame:
        clean, table, ts, inclusive = parse_time_travel(text)
        v = log.version_at(ts) if inclusive else log.version_before(ts)
        snap = snapshot_as_of(changes, ["c_custkey"], v)
        snap.createOrReplaceTempView(table)
        return spark.sql(clean).select(F.lit(probe).alias("probe"), "*")

    q = (
        "SELECT CAST(count(*) AS BIGINT) AS n_rows, "
        "CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents "
        "FROM customer_hist BEFORE (TIMESTAMP => '{ts}')"
    )
    return (
        run("before_v2_commit", q.format(ts="2024-01-02 00:00:00"))
        .unionByName(run("before_later", q.format(ts="2024-02-01 00:00:00")))
        .unionByName(run("before_v1_commit", q.format(ts="2024-01-01 00:00:00")))
    )


@register(
    "sql43_changes_clause",
    oracle="""
    WITH upd AS (  -- v2: +100 for low nations
        SELECT c_custkey, c_nationkey, c_mktsegment,
               c_acctbal + CASE WHEN c_nationkey < 5 THEN 100 ELSE 0 END AS bal
        FROM customer
    ),
    newrows AS (   -- v4 inserts
        SELECT c_custkey + 1000000 AS c_custkey, c_nationkey,
               'NEWSEG' AS c_mktsegment, 0.0 AS bal
        FROM customer WHERE c_custkey % 97 = 0
    )
    -- probe 'full' (AT mid-v1): net delta v1 -> v4
    SELECT 'full' AS probe, c_custkey, c_nationkey, c_mktsegment,
           CAST(round(bal * 100) AS BIGINT) AS bal_cents,
           'INSERT' AS action, FALSE AS isupdate
    FROM newrows
    UNION ALL
    SELECT 'full', c_custkey, c_nationkey, c_mktsegment,
           CAST(round(c_acctbal * 100) AS BIGINT), 'DELETE', FALSE
    FROM customer WHERE c_custkey % 10 = 0
    UNION ALL
    SELECT 'full', u.c_custkey, u.c_nationkey, u.c_mktsegment,
           CAST(round(u.bal * 100) AS BIGINT), 'INSERT', TRUE
    FROM upd u WHERE u.c_nationkey < 5 AND u.c_custkey % 10 <> 0
    UNION ALL
    SELECT 'full', c_custkey, c_nationkey, c_mktsegment,
           CAST(round(c_acctbal * 100) AS BIGINT), 'DELETE', TRUE
    FROM customer WHERE c_nationkey < 5 AND c_custkey % 10 <> 0
    UNION ALL
    -- probe 'ao' (APPEND_ONLY over the same interval): inserts only
    SELECT 'ao', c_custkey, c_nationkey, c_mktsegment,
           CAST(round(bal * 100) AS BIGINT), 'INSERT', FALSE
    FROM newrows
    UNION ALL
    -- probe 'from_v2' (AT after the update): deletes carry the v2
    -- payload; the v2 updates themselves are invisible
    SELECT 'from_v2', c_custkey, c_nationkey, c_mktsegment,
           CAST(round(bal * 100) AS BIGINT), 'INSERT', FALSE
    FROM newrows
    UNION ALL
    SELECT 'from_v2', u.c_custkey, u.c_nationkey, u.c_mktsegment,
           CAST(round(u.bal * 100) AS BIGINT), 'DELETE', FALSE
    FROM upd u WHERE u.c_custkey % 10 = 0
    """,
    doc="""Snowflake's ``CHANGES (INFORMATION => DEFAULT |
    APPEND_ONLY) AT (TIMESTAMP => ...)`` clause accepted VERBATIM
    (r8) — the table-function form of streams: the NET row delta
    between the AT point and now with METADATA$ACTION /
    METADATA$ISUPDATE, resolved through the same stamped-version
    index as time travel (functions/sqldialect.py:changes_statement;
    streaming/changelog.py:table_changes). Probes over a 4-version
    changelog (load, +100 update for low nations, delete every 10th
    key, insert synthetic keys): 'full' pins all four delta kinds —
    plain inserts, deletes carrying the OLD payload, and the
    DELETE+INSERT pair (ISUPDATE true) for net updates; 'ao' pins the
    APPEND_ONLY flavor (journal-based per Snowflake's contract —
    inserts of genuinely-new keys; in this fixture the v4 rows);
    'from_v2' pins DEFAULT's net semantics — starting after the
    update, the update is INVISIBLE and deletes carry the updated
    payload. Insert-then-delete and re-insert journal cases are
    pinned in test_table_changes_net_semantics. Scale: DEFAULT is two
    _version-pruned snapshot replays + ONE keyed full-outer join;
    APPEND_ONLY is one keyed lag-window over the pruned journal —
    both shuffle deltas only.""",
    tags=("sql-surface", "dialect", "changes", "changelog", "streams"),
)
def sql43_changes_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import changes_statement
    from ..streaming.changelog import Changelog

    base = scratch_dir("chg_")
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal"
    )
    log = Changelog(spark, f"{base}/customer_hist")
    log.record(cust, "UPSERT", at="2024-01-01 00:00:00")  # v1 load
    updated = cust.filter(F.col("c_nationkey") < 5).withColumn(
        "c_acctbal", F.col("c_acctbal") + 100.0
    )
    log.record(updated, "UPSERT", at="2024-01-02 00:00:00")  # v2 update
    log.record(
        cust.filter(F.col("c_custkey") % 10 == 0),
        "DELETE",
        at="2024-01-03 00:00:00",
    )  # v3 delete
    newrows = cust.filter(F.col("c_custkey") % 97 == 0).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        "c_nationkey",
        F.lit("NEWSEG").alias("c_mktsegment"),
        F.lit(0.0).alias("c_acctbal"),
    )
    log.record(newrows, "UPSERT", at="2024-01-04 00:00:00")  # v4 insert
    changes = spark.read.parquet(log.log_path)
    keys = ["c_custkey"]

    def run(probe: str, text: str) -> DataFrame:
        out = changes_statement(spark, text, log, changes, keys)
        return out.select(
            F.lit(probe).alias("probe"),
            "c_custkey",
            "c_nationkey",
            "c_mktsegment",
            F.expr("CAST(round(c_acctbal * 100) AS BIGINT)").alias("bal_cents"),
            F.col("METADATA$ACTION").alias("action"),
            F.col("METADATA$ISUPDATE").alias("isupdate"),
        )

    q = (
        "SELECT * FROM customer_hist CHANGES (INFORMATION => {info})"
        " AT (TIMESTAMP => '{ts}')"
    )
    return (
        run("full", q.format(info="DEFAULT", ts="2024-01-01 12:00:00"))
        .unionByName(run("ao", q.format(info="APPEND_ONLY", ts="2024-01-01 12:00:00")))
        .unionByName(run("from_v2", q.format(info="DEFAULT", ts="2024-01-02 12:00:00")))
    )


@register(
    "pl_undrop",
    oracle="""
    SELECT 'restored' AS phase, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(round(s_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
    FROM supplier
    """,
    doc="""DROP TABLE + UNDROP (the Snowflake retention semantic: DROP
    renames the table into time-travel retention instead of deleting
    bytes, UNDROP renames it back — both O(1) metadata operations at
    any table size). The query materializes supplier as a managed
    table, DROPs it (the live path must then be gone — asserted, so a
    broken drop can't silently pass), UNDROPs it, and audits the
    restored content; green = the restored table is bit-identical to
    the pre-drop state. UNDROP over a live recreated table correctly
    refuses (unit-tested). operators/dml.py:ParquetTable.drop/undrop.""",
    tags=("pipeline", "undrop", "storage"),
)
def pl_undrop(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dml import ParquetTable

    base = scratch_dir("undrop_")
    t = ParquetTable(spark, f"{base}/supplier")
    t.overwrite(load(spark, sf_dir, "supplier"))
    t.drop()
    if t.exists():  # the drop must actually take the live path away
        raise RuntimeError("drop left the live table path in place")
    t.undrop()
    return t.read().agg(
        F.lit("restored").alias("phase"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.expr("CAST(round(s_acctbal * 100) AS BIGINT)"))
        .cast("long")
        .alias("bal_cents"),
    )


@register(
    "m10_multi_table_insert",
    oracle="""
    WITH routed AS (
        SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 'urgent'
                    WHEN o_totalprice > 300000 THEN 'large'
                    ELSE 'standard' END AS target,
               o_totalprice
        FROM orders
    )
    SELECT target, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
    FROM routed GROUP BY target
    """,
    doc="""Snowflake ``INSERT FIRST ... WHEN ... THEN INTO ... ELSE
    INTO`` — conditional multi-table insert routing every order into
    exactly one of three targets (urgent / large / standard) from ONE
    scan: rows are tagged by the first matching WHEN (later branches
    never see them — FIRST, not ALL, semantics), clustered by the tag
    in one shuffle, and written as one partitioned dataset whose
    branch directories ARE the target tables
    (operators/dml.py:multi_table_insert). The audit re-reads each
    materialized target from disk, so a green row proves the routing
    AND the writes. At 100 TB: one scan + one shuffle total,
    vs one full scan per target for the naive N-filter plan.""",
    tags=("dml", "multi-table-insert", "routing"),
)
def m10_multi_table_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dml import multi_table_insert

    base = scratch_dir("mti_")
    orders = load(spark, sf_dir, "orders")
    targets = multi_table_insert(
        spark,
        orders,
        branches=[
            ("urgent", F.col("o_orderpriority") == "1-URGENT"),
            ("large", F.col("o_totalprice") > 300000),
        ],
        base_path=f"{base}/routed",
        otherwise="standard",
    )
    audits = [
        t.read().agg(
            F.lit(name).alias("target"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .cast("long")
            .alias("price_cents"),
        )
        for name, t in targets.items()
    ]
    out = audits[0]
    for a in audits[1:]:
        out = out.unionByName(a)
    return out


@register(
    "pl_zonemap_prune",
    oracle="""
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY 1
    """,
    doc="""Zone-map scan pruning (the Snowflake micro-partition pruning
    semantic: per-micro-partition min/max metadata lets a date
    predicate skip partitions without opening them). orders is written
    range-clustered on o_orderdate into 8 files (UNPARTITIONED — no
    hive directories, so Spark's own partition pruning cannot help);
    ONE metadata pass builds the per-file min/max manifest
    (input_file_name-keyed aggregate — map-side combine makes the
    shuffle O(files), never O(rows)); the 1997-only query consults the
    manifest (O(files) metadata, the same class of read as a catalog
    listing), reads ONLY overlapping files, and applies the exact
    residual predicate (zone maps overapproximate). The query RAISES
    unless pruning actually skipped files, and the oracle computes
    from the full table — green = pruned scan ≡ full scan. At 100 TB:
    manifest kilobytes-per-file vs petabytes of data; this is the
    Iceberg/Delta manifest layer, engine-native.
    operators/zonemap.py.""",
    tags=("pipeline", "pruning", "zonemap", "layout"),
)
def pl_zonemap_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime

    from ..operators.zonemap import build_zone_map, pruned_read

    base = scratch_dir("zonemap_")
    orders = load(spark, sf_dir, "orders")
    path = f"{base}/orders_clustered"
    orders.repartitionByRange(8, "o_orderdate").write.parquet(path)
    manifest = build_zone_map(spark, path, ["o_orderdate"])
    lo = datetime.datetime(1997, 1, 1)
    hi = datetime.datetime(1997, 12, 31, 23, 59, 59, 999999)
    pruned, n_scanned, n_total = pruned_read(
        spark, manifest, orders.schema, "o_orderdate", lo, hi
    )
    if not 0 < n_scanned < n_total:
        raise RuntimeError(
            f"zone map failed to prune: scanned {n_scanned} of {n_total} files"
        )
    return (
        pruned.filter(
            (F.col("o_orderdate") >= F.lit(lo))
            & (F.col("o_orderdate") < F.lit(datetime.datetime(1998, 1, 1)))
        )
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .cast("long")
            .alias("price_cents"),
        )
    )


@register(
    "x25_sample_system",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS price_cents
    FROM lineitem
    WHERE CAST(concat('0x', substring(md5(
              concat('sys1:', CAST(l_orderkey % 16 AS VARCHAR))), 1, 15))
          AS BIGINT) % 1000000 < 250000
    GROUP BY l_returnflag
    """,
    doc="""Snowflake ``SAMPLE SYSTEM (25)`` — BLOCK sampling, the form
    rewrite_sample deliberately refuses (its result depends on storage
    layout, which no row-level rewrite can reproduce) — implemented
    HONESTLY at the storage layer: lineitem lands in a ManagedTable
    hive-partitioned on __bucket = l_orderkey % 16 (the micro-partition
    analog), the sampler hashes each partition VALUE (salted md5, the
    x6/sketch hash convention) and keeps those under 25% of the hash
    space, and ``read_partitions`` opens ONLY the selected directories
    — path-pruned exactly like the partition-pruned MERGE, so at 100 TB
    the unsampled blocks are never listed, let alone read. Snowflake's
    SYSTEM semantics hold: every row of a sampled block appears, no
    row-level filter runs. Deterministic and retry-stable (no RNG); the
    in-query guard RAISES unless 0 < selected < all. The oracle states
    the identical block membership relationally (bucket-hash predicate
    over the raw table) — checkable because the layout derives from
    row data, the property that makes block sampling testable at all.
    """,
    tags=("sample", "layout", "pruning", "scale-path"),
)
def x25_sample_system(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    from .catalog import Warehouse

    li = load(spark, sf_dir, "lineitem")
    base = scratch_dir("sample_system_")
    wh = Warehouse(spark, base)
    blocks = {"__bucket": F.col("l_orderkey") % 16}
    tbl = wh.table("stg", "li_blocks", li.schema, partition_by=blocks)
    tbl.overwrite(li)
    selected = [
        str(v)
        for v in range(16)
        if int(hashlib.md5(f"sys1:{v}".encode()).hexdigest()[:15], 16) % 1000000
        < 250000
    ]
    if not 0 < len(selected) < 16:
        raise RuntimeError(f"degenerate block sample: {selected!r}")
    return (
        tbl.read_partitions(selected)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
            .cast("long")
            .alias("price_cents"),
        )
    )


@register(
    "pl_result_cache",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
    FROM orders GROUP BY o_orderpriority
    """,
    doc="""Result cache (the Snowflake result-reuse / RESULT_SCAN
    semantic: an identical query over unchanged data is answered from
    the stored result, not a warehouse scan). The dashboard aggregate
    runs once (miss — computed and stored), then an independently
    CONSTRUCTED identical plan is served from the cache; the query
    RAISES unless the second call was a true hit and a
    predicate-changed probe a true miss (semanticHash keying), and
    raises again unless a SNAPSHOT bump (the table-mutation
    fingerprint) invalidates — so a green row proves reuse, plan
    sensitivity, AND data-change invalidation, while the oracle pins
    the served values. plans/result_cache.py.""",
    tags=("pipeline", "result-cache", "reuse"),
)
def pl_result_cache(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .result_cache import ResultCache

    cache = ResultCache(spark, scratch_dir("rescache_"))

    def dashboard_query() -> DataFrame:
        return (
            load(spark, sf_dir, "orders")
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_orders"),
                F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
                .cast("long")
                .alias("price_cents"),
            )
        )

    cache.get_or_compute(dashboard_query(), snapshot="v1")  # miss: computes
    served = cache.get_or_compute(dashboard_query(), snapshot="v1")  # hit
    if (cache.hits, cache.misses) != (1, 1):
        raise RuntimeError(f"expected 1 hit / 1 miss, got {cache.hits}/{cache.misses}")
    # a semantically different plan must NOT hit
    probe = dashboard_query().filter(F.col("o_orderpriority") != "1-URGENT")
    cache.get_or_compute(probe, snapshot="v1")
    if cache.misses != 2:
        raise RuntimeError("predicate-changed plan was wrongly served from cache")
    # data-change invalidation: same plan, bumped snapshot -> miss
    cache.get_or_compute(dashboard_query(), snapshot="v2")
    if cache.misses != 3:
        raise RuntimeError("snapshot bump failed to invalidate the cached result")
    return served


@register(
    "k5_file_bloom_prune",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
    FROM orders WHERE o_custkey = 7
    """,
    doc="""Point-lookup file skipping via per-file Bloom filters (the
    Snowflake SEARCH OPTIMIZATION SERVICE semantic: equality lookups
    on a non-clustered-key column skip micro-partitions through
    per-partition filter structures — zone maps can't help an
    equality predicate on a high-cardinality key). orders is written
    hash-clustered on o_custkey into 8 files; ONE pass builds the
    per-file Bloom manifest (DISTINCT (file, hash_i, slot) — at most
    files x n_hashes x n_bits rows regardless of row count, the k3
    fixed-state property); the custkey=7 lookup computes its 4 slots,
    keeps only files whose filter has ALL of them set (never a false
    negative, so never a wrong result — false positives just read an
    extra file), RAISES unless files were actually skipped, and
    applies the exact residual predicate. Oracle scans the full
    table — green = pruned lookup ≡ full scan. At 100 TB this is the
    needle-in-haystack path: O(files) metadata probe instead of
    opening every footer. operators/sketches.py:bloom_membership's
    slot formula, reused file-scoped.""",
    tags=("pruning", "bloom", "sketch", "layout"),
)
def k5_file_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_hashes, n_bits = 4, 4096
    base = scratch_dir("bloomprune_")
    orders = load(spark, sf_dir, "orders")
    path = f"{base}/orders_clustered"
    orders.repartition(8, "o_custkey").write.parquet(path)

    def slot(i: int, key) -> F.Column:
        return F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{i}|"), key.cast("string"))), 1, 15
                ),
                16,
                10,
            ).cast("long"),
            F.lit(n_bits),
        )

    back = spark.read.parquet(path)
    manifest = (
        back.select(
            F.input_file_name().alias("file"),
            *[slot(i, F.col("o_custkey")).alias(f"s{i}") for i in range(n_hashes)],
        )
        .groupBy("file")
        .agg(
            *[
                F.collect_set(f"s{i}").alias(f"bits{i}")
                for i in range(n_hashes)
            ]
        )
    )
    # NOTE collect_set here holds at most min(distinct keys-per-file,
    # n_bits) = 4096 ints per file — the Bloom filter ITSELF, not row
    # data; at scale this is the bitmap word array.
    target = F.lit(7).cast("long")
    probe = [slot(i, target) for i in range(n_hashes)]
    hits = manifest.select(
        "file",
        *[
            F.array_contains(F.col(f"bits{i}"), probe[i]).alias(f"h{i}")
            for i in range(n_hashes)
        ],
    ).collect()
    files = [r["file"] for r in hits if all(r[f"h{i}"] for i in range(n_hashes))]
    if not 0 < len(files) < len(hits):
        raise RuntimeError(
            f"bloom prune failed: scanned {len(files)} of {len(hits)} files"
        )
    return (
        spark.read.schema(orders.schema)
        .parquet(*files)
        .filter(F.col("o_custkey") == 7)
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("price_cents"),
        )
    )


_E13_RUNS = """
    ev AS (
        SELECT user_id, event_id, ts,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    dirs AS (
        SELECT user_id, event_id, ts, cents,
               CASE WHEN cents < lag(cents) OVER w THEN -1
                    WHEN cents > lag(cents) OVER w THEN 1
                    WHEN lag(cents) OVER w IS NULL THEN NULL
                    ELSE 0 END AS dir
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    runs0 AS (
        SELECT user_id, event_id, ts, dir,
               CASE WHEN dir IS DISTINCT FROM lag(dir) OVER w2
                    THEN 1 ELSE 0 END AS chg
        FROM dirs
        WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT user_id, event_id, ts, dir,
               SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS run_id
        FROM runs0 WHERE dir IS NOT NULL
    ),
    runs AS (
        SELECT user_id, run_id, dir,
               CAST(count(*) AS BIGINT) AS n,
               min(ts) AS first_ts, max(ts) AS last_ts
        FROM numbered GROUP BY user_id, run_id, dir
    )
"""


def _direction_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MATCH_RECOGNIZE lowering's shared run relation: per-user
    direction-run-length encoding of the event stream (one row per
    maximal up/down/flat run) — e13's PATTERN joins consume adjacent
    runs from it, and longer patterns (e17) just chain more of the
    same run_id+k equi-joins."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dirs = ev.withColumn(
        "dir",
        F.when(F.col("cents") < F.lag("cents").over(w), -1)
        .when(F.col("cents") > F.lag("cents").over(w), 1)
        .when(F.lag("cents").over(w).isNull(), F.lit(None).cast("int"))
        .otherwise(0),
    )
    numbered = (
        dirs.withColumn(
            "chg",
            F.when(
                ~F.col("dir").eqNullSafe(F.lag("dir").over(w)), 1
            ).otherwise(0),
        )
        .filter(F.col("dir").isNotNull())
        .withColumn(
            "run_id",
            F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    return numbered.groupBy("user_id", "run_id", "dir").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


@register(
    "e13_match_recognize",
    oracle=f"""
    WITH {_E13_RUNS}
    SELECT d.user_id,
           CAST(d.run_id AS BIGINT) AS match_id,
           d.n AS n_down, u.n AS n_up,
           d.first_ts AS start_ts, d.last_ts AS bottom_ts, u.last_ts AS end_ts
    FROM runs d
    JOIN runs u ON u.user_id = d.user_id AND u.run_id = d.run_id + 1
    WHERE d.dir = -1 AND u.dir = 1 AND d.n >= 2 AND u.n >= 2
    """,
    doc="""Row-pattern matching (the Snowflake/ANSI MATCH_RECOGNIZE
    surface): PATTERN (DOWN{2,} UP{2,}) over each user's event
    values ordered by time — the V-shape/recovery detector (DEFINE
    DOWN AS value < PREV(value), UP AS value > PREV(value); ONE ROW
    PER MATCH with FIRST/LAST measures). Spark has no MATCH_RECOGNIZE
    operator, so the engine lowers the pattern to its relational
    normal form: per-row direction via lag, run-length encoding via
    the gaps-and-islands running sum, one aggregate per run, and a
    self-join of adjacent runs (down then up) — every step
    whole-stage-codegen, shuffled once by user_id; adjacent-run
    matching is a run_id+1 equi-join on data already clustered by
    user. Strictly-equal neighbours (dir=0) break matches, exactly as
    the strict DEFINE requires. The oracle states the identical
    lowering in DuckDB. At 100 TB: runs compress events ~per-reversal,
    so the join input is a fraction of the raw stream; for longer
    regex-style patterns the same run relation feeds a chain of
    adjacent-run joins (e17).""",
    tags=("sql-surface", "match-recognize", "pattern"),
)
def e13_match_recognize(spark: SparkSession, sf_dir: str) -> DataFrame:
    runs = _direction_runs(spark, sf_dir)
    d = runs.filter((F.col("dir") == -1) & (F.col("n") >= 2)).select(
        "user_id",
        F.col("run_id").cast("long").alias("match_id"),
        F.col("n").alias("n_down"),
        F.col("first_ts").alias("start_ts"),
        F.col("last_ts").alias("bottom_ts"),
    )
    u = runs.filter((F.col("dir") == 1) & (F.col("n") >= 2)).select(
        "user_id",
        (F.col("run_id") - 1).cast("long").alias("match_id"),
        F.col("n").alias("n_up"),
        F.col("last_ts").alias("end_ts"),
    )
    return d.join(u, ["user_id", "match_id"]).select(
        "user_id", "match_id", "n_down", "n_up", "start_ts", "bottom_ts", "end_ts"
    )


@register(
    "e17_match_recognize_w",
    oracle=f"""
    WITH {_E13_RUNS}
    SELECT d1.user_id,
           CAST(d1.run_id AS BIGINT) AS match_id,
           d1.n AS n_d1, u1.n AS n_u1, d2.n AS n_d2, u2.n AS n_u2,
           d1.first_ts AS start_ts, u2.last_ts AS end_ts
    FROM runs d1
    JOIN runs u1 ON u1.user_id = d1.user_id AND u1.run_id = d1.run_id + 1
    JOIN runs d2 ON d2.user_id = d1.user_id AND d2.run_id = d1.run_id + 2
    JOIN runs u2 ON u2.user_id = d1.user_id AND u2.run_id = d1.run_id + 3
    WHERE d1.dir = -1 AND u1.dir = 1 AND d2.dir = -1 AND u2.dir = 1
      AND d1.n >= 2 AND u1.n >= 2 AND d2.n >= 2 AND u2.n >= 2
    """,
    doc="""Longer MATCH_RECOGNIZE pattern (the NOTES r6 lead made
    concrete): PATTERN (DOWN{{2,}} UP{{2,}} DOWN{{2,}} UP{{2,}}) — the
    W-shape / double-dip detector — lowered by CHAINING adjacent-run
    equi-joins off the same shared run relation e13 builds
    (_direction_runs): one run-length encoding pass, then run_id+1/
    +2/+3 joins with per-leg direction and quantifier predicates.
    This is the general compilation scheme for any concatenation
    pattern: k legs = k-1 extra joins on data already clustered by
    user, input compressed to ~one row per direction reversal — the
    run relation is built once and reused, never a rescan of raw
    events. Overlapping matches are reported per ANSI
    AFTER MATCH SKIP TO NEXT ROW semantics (each qualifying run
    start yields a match row). Oracle: identical chain in DuckDB.""",
    tags=("sql-surface", "match-recognize", "pattern"),
)
def e17_match_recognize_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    runs = _direction_runs(spark, sf_dir)
    legs = []
    for i, (dirv, label) in enumerate(
        [(-1, "d1"), (1, "u1"), (-1, "d2"), (1, "u2")]
    ):
        leg = runs.filter((F.col("dir") == dirv) & (F.col("n") >= 2)).select(
            F.col("user_id").alias(f"{label}_user"),
            (F.col("run_id") - i).cast("long").alias(f"{label}_match"),
            F.col("n").alias(f"n_{label}"),
            F.col("first_ts").alias(f"{label}_first"),
            F.col("last_ts").alias(f"{label}_last"),
        )
        legs.append(leg)
    out = legs[0]
    for leg, label in zip(legs[1:], ("u1", "d2", "u2")):
        out = out.join(
            leg,
            on=[
                out["d1_user"] == leg[f"{label}_user"],
                out["d1_match"] == leg[f"{label}_match"],
            ],
        )
    return out.select(
        F.col("d1_user").alias("user_id"),
        F.col("d1_match").alias("match_id"),
        "n_d1", "n_u1", "n_d2", "n_u2",
        F.col("d1_first").alias("start_ts"),
        F.col("u2_last").alias("end_ts"),
    )


_SQL32_MR_TEXT = """
SELECT * FROM events MATCH_RECOGNIZE (
  PARTITION BY user_id
  ORDER BY ts, event_id
  MEASURES MATCH_NUMBER() AS match_id,
           FIRST(down.ts) AS start_ts,
           LAST(up.ts) AS end_ts,
           COUNT(down.*) AS n_down,
           COUNT(up.*) AS n_up
  ONE ROW PER MATCH
  AFTER MATCH SKIP TO NEXT ROW
  PATTERN (DOWN{2,} UP{2,} DOWN{2,} UP{2,})
  DEFINE DOWN AS value < PREV(value),
         UP AS value > PREV(value)
)
"""


def _sql32_oracle() -> str:
    from ..functions.sqldialect import sql_match_recognize

    return sql_match_recognize(_SQL32_MR_TEXT)


@register(
    "sql32_match_recognize_text",
    oracle=None,  # assigned below (generated from the same parsed spec)
    doc="""MATCH_RECOGNIZE accepted VERBATIM — the ANSI/Snowflake
    row-pattern clause as TEXT, compiled by a general pattern
    compiler (functions/sqldialect.py:match_recognize_statement)
    instead of the hand-built e13/e17 plans: PARTITION BY / ORDER BY
    parsed as written, DEFINE's PREV comparisons become the direction
    column, the pattern's concatenation of quantified symbols becomes
    the run-relation chain — one run-length-encoding pass, then ONE
    adjacent-run equi-join per leg with direction + quantifier
    predicates ({n,} / {n} / + / bare all supported; adjacent
    same-direction symbols refuse, as strict PREV defines cannot
    produce them). MEASURES FIRST/LAST/COUNT aggregate across a
    symbol's legs (COUNT(DOWN.*) sums both DOWN legs of the W);
    MATCH_NUMBER() is the run id. ONE scan + one shuffle by the
    partition key; k legs = k-1 keyed joins over runs (~one row per
    reversal) — never a rescan, never a cartesian. The oracle is
    GENERATED from the same parsed spec (sql_match_recognize), so any
    accepted statement carries its own DuckDB twin — text in, oracle
    out.""",
    tags=("sql-surface", "match-recognize", "pattern", "dialect"),
)
def sql32_match_recognize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import match_recognize_statement

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    return match_recognize_statement(spark, _SQL32_MR_TEXT, {"events": ev})


def _attach_sql32_oracle() -> None:
    REGISTRY["sql32_match_recognize_text"].oracle = _sql32_oracle()


_attach_sql32_oracle()


_SQL38_MR_ALT = """
SELECT * FROM events MATCH_RECOGNIZE (
  PARTITION BY user_id
  ORDER BY ts, event_id
  MEASURES MATCH_NUMBER() AS match_id,
           COUNT(down.*) AS n_down,
           COUNT(up.*) AS n_up,
           FIRST(down.ts) AS first_down_ts,
           LAST(up.ts) AS last_up_ts
  ONE ROW PER MATCH
  AFTER MATCH SKIP TO NEXT ROW
  PATTERN ((DOWN{4,}|UP{4,}))
  DEFINE DOWN AS value < PREV(value),
         UP AS value > PREV(value)
)
"""

_SQL38_MR_GRP = """
SELECT * FROM events MATCH_RECOGNIZE (
  PARTITION BY user_id
  ORDER BY ts, event_id
  MEASURES MATCH_NUMBER() AS match_id,
           COUNT(down.*) AS n_down,
           COUNT(up.*) AS n_up,
           FIRST(down.ts) AS first_down_ts,
           LAST(up.ts) AS last_up_ts
  ONE ROW PER MATCH
  AFTER MATCH SKIP TO NEXT ROW
  PATTERN ((DOWN{2,} UP{2,}){1,2})
  DEFINE DOWN AS value < PREV(value),
         UP AS value > PREV(value)
)
"""


@register(
    "sql38_match_recognize_alt",
    oracle=None,  # assigned below (generated from the same parsed specs)
    doc="""MATCH_RECOGNIZE alternation + grouped repetition from TEXT
    (r8, VERDICT r7 item #4 — the two pattern-grammar refusals
    converted to features over the existing run relation):

    - ``(DOWN{4,}|UP{4,})`` — an ALTERNATION leg: one leg matching
      either direction, the branch resolved at runtime by the run's
      direction; measures attribute to the branch that actually ran
      (un-participating symbols yield COUNT 0 / FIRST-LAST NULL, the
      ANSI rule) — "flag every big move either way" in one statement.
    - ``(DOWN{2,} UP{2,}){1,2}`` — a GROUPED quantifier: the V-shape
      repeated once or twice (V or W), expanded to variants in greedy
      order (ANSI quantifiers prefer the longest match) and deduped
      per (partition, start run) by variant rank — a W is never also
      reported as its V prefix.

    Both statements run verbatim through the same pattern compiler
    (functions/sqldialect.py:_mr_parse_pattern /
    match_recognize_statement) and each GENERATES its own DuckDB twin
    (sql_match_recognize), so the oracle covers branch attribution
    AND greedy variant selection bit-exactly. Scale shape unchanged
    from sql32: one shuffle builds the run relation (Spark reuses the
    exchange across variants), k-leg variants are k-1 keyed run
    joins, greedy dedupe is a window over match starts — never a
    rescan, never a cartesian.""",
    tags=("sql-surface", "match-recognize", "pattern", "dialect"),
)
def sql38_match_recognize_alt(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import match_recognize_statement

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    alt = match_recognize_statement(spark, _SQL38_MR_ALT, {"events": ev})
    grp = match_recognize_statement(spark, _SQL38_MR_GRP, {"events": ev})
    return alt.select(F.lit("alt").alias("probe"), "*").unionByName(
        grp.select(F.lit("grp").alias("probe"), "*")
    )


def _attach_sql38_oracle() -> None:
    from ..functions.sqldialect import sql_match_recognize

    REGISTRY["sql38_match_recognize_alt"].oracle = (
        f"SELECT 'alt' AS probe, * FROM ({sql_match_recognize(_SQL38_MR_ALT)})"
        " UNION ALL "
        f"SELECT 'grp' AS probe, * FROM ({sql_match_recognize(_SQL38_MR_GRP)})"
    )


_attach_sql38_oracle()


@register(
    "pl_dynamic_table",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
    FROM orders GROUP BY o_orderpriority
    """,
    doc="""Dynamic table (the Snowflake CREATE DYNAMIC TABLE ...
    TARGET_LAG semantic — the declarative successor to the
    reference's hand-built stream+task+MERGE chains): a per-priority
    revenue aggregate defined ONCE, kept fresh by scheduled
    incremental refreshes. The run lands 80% of orders, refreshes
    (cycle 1 builds the state), lands the remaining 20%, refreshes
    again (cycle 2 partial-aggregates ONLY the delta — changelog
    offsets + _version partition pruning make it O(new rows)), then
    runs a third cycle that must SKIP via the WHEN gate (no new
    data). In-query asserts pin the task history
    (SUCCEEDED/SUCCEEDED/SKIPPED); the oracle recomputes from ALL
    orders, so green = the incremental refresh chain converged to the
    exact full recompute. plans/dynamic_table.py (composition of
    changelog consumer + incremental_agg_merge + WHEN-gated task).""",
    tags=("pipeline", "dynamic-table", "incremental", "tasks"),
)
def pl_dynamic_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.changelog import Changelog
    from ..streaming.tasks import TaskDag
    from .dynamic_table import DynamicTable

    base = scratch_dir("dyntab_")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    log = Changelog(spark, f"{base}/orders_base")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("price_cents"),
        )

    dt = DynamicTable(
        spark,
        f"{base}/dt_priority_revenue",
        log,
        partial,
        keys=["o_orderpriority"],
        sum_cols=["price_cents"],
        count_col="n_orders",
    )
    dag = TaskDag(spark, "dt_refresh")
    dt.as_task(dag, "refresh_priority_revenue")

    log.record(orders.filter(F.col("o_orderkey") % 5 != 0), "INSERT")
    dag.run_cycle()  # cycle 1: initial build
    log.record(orders.filter(F.col("o_orderkey") % 5 == 0), "INSERT")
    dag.run_cycle()  # cycle 2: O(delta) incremental fold
    dag.run_cycle()  # cycle 3: nothing new -> WHEN gate must SKIP
    states = [r.state for r in dag.history]
    if states != ["SUCCEEDED", "SUCCEEDED", "SKIPPED"]:
        raise RuntimeError(f"unexpected refresh history: {states}")
    return dt.read().select(
        "o_orderpriority",
        F.col("n_orders").cast("long").alias("n_orders"),
        F.col("price_cents").cast("long").alias("price_cents"),
    )


@register(
    "w5_rank_distribution_funcs",
    oracle="""
    WITH ranked AS (
        SELECT o_orderkey, o_orderpriority,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               percent_rank() OVER w AS pct_rank,
               cume_dist() OVER w AS cume,
               nth_value(o_orderkey, 2) OVER (
                   w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
               ) AS second_key,
               first_value(o_orderkey) OVER (
                   w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
               ) AS cheapest_key,
               last_value(o_orderkey) OVER (
                   w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
               ) AS priciest_key
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority
                     ORDER BY CAST(round(o_totalprice * 100) AS BIGINT), o_orderkey)
    )
    SELECT * FROM ranked WHERE o_orderkey % 97 = 0
    """,
    doc="""Rank-distribution window battery — the analytic functions w2
    (frames/lag/rank) and w4 (ntile) don't cover: percent_rank,
    cume_dist, nth_value, and first/last_value over the full-partition
    frame (the default frame would make last_value the current row —
    the classic trap, pinned here). Ranks are computed over the FULL
    partition, then the emitted rows subsample by key so the compared
    set stays small without changing any rank. percent_rank/cume_dist
    are exact integer-ratio doubles (rank arithmetic, one division) —
    deterministic across engines; the (cents, orderkey) composite sort
    key makes every position unique. One shuffle by priority.""",
    tags=("window", "rank", "distribution"),
)
def w5_rank_distribution_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    w = Window.partitionBy("o_orderpriority").orderBy("cents", "o_orderkey")
    full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        orders.select(
            "o_orderkey",
            "o_orderpriority",
            "cents",
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cume"),
            F.nth_value("o_orderkey", 2).over(full).alias("second_key"),
            F.first("o_orderkey").over(full).alias("cheapest_key"),
            F.last("o_orderkey").over(full).alias("priciest_key"),
        )
        .filter(F.col("o_orderkey") % 97 == 0)
    )


@register(
    "w6_ignore_nulls_fill",
    oracle="""
    WITH sparse AS (
        SELECT user_id, event_id, ts,
               CASE WHEN event_id % 7 = 0 THEN value END AS reading
        FROM events
    )
    SELECT user_id, event_id, reading,
           last_value(reading IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_locf,
           first_value(reading IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
           ) AS filled_nocb
    FROM sparse
    """,
    doc="""IGNORE NULLS window fill — the time-series imputation idiom
    (Snowflake LAG/LAST_VALUE ... IGNORE NULLS) the w2/w3/w5 batteries
    leave uncovered. A sparse sensor column (reporting only on
    event_id % 7 = 0, deliberately derived so every fill branch is
    real) is forward-filled (LOCF: last non-null up to the current
    row) and backward-filled (NOCB: first non-null from the current
    row on) per user in event-time order. Spark expresses both as
    last/first(ignorenulls=True) over the matching frame — one
    shuffle by user, values pass through untouched (no float
    arithmetic, bit-exact). The (ts, event_id) composite order key is
    unique, so fills are engine-independent.""",
    tags=("window", "ignore-nulls", "timeseries", "fill"),
)
def w6_ignore_nulls_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        F.when(F.col("event_id") % 7 == 0, F.col("value")).alias("reading"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        "reading",
        F.last("reading", ignorenulls=True)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("filled_locf"),
        F.first("reading", ignorenulls=True)
        .over(w.rowsBetween(0, Window.unboundedFollowing))
        .alias("filled_nocb"),
    )


@register(
    "a8_filtered_aggregates",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_all,
           CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_finished,
           CAST(count(DISTINCT o_custkey) FILTER (WHERE o_totalprice > 150000)
                AS BIGINT) AS n_big_spenders,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                FILTER (WHERE o_orderdate >= TIMESTAMP '1998-01-01')
                AS BIGINT) AS recent_cents,
           CAST(coalesce(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                FILTER (WHERE o_orderstatus = 'O'), 0) AS BIGINT) AS open_cents
    FROM orders GROUP BY o_orderpriority
    """,
    doc="""Conditional-aggregate battery (the FILTER clause / count_if
    surface — the one aggregate idiom a4-a7 leave uncovered): counts,
    a FILTERed count DISTINCT, and FILTERed sums with and without a
    COALESCE default, all computed in ONE aggregate pass (a naive
    translation runs one scan per condition; the conditional form is
    the single-scan plan that matters when the scan is 100 TB).
    Spark expresses FILTER as count_if / sum(CASE WHEN) — identical
    semantics, including the null-when-no-rows-match SUM that
    open_cents deliberately contrasts with recent_cents.""",
    tags=("aggregate", "filter", "conditional"),
)
def a8_filtered_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    cents = F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_all"),
        F.count_if(F.col("o_orderstatus") == "F").cast("long").alias("n_finished"),
        F.count_distinct(
            F.when(F.col("o_totalprice") > 150000, F.col("o_custkey"))
        )
        .cast("long")
        .alias("n_big_spenders"),
        F.sum(F.when(F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"), cents))
        .cast("long")
        .alias("recent_cents"),
        F.coalesce(
            F.sum(F.when(F.col("o_orderstatus") == "O", cents)), F.lit(0)
        )
        .cast("long")
        .alias("open_cents"),
    )


_SQL6_SNOWFLAKE_TEXT = """
SELECT d.doc_id, f.index AS word_pos, f.value AS word
FROM documents d, LATERAL FLATTEN(input => split(d.text, ' ')) f
WHERE d.doc_id % 25 = 0 AND f.index < 8
"""


@register(
    "sql6_flatten_dialect",
    oracle="""
    SELECT d.doc_id,
           CAST(g.i AS BIGINT) AS word_pos,
           string_split(d.text, ' ')[g.i + 1] AS word
    FROM documents d,
         UNNEST(generate_series(0, len(string_split(d.text, ' ')) - 1)) AS g(i)
    WHERE d.doc_id % 25 = 0 AND g.i < 8
    """,
    doc="""Snowflake ``LATERAL FLATTEN(input => ...)`` accepted
    VERBATIM (the second dialect shim after sql5's QUALIFY): the
    reference idiom for exploding semi-structured/array values lowers
    textually to Spark's ``LATERAL VIEW posexplode`` with the
    (index, value) output columns FLATTEN's array form populates —
    0-based index matching Snowflake; OUTER lowers to LATERAL VIEW
    OUTER (sql8), MODE => 'OBJECT' to a map explode (sql11), and
    RECURSIVE/PATH raise rather than mistranslate
    (functions/sqldialect.py:rewrite_flatten). A generator is a
    narrow per-row expansion — no shuffle, no join; the oracle states
    the same rows relationally. Split-by-raw-space (not the
    normalized tokenizer) keeps this a pure dialect surface.""",
    tags=("sql-surface", "dialect", "flatten"),
)
def sql6_flatten_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import rewrite_flatten
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(rewrite_flatten(_SQL6_SNOWFLAKE_TEXT)).select(
        "doc_id", F.col("word_pos").cast("long").alias("word_pos"), "word"
    )


_SQL33_SNOWFLAKE_TEXT = """
SELECT d.doc_id, s.index AS word_pos, s.value AS word
FROM documents d, LATERAL SPLIT_TO_TABLE(d.text, ' ') s
WHERE d.doc_id % 25 = 0 AND s.index <= 8
"""


@register(
    "sql33_split_to_table",
    oracle="""
    SELECT d.doc_id,
           CAST(g.i + 1 AS BIGINT) AS word_pos,
           string_split(d.text, ' ')[g.i + 1] AS word
    FROM documents d,
         UNNEST(generate_series(0, len(string_split(d.text, ' ')) - 1)) AS g(i)
    WHERE d.doc_id % 25 = 0 AND g.i + 1 <= 8
    """,
    doc="""Snowflake ``LATERAL SPLIT_TO_TABLE(<string>, <delim>)``
    accepted VERBATIM — the string-tokenizer member of the FLATTEN
    family (Snowflake's docs group them) and a top data-exploration
    idiom. Lowering (functions/sqldialect.py:rewrite_split_to_table):
    ``LATERAL VIEW posexplode(split(...))`` with every ``s.index``
    reference rewritten to the 1-BASED position Snowflake documents
    (FLATTEN's index is 0-based — the off-by-one users trip on, now
    encoded in the shim); empty tokens kept, matching both engines'
    split; STRTOK_SPLIT_TO_TABLE lowers the delimiter SET to a regex
    char class + empty-token filter; ``s.seq`` refuses rather than
    fake a global sequence. Per-row generator: no shuffle, no join at
    any scale. Same relation as sql6 shifted to 1-based — the oracle
    states exactly that.""",
    tags=("sql-surface", "dialect", "flatten", "tokenizer"),
)
def sql33_split_to_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import rewrite_split_to_table
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(rewrite_split_to_table(_SQL33_SNOWFLAKE_TEXT)).select(
        "doc_id", F.col("word_pos").cast("long").alias("word_pos"), "word"
    )


@register(
    "f16_listagg",
    oracle="""
    SELECT r.r_name,
           listagg(n.n_name, ';' ORDER BY n.n_name) AS nations,
           CAST(count(*) AS BIGINT) AS n_nations
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
    doc="""``LISTAGG(expr, sep) WITHIN GROUP (ORDER BY ...)`` — the
    Snowflake string-aggregation idiom (report denormalization,
    debugging group contents). Spark 4 ships listagg natively with
    the ANSI WITHIN GROUP syntax, so the statement runs as shared
    text; DuckDB's listagg takes the ORDER BY inline — the one
    dialect seam, encoded in the oracle. The explicit ORDER BY makes
    the concatenation deterministic (an unordered LISTAGG is
    partition-order-dependent — never hashable cross-engine); group
    sizes here are catalog-bounded (nations per region). At scale
    LISTAGG concentrates a group's values into one row — fine for
    bounded groups, a deliberate anti-pattern for unbounded ones
    (t8's top-k or x21's keyed export are the scale paths).""",
    tags=("functions", "aggregate", "string"),
)
def f16_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT r.r_name,
               listagg(n.n_name, ';') WITHIN GROUP (ORDER BY n.n_name)
                   AS nations,
               CAST(count(*) AS BIGINT) AS n_nations
        FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
        """
    )


_F17_SNOWFLAKE_TEXT = """
SELECT o_orderpriority,
       CAST(SUM(IFF(o_orderstatus = 'F', 1, 0)) AS BIGINT) AS n_f,
       CAST(SUM(NVL2(NULLIF(o_orderstatus, 'P'), 1, 0)) AS BIGINT)
           AS n_not_pending,
       CAST(SUM(ZEROIFNULL(NULLIFZERO(o_custkey % 3))) AS BIGINT) AS mod_sum,
       MAX(DECODE(o_orderstatus, 'F', 'finished', 'O', 'open', 'other'))
           AS status_word,
       CAST(MAX(LEN(o_orderpriority)) AS BIGINT) AS prio_len,
       CAST(MAX(DATEDIFF('day', DATE '1995-01-01', o_orderdate)) AS BIGINT)
           AS max_day_off,
       CAST(MAX(DATEDIFF('month', DATE '1995-01-01', o_orderdate)) AS BIGINT)
           AS max_month_off,
       CAST(MAX(DATEDIFF('year', DATE '1995-01-01', o_orderdate)) AS BIGINT)
           AS max_year_off
FROM orders GROUP BY o_orderpriority
"""


@register(
    "f17_scalar_dialect",
    oracle="""
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_f,
           CAST(SUM(CASE WHEN NULLIF(o_orderstatus, 'P') IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_not_pending,
           CAST(SUM(coalesce(nullif(o_custkey % 3, 0), 0)) AS BIGINT) AS mod_sum,
           MAX(CASE WHEN o_orderstatus IS NOT DISTINCT FROM 'F' THEN 'finished'
                    WHEN o_orderstatus IS NOT DISTINCT FROM 'O' THEN 'open'
                    ELSE 'other' END) AS status_word,
           CAST(MAX(length(o_orderpriority)) AS BIGINT) AS prio_len,
           CAST(MAX(datediff('day', DATE '1995-01-01',
                             CAST(o_orderdate AS DATE))) AS BIGINT)
               AS max_day_off,
           CAST(MAX(datediff('month', DATE '1995-01-01',
                             CAST(o_orderdate AS DATE))) AS BIGINT)
               AS max_month_off,
           CAST(MAX(datediff('year', DATE '1995-01-01',
                             CAST(o_orderdate AS DATE))) AS BIGINT)
               AS max_year_off
    FROM orders GROUP BY o_orderpriority
    """,
    doc="""The everyday Snowflake scalar functions OSS Spark's parser
    lacks, accepted VERBATIM in one statement: IFF, NVL2, DECODE,
    ZEROIFNULL/NULLIFZERO, LEN, and DATEDIFF(part, a, b)
    (functions/sqldialect.py:rewrite_scalar_funcs). Fidelity details
    the naive translations get wrong: DECODE matches NULL to NULL
    (lowered with null-safe equality, not CASE-WHEN equals) and
    DATEDIFF counts date-part BOUNDARIES crossed, Snowflake's
    documented semantics (timestampdiff-style complete periods would
    be off by one around midnight — the day variant lowers to a DATE
    subtraction, month/year to boundary arithmetic; DuckDB's
    datediff shares the boundary convention, which the oracle
    exercises on all three parts). All per-row expressions: pushdown
    and codegen untouched.""",
    tags=("sql-surface", "dialect", "functions"),
)
def f17_scalar_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import rewrite_scalar_funcs
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(rewrite_scalar_funcs(_F17_SNOWFLAKE_TEXT))


_F19_SNOWFLAKE_TEXT = """
SELECT o_orderpriority,
       CAST(SUM(TO_NUMBER(SUBSTR(o_orderpriority, 1, 1))) AS BIGINT)
           AS prio_sum,
       CAST(SUM(TRY_TO_NUMBER(SUBSTR(o_orderpriority, 1, 1), 38, 0)) AS BIGINT)
           AS prio_try_sum,
       CAST(SUM(IFF(TRY_TO_NUMBER(o_orderstatus) IS NULL, 1, 0)) AS BIGINT)
           AS non_numeric,
       MAX(TRY_TO_DATE(SUBSTR(CAST(o_orderdate AS STRING), 1, 10)))
           AS max_date,
       CAST(SUM(IFF(TRY_TO_TIMESTAMP(o_orderstatus) IS NULL, 1, 0)) AS BIGINT)
           AS bad_ts,
       MAX(GET_PATH(PARSE_JSON(CONCAT('{"p": "', o_orderpriority, '"}')), 'p'))
           AS p_extract,
       MAX(TO_VARIANT(ARRAY_CONSTRUCT(o_orderstatus))) AS status_var,
       CAST(SUM(IFF(ARRAY_CONTAINS(o_orderpriority,
                                   ARRAY_CONSTRUCT('1-URGENT', '2-HIGH')), 1, 0))
            AS BIGINT) AS urgent_high,
       CAST(MAX(ARRAY_SIZE(ARRAY_CONSTRUCT(o_orderkey, o_custkey))) AS BIGINT)
           AS pair_size
FROM orders GROUP BY o_orderpriority
"""


@register(
    "f19_conversion_dialect",
    oracle="""
    SELECT o_orderpriority,
           CAST(SUM(CAST(SUBSTR(o_orderpriority, 1, 1) AS DECIMAL(38, 0)))
                AS BIGINT) AS prio_sum,
           CAST(SUM(TRY_CAST(SUBSTR(o_orderpriority, 1, 1) AS DECIMAL(38, 0)))
                AS BIGINT) AS prio_try_sum,
           CAST(SUM(CASE WHEN TRY_CAST(o_orderstatus AS DECIMAL(38, 0)) IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS non_numeric,
           MAX(TRY_CAST(SUBSTR(CAST(o_orderdate AS VARCHAR), 1, 10) AS DATE))
               AS max_date,
           CAST(SUM(CASE WHEN TRY_CAST(o_orderstatus AS TIMESTAMP) IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS bad_ts,
           MAX(json_extract_string(CONCAT('{"p": "', o_orderpriority, '"}'),
                                   '$.p')) AS p_extract,
           MAX(to_json([o_orderstatus])) AS status_var,
           CAST(SUM(CASE WHEN list_contains(['1-URGENT', '2-HIGH'],
                                            o_orderpriority)
                         THEN 1 ELSE 0 END) AS BIGINT) AS urgent_high,
           CAST(MAX(len([o_orderkey, o_custkey])) AS BIGINT) AS pair_size
    FROM orders GROUP BY o_orderpriority
    """,
    doc="""The Snowflake CONVERSION + semi-structured scalar pack
    accepted VERBATIM in one statement (r8, second scalar batch —
    functions/sqldialect.py:_SCALAR_REWRITES): TO_NUMBER /
    TRY_TO_NUMBER with Snowflake's documented NUMBER(38,0) default
    and explicit (precision, scale) forms (TRY_ nulls out via
    try_cast, TO_ stays strict; format-string forms lower through the
    strict element table since r9 — f23 pins them), TRY_TO_DATE /
    TRY_TO_TIMESTAMP,
    PARSE_JSON (identity on the engine's JSON-text VARIANT),
    TO_VARIANT (JSON rendering of compound values — arrays/objects;
    scalar input fails LOUDLY at analysis, never silently), GET_PATH (the function form of the colon path, sharing
    the quoted-segment JSON-path renderer), ARRAY_CONTAINS with
    Snowflake's (value, array) ARGUMENT ORDER swapped to Spark's
    (array, value) — the classic silent-corruption trap, pinned by
    the oracle — ARRAY_SIZE, and ARRAY_CONSTRUCT. All per-row
    expressions: pushdown, partial aggregation, and codegen
    untouched.""",
    tags=("sql-surface", "dialect", "functions", "conversion"),
)
def f19_conversion_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import rewrite_scalar_funcs
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(rewrite_scalar_funcs(_F19_SNOWFLAKE_TEXT))


@register(
    "sql44_top_dialect",
    oracle="""
    SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 7
    """,
    doc="""Snowflake ``SELECT TOP n`` accepted verbatim (r8,
    functions/sqldialect.py:rewrite_top): lowers to a trailing LIMIT
    after the statement's ORDER BY, so Catalyst plans
    TakeOrderedAndProject — per-partition top-k then a k-row driver
    merge, never a global sort (o2's pinned shape). Deterministic
    total tiebreak on the order key; TOP+LIMIT together refuses, as
    in Snowflake. Oracle is the LIMIT spelling of the same query.""",
    tags=("sql-surface", "dialect", "topk"),
)
def sql44_top_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import lower_select
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        lower_select(
            "SELECT TOP 7 o_orderkey,"
            " CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents"
            " FROM orders ORDER BY o_totalprice DESC, o_orderkey"
        )
    )


_F18_SNOWFLAKE_TEXT = """
SELECT r.r_name,
       OBJECT_CONSTRUCT(
           'region', r.r_name,
           'n_nations', COUNT(*),
           'high_key', IFF(MAX(n.n_nationkey) >= 23, 'yes', NULL)
       ) AS info,
       OBJECT_CONSTRUCT_KEEP_NULL(
           'region', r.r_name,
           'high_key', IFF(MAX(n.n_nationkey) >= 23, 'yes', NULL)
       ) AS info_nulls,
       OBJECT_AGG(n.n_name, n.n_nationkey) AS nation_keys,
       TO_JSON(ARRAY_AGG(n.n_name) WITHIN GROUP (ORDER BY n.n_name DESC))
           AS nations_desc,
       TO_JSON(ARRAY_AGG(n.n_name) WITHIN GROUP (ORDER BY n.n_nationkey ASC))
           AS nations_by_key
FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
"""


@register(
    "f18_semi_structured_agg",
    oracle="""
    SELECT r.r_name,
           json_merge_patch('{}', json_object(
               'high_key', CASE WHEN MAX(n.n_nationkey) >= 23 THEN 'yes' END,
               'n_nations', count(*),
               'region', r.r_name)) AS info,
           json_object(
               'high_key', CASE WHEN MAX(n.n_nationkey) >= 23 THEN 'yes' END,
               'region', r.r_name) AS info_nulls,
           to_json(map_from_entries(list_sort(list(
               struct_pack(key := n.n_name, value := n.n_nationkey)))))
               AS nation_keys,
           to_json(list_sort(list(n.n_name), 'DESC')) AS nations_desc,
           to_json(list_transform(list_sort(list(
               struct_pack(o := n.n_nationkey, v := n.n_name))), s -> s.v))
               AS nations_by_key
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
    doc="""The Snowflake semi-structured construction idioms accepted
    VERBATIM in one statement (r8, VERDICT r7 item #8 —
    functions/sqldialect.py:rewrite_semi_structured): OBJECT_CONSTRUCT
    (literal keys canonically SORTED, NULL-valued pairs OMITTED —
    byte-identical to Snowflake's TO_JSON(OBJECT_CONSTRUCT(...));
    here 'high_key' drops for 3 of 5 regions), OBJECT_CONSTRUCT_
    KEEP_NULL (nulls render as "k":null), OBJECT_AGG (alphabetical
    key order via sorted entry structs; duplicate keys fail LOUDLY —
    Spark's map dedup policy matches Snowflake's duplicate-key
    error), and ARRAY_AGG ... WITHIN GROUP (ORDER BY ...) in both the
    self-ordered form (array_sort; reverse for DESC) and the
    order-by-other-column form (struct carrier with a null-order-key-
    LAST flag, Snowflake's ASC default; NULL values skipped as
    ARRAY_AGG requires). VARIANT = compact JSON text, the sql30/sql34
    contract, so DuckDB's json_object/to_json render bit-identically
    — the oracle seam is json_merge_patch for the null-drop rule. All
    per-group expressions over the user's own aggregate: partial
    aggregation, pushdown, and codegen untouched; group sizes here
    are catalog-bounded (LISTAGG/f16 precedent).""",
    tags=("functions", "semi-structured", "aggregate", "dialect"),
)
def f18_semi_structured_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import lower_select
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(lower_select(_F18_SNOWFLAKE_TEXT))


_SQL8_SNOWFLAKE_TEXT = """
SELECT d.doc_id, f.index AS word_pos, f.value AS word
FROM documents d,
     LATERAL FLATTEN(input => filter(split(d.text, ' '), w -> length(w) > 6),
                     outer => TRUE) f
WHERE d.doc_id % 10 = 3
"""


@register(
    "sql8_flatten_outer",
    oracle="""
    WITH base AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), w -> len(w) > 6) AS l
        FROM documents WHERE doc_id % 10 = 3
    )
    SELECT doc_id,
           CASE WHEN len(l) = 0 THEN NULL ELSE CAST(g.i AS BIGINT) END AS word_pos,
           CASE WHEN len(l) = 0 THEN NULL ELSE l[g.i + 1] END AS word
    FROM base,
         UNNEST(generate_series(0, greatest(len(l) - 1, 0))) AS g(i)
    """,
    doc="""``FLATTEN(..., OUTER => TRUE)`` accepted VERBATIM — the
    left-join flavor Snowflake users reach for constantly (an empty or
    NULL array keeps its parent row, with NULL index/value), closing
    VERDICT r5 #5. Lowering: ``LATERAL VIEW OUTER posexplode``
    (functions/sqldialect.py:rewrite_flatten), whose empty-input
    contract matches Snowflake's exactly. The input is a lambda-
    filtered word list so both branches are real at every SF (8/50
    docs empty at sf0.001, 112/500 at sf0.1): rows with long words
    explode ordinarily; rows with none survive as a single NULL row.
    The oracle states the same semantic with an explicit
    generate_series and CASE NULL-out (DuckDB unnest drops empties).
    Still a per-row generator — no shuffle, no join. The OUTER-arg
    parse order/flag edge cases are unit-pinned
    (test_flatten_rewriter_edges, test_flatten_outer_executes).""",
    tags=("sql-surface", "dialect", "flatten", "outer"),
)
def sql8_flatten_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import rewrite_flatten
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(rewrite_flatten(_SQL8_SNOWFLAKE_TEXT)).select(
        "doc_id", F.col("word_pos").cast("long").alias("word_pos"), "word"
    )


_SQL11_SNOWFLAKE_TEXT = """
SELECT e.event_id, f.key AS prop_key, f.value AS prop_value
FROM (SELECT event_id,
             concat('{"et": "', event_type, '", ', substring(props, 2)) AS obj
      FROM events WHERE event_id % 101 = 0) e,
     LATERAL FLATTEN(input => e.obj, mode => 'OBJECT') f
"""


@register(
    "sql11_flatten_object",
    oracle="""
    WITH e AS (
        SELECT event_id,
               concat('{"et": "', event_type, '", ', substring(props, 2)) AS obj
        FROM events WHERE event_id % 101 = 0
    )
    SELECT event_id, k AS prop_key,
           json_extract_string(obj, '$.' || k) AS prop_value
    FROM (SELECT event_id, obj, unnest(json_keys(obj)) AS k FROM e)
    """,
    doc="""``FLATTEN(..., MODE => 'OBJECT')`` accepted VERBATIM — the
    semi-structured half of Snowflake's FLATTEN (a VARIANT object
    explodes into one (KEY, VALUE) row per field), closing the last
    refused FLATTEN mode that is expressible on Spark. Lowering:
    ``explode(from_json(<expr>, 'map<string,string>'))`` — scalar
    values render text-identically across Spark's string map,
    Snowflake's VARIANT-to-text, and DuckDB's json_extract_string
    ('69', 'x', '1.5', 'true', NULL; probed bit-for-bit). The input
    enriches events.props to a two-key object by string surgery so
    each row genuinely fans out. Flat objects only — a nested object
    value is documented out of contract (string-map parse nulls it).
    Still a per-row generator: no shuffle, no join. The oracle walks
    json_keys + json_extract_string over the same object.""",
    tags=("sql-surface", "dialect", "flatten", "semi-structured"),
)
def sql11_flatten_object(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import rewrite_flatten
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(rewrite_flatten(_SQL11_SNOWFLAKE_TEXT)).select(
        "event_id", "prop_key", "prop_value"
    )


_SQL13_OBJ = (
    "concat('{\"meta\": {\"et\": \"', event_type, '\", \"bucket\": \"b', "
    "CAST(event_id % 3 AS STRING), '\"}, \"tags\": [\"t', "
    "CAST(event_id % 5 AS STRING), '\", \"', event_type, '\"]}')"
)

_SQL13_SNOWFLAKE_TEXT = f"""
SELECT e.event_id, 'tag' AS kind, CAST(f.index AS STRING) AS k, f.value AS v
FROM (SELECT event_id, {_SQL13_OBJ} AS obj
      FROM events WHERE event_id % 101 = 0) e,
     LATERAL FLATTEN(input => e.obj, path => 'tags') f
UNION ALL
SELECT e.event_id, 'meta' AS kind, g.key AS k, g.value AS v
FROM (SELECT event_id, {_SQL13_OBJ} AS obj
      FROM events WHERE event_id % 101 = 0) e,
     LATERAL FLATTEN(input => e.obj, path => 'meta', mode => 'OBJECT') g
"""

_SQL13_OBJ_DUCK = (
    "concat('{\"meta\": {\"et\": \"', event_type, '\", \"bucket\": \"b', "
    "CAST(event_id % 3 AS VARCHAR), '\"}, \"tags\": [\"t', "
    "CAST(event_id % 5 AS VARCHAR), '\", \"', event_type, '\"]}')"
)


@register(
    "sql13_flatten_path",
    oracle=f"""
    WITH e AS (
        SELECT event_id, {_SQL13_OBJ_DUCK} AS obj
        FROM events WHERE event_id % 101 = 0
    )
    SELECT event_id, 'tag' AS kind, CAST(g.i AS VARCHAR) AS k,
           json_extract_string(obj, '$.tags[' || g.i || ']') AS v
    FROM e,
         UNNEST(generate_series(0, CAST(json_array_length(obj, '$.tags') AS BIGINT) - 1)) AS g(i)
    UNION ALL
    SELECT event_id, 'meta' AS kind, k,
           json_extract_string(obj, '$.meta.' || k) AS v
    FROM (SELECT event_id, obj, unnest(json_keys(obj, '$.meta')) AS k FROM e)
    """,
    doc="""``FLATTEN(..., PATH => '<dotted>')`` accepted VERBATIM — the
    last commonly-used FLATTEN form (VERDICT r6 #5): descend into a
    VARIANT subtree before exploding it. Lowering
    (functions/sqldialect.py:rewrite_flatten): the path becomes
    ``get_json_object(<expr>, '$.a.b')``; in ARRAY mode the subtree
    text is parsed as a JSON string array feeding the existing
    posexplode, in OBJECT mode it feeds the map explode unchanged —
    this one text exercises BOTH (tags array + meta object, built on
    events by string surgery so every row fans out deterministically).
    Flat dotted identifier paths only; brackets/wildcards/RECURSIVE
    refuse loudly rather than mistranslate. Still per-row generators:
    no shuffle, no join at any scale. The oracle walks the identical
    subtrees with json_extract_string/json_keys.""",
    tags=("sql-surface", "dialect", "flatten", "semi-structured"),
)
def sql13_flatten_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import rewrite_flatten
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(rewrite_flatten(_SQL13_SNOWFLAKE_TEXT)).select(
        "event_id", "kind", "k", "v"
    )


_SQL42_MR_TEXT = """
SELECT * FROM events MATCH_RECOGNIZE (
  PARTITION BY user_id
  ORDER BY ts, event_id
  MEASURES MATCH_NUMBER() AS match_id,
           CLASSIFIER() AS sym,
           RUNNING COUNT(down.*) AS run_n_down,
           RUNNING COUNT(up.*) AS run_n_up,
           FINAL COUNT(down.*) AS tot_down,
           RUNNING LAST(down.ts) AS last_down_ts
  ALL ROWS PER MATCH
  AFTER MATCH SKIP TO NEXT ROW
  PATTERN (DOWN{2,} UP{2,})
  DEFINE DOWN AS value < PREV(value),
         UP AS value > PREV(value)
)
"""


@register(
    "sql42_match_recognize_all_rows",
    oracle=None,  # assigned below (generated from the same parsed spec)
    doc="""``ALL ROWS PER MATCH`` from TEXT (r8 — the remaining
    MATCH_RECOGNIZE output mode): one output row per MATCHED INPUT ROW
    instead of one per match, with MATCH_NUMBER(), CLASSIFIER() (the
    symbol that classified each row — resolved per leg, at runtime for
    alternation legs), RUNNING aggregates (ANSI's default in this
    mode: windows over (partition, match) in the statement's ORDER
    BY — count-so-far, last-so-far with NULL until the symbol first
    appears), and explicit FINAL aggregates (computed once per match
    on the run relation and replicated). Execution: the match relation
    explodes to one row per (match, leg) carrying the leg's run id +
    classifier, then ONE keyed equi-join back to the numbered row
    relation on (partition key, run id) — data already clustered by
    the key, never a rescan; greedy variant selection applies at the
    match level BEFORE the join. Projection contract (conservative,
    documented): partition columns + order columns + measures. The
    oracle is GENERATED from the same parsed spec
    (sql_match_recognize — per-leg UNION ALL + the identical join and
    windows), so the mode carries its own DuckDB twin.""",
    tags=("sql-surface", "match-recognize", "pattern", "dialect"),
)
def sql42_match_recognize_all_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import match_recognize_statement

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    return match_recognize_statement(spark, _SQL42_MR_TEXT, {"events": ev})


def _attach_sql42_oracle() -> None:
    from ..functions.sqldialect import sql_match_recognize

    REGISTRY["sql42_match_recognize_all_rows"].oracle = sql_match_recognize(
        _SQL42_MR_TEXT
    )


_attach_sql42_oracle()


_SQL41_OBJ = (
    "concat('{\"user meta\": {\"tag list\": [\"t', "
    "CAST(event_id % 5 AS STRING), '\", \"', event_type, '\"]}}')"
)

_SQL41_SNOWFLAKE_TEXT = f"""
SELECT e.event_id, CAST(f.index AS STRING) AS idx, f.value AS v
FROM (SELECT event_id, {_SQL41_OBJ} AS obj
      FROM events WHERE event_id % 101 = 0) e,
     LATERAL FLATTEN(input => e.obj, path => '"user meta"."tag list"') f
"""

_SQL41_OBJ_DUCK = (
    "concat('{\"user meta\": {\"tag list\": [\"t', "
    "CAST(event_id % 5 AS VARCHAR), '\", \"', event_type, '\"]}}')"
)


@register(
    "sql41_flatten_quoted_path",
    oracle=f"""
    WITH e AS (
        SELECT event_id, {_SQL41_OBJ_DUCK} AS obj
        FROM events WHERE event_id % 101 = 0
    )
    SELECT event_id, CAST(g.i AS VARCHAR) AS idx,
           json_extract_string(obj, '$."user meta"."tag list"[' || g.i || ']') AS v
    FROM e,
         UNNEST(generate_series(0,
             CAST(json_array_length(obj, '$."user meta"."tag list"') AS BIGINT) - 1)) AS g(i)
    """,
    doc="""``FLATTEN(..., PATH => '"quoted segment".x')`` accepted
    verbatim (r8 — the last FLATTEN-path refusal, VERDICT r7 ranked
    list): path segments may be double-quoted Snowflake identifiers
    for JSON keys containing spaces/dots/reserved characters. The
    lowering renders bare segments as ``.seg`` and quoted ones in
    Spark's bracket form ``['seg']``
    (functions/sqldialect.py:_flat_path_to_json_path), probed
    byte-identical to DuckDB's ``."seg"`` spelling which the oracle
    keeps. Same per-row generator shape as sql13: no shuffle, no join
    at any scale.""",
    tags=("sql-surface", "dialect", "flatten", "semi-structured"),
)
def sql41_flatten_quoted_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import rewrite_flatten
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(rewrite_flatten(_SQL41_SNOWFLAKE_TEXT)).select(
        "event_id", "idx", "v"
    )


_SQL34_SNOWFLAKE_TEXT = f"""
SELECT e.event_id,
       e.obj:meta.et::string AS et,
       e.obj:meta.bucket AS bucket,
       e.obj:tags[0]::string AS first_tag,
       e.obj:meta AS meta_json
FROM (SELECT event_id, {_SQL13_OBJ} AS obj
      FROM events WHERE event_id % 101 = 0) e
"""


@register(
    "sql34_variant_path",
    oracle=f"""
    WITH e AS (
        SELECT event_id, {_SQL13_OBJ_DUCK} AS obj
        FROM events WHERE event_id % 101 = 0
    )
    SELECT event_id,
           json_extract_string(obj, '$.meta.et') AS et,
           json_extract_string(obj, '$.meta.bucket') AS bucket,
           json_extract_string(obj, '$.tags[0]') AS first_tag,
           json_extract(obj, '$.meta')::VARCHAR AS meta_json
    FROM e
    """,
    doc="""Snowflake VARIANT path access accepted VERBATIM — the
    ``col:seg.sub[0]::type`` syntax every semi-structured Snowflake
    query is written in (the single most dialect-specific construct
    there is). Lowering
    (functions/sqldialect.py:rewrite_variant_path): the path becomes
    ``get_json_object(col, '$.seg.sub[0]')``; the trailing ``::type``
    cast is Spark-native and passes through untouched; colons inside
    string literals and ``::`` casts never rewrite (literal-aware
    scan, unit-pinned). Element text follows the FLATTEN/sql30
    contract — scalars unquoted, compound subtrees as compact JSON,
    probed byte-identical to DuckDB's json_extract. Pure expression
    rewriting: a per-row projection, no shuffle, pushdown untouched
    at any scale.""",
    tags=("sql-surface", "dialect", "semi-structured", "variant"),
)
def sql34_variant_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import rewrite_variant_path
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(rewrite_variant_path(_SQL34_SNOWFLAKE_TEXT)).select(
        "event_id", "et", "bucket", "first_tag", "meta_json"
    )


_SQL36_TEXT = """
SELECT o_orderkey, metric, val
FROM (SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
             CAST(o_custkey AS BIGINT) AS cust_key
      FROM orders WHERE o_orderkey % 101 = 0)
UNPIVOT (val FOR metric IN (price_cents, cust_key))
"""


@register(
    "sql36_unpivot_text",
    oracle=_SQL36_TEXT,
    doc="""Snowflake ``UNPIVOT (val FOR metric IN (...))`` accepted
    VERBATIM — the ANSI rotation clause is SHARED TEXT across
    Snowflake, Spark 4, and DuckDB (like sql1-sql4's surface), so the
    statement doubles as its own oracle, character for character. p9
    is the engine-side stack/melt with the same semantics; this pins
    the text form a Snowflake user would paste. Width-to-length
    rotation is a per-row generator: no shuffle, no join; the measure
    columns pre-cast to one type (BIGINT cents) because UNPIVOT
    requires a common value type on every engine.""",
    tags=("sql-surface", "dialect", "unpivot", "shared-text"),
)
def sql36_unpivot_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL36_TEXT)


@register(
    "e18_append_only_stream",
    oracle="""
    SELECT c_custkey, CONCAT(c_name, '+u') AS name,
           CAST(round(c_acctbal * 100) AS BIGINT) AS cents
    FROM customer WHERE c_custkey > 600 AND c_custkey <= 1000
    """,
    doc="""Snowflake ``CREATE STREAM ... APPEND_ONLY = TRUE`` — the
    insert-only CDC flavor (fan-out consumers that must never see
    updates). The replay loads keys 1-600, commits the consumer
    offset, then applies a second batch that UPDATES keys 401-600 and
    INSERTS 601-1000; the append-only read must surface exactly the
    401-key insert set and hide every update. The engine's changelog
    records batch-level actions, so append-ness is derived from the
    JOURNAL (Snowflake's documented contract — rows inserted then
    deleted in the interval still surface): a change row is an append
    iff its action is insert-ish and the key's immediately-preceding
    journal action is absent or DELETE
    (streaming/changelog.py:append_only_stream_read) — one keyed
    lag-window over journal rows only, never the table. Oracle: the
    insert set in closed form from the source rows.""",
    tags=("streaming", "cdc", "append-only", "stream"),
)
def e18_append_only_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.catalog import Warehouse
    from ..streaming.changelog import append_only_stream_read
    from .tables import load as _load

    cust = _load(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_name").alias("name"),
        F.expr("CAST(round(c_acctbal * 100) AS BIGINT)").alias("cents"),
    )
    base = scratch_dir("aos_")
    wh = Warehouse(spark, base)
    tbl = wh.table("stg", "aos_state", cust.schema)
    batch1 = cust.filter(F.col("c_custkey") <= 600)
    tbl.overwrite(batch1, changes=batch1, action="INSERT")
    # the consumer is current as of batch 1
    _, v1 = tbl.changelog.stream_read("aos")
    tbl.changelog.stream_commit("aos", v1)
    # batch 2: updates to 401-600 (name suffixed), inserts 601-1000
    batch2 = cust.filter(
        (F.col("c_custkey") > 400) & (F.col("c_custkey") <= 1000)
    ).withColumn("name", F.concat(F.col("name"), F.lit("+u")))
    state2 = batch1.filter(F.col("c_custkey") <= 400).unionByName(batch2)
    tbl.overwrite(state2, changes=batch2)
    inserts, _v = append_only_stream_read(tbl.changelog, "aos", ["c_custkey"])
    return inserts.select("c_custkey", "name", "cents")


_S8_UNLOAD_TEXT = """
COPY INTO @export/landing/orders_out FROM (
    SELECT o_orderkey,
           o_orderstatus,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
           CAST(o_orderdate AS DATE) AS order_date
    FROM orders WHERE o_orderkey % 5 = 0
) FILE_FORMAT = (TYPE = 'CSV') HEADER = TRUE OVERWRITE = TRUE
"""


@register(
    "s8_copy_unload",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
           CAST(o_orderdate AS DATE) AS order_date
    FROM orders WHERE o_orderkey % 5 = 0
    """,
    doc="""``COPY INTO @stage FROM (<query>)`` — the UNLOAD direction
    of S2, executed VERBATIM (sources/copy_into.py:copy_unload): the
    inner query runs as written, each task writes its own CSV part
    file under the stage path (Snowflake's data_N_N_N parallel-unload
    analog — fully distributed, no driver-side row data), HEADER /
    OVERWRITE / FILE_FORMAT options honored, and ``list @stage`` sees
    the files like any other stage content. The entry then RE-READS
    the unloaded files through the stage CSV reader and returns that
    relation against the source-side oracle — a green row proves the
    full round trip (write text -> read text -> exact values; columns
    restricted to exactly-text-representable types, the posture every
    export pipeline should take). Completes the stage surface in both
    directions: pipe/COPY loads in (S1-S3), this exports out.""",
    tags=("sql-surface", "stage", "unload", "reference-surface"),
)
def s8_copy_unload(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    from ..sources.copy_into import copy_unload, list_stage
    from .tables import register_views

    register_views(spark, sf_dir)
    base = scratch_dir("unload_")
    out_dir, n_files = copy_unload(spark, _S8_UNLOAD_TEXT, base)
    listed = [f for f in list_stage(out_dir) if f.endswith(".csv")]
    if n_files < 1 or len(listed) != n_files:
        raise RuntimeError(
            f"unload audit failed: wrote {n_files}, stage lists {len(listed)}"
        )
    schema = T.StructType([
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("cents", T.LongType()),
        T.StructField("order_date", T.DateType()),
    ])
    return spark.read.schema(schema).option("header", True).csv(out_dir)


@register(
    "sql45_update_delete_text",
    oracle="""
    WITH updated AS (
        SELECT o_orderkey, o_custkey,
               CASE WHEN o_orderpriority = '1-URGENT'
                         AND o_totalprice > 200000 THEN 'X'
                    ELSE o_orderstatus END AS o_orderstatus,
               CASE WHEN o_orderpriority = '1-URGENT'
                    THEN o_totalprice * 1.1 ELSE o_totalprice END AS o_totalprice,
               o_orderpriority
        FROM orders
    ),
    kept AS (SELECT * FROM updated WHERE NOT (o_custkey % 7 = 0))
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS price_cents
    FROM kept GROUP BY o_orderstatus
    """,
    doc="""``UPDATE ... SET ... WHERE`` and ``DELETE FROM ... WHERE``
    accepted VERBATIM (r8 — the last everyday DML statements that only
    had operator forms, M6/M5's text face): assignments and predicates
    pass through the scalar dialect pack (the UPDATE here uses IFF in
    a SET expression), then lower to the existing conditional-
    projection / complement-filter operators — no join, no shuffle,
    one pass each (functions/sqldialect.py:update_statement /
    delete_statement). The UPDATE's second SET expression reads the
    FIRST SET's target column (``o_orderstatus`` gated on
    ``o_totalprice``, which the same statement boosts): SQL evaluates
    every SET expression against the PRE-update row, so the status flag
    must key off the OLD price — the oracle's single-projection CASE
    closed form only matches if update_where builds one select, not
    sequential withColumns (ADVICE r8). NULL-predicate DELETE keeps the
    row (SQL's three-valued rule, delete_where's contract).""",
    tags=("sql-surface", "dialect", "dml"),
)
def sql45_update_delete_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import delete_statement, update_statement

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority",
    )
    t1 = update_statement(
        spark,
        "UPDATE order_work SET o_totalprice = o_totalprice * 1.1,"
        " o_orderstatus = IFF(o_totalprice > 200000, 'X', o_orderstatus)"
        " WHERE o_orderpriority = '1-URGENT'",
        {"order_work": orders},
    )
    t2 = delete_statement(
        spark,
        "DELETE FROM order_work WHERE o_custkey % 7 = 0",
        {"order_work": t1},
    )
    return t2.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
        .cast("long")
        .alias("price_cents"),
    )


_F22_SNOWFLAKE_TEXT = """
SELECT TIME_SLICE(ts, 4, 'HOUR') AS slice_4h,
       TIME_SLICE(ts, 30, 'MINUTE', 'END') AS slice_30m_end,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(IFF(event_type = 'purchase', 1, 0)) AS BIGINT) AS n_purchases
FROM events
GROUP BY TIME_SLICE(ts, 4, 'HOUR'), TIME_SLICE(ts, 30, 'MINUTE', 'END')
"""


@register(
    "f22_time_slice",
    oracle="""
    WITH sliced AS (
        SELECT CAST(to_timestamp(CAST(floor(epoch(ts) / 14400.0) AS BIGINT)
                    * 14400) AS TIMESTAMP) AS slice_4h,
               CAST(to_timestamp(CAST(floor(epoch(ts) / 1800.0) AS BIGINT)
                    * 1800 + 1800) AS TIMESTAMP) AS slice_30m_end,
               event_type
        FROM events
    )
    SELECT slice_4h, slice_30m_end,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_purchases
    FROM sliced GROUP BY slice_4h, slice_30m_end
    """,
    doc="""Snowflake ``TIME_SLICE(ts, n, unit [, START|END])`` accepted
    VERBATIM (r8 — the time-series downsampling idiom behind every
    fixed-width rollup): epoch-aligned fixed-width bucketing (weeks
    included — Snowflake slices align to 1970-01-01, NOT to Monday),
    END returning the slice's exclusive upper bound. Lowered through
    unix_timestamp so TIMESTAMP_NTZ inputs work (the events-table
    gotcha), with the slice arithmetic in exact integers and one
    to_timestamp render. Calendar units (month/quarter/year) refuse —
    not fixed-width; DATE_TRUNC is the tool there (f6/x3 cover it).
    Per-row expression: pushdown and partial aggregation untouched;
    the rollup here is one shuffle. Oracle: the identical epoch
    arithmetic in DuckDB with TIMESTAMPTZ normalized to naive.""",
    tags=("functions", "dialect", "time-series"),
)
def f22_time_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import rewrite_scalar_funcs
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(rewrite_scalar_funcs(_F22_SNOWFLAKE_TEXT))


_F23_SNOWFLAKE_TEXT = """
SELECT o_orderkey,
       TO_DATE(ymd, 'YYYYMMDD') AS parsed_date,
       TRY_TO_DATE(maybe_bad, 'YYYY-MM-DD') AS tried_date,
       TO_TIMESTAMP(iso_ts, 'YYYY-MM-DD"T"HH24:MI:SS.FF3') AS parsed_ts,
       CAST(TO_NUMBER(money, '$99,999,999,999.99') * 100 AS BIGINT)
           AS parsed_cents,
       TO_CHAR(o_date, 'DD MON YYYY') AS pretty,
       TO_CHAR(o_date, 'YYYY-MM-DD"T"HH24:MI') AS iso_out
FROM fmt_src
"""


@register(
    "f23_format_strings",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE) AS parsed_date,
           CASE WHEN o_orderkey % 3 = 0 THEN NULL
                ELSE CAST(o_orderdate AS DATE) END AS tried_date,
           strptime(strftime(o_orderdate, '%Y-%m-%d') || 'T12:34:56.250',
                    '%Y-%m-%dT%H:%M:%S.%g') AS parsed_ts,
           CAST(round(o_totalprice * 100) AS BIGINT) AS parsed_cents,
           strftime(o_orderdate, '%d %b %Y') AS pretty,
           strftime(CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP),
                    '%Y-%m-%dT%H:%M') AS iso_out
    FROM orders WHERE o_orderkey % 7 = 0
    """,
    doc="""Snowflake FORMAT STRINGS accepted VERBATIM (r9 — VERDICT r8
    named ``TO_DATE(col, 'YYYYMMDD')`` the most common remaining
    real-user refusal): TO_DATE / TRY_TO_DATE / TO_TIMESTAMP with
    datetime formats, TO_NUMBER with a numeric format
    ('$99,999,999.99' — strips the declared $/, then strict DECIMAL
    cast with (p, s) derived from the digit layout), and TO_CHAR
    datetime rendering. Formats translate through a STRICT element
    table (functions/sqldialect.py:_sf_datetime_format_to_spark) —
    Snowflake's letters overlap Spark's with different meanings
    (Spark Y is week-year, D day-of-year), so each element maps
    explicitly (YYYY->yyyy, MI->mm, FF3->SSS, "T"->'T') and anything
    unmapped (FF9 nanos, TZH/TZM, numeric TO_CHAR padding) refuses
    loudly. The entry round-trips orders through formatted strings
    built with exact decimal arithmetic; the oracle recomputes the
    parsed values in closed form (and re-renders via strftime — %g is
    DuckDB's milliseconds, matching SSS). TRY_TO_DATE nulls out the
    poisoned rows. All per-row expressions: pushdown/codegen
    untouched at any scale.""",
    tags=("sql-surface", "dialect", "functions", "conversion", "formats"),
)
def f23_format_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import rewrite_scalar_funcs

    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 == 0)
    cents = F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    o_date = F.to_date("o_orderdate")
    src = orders.select(
        "o_orderkey",
        o_date.alias("o_date"),
        F.date_format("o_orderdate", "yyyyMMdd").alias("ymd"),
        F.when(F.col("o_orderkey") % 3 == 0, F.lit("not-a-date"))
        .otherwise(o_date.cast("string"))
        .alias("maybe_bad"),
        F.concat(o_date.cast("string"), F.lit("T12:34:56.250")).alias(
            "iso_ts"
        ),
        # exact decimal cents -> '$1,234.56' (format_number on DECIMAL
        # is exact, no double rounding in the round trip)
        F.concat(
            F.lit("$"),
            F.format_number(cents.cast("decimal(20,2)") / 100, 2),
        ).alias("money"),
    )
    src.createOrReplaceTempView("fmt_src")
    return spark.sql(rewrite_scalar_funcs(_F23_SNOWFLAKE_TEXT))


_F24_SNOWFLAKE_TEXT = """
SELECT o_orderkey,
       DATEADD(month, 3, o_date) AS due_month,
       DATEADD('hour', -6, o_date) AS cutoff_ts,
       DATEADD(week, 2, o_date) AS followup,
       DAYNAME(o_date) AS dn,
       MONTHNAME(o_date) AS mn,
       CHARINDEX('URGENT', o_orderpriority) AS pos_urgent,
       EDITDISTANCE(o_orderstatus, 'OF') AS ed,
       EDITDISTANCE(o_orderpriority, '1-URGENT', 3) AS ed_cap,
       TO_BOOLEAN(IFF(o_orderkey % 2 = 0, 'on', 'f')) AS flag,
       CAST(TRY_TO_BOOLEAN(o_orderstatus) AS STRING) AS maybe_flag
FROM f24_src
"""


@register(
    "f24_everyday_scalars",
    oracle="""
    SELECT o_orderkey,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE)
               AS due_month,
           CAST(o_orderdate AS TIMESTAMP) - INTERVAL 6 HOUR AS cutoff_ts,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 14 DAY AS DATE)
               AS followup,
           strftime(o_orderdate, '%a') AS dn,
           strftime(o_orderdate, '%b') AS mn,
           CAST(strpos(o_orderpriority, 'URGENT') AS INTEGER) AS pos_urgent,
           CAST(levenshtein(o_orderstatus, 'OF') AS INTEGER) AS ed,
           CAST(least(levenshtein(o_orderpriority, '1-URGENT'), 3)
               AS INTEGER) AS ed_cap,
           o_orderkey % 2 = 0 AS flag,
           -- nullable BOOLEAN nulls round-trip as NaN from DuckDB but
           -- None from Spark (distinct per the driver's canonicalizer)
           -- so the tried boolean is projected through a string cast
           CASE WHEN o_orderstatus = 'F' THEN 'false' ELSE NULL END
               AS maybe_flag
    FROM orders WHERE o_orderkey % 11 = 0
    """,
    doc="""The EVERYDAY Snowflake scalar pack accepted VERBATIM (r9):
    DATEADD/TIMEADD/TIMESTAMPADD lowered to ``expr + INTERVAL`` — the
    only lowering that preserves Snowflake's RESULT TYPE rule (DATE +
    month/week parts stays DATE, time parts promote to TIMESTAMP;
    month-end clamping matches; WEEK/QUARTER scale into DAY/MONTH
    since they aren't ANSI interval qualifiers; non-literal amounts
    refuse rather than silently promote) — plus CHARINDEX (-> locate,
    same 1-based/0-absent contract), EDITDISTANCE (-> levenshtein;
    the 3-arg max_distance form caps via Spark's THRESHOLD
    levenshtein — banded DP with early exit, the plan you want on
    long documents at scale — with -1-exceeded mapped back to the
    cap and explicit NULL/negative-cap guards),
    DAYNAME/MONTHNAME (3-letter English abbreviations via
    date_format), and TO_BOOLEAN/TRY_TO_BOOLEAN (Spark's boolean cast
    accepts Snowflake's whole t/f/y/n/yes/no/true/false/0/1 set
    except on/off, which a CASE intercepts; TRY_ nulls out — the 'O'
    and 'P' statuses here). All per-row expressions: pushdown and
    codegen untouched (functions/sqldialect.py:_dateadd_rewrite,
    _to_boolean_rewrite).""",
    tags=("sql-surface", "dialect", "functions", "scalar"),
)
def f24_everyday_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import rewrite_scalar_funcs

    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 11 == 0)
    orders.select(
        "o_orderkey",
        F.to_date("o_orderdate").alias("o_date"),
        "o_orderpriority",
        "o_orderstatus",
    ).createOrReplaceTempView("f24_src")
    return spark.sql(rewrite_scalar_funcs(_F24_SNOWFLAKE_TEXT))


@register(
    "sql48_ctas_text",
    oracle="""
    WITH prio AS (
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, n_orders, cents
    FROM prio WHERE n_orders > (SELECT AVG(n_orders) FROM prio) * 0.5
    """,
    doc="""``CREATE [OR REPLACE] TABLE ... AS SELECT`` and ``CREATE OR
    REPLACE VIEW ... AS SELECT`` accepted VERBATIM (r8,
    functions/sqldialect.py:ctas_statement): the body runs through the
    full composed lowering over the bound relations; a created VIEW
    registers under its own name so later statements can build on it —
    exercised here by a CTAS whose SELECT reads the just-created view
    (the two-step derived-table idiom every warehouse migration
    starts with). SECURE parses (the governance machinery in
    pl_secured_view is the real enforcement surface). The oracle
    states the composition as one CTE chain. Plans are whatever the
    user's SELECTs lower to — nothing is added by the shim.""",
    tags=("sql-surface", "dialect", "ddl", "ctas"),
)
def sql48_ctas_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import ctas_statement

    orders = load(spark, sf_dir, "orders")
    ctas_statement(
        spark,
        "CREATE OR REPLACE VIEW prio_rollup AS"
        " SELECT o_orderpriority,"
        " CAST(count(*) AS BIGINT) AS n_orders,"
        " CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)"
        " AS cents"
        " FROM orders GROUP BY o_orderpriority",
        {"orders": orders},
    )
    return ctas_statement(
        spark,
        "CREATE TABLE prio_big AS"
        " SELECT o_orderpriority, n_orders, cents FROM prio_rollup"
        " WHERE n_orders > (SELECT AVG(n_orders) FROM prio_rollup) * 0.5",
        {},
    )


# CONNECT BY companions (r9): SYS_CONNECT_BY_PATH + CONNECT_BY_ROOT +
# NOCYCLE over the deterministic digit hierarchy (parent = key/10).
# Keys ending ...23 mod 50 are their OWN parent — a genuine self-cycle
# the NOCYCLE guard must skip (without it the fixpoint never ends).
_SQL49_SNOWFLAKE_TEXT = """
SELECT c_custkey, LEVEL, SYS_CONNECT_BY_PATH(c_custkey, '/') AS path,
       CONNECT_BY_ROOT c_custkey AS root_key
FROM customer
START WITH c_custkey BETWEEN 1 AND 9
CONNECT BY NOCYCLE PRIOR c_custkey = CAST(CASE WHEN c_custkey % 50 = 23
    THEN c_custkey ELSE floor(c_custkey / 10) END AS BIGINT)
    AND LEVEL <= 3
"""


def _sql49_lowered() -> str:
    from ..functions.sqldialect import rewrite_connect_by

    return rewrite_connect_by(_SQL49_SNOWFLAKE_TEXT)


@register(
    "sql49_connect_by_path",
    oracle=_sql49_lowered(),
    doc="""The CONNECT BY companions accepted VERBATIM (r9 — VERDICT
    r8 Missing #3 named them the remaining CONNECT BY refusals):
    ``SYS_CONNECT_BY_PATH(col, '/')`` materializes the root-to-node
    path through the recursion (anchor ``'/' || col``, step
    ``parent_path || '/' || col`` — Snowflake's leading-separator
    rendering), ``CONNECT_BY_ROOT col`` carries the anchor row's value
    down the hierarchy, and ``NOCYCLE`` guards the recursive join with
    a visited-key check (delimiter-wrapped key path) so the fixture's
    deliberate self-parent keys (...23 mod 50) stop expanding instead
    of looping forever — Oracle/Snowflake NOCYCLE semantics
    (functions/sqldialect.py:rewrite_connect_by). Oracle runs the SAME
    lowered WITH RECURSIVE text (shared surface, sql4/sql14/sql29).
    Scale: per-level keyed equi-joins; path/visited state is
    O(depth * key width) per frontier row, the same order as the path
    output column itself.""",
    tags=("sql-surface", "dialect", "hierarchical", "recursive"),
)
def sql49_connect_by_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_sql49_lowered())


_SQL50_MR_TEXT = """
SELECT * FROM events MATCH_RECOGNIZE (
  PARTITION BY user_id
  ORDER BY ts, event_id
  MEASURES MATCH_NUMBER() AS match_id,
           FIRST(DOWN.ts) AS start_ts,
           LAST(DOWN.ts) AS end_ts,
           COUNT(DOWN.*) AS n_down,
           COUNT(UP.*) AS n_up
  ONE ROW PER MATCH
  AFTER MATCH SKIP {skip}
  PATTERN ({pattern})
  DEFINE DOWN AS value < PREV(value),
         UP AS value > PREV(value)
)
"""

_SQL50_PROBES = (
    ("next", "TO NEXT ROW", "DOWN+ UP+ DOWN+"),
    ("past", "PAST LAST ROW", "DOWN+ UP+ DOWN+"),
    # SKIP TO LAST UP on a 5-leg N-zigzag: resume at the last UP run
    # (start + 3) — between the other two modes' densities
    ("tolast", "TO LAST UP", "DOWN+ UP+ DOWN+ UP+ DOWN+"),
)


def _sql50_oracle() -> str:
    from ..functions.sqldialect import sql_match_recognize

    parts = []
    for probe, skip, pattern in _SQL50_PROBES:
        inner = sql_match_recognize(
            _SQL50_MR_TEXT.format(skip=skip, pattern=pattern)
        )
        parts.append(f"SELECT '{probe}' AS probe, * FROM (\n{inner}\n)")
    return "\nUNION ALL\n".join(parts)


@register(
    "sql50_match_recognize_skip",
    oracle=_sql50_oracle(),
    doc="""The FULL ``AFTER MATCH SKIP`` family accepted VERBATIM (r9
    — VERDICT r8 Missing #3 named the SKIP variants): PAST LAST ROW
    (the ANSI/Snowflake DEFAULT, applied when the clause is absent —
    non-overlapping matches selected earliest-first over the candidate
    run spans), TO NEXT ROW (overlaps permitted), and TO FIRST|LAST
    <symbol> (resume at that symbol's run — the RUN-ALIGNED reading of
    ANSI's resume-at-the-symbol-row, documented engine contract; the
    symbol must be an unconditional leg of every variant, and a
    first-leg resume refuses as the infinite loop ANSI also errors
    on). Probes: the N-shaped (DOWN+ UP+ DOWN+) pattern under
    next/past (~2x divergence at sf0.01) and a 5-leg zig-zag under
    SKIP TO LAST UP (resume = start + 3 runs — density strictly
    between the other two). Spark: greedy resume-point selection runs
    as an Arrow applyInPandas over the CANDIDATE relation — each
    acceptance depends on the previous one (inherently sequential per
    partition, the stateful-sessionization class), but candidates are
    already compressed to ~one row per direction reversal, never the
    raw stream (functions/sqldialect.py:match_recognize_statement).
    The DuckDB twin lowers the same greedy as a recursive CTE
    (sql_match_recognize), so the statement carries its own oracle in
    every mode.""",
    tags=("sql-surface", "dialect", "match-recognize", "events"),
)
def sql50_match_recognize_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import match_recognize_statement

    ev = load(spark, sf_dir, "events")
    outs = []
    for probe, skip, pattern in _SQL50_PROBES:
        df = match_recognize_statement(
            spark,
            _SQL50_MR_TEXT.format(skip=skip, pattern=pattern),
            {"events": ev},
        )
        outs.append(df.select(F.lit(probe).alias("probe"), "*"))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


@register(
    "sql47_pivot_text",
    oracle="""
    SELECT o_orderstatus,
           CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                         THEN CAST(round(o_totalprice * 100) AS BIGINT) END)
                AS BIGINT) AS urgent,
           CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH'
                         THEN CAST(round(o_totalprice * 100) AS BIGINT) END)
                AS BIGINT) AS high,
           CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM'
                         THEN CAST(round(o_totalprice * 100) AS BIGINT) END)
                AS BIGINT) AS medium
    FROM orders GROUP BY o_orderstatus
    """,
    doc="""Snowflake ``PIVOT (agg FOR col IN (... AS alias))`` as
    SHARED TEXT (r8 — the f16/sql36 pattern: Spark 4 parses the ANSI
    pivot clause natively, so the Snowflake statement runs UNCHANGED,
    aliases and all; no rewriter needed, which is itself the claim
    worth pinning). Values absent from a group render NULL on both
    engines. The p8/p11 operators stay the DataFrame and
    dynamic-value-list paths; the oracle states the equivalent
    conditional aggregation since DuckDB's PIVOT dialect differs.
    One shuffle, partial aggregation — a pivot IS a grouped
    conditional agg.""",
    tags=("sql-surface", "pivot", "shared-text"),
)
def sql47_pivot_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT * FROM (
            SELECT o_orderstatus, o_orderpriority,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders
        ) PIVOT (SUM(cents) FOR o_orderpriority IN
                 ('1-URGENT' AS urgent, '2-HIGH' AS high, '3-MEDIUM' AS medium))
        """
    )


_F21_SNOWFLAKE_TEXT = """
SELECT o_orderpriority,
       CAST(SUM(IFF(GREATEST(NULLIF(o_custkey % 5, 0), o_orderkey % 7) IS NULL,
                    1, 0)) AS BIGINT) AS n_poisoned,
       CAST(SUM(ZEROIFNULL(GREATEST(NULLIF(o_custkey % 5, 0),
                                    o_orderkey % 7))) AS BIGINT) AS g_sum,
       CAST(SUM(LEAST(NULLIF(o_custkey % 5, 0), o_orderkey % 7)) AS BIGINT)
           AS l_sum,
       CAST(SUM(GREATEST_IGNORE_NULLS(NULLIF(o_custkey % 5, 0),
                                      o_orderkey % 7)) AS BIGINT) AS gin_sum,
       CAST(SUM(IFF(EQUAL_NULL(NULLIF(o_custkey % 5, 0),
                               NULLIF(o_orderkey % 5, 0)), 1, 0)) AS BIGINT)
           AS n_equal_null,
       BOOLOR_AGG(o_orderstatus = 'F') AS any_f,
       BOOLAND_AGG(o_totalprice > 0) AS all_positive
FROM orders GROUP BY o_orderpriority
"""


@register(
    "f21_null_semantics_dialect",
    oracle="""
    WITH base AS (
        SELECT o_orderpriority,
               NULLIF(o_custkey % 5, 0) AS a,
               o_orderkey % 7 AS b,
               NULLIF(o_orderkey % 5, 0) AS c,
               o_orderstatus, o_totalprice
        FROM orders
    )
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN a IS NULL OR b IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_poisoned,
           CAST(SUM(coalesce(CASE WHEN a IS NULL OR b IS NULL THEN NULL
                                  ELSE greatest(a, b) END, 0)) AS BIGINT)
               AS g_sum,
           CAST(SUM(CASE WHEN a IS NULL OR b IS NULL THEN NULL
                         ELSE least(a, b) END) AS BIGINT) AS l_sum,
           CAST(SUM(greatest(a, b)) AS BIGINT) AS gin_sum,
           CAST(SUM(CASE WHEN a IS NOT DISTINCT FROM c THEN 1 ELSE 0 END)
                AS BIGINT) AS n_equal_null,
           bool_or(o_orderstatus = 'F') AS any_f,
           bool_and(o_totalprice > 0) AS all_positive
    FROM base GROUP BY o_orderpriority
    """,
    doc="""NULL-semantics fidelity pack accepted VERBATIM (r8): the
    constructs where a naive Spark translation SILENTLY diverges from
    Snowflake. GREATEST / LEAST return NULL when ANY argument is NULL
    in Snowflake, while Spark's builtins SKIP nulls — the lowering
    guards with an any-null CASE over array_max/array_min (emitting
    Spark's own greatest/least would re-match the case-insensitive
    rewrite head and never converge, the ARRAY_CONTAINS lesson);
    GREATEST_IGNORE_NULLS / LEAST_IGNORE_NULLS spell Spark's skip
    behavior explicitly; EQUAL_NULL is null-safe equality (<=>,
    NULL==NULL true — counted here on the both-NULL residue pairs);
    BOOLOR_AGG / BOOLAND_AGG map to bool_or / bool_and. The oracle
    states the poisoning CASEs explicitly because DuckDB's greatest
    ALSO skips nulls — three engines, two conventions, one pinned
    contract. All per-row/per-group expressions: pushdown and partial
    aggregation untouched.""",
    tags=("functions", "dialect", "null-semantics"),
)
def f21_null_semantics_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import rewrite_scalar_funcs
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(rewrite_scalar_funcs(_F21_SNOWFLAKE_TEXT))


_F20_SNOWFLAKE_TEXT = """
SELECT user_id, ts, event_id,
       CAST(CONDITIONAL_CHANGE_EVENT(event_type)
            OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
           AS type_run,
       CAST(CONDITIONAL_TRUE_EVENT(event_type = 'purchase')
            OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
           AS purchases_so_far,
       RATIO_TO_REPORT(CAST(round(value * 100) AS BIGINT))
            OVER (PARTITION BY user_id) AS value_share
FROM events
"""


@register(
    "f20_window_dialect",
    oracle="""
    WITH base AS (
        SELECT user_id, ts, event_id, event_type,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    flagged AS (
        SELECT *,
               CASE WHEN ROW_NUMBER() OVER w = 1 THEN 0
                    WHEN event_type IS DISTINCT FROM LAG(event_type) OVER w
                    THEN 1 ELSE 0 END AS chg
        FROM base
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, ts, event_id,
           CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS type_run,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS purchases_so_far,
           CAST(cents AS DOUBLE)
               / CAST(SUM(cents) OVER (PARTITION BY user_id) AS DOUBLE)
               AS value_share
    FROM flagged
    """,
    doc="""The Snowflake-SPECIFIC window functions accepted VERBATIM
    (r8, functions/sqldialect.py:rewrite_window_dialect):
    RATIO_TO_REPORT (share of partition — exact integer cents summed,
    ONE final double division, the determinism convention; a raw
    double SUM would be partition-order-dependent),
    CONDITIONAL_TRUE_EVENT (running count of rows satisfying the
    condition, lowered with an explicit ROWS frame — the default
    RANGE frame would double-count order ties), and
    CONDITIONAL_CHANGE_EVENT (the gaps-and-islands run id — exactly
    the __chg/running-sum construction the MATCH_RECOGNIZE engine
    builds internally, now reachable as the standalone Snowflake
    function; the per-row change flag computes in a wrapped subquery
    because window functions cannot nest, with LAG-of-struct edge
    detection so NULL values mid-run still compare). One shuffle by
    user_id serves all three; the oracle states the identical
    lowering.""",
    tags=("functions", "window", "dialect"),
)
def f20_window_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import lower_select
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(lower_select(_F20_SNOWFLAKE_TEXT))


@register(
    "sql46_insert_text",
    oracle="""
    WITH work AS (
        SELECT n_nationkey, n_name, n_regionkey FROM nation
        UNION ALL
        SELECT 90, 'ATLANTIS', 0
        UNION ALL
        SELECT 91, 'ELDORADO', CAST(NULL AS BIGINT)
        UNION ALL
        SELECT r_regionkey + 100, upper(r_name), r_regionkey FROM region
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
           CAST(SUM(CASE WHEN n_regionkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null_region
    FROM work
    """,
    doc="""Plain ``INSERT INTO ... VALUES`` (multi-row, with a column
    list — the unnamed column fills with a typed NULL) and ``INSERT
    INTO ... SELECT`` accepted VERBATIM (r8 — completes the everyday
    DML text set: MERGE, INSERT OVERWRITE, UPDATE, DELETE, TRUNCATE
    already run as text): VALUES rows ride Spark's own table
    constructor, the SELECT form runs through lower_select over the
    registered relations, and every provided column casts STRICTLY to
    the target type (F4). The audit pins row count, key sum, and the
    NULL-filled column; the oracle replays both inserts as closed
    UNIONs. functions/sqldialect.py:insert_statement. No shuffle
    beyond the user's SELECT; the union is a metadata concat.""",
    tags=("sql-surface", "dialect", "dml"),
)
def sql46_insert_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import insert_statement

    nation = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = load(spark, sf_dir, "region")
    t1 = insert_statement(
        spark,
        "INSERT INTO nation_work VALUES (90, 'ATLANTIS', 0)",
        {"nation_work": nation},
    )
    t2 = insert_statement(
        spark,
        "INSERT INTO nation_work (n_nationkey, n_name)"
        " VALUES (91, 'ELDORADO')",
        {"nation_work": t1},
    )
    t3 = insert_statement(
        spark,
        "INSERT INTO nation_work"
        " SELECT r_regionkey + 100, upper(r_name), r_regionkey FROM region",
        {"nation_work": t2, "region": region},
    )
    return t3.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("n_nationkey").cast("long").alias("key_sum"),
        F.sum(F.when(F.col("n_regionkey").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_null_region"),
    )


@register(
    "s9_stage_metadata_select",
    oracle="""
    SELECT * FROM (VALUES
        ('customer_history.csv', 20, 20, 20),
        ('customer_delta_1.csv', 1, 0, 1),
        ('customer_delta_2.csv', 1, 0, 1)
    ) AS t(fname, n_rows, n_active, n_customers)
    """,
    doc="""Snowflake's query-the-stage idiom — ``SELECT ...
    METADATA$FILENAME ... FROM @stage/prefix`` accepted VERBATIM (r8,
    sources/copy_into.py:stage_select): the landing files are read
    through COPY INTO's exact named-format path (skip_header=1
    fidelity including the blank-first-line split that preserves
    customer_delta_1.csv's only data row), every row stamped with its
    source file's basename via input_file_name() — a scan-provided
    column, no join or shuffle added — and the statement runs over
    the registered relation. The per-file audit pins the three
    fixture files' exact row counts, the is_active='Y' count (the
    deltas carry NULL there — delta_1 by the 9-of-10-column
    PERMISSIVE fill, delta_2 by having no such column), and distinct
    customer ids, against a GOLDEN VALUES oracle hand-derived from
    the md5-pinned fixture bytes (pl_list_stage's convention).
    METADATA$FILE_ROW_NUMBER is exercised by s10 (r12).""",
    tags=("sources", "stage", "metadata", "dialect"),
)
def s9_stage_metadata_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.copy_into import stage_select
    from ..sources.csv_format import CUSTOMER_STAGE
    from .pipeline_queries import _REFERENCE_DATA, assert_fixture_fingerprints

    assert_fixture_fingerprints()
    return stage_select(
        spark,
        """
        SELECT METADATA$FILENAME AS fname,
               CAST(COUNT(*) AS INT) AS n_rows,
               CAST(SUM(CASE WHEN is_active = 'Y' THEN 1 ELSE 0 END) AS INT)
                   AS n_active,
               CAST(COUNT(DISTINCT customer_id) AS INT) AS n_customers
        FROM @ayo_landing_stage/customer
        GROUP BY METADATA$FILENAME
        """,
        _REFERENCE_DATA,
        CUSTOMER_STAGE,
    )


_F25_SNOWFLAKE_TEXT = """
SELECT o_orderkey,
       ARRAY_TO_STRING(ARRAY_SLICE(tags, 1, 3), '|') AS mid,
       ARRAY_TO_STRING(ARRAY_SLICE(tags, -2, -1), '|') AS near_end,
       ARRAY_TO_STRING(ARRAY_CAT(tags, ARRAY_CONSTRUCT('z')), ',') AS cat,
       ARRAY_TO_STRING(with_null, ',') AS null_render,
       ARRAY_TO_STRING(ARRAY_COMPACT(with_null), ',') AS compacted,
       ARRAY_POSITION('x2', tags) AS pos_x2,
       ARRAY_POSITION('nope', tags) AS pos_absent,
       ARRAY_TO_STRING(ARRAY_INTERSECTION(tags, ARRAY_CONSTRUCT('x2', 'w')),
                       ',') AS both_sides,
       ARRAY_TO_STRING(OBJECT_KEYS(props), ',') AS keys
FROM f25_src
"""


@register(
    "f25_array_dialect",
    oracle="""
    SELECT o_orderkey,
           'x2|y' || CAST(o_orderkey % 5 AS VARCHAR) AS mid,
           'y' || CAST(o_orderkey % 5 AS VARCHAR) AS near_end,
           'x' || CAST(o_orderkey % 3 AS VARCHAR) || ',x2,y'
               || CAST(o_orderkey % 5 AS VARCHAR) || ',w,z' AS cat,
           CASE WHEN o_orderkey % 2 = 0 THEN 'a,,c' ELSE 'a,b,c' END
               AS null_render,
           CASE WHEN o_orderkey % 2 = 0 THEN 'a,c' ELSE 'a,b,c' END
               AS compacted,
           CASE WHEN o_orderkey % 3 = 2 THEN 0 ELSE 1 END AS pos_x2,
           CAST(NULL AS INTEGER) AS pos_absent,
           'x2,w' AS both_sides,
           'k' || CAST(o_orderkey % 3 AS VARCHAR) || ',common' AS keys
    FROM orders WHERE o_orderkey % 13 = 0
    """,
    doc="""The Snowflake ARRAY pack accepted VERBATIM (r9) — the
    functions whose names or SEMANTICS differ from Spark's:
    ARRAY_SLICE (0-based from / EXCLUSIVE to / negatives from the end
    -> Spark's 1-based (start, length) via a sign-preserving CASE),
    ARRAY_TO_STRING (Snowflake renders NULL elements as EMPTY STRING
    — Spark's default array_join SKIPS them, the classic silent
    corruption; the 3-arg form restores fidelity, pinned by
    null_render), ARRAY_POSITION (Snowflake (element, array) +
    0-based + NULL-when-absent vs Spark (array, element) + 1-based +
    0-when-absent — every convention flipped), ARRAY_CAT,
    ARRAY_COMPACT, ARRAY_INTERSECTION, and OBJECT_KEYS over JSON-text
    VARIANTs (document key order, identical on both engines).
    Same-name/same-semantics functions (ARRAY_DISTINCT, ARRAY_EXCEPT,
    ARRAYS_OVERLAP, ARRAY_MAX/MIN) pass through untouched. All
    per-row expressions; outputs projected to scalars (the harness
    hashes scalar cells only). Oracle: closed forms from the same
    key arithmetic — including the pos_x2 first-occurrence trap when
    tags[0] collides with 'x2' (keys = 2 mod 3).""",
    tags=("sql-surface", "dialect", "functions", "array"),
)
def f25_array_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import rewrite_scalar_funcs

    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 13 == 0)
    k = F.col("o_orderkey")
    orders.select(
        "o_orderkey",
        F.array(
            F.concat(F.lit("x"), (k % 3).cast("string")),
            F.lit("x2"),
            F.concat(F.lit("y"), (k % 5).cast("string")),
            F.lit("w"),
        ).alias("tags"),
        F.array(
            F.lit("a"),
            F.when(k % 2 == 0, F.lit(None).cast("string")).otherwise(F.lit("b")),
            F.lit("c"),
        ).alias("with_null"),
        F.concat(
            F.lit('{"k'), (k % 3).cast("string"), F.lit('":1,"common":2}')
        ).alias("props"),
    ).createOrReplaceTempView("f25_src")
    return spark.sql(rewrite_scalar_funcs(_F25_SNOWFLAKE_TEXT))


# phone synthesized with the SAME printf on both engines so the regex
# targets carry real per-row variety (customer has no phone column)
_F26_PHONE = (
    "printf('%02d-%03d-%03d-%04d', c_custkey % 89 + 10,"
    " c_custkey % 900 + 100, (c_custkey * 7) % 900 + 100,"
    " (c_custkey * 13) % 9000 + 1000)"
)

_F26_SNOWFLAKE_TEXT = r"""
SELECT c_custkey,
       REGEXP_SUBSTR(phone, '[0-9]+', 1, 3) AS third_run,
       REGEXP_SUBSTR(phone, '([0-9]{3})-([0-9]{4})', 1, 1, 'e', 2) AS last4,
       REGEXP_SUBSTR(phone, 'x[0-9]+') AS missing,
       REGEXP_COUNT(phone, '[0-9]+') AS n_runs,
       REGEXP_COUNT(phone, '[0-9]+', 4) AS n_runs_mid,
       REGEXP_INSTR(phone, '-[0-9]{3}-') AS seg_at,
       REGEXP_INSTR(phone, '-[0-9]{3}-', 2, 1, 1) AS seg_end,
       REGEXP_REPLACE(phone, '([0-9]{3})-([0-9]{4})$', '\\2+\\1') AS swapped,
       REGEXP_REPLACE(phone, '[0-9]', '#', 7) AS masked,
       REGEXP_REPLACE(phone, '-') AS digits_only,
       REGEXP_LIKE(name, 'customer#[0-9]+', 'i') AS is_cust,
       REGEXP_LIKE(name, '[0-9]+') AS num_only
FROM f26_src
"""


@register(
    "f26_regexp_dialect",
    oracle=r"""
    WITH src AS (
        SELECT c_custkey, c_name AS name,
               printf('%02d-%03d-%03d-%04d', c_custkey % 89 + 10,
                      c_custkey % 900 + 100, (c_custkey * 7) % 900 + 100,
                      (c_custkey * 13) % 9000 + 1000) AS phone
        FROM customer WHERE c_custkey % 7 = 0
    )
    SELECT c_custkey,
           regexp_extract_all(phone, '[0-9]+')[3]                AS third_run,
           regexp_extract_all(phone, '([0-9]{3})-([0-9]{4})', 2)[1] AS last4,
           regexp_extract_all(phone, 'x[0-9]+')[1]               AS missing,
           len(regexp_extract_all(phone, '[0-9]+'))              AS n_runs,
           len(regexp_extract_all(substr(phone, 4), '[0-9]+'))   AS n_runs_mid,
           CASE WHEN regexp_matches(phone, '-[0-9]{3}-')
                THEN length(regexp_split_to_array(phone, '-[0-9]{3}-')[1]) + 1
                ELSE 0 END                                       AS seg_at,
           CASE WHEN regexp_matches(substr(phone, 2), '-[0-9]{3}-')
                THEN length(regexp_split_to_array(substr(phone, 2),
                                                  '-[0-9]{3}-')[1]) + 1
                     + 1
                     + length(regexp_extract(substr(phone, 2), '-[0-9]{3}-'))
                ELSE 0 END                                       AS seg_end,
           regexp_replace(phone, '([0-9]{3})-([0-9]{4})$', '\2+\1', 'g')
                                                                 AS swapped,
           substr(phone, 1, 6)
               || regexp_replace(substr(phone, 7), '[0-9]', '#', 'g')
                                                                 AS masked,
           regexp_replace(phone, '-', '', 'g')                   AS digits_only,
           regexp_full_match(name, '(?i)customer#[0-9]+')        AS is_cust,
           regexp_full_match(name, '[0-9]+')                     AS num_only
    FROM src
    """,
    doc="""The Snowflake REGEXP_* ARGUMENT FORMS accepted VERBATIM (r9
    session 2) — position / occurrence / regex_parameters / group_num,
    the arguments Spark's same-named builtins lack: REGEXP_SUBSTR
    occurrence selection (``try_element_at(regexp_extract_all(...))``
    — NULL when absent, Snowflake's contract), the 'e'+group_num
    submatch form, REGEXP_COUNT from a position, REGEXP_INSTR start /
    end (option=1) positions re-based after a position offset,
    REGEXP_REPLACE with backreference translation (Snowflake ``\\N``
    -> Java ``$N`` at the raw-literal level, ``$`` escaped) and the
    position form (Spark's 4-arg regexp_replace keeps the prefix —
    probed identical), and REGEXP_LIKE's IMPLICIT FULL-MATCH anchoring
    with parameter flags mapped to inline ``(?i)(?s)(?m)`` (num_only
    pins the anchor: a substring-matching lowering would return TRUE).
    All JVM-side single-projection expressions; occurrence-specific
    REPLACE and n-th-match INSTR refuse loudly (no Spark builtin).
    Oracle: DuckDB's 1-based list extracts, regexp_full_match, and the
    split-prefix-length identity for match positions
    (functions/sqldialect.py:_regexp_substr_rewrite ff.).""",
    tags=("sql-surface", "dialect", "functions", "regex"),
)
def f26_regexp_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import rewrite_scalar_funcs

    customer = load(spark, sf_dir, "customer").filter(
        F.col("c_custkey") % 7 == 0
    )
    customer.select(
        "c_custkey",
        F.col("c_name").alias("name"),
        F.expr(_F26_PHONE).alias("phone"),
    ).createOrReplaceTempView("f26_src")
    return spark.sql(rewrite_scalar_funcs(_F26_SNOWFLAKE_TEXT))


_F27_SNOWFLAKE_TEXT = """
SELECT event_id,
       DAYOFWEEKISO(d) AS dow_iso,
       WEEKISO(d) AS wk_iso,
       YEAROFWEEKISO(d) AS yow_iso,
       DATE_PART(dayofyear, d) AS doy,
       NEXT_DAY(d, 'fr') AS next_fri,
       PREVIOUS_DAY(d, 'tu') AS prev_tue,
       DATE_PART(year, ts) AS y,
       DATE_PART('epoch_second', ts) AS epoch_s,
       CONVERT_TIMEZONE('UTC', 'America/New_York', ts) AS ts_nyc,
       CONVERT_TIMEZONE('Asia/Kathmandu', 'UTC', ts) AS ts_from_ktm
FROM f27_src
"""


@register(
    "f27_calendar_dialect",
    oracle="""
    WITH src AS (
        SELECT event_id, ts, CAST(ts AS DATE) AS d
        FROM events WHERE event_id % 13 = 0
    )
    SELECT event_id,
           isodow(d)                                   AS dow_iso,
           week(d)                                     AS wk_iso,
           isoyear(d)                                  AS yow_iso,
           dayofyear(d)                                AS doy,
           d + CAST(((5 - isodow(d) + 6) % 7 + 1) AS INT)  AS next_fri,
           d - CAST(((isodow(d) - 2 + 6) % 7 + 1) AS INT)  AS prev_tue,
           year(ts)                                    AS y,
           -- Spark's unix_timestamp TRUNCATES sub-second time; a bare
           -- BIGINT cast of DuckDB's fractional epoch() would ROUND
           CAST(floor(epoch(ts)) AS BIGINT)            AS epoch_s,
           (ts AT TIME ZONE 'UTC') AT TIME ZONE 'America/New_York'
                                                       AS ts_nyc,
           (ts AT TIME ZONE 'Asia/Kathmandu') AT TIME ZONE 'UTC'
                                                       AS ts_from_ktm
    FROM src
    """,
    doc="""Snowflake CALENDAR / TIMEZONE scalars accepted VERBATIM (r9
    session 2): the ISO week family (DAYOFWEEKISO / WEEKISO /
    YEAROFWEEKISO — the session-parameter-INDEPENDENT forms; Spark's
    weekofyear and extract(YEAROFWEK) are ISO by definition, dayofweek
    re-based Monday=1), PREVIOUS_DAY (strictly-before counterpart of
    next_day via an 8-day re-base — the search window (d-8, d-1]
    is exactly the latest such weekday EARLIER than d, never d
    itself), DATE_PART with Snowflake's alias table including the
    EPOCH_SECOND form (-> unix_timestamp; plain DAYOFWEEK refuses —
    it obeys the WEEK_START session parameter), and CONVERT_TIMEZONE
    3-arg NTZ form -> from_utc_timestamp∘to_utc_timestamp (value-
    level, session-timezone-independent, DST-correct through the JVM
    tz database; the 2-arg form refuses — it returns TIMESTAMP_TZ, a
    type this engine deliberately does not carry). Kathmandu's +05:45
    pins sub-hour offsets. Oracle: DuckDB isodow/week/isoyear, day
    arithmetic, and the double AT TIME ZONE idiom over ICU.""",
    tags=("sql-surface", "dialect", "functions", "calendar", "timezone"),
)
def f27_calendar_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import rewrite_scalar_funcs

    events = load(spark, sf_dir, "events").filter(F.col("event_id") % 13 == 0)
    events.select(
        "event_id", "ts", F.col("ts").cast("date").alias("d")
    ).createOrReplaceTempView("f27_src")
    return spark.sql(rewrite_scalar_funcs(_F27_SNOWFLAKE_TEXT))


_F28_SNOWFLAKE_TEXT = """
SELECT o_orderkey,
       BITAND(o_orderkey, 255) AS lo,
       BITOR(o_orderkey, 16) AS set4,
       BITXOR(o_orderkey, o_custkey) AS mix,
       BITNOT(o_orderkey) AS flipped,
       BITSHIFTLEFT(o_orderkey, 3) AS shl,
       BITSHIFTRIGHT(BITNOT(o_orderkey), 2) AS shr_neg,
       GETBIT(o_orderkey, 5) AS b5
FROM f28_src
"""


@register(
    "f28_bit_ops",
    oracle="""
    SELECT o_orderkey,
           o_orderkey & 255                AS lo,
           o_orderkey | 16                 AS set4,
           xor(o_orderkey, o_custkey)      AS mix,
           ~o_orderkey                     AS flipped,
           o_orderkey << 3                 AS shl,
           (~o_orderkey) >> 2              AS shr_neg,
           (o_orderkey >> 5) & 1           AS b5
    FROM orders WHERE o_orderkey % 17 = 0
    """,
    doc="""Snowflake's named BIT functions accepted VERBATIM (r9
    session 2): BITAND/BITOR/BITXOR/BITNOT -> Spark's operators,
    BITSHIFTLEFT/RIGHT -> shiftleft/shiftright, GETBIT -> getbit.
    shr_neg pins the ARITHMETIC (sign-preserving) right shift on a
    negative operand — both engines' ``>>`` floor toward -inf on
    signed integers, the contract a logical-shift lowering would
    break. All single-projection JVM expressions
    (functions/sqldialect.py bit pack rows).""",
    tags=("sql-surface", "dialect", "functions", "bitops"),
)
def f28_bit_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import rewrite_scalar_funcs

    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 17 == 0)
    orders.select("o_orderkey", "o_custkey").createOrReplaceTempView("f28_src")
    return spark.sql(rewrite_scalar_funcs(_F28_SNOWFLAKE_TEXT))


_F29_SHARED_TEXT = """
SELECT o_orderpriority,
       MEDIAN(cents) AS med,
       PERCENTILE_CONT(0.25) WITHIN GROUP (ORDER BY cents) AS p25,
       PERCENTILE_CONT(0.75) WITHIN GROUP (ORDER BY cents) AS p75,
       PERCENTILE_DISC(0.9) WITHIN GROUP (ORDER BY cents) AS p90d,
       COUNT(*) AS n
FROM {src} GROUP BY o_orderpriority
"""


@register(
    "f29_percentile_dialect",
    oracle="""
    WITH src AS (
        SELECT o_orderpriority,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    )
    SELECT o_orderpriority,
           CAST(MEDIAN(cents) AS DOUBLE) AS med,
           PERCENTILE_CONT(0.25) WITHIN GROUP (ORDER BY cents) AS p25,
           PERCENTILE_CONT(0.75) WITHIN GROUP (ORDER BY cents) AS p75,
           CAST(PERCENTILE_DISC(0.9) WITHIN GROUP (ORDER BY cents)
                AS DOUBLE) AS p90d,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM src GROUP BY o_orderpriority
    """,
    doc="""Snowflake's ordered-set percentile aggregates run as ONE
    SHARED TEXT — Spark 4 parses MEDIAN and PERCENTILE_CONT/DISC
    WITHIN GROUP (ORDER BY ...) natively, which is the pinned claim
    (no rewriter in the path; DuckDB differs only in result-type
    casts). Inputs are exact cents BIGINTs so CONT interpolation at
    quarter fractions is EXACT in double ((n-1)*0.25 and both
    interpolation products are dyadic — engine-formula-independent);
    DISC picks an existing value by the standard first-cume_dist>=p
    rule, identical double comparison on both engines. MEDIAN =
    PERCENTILE_CONT(0.5) per Snowflake's definition.""",
    tags=("sql-surface", "dialect", "aggregation", "percentile"),
)
def f29_percentile_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    orders.select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100)
        .cast("bigint")
        .alias("cents"),
    ).createOrReplaceTempView("f29_src")
    return spark.sql(_F29_SHARED_TEXT.format(src="f29_src"))


# one VARIANT cell per row cycling through every JSON type class —
# the SAME constructor expression runs on both engines
_F30_VARIANT_CASE = """
CASE event_id % 9
    WHEN 0 THEN props
    WHEN 1 THEN '[1, 2]'
    WHEN 2 THEN '"text"'
    WHEN 3 THEN 'true'
    WHEN 4 THEN '-42'
    WHEN 5 THEN '3.14'
    WHEN 6 THEN '2.5e10'
    WHEN 7 THEN 'null'
    ELSE NULL
END
"""

# predicate outputs ride a STRING cast: nullable BOOLEAN NULLs
# round-trip as NaN from DuckDB but None from Spark (the f24 gotcha —
# the driver canonicalizer keeps them distinct)
_F30_SNOWFLAKE_TEXT = """
SELECT event_id,
       TYPEOF(v) AS t,
       CAST(IS_OBJECT(v) AS STRING) AS is_obj,
       CAST(IS_ARRAY(v) AS STRING) AS is_arr,
       CAST(IS_BOOLEAN(v) AS STRING) AS is_bool,
       CAST(IS_INTEGER(v) AS STRING) AS is_int,
       CAST(IS_VARCHAR(v) AS STRING) AS is_str,
       CAST(IS_NULL_VALUE(v) AS STRING) AS is_jnull
FROM f30_src
"""


@register(
    "f30_variant_typeof",
    oracle=r"""
    WITH src AS (
        SELECT event_id,
               CASE event_id % 9
                   WHEN 0 THEN props
                   WHEN 1 THEN '[1, 2]'
                   WHEN 2 THEN '"text"'
                   WHEN 3 THEN 'true'
                   WHEN 4 THEN '-42'
                   WHEN 5 THEN '3.14'
                   WHEN 6 THEN '2.5e10'
                   WHEN 7 THEN 'null'
                   ELSE NULL
               END AS v
        FROM events WHERE event_id % 11 = 0
    )
    SELECT event_id,
           CASE WHEN v IS NULL THEN NULL
                WHEN trim(v) = 'null' THEN 'NULL_VALUE'
                WHEN json_type(v) = 'OBJECT' THEN 'OBJECT'
                WHEN json_type(v) = 'ARRAY' THEN 'ARRAY'
                WHEN json_type(v) = 'VARCHAR' THEN 'VARCHAR'
                WHEN json_type(v) = 'BOOLEAN' THEN 'BOOLEAN'
                WHEN regexp_full_match(trim(v), '-?[0-9]+') THEN 'INTEGER'
                WHEN regexp_full_match(trim(v), '-?[0-9]+\.[0-9]+')
                    THEN 'DECIMAL'
                ELSE 'DOUBLE' END            AS t,
           CAST(json_type(v) = 'OBJECT' AS VARCHAR)  AS is_obj,
           CAST(json_type(v) = 'ARRAY' AS VARCHAR)   AS is_arr,
           CAST(json_type(v) = 'BOOLEAN' AS VARCHAR) AS is_bool,
           CAST(regexp_full_match(trim(v), '-?[0-9]+') AS VARCHAR) AS is_int,
           CAST(json_type(v) = 'VARCHAR' AS VARCHAR) AS is_str,
           CAST(trim(v) = 'null' AS VARCHAR)         AS is_jnull
    FROM src
    """,
    doc="""Snowflake VARIANT TYPE PREDICATES accepted VERBATIM (r9
    session 2) over this engine's JSON-text VARIANT contract (the
    sql30/sql34 convention): TYPEOF classifies the rendered JSON —
    structural classes by leading character, JSON numbers fine-classed
    the way Snowflake's PARSE_JSON stores them (integer text ->
    INTEGER, plain fraction -> DECIMAL, exponent form -> DOUBLE) —
    plus IS_OBJECT/IS_ARRAY/IS_BOOLEAN/IS_INTEGER/IS_VARCHAR/
    IS_NULL_VALUE. SQL NULL propagates as NULL; JSON ``null`` is the
    distinct NULL_VALUE class (Snowflake's own split). The probe
    cycles one cell through all nine classes including real
    ``events.props`` objects. Oracle classifies semi-independently via
    DuckDB's json_type for structural classes + the shared numeric
    regexes (functions/sqldialect.py:_typeof_case).""",
    tags=("sql-surface", "dialect", "variant", "functions"),
)
def f30_variant_typeof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import rewrite_scalar_funcs

    events = load(spark, sf_dir, "events").filter(F.col("event_id") % 11 == 0)
    events.select(
        "event_id", F.expr(_F30_VARIANT_CASE).alias("v")
    ).createOrReplaceTempView("f30_src")
    return spark.sql(rewrite_scalar_funcs(_F30_SNOWFLAKE_TEXT))


def _duck_to_char_numeric(x: str, fmt: str) -> str:
    """DuckDB twin of sqldialect._to_char_numeric_lower — the SAME
    pinned algorithm (decimal-cast rounding, exact string split,
    grouping/zero-pad/sign/$/#-overflow) written against DuckDB
    builtins, coded independently so the oracle is a genuine
    cross-check and not a shared bug. NULL-safe via || (DuckDB's
    concat() SKIPS nulls — the r9 sf10 harness lesson)."""
    import re as _re

    bare = fmt.strip()
    em = _re.fullmatch(r"(S?)([09])(?:\.([09]+))?EEEE", bare.upper())
    if em:
        spec = ("%+." if em.group(1) else "%.") + str(len(em.group(3) or "")) + "E"
        return f"printf('{spec}', CAST(({x}) AS DOUBLE))"
    if bare and set(bare) <= {"X", "x"}:
        d = f"CAST(({x}) AS DECIMAL(38,0))"
        h = f"printf('%{'x' if bare[0] == 'x' else 'X'}', CAST({d} AS BIGINT))"
        xfill = "'" + "#" * len(bare) + "'"
        return (
            f"(CASE WHEN {d} < 0 OR {d} > 1152921504606846975 THEN {xfill}"
            f" WHEN length({h}) > {len(bare)} THEN {xfill} ELSE {h} END)"
        )
    f = fmt.strip().upper().replace("G", ",").replace("D", ".")
    m = _re.fullmatch(r"(S?)(\$?)([09,]*[09])(?:\.([09]*))?(MI|PR)?", f)
    assert m, fmt
    int_mask, frac = m.group(3), m.group(4) or ""
    trailing = m.group(5)
    ip = sum(ch in "09" for ch in int_mask)
    s = len(frac)
    zpad = 0
    if "0" in int_mask:
        zpad = sum(ch in "09" for ch in int_mask[int_mask.index("0"):])
    d = f"CAST(({x}) AS DECIMAL(38,{s}))"
    a = f"ABS({d})"
    astr = f"CAST({a} AS VARCHAR)"
    istr = f"split_part({astr}, '.', 1)" if s else astr
    if "," in int_mask:
        int_out = f"format('{{:,}}', CAST({istr} AS BIGINT))"
    elif zpad:
        int_out = (
            f"lpad({istr}, CAST(greatest(length({istr}), {zpad})"
            f" AS INTEGER), '0')"
        )
    else:
        int_out = istr
    body = int_out
    if s:
        body = f"({int_out} || '.' || split_part({astr}, '.', 2))"
    if trailing == "MI":
        sign = "''"
        suffix = f"(CASE WHEN {d} < 0 THEN '-' ELSE ' ' END)"
    elif trailing == "PR":
        sign = f"(CASE WHEN {d} < 0 THEN '<' ELSE '' END)"
        suffix = f"(CASE WHEN {d} < 0 THEN '>' ELSE ' ' END)"
    elif m.group(1):
        sign = f"(CASE WHEN {d} < 0 THEN '-' ELSE '+' END)"
        suffix = "''"
    else:
        sign = f"(CASE WHEN {d} < 0 THEN '-' ELSE '' END)"
        suffix = "''"
    prefix = f"({sign} || '{m.group(2)}')" if m.group(2) else sign
    fill = "'" + "#" * (len(int_mask) + (s + 1 if s else 0)) + "'"
    return (
        f"(CASE WHEN length({istr}) > {ip}"
        f" THEN ({prefix} || {fill} || {suffix})"
        f" ELSE ({prefix} || {body} || {suffix}) END)"
    )


_F31_SNOWFLAKE_TEXT = """
SELECT o_orderkey,
       TO_CHAR(o_totalprice, '$9,999,999.00') AS money,
       TO_CHAR(o_totalprice, '99,999') AS whole,
       TO_VARCHAR(o_totalprice * (CASE WHEN o_orderkey % 2 = 0 THEN -1 ELSE 1 END),
                  'S9999999.99') AS signed_amt,
       TO_CHAR(o_orderkey % 997, '00000') AS padded,
       TO_CHAR(o_totalprice / 10000, '9.99') AS tight,
       TO_CHAR(o_totalprice * (CASE WHEN o_orderkey % 3 = 0 THEN -1 ELSE 1 END),
               '9999999.99MI') AS ledger_mi,
       TO_CHAR(o_totalprice * (CASE WHEN o_orderkey % 3 = 0 THEN -1 ELSE 1 END),
               '$9999999.99PR') AS ledger_pr,
       TO_CHAR(o_totalprice, '9.99EEEE') AS sci,
       TO_CHAR(o_orderkey, 'XXXXXXXX') AS key_hex
FROM orders
WHERE o_orderkey % 11 = 0
"""


@register(
    "f31_to_char_numeric",
    oracle=f"""
    SELECT o_orderkey,
           {_duck_to_char_numeric('o_totalprice', '$9,999,999.00')} AS money,
           {_duck_to_char_numeric('o_totalprice', '99,999')} AS whole,
           {_duck_to_char_numeric(
               "o_totalprice * (CASE WHEN o_orderkey % 2 = 0 THEN -1 ELSE 1 END)",
               'S9999999.99')} AS signed_amt,
           {_duck_to_char_numeric('o_orderkey % 997', '00000')} AS padded,
           {_duck_to_char_numeric('o_totalprice / 10000', '9.99')} AS tight,
           {_duck_to_char_numeric(
               "o_totalprice * (CASE WHEN o_orderkey % 3 = 0 THEN -1 ELSE 1 END)",
               '9999999.99MI')} AS ledger_mi,
           {_duck_to_char_numeric(
               "o_totalprice * (CASE WHEN o_orderkey % 3 = 0 THEN -1 ELSE 1 END)",
               '$9999999.99PR')} AS ledger_pr,
           {_duck_to_char_numeric('o_totalprice', '9.99EEEE')} AS sci,
           {_duck_to_char_numeric('o_orderkey', 'XXXXXXXX')} AS key_hex
    FROM orders
    WHERE o_orderkey % 11 = 0
    """,
    doc="""Snowflake NUMERIC OUTPUT MASKS for TO_CHAR/TO_VARCHAR —
    ``TO_CHAR(amt, '$9,999,999.00')`` — lowered instead of refused
    (VERDICT r10 #2: the most common remaining real-user paste; the
    reference's money columns are exactly this shape,
    order-data-pipeline.sql:55-60 types). The lowering
    (functions/sqldialect.py:_to_char_numeric_lower) composes exact
    decimal arithmetic: DECIMAL(38,s) cast for half-away-from-zero
    rounding (never through a double), string-split for exact
    fraction rendering, format_number grouping, lpad zero-padding,
    explicit S sign, $ after the sign, and the documented '#'-fill on
    integer overflow ('$####' — the snowflake docs' own example).
    Blank padding is the one stated divergence (unpadded canonical
    form; LPAD restores fixed width). Trailing-sign masks lower too
    (r12, VERDICT r11 #4): MI renders '-'/blank AFTER the digits, PR
    wraps negatives in angle brackets with a blank standing in the
    '>' position for non-negatives. EEEE lowers to the %.sE
    scientific rendering (byte-identical across format_string/printf
    on both engines; S maps to the explicit '+'), all-X masks to
    rounded-integer hex (mask case picks digit case; negatives and
    overflow render the '#' fill — the engine's documented
    no-per-row-errors posture where Snowflake errors). FM, combined
    X/EEEE forms, and >18 integer positions refuse loudly. The entry
    exercises every branch over
    orders money values: grouping+$, whole-number rounding WITH
    overflow rows mixed in ('######'), explicit sign on negated
    amounts, zero-padding, a tight mask that overflows at >=10, and
    MI/PR ledger columns on sign-alternating amounts.
    All per-row JVM expressions — pushdown/codegen untouched; the
    DuckDB twin re-implements the identical algorithm independently
    (_duck_to_char_numeric).""",
    tags=("sql-surface", "dialect", "functions", "conversion", "formats"),
)
def f31_to_char_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import rewrite_scalar_funcs
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(rewrite_scalar_funcs(_F31_SNOWFLAKE_TEXT))


@register(
    "s10_stage_positional_select",
    oracle="""
    SELECT * FROM (VALUES
        ('AAAAAAAAMKJPHPBA', 'Christopher', 'Y', 10),
        ('AAAAAAAAONMOGPBA', 'Rosalinda', 'Y', 10),
        ('AAAAAAAAPOJJJDAA', 'Neal', NULL, 10),
        ('AAAAAAAALKBJCPAA', 'Antonio', NULL, 10)
    ) AS t(cust_id, first_name, active_flag, n_cols)
    """,
    doc="""Snowflake's POSITIONAL stage columns — ``SELECT $1, $3 FROM
    @stage`` — accepted VERBATIM (r9): the raw-COPY preview idiom
    every loading runbook starts with ($n = the named file format's
    n-th column, 1-based, resolved against the format schema;
    out-of-range refuses; a literal-aware scan keeps '$2' inside
    string constants intact). Reads ride COPY INTO's exact named-
    format path (sources/copy_into.py:stage_select). The probe pins
    four known fixture rows — two history rows with $10 (is_active)
    = 'Y', delta_1's 9-column PERMISSIVE NULL-fill on $10, and
    delta_2's missing-column NULL — against a GOLDEN VALUES oracle
    derived from the md5-pinned fixture bytes (s9's convention).""",
    tags=("sources", "stage", "dialect", "positional"),
)
def s10_stage_positional_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.copy_into import stage_select
    from ..sources.csv_format import CUSTOMER_STAGE
    from .pipeline_queries import _REFERENCE_DATA, assert_fixture_fingerprints

    assert_fixture_fingerprints()
    return stage_select(
        spark,
        """
        SELECT $1 AS cust_id, $3 AS first_name, $10 AS active_flag,
               CAST(10 AS INT) AS n_cols
        FROM @ayo_landing_stage/customer
        WHERE $1 IN ('AAAAAAAAMKJPHPBA', 'AAAAAAAAONMOGPBA',
                     'AAAAAAAAPOJJJDAA', 'AAAAAAAALKBJCPAA')
        """,
        _REFERENCE_DATA,
        CUSTOMER_STAGE,
    )


# runs on Spark AS WRITTEN — the pinned claim is "no rewriter in the
# path" (the sql47 PIVOT posture): these Snowflake spellings parse
# natively in Spark 4
_SQL52_SNOWFLAKE_TEXT = r"""
SELECT p_partkey,
       p_type ILIKE '%brass%' AS brassy,
       p_type LIKE ANY ('STANDARD%', 'SMALL%') AS std_small,
       p_type LIKE ALL ('%ED%', '%I%') AS frag_both,
       TRIM(BOTH 'STN' FROM p_type) AS trimmed,
       POSITION('#' IN p_brand) AS hash_at,
       TRANSLATE(p_brand, '#', '-') AS dashed,
       (p_brand || '_' || CAST(p_size AS STRING)) LIKE '%\\_4' ESCAPE '\\'
           AS esc_like
FROM sql52_src
MINUS
SELECT p_partkey,
       p_type ILIKE '%brass%',
       p_type LIKE ANY ('STANDARD%', 'SMALL%'),
       p_type LIKE ALL ('%ED%', '%I%'),
       TRIM(BOTH 'STN' FROM p_type),
       POSITION('#' IN p_brand),
       TRANSLATE(p_brand, '#', '-'),
       (p_brand || '_' || CAST(p_size AS STRING)) LIKE '%\\_4' ESCAPE '\\'
FROM sql52_src WHERE p_partkey % 10 = 3
"""


@register(
    "sql52_native_spellings",
    oracle=r"""
    WITH src AS (SELECT * FROM part WHERE p_partkey % 7 = 0),
    sel AS (
        SELECT p_partkey,
               p_type ILIKE '%brass%' AS brassy,
               (p_type LIKE 'STANDARD%' OR p_type LIKE 'SMALL%')
                   AS std_small,
               (p_type LIKE '%ED%' AND p_type LIKE '%I%') AS frag_both,
               trim(p_type, 'STN') AS trimmed,
               CAST(strpos(p_brand, '#') AS INT) AS hash_at,
               translate(p_brand, '#', '-') AS dashed,
               (p_brand || '_' || CAST(p_size AS VARCHAR))
                   LIKE '%\_4' ESCAPE '\' AS esc_like
        FROM src
    )
    SELECT * FROM sel WHERE p_partkey % 10 != 3
    """,
    doc="""Snowflake spellings that run on Spark 4 AS WRITTEN — the
    pinned claim is that NO rewriter touches the text (sql47's
    posture, so a future regression in pass-through coverage fails
    loudly): MINUS (= EXCEPT DISTINCT), ILIKE, LIKE ANY / LIKE ALL
    pattern lists, ANSI TRIM(BOTH <charset> FROM x) (char-SET trim on
    both engines, not substring), POSITION(x IN y), TRANSLATE, and
    LIKE ... ESCAPE with an escaped ``_`` wildcard (matches only the
    literal underscore the concat planted). The oracle restates the
    two forms DuckDB's parser lacks (MINUS -> complement predicate,
    LIKE ANY/ALL -> OR/AND chains) and keeps the rest verbatim —
    documenting exactly which spellings are portable SQL and which are
    Spark-parser surface.""",
    tags=("sql-surface", "dialect", "native-parse"),
)
def sql52_native_spellings(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part").filter(F.col("p_partkey") % 7 == 0)
    part.createOrReplaceTempView("sql52_src")
    return spark.sql(_SQL52_SNOWFLAKE_TEXT)


_SQL51_SCRIPT = """
BEGIN;
UPDATE acct SET bal = bal + 10000 WHERE id % 4 = 0;
DELETE FROM acct WHERE bal < 200000;  -- sees the block's own UPDATE
COMMIT;
BEGIN;
UPDATE acct SET bal = 0;
INSERT INTO acct VALUES (900000001, 1);
ROLLBACK;
UPDATE acct SET bal = bal - 5000 WHERE id % 3 = 0
"""


@register(
    "sql51_transaction_text",
    oracle="""
    WITH base AS (
        SELECT c_custkey AS id,
               CAST(round(c_acctbal * 100) AS BIGINT) AS bal
        FROM customer
    ),
    s1 AS (SELECT id,
                  CASE WHEN id % 4 = 0 THEN bal + 10000 ELSE bal END AS bal
           FROM base),
    s2 AS (SELECT * FROM s1 WHERE NOT (bal < 200000)),
    s3 AS (SELECT id,
                  CASE WHEN id % 3 = 0 THEN bal - 5000 ELSE bal END AS bal
           FROM s2)
    SELECT id, bal FROM s3
    """,
    doc="""EXPLICIT TRANSACTION BLOCKS accepted VERBATIM (r9 session
    2): ``BEGIN; <DML...>; COMMIT`` applies atomically, ``BEGIN; ...;
    ROLLBACK`` leaves no trace, statements outside blocks autocommit —
    Snowflake's AUTOCOMMIT=TRUE contract over the existing DML shims
    (functions/sqldialect.py:transaction_script). The probe pins the
    three behaviors at once: a committed block whose DELETE reads the
    block's OWN uncommitted UPDATE (read-your-writes — rows the
    UPDATE lifts over the threshold survive the DELETE), a rolled-back
    block (zero-out + insert vanish entirely), and a trailing
    autocommit UPDATE. Statement splitting is quote/comment-aware.
    Atomicity is a lazy mapping swap — a block adds no materialization
    or shuffle; this is the text-level analog of pl_transaction's
    storage-layer intent-marker protocol. Oracle: the committed
    effects as one CTE chain.""",
    tags=("sql-surface", "dialect", "dml", "transaction"),
)
def sql51_transaction_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import transaction_script

    acct = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("bal"),
    )
    final = transaction_script(spark, _SQL51_SCRIPT, {"acct": acct})
    return final["acct"]


@register(
    "s11_put_remove_stage",
    oracle="""
    SELECT * FROM (VALUES
        ('put_fresh',          'UPLOADED'),
        ('put_dup',            'SKIPPED'),
        ('put_gz',             'UPLOADED'),
        ('gz_target',          'orders_fix.csv.gz'),
        ('stage_after_put',    'orders_fix.csv|orders_fix.csv.gz'),
        ('roundtrip_rows',     '4'),
        ('roundtrip_qty_sum',  '60'),
        ('removed',            'orders_fix.csv.gz'),
        ('stage_after_remove', 'orders_fix.csv')
    ) AS t(step, value)
    """,
    doc="""``PUT file:// @stage`` and ``REMOVE @stage`` accepted
    VERBATIM (r9 session 2) — the first and last verbs of every
    Snowflake loading runbook, closing the stage-lifecycle text
    surface around list/COPY/unload (S6/S2/s8): PUT uploads a local
    file into the stage directory (AUTO_COMPRESS defaults TRUE —
    gzip + ``.gz`` with deterministic bytes via mtime=0; OVERWRITE
    defaults FALSE — the duplicate PUT returns SKIPPED, pinned),
    REMOVE deletes by stage-relative prefix and returns one row per
    removed file. The probe round-trips: upload plain + gzipped copies,
    read BOTH back through one Spark CSV load (the .gz rides Spark's
    native codec path — the data plane stays distributed), then REMOVE
    the gzip and re-list. Golden VALUES oracle
    (sources/copy_into.py:put_statement, remove_statement).""",
    tags=("sources", "stage", "dialect", "put"),
)
def s11_put_remove_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..functions.scratch import scratch_dir
    from ..sources.copy_into import list_stage, put_statement, remove_statement

    root = scratch_dir("put_stage_")
    land = os.path.join(root, "inbox")
    os.makedirs(land, exist_ok=True)
    src = os.path.join(root, "orders_fix.csv")
    with open(src, "w") as f:
        f.write("id,qty\n1,10\n2,20\n")

    r1 = put_statement(f"PUT file://{src} @inbox AUTO_COMPRESS = FALSE", land)
    r2 = put_statement(f"PUT file://{src} @inbox AUTO_COMPRESS = FALSE", land)
    r3 = put_statement(f"PUT file://{src} @inbox", land)
    after_put = "|".join(list_stage(land))
    both = spark.read.option("header", "true").csv(land)
    n_rows = both.count()
    qty_sum = both.agg(F.sum(F.col("qty").cast("long"))).collect()[0][0]
    removed = remove_statement("REMOVE @inbox/orders_fix.csv.gz", land)
    after_remove = "|".join(list_stage(land))
    probes = [
        ("put_fresh", r1["status"]),
        ("put_dup", r2["status"]),
        ("put_gz", r3["status"]),
        ("gz_target", r3["target"]),
        ("stage_after_put", after_put),
        ("roundtrip_rows", str(n_rows)),
        ("roundtrip_qty_sum", str(qty_sum)),
        ("removed", "|".join(removed)),
        ("stage_after_remove", after_remove),
    ]
    return spark.createDataFrame(probes, "step string, value string")


# one statement exercising FOUR dialect constructs at once — the
# composed lowering must handle their interactions, not just each
# construct alone
_SQL35_SNOWFLAKE_TEXT = f"""
SELECT e.event_id,
       e.obj:meta.bucket::string AS bucket,
       IFF(s.index = 1, 'head', 'tail') AS kind,
       s.value AS tag
FROM (SELECT event_id, {_SQL13_OBJ} AS obj,
             CONCAT(event_type, ',x', CAST(event_id % 7 AS STRING)) AS csv
      FROM events WHERE event_id % 101 = 0) e,
     LATERAL SPLIT_TO_TABLE(e.csv, ',') s
QUALIFY row_number() OVER (PARTITION BY e.event_id ORDER BY s.index) <= 2
"""


@register(
    "sql35_composed_dialect",
    oracle=f"""
    WITH e AS (
        SELECT event_id, {_SQL13_OBJ_DUCK} AS obj,
               CONCAT(event_type, ',x', CAST(event_id % 7 AS VARCHAR)) AS csv
        FROM events WHERE event_id % 101 = 0
    ),
    exploded AS (
        SELECT event_id,
               json_extract_string(obj, '$.meta.bucket') AS bucket,
               CAST(g.i + 1 AS BIGINT) AS idx,
               string_split(csv, ',')[g.i + 1] AS tag
        FROM e,
             UNNEST(generate_series(0, len(string_split(csv, ',')) - 1)) AS g(i)
    )
    SELECT event_id, bucket,
           CASE WHEN idx = 1 THEN 'head' ELSE 'tail' END AS kind, tag
    FROM (SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY idx) AS rn
          FROM exploded)
    WHERE rn <= 2
    """,
    doc="""The composed Snowflake-SELECT lowering
    (functions/sqldialect.py:lower_select — now the plain-query path
    of snowflake_sql()): ONE statement mixing a VARIANT path with a
    ::cast, IFF, LATERAL SPLIT_TO_TABLE (whose 1-based index feeds
    both the IFF and the window), and a trailing QUALIFY — four
    dialect constructs whose REWRITES must compose (variant paths
    first so later passes see plain expressions, QUALIFY last because
    it wraps the final select list; each rewriter is a no-op when its
    construct is absent). This is the "paste your Snowflake query"
    claim made checkable: the oracle states the same relation in
    ANSI. Per-row generators + one window — a single shuffle by the
    QUALIFY partition key at any scale.""",
    tags=("sql-surface", "dialect", "composed"),
)
def sql35_composed_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.snowflake_sql import snowflake_sql
    from .tables import register_views

    register_views(spark, sf_dir)
    return snowflake_sql(spark, _SQL35_SNOWFLAKE_TEXT).select(
        "event_id", "bucket", "kind", "tag"
    )


_SQL14_SNOWFLAKE_TEXT = """
SELECT c_custkey, c_nationkey, LEVEL FROM customer
START WITH c_custkey BETWEEN 1 AND 9
CONNECT BY PRIOR c_custkey = CAST(floor(c_custkey / 10) AS BIGINT)
"""


def _sql14_lowered() -> str:
    from ..functions.sqldialect import rewrite_connect_by

    return rewrite_connect_by(_SQL14_SNOWFLAKE_TEXT)


@register(
    "sql14_connect_by",
    # the lowered WITH RECURSIVE text is a shared surface (sql4 proves
    # both engines ship it) — the oracle runs the SAME lowering.
    oracle=_sql14_lowered(),
    doc="""Snowflake ``CONNECT BY`` hierarchical query accepted
    VERBATIM (org chart / bill-of-materials idiom): START WITH roots,
    PRIOR parent-child recursion, LEVEL pseudo-column — lowered
    textually to ANSI WITH RECURSIVE
    (functions/sqldialect.py:rewrite_connect_by), which BOTH engines
    execute natively, so one lowering serves execution and oracle.
    The parent expression is identifier-qualified against the child
    side of the recursive join (bare names would be ambiguous);
    NOCYCLE / SYS_CONNECT_BY_PATH / right-hand PRIOR refuse loudly.
    The hierarchy here derives parent custkey = floor(key/10) (roots
    1-9; key 0 is its own parent and is deliberately excluded — a
    cycle would recurse forever, Snowflake's own CONNECT BY errors
    on it). Each recursion level is one keyed equi-join of the
    frontier against the table; depth = hierarchy depth (4 at
    sf0.01), never row count.""",
    tags=("sql-surface", "dialect", "hierarchical", "recursive"),
)
def sql14_connect_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_sql14_lowered())


# sql14's hierarchy capped at two levels — the "direct reports only"
# org-chart idiom (CONNECT BY ... AND LEVEL <= n).
_SQL29_SNOWFLAKE_TEXT = """
SELECT c_custkey, c_nationkey, LEVEL FROM customer
START WITH c_custkey BETWEEN 1 AND 9
CONNECT BY PRIOR c_custkey = CAST(floor(c_custkey / 10) AS BIGINT) AND LEVEL <= 2
"""


def _sql29_lowered() -> str:
    from ..functions.sqldialect import rewrite_connect_by

    return rewrite_connect_by(_SQL29_SNOWFLAKE_TEXT)


@register(
    "sql29_connect_by_level",
    oracle=_sql29_lowered(),
    doc="""Snowflake ``CONNECT BY ... AND LEVEL <= n`` accepted
    VERBATIM — sql14's hierarchy with the depth cap every real
    org-chart query carries ("roots and their direct reports"). The
    trailing LEVEL bound lowers to a depth guard on the RECURSIVE arm
    only (``WHERE __h.level + 1 <= n``): START WITH anchors always
    emit at level 1, recursion stops expanding past n — Snowflake's
    own semantics, where the limit gates edge expansion rather than
    filtering rows after the fact. At scale the cap bounds the number
    of frontier joins at n-1 regardless of hierarchy depth — the
    difference between a 3-join plan and an unbounded fixpoint on a
    deep (or accidentally cyclic) parent column. Oracle runs the SAME
    lowered WITH RECURSIVE text (shared surface, sql4/sql14).""",
    tags=("sql-surface", "dialect", "hierarchical", "recursive"),
)
def sql29_connect_by_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_sql29_lowered())


_SQL30_SNOWFLAKE_TEXT = f"""
SELECT e.event_id, f.path AS path, f.key AS key, f.index AS idx, f.value AS value
FROM (SELECT event_id, {_SQL13_OBJ} AS obj
      FROM events WHERE event_id % 101 = 0) e,
     LATERAL FLATTEN(input => e.obj, recursive => true) f
"""


@register(
    "sql30_flatten_recursive",
    oracle=f"""
    WITH e AS (
        SELECT event_id, {_SQL13_OBJ_DUCK} AS obj
        FROM events WHERE event_id % 101 = 0
    )
    SELECT event_id, 'meta' AS path, 'meta' AS key,
           CAST(NULL AS BIGINT) AS idx,
           json_extract(obj, '$.meta')::VARCHAR AS value FROM e
    UNION ALL SELECT event_id, 'meta.et', 'et', NULL,
           json_extract_string(obj, '$.meta.et') FROM e
    UNION ALL SELECT event_id, 'meta.bucket', 'bucket', NULL,
           json_extract_string(obj, '$.meta.bucket') FROM e
    UNION ALL SELECT event_id, 'tags', 'tags', NULL,
           json_extract(obj, '$.tags')::VARCHAR FROM e
    UNION ALL SELECT event_id, 'tags[0]', CAST(NULL AS VARCHAR), 0,
           json_extract_string(obj, '$.tags[0]') FROM e
    UNION ALL SELECT event_id, 'tags[1]', NULL, 1,
           json_extract_string(obj, '$.tags[1]') FROM e
    """,
    doc="""``FLATTEN(..., RECURSIVE => TRUE)`` accepted VERBATIM — the
    last FLATTEN mode (VERDICT r6 left it refused): every element at
    EVERY nesting level emits a row, compound values appearing both as
    rows and expanded, with Snowflake's PATH rendering ('meta.et',
    'tags[0]'), KEY for object fields, INDEX for array slots. A
    bounded fixpoint can't be one LATERAL VIEW, so the statement
    routes through flatten_recursive_statement
    (functions/sqldialect.py) into the flatten_recursive operator: a
    FIXED max_depth chain of narrow per-row generators (explode over
    json_object_keys / sequence + dynamic-path get_json_object),
    unioned lazily — no shuffle, no join, no driver-side emptiness
    probes; levels past the real nesting depth are empty branches.
    Value text is Spark's compact get_json_object rendering, probed
    byte-identical to DuckDB's json_extract (scalars unquote on both
    sides). The oracle enumerates the known two-level object's six
    rows per event in closed form — no recursion needed to CHECK what
    recursion computed.""",
    tags=("sql-surface", "dialect", "flatten", "semi-structured", "recursive"),
)
def sql30_flatten_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import flatten_recursive_statement
    from .tables import register_views

    register_views(spark, sf_dir)
    return flatten_recursive_statement(spark, _SQL30_SNOWFLAKE_TEXT).select(
        "event_id", "path", "key", F.col("idx").cast("long").alias("idx"), "value"
    )


# The canonical CDC-apply MERGE: a delete-flagged change batch against
# a keyed state table. Built from customer deterministically: the
# batch overlaps the state (updates + deletes) and extends past it
# (inserts, some suppressed by the insert predicate).
_SQL31_MERGE_TEXT = """
MERGE INTO state USING batch ON state.c_custkey = batch.c_custkey
WHEN MATCHED AND batch._action = 'DELETE' THEN DELETE
WHEN MATCHED THEN UPDATE SET state.bal_cents = batch.bal_cents + 100
WHEN NOT MATCHED AND batch._action = 'UPSERT' THEN
INSERT (c_custkey, c_name, bal_cents)
VALUES (batch.c_custkey, batch.c_name, batch.bal_cents)
"""


@register(
    "sql31_merge_cdc_apply",
    oracle="""
    WITH t AS (
        SELECT c_custkey, c_name,
               CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
        FROM customer WHERE c_custkey <= 1000
    ),
    s AS (
        SELECT c_custkey, c_name,
               CASE WHEN c_custkey % 7 = 0 THEN 'DELETE' ELSE 'UPSERT' END
                   AS _action,
               CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
        FROM customer WHERE c_custkey BETWEEN 501 AND 1500
    )
    SELECT t.c_custkey, t.c_name,
           CASE WHEN s.c_custkey IS NOT NULL
                     AND NOT COALESCE(s._action = 'DELETE', FALSE)
                THEN s.bal_cents + 100 ELSE t.bal_cents END AS bal_cents
    FROM t LEFT JOIN s ON t.c_custkey = s.c_custkey
    WHERE NOT COALESCE(s._action = 'DELETE', FALSE)
    UNION ALL
    SELECT s.c_custkey, s.c_name, s.bal_cents
    FROM s
    WHERE s._action = 'UPSERT'
      AND NOT EXISTS (SELECT 1 FROM t WHERE t.c_custkey = s.c_custkey)
    """,
    doc="""The canonical CDC-apply MERGE accepted VERBATIM — the
    statement every Snowflake change pipeline runs: ``WHEN MATCHED AND
    _action = 'DELETE' THEN DELETE``, an unpredicated matched UPDATE,
    and a predicated ``WHEN NOT MATCHED AND _action = 'UPSERT'``
    INSERT. merge_statement (functions/sqldialect.py) now compiles
    predicated WHEN clauses and DELETE into the same two-join state
    equation: clause predicates fire in Snowflake's evaluation order
    (later matched clauses guarded by cumulative negation of earlier
    ones, NULL predicates firing nothing), DELETE becomes a NOT-fired
    filter on the kept side, the insert predicate a WHERE on the anti
    side — still ONE keyed join + ONE anti join, broadcastable batch,
    no row multiplication at any scale. Money travels as exact cents
    (BIGINT); the oracle states the identical equation relationally.
    m5/m9 are the DataFrame-side CDC/delete operators; this is their
    text surface.""",
    tags=("sql-surface", "dialect", "merge", "cdc", "delete"),
)
def sql31_merge_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import merge_statement

    cust = load(spark, sf_dir, "customer")
    cents = F.expr("CAST(round(c_acctbal * 100) AS BIGINT)")
    state = cust.filter(F.col("c_custkey") <= 1000).select(
        "c_custkey", "c_name", cents.alias("bal_cents")
    )
    batch = cust.filter(F.col("c_custkey").between(501, 1500)).select(
        "c_custkey",
        "c_name",
        F.when(F.col("c_custkey") % 7 == 0, F.lit("DELETE"))
        .otherwise(F.lit("UPSERT"))
        .alias("_action"),
        cents.alias("bal_cents"),
    )
    return merge_statement(
        spark, _SQL31_MERGE_TEXT, {"state": state, "batch": batch}
    )


_SQL16_SNOWFLAKE_TEXT = """
SELECT s.spine_date, CAST(count(o.o_orderkey) AS BIGINT) AS n_orders
FROM (SELECT DATEADD(day, SEQ4(), DATE '1998-07-01') AS spine_date
      FROM TABLE(GENERATOR(ROWCOUNT => 31))) s
LEFT JOIN orders o ON CAST(o.o_orderdate AS DATE) = s.spine_date
GROUP BY s.spine_date
ORDER BY s.spine_date
"""


@register(
    "sql16_generator_dialect",
    oracle="""
    WITH s AS (
        SELECT CAST(DATE '1998-07-01' + CAST(g.i AS INTEGER) AS DATE) AS spine_date
        FROM (SELECT unnest(generate_series(0, 30)) AS i) g
    )
    SELECT s.spine_date, CAST(count(o.o_orderkey) AS BIGINT) AS n_orders
    FROM s LEFT JOIN orders o ON CAST(o.o_orderdate AS DATE) = s.spine_date
    GROUP BY s.spine_date
    ORDER BY s.spine_date
    """,
    doc="""Snowflake row-generator idiom accepted VERBATIM — the
    date-spine recipe every Snowflake warehouse contains:
    ``TABLE(GENERATOR(ROWCOUNT => n))`` + ``SEQ4()`` + ``DATEADD``
    building a gap-free calendar that LEFT JOINs facts so zero-order
    days surface as 0 (x3 is the engine-side spine; this is the text
    surface). Lowering (functions/sqldialect.py:rewrite_generator):
    GENERATOR -> Spark's native lazy ``range(n)`` (no materialized
    data, splits across executors), SEQ4/SEQ8 -> the range counter,
    DATEADD(day|week|month|quarter|year) -> date_add/add_months;
    GENERATOR(TIMELIMIT) refuses — wall-clock row sources are
    nondeterministic. The spine side is tiny and broadcast; the fact
    side never shuffles for the join.""",
    tags=("sql-surface", "dialect", "generator", "date-spine"),
)
def sql16_generator_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import rewrite_generator
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(rewrite_generator(_SQL16_SNOWFLAKE_TEXT))


_CLUSTERING_LAYOUTS = (
    # (layout name, deterministic md5/closed-form bucket expr — Spark, DuckDB)
    (
        "clustered_by_date",
        "CAST(datediff(o_orderdate, TIMESTAMP '1995-01-01') div 300 AS BIGINT)",
        "date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) // 300",
    ),
    (
        "random_layout",
        "CAST(conv(substring(md5(concat('clus:', CAST(o_orderkey AS STRING))), 1, 15), 16, 10) AS BIGINT) % 8",
        "CAST(concat('0x', substring(md5(concat('clus:', CAST(o_orderkey AS VARCHAR))), 1, 15)) AS BIGINT) % 8",
    ),
)


def _clustering_info_oracle() -> str:
    parts = []
    for name, _, duck in _CLUSTERING_LAYOUTS:
        parts.append(f"""
    SELECT '{name}' AS layout, n_partitions, sum_overlaps,
           CAST(sum_overlaps AS DOUBLE) / CAST(n_partitions AS DOUBLE)
               AS avg_overlaps
    FROM (
        SELECT CAST(count(*) AS BIGINT) AS n_partitions,
               CAST(sum(o) AS BIGINT) AS sum_overlaps
        FROM (
            SELECT a.bucket,
                   count(*) FILTER (WHERE b.bucket != a.bucket
                                      AND a.lo <= b.hi AND a.hi >= b.lo) AS o
            FROM (SELECT {duck} AS bucket, min(o_orderdate) AS lo,
                         max(o_orderdate) AS hi
                  FROM orders GROUP BY 1) a
            CROSS JOIN (SELECT {duck} AS bucket, min(o_orderdate) AS lo,
                               max(o_orderdate) AS hi
                        FROM orders GROUP BY 1) b
            GROUP BY a.bucket
        )
    )""")
    return " UNION ALL ".join(parts)


@register(
    "pl_clustering_info",
    oracle=_clustering_info_oracle(),
    doc="""Clustering-quality metrics (the Snowflake
    SYSTEM$CLUSTERING_INFORMATION surface: average_overlaps tells you
    whether a clustering key actually prunes): orders is materialized
    under TWO layouts — date-bucketed (the layout z1/zonemap pruning
    wants) and md5-random (the ingest-order anti-pattern) — each
    written partition-per-bucket; the per-partition [min, max] date
    ranges come from the zone-map manifest of the REAL written files
    (operators/zonemap.py), and the metric counts pairwise range
    overlaps (a date predicate on the random layout hits every file,
    avg_overlaps = n-1; on the clustered layout, ~0 — the number IS
    the pruning factor a 100 TB scan gains). Buckets are md5/closed-
    form so the oracle recomputes the identical metrics straight from
    the rows; a green row proves the written layout's zone ranges
    match the closed form exactly.""",
    tags=("pipeline", "clustering", "layout", "zonemap"),
)
def pl_clustering_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.zonemap import build_zone_map

    base = scratch_dir("clusinfo_")
    orders = load(spark, sf_dir, "orders")
    out = None
    for name, spark_bucket, _ in _CLUSTERING_LAYOUTS:
        path = f"{base}/{name}"
        (
            orders.withColumn("__bucket", F.expr(spark_bucket))
            .repartition(F.col("__bucket"))
            .write.partitionBy("__bucket")
            .parquet(path)
        )
        manifest = build_zone_map(spark, path, ["o_orderdate"]).select(
            "file",
            F.col("min_o_orderdate").alias("lo"),
            F.col("max_o_orderdate").alias("hi"),
        )
        a = manifest.select(
            F.col("file").alias("a_f"), F.col("lo").alias("a_lo"), F.col("hi").alias("a_hi")
        )
        b = manifest.select(
            F.col("file").alias("b_f"), F.col("lo").alias("b_lo"), F.col("hi").alias("b_hi")
        )
        pairs = a.crossJoin(b)  # n_partitions^2 metadata rows — tiny at any SF
        agg = pairs.agg(
            F.count_if(
                (F.col("a_f") != F.col("b_f"))
                & (F.col("a_lo") <= F.col("b_hi"))
                & (F.col("a_hi") >= F.col("b_lo"))
            ).cast("long").alias("sum_overlaps_raw"),
        )
        n_parts = manifest.count()
        row = agg.select(
            F.lit(name).alias("layout"),
            F.lit(n_parts).cast("long").alias("n_partitions"),
            F.col("sum_overlaps_raw").alias("sum_overlaps"),
            (
                F.col("sum_overlaps_raw").cast("double") / F.lit(float(n_parts))
            ).alias("avg_overlaps"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def _show_columns_oracle() -> str:
    """The oracle restates the reference's typed DDL as VALUES —
    derived from the same struct constants the warehouse registers
    (sources/csv_format.py, which cite the CREATE TABLE statements in
    /root/reference/etl_script line by line), so a green row pins the
    catalog's name/ordinal/type/nullability rendering against the
    declared DDL."""
    from ..sources import csv_format as CF

    tables = [
        ("stg", "stg_customer", CF.CUSTOMER_STAGE),
        ("stg", "stg_item", CF.ITEM_STAGE),
        ("stg", "stg_order", CF.ORDER_STAGE),
        ("transformed", "dim_customer", CF.DIM_CUSTOMER),
        ("transformed", "dim_item", CF.DIM_ITEM),
        ("transformed", "fact_order", CF.FACT_ORDER),
    ]
    rows = []
    for schema, name, struct in tables:
        for i, f in enumerate(struct.fields):
            nullable = "true" if f.nullable else "false"
            rows.append(
                f"('{schema}', '{name}', {i + 1}, '{f.name}', "
                f"'{f.dataType.simpleString()}', {nullable})"
            )
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(rows)
        + ") AS t(schema_name, table_name, ordinal, column_name, data_type, nullable)"
    )


@register(
    "pl_show_columns",
    oracle=_show_columns_oracle(),
    doc="""SHOW COLUMNS / INFORMATION_SCHEMA.COLUMNS (the S7
    introspection family's missing member next to show
    tables/streams/pipes): the reference's six warehouse tables —
    schema-on-read varchar stage tables and the fully-typed
    dim/fact DDL (customer-...sql:31-45, item-...sql:25-37,
    order-...sql:48-61, typo'd `disount_amt` preserved) — registered
    in a Warehouse and emitted as catalog rows
    (schema, table, ordinal, name, type, nullability). Pure metadata:
    no file I/O at any table size. The golden oracle restates the
    same DDL as VALUES, pinning the type-name rendering
    (number->bigint/int, number(p,2)->decimal(p,2), autoincrement->
    bigint identity). plans/catalog.py:Warehouse.show_columns.""",
    tags=("pipeline", "catalog", "introspection"),
)
def pl_show_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import csv_format as CF
    from .catalog import Warehouse

    wh = Warehouse(spark, scratch_dir("showcols_"))
    wh.table("stg", "stg_customer", CF.CUSTOMER_STAGE)
    wh.table("stg", "stg_item", CF.ITEM_STAGE)
    wh.table("stg", "stg_order", CF.ORDER_STAGE)
    wh.table("transformed", "dim_customer", CF.DIM_CUSTOMER)
    wh.table("transformed", "dim_item", CF.DIM_ITEM)
    wh.table("transformed", "fact_order", CF.FACT_ORDER)
    return wh.show_columns()


def _x24_oracle() -> str:
    base = """
    WITH v AS (
        SELECT user_id, event_id, ts FROM events WHERE event_type = 'view'
    ),
    c0 AS (
        SELECT user_id, ts, event_id,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events WHERE event_type = 'click'
        QUALIFY row_number() OVER (
            PARTITION BY user_id, ts ORDER BY event_id DESC
        ) = 1
    ),
    m AS (
        SELECT v.user_id, v.event_id, v.ts,
               b.ts AS b_ts, b.cents AS b_cents,
               f.ts AS f_ts, f.cents AS f_cents
        FROM v
        LEFT JOIN LATERAL (
            SELECT ts, cents FROM c0
            WHERE c0.user_id = v.user_id AND c0.ts <= v.ts
            ORDER BY ts DESC LIMIT 1
        ) b ON true
        LEFT JOIN LATERAL (
            SELECT ts, cents FROM c0
            WHERE c0.user_id = v.user_id AND c0.ts >= v.ts
            ORDER BY ts ASC LIMIT 1
        ) f ON true
    )
    """
    tol = 600 * 1_000_000
    picks = {
        "backward": ("b_ts", "b_cents"),
        "forward": ("f_ts", "f_cents"),
    }
    sels = []
    for d, (t, p) in picks.items():
        sels.append(f"""
        SELECT '{d}' AS direction, user_id, event_id, ts,
               CASE WHEN {t} IS NOT NULL
                     AND abs(epoch_us(ts) - epoch_us({t})) <= {tol}
                    THEN {t} END AS matched_ts,
               CASE WHEN {t} IS NOT NULL
                     AND abs(epoch_us(ts) - epoch_us({t})) <= {tol}
                    THEN {p} END AS cents
        FROM m""")
    sels.append(f"""
        SELECT 'nearest' AS direction, user_id, event_id, ts,
               CASE WHEN sel_ts IS NOT NULL
                     AND abs(epoch_us(ts) - epoch_us(sel_ts)) <= {tol}
                    THEN sel_ts END AS matched_ts,
               CASE WHEN sel_ts IS NOT NULL
                     AND abs(epoch_us(ts) - epoch_us(sel_ts)) <= {tol}
                    THEN sel_c END AS cents
        FROM (
            SELECT *,
                   CASE WHEN b_ts IS NOT NULL AND (f_ts IS NULL
                        OR epoch_us(ts) - epoch_us(b_ts)
                           <= epoch_us(f_ts) - epoch_us(ts))
                        THEN b_ts ELSE f_ts END AS sel_ts,
                   CASE WHEN b_ts IS NOT NULL AND (f_ts IS NULL
                        OR epoch_us(ts) - epoch_us(b_ts)
                           <= epoch_us(f_ts) - epoch_us(ts))
                        THEN b_cents ELSE f_cents END AS sel_c
            FROM m
        )""")
    return base + " UNION ALL ".join(sels)


@register(
    "x24_asof_directional",
    oracle=_x24_oracle(),
    doc="""Directional as-of join with tolerance — the full
    pandas-`merge_asof` / Snowflake `ASOF JOIN MATCH_CONDITION`
    surface x1's backward form doesn't cover: each view event joined
    to its user's nearest click BACKWARD, FORWARD, and NEAREST
    (ties backward, pandas' contract), all within a 600 s tolerance
    (stale matches null out). Same scalable shape as x1: one union +
    ONE hash exchange per direction; backward and forward are two
    window FRAMES over the same key partitioning, so `nearest` costs
    an extra sort, never a join or row multiplication. Clicks are
    deduped per (user, ts) first (the determinism contract DuckDB's
    ASOF shares). operators/asof.py:asof_join_directional.""",
    tags=("join", "asof", "timeseries"),
)
def x24_asof_directional(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join_directional

    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_type",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "event_id", "ts"
    )
    w = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", "ts", "cents")
    )
    out = None
    for d in ("backward", "forward", "nearest"):
        part = asof_join_directional(
            views,
            clicks,
            on=["user_id"],
            ts_col="ts",
            payload_cols=["cents"],
            direction=d,
            tolerance_seconds=600,
        ).select(
            F.lit(d).alias("direction"), "user_id", "event_id", "ts",
            "matched_ts", "cents",
        )
        out = part if out is None else out.unionByName(part)
    return out


@register(
    "pl_quarantine",
    oracle="""
    SELECT 'loaded' AS status,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
    FROM customer WHERE c_custkey % 97 != 0
    UNION ALL
    SELECT 'quarantined',
           CAST(count(*) AS BIGINT),
           CAST(NULL AS BIGINT)
    FROM customer WHERE c_custkey % 97 = 0
    """,
    doc="""COPY INTO ... ON_ERROR = CONTINUE with reject quarantine
    (the Snowflake load-error discipline: bad rows must neither abort
    the load NOR vanish — VALIDATE() shows them): a landed CSV batch
    carries deliberately-corrupt balance cells on every 97th key; the
    typed PERMISSIVE read surfaces failures in _corrupt_record, clean
    rows load into the target table and rejects land in a quarantine
    table WITH their raw source line (the debuggability contract).
    The audit re-reads BOTH tables from disk, and the counts must
    complement exactly — a silently-dropped or double-counted row
    breaks the oracle. Per-row error capture is how a 100 TB load
    survives the 0.001% of bad records every real feed contains.""",
    tags=("pipeline", "ingest", "quarantine", "on-error"),
)
def pl_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    from ..operators.dml import ParquetTable

    base = scratch_dir("quarantine_")
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        F.expr("CAST(round(c_acctbal * 100) AS BIGINT)").alias("bal_cents"),
    )
    # land the batch as CSV, corrupting bal_cents on every 97th key
    landed = cust.select(
        "c_custkey",
        "c_name",
        F.when(F.col("c_custkey") % 97 == 0, F.lit("XX"))
        .otherwise(F.col("bal_cents").cast("string"))
        .alias("bal_cents"),
    )
    landing = f"{base}/landing"
    landed.write.option("header", True).csv(landing)
    schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("bal_cents", T.LongType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    # materialize the PERMISSIVE read once: Spark (correctly) refuses
    # corrupt-record-only projections straight off the CSV scan, and a
    # load step should read the landing files once anyway
    staging = ParquetTable(spark, f"{base}/staging")
    staging.overwrite(
        spark.read.schema(schema)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(landing)
    )
    raw = staging.read()
    target = ParquetTable(spark, f"{base}/customer_bal")
    target.overwrite(
        raw.filter(F.col("_corrupt_record").isNull()).select(
            "c_custkey", "c_name", "bal_cents"
        )
    )
    rejects = ParquetTable(spark, f"{base}/customer_bal__rejects")
    rejects.overwrite(
        raw.filter(F.col("_corrupt_record").isNotNull()).select(
            F.col("_corrupt_record").alias("raw_line")
        )
    )
    loaded = target.read().agg(
        F.lit("loaded").alias("status"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("bal_cents").cast("long").alias("bal_cents"),
    )
    quarantined = rejects.read().agg(
        F.lit("quarantined").alias("status"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.lit(None).cast("long").alias("bal_cents"),
    )
    return loaded.unionByName(quarantined)


@register(
    "pl_transaction",
    oracle="""
    SELECT 'customer' AS table_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(round((c_acctbal
                    + CASE WHEN c_nationkey < 5 THEN 100 ELSE 0 END) * 100)
                AS BIGINT)) AS BIGINT) AS checksum
    FROM customer
    UNION ALL
    SELECT 'adjustment_audit',
           (SELECT CAST(count(*) AS BIGINT) FROM customer WHERE c_nationkey < 5),
           (SELECT CAST(count(*) AS BIGINT) FROM customer WHERE c_nationkey < 5)
             * 10000
    """,
    doc="""Multi-statement transaction (Snowflake BEGIN ... COMMIT
    across tables): a balance adjustment must update the customer
    table AND insert matching rows into an adjustment-audit table
    atomically — a state where balances moved but the audit is missing
    (or vice versa) is exactly what a compliance check fails. The
    engine stages both post-states, writes ONE intent marker (the
    commit point), then swaps; this query INJECTS A CRASH after the
    first table's rename — mid-swap, after commit — and then runs
    crash recovery, which rolls the transaction FORWARD
    (operators/dml.py:MultiTableTransaction). The emitted audit reads
    both tables from disk and the oracle states the fully-committed
    final state: green proves the torn window healed to ALL, not
    SOME, of the transaction. Rollback of uncommitted staging and
    recovery idempotence are unit-tested.""",
    tags=("pipeline", "transaction", "atomicity"),
)
def pl_transaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dml import (
        MultiTableTransaction,
        ParquetTable,
        empty_frame,
        update_where,
    )

    base = scratch_dir("txn_")
    cust = ParquetTable(spark, f"{base}/customer")
    cust.overwrite(load(spark, sf_dir, "customer"))
    audit = ParquetTable(spark, f"{base}/adjustment_audit")
    audit.overwrite(
        empty_frame(spark, "c_custkey bigint, adj_cents bigint")
    )

    txn = MultiTableTransaction(spark, base)
    txn.stage(
        cust,
        update_where(
            cust.read(),
            F.col("c_nationkey") < 5,
            {"c_acctbal": F.col("c_acctbal") + 100.0},
        ),
    )
    txn.stage(
        audit,
        cust.read()
        .filter(F.col("c_nationkey") < 5)
        .select("c_custkey", F.lit(10000).cast("long").alias("adj_cents")),
    )
    try:
        txn.commit(crash_after_renames=1)  # die mid-swap, AFTER commit point
        raise AssertionError("injected crash did not fire")
    except RuntimeError as e:
        if "injected crash" not in str(e):
            raise
    stats = MultiTableTransaction.recover(spark, base)
    if stats != {"forward": 1, "back": 0}:
        raise RuntimeError(f"unexpected recovery outcome: {stats}")
    c = cust.read().agg(
        F.lit("customer").alias("table_name"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.expr("CAST(round(c_acctbal * 100) AS BIGINT)"))
        .cast("long")
        .alias("checksum"),
    )
    a = audit.read().agg(
        F.lit("adjustment_audit").alias("table_name"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("adj_cents").cast("long").alias("checksum"),
    )
    return c.unionByName(a)


@register(
    "e15_stream_full_outer_join",
    oracle="""
    SELECT coalesce(v.user_id, c.user_id) AS user_id,
           v.event_id AS l_event_id,
           c.event_id AS r_event_id,
           v.ts AS l_ts,
           c.ts AS r_ts
    FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'view') v
    FULL JOIN (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click') c
      ON c.user_id = v.user_id
     AND c.ts >= v.ts
     AND c.ts <= v.ts + INTERVAL 600 SECONDS
    """,
    doc="""Stream-stream FULL OUTER interval join run for real — the
    last of the four streaming join modes (e7 inner, e8 stream-static,
    e10 left outer): attribution that must ALSO emit clicks with no
    preceding view (bot traffic / lost impressions) alongside views
    that never converted. Both sides' unmatched rows may only emit
    once the global watermark closes their window, so the sentinel
    flush row goes onto EACH stream two hours past the data and the
    no-data final micro-batch evicts both state stores — streaming
    output equals the batch FULL JOIN bit-for-bit (the join key is
    coalesced across sides so right-only rows keep it). State per key
    stays bounded by (watermark delay + interval width) x arrival
    rate. streaming/joins.py:interval_join.""",
    tags=("streaming", "join", "full-outer"),
)
def e15_stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.joins import interval_join

    base = scratch_dir("e15_join_")
    ev = load(spark, sf_dir, "events").select("user_id", "event_id", "ts", "event_type")
    # TEST-SOURCE SCAFFOLDING, not a production pattern: this driver
    # collect of max(ts) exists only to synthesize the sentinel flush
    # row for a bounded availableNow drain (the drained file source
    # never produces events past the fixture, so nothing would advance
    # the watermark past the last real window). A production stream
    # closes windows by watermark advance from the live event flow --
    # no driver pass over the data exists or is needed there.
    mx = ev.agg(F.max("ts")).collect()[0][0]

    def side(event_type: str, sentinel_id: int, path: str) -> None:
        real = ev.filter(F.col("event_type") == event_type).drop("event_type")
        sentinel = (
            spark.createDataFrame(
                [(sentinel_id, sentinel_id)], "user_id bigint, event_id bigint"
            )
            .withColumn("ts", F.lit(mx) + F.expr("INTERVAL 2 HOURS"))
        )
        real.unionByName(sentinel).coalesce(1).write.mode("overwrite").parquet(path)

    side("view", -1, f"{base}/views")
    side("click", -2, f"{base}/clicks")
    schema = "user_id bigint, event_id bigint, ts timestamp"
    views = spark.readStream.schema(schema).parquet(f"{base}/views")
    clicks = spark.readStream.schema(schema).parquet(f"{base}/clicks")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        q = (
            interval_join(
                views, clicks, key="user_id", max_delay_seconds=600,
                watermark_delay="30 minutes", how="full_outer",
            )
            .select("user_id", "l_event_id", "r_event_id", "l_ts", "r_ts")
            .writeStream.format("parquet")
            .option("path", f"{base}/out")
            .option("checkpointLocation", f"{base}/ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return (
        spark.read.schema(
            "user_id bigint, l_event_id bigint, r_event_id bigint, "
            "l_ts timestamp, r_ts timestamp"
        )
        .parquet(f"{base}/out")
        .filter(F.col("user_id") >= 0)
    )


_SQL7_TEXT = """
SELECT o_orderpriority,
       o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
GROUP BY ALL
"""


@register(
    "sql7_group_by_all",
    oracle=_SQL7_TEXT,
    doc="""Snowflake ``GROUP BY ALL`` accepted VERBATIM — no shim
    needed: Spark 3.4+ and DuckDB both implement the same
    infer-grouping-keys-from-the-select-list semantic Snowflake
    popularized, so ONE source string runs on both engines (the
    sql1-family shared-text discipline). The inference resolves at
    analysis time to an ordinary hash aggregate — identical plan to
    spelling the keys out.""",
    tags=("sql-surface", "dialect", "group-by-all"),
)
def sql7_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL7_TEXT)


_F15_TEXT = """
SELECT o_orderpriority,
       min_by(o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) * 1000000000
                          + o_orderkey) AS cheapest_order,
       max_by(o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) * 1000000000
                          + o_orderkey) AS priciest_order,
       CAST(round(min(o_totalprice) * 100) AS BIGINT) AS min_cents,
       CAST(round(max(o_totalprice) * 100) AS BIGINT) AS max_cents
FROM orders
GROUP BY o_orderpriority
"""


@register(
    "f15_min_max_by",
    oracle=_F15_TEXT,
    doc="""``min_by`` / ``max_by`` argmin-argmax aggregates — the
    which-row-holds-the-extreme question answered WITHOUT a window +
    filter (one aggregate pass instead of a sort-heavy row_number
    plan; at 100 TB that is the difference between a partial-aggregate
    shuffle and a full sort). Shared text: Spark, DuckDB, and
    Snowflake all ship the same function pair with the same name.
    Determinism: the ordering key is the UNIQUE composite
    cents*1e9 + orderkey (price ties exist in the corpus at sf>=0.01 —
    a bare argmin over price would be engine-dependent there; the
    composite is monotone in (price, orderkey) so the tie always
    resolves to the smallest key, on every engine).""",
    tags=("aggregate", "argmin", "function"),
)
def f15_min_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_F15_TEXT)


@register(
    "e16_stream_session_close",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, ts FROM events
    ),
    flagged AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                     OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
                    THEN 1 ELSE 0 END AS new_session
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    )
    SELECT user_id,
           CAST(epoch_us(min(ts)) AS BIGINT) AS session_id,
           CAST(count(*) AS BIGINT) AS n_events,
           min(ts) AS start_ts, max(ts) AS end_ts
    FROM numbered GROUP BY user_id, session_id
    """,
    doc="""Streaming sessionization emitting CLOSED SESSIONS — the
    stateful-API mode e3 leaves uncovered: event-time STATE TIMEOUTS
    (`GroupStateTimeout.EventTimeTimeout`). A session row emits when a
    same-user successor exceeds the 30-minute gap (in-batch) or when
    the watermark passes last_ts + gap with no successor — the timeout
    callback fires on the evicted key, which is the only way each
    user's FINAL session ever emits from a stream. The drain pushes a
    sentinel flush row (user -1, +2 h) so the global watermark closes
    every real session; output equals the batch gaps-and-islands
    sessionization bit-for-bit. ``session_id`` is the session's start
    time in epoch micros (unique per user across micro-batches by
    construction — a per-user counter did not survive timeout eviction
    and restarted at 1; ADVICE r5); both engines derive it identically.
    Timeouts are how streaming state stays bounded by ACTIVE users at
    100 TB. streaming/stateful.py:session_close_stream; multi-batch
    divergence case pinned in test_streaming_stateful.py.""",
    tags=("streaming", "stateful", "timeout", "session"),
)
def e16_stream_session_close(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stateful import SESSION_CLOSE_SCHEMA, session_close_stream

    base = scratch_dir("e16_close_")
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", F.col("ts").cast("timestamp").alias("ts")
    )
    # TEST-SOURCE SCAFFOLDING, not a production pattern: this driver
    # collect of max(ts) exists only to synthesize the sentinel flush
    # row for a bounded availableNow drain (the drained file source
    # never produces events past the fixture, so nothing would advance
    # the watermark past the last real window). A production stream
    # closes windows by watermark advance from the live event flow --
    # no driver pass over the data exists or is needed there.
    mx = ev.agg(F.max("ts")).collect()[0][0]
    sentinel = spark.createDataFrame(
        [(-1, -1)], "user_id bigint, event_id bigint"
    ).withColumn("ts", F.lit(mx) + F.expr("INTERVAL 2 HOURS"))
    ev.unionByName(sentinel).coalesce(1).write.mode("overwrite").parquet(f"{base}/in")
    stream = (
        spark.readStream.schema("user_id bigint, event_id bigint, ts timestamp")
        .parquet(f"{base}/in")
        .withWatermark("ts", "30 minutes")
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        q = (
            session_close_stream(stream, gap_seconds=1800.0)
            .writeStream.format("parquet")
            .option("path", f"{base}/out")
            .option("checkpointLocation", f"{base}/ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return (
        spark.read.schema(SESSION_CLOSE_SCHEMA)
        .parquet(f"{base}/out")
        .filter(F.col("user_id") >= 0)
    )


def _prof3_oracle(p: int = 8) -> str:
    m = 1 << p
    w_bits = 60 - p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    melt = " UNION ALL ".join(
        f"SELECT '{c}' AS col_name, {duck.format(c=c)} AS val FROM orders "
        f"WHERE {c} IS NOT NULL"
        for c, _, duck in _PROF2_COLS
    )
    return f"""
    WITH melted AS ({melt}),
    hashed AS (
        SELECT col_name,
               CAST(concat('0x', substring(md5(val), 1, 15)) AS BIGINT) AS h
        FROM melted
    ),
    rows_ AS (
        SELECT col_name, h & {m - 1} AS bucket,
               CASE WHEN (h >> {p}) = 0 THEN {w_bits + 1}
                    ELSE {w_bits + 1} - length(bin(h >> {p})) END AS rho
        FROM hashed
    ),
    regs AS (
        SELECT col_name, bucket, max(rho) AS m_rho
        FROM rows_ GROUP BY col_name, bucket
    ),
    agg AS (
        SELECT col_name, count(*) AS n_buckets,
               CAST(sum(CAST(1 AS BIGINT) << ({w_bits + 1} - m_rho)) AS BIGINT)
                   AS s_observed
        FROM regs GROUP BY col_name
    ),
    exact AS (
        SELECT col_name, count(DISTINCT val) AS n_exact
        FROM melted GROUP BY col_name
    )
    SELECT a.col_name,
           CAST({m} - a.n_buckets AS BIGINT) AS v_empty,
           CAST(a.s_observed + ({m} - a.n_buckets)
                * CAST({1 << (w_bits + 1)} AS BIGINT) AS BIGINT) AS s_scaled,
           CAST({alpha!r} AS DOUBLE) * CAST({float(m * m)!r} AS DOUBLE)
               * CAST({float(1 << (w_bits + 1))!r} AS DOUBLE)
               / CAST(a.s_observed + ({m} - a.n_buckets)
                      * CAST({1 << (w_bits + 1)} AS BIGINT) AS DOUBLE)
               AS raw_estimate,
           (CAST({alpha!r} AS DOUBLE) * CAST({float(m * m)!r} AS DOUBLE)
               * CAST({float(1 << (w_bits + 1))!r} AS DOUBLE)
               / CAST(a.s_observed + ({m} - a.n_buckets)
                      * CAST({1 << (w_bits + 1)} AS BIGINT) AS DOUBLE)
            <= {2.5 * m!r}) AND ({m} - a.n_buckets) > 0 AS small_range,
           CAST(e.n_exact AS BIGINT) AS n_exact
    FROM agg a JOIN exact e ON e.col_name = a.col_name
    """


@register(
    "prof3_sketch_profile",
    oracle=_prof3_oracle(),
    doc="""Sketch-based table profiler — prof2's 100 TB scale path
    made concrete: per-column approximate NDV for all six columns in
    ONE scan. Columns melt in-row to (col_name, canonical_value) via
    `stack` (the prof2 renderings, so hashing is engine-identical),
    then ONE grouped HLL: registers keyed by (col_name, bucket) — the
    shuffle carries at most columns x 256 register rows no matter how
    many input rows, where prof2's exact count-distinct Expand
    multiplies the scan by the column count. Registers are mergeable
    (k4's union property), so per-shard profiles roll up for free.
    n_exact rides along as the self-audit the 100 TB run would drop;
    estimates are the k1 deterministic HLL (exact scaled-integer
    harmonic sums, one final double division — bit-identical in both
    engines).""",
    tags=("profile", "sketch", "hll", "aggregate"),
)
def prof3_sketch_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = 8
    m = 1 << p
    w_bits = 60 - p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    orders = load(spark, sf_dir, "orders")
    stack_args = ", ".join(
        f"'{c}', CASE WHEN {c} IS NOT NULL THEN {render.format(c=c)} END"
        for c, render, _ in _PROF2_COLS
    )
    melted = orders.selectExpr(
        f"stack({len(_PROF2_COLS)}, {stack_args}) AS (col_name, val)"
    ).filter(F.col("val").isNotNull())
    h = F.conv(F.substring(F.md5(F.col("val")), 1, 15), 16, 10).cast("long")
    w = F.shiftright(h, p)
    rho = F.when(w == 0, F.lit(w_bits + 1)).otherwise(
        F.lit(w_bits + 1) - F.length(F.bin(w))
    )
    rows_ = melted.select(
        "col_name", h.bitwiseAND(F.lit(m - 1)).alias("bucket"), rho.alias("rho")
    )
    regs = rows_.groupBy("col_name", "bucket").agg(F.max("rho").alias("m_rho"))
    agg = regs.groupBy("col_name").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {w_bits + 1} - m_rho)"))
        .cast("long")
        .alias("s_observed"),
    )
    exact = melted.groupBy("col_name").agg(
        F.countDistinct("val").cast("long").alias("n_exact")
    )
    big = 1 << (w_bits + 1)
    s_scaled = (
        F.col("s_observed") + (F.lit(m) - F.col("n_buckets")) * F.lit(big)
    ).cast("long")
    return agg.join(exact, "col_name").select(
        "col_name",
        (F.lit(m) - F.col("n_buckets")).cast("long").alias("v_empty"),
        s_scaled.alias("s_scaled"),
        (
            F.lit(alpha) * F.lit(float(m * m)) * F.lit(float(big))
            / s_scaled.cast("double")
        ).alias("raw_estimate"),
        # deterministic regime flag: raw HLL overestimates small
        # cardinalities; when this is true the caller applies linear
        # counting m*ln(m/v_empty) from the shipped exact registers
        # (ln is libm-varying, so the correction itself deliberately
        # stays out of the bit-compared plan — k1's discipline)
        (
            (
                F.lit(alpha) * F.lit(float(m * m)) * F.lit(float(big))
                / s_scaled.cast("double")
                <= F.lit(2.5 * m)
            )
            & ((F.lit(m) - F.col("n_buckets")) > 0)
        ).alias("small_range"),
        "n_exact",
    )


# ---------------------------------------------------------------------------
# statistics aggregate pack (r11)
# ---------------------------------------------------------------------------


def _f32_oracle() -> str:
    """DuckDB twin: the identical closed-form double arithmetic via the
    shared formula generators with an int128 (HUGEINT) fixed-point
    carrier — the sums are the same exact integers as Spark's
    DECIMAL(38,0), so every downstream IEEE operation (written once,
    emitted to both dialects) is bit-identical. MEDIAN is computed on
    fixed-point cents so the even-count interpolation is an exact
    binary half; MODE is restated as the explicit count-desc,
    value-asc rank (the tie rule the Spark lowering pins via WITHIN
    GROUP). WIDTH_BUCKET is restated in closed form (DuckDB lacks it);
    the entry's integer quantities sit >= 0.1 from every bucket edge,
    so the two formulas cannot disagree on FP rounding."""
    from ..functions.sqldialect import _regr_lower, _skew_kurt_lower

    H = "HUGEINT"
    cents = ("CAST(ROUND(CAST(l_extendedprice AS DECIMAL(38,6)) * 100)"
             " AS BIGINT)")
    return f"""
    WITH base AS (
        SELECT l_returnflag AS flag,
               CAST(FLOOR((l_quantity - 0.0) / ((51.0 - 0.0) / 10)) + 1
                    AS BIGINT) AS qband,
               l_quantity, l_extendedprice, l_linenumber, l_orderkey,
               l_linestatus
        FROM lineitem
    ),
    g AS (
        SELECT flag, qband,
               CAST(COUNT(1) AS BIGINT) AS n_rows,
               quantile_cont({cents}, 0.5) AS med_cents,
               {_skew_kurt_lower('SKEW', 'l_extendedprice', carrier=H)}
                 AS skew_price,
               {_skew_kurt_lower('KURTOSIS', 'l_extendedprice', carrier=H)}
                 AS kurt_price,
               {_regr_lower('SLOPE', 'l_extendedprice', 'l_quantity', carrier=H)}
                 AS slope,
               {_regr_lower('INTERCEPT', 'l_extendedprice', 'l_quantity', carrier=H)}
                 AS icept,
               {_regr_lower('R2', 'l_extendedprice', 'l_quantity', carrier=H)}
                 AS r2,
               CAST(COUNT(CASE WHEN l_quantity IS NOT NULL
                          AND l_extendedprice IS NOT NULL THEN 1 END)
                    AS BIGINT) AS n_pairs,
               bit_and(l_linenumber) AS line_and,
               bit_or(l_linenumber) AS line_or,
               bit_xor(l_orderkey) AS key_xor
        FROM base GROUP BY flag, qband
    ),
    mode_rank AS (
        SELECT flag, qband, l_linenumber,
               ROW_NUMBER() OVER (PARTITION BY flag, qband
                                  ORDER BY COUNT(1) DESC, l_linenumber)
                 AS rn
        FROM base GROUP BY flag, qband, l_linenumber
    ),
    status_counts AS (
        SELECT flag, l_linestatus AS st, CAST(COUNT(1) AS BIGINT) AS c
        FROM base GROUP BY flag, st
    ),
    o AS (
        SELECT flag,
               '{{' || string_agg('"' || st || '":' || c, ','
                                  ORDER BY st) || '}}' AS status_obj
        FROM status_counts GROUP BY flag
    )
    SELECT g.flag, g.qband, g.n_rows, g.med_cents, g.skew_price,
           g.kurt_price, g.slope, g.icept, g.r2, g.n_pairs, g.line_and,
           g.line_or, g.key_xor, m.l_linenumber AS mode_line,
           o.status_obj
    FROM g
    JOIN mode_rank m ON m.flag = g.flag AND m.qband = g.qband AND m.rn = 1
    JOIN o ON o.flag = g.flag
    """


_F32_SNOWFLAKE_TEXT = """
WITH base AS (
    SELECT l_returnflag AS flag,
           WIDTH_BUCKET(l_quantity, 0.0, 51.0, 10) AS qband,
           l_quantity, l_extendedprice, l_linenumber, l_orderkey,
           l_linestatus
    FROM lineitem
),
g AS (
    SELECT flag, qband,
           COUNT(1) AS n_rows,
           MEDIAN(CAST(ROUND(CAST(l_extendedprice AS DECIMAL(38,6)) * 100)
                       AS BIGINT)) AS med_cents,
           SKEW(l_extendedprice) AS skew_price,
           KURTOSIS(l_extendedprice) AS kurt_price,
           REGR_SLOPE(l_extendedprice, l_quantity) AS slope,
           REGR_INTERCEPT(l_extendedprice, l_quantity) AS icept,
           REGR_R2(l_extendedprice, l_quantity) AS r2,
           REGR_COUNT(l_extendedprice, l_quantity) AS n_pairs,
           BITAND_AGG(l_linenumber) AS line_and,
           BITOR_AGG(l_linenumber) AS line_or,
           BITXOR_AGG(l_orderkey) AS key_xor,
           MODE(l_linenumber) AS mode_line
    FROM base GROUP BY flag, qband
),
status_counts AS (
    SELECT flag, l_linestatus AS st, COUNT(1) AS c
    FROM base GROUP BY flag, st
),
o AS (
    SELECT flag, OBJECT_AGG(st, c) AS status_obj
    FROM status_counts GROUP BY flag
)
SELECT g.flag, g.qband, g.n_rows, g.med_cents, g.skew_price,
       g.kurt_price, g.slope, g.icept, g.r2, g.n_pairs, g.line_and,
       g.line_or, g.key_xor, g.mode_line, o.status_obj
FROM g JOIN o ON o.flag = g.flag
"""


@register(
    "f32_agg_dialect",
    oracle=_f32_oracle(),
    doc="""Snowflake STATISTICS/AGGREGATE pack accepted verbatim —
    MEDIAN, MODE, SKEW, KURTOSIS, REGR_SLOPE/INTERCEPT/R2/COUNT,
    BITAND_AGG/BITOR_AGG/BITXOR_AGG, OBJECT_AGG, WIDTH_BUCKET — the
    everyday analyst surface previously unregistered. The hard part is
    DETERMINISM: moment aggregates over doubles are order-dependent
    (a different shuffle -> a different last ulp), so SKEW/KURTOSIS/
    REGR_* lower through EXACT fixed-point-integer DECIMAL power sums
    (addition commutes exactly at any partitioning; |x| <= ~3e7 at 2dp
    before loud overflow) and convert to double only for the final
    closed form, which avoids libm pow entirely (explicit IEEE
    multiplies + correctly-rounded sqrt). The closed forms reproduce
    DuckDB's own sample skewness/kurtosis and regr_* to float noise
    (validated in tests), while the oracle runs the SAME formula text
    over an int128 carrier for bit-exact value hashes. MODE pins the
    unspecified-tie rule to lowest-among-most-frequent via WITHIN
    GROUP; MEDIAN interpolates on exact cents (binary halves);
    OBJECT_AGG renders the key-sorted JSON-text VARIANT convention
    (f30). Map-side partial aggregation everywhere — one shuffle per
    GROUP BY at any scale (functions/sqldialect.py:_fixed_point_sums,
    _skew_kurt_lower, _regr_lower).""",
    tags=("sql-surface", "dialect", "aggregates", "statistics"),
)
def f32_agg_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import rewrite_scalar_funcs
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(rewrite_scalar_funcs(_F32_SNOWFLAKE_TEXT))


# ---------------------------------------------------------------------------
# write planning (stats-driven output file sizing)
# ---------------------------------------------------------------------------

_WP1_TARGET_BYTES = 16384  # small target so the small-SF plan still fans out


def _wp_row_bytes_sql(*exclude: str) -> str:
    """DuckDB twin of operators/write_planner.py:estimated_row_bytes
    over the lineitem schema: fixed widths (BIGINT/DOUBLE/TIMESTAMP 8,
    INTEGER 4) + 4-byte prefix + byte length for strings, NULL -> 0 —
    the identical arithmetic, written independently. ``exclude`` drops
    partition columns (the Spark side excludes part_cols from the
    width estimate — they live in the directory path, not the file)."""
    fixed = {
        "l_orderkey": 8, "l_partkey": 8, "l_suppkey": 8,
        "l_linenumber": 4, "l_quantity": 8, "l_extendedprice": 8,
        "l_discount": 8, "l_tax": 8, "l_shipdate": 8,
    }
    parts = [
        f"(CASE WHEN {c} IS NULL THEN 0 ELSE {w} END)"
        for c, w in fixed.items() if c not in exclude
    ]
    parts += [
        f"(CASE WHEN {c} IS NULL THEN 0 ELSE 4 + strlen({c}) END)"
        for c in ("l_returnflag", "l_linestatus") if c not in exclude
    ]
    return " + ".join(parts)


@register(
    "wp1_write_file_plan",
    oracle=f"""
    SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m') AS ship_month,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum({_wp_row_bytes_sql()}) AS BIGINT) AS est_bytes,
           CAST(greatest(1, (sum({_wp_row_bytes_sql()})
                 + {_WP1_TARGET_BYTES - 1}) // {_WP1_TARGET_BYTES})
                AS BIGINT) AS n_files
    FROM lineitem
    GROUP BY 1
    """,
    doc="""Stats-driven WRITE PLANNER (VERDICT r10 #8 — the new
    substantive family): pick per-partition output file counts from
    the DATA, not from spark.sql.shuffle.partitions. One map-side-
    combined groupBy over the write input estimates each output
    partition's bytes with a pure-JVM width expression
    (operators/write_planner.py:estimated_row_bytes — fixed widths +
    octet_length for variable types, codegen-resident), then
    n_files = max(1, ceil(bytes / target)) in exact integer DIV
    arithmetic. apply_write_plan() broadcast-joins the O(partitions)
    plan back, assigns __file_id = pmod(xxhash64(keys), n_files), and
    repartitions on (part, __file_id) so each planned file is written
    by exactly one task — at 100 TB this is the difference between a
    fact table of namenode-poisoning KB shards (or unreadable 10 GB
    monoliths) and uniformly target-sized files; the one shuffle it
    adds is the one the write needed anyway. The exact-count write
    path (partitionBy(part, __file_id)) is pinned by a real write in
    tests/test_engine_units.py. Entry = the plan itself over lineitem
    by ship month; the DuckDB twin recomputes the identical width and
    ceil-div arithmetic.""",
    tags=("write", "layout", "planner", "scale"),
)
def wp1_write_file_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.write_planner import plan_partition_files

    li = load(spark, sf_dir, "lineitem").withColumn(
        "ship_month", F.date_format(F.col("l_shipdate"), "yyyy-MM")
    )
    return plan_partition_files(
        li, ["ship_month"], _WP1_TARGET_BYTES
    ).orderBy("ship_month")


_WP2_TARGET_BYTES = 65536


@register(
    "wp2_compaction_plan",
    oracle=f"""
    WITH m AS (
        SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m')
                 || '/' || l_returnflag AS file,
               CAST(sum({_wp_row_bytes_sql('l_returnflag')}) AS BIGINT)
                 AS bytes
        FROM lineitem GROUP BY 1
    )
    SELECT file, bytes,
           CAST((sum(bytes) OVER (ORDER BY bytes DESC, file
                                  ROWS UNBOUNDED PRECEDING) - bytes)
                // {_WP2_TARGET_BYTES} AS BIGINT) AS compact_group
    FROM m
    """,
    doc="""COMPACTION planner — the read-side half of wp1's small-files
    story: group accumulated files into rewrite batches of ~target
    bytes via deterministic start-offset binning over the
    size-descending manifest (first-fit on a sorted stream: running
    byte offset S before each file, group = S DIV target; big files
    first so small ones fill remainders; each group within one member
    file of target). The input is a FILE MANIFEST — O(files) metadata
    rows — so the single-partition ordered window is bounded by
    manifest size, the zonemap-manifest class of driver-adjacent
    state, never by table bytes. Entry synthesizes the manifest from
    wp1's own per-(month, returnflag) byte estimates (the planner
    compacting its own output stats); DuckDB twin recomputes the
    identical widths and the identical running-sum binning
    (operators/write_planner.py:plan_compaction_groups).""",
    tags=("write", "layout", "planner", "compaction", "scale"),
)
def wp2_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.write_planner import (
        plan_compaction_groups,
        plan_partition_files,
    )

    li = load(spark, sf_dir, "lineitem").withColumn(
        "ship_month", F.date_format(F.col("l_shipdate"), "yyyy-MM")
    )
    plan = plan_partition_files(
        li, ["ship_month", "l_returnflag"], _WP1_TARGET_BYTES
    )
    manifest = plan.select(
        F.concat_ws("/", "ship_month", "l_returnflag").alias("file"),
        "est_bytes",
    )
    return plan_compaction_groups(
        manifest, "file", "est_bytes", _WP2_TARGET_BYTES
    ).orderBy("file")


_SQL53_TEXT = """
CREATE OR REPLACE TABLE lineitem_clustered CLUSTER BY (l_shipdate)
AS SELECT l_orderkey, l_shipdate, l_extendedprice
   FROM lineitem WHERE l_orderkey % 5 = 0
"""


@register(
    "sql53_cluster_by_ddl",
    oracle="""
    SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m') AS ship_month,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
    FROM lineitem WHERE l_orderkey % 5 = 0
    GROUP BY 1
    """,
    doc="""Snowflake ``CREATE TABLE ... CLUSTER BY (keys) AS SELECT``
    accepted VERBATIM (r11) — the warehouse clustering DDL the
    reference domain lives on. CLUSTER BY lowers to the Spark-native
    equivalent: ``repartitionByRange(keys)`` +
    ``sortWithinPartitions(keys)`` on the materializing write, so
    every output file covers a DISJOINT key range — the physical
    property SYSTEM$CLUSTERING_INFORMATION measures (average_overlaps
    -> 0, pl_clustering_info) and zone-map pruning exploits
    (k5/pl_zonemap_prune read one file per point lookup). The range
    partitioner SAMPLES boundaries, so the same statement produces
    balanced cluster files at any scale — no hand-tuned ranges. The
    entry executes the DDL text and returns the created relation's
    monthly rollup (content parity); the physical contract —
    RangePartitioning in the plan, zero overlapping file ranges on
    disk via the zone map — is pinned in
    tests/test_engine_units.py::test_cluster_by_ddl_physical_layout
    (functions/sqldialect.py:ctas_statement).""",
    tags=("sql-surface", "dialect", "ddl", "clustering", "layout"),
)
def sql53_cluster_by_ddl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import ctas_statement

    clustered = ctas_statement(
        spark, _SQL53_TEXT, {"lineitem": load(spark, sf_dir, "lineitem")}
    )
    return clustered.groupBy(
        F.date_format("l_shipdate", "yyyy-MM").alias("ship_month")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
        .cast("long")
        .alias("cents"),
    )


_F33_SNOWFLAKE_TEXT = """
SELECT o_orderkey,
       TRUNCATE(o_totalprice, 1) AS trunc1,
       CAST(TRUNCATE(o_totalprice, -3) AS DOUBLE) AS trunc_k,
       LAST_DAY(CAST(o_orderdate AS DATE), 'quarter') AS q_end,
       LAST_DAY(CAST(o_orderdate AS DATE), 'year') AS y_end,
       LAST_DAY(CAST(o_orderdate AS DATE), 'week') AS w_end,
       BASE64_ENCODE(o_orderpriority) AS prio_b64,
       BASE64_DECODE_STRING(BASE64_ENCODE(o_orderpriority)) AS prio_rt,
       HEX_ENCODE(o_orderstatus) AS status_hex,
       MD5_HEX(o_orderpriority) AS prio_md5,
       STRTOK(o_orderpriority, '-', 2) AS prio_word,
       INSERT(o_orderpriority, 2, 1, 'XX') AS prio_ins,
       CHECK_JSON(CASE WHEN o_orderkey % 2 = 0
                       THEN '{"a": ' || o_orderkey || '}'
                       ELSE 'not json' END) AS json_ok,
       PARSE_URL('https://w' || (o_orderkey % 3) || '.example.com'
                 || (CASE WHEN o_orderkey % 2 = 0 THEN ':8443' ELSE '' END)
                 || '/orders/' || o_orderkey
                 || '?cust=' || o_custkey || '&p=' || (o_orderkey % 7)
                 || (CASE WHEN o_orderkey % 5 = 0 THEN '#f' ELSE '' END))
         AS url_obj,
       BOOLXOR(o_orderkey % 2, o_orderkey % 3) AS bx,
       BOOLNOT(o_orderkey % 4) AS bn,
       DATE_FROM_PARTS(1998, CAST(o_orderkey % 30 AS INT),
                       CAST(o_orderkey % 40 AS INT)) AS norm_date,
       TIMESTAMP_FROM_PARTS(1998, 1, 1, CAST(o_orderkey % 30 AS INT),
                            0, CAST(o_orderkey % 90 AS INT)) AS norm_ts,
       YEAROFWEEKISO(CAST(o_orderdate AS DATE)) AS iso_wyear,
       UNICODE(o_orderpriority) AS prio_cp,
       RTRIMMED_LENGTH(o_orderstatus || '  ') AS rt_len,
       TO_VARIANT(o_orderkey % 9) AS num_var,
       ARRAYS_TO_OBJECT(ARRAY_CONSTRUCT('k'),
                        ARRAY_CONSTRUCT(o_orderkey % 9)) AS kv_obj
FROM orders
WHERE o_orderkey % 13 = 0
"""


@register(
    "f33_everyday_scalars2",
    oracle="""
    SELECT o_orderkey,
           (CASE WHEN o_totalprice >= 0
                 THEN FLOOR(o_totalprice * 10) / 10
                 ELSE -FLOOR(-o_totalprice * 10) / 10 END) AS trunc1,
           (CASE WHEN o_totalprice >= 0
                 THEN FLOOR(o_totalprice / 1000) * 1000
                 ELSE -FLOOR(-o_totalprice / 1000) * 1000 END) AS trunc_k,
           CAST(date_trunc('quarter', CAST(o_orderdate AS DATE))
                + INTERVAL 3 MONTH - INTERVAL 1 DAY AS DATE) AS q_end,
           make_date(CAST(year(o_orderdate) AS INTEGER), 12, 31) AS y_end,
           CAST(date_trunc('week', CAST(o_orderdate AS DATE))
                + INTERVAL 6 DAY AS DATE) AS w_end,
           to_base64(o_orderpriority::BLOB) AS prio_b64,
           o_orderpriority AS prio_rt,
           hex(o_orderstatus) AS status_hex,
           md5(o_orderpriority) AS prio_md5,
           list_filter(regexp_split_to_array(o_orderpriority, '[-]'),
                       t -> t != '')[2] AS prio_word,
           substr(o_orderpriority, 1, 1) || 'XX'
             || substr(o_orderpriority, 3) AS prio_ins,
           (CASE WHEN o_orderkey % 2 = 0 THEN NULL
                 ELSE 'invalid JSON' END) AS json_ok,
           '{'
             || (CASE WHEN o_orderkey % 5 = 0
                      THEN '"fragment":"f",' ELSE '' END)
             || '"host":"w' || (o_orderkey % 3) || '.example.com",'
             || '"parameters":{"cust":"' || o_custkey || '","p":"'
             || (o_orderkey % 7) || '"},'
             || '"path":"orders/' || o_orderkey || '",'
             || (CASE WHEN o_orderkey % 2 = 0
                      THEN '"port":"8443",' ELSE '' END)
             || '"query":"cust=' || o_custkey || '&p=' || (o_orderkey % 7)
             || '","scheme":"https"}' AS url_obj,
           ((o_orderkey % 2 <> 0) <> (o_orderkey % 3 <> 0)) AS bx,
           (o_orderkey % 4 = 0) AS bn,
           CAST(make_date(1998, 1, 1)
                + ((o_orderkey % 30) - 1) * INTERVAL 1 MONTH
                + ((o_orderkey % 40) - 1) * INTERVAL 1 DAY
                AS DATE) AS norm_date,
           make_date(1998, 1, 1)::TIMESTAMP
             + ((o_orderkey % 30)) * INTERVAL 1 HOUR
             + ((o_orderkey % 90)) * INTERVAL 1 SECOND AS norm_ts,
           CAST(isoyear(CAST(o_orderdate AS DATE)) AS BIGINT)
             AS iso_wyear,
           CAST(unicode(o_orderpriority) AS INTEGER) AS prio_cp,
           CAST(length(rtrim(o_orderstatus || '  ')) AS INTEGER)
             AS rt_len,
           CAST(o_orderkey % 9 AS VARCHAR) AS num_var,
           '{"k":' || (o_orderkey % 9) || '}' AS kv_obj
    FROM orders
    WHERE o_orderkey % 13 = 0
    """,
    doc="""Everyday-scalar pack 2 (r11): the probe battery found these
    common spellings passing through the rewriter UNMAPPED and dying
    as opaque Spark analyzer errors — TRUNCATE/TRUNC numeric
    truncation (toward zero, literal scale, negative scales; TRUNC
    keeps the native date passthrough on quoted parts), LAST_DAY with
    a date part (quarter/year/week via date_trunc arithmetic),
    BASE64_/HEX_ ENCODE/DECODE, MD5_HEX/SHA1_HEX, STRTOK/
    STRTOK_TO_ARRAY (delimiter CHARACTER SET semantics with a
    positionally-built regex class — backslash escapes would be eaten
    by SQL string literals), INSERT (4-arg string splice), CHECK_JSON
    (NULL-if-valid via try_parse_json; the invalid-text message is a
    deterministic constant, stated divergence), PARSE_URL (the OBJECT
    result in the engine's JSON-text VARIANT convention, port/
    fragment/parameters omitted when absent), BOOLXOR/BOOLNOT, plus
    HLL -> approx_count_distinct and VARIANCE_POP/SAMP aliases
    (unit-tested; estimates are engine-specific so they stay out of
    the oracle). UUID_STRING/SEQ4/SEQ8 lower to uuid()/
    monotonically_increasing_id() (nondeterministic by contract, also
    out of the oracle). JAROWINKLER_SIMILARITY and OBJECT_INSERT/
    DELETE refuse loudly with guidance. The oracle twin reconstructs
    every value closed-form from the same columns — including the
    PARSE_URL object, because the entry BUILDS its URLs from columns,
    so the twin needs no URL parser. All per-row JVM expressions:
    pushdown/codegen untouched (functions/sqldialect.py:
    _numeric_trunc_rewrite, _strtok_rewrite, _parse_url_rewrite,
    _last_day_rewrite).""",
    tags=("sql-surface", "dialect", "functions", "scalars"),
)
def f33_everyday_scalars2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import rewrite_scalar_funcs
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(rewrite_scalar_funcs(_F33_SNOWFLAKE_TEXT))


@register(
    "sql54_copy_into_text",
    oracle="""
    WITH sub AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 97 = 0),
    a AS (SELECT CAST(count(*) AS BIGINT) AS n FROM sub
          WHERE o_orderkey % 2 = 0),
    b AS (SELECT CAST(count(*) AS BIGINT) AS n FROM sub
          WHERE o_orderkey % 2 <> 0)
    SELECT 'even.csv' AS file, 'LOADED' AS status, a.n AS rows_parsed,
           a.n AS rows_loaded, CAST(0 AS BIGINT) AS errors_seen,
           CAST(NULL AS VARCHAR) AS first_error
    FROM a
    UNION ALL
    SELECT 'odd.csv', 'PARTIALLY_LOADED', b.n + 1, b.n,
           CAST(1 AS BIGINT), 'rejected record: POISONED_ROW,extra,fields'
    FROM b
    """,
    doc="""Verbatim ``COPY INTO <table> FROM @stage`` — the TEXT form
    of S2 and Snowflake's single most common statement (the
    programmatic copy_into/pipes are the pipeline path; this is what a
    user pastes). Full option surface: FILES / PATTERN / FILE_FORMAT /
    FORCE / load-history idempotence / ON_ERROR = CONTINUE |
    ABORT_STATEMENT (the Snowflake default — first rejected record
    fails the statement) / VALIDATION_MODE = RETURN_ERRORS (loads
    NOTHING, returns the rejected records; row/byte offsets are not
    exposed for the same physical-row-order reason as
    METADATA$FILE_ROW_NUMBER). Returns Snowflake's per-file status
    relation (LOADED / PARTIALLY_LOADED / LOAD_FAILED, rows_parsed,
    rows_loaded, errors_seen, first_error) and swaps the statement
    layer's table mapping to the post-load state (read-your-writes).
    ONE permissive CSV scan with corrupt-record capture serves stats,
    validation, and the append (cached at statement-batch granularity
    — Spark's documented remedy for corrupt-only projections); per-
    file stats aggregate the scan's own input_file_name. The entry
    synthesizes a two-file landing (one poisoned record) from a
    deterministic orders slice and runs the statement verbatim with
    ON_ERROR=CONTINUE; the oracle computes the expected status
    relation in closed form from the same slice
    (sources/copy_into.py:copy_statement; unit battery in
    tests/test_engine_units.py::test_copy_into_table_statement).""",
    tags=("sql-surface", "sources", "copy", "stages"),
)
def sql54_copy_into_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from ..functions.scratch import scratch_dir
    from ..operators.dml import empty_frame
    from ..sources.copy_into import copy_statement

    land = scratch_dir("sql54_inbox_")
    rows = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 97 == 0)
        .select("o_orderkey")
        .collect()
    )  # bounded fixture synthesis (~n/97 keys), not the load path
    even = [r.o_orderkey for r in rows if r.o_orderkey % 2 == 0]
    odd = [r.o_orderkey for r in rows if r.o_orderkey % 2 != 0]
    with open(_os.path.join(land, "even.csv"), "w") as f:
        f.write("k\n" + "".join(f"{k}\n" for k in sorted(even)))
    with open(_os.path.join(land, "odd.csv"), "w") as f:
        f.write("k\n" + "".join(f"{k}\n" for k in sorted(odd))
                + "POISONED_ROW,extra,fields\n")
    tables = {"landing_keys": empty_frame(spark, "k long")}
    return copy_statement(
        spark,
        "COPY INTO landing_keys FROM @inbox FILE_FORMAT = (TYPE = 'CSV')"
        " ON_ERROR = CONTINUE",
        tables,
        {"inbox": land},
    )


# ---------------------------------------------------------------------------
# session variables + scripting (r12)
# ---------------------------------------------------------------------------


_SQL55_SNOWFLAKE_TEXT = """
SET hi_qty = (SELECT CAST(MAX(l_quantity) AS BIGINT) - 5 FROM lineitem);
SET flag = 'R';
SET tag = 'qty>=' || CAST($hi_qty AS STRING);
EXECUTE IMMEDIATE 'SELECT l_returnflag AS flag, l_linestatus AS status,
    CAST(COUNT(1) AS BIGINT) AS n, $tag AS tag
 FROM lineitem
 WHERE l_quantity >= $hi_qty AND l_returnflag = $flag
 GROUP BY l_returnflag, l_linestatus';
"""


@register(
    "sql55_session_variables",
    oracle="""
    WITH hi AS (
        SELECT CAST(MAX(l_quantity) AS BIGINT) - 5 AS h FROM lineitem
    )
    SELECT l_returnflag AS flag, l_linestatus AS status,
           CAST(COUNT(1) AS BIGINT) AS n,
           'qty>=' || CAST((SELECT h FROM hi) AS VARCHAR) AS tag
    FROM lineitem
    WHERE l_quantity >= (SELECT h FROM hi) AND l_returnflag = 'R'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="""SESSION VARIABLES + ``EXECUTE IMMEDIATE`` — the console
    scripting surface every pasted Snowflake runbook leans on
    (VERDICT r11 #3): ``SET v = <expr>`` evaluates AT SET TIME (query
    expressions run once — the MAX here is one scan, after which
    ``$hi_qty`` is a LITERAL, so the downstream WHERE arrives at
    Catalyst foldable and prunable — a planning WIN at 100 TB vs. a
    repeated scalar subquery), ``$v`` references splice typed SQL
    literals (never inside string literals/comments; unknown names
    raise Snowflake's ``Session variable '$V' does not exist``), SET
    chains reference earlier variables, and EXECUTE IMMEDIATE runs a
    string-built statement with variables resolved at EXECUTION time.
    The script SETs a computed threshold, a filter constant, and a
    derived label, then EXECUTE-IMMEDIATEs a grouped aggregate using
    all three; the oracle is the closed static form. UNSET / SHOW
    VARIABLES / multi-assign SET (a,b)=(..) / $$-quoting / $var
    payloads are unit-pinned (functions/scripting.py:console_script;
    tests/test_engine_units.py::test_session_variables_battery).""",
    tags=("sql-surface", "dialect", "scripting", "variables"),
)
def sql55_session_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.scripting import console_script
    from .tables import register_views

    register_views(spark, sf_dir)
    return console_script(spark, _SQL55_SNOWFLAKE_TEXT)


_SQL56_BLOCK_TEXT = """
DECLARE
  bump NUMBER DEFAULT 100;
  cap NUMBER;
BEGIN
  LET cap := bump * 2;
  UPDATE nation_work SET n_regionkey = n_regionkey + :bump
   WHERE n_nationkey < 10;
  DELETE FROM nation_work WHERE n_nationkey >= :cap / 10;
  RETURN bump + cap;
END;
"""


@register(
    "sql56_scripting_block",
    oracle="""
    WITH work AS (
        SELECT n_nationkey,
               CASE WHEN n_nationkey < 10 THEN n_regionkey + 100
                    ELSE n_regionkey END AS n_regionkey
        FROM nation
        WHERE n_nationkey < 20
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(n_regionkey) AS BIGINT) AS region_sum,
           CAST(300 AS BIGINT) AS block_return
    FROM work
    """,
    doc="""Anonymous SCRIPTING BLOCK ``DECLARE ... BEGIN ... END`` —
    the paste-a-stored-procedure-body gap (VERDICT r11 #5), run as a
    CONSERVATIVE subset: typed declarations with DEFAULT, ``LET`` /
    ``:=`` re-assignment (expressions see block variables bare,
    Snowflake Scripting's expression scope), embedded SQL statements
    referencing block variables through ``:name`` binds (statement
    scope — an undeclared bind refuses rather than shipping an
    unbound parameter), and ``RETURN`` producing Snowflake's
    one-column block-result relation. Control flow (IF/FOR/WHILE/
    LOOP), cursors, RESULTSETs, and EXCEPTION sections REFUSE LOUDLY
    — nothing silently mistranslates. The block UPDATEs then DELETEs
    a nation work table through the verbatim DML shims
    (read-your-writes via the tables mapping, exactly
    transaction_script's convention) and returns bump+cap; the entry
    audits the post-block table plus the returned value (1x1
    broadcast attach); the oracle replays the block's effects in
    closed form (functions/scripting.py:scripting_block).""",
    tags=("sql-surface", "dialect", "scripting", "dml"),
)
def sql56_scripting_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.scripting import scripting_block

    nation = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    tables = {"nation_work": nation}
    ret = scripting_block(spark, _SQL56_BLOCK_TEXT, tables=tables)
    audit = tables["nation_work"].agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("n_regionkey").cast("long").alias("region_sum"),
    )
    return audit.crossJoin(
        ret.select(F.col("anonymous_block").cast("long").alias("block_return"))
    )


_SQL57_SNOWFLAKE_TEXT = """
CREATE OR REPLACE FUNCTION disc_price(p FLOAT, d FLOAT)
  RETURNS NUMBER(38,4) LANGUAGE SQL
  AS 'CAST(p AS DECIMAL(18,2)) * (1 - CAST(d AS DECIMAL(18,2)))';
CREATE OR REPLACE FUNCTION price_band(p FLOAT) RETURNS VARCHAR
  AS $$IFF(p < 20000, 'low', IFF(p < 45000, 'mid', 'high'))$$;
SELECT band, CAST(COUNT(1) AS BIGINT) AS n,
       CAST(SUM(rev) AS DOUBLE) AS revenue
FROM (
    SELECT price_band(l_extendedprice) AS band,
           disc_price(l_extendedprice, l_discount) AS rev
    FROM lineitem
)
GROUP BY band;
"""


@register(
    "sql57_sql_udf",
    oracle="""
    WITH b AS (
        SELECT CASE WHEN l_extendedprice < 20000 THEN 'low'
                    WHEN l_extendedprice < 45000 THEN 'mid'
                    ELSE 'high' END AS band,
               CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(18,2))) AS rev
        FROM lineitem
    )
    SELECT band, CAST(COUNT(1) AS BIGINT) AS n,
           CAST(SUM(rev) AS DOUBLE) AS revenue
    FROM b GROUP BY band
    """,
    doc="""Snowflake SQL UDFs — ``CREATE [OR REPLACE] FUNCTION f(x
    NUMBER) RETURNS <type> [LANGUAGE SQL] AS '<expr>'`` (r12) —
    lowered to SPARK'S NATIVE SQL UDFs (``CREATE TEMPORARY FUNCTION
    ... RETURN <expr>``), so Catalyst INLINES the body into every
    calling plan: at 100 TB the UDF costs exactly its expression
    (pushdown/codegen see through it; never a Python round-trip).
    Snowflake type signatures map through the engine's type table
    (NUMBER(p,s)->DECIMAL, VARCHAR->STRING, VARIANT->JSON-text
    STRING; TIME / zoned timestamps refuse), UDF bodies pass through
    the full dialect lowering (the IFF here), UDFs call other UDFs,
    and the $$-quoted body form works. RETURNS TABLE, non-SQL
    LANGUAGEs, and RETURNS NULL ON NULL INPUT strictness refuse
    loudly. The entry defines a decimal-exact discounted-price UDF +
    a banding UDF and aggregates lineitem through both; the oracle
    restates the inlined expressions (exactly what Catalyst executes)
    (functions/scripting.py:create_function_statement;
    tests/test_engine_units.py::test_create_function_sql_udf).""",
    tags=("sql-surface", "dialect", "functions", "udf"),
)
def sql57_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.scripting import console_script
    from .tables import register_views

    register_views(spark, sf_dir)
    return console_script(spark, _SQL57_SNOWFLAKE_TEXT)


_F34_SNOWFLAKE_TEXT = """
SELECT o_orderkey,
       CAST(DIV0(o_totalprice, o_orderkey % 3) AS DOUBLE) AS safe_rate,
       CAST(DIV0NULL(o_totalprice,
                     NULLIF(o_orderkey % 3, 1)) AS DOUBLE) AS safe_rate2,
       ARRAY_TO_STRING(REGEXP_SUBSTR_ALL(o_orderpriority, '[0-9]+'), '|')
           AS prio_digits,
       o_orderpriority = UPPER(o_orderpriority) COLLATE 'en-ci' AS prio_ci,
       o_orderstatus = UPPER(o_orderstatus) COLLATE 'utf8' AS status_cs,
       AS_INTEGER(CAST(o_orderkey AS STRING)) AS v_int,
       AS_VARCHAR('"' || o_orderstatus || '"') AS v_str,
       AS_INTEGER('"' || o_orderstatus || '"') AS v_miss
FROM orders
WHERE o_orderkey % 13 = 0
"""


@register(
    "f34_everyday_scalars3",
    oracle="""
    SELECT o_orderkey,
           CAST(CASE WHEN o_orderkey % 3 = 0 THEN 0
                ELSE o_totalprice / (o_orderkey % 3) END AS DOUBLE)
               AS safe_rate,
           CAST(CASE WHEN NULLIF(o_orderkey % 3, 1) = 0
                       OR NULLIF(o_orderkey % 3, 1) IS NULL THEN 0
                ELSE o_totalprice / NULLIF(o_orderkey % 3, 1) END
                AS DOUBLE) AS safe_rate2,
           array_to_string(regexp_extract_all(o_orderpriority, '[0-9]+'),
                           '|') AS prio_digits,
           lower(o_orderpriority) = lower(upper(o_orderpriority))
               AS prio_ci,
           o_orderstatus = upper(o_orderstatus) AS status_cs,
           o_orderkey AS v_int,
           o_orderstatus AS v_str,
           CAST(NULL AS BIGINT) AS v_miss
    FROM orders
    WHERE o_orderkey % 13 = 0
    """,
    doc="""Probe-battery-4 closures (r12): DIV0 / DIV0NULL
    (Snowflake's most common safe-division idioms — the CASE guard
    keeps ANSI division-by-zero loud semantics out of the 0-divisor
    branch exactly like Snowflake), REGEXP_SUBSTR_ALL (every match in
    order; positional variants refuse), and the ``COLLATE '<spec>'``
    clause lowered to SPARK'S NATIVE COLLATIONS — locale-free 'ci'
    -> COLLATE UTF8_LCASE, binary/cs specs drop to Spark's default
    binary collation; r14 widened locale-tagged specs onto the ICU
    collations ('en-ci' -> en_CI here; accent-insensitive and bare
    locale orderings in f47), while punctuation/case-conversion/trim
    specs still refuse loudly.
    Also refused loudly with guidance: 2-arg INITCAP (no Spark
    delimiter-set form), MINHASH / MINHASH_COMBINE /
    APPROXIMATE_SIMILARITY / APPROXIMATE_JACCARD_INDEX (the engine's
    MinHash dedup operators are the real path). All per-row JVM
    expressions; pushdown/codegen untouched
    (functions/sqldialect.py:rewrite_collate, _SCALAR_REWRITES).""",
    tags=("sql-surface", "dialect", "functions", "scalars"),
)
def f34_everyday_scalars3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import lower_select
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(lower_select(_F34_SNOWFLAKE_TEXT))


_SQL58_CONSOLE_SESSION = """
ALTER SESSION SET QUERY_TAG = 'r12-console-replay';
SET region = 'ASIA';
SET rkey = (SELECT r_regionkey FROM region WHERE r_name = $region);
CREATE OR REPLACE FUNCTION nation_label(n VARCHAR, k NUMBER)
  RETURNS VARCHAR LANGUAGE SQL AS 'n || ''#'' || CAST(k AS STRING)';
SELECT n_nationkey, nation_label(n_name, n_nationkey) AS label
FROM nation WHERE n_regionkey = $rkey;
SELECT CAST(COUNT(1) AS BIGINT) AS n_rows, MIN(label) AS first_label,
       CAST($rkey AS BIGINT) AS region_key
FROM TABLE(RESULT_SCAN(LAST_QUERY_ID()));
"""


@register(
    "sql58_console_session",
    oracle="""
    WITH rk AS (
        SELECT r_regionkey AS k FROM region WHERE r_name = 'ASIA'
    ),
    lab AS (
        SELECT n_name || '#' || CAST(n_nationkey AS VARCHAR) AS label
        FROM nation WHERE n_regionkey = (SELECT k FROM rk)
    )
    SELECT CAST(COUNT(1) AS BIGINT) AS n_rows,
           MIN(label) AS first_label,
           CAST((SELECT k FROM rk) AS BIGINT) AS region_key
    FROM lab
    """,
    doc="""END-TO-END CONSOLE SESSION replay (r12 capstone): one
    script through `console_script` composing the whole new surface
    in the order a real worksheet uses it — ALTER SESSION SET (tag
    recorded), SET with a literal then a QUERY expression (evaluated
    once at set time; `$rkey` thereafter a foldable literal), CREATE
    FUNCTION (a SQL UDF Catalyst inlines), a SELECT using the UDF and
    the variable, and a final show-then-filter aggregate over
    TABLE(RESULT_SCAN(LAST_QUERY_ID())). The oracle restates the
    whole session closed-form. Each piece is also unit-pinned alone;
    this entry pins the COMPOSITION (statement ordering, shared
    variable state, result-history handoff)
    (functions/scripting.py:console_script).""",
    tags=("sql-surface", "dialect", "scripting", "composition"),
)
def sql58_console_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.scripting import console_script
    from .tables import register_views

    register_views(spark, sf_dir)
    return console_script(spark, _SQL58_CONSOLE_SESSION)


_SQL59_PROC_SCRIPT = """
CREATE OR REPLACE PROCEDURE retire_nations(cutoff NUMBER, bump NUMBER)
  RETURNS NUMBER LANGUAGE SQL EXECUTE AS CALLER
  AS $$
  DECLARE moved NUMBER DEFAULT 0;
  BEGIN
    UPDATE nation_work SET n_regionkey = n_regionkey + :bump
     WHERE n_nationkey < :cutoff;
    DELETE FROM nation_work WHERE n_nationkey >= :cutoff * 2;
    LET moved := cutoff + bump;
    RETURN moved;
  END
  $$;
SET lim = 10;
CALL retire_nations($lim, 100);
"""


@register(
    "sql59_stored_procedure",
    oracle="""
    WITH work AS (
        SELECT n_nationkey,
               CASE WHEN n_nationkey < 10 THEN n_regionkey + 100
                    ELSE n_regionkey END AS n_regionkey
        FROM nation
        WHERE n_nationkey < 20
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(n_regionkey) AS BIGINT) AS region_sum,
           CAST(110 AS BIGINT) AS proc_return
    FROM work
    """,
    doc="""STORED PROCEDURES (r12): ``CREATE [OR REPLACE] PROCEDURE
    p(x NUMBER, ...) RETURNS <type> [LANGUAGE SQL] [EXECUTE AS
    CALLER|OWNER] AS $$ <block> $$`` registers the body (the
    conservative scripting-block subset — sql56's machinery), and
    ``CALL p(<expr>, ...)`` evaluates the arguments (session
    variables resolve), binds them as block variables, runs the body
    through the verbatim DML shims with read-your-writes, and returns
    Snowflake's one-column relation named after the procedure.
    Non-SQL LANGUAGEs, non-block bodies, arity mismatches, and
    unknown procedures refuse loudly. The entry creates a
    two-parameter UPDATE+DELETE procedure, CALLs it with a session
    variable, and audits the post-CALL table plus the returned value;
    the oracle replays the effects closed-form
    (functions/scripting.py:create_procedure_statement,
    call_statement).""",
    tags=("sql-surface", "dialect", "scripting", "procedures", "dml"),
)
def sql59_stored_procedure(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.scripting import console_script

    nation = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    tables = {"nation_work": nation}
    ret = console_script(spark, _SQL59_PROC_SCRIPT, tables=tables)
    audit = tables["nation_work"].agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("n_regionkey").cast("long").alias("region_sum"),
    )
    return audit.crossJoin(
        ret.select(
            F.col("retire_nations").cast("long").alias("proc_return")
        )
    )


_F35_SNOWFLAKE_TEXT = """
SELECT doc_id,
       REGEXP_REPLACE(text, '[aeiou]', '*', 1, 4) AS rep4,
       CAST(REGEXP_INSTR(text, '[aeiou]', 1, 5) AS BIGINT) AS pos5,
       CAST(REGEXP_INSTR(text, '[aeiou]', 1, 5, 1) AS BIGINT) AS end5,
       REGEXP_REPLACE(text, ' ', '_', 1, 3) AS third_space
FROM documents
WHERE doc_id % 7 = 0
"""


def _dd_splice_rep(pat: str, repl: str, occ: int) -> str:
    """DuckDB splice for replace-the-occ-th-match — the INDEPENDENT
    implementation of the same decomposition (RE2's extract_all +
    str_split_regex vs the JVM's), so the oracle is a genuine
    cross-engine check, not an echo of the Spark expression."""
    m = f"regexp_extract_all(text, '{pat}')"
    g = f"str_split_regex(text, '{pat}')"

    def pieces(rng: str) -> str:
        return (
            f"coalesce(list_aggregate(list_transform({rng},"
            f" i -> {g}[i] || {m}[i]), 'string_agg', ''), '')"
        )

    return (
        f"CASE WHEN len({m}) < {occ} THEN text"
        f" ELSE {pieces(f'range(1, {occ})')} || {g}[{occ}] || '{repl}'"
        f" || {pieces(f'range({occ} + 1, len({m}) + 1)')}"
        f" || {g}[len({m}) + 1] END"
    )


def _dd_splice_pos(pat: str, occ: int, end: bool = False) -> str:
    m = f"regexp_extract_all(text, '{pat}')"
    g = f"str_split_regex(text, '{pat}')"
    prefix = (
        f"coalesce(list_aggregate(list_transform(range(1, {occ}),"
        f" i -> {g}[i] || {m}[i]), 'string_agg', ''), '')"
    )
    tail = f" + length({m}[{occ}])" if end else ""
    return (
        f"CAST(CASE WHEN len({m}) < {occ} THEN 0"
        f" ELSE 1 + length({prefix}) + length({g}[{occ}]){tail} END"
        f" AS BIGINT)"
    )


@register(
    "f35_regex_occurrence",
    oracle=f"""
    SELECT doc_id,
           {_dd_splice_rep('[aeiou]', '*', 4)} AS rep4,
           {_dd_splice_pos('[aeiou]', 5)} AS pos5,
           {_dd_splice_pos('[aeiou]', 5, end=True)} AS end5,
           {_dd_splice_rep(' ', '_', 3)} AS third_space
    FROM documents
    WHERE doc_id % 7 = 0
    """,
    doc="""OCCURRENCE-SPECIFIC REGEXP_REPLACE / REGEXP_INSTR (r12 —
    closes the r11 refusal): no Spark builtin addresses the n-th
    match, but the operation is a deterministic SPLICE over two
    builtins sharing one regex engine — ``split`` gives the
    between-match segments, ``regexp_extract_all`` the matches, and
    ``seg_1||m_1||…||seg_occ||REPL||…`` reassembles with only the
    occ-th match replaced (REGEXP_INSTR: 1 + prefix length, + match
    length for option=1). All JVM-side codegen expressions, zero
    Python, pushdown untouched. A RUNTIME guard refuses zero-width
    patterns where Java's split drops a leading empty delimiter (the
    one case the two views of the match loop disagree — reassembly
    would silently build a different string). Backreferences refuse
    with an occurrence argument (the replacement is spliced
    literally, never re-matched). The oracle is the SAME
    decomposition implemented independently over DuckDB's RE2
    (regexp_extract_all + str_split_regex + list_transform), run over
    every 7th document — a true cross-engine check of both the
    splice algebra and the engines' match loops
    (functions/sqldialect.py:_regexp_replace_occurrence,
    _regexp_instr_rewrite). Scale: per-row expression, no shuffle,
    whole-stage codegen; 100 TB posture identical to any scalar
    projection.""",
    tags=("sql-surface", "dialect", "functions", "regex"),
)
def f35_regex_occurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import lower_select
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(lower_select(_F35_SNOWFLAKE_TEXT))


_F36_SNOWFLAKE_TEXT = """
SELECT o_orderkey,
       OBJECT_INSERT(OBJECT_CONSTRUCT('p', o_orderpriority,
                                      's', o_orderstatus),
                     'k', o_orderkey) AS obj_ins,
       OBJECT_INSERT(OBJECT_CONSTRUCT('p', o_orderpriority,
                                      's', o_orderstatus),
                     's', 'X', TRUE) AS obj_upd,
       OBJECT_DELETE(OBJECT_CONSTRUCT('k', o_orderkey,
                                      'p', o_orderpriority,
                                      's', o_orderstatus),
                     's', 'zz') AS obj_del,
       OBJECT_PICK(OBJECT_CONSTRUCT('k', o_orderkey,
                                    'p', o_orderpriority,
                                    's', o_orderstatus),
                   'p') AS obj_pick,
       CONVERT_TIMEZONE('Asia/Tokyo',
                        CAST(o_orderdate AS TIMESTAMP)) AS tokyo_wall,
       CONVERT_TIMEZONE('America/New_York',
                        CAST(o_orderdate AS TIMESTAMP)) AS nyc_wall
FROM orders
WHERE o_orderkey % 13 = 0
"""


@register(
    "f36_object_mutators_tz",
    oracle="""
    SELECT o_orderkey,
           '{"k":' || o_orderkey || ',"p":"' || o_orderpriority
               || '","s":"' || o_orderstatus || '"}' AS obj_ins,
           '{"p":"' || o_orderpriority || '","s":"X"}' AS obj_upd,
           '{"k":' || o_orderkey || ',"p":"' || o_orderpriority
               || '"}' AS obj_del,
           '{"p":"' || o_orderpriority || '"}' AS obj_pick,
           (o_orderdate::TIMESTAMP AT TIME ZONE 'UTC')
               AT TIME ZONE 'Asia/Tokyo' AS tokyo_wall,
           (o_orderdate::TIMESTAMP AT TIME ZONE 'UTC')
               AT TIME ZONE 'America/New_York' AS nyc_wall
    FROM orders
    WHERE o_orderkey % 13 = 0
    """,
    doc="""OBJECT_INSERT / OBJECT_DELETE / OBJECT_PICK +
    2-arg CONVERT_TIMEZONE (r12 — closes two r11 refusals). The
    object mutators fold COMPOSITIONALLY over inline
    OBJECT_CONSTRUCT[_KEEP_NULL] bases at rewrite time (insert
    errors on an existing key unless the literal updateFlag TRUE;
    SQL-NULL values follow the base constructor's null policy —
    Snowflake's documented "use PARSE_JSON('null')" rule; delete of
    an absent key is a no-op; emptied objects render '{}'); over an
    OPAQUE json-text column they still refuse loudly — each remaining
    value's type is unrecoverable from extracted text, so a lossless
    re-serialization does not exist in pure SQL. 2-arg
    CONVERT_TIMEZONE(target, ts): the engine pins session
    TIMEZONE=UTC, so the naive input IS the UTC instant and the
    result is the DST-correct target-zone wallclock
    (from_utc_timestamp; the offset annotation of TIMESTAMP_TZ is the
    one thing not carried, documented). Oracle: closed-form JSON text
    (keys in the engine's canonical alphabetical order) and DuckDB's
    double AT TIME ZONE hop — session-independent on both engines
    (functions/sqldialect.py:_object_mutators,
    _convert_timezone_rewrite). Scale: per-row expressions, codegen,
    no shuffle.""",
    tags=("sql-surface", "dialect", "functions", "semi-structured"),
)
def f36_object_mutators_tz(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import lower_select
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(lower_select(_F36_SNOWFLAKE_TEXT))


@register(
    "s10_stage_file_row_number",
    oracle="""
    SELECT * FROM (VALUES
        ('customer_history.csv', 2, 21, 20, 20,
         'AAAAAAAAMKJPHPBA', 'AAAAAAAAGCKCCLAA'),
        ('customer_delta_1.csv', 1, 1, 1, 1,
         NULL, NULL),
        ('customer_delta_2.csv', 2, 2, 1, 1,
         'AAAAAAAALKBJCPAA', NULL)
    ) AS t(fname, first_rn, last_rn, n_rows, n_distinct_rn,
           rn2_customer, rn21_customer)
    """,
    doc="""``METADATA$FILE_ROW_NUMBER`` (r12 — closes the r11
    refusal). The column is the PARSED-record number inside each
    source file, +1 when the named format consumed a header line (so
    customer_history.csv's 20 data rows number 2..21 and the
    headerless blank-first-line customer_delta_1.csv's single row
    numbers 1 — Snowflake counts file records, and the one reader
    divergence, blank lines the CSV parser drops, is documented in
    stage_select). Exactness is an ENFORCED engine invariant, not an
    assumption: in-file row order is stable iff the file occupies a
    single scan split, which holds for files <=
    spark.sql.files.maxPartitionBytes — checked per file, refusing
    loudly with the conf to raise (Spark bin-packs whole small files
    but never splits below the threshold). The number itself is
    row_number() over (file-path partition, scan-sequence order) with
    both nondeterministic leaves materialized at the scan — the one
    added shuffle groups at most ONE FILE per task, the same per-file
    cost class as Snowflake's own metadata scan, and is added only
    when the statement references the column. The golden oracle
    hand-derives first/last/count/distinct row numbers AND the exact
    customer ids at file rows 2 and 21 from the md5-pinned fixture
    bytes — pinning true in-file ordering, not just ranges
    (sources/copy_into.py:stage_select).""",
    tags=("sources", "stage", "metadata", "dialect"),
)
def s10_stage_file_row_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.copy_into import stage_select
    from ..sources.csv_format import CUSTOMER_STAGE
    from .pipeline_queries import _REFERENCE_DATA, assert_fixture_fingerprints

    assert_fixture_fingerprints()
    return stage_select(
        spark,
        """
        SELECT METADATA$FILENAME AS fname,
               CAST(MIN(METADATA$FILE_ROW_NUMBER) AS INT) AS first_rn,
               CAST(MAX(METADATA$FILE_ROW_NUMBER) AS INT) AS last_rn,
               CAST(COUNT(*) AS INT) AS n_rows,
               CAST(COUNT(DISTINCT METADATA$FILE_ROW_NUMBER) AS INT)
                   AS n_distinct_rn,
               MIN(CASE WHEN METADATA$FILE_ROW_NUMBER = 2
                        THEN customer_id END) AS rn2_customer,
               MIN(CASE WHEN METADATA$FILE_ROW_NUMBER = 21
                        THEN customer_id END) AS rn21_customer
        FROM @ayo_landing_stage/customer
        GROUP BY METADATA$FILENAME
        """,
        _REFERENCE_DATA,
        CUSTOMER_STAGE,
    )


_SQL60_PROC_CONTROL_FLOW = """
CREATE OR REPLACE PROCEDURE region_score(rk NUMBER)
  RETURNS NUMBER LANGUAGE SQL AS $$
  DECLARE n NUMBER DEFAULT 0; score NUMBER DEFAULT 0;
  BEGIN
    LET n := (SELECT COUNT(*) FROM nation WHERE n_regionkey = :rk);
    IF (n = 0) THEN RETURN -1; END IF;
    FOR i IN 1 TO n DO
      IF (i % 2 = 0) THEN CONTINUE; END IF;
      LET score := score + i;
    END FOR;
    WHILE (score < 20) DO
      LET score := score * 2 + 1;
    END WHILE;
    RETURN score;
  END
  $$;
CALL region_score(2);
"""


@register(
    "sql60_proc_control_flow",
    oracle="""
    WITH RECURSIVE base AS (
        SELECT CAST(POWER(CEIL(COUNT(*) / 2.0), 2) AS BIGINT) AS v
        FROM nation WHERE n_regionkey = 2
    ),
    grow AS (
        SELECT v FROM base
        UNION ALL
        SELECT v * 2 + 1 FROM grow WHERE v < 20
    )
    SELECT CAST(MAX(v) AS BIGINT) AS region_score FROM grow
    """,
    doc="""SCRIPTING CONTROL FLOW (r12 session 4 — extends the sql56/
    sql59 conservative subset): ``IF (c) THEN/ELSEIF/ELSE/END IF``,
    ``WHILE (c) DO ... END WHILE``, counter ``FOR i IN [REVERSE] a TO
    b DO ... END FOR`` (loop-scoped counter), and BREAK/EXIT /
    CONTINUE/ITERATE, parsed by recursive descent over the
    semicolon-split statement stream (branch statements ride on their
    THEN/DO/ELSE marker and are pushed back) and executed with
    block-variable state; conditions must be parenthesized and
    BOOLEAN (NULL = not taken, any other type refuses — no silent
    coercion), FOR bounds must be integers, and a 100k-iteration
    guard refuses runaway loops. Cursors, CASE blocks, bare LOOP,
    REPEAT...UNTIL, and EXCEPTION sections landed in the same session
    (sql61/sql62); RESULTSET stays refused. The entry creates a procedure whose body
    early-RETURNs on an empty region, sums odd counters via
    FOR+CONTINUE, then grows the sum with a WHILE — and CALLs it; the
    oracle RE-DERIVES the same semantics independently (sum of odds
    1..n = ceil(n/2)^2; the WHILE as a recursive CTE fixpoint) —
    nothing about the oracle echoes the interpreter
    (functions/scripting.py:_parse_block_body, scripting_block).
    Scale: control flow is DRIVER-side orchestration over O(1) scalar
    state — exactly Snowflake's own scripting model; every embedded
    statement remains a full distributed plan.""",
    tags=("sql-surface", "dialect", "scripting", "procedures",
          "control-flow"),
)
def sql60_proc_control_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.scripting import console_script
    from .tables import register_views

    register_views(spark, sf_dir)
    ret = console_script(spark, _SQL60_PROC_CONTROL_FLOW)
    return ret.select(
        F.col("region_score").cast("long").alias("region_score")
    )


_SQL61_PROC_EXCEPTION = """
CREATE OR REPLACE PROCEDURE guarded_total(cap NUMBER)
  RETURNS STRING LANGUAGE SQL AS $$
  DECLARE overflow EXCEPTION (-20031, 'region total over cap');
  DECLARE total NUMBER DEFAULT 0;
  BEGIN
    LET total := (SELECT SUM(n_nationkey) FROM nation
                  WHERE n_regionkey <= 2);
    IF (total > cap) THEN RAISE overflow; END IF;
    RETURN 'under: ' || CAST(total AS STRING);
  EXCEPTION
    WHEN overflow THEN
      RETURN 'over cap ' || CAST(:cap AS STRING) || ' (' || SQLERRM
             || ', code ' || CAST(SQLCODE AS STRING) || ')';
    WHEN OTHER THEN
      RETURN 'unexpected';
  END
  $$;
CALL guarded_total(50);
"""


@register(
    "sql61_proc_exception",
    oracle="""
    WITH s AS (
        SELECT CAST(SUM(n_nationkey) AS BIGINT) AS total
        FROM nation WHERE n_regionkey <= 2
    )
    SELECT CASE WHEN total > 50
           THEN 'over cap 50 (region total over cap, code -20031)'
           ELSE 'under: ' || CAST(total AS VARCHAR) END AS guarded_total
    FROM s
    """,
    doc="""EXCEPTION HANDLING in scripting blocks / procedures (r12
    session 4 — closes the last refused Snowflake Scripting section):
    ``DECLARE e EXCEPTION [(code, 'msg')]``, ``RAISE e``, and a
    trailing ``EXCEPTION WHEN e [OR e2] THEN ... WHEN
    STATEMENT_ERROR | EXPRESSION_ERROR | OTHER THEN ...`` section.
    Embedded-SQL runtime failures dispatch as STATEMENT_ERROR and
    block-expression failures as EXPRESSION_ERROR — made DETECTABLE
    at their statement boundary by executing eagerly whenever a
    handler section exists (Spark's laziness would otherwise float a
    data error past the handler's scope; DML results are checkpointed
    so read-your-writes becomes a stable per-statement snapshot,
    which IS Snowflake's statement semantics). Handlers read
    SQLCODE/SQLERRM/SQLSTATE as block variables; bare RAISE
    re-raises; unhandled errors surface the ORIGINAL engine error;
    interpreter refusals (unsupported shapes) are never swallowed by
    OTHER. The entry's procedure RAISEs on a data-dependent guard and
    the handler formats the error triple; the oracle re-derives BOTH
    control paths closed-form from the same relation
    (functions/scripting.py:scripting_block). Scale: driver-side
    orchestration over O(1) state, one extra action per statement
    only when a handler section exists.""",
    tags=("sql-surface", "dialect", "scripting", "exceptions",
          "procedures"),
)
def sql61_proc_exception(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.scripting import console_script
    from .tables import register_views

    register_views(spark, sf_dir)
    return console_script(spark, _SQL61_PROC_EXCEPTION)


_SQL62_CURSOR_FOR = """
EXECUTE IMMEDIATE $$
DECLARE c CURSOR FOR SELECT r_regionkey AS rk, r_name
                     FROM region ORDER BY r_regionkey;
DECLARE acc VARCHAR DEFAULT ''; total NUMBER DEFAULT 0;
BEGIN
  FOR r IN c DO
    IF (r.rk % 2 = 0) THEN CONTINUE; END IF;
    LET total := total + (SELECT COUNT(*) FROM nation
                          WHERE n_regionkey = :r.rk);
    LET acc := acc || SUBSTR(r.r_name, 1, 2) || '.';
  END FOR;
  RETURN acc || CAST(total AS STRING);
END
$$;
"""


@register(
    "sql62_cursor_for",
    oracle="""
    WITH odd AS (
        SELECT r_regionkey AS rk, r_name FROM region
        WHERE r_regionkey % 2 = 1
    ),
    agg AS (
        SELECT string_agg(substr(r_name, 1, 2) || '.', ''
                          ORDER BY rk) AS acc,
               (SELECT COUNT(*) FROM nation n JOIN odd o
                ON n.n_regionkey = o.rk) AS total
        FROM odd
    )
    SELECT acc || CAST(total AS VARCHAR) AS anonymous_block FROM agg
    """,
    doc="""CURSOR FOR LOOPS (r12 session 4): ``DECLARE c CURSOR FOR
    <query>`` binds the query text lazily; ``FOR rec IN c DO ... END
    FOR`` runs it ONCE at loop open (through the statement dispatch,
    so session variables, :binds, and the block's read-your-writes
    table snapshot all resolve) and iterates rows DRIVER-side with
    ``rec.col`` readable bare in expressions and as ``:rec.col``
    binds in statements (loop-scoped, shadow-restored). BOUNDED STATE
    by design: a cursor beyond 10k rows refuses loudly — a cursor
    loop is per-row orchestration (Snowflake's own cursor model), not
    a data plan; the refusal message says to restructure set-based.
    Manual OPEN/FETCH INTO/CLOSE share the same bounded open path
    (past-the-end FETCH leaves NULLs — Snowflake's rule); RESULTSETs
    stay refused.
    The entry's block walks regions in key order, CONTINUEs past even
    keys, and accumulates both a string fold and a per-row correlated
    count; the oracle re-derives it set-based (ordered string_agg +
    join-count) — independently, not by mirroring the loop
    (functions/scripting.py:_FOR_CURSOR_NAME, scripting_block).
    Scale: one distributed query per cursor open; O(rows<=cap) driver
    iteration; every embedded statement is a full Spark plan.""",
    tags=("sql-surface", "dialect", "scripting", "cursors",
          "control-flow"),
)
def sql62_cursor_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.scripting import console_script
    from .tables import register_views

    register_views(spark, sf_dir)
    return console_script(spark, _SQL62_CURSOR_FOR)


_SQL63_RESULTSET_PROC = """
CREATE OR REPLACE PROCEDURE nation_roster(rk NUMBER)
  RETURNS TABLE(n_name STRING, n_nationkey NUMBER) LANGUAGE SQL AS $$
  DECLARE r RESULTSET;
  BEGIN
    LET r := (SELECT n_name, n_nationkey FROM nation
              WHERE n_regionkey = :rk);
    RETURN TABLE(r);
  END
  $$;
CALL nation_roster(1);
"""


@register(
    "sql63_resultset_table_proc",
    oracle="""
    SELECT n_name, CAST(n_nationkey AS BIGINT) AS n_nationkey
    FROM nation WHERE n_regionkey = 1
    """,
    doc="""RESULTSETs + TABLE-VALUED PROCEDURES (r12 session 4 — the
    LAST scripting refusal closed): ``DECLARE r RESULTSET [:=
    (query)]`` / ``LET r := (query)`` EXECUTES the query at
    assignment and snapshots it (localCheckpoint — Snowflake's
    resultset is a materialized result handle, and the snapshot means
    later DML cannot retroactively change it, unit-pinned);
    ``TABLE(r)`` reads the snapshot in later statements, block
    expressions, and cursor declarations; ``RETURN TABLE(r)`` makes
    the block — and via ``RETURNS TABLE(...)`` the procedure —
    table-valued, with CALL returning the full relation. Block
    expressions also re-register the tables-dict state before every
    evaluation, so scalar subqueries observe read-your-writes after
    embedded DML (found-and-fixed while building this). The entry's
    procedure filters nation by a bound argument and returns the
    relation; the oracle is the same filter stated directly
    (functions/scripting.py:eval_resultset, _sub_resultsets). Scale:
    one distributed plan per assignment; the snapshot cost is the
    result's size, the same class as CACHE TABLE — callers stream it
    without re-execution.""",
    tags=("sql-surface", "dialect", "scripting", "resultsets",
          "procedures"),
)
def sql63_resultset_table_proc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.scripting import console_script
    from .tables import register_views

    register_views(spark, sf_dir)
    return console_script(spark, _SQL63_RESULTSET_PROC)


_F37_SNOWFLAKE_TEXT = """
SELECT o_orderkey,
       INITCAP(o_orderpriority) AS prio_title,
       INITCAP(o_orderpriority, '-') AS prio_dash,
       ARRAY_TO_STRING(
           REGEXP_SUBSTR_ALL(o_orderpriority, '[A-Z]+', 1, 2), '|')
           AS tail_words,
       GET_IGNORE_CASE(OBJECT_CONSTRUCT('OrderKey', o_orderkey,
                                        'Status', o_orderstatus),
                       'sTaTuS') AS gic_s,
       GET_IGNORE_CASE(OBJECT_CONSTRUCT('OrderKey', o_orderkey,
                                        'Status', o_orderstatus),
                       'orderkey') AS gic_k,
       GET_IGNORE_CASE(OBJECT_CONSTRUCT('OrderKey', o_orderkey),
                       'missing') AS gic_null
FROM orders
WHERE o_orderkey % 17 = 0
"""


@register(
    "f37_initcap_delimiters",
    oracle="""
    SELECT o_orderkey,
           CASE o_orderpriority
             WHEN '1-URGENT' THEN '1-Urgent'
             WHEN '2-HIGH' THEN '2-High'
             WHEN '3-MEDIUM' THEN '3-Medium'
             WHEN '4-NOT SPECIFIED' THEN '4-Not Specified'
             WHEN '5-LOW' THEN '5-Low' END AS prio_title,
           CASE o_orderpriority
             WHEN '1-URGENT' THEN '1-Urgent'
             WHEN '2-HIGH' THEN '2-High'
             WHEN '3-MEDIUM' THEN '3-Medium'
             WHEN '4-NOT SPECIFIED' THEN '4-Not specified'
             WHEN '5-LOW' THEN '5-Low' END AS prio_dash,
           CASE o_orderpriority
             WHEN '4-NOT SPECIFIED' THEN 'SPECIFIED' ELSE '' END
               AS tail_words,
           o_orderstatus AS gic_s,
           CAST(o_orderkey AS VARCHAR) AS gic_k,
           CAST(NULL AS VARCHAR) AS gic_null
    FROM orders
    WHERE o_orderkey % 17 = 0
    """,
    doc="""INITCAP with Snowflake's DELIMITER-SET semantics +
    positional REGEXP_SUBSTR_ALL (r12 s4 — closes two f34 refusals,
    and FIXES a shipped silent divergence: Spark's native initcap
    capitalizes after spaces only, while Snowflake's default
    delimiter set includes punctuation — 'john-doe' is 'John-Doe' in
    Snowflake, and even the 1-arg form previously passed through to
    Spark's narrower behavior). Both forms lower to the split /
    regexp_extract_all splice over a compiled delimiter character
    class (delimiter RUNS preserved verbatim; each segment gets
    first-char-upper + rest-lower — deliberately NOT Spark initcap,
    since a segment may contain spaces that are not delimiters; the
    apostrophe is not in Snowflake's default set, so o'brien ->
    O'brien). Runtime delimiter sets refuse. REGEXP_SUBSTR_ALL gains
    position (substr), occurrence (array slice from the occ-th
    match), params and group extraction — REGEXP_SUBSTR's exact
    conventions. GET_IGNORE_CASE (a third closed refusal, REDEFINING
    this entry) resolves the key case-insensitively from
    json_object_keys (deterministic first-match) and extracts through
    a DYNAMIC bracket-quoted json path — GET's exact text-out
    convention; no-match/NULL/non-object all yield NULL. The oracle
    is a GOLDEN CASE over the column's closed
    domain — independent of both engines' string machinery
    (functions/sqldialect.py:_initcap_rewrite,
    _regexp_substr_all_rewrite). Scale: per-row codegen expressions,
    pushdown untouched, no shuffle.""",
    tags=("sql-surface", "dialect", "functions", "strings"),
)
def f37_initcap_delimiters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import lower_select
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(lower_select(_F37_SNOWFLAKE_TEXT))


_F38_SNOWFLAKE_TEXT = """
SELECT o_orderkey,
       ARRAY_TO_STRING(ARRAY_INSERT(ARRAY_CONSTRUCT('a', 'c'), 1,
                                    o_orderstatus), ',') AS ins,
       ARRAY_TO_STRING(ARRAY_EXCEPT(ARRAY_CONSTRUCT('x', 'x', 'y'),
                                    ARRAY_CONSTRUCT('x')), ',') AS exc,
       ARRAY_TO_STRING(ARRAY_INTERSECTION(
           ARRAY_CONSTRUCT('x', 'x', 'y'),
           ARRAY_CONSTRUCT('x', 'x', 'z')), ',') AS its,
       ARRAY_TO_STRING(ARRAY_REMOVE_AT(ARRAY_CONSTRUCT('a', 'b', 'c'),
                                       o_orderkey % 5), ',') AS rm,
       ARRAY_TO_STRING(ARRAY_SORT(ARRAY_CONSTRUCT(o_orderstatus,
                                                  'M', 'A'),
                                  FALSE), ',') AS srt,
       ARRAY_TO_STRING(SPLIT('a.' || o_orderstatus || '.z', '.'), '/')
           AS sp,
       TRUNC(TIMEADD(minute, 437,
                     CAST(o_orderdate AS TIMESTAMP)), 'HOUR') AS th,
       BOOLOR(o_orderkey % 2, 0) AS bo,
       BOOLAND(o_orderkey % 2, 1) AS ba
FROM orders
WHERE o_orderkey % 23 = 0
"""


@register(
    "f38_array_fidelity",
    oracle="""
    SELECT o_orderkey,
           'a,' || o_orderstatus || ',c' AS ins,
           'x,y' AS exc,
           'x,x' AS its,
           CASE o_orderkey % 5
             WHEN 0 THEN 'b,c' WHEN 1 THEN 'a,c' WHEN 2 THEN 'a,b'
             ELSE 'a,b,c' END AS rm,
           CASE o_orderstatus
             WHEN 'F' THEN 'M,F,A' WHEN 'O' THEN 'O,M,A'
             WHEN 'P' THEN 'P,M,A' END AS srt,
           'a/' || o_orderstatus || '/z' AS sp,
           o_orderdate::TIMESTAMP + INTERVAL 7 HOUR AS th,
           o_orderkey % 2 <> 0 AS bo,
           o_orderkey % 2 <> 0 AS ba
    FROM orders
    WHERE o_orderkey % 23 = 0
    """,
    doc="""ARRAY-FUNCTION FIDELITY batch (r12 s4, probe battery 6 —
    two of these were SILENT divergences, the worst class): Snowflake
    ARRAY_INSERT is 0-BASED while Spark's same-named native is
    1-based, so the previous passthrough inserted one slot off —
    non-negative positions now shift by one, negative positions
    refuse (the engines' from-the-end conventions disagree
    irreconcilably). ARRAY_EXCEPT / ARRAY_INTERSECTION are MULTISET
    in Snowflake (x kept max(m-n,0) / min(m,n) times) but Spark's
    natives deduplicate — now lowered to an exact indexed
    occurrence-counting filter (null-safe <=>, first-array order,
    O(n^2) over row-local arrays). ARRAY_REMOVE_AT added (0-based,
    negative from end, out-of-range returns the array unchanged).
    ARRAY_SORT's literal boolean forms map each of the four
    asc/nulls-first combinations to the exact Spark composition
    (Spark's own 2-arg array_sort takes a comparator lambda, so
    these died in the analyzer); runtime flags refuse. SPLIT (a
    THIRD silent divergence, entry redefined) splits on the LITERAL
    delimiter via \\Q-quoting — Spark's same-named native takes a
    REGEX, so SPLIT(s, '.') exploded every character; '' returns the
    whole string one-element (Snowflake's rule); SPLIT_TO_TABLE's
    plain branch shares the fix. Probe battery 7 (entry redefined
    again): TRUNC's sub-day grains route to date_trunc (Spark's
    trunc is month-and-up and returned NULL SILENTLY — unknown parts
    now refuse); BOOLOR/BOOLAND as three-valued OR/AND over the <>0
    truth map; HASH -> xxhash64 (Snowflake's 64-bit width — Spark's
    native hash is 32-bit; values are engine-specific in Snowflake
    too); RANDOM -> a 64-bit INTEGER (the native float broke
    RANDOM() % n arithmetic); SEQ1/SEQ2 added and SEQ4 wraps at
    2^32 per Snowflake's documented widths. The oracle is
    golden closed-form over the status domain and the mod-5 position
    ladder — every ARRAY_REMOVE_AT branch (head/middle/negative/
    out-of-range) exercised by real keys
    (functions/sqldialect.py:_SCALAR_REWRITES, _array_sort_rewrite).
    Scale: per-row expressions, no shuffle, pushdown untouched.""",
    tags=("sql-surface", "dialect", "functions", "arrays"),
)
def f38_array_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import lower_select
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(lower_select(_F38_SNOWFLAKE_TEXT))


_F39_SNOWFLAKE_TEXT = """
SELECT event_type,
       CAST(SUM(DAYOFWEEK(ts)) AS BIGINT) AS sum_dow,
       CAST(SUM(WEEK(ts)) AS BIGINT) AS sum_week,
       CAST(SUM(DATEDIFF('week', DATE '1995-01-06', ts)) AS BIGINT)
           AS sum_dd_week,
       CAST(SUM(DATEDIFF('quarter', DATE '1995-01-06', ts)) AS BIGINT)
           AS sum_dd_quarter,
       CAST(SUM(DATEDIFF('hour', TIMESTAMP '1995-01-06 12:30:00', ts))
           AS BIGINT) AS sum_dd_hour,
       CAST(SUM(DATEDIFF('minute', TIMESTAMP '1995-01-06 12:30:00', ts))
           AS BIGINT) AS sum_dd_minute,
       CAST(SUM(DATEDIFF('second', TIMESTAMP '1995-01-06 12:30:00', ts))
           AS BIGINT) AS sum_dd_second,
       CAST(SUM(DATEDIFF('millisecond',
                         TIMESTAMP '1995-01-06 12:30:00', ts))
           AS BIGINT) AS sum_dd_ms,
       MIN(DAYNAME(ts)) AS min_dayname,
       MAX(MONTHNAME(ts)) AS max_monthname
FROM events
GROUP BY event_type
"""


@register(
    "f39_datetime_battery",
    oracle="""
    SELECT event_type,
           CAST(SUM(isodow(ts)) AS BIGINT) AS sum_dow,
           CAST(SUM(weekofyear(ts)) AS BIGINT) AS sum_week,
           CAST(SUM(date_diff('week', DATE '1995-01-06',
                              CAST(ts AS DATE))) AS BIGINT)
               AS sum_dd_week,
           CAST(SUM(date_diff('quarter', DATE '1995-01-06',
                              CAST(ts AS DATE))) AS BIGINT)
               AS sum_dd_quarter,
           CAST(SUM(date_diff('hour', TIMESTAMP '1995-01-06 12:30:00',
                              ts)) AS BIGINT) AS sum_dd_hour,
           CAST(SUM(date_diff('minute',
                              TIMESTAMP '1995-01-06 12:30:00', ts))
               AS BIGINT) AS sum_dd_minute,
           CAST(SUM(date_diff('second',
                              TIMESTAMP '1995-01-06 12:30:00', ts))
               AS BIGINT) AS sum_dd_second,
           CAST(SUM(date_diff('millisecond',
                              TIMESTAMP '1995-01-06 12:30:00', ts))
               AS BIGINT) AS sum_dd_ms,
           MIN(strftime(ts, '%a')) AS min_dayname,
           MAX(strftime(ts, '%b')) AS max_monthname
    FROM events
    GROUP BY event_type
    """,
    doc="""Probe battery 8 (r13) part 1 — the date/time same-named
    silent-divergence hunt over the events stream. Found and fixed:
    bare ``DAYOFWEEK`` passed through to Spark's native
    (Sunday=1..Saturday=7) — a silent off-by-one against Snowflake's
    default/pinned ISO profile (Monday=1..Sunday=7); ``WEEK`` died in
    the analyzer; ``DATEDIFF`` refused every part beyond
    day/month/year. DATEDIFF now lowers the full alias family with
    explicit BOUNDARY-CROSSING counts (week = ISO Monday weeks via
    date_trunc arithmetic, quarter = year*4+quarter diff, hour/minute
    = floor-truncated epoch units, ms = pmod-exact floor — plain
    `div` truncates toward zero and miscounts pre-1970 boundaries;
    timestampdiff would count COMPLETE periods, wrong by one around
    every boundary). DAYNAME/MONTHNAME are pinned against DuckDB's
    strftime. Everything is per-row codegen arithmetic; the only
    shuffle is the final group-by
    (functions/sqldialect.py:_datediff_rewrite).""",
    tags=("functions", "dialect", "datetime", "probe-battery"),
)
def f39_datetime_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import lower_select
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(lower_select(_F39_SNOWFLAKE_TEXT))


_F40_SNOWFLAKE_TEXT = """
SELECT CAST(d AS STRING) AS d_str,
       CAST(DAYOFWEEK(d) AS BIGINT) AS dow,
       CAST(NEXT_DAY(d, 'fr') AS STRING) AS next_fri,
       CAST(PREVIOUS_DAY(d, 'fr') AS STRING) AS prev_fri,
       CAST(LAST_DAY(d, 'week') AS STRING) AS ld_week,
       CAST(LAST_DAY(d, 'month') AS STRING) AS ld_month,
       CAST(LAST_DAY(d, 'quarter') AS STRING) AS ld_quarter,
       CAST(LAST_DAY(d, 'year') AS STRING) AS ld_year,
       CAST(DATEADD('millisecond', 123, CAST(d AS TIMESTAMP))
           AS STRING) AS plus_ms,
       CAST(DATEADD('microsecond', 45, CAST(d AS TIMESTAMP))
           AS STRING) AS plus_us,
       CAST(DATEADD('nanosecond', 7000, CAST(d AS TIMESTAMP))
           AS STRING) AS plus_ns,
       CAST(TO_NUMBER('$1,234.50', '$9,999.99') AS DOUBLE) AS n_mask,
       CAST(TRY_TO_NUMBER('$12', '99') AS DOUBLE) AS n_undeclared,
       CAST(TRY_TO_NUMBER('1,234', '9,999') AS DOUBLE) AS n_grouped,
       CAST(ADD_MONTHS(d, 1) AS STRING) AS am_plain,
       CAST(ADD_MONTHS(DATE '2016-02-29', 1) AS STRING) AS am_lastday,
       CAST(MONTHS_BETWEEN(DATE '2019-03-01', DATE '2019-02-15')
           AS DOUBLE) AS mb_exact
FROM (SELECT CAST(v AS DATE) AS d FROM VALUES
      ('2026-08-10'), ('2026-08-11'), ('2026-08-12'), ('2026-08-13'),
      ('2026-08-14'), ('2026-08-15'), ('2026-08-16') AS t(v))
"""


@register(
    "f40_datetime_scalars",
    oracle="""
    SELECT CAST(d AS VARCHAR) AS d_str,
           CAST(isodow(d) AS BIGINT) AS dow,
           CAST(d + CAST(((5 - isodow(d) + 6) % 7) + 1 AS INT)
                AS VARCHAR) AS next_fri,
           CAST(d - CAST(((isodow(d) - 5 + 6) % 7) + 1 AS INT)
                AS VARCHAR) AS prev_fri,
           CAST(CAST(date_trunc('week', d) AS DATE) + 6 AS VARCHAR)
               AS ld_week,
           CAST(last_day(d) AS VARCHAR) AS ld_month,
           CAST(CAST(date_trunc('quarter', d) + INTERVAL 3 MONTH
                     - INTERVAL 1 DAY AS DATE) AS VARCHAR)
               AS ld_quarter,
           CAST(make_date(CAST(year(d) AS INT), 12, 31) AS VARCHAR)
               AS ld_year,
           CAST(CAST(d AS TIMESTAMP) + INTERVAL 123 MILLISECOND
                AS VARCHAR) AS plus_ms,
           CAST(CAST(d AS TIMESTAMP) + INTERVAL 45 MICROSECOND
                AS VARCHAR) AS plus_us,
           CAST(CAST(d AS TIMESTAMP) + INTERVAL 7 MICROSECOND
                AS VARCHAR) AS plus_ns,
           CAST(CAST(replace(replace('$1,234.50', '$', ''), ',', '')
                     AS DECIMAL(6,2)) AS DOUBLE) AS n_mask,
           CAST(NULL AS DOUBLE) AS n_undeclared,
           CAST(CAST(replace('1,234', ',', '') AS DECIMAL(4,0))
                AS DOUBLE) AS n_grouped,
           CAST(CAST(d + INTERVAL 1 MONTH AS DATE) AS VARCHAR)
               AS am_plain,
           CAST(last_day(CAST(DATE '2016-02-29' + INTERVAL 1 MONTH
                AS DATE)) AS VARCHAR) AS am_lastday,
           CAST(1.0 + CAST(-14.0 AS DOUBLE) / CAST(31.0 AS DOUBLE)
               AS DOUBLE) AS mb_exact
    FROM (SELECT CAST(v AS DATE) AS d FROM (VALUES
          ('2026-08-10'), ('2026-08-11'), ('2026-08-12'),
          ('2026-08-13'), ('2026-08-14'), ('2026-08-15'),
          ('2026-08-16')) t(v))
    """,
    doc="""Probe battery 8 (r13) part 2 — scalar calendar functions
    across a full Monday..Sunday week (every day-of-week case for the
    strictly-after/strictly-before contracts) plus the numeric-mask
    fix. NEXT_DAY passes through to Spark's native (both engines are
    strictly-after); PREVIOUS_DAY is the 8-day re-based next_day;
    LAST_DAY's part forms cover week (ISO Sunday), month, quarter,
    year; DATEADD gains millisecond/microsecond/nanosecond as
    fractional-SECOND intervals (nanosecond amounts must be whole
    microseconds — Spark timestamps are us-precision — else a LOUD
    refusal, never a lossy add). TO_NUMBER/TRY_TO_NUMBER now strip
    ONLY the group/currency characters the mask DECLARES: the old
    unconditional '[,$]' strip silently accepted TO_NUMBER('$12',
    '99'), which Snowflake rejects — pinned here by n_undeclared
    (NULL under TRY_) vs n_grouped (declared ',' still strips). The
    oracle replays every rule in closed form — NEXT_DAY/PREVIOUS_DAY
    as isodow arithmetic, the masks as declared-character replaces
    (functions/sqldialect.py:_to_number_rewrite,_dateadd_rewrite).""",
    tags=("functions", "dialect", "datetime", "probe-battery"),
)
def f40_datetime_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import lower_select
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(lower_select(_F40_SNOWFLAKE_TEXT))


_F41_SNOWFLAKE_TEXT = """
SELECT CAST(v AS STRING) AS label,
       CAST(TO_TIMESTAMP(v) AS STRING) AS ts,
       CAST(TRY_TO_TIMESTAMP(CAST(v AS STRING)) AS STRING) AS ts_str,
       CAST(STRIP_NULL_VALUE(PARSE_JSON('null')) AS STRING) AS sn_null,
       CAST(STRIP_NULL_VALUE(TO_VARIANT(7)) AS STRING) AS sn_val,
       CAST(CEIL(123.456, 1) AS DOUBLE) AS ceil1,
       CAST(FLOOR(123.456, -1) AS DOUBLE) AS floorm1,
       CAST(ROUND(-2.5) AS DOUBLE) AS round_away,
       SPLIT_PART('a.b.c', '.', -1) AS sp_neg,
       SPLIT_PART('a.b.c', '.', 9) AS sp_oob,
       CHR(9731) AS chr_bmp,
       CHAR(128169) AS chr_astral,
       TRY_BASE64_DECODE_STRING('%%%') AS b64_bad,
       TRY_BASE64_DECODE_STRING('SGk=') AS b64_ok,
       CAST(MD5_NUMBER_LOWER64('a') AS DOUBLE) AS md5_lo,
       CAST(MD5_NUMBER_UPPER64('a') AS DOUBLE) AS md5_hi
FROM (SELECT CAST(x AS BIGINT) AS v FROM VALUES
      (1700000000), (1700000000123), (1700000000123456),
      (1700000000123456789), (-86400) AS t(x))
"""


@register(
    "f41_epoch_scale_battery",
    oracle="""
    SELECT CAST(v AS VARCHAR) AS label,
           CAST(CAST(CASE
               WHEN abs(v) < 31536000000
                   THEN to_timestamp(CAST(v AS DOUBLE))
               WHEN abs(v) < 31536000000000 THEN epoch_ms(v)
               WHEN abs(v) < 31536000000000000 THEN make_timestamp(v)
               ELSE make_timestamp(v // 1000) END
               AS TIMESTAMP) AS VARCHAR) AS ts,
           CAST(CAST(CASE
               WHEN abs(v) < 31536000000
                   THEN to_timestamp(CAST(v AS DOUBLE))
               WHEN abs(v) < 31536000000000 THEN epoch_ms(v)
               WHEN abs(v) < 31536000000000000 THEN make_timestamp(v)
               ELSE make_timestamp(v // 1000) END
               AS TIMESTAMP) AS VARCHAR) AS ts_str,
           CAST(NULL AS VARCHAR) AS sn_null,
           CAST(7 AS VARCHAR) AS sn_val,
           CAST(123.5 AS DOUBLE) AS ceil1,
           CAST(120 AS DOUBLE) AS floorm1,
           CAST(-3 AS DOUBLE) AS round_away,
           'c' AS sp_neg,
           '' AS sp_oob,
           chr(9731) AS chr_bmp,
           chr(128169) AS chr_astral,
           CAST(NULL AS VARCHAR) AS b64_bad,
           'Hi' AS b64_ok,
           CAST(CAST(concat('0x', substring(md5('a'), 17, 16))
                AS UBIGINT) AS DOUBLE) AS md5_lo,
           CAST(CAST(concat('0x', substring(md5('a'), 1, 16))
                AS UBIGINT) AS DOUBLE) AS md5_hi
    FROM (SELECT CAST(x AS BIGINT) AS v FROM (VALUES
          (1700000000), (1700000000123), (1700000000123456),
          (1700000000123456789), (-86400)) t(x))
    """,
    doc="""Probe battery 9 (r13): Snowflake's TO_TIMESTAMP integer
    MAGNITUDE heuristic — < 31536000000 seconds, then milliseconds /
    microseconds / nanoseconds by factors of 1000 — which Spark's
    cast lacks (an epoch-milliseconds column silently landed in year
    ~55840). The lowering dispatches lazily on the rendered value
    (digit STRINGS included, Snowflake's rule; non-integer inputs
    keep the plain cast, TIMESTAMP/DATE/format paths untouched), so
    it is one per-row CASE — no shuffle, pushdown unaffected. The
    oracle replays every scale bucket through DuckDB's native
    epoch_ms/make_timestamp. Rides along: STRIP_NULL_VALUE (JSON
    null -> SQL NULL — was an analyzer death), and passthrough pins
    for CEIL/FLOOR(x, scale) incl. negative scale, ROUND
    half-away-from-zero on negatives, and SPLIT_PART's 1-based /
    negative-from-end / out-of-range-empty contract. Late riders:
    CHR/CHAR as the UNICODE code point (Spark's natives are mod-256
    ASCII — chr(9731) was '\\x03' SILENTLY; UTF-32 identity decode,
    astral planes included, out-of-range refuses), the TRY_ decode
    family (NULL on invalid via try_to_binary), and MD5_NUMBER_
    LOWER64/UPPER64 (unsigned halves via conv -> DECIMAL(20,0);
    DuckDB twins via UBIGINT hex casts)
    (functions/sqldialect.py:_ts_numeric_heuristic,_chr_rewrite).""",
    tags=("functions", "dialect", "datetime", "probe-battery"),
)
def f41_epoch_scale_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import lower_select
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(lower_select(_F41_SNOWFLAKE_TEXT))


_F42_SNOWFLAKE_TEXT = """
SELECT l_returnflag,
       CAST(SUM(l_extendedprice::NUMBER(18,2)) AS DOUBLE) AS sum_price,
       CAST(SUM(CAST(l_quantity AS NUMBER)) AS BIGINT) AS sum_qty,
       CAST(AVG(l_discount::FLOAT) AS DOUBLE) AS avg_disc_dbl,
       MAX(l_shipdate::DATETIME) AS max_ship_ts,
       MIN(l_orderkey::TEXT) AS min_key_text,
       CAST(MAX(l_tax)::NUMBER(4,2) AS DOUBLE) AS max_tax
FROM lineitem
GROUP BY l_returnflag
"""


@register(
    "f42_cast_type_names",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,0))) AS BIGINT)
               AS sum_qty,
           CAST(AVG(CAST(l_discount AS DOUBLE)) AS DOUBLE)
               AS avg_disc_dbl,
           MAX(CAST(l_shipdate AS TIMESTAMP)) AS max_ship_ts,
           MIN(CAST(l_orderkey AS VARCHAR)) AS min_key_text,
           CAST(CAST(MAX(l_tax) AS DECIMAL(4,2)) AS DOUBLE) AS max_tax
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="""Probe battery 9 (r13) part 2 — Snowflake CAST TYPE NAMES in
    both spellings (``expr::TYPE`` and ``CAST(expr AS TYPE)``).
    Spark's parser rejected NUMBER(p,s)/NUMBER/TEXT/DATETIME/FLOAT8
    outright (loud deaths on everyday pasted SQL), and parsed
    FLOAT/FLOAT4/REAL as 4-BYTE floats where Snowflake's are all
    8-byte doubles — a SILENT precision divergence on x::FLOAT —
    plus bare DECIMAL as (10,0) vs Snowflake's (38,0) default.
    `rewrite_cast_types` translates the cast TARGET in place
    (literal-aware, alias-safe: only the type position inside
    CAST(...AS...) or after '::' is touched; ARRAY<...> generics and
    the Spark-native int family pass through); ::VARIANT/OBJECT/ARRAY
    refuse with TO_* guidance — Spark 4 would otherwise parse a
    NATIVE variant, silently breaking the engine's JSON-text VARIANT
    convention. Pure target translation: pushdown/codegen unaffected
    (functions/sqldialect.py:rewrite_cast_types).""",
    tags=("functions", "dialect", "casts", "probe-battery"),
)
def f42_cast_type_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import lower_select
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(lower_select(_F42_SNOWFLAKE_TEXT))


_SQL64_DELETE_TEXT = """
DELETE FROM work USING lineitem
WHERE work.o_orderkey = lineitem.l_orderkey
  AND lineitem.l_returnflag = 'R'
"""


@register(
    "sql64_delete_using",
    oracle="""
    SELECT CAST(COUNT(1) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents_sum
    FROM orders o
    WHERE NOT EXISTS (
        SELECT 1 FROM lineitem l
        WHERE o.o_orderkey = l.l_orderkey AND l.l_returnflag = 'R'
    )
    """,
    doc="""Snowflake's join-DELETE accepted VERBATIM (r13): ``DELETE
    FROM t USING s[, ...] WHERE pred`` — the everyday CDC tombstone
    apply — previously refused as an unsupported DELETE shape. A
    target row is deleted when the predicate holds for AT LEAST ONE
    source combination, which is exactly NOT EXISTS on the kept side:
    Catalyst plans a LEFT ANTI join (plan-pinned in the unit test),
    so duplicate source rows never multiply the target and no dedup
    pass is needed — one shuffle on the correlated keys at any scale.
    The entry deletes every order that has a returned lineitem and
    audits the surviving relation; the oracle is the same NOT EXISTS
    in ANSI form (functions/sqldialect.py:delete_statement).""",
    tags=("sql-surface", "dml", "dialect"),
)
def sql64_delete_using(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.snowflake_sql import snowflake_sql

    tables = {
        "work": load(spark, sf_dir, "orders"),
        "lineitem": load(spark, sf_dir, "lineitem"),
    }
    kept = snowflake_sql(spark, _SQL64_DELETE_TEXT, tables=tables)
    return kept.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long").alias("cents_sum"),
    )


_F43_SNOWFLAKE_TEXT = """
SELECT o_orderkey,
       o_orderpriority,
       FIRST_VALUE(o_orderkey) OVER (PARTITION BY o_orderpriority
           ORDER BY o_orderdate, o_orderkey) AS first_key,
       LAST_VALUE(o_orderkey) OVER (PARTITION BY o_orderpriority
           ORDER BY o_orderdate, o_orderkey) AS last_key,
       NTH_VALUE(o_orderkey, 3) OVER (PARTITION BY o_orderpriority
           ORDER BY o_orderdate, o_orderkey) AS third_key,
       LAST_VALUE(CASE WHEN o_orderkey % 2 = 0 THEN o_orderstatus END)
           IGNORE NULLS OVER (PARTITION BY o_orderpriority
           ORDER BY o_orderdate, o_orderkey) AS last_even_status,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
           OVER (PARTITION BY o_orderpriority ORDER BY o_orderdate)
           AS BIGINT) AS run_cents
FROM (SELECT * FROM orders WHERE o_orderkey % 23 = 0)
"""

_F43_FULL_FRAME = (
    "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING"
)


@register(
    "f43_value_window_frames",
    oracle=f"""
    SELECT o_orderkey,
           o_orderpriority,
           FIRST_VALUE(o_orderkey) OVER (PARTITION BY o_orderpriority
               ORDER BY o_orderdate, o_orderkey {_F43_FULL_FRAME})
               AS first_key,
           LAST_VALUE(o_orderkey) OVER (PARTITION BY o_orderpriority
               ORDER BY o_orderdate, o_orderkey {_F43_FULL_FRAME})
               AS last_key,
           NTH_VALUE(o_orderkey, 3) OVER (PARTITION BY o_orderpriority
               ORDER BY o_orderdate, o_orderkey {_F43_FULL_FRAME})
               AS third_key,
           LAST_VALUE(CASE WHEN o_orderkey % 2 = 0 THEN o_orderstatus END
               IGNORE NULLS) OVER (PARTITION BY o_orderpriority
               ORDER BY o_orderdate, o_orderkey {_F43_FULL_FRAME})
               AS last_even_status,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
               OVER (PARTITION BY o_orderpriority ORDER BY o_orderdate)
               AS BIGINT) AS run_cents
    FROM (SELECT * FROM orders WHERE o_orderkey % 23 = 0)
    """,
    doc="""Probe battery 10 (r14) part 1 — value-window DEFAULT
    FRAMES. Snowflake documents FIRST_VALUE/LAST_VALUE/NTH_VALUE as
    defaulting to the ENTIRE window (ROWS UNBOUNDED PRECEDING ..
    UNBOUNDED FOLLOWING) — an explicit deviation from the ANSI
    default Spark follows (RANGE .. CURRENT ROW), so a frameless
    pasted ``LAST_VALUE(x) OVER (... ORDER BY ...)`` silently
    returned the CURRENT row's value instead of the partition's last,
    and NTH_VALUE(x, n) returned NULL until row n. The new
    ``rewrite_value_window_frames`` pass appends the whole-window
    frame exactly when the OVER clause has a top-level ORDER BY and
    no explicit ROWS/RANGE/GROUPS frame; Snowflake's postfix
    ``IGNORE NULLS`` rides through (Spark accepts postfix; the
    DuckDB oracle spells it in-paren); ``FROM LAST`` refuses with the
    reverse-ORDER-BY rewrite. The run_cents column pins the OTHER
    half of the convention: frameless AGGREGATE windows keep the
    shared ANSI cumulative RANGE default — o_orderdate ties get equal
    running sums in Spark, DuckDB, AND Snowflake, so no rewrite there
    (functions/sqldialect.py:rewrite_value_window_frames). One
    shuffle per distinct partition key; frames are per-partition
    whole-window scans Spark's WindowExec buffers once.""",
    tags=("functions", "dialect", "window", "probe-battery"),
)
def f43_value_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import lower_select
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(lower_select(_F43_SNOWFLAKE_TEXT))


_F45_SNOWFLAKE_TEXT = """
SELECT GROUPING(o_orderpriority, o_orderstatus) AS gid,
       GROUPING(o_orderpriority) AS gp,
       o_orderpriority,
       o_orderstatus,
       COUNT(1) AS n,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus),
                        (o_orderpriority, o_orderstatus), ())
"""


@register(
    "f45_grouping_alias",
    oracle="""
    SELECT CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT)
               AS gid,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS gp,
           o_orderpriority,
           o_orderstatus,
           COUNT(1) AS n,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
               AS BIGINT) AS cents
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus),
                            (o_orderpriority, o_orderstatus), ())
    """,
    doc="""Probe battery 10 (r14) part 2 — Snowflake's multi-arg
    GROUPING. Snowflake documents ``GROUPING(e1, e2, ...)`` as an
    alias of GROUPING_ID (leftmost argument = most significant bit);
    Spark's ``grouping()`` is strictly single-argument, so the pasted
    multi-arg spelling died in the analyzer. The scalar map now
    lowers multi-arg GROUPING to ``grouping_id(...)`` and keeps the
    single-arg form native — bit order verified identical across
    Spark, DuckDB, and Snowflake's documentation. Four grouping sets
    over orders; one shuffle (Spark expands sets map-side). gid/gp
    cast to BIGINT on the ORACLE side only: Spark's grouping_id
    returns BIGINT while DuckDB's returns INT — the cast aligns the
    compared schema without touching the engine's native output
    (functions/sqldialect.py GROUPING map entry).""",
    tags=("functions", "dialect", "aggregation", "probe-battery"),
)
def f45_grouping_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import lower_select
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(lower_select(_F45_SNOWFLAKE_TEXT))


_F44_SNOWFLAKE_TEXT = """
SELECT o_orderkey,
       CAST(TO_TIME(hms) AS TEXT) AS t_auto,
       CAST(HOUR(TO_TIME(hms)) AS BIGINT) AS t_h,
       CAST(MINUTE(TO_TIME(hms)) AS BIGINT) AS t_mi,
       CAST(SECOND(TO_TIME(hms)) AS BIGINT) AS t_ss,
       CAST(TO_TIME(dotted, 'HH24.MI.SS') AS TEXT) AS t_fmt,
       CAST(TRY_TO_TIME(CAST(o_orderkey AS TEXT)) AS TEXT) AS t_bad,
       CAST(TIME_FROM_PARTS(hh, mi + 120, -30) AS TEXT) AS t_parts,
       CAST(hms::TIME(9) AS TEXT) AS t_cast
FROM (SELECT o_orderkey,
             o_orderkey % 24 AS hh,
             (o_orderkey * 7) % 60 AS mi,
             (o_orderkey * 13) % 60 AS ss,
             CONCAT(LPAD(CAST(o_orderkey % 24 AS TEXT), 2, '0'), ':',
                    LPAD(CAST((o_orderkey * 7) % 60 AS TEXT), 2, '0'), ':',
                    LPAD(CAST((o_orderkey * 13) % 60 AS TEXT), 2, '0'))
                 AS hms,
             CONCAT(LPAD(CAST(o_orderkey % 24 AS TEXT), 2, '0'), '.',
                    LPAD(CAST((o_orderkey * 7) % 60 AS TEXT), 2, '0'), '.',
                    LPAD(CAST((o_orderkey * 13) % 60 AS TEXT), 2, '0'))
                 AS dotted
      FROM orders WHERE o_orderkey % 97 = 0)
"""


@register(
    "f44_time_convention",
    oracle="""
    SELECT o_orderkey,
           CAST(CAST(hms AS TIME) AS VARCHAR) AS t_auto,
           CAST(date_part('hour', CAST(hms AS TIME)) AS BIGINT) AS t_h,
           CAST(date_part('minute', CAST(hms AS TIME)) AS BIGINT)
               AS t_mi,
           CAST(date_part('second', CAST(hms AS TIME)) AS BIGINT)
               AS t_ss,
           CAST(CAST(strptime(dotted, '%H.%M.%S') AS TIME) AS VARCHAR)
               AS t_fmt,
           CAST(TRY_CAST(CAST(o_orderkey AS VARCHAR) AS TIME)
               AS VARCHAR) AS t_bad,
           CAST(make_time(
               CAST(tot // 3600 AS BIGINT),
               CAST((tot % 3600) // 60 AS BIGINT),
               CAST(tot % 60 AS DOUBLE)) AS VARCHAR) AS t_parts,
           CAST(CAST(hms AS TIME) AS VARCHAR) AS t_cast
    FROM (SELECT *,
                 ((hh * 3600 + (mi + 120) * 60 - 30) % 86400 + 86400)
                     % 86400 AS tot
          FROM (SELECT o_orderkey,
                       o_orderkey % 24 AS hh,
                       (o_orderkey * 7) % 60 AS mi,
                       CONCAT(LPAD(CAST(o_orderkey % 24 AS VARCHAR),
                                   2, '0'), ':',
                              LPAD(CAST((o_orderkey * 7) % 60
                                   AS VARCHAR), 2, '0'), ':',
                              LPAD(CAST((o_orderkey * 13) % 60
                                   AS VARCHAR), 2, '0')) AS hms,
                       CONCAT(LPAD(CAST(o_orderkey % 24 AS VARCHAR),
                                   2, '0'), '.',
                              LPAD(CAST((o_orderkey * 7) % 60
                                   AS VARCHAR), 2, '0'), '.',
                              LPAD(CAST((o_orderkey * 13) % 60
                                   AS VARCHAR), 2, '0')) AS dotted
                FROM orders WHERE o_orderkey % 97 = 0))
    """,
    doc="""TIME-of-day family (r14 — VERDICT r13 #5). Spark 4.1 ships
    a NATIVE TIME type behind ``spark.sql.timeType.enabled``; the
    engine turns it on (session.py; register_views/snowflake_sql set
    it on caller-provided sessions, so the driver's bare session
    works), replacing the r13 loud refusals with real lowerings:
    TO_TIME's 1-arg AUTO extracts the time-of-day run from the
    rendered value (timestamps included), refusing AM/PM inputs
    loudly instead of silently dropping the meridiem; the 2-arg form
    translates the Snowflake format element-wise like TO_TIMESTAMP;
    TRY_TO_TIME returns NULL only for genuinely unparseable values;
    TIME_FROM_PARTS implements Snowflake's documented rollover
    (minute 120 -> +2h, negative seconds roll backward) by pmod
    normalization to microseconds-past-midnight; ``::TIME(9)`` maps
    to TIME(6) — the same micros floor as the timestamp family. All
    comparisons travel as strings/BIGINTs (the TIME type itself has
    no stable pandas dtype contract); the DuckDB twin uses its native
    TIME. Pure codegen expressions over one scan — no shuffle
    (functions/sqldialect.py:_to_time_rewrite).""",
    tags=("functions", "dialect", "time", "probe-battery"),
)
def f44_time_convention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import lower_select
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(lower_select(_F44_SNOWFLAKE_TEXT))


_F46_SNOWFLAKE_TEXT = """
SELECT o_orderkey,
       CONCAT_WS('-', o_orderstatus, o_orderpriority) AS tag,
       CONCAT_WS('|', o_orderstatus,
                 CASE WHEN o_orderkey % 3 = 0
                      THEN o_orderpriority END) AS tag_nulls,
       CAST(FACTORIAL(o_orderkey % 13) AS BIGINT) AS fact,
       TO_JSON(OBJECT_CONSTRUCT('k', o_orderkey)) AS js,
       JSON_EXTRACT_PATH_TEXT(
           CONCAT('{"a": {"b": "', o_orderstatus, '"}}'), 'a.b') AS jt
FROM orders WHERE o_orderkey % 41 = 0
"""


@register(
    "f46_scalar_battery11",
    oracle="""
    SELECT o_orderkey,
           o_orderstatus || '-' || o_orderpriority AS tag,
           o_orderstatus || '|' ||
               (CASE WHEN o_orderkey % 3 = 0
                     THEN o_orderpriority END) AS tag_nulls,
           CAST(factorial(CAST(o_orderkey % 13 AS INT)) AS BIGINT)
               AS fact,
           '{"k":' || o_orderkey || '}' AS js,
           json_extract_string('{"a": {"b": "' || o_orderstatus
               || '"}}', '$.a.b') AS jt
    FROM orders WHERE o_orderkey % 41 = 0
    """,
    doc="""Probe battery 11 (r14): CONCAT_WS is NULL-POISONING in
    Snowflake ("if any input value is NULL, returns NULL") while
    Spark's concat_ws silently SKIPS null parts — a wrong answer on
    every row with a NULL part until this lowering (separator
    interleaved into null-poisoning concat(); the DuckDB twin uses
    ||, DuckDB's null-poisoning spelling). FACTORIAL refuses loudly
    outside 0..20 (Spark's native silently NULLs there; Snowflake
    computes to 33 in NUMBER(38,0)); TO_JSON is the identity
    rendering under the engine's JSON-text VARIANT convention (native
    to_json would reject the string-typed column loudly);
    JSON_EXTRACT_PATH_TEXT == GET_PATH's unquoted-text contract
    (get_json_object). tag_nulls exercises the poisoning on real
    rows: every o_orderkey % 3 != 0 row is NULL — Spark's native
    concat_ws would emit the status alone. Pure codegen over one
    scan, no shuffle (functions/sqldialect.py:_concat_ws_rewrite).""",
    tags=("functions", "dialect", "probe-battery"),
)
def f46_scalar_battery11(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import lower_select
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(lower_select(_F46_SNOWFLAKE_TEXT))


_F47_SNOWFLAKE_TEXT = """
SELECT v,
       v = 'resume' COLLATE 'fr-ci-ai' AS eq_ci_ai,
       v = 'resume' COLLATE 'en-ai' AS eq_ai,
       v = 'RESUME' COLLATE 'en-ci' AS eq_ci,
       'str' || v = 'STRASSE' COLLATE 'en-ci' AS ss_ci,
       'ä' < 'b' COLLATE 'de' AS de_lt,
       (SELECT COUNT(DISTINCT u COLLATE 'en-ci-ai')
        FROM (VALUES ('résumé'), ('Resume'), ('RÉSUMÉ'), ('resumé'),
                     ('other')) s(u)) AS n_ci_ai_groups
FROM (VALUES ('résumé'), ('Resume'), ('RÉSUMÉ'), ('resumé'),
             ('aße')) t(v)
"""


@register(
    "f47_collation_icu",
    oracle="""
    SELECT v,
           v COLLATE NOACCENT.NOCASE = 'resume' AS eq_ci_ai,
           v COLLATE NOACCENT = 'resume' AS eq_ai,
           v COLLATE NOCASE = 'RESUME' AS eq_ci,
           ('str' || v) COLLATE NOCASE = 'STRASSE' AS ss_ci,
           'ä' COLLATE de < 'b' AS de_lt,
           (SELECT COUNT(DISTINCT strip_accents(lower(u)))
            FROM (VALUES ('résumé'), ('Resume'), ('RÉSUMÉ'), ('resumé'),
                         ('other')) s(u)) AS n_ci_ai_groups
    FROM (VALUES ('résumé'), ('Resume'), ('RÉSUMÉ'), ('resumé'),
                 ('aße')) t(v)
    """,
    doc="""ICU COLLATION dialect (r14 — closes the r8-r13 locale/
    accent refusals): Snowflake's locale-tagged COLLATE specs now
    lower onto Spark 4's native ICU collations — 'en-ci' -> en_CI,
    'fr-ci-ai' -> fr_CI_AI, 'en-ai' -> en_AI, bare 'de' -> de (real
    linguistic ordering: 'ä' < 'b', binary says the opposite),
    'en-us-ci' -> en_USA_CI (alpha-2 -> ICU alpha-3 country map).
    Locale-free 'ci' keeps UTF8_LCASE (pure case-fold, no locale
    claimed); punctuation-insensitive / case-conversion / trim specs
    and unmapped country tags still refuse loudly. The probed ICU
    edges agree between Spark and DuckDB's icu collations (ß stays
    distinct from ss at CI strength, accent folds, de ordering), so
    the oracle replays every comparison: equality under ci / ai /
    ci+ai, a collated concat, ordering under 'de', and COUNT
    (DISTINCT collated) grouping (DuckDB applies collations to
    comparisons but NOT to DISTINCT/GROUP BY hashing, so the grouping
    twin normalizes via strip_accents(lower()) instead — semantics
    identical for ci+ai). All JVM-side collation comparisons
    — no Python, no lower()-rewrites of the engine's making
    (functions/sqldialect.py:rewrite_collate).""",
    tags=("functions", "dialect", "collation"),
)
def f47_collation_icu(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import lower_select
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(lower_select(_F47_SNOWFLAKE_TEXT))


_F48_SNOWFLAKE_TEXT = """
SELECT doc_id,
       DECOMPRESS_STRING(COMPRESS(text, 'zlib'), 'zlib') AS rt_zlib,
       DECOMPRESS_STRING(COMPRESS(text, 'bz2'), 'bz2') AS rt_bz2,
       HEX(SUBSTR(COMPRESS(text, 'zlib'), 1, 1)) AS zlib_magic,
       CAST(SUBSTR(COMPRESS(text, 'bz2'), 1, 3) AS TEXT) AS bz2_magic
FROM documents WHERE doc_id % 37 = 0
"""


@register(
    "f48_codec_roundtrip",
    oracle="""
    SELECT doc_id,
           text AS rt_zlib,
           text AS rt_bz2,
           '78' AS zlib_magic,
           'BZh' AS bz2_magic
    FROM documents WHERE doc_id % 37 = 0
    """,
    doc="""COMPRESS / DECOMPRESS_STRING on REAL stream formats (r14 —
    replaces the r8 refusals): Snowflake's codec functions emit
    standard zlib/bz2 streams, and Python ships both in the standard
    library, so the family lowers onto Arrow-batched pandas UDFs
    registered per session (functions/codecs.py; register_views /
    snowflake_sql install them, so the driver's bare session works).
    The oracle pins the round-trip identity AND the actual stream
    format (zlib's 0x78 header byte, bz2's 'BZh' magic — not a
    homegrown encoding), which DuckDB verifies without any codec of
    its own. zstd/snappy refuse at rewrite time when the method is a
    literal (libraries absent — the multimodal environment-gate
    posture). Scale: per-row pure functions pipeline inside the scan
    stage, no shuffle; the Python lane is the honest price of a codec
    Spark SQL does not expose
    (functions/sqldialect.py:_codec_call_rewrite).""",
    tags=("functions", "dialect", "codec", "udf"),
)
def f48_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import lower_select
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(lower_select(_F48_SNOWFLAKE_TEXT))


_X29_PREAGG_SQL = """
WITH pre AS (
    SELECT o_orderpriority, o_orderstatus,
           COUNT(1) AS cnt,
           SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
    FROM orders
    GROUP BY o_orderpriority, o_orderstatus
)
SELECT CAST(GROUPING_ID(o_orderpriority, o_orderstatus) AS BIGINT)
           AS gid,
       o_orderpriority,
       o_orderstatus,
       CAST(SUM(cnt) AS BIGINT) AS n,
       CAST(SUM(cents) AS BIGINT) AS cents
FROM pre
GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus),
                        (o_orderpriority, o_orderstatus), ())
"""


@register(
    "x29_grouping_sets_preagg",
    oracle="""
    SELECT CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT)
               AS gid,
           o_orderpriority,
           o_orderstatus,
           CAST(COUNT(1) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
               AS BIGINT) AS cents
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus),
                            (o_orderpriority, o_orderstatus), ())
    """,
    doc="""GROUPING SETS at scale — the pre-aggregate + rollup-of-
    partials rewrite (r14). Spark plans GROUPING SETS as Expand
    (one copy of EVERY input row per set) followed by the aggregate:
    4 sets x 15M rows = 60M expanded rows at sf10-equivalent, 21 s
    (f45's ledger). When every set's keys are a subset of one finest
    grain, the algebra factors: aggregate to the finest grain FIRST
    (one ordinary shuffle; ~45 rows here), then run GROUPING SETS
    over the TINY intermediate with SUM-of-partials (COUNT becomes
    SUM(cnt)). Identical result — the oracle is the DIRECT grouping
    sets over the base table — at a fraction of the cost, and the
    gap scales with input size at fixed key cardinality (Expand cost
    is O(sets x rows); the rewrite's is O(rows) + O(sets x groups)).
    GROUPING_ID over the re-grouped keys is unchanged because the
    set keys are exactly the pre-aggregate keys. This is the
    documented 100 TB pattern for wide set lists; Catalyst does NOT
    perform this factoring itself (plan-pinned: Expand sits above
    the FIRST aggregate, input to Expand is the 45-row relation).""",
    tags=("aggregation", "scale", "grouping-sets"),
)
def x29_grouping_sets_preagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_X29_PREAGG_SQL)


_F49_SNOWFLAKE_TEXT = """
SELECT o_orderkey,
       nk,
       ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                          ORDER BY nk, o_orderkey) AS rn_asc,
       RANK() OVER (PARTITION BY o_orderstatus
                    ORDER BY nk DESC, o_orderkey) AS rk_desc
FROM (SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 7 = 0 THEN NULL
                  ELSE o_orderpriority END AS nk
      FROM orders WHERE o_orderkey % 11 = 0)
"""


@register(
    "f49_null_ordering",
    oracle="""
    SELECT o_orderkey,
           nk,
           ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                              ORDER BY nk NULLS LAST,
                                       o_orderkey NULLS LAST) AS rn_asc,
           RANK() OVER (PARTITION BY o_orderstatus
                        ORDER BY nk DESC NULLS FIRST,
                                 o_orderkey NULLS LAST) AS rk_desc
    FROM (SELECT o_orderkey, o_orderstatus,
                 CASE WHEN o_orderkey % 7 = 0 THEN NULL
                      ELSE o_orderpriority END AS nk
          FROM orders WHERE o_orderkey % 11 = 0)
    """,
    doc="""Probe battery 12 (r14) — DEFAULT NULL ORDERING. Snowflake
    and Spark document exactly OPPOSITE defaults (Snowflake: NULLS
    LAST on ASC, FIRST on DESC; Spark: FIRST on ASC, LAST on DESC),
    so every pasted ORDER BY over a nullable key — a window's sort
    feeding ROW_NUMBER/RANK/FIRST_VALUE, or a top-k — silently put
    the NULL rows at the other end. ``rewrite_null_ordering`` (the
    LAST lower_select pass, so QUALIFY-generated and pass-moved sorts
    are covered too) appends the explicit Snowflake placement to
    every sort item without a NULLS clause, in final ORDER BYs and
    window ORDER BYs alike; explicit annotations are untouched;
    frames/LIMIT/set-ops terminate the list; string literals are
    inviolate. The oracle spells the placement explicitly in BOTH
    directions because DuckDB's own default (NULLS LAST both ways)
    differs from Snowflake's on DESC. The entry ranks a 1-in-7-NULL
    key per status in both directions over a keyed subsample — every
    (partition, direction) pair has NULL and non-NULL members
    (functions/sqldialect.py:rewrite_null_ordering). Window exec
    JVM-side, one shuffle per partition key.""",
    tags=("functions", "dialect", "window", "probe-battery"),
)
def f49_null_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import lower_select
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(lower_select(_F49_SNOWFLAKE_TEXT))


_F50_SNOWFLAKE_TEXT = """
WITH ok AS (
    SELECT o_orderkey AS k, o_orderstatus AS s, o_orderdate AS d
    FROM orders WHERE o_orderkey % 97 = 0
),
mixed AS (
    SELECT LPAD(CAST(k AS VARCHAR), 12, '0') AS kk FROM ok
    UNION
    SELECT k FROM ok
),
mixed_dt AS (
    SELECT d AS t FROM ok
    UNION
    SELECT CAST(d AS TIMESTAMP) FROM ok
),
setops AS (
    SELECT k FROM ok
    MINUS
    SELECT k FROM ok WHERE k % 2 = 0
    INTERSECT
    SELECT k FROM ok WHERE k % 3 = 0
),
by_status AS (
    SELECT s AS status, COUNT(1) AS n_rows,
           MAX('id-' || k) AS tag_max,
           MAX(CAST('id-' || k AS VARCHAR(4))) AS tag_trunc4
    FROM ok
    GROUP BY ALL
)
SELECT status, n_rows, tag_max, tag_trunc4,
       (SELECT COUNT(1) FROM mixed) AS n_union_coerced,
       (SELECT COUNT(1) FROM mixed_dt) AS n_union_datets,
       (SELECT COUNT(1) FROM setops) AS n_minus_precedence,
       (SELECT COUNT(1) FROM ok WHERE k NOT IN (194, NULL))
           AS n_notin_null,
       (SELECT COUNT(1) FROM ok WHERE CAST(k AS VARCHAR) >= 194)
           AS n_varchar_cmp,
       (SELECT COUNT(1) FROM ok WHERE CAST(k AS VARCHAR) IN (97, 291))
           AS n_varchar_in
FROM by_status
ORDER BY 2 DESC, 1
LIMIT NULL
"""


@register(
    "f50_setops_coercion",
    oracle="""
    WITH ok AS (
        SELECT o_orderkey AS k, o_orderstatus AS s, o_orderdate AS d
        FROM orders WHERE o_orderkey % 97 = 0
    ),
    mixed AS (
        SELECT CAST(lpad(CAST(k AS VARCHAR), 12, '0') AS BIGINT) AS kk
        FROM ok
        UNION
        SELECT k FROM ok
    ),
    mixed_dt AS (
        SELECT CAST(d AS TIMESTAMP) AS t FROM ok
        UNION
        SELECT CAST(d AS TIMESTAMP) FROM ok
    ),
    setops AS (
        SELECT k FROM ok
        EXCEPT
        (SELECT k FROM ok WHERE k % 2 = 0
         INTERSECT
         SELECT k FROM ok WHERE k % 3 = 0)
    ),
    by_status AS (
        SELECT s AS status, CAST(COUNT(1) AS BIGINT) AS n_rows,
               MAX('id-' || CAST(k AS VARCHAR)) AS tag_max,
               MAX(LEFT('id-' || CAST(k AS VARCHAR), 4)) AS tag_trunc4
        FROM ok GROUP BY ALL
    )
    SELECT status, n_rows, tag_max, tag_trunc4,
           CAST((SELECT COUNT(1) FROM mixed) AS BIGINT)
               AS n_union_coerced,
           CAST((SELECT COUNT(1) FROM mixed_dt) AS BIGINT)
               AS n_union_datets,
           CAST((SELECT COUNT(1) FROM setops) AS BIGINT)
               AS n_minus_precedence,
           CAST((SELECT COUNT(1) FROM ok WHERE k NOT IN (194, NULL))
               AS BIGINT) AS n_notin_null,
           CAST((SELECT COUNT(1) FROM ok WHERE k >= 194) AS BIGINT)
               AS n_varchar_cmp,
           CAST((SELECT COUNT(1) FROM ok WHERE k IN (97, 291))
               AS BIGINT) AS n_varchar_in
    FROM by_status
    ORDER BY 2 DESC, 1
    """,
    doc="""Probe battery 13 (r15) — SET OPERATORS and IMPLICIT
    COERCION, the largest family verdict-r14 flagged as unswept.
    Empirically probed divergences and parities, each pinned here
    with a value that discriminates the two readings:

    - VARCHAR UNION NUMBER: Snowflake coerces the VARCHAR side to
      NUMBER (runtime error on non-numeric text) — and so does Spark
      under ANSI, for string COLUMNS as well as literals.
      ``n_union_coerced`` pins it with a zero-PADDED varchar key
      ('000000000097' dedups with 97 only under numeric semantics;
      string semantics would double the count). DuckDB preserves the
      VARCHAR instead, so the oracle spells the numeric cast.
    - DATE UNION TIMESTAMP coerces DATE to midnight TIMESTAMP in
      both (``n_union_datets``).
    - MINUS is the EXCEPT alias in both; INTERSECT binds TIGHTER
      than MINUS/UNION in both (standard precedence).
      ``n_minus_precedence`` = A MINUS (even INTERSECT div3), which
      differs from the left-to-right reading on real keys.
    - GROUP BY ALL (all non-aggregate items) agrees across Snowflake
      / Spark / DuckDB; ORDER BY ordinals likewise (``ORDER BY 2
      DESC, 1``), and the output column names of a set op come from
      the FIRST operand in both engines — load-bearing because the
      driver compares schemas by name.
    - NOT IN with a NULL in the list is standard three-valued logic
      in both (``n_notin_null`` = 0 rows pass, never "all but one").
    - VARCHAR-vs-NUMBER comparison and IN-list membership coerce to
      NUMERIC comparison in both ('97' >= 194 is FALSE numerically
      but TRUE lexicographically — the pinned count separates them).
    - LIMIT NULL means "no limit" in Snowflake; Spark refuses the
      paste, so ``rewrite_limit_null`` strips it (the final LIMIT
      NULL here exercises the pass inside a driver entry).
    - CAST(x AS VARCHAR) — Snowflake's everyday stringify — dies in
      Spark's parser (DATATYPE_MISSING_SIZE: length required), and a
      sized VARCHAR(n)/CHAR(n) cast parses but IGNORES the length
      where Snowflake documents silent truncation to n chars.
      ``rewrite_cast_types`` now lowers bare VARCHAR -> STRING and
      wraps sized casts in LEFT(..., n); ``tag_trunc4`` pins the
      truncation ('id-…' cut to 4 chars), the other VARCHAR casts
      pin the bare form. ::VARCHAR(n) with a truncating length has
      no textual operand span to wrap and refuses with the exact
      CAST rewrite.

    Documented NON-parities found by the same probes (loud, never
    silent): string +/- decimal-text arithmetic ('3.5' + 2) dies with
    Spark's CAST_INVALID_INPUT (ANSI picks BIGINT where Snowflake's
    implicit VARCHAR->NUMBER handles decimals — workaround CAST the
    string explicitly); GREATEST/LEAST over mixed string/number
    refuses at analysis (Snowflake coerces); BOOLEAN UNION NUMBER
    refuses in both. Silent TYPING divergence documented in
    COVERAGE.md: Snowflake's division returns NUMBER with scale
    S1+6 (1/3 = 0.333333) where Spark yields DOUBLE for integer
    operands and its own decimal-division scale otherwise — values
    agree to 6+ fractional digits; queries needing bit-exact division
    follow the repo's decimal-exact conventions. All probes are one
    scan of a keyed orders subsample + scalar subqueries — JVM-side,
    no UDFs (functions/sqldialect.py:rewrite_limit_null).""",
    tags=("functions", "dialect", "setops", "probe-battery"),
)
def f50_setops_coercion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import lower_select
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(lower_select(_F50_SNOWFLAKE_TEXT))


_F51_SNOWFLAKE_TEXT = """
SELECT o_orderkey,
       ARRAY_TO_STRING(
           ARRAYS_ZIP(ARRAY_CONSTRUCT(o_orderkey, o_custkey),
                      ARRAY_CONSTRUCT(o_orderstatus)),
           '|') AS zipped
FROM orders WHERE o_orderkey % 101 = 0
"""


@register(
    "f51_arrays_zip",
    oracle="""
    SELECT o_orderkey,
           '{"$1":' || o_orderkey || ',"$2":"' || o_orderstatus
               || '"}' || '|' ||
           '{"$1":' || o_custkey || ',"$2":null}' AS zipped
    FROM orders WHERE o_orderkey % 101 = 0
    """,
    doc="""ARRAYS_ZIP (r15 — closes the r14 edge-tier refusal).
    Snowflake returns an ARRAY of '$1'..'$n'-keyed OBJECTS padded
    with nulls to the LONGEST input; Spark's arrays_zip returns
    structs named after the source expressions — a silently different
    shape — so the lowering zips explicitly: index over the longest
    input with get() (NULL past the end = the documented padding) and
    render each object through the JSON-text VARIANT convention with
    nulls KEPT. The entry zips a 2-element key array against a
    1-element status array so every row exercises the null pad, and
    the oracle builds the exact JSON text by hand in DuckDB. Joined
    to one string per row (the driver convention for array outputs).
    Pure codegen + a per-row transform over 2-element arrays — no
    shuffle, no Python
    (functions/sqldialect.py:_arrays_zip_rewrite).""",
    tags=("functions", "dialect", "array"),
)
def f51_arrays_zip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import lower_select
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(lower_select(_F51_SNOWFLAKE_TEXT))


_F52_SNOWFLAKE_TEXT = r"""
SELECT p_partkey,
       ('C:' || '\\docs\\' || p_brand) LIKE 'C:\\docs\\Brand#%'
           AS m_path,
       ('x' || '\\' || p_brand) LIKE 'x\\%' AS m_bs_wild,
       ('a' || p_brand) LIKE 'x\\%' AS m_no_bs,
       p_type LIKE '%BRASS' AS m_plain,
       p_brand LIKE 'Brand#_1' AS m_underscore
FROM part WHERE p_partkey % 53 = 0
"""


@register(
    "f52_like_no_escape",
    oracle=r"""
    SELECT p_partkey,
           ('C:\docs\' || p_brand) LIKE 'C:\docs\Brand#%'
               AS m_path,
           ('x\' || p_brand) LIKE 'x\%' AS m_bs_wild,
           ('a' || p_brand) LIKE 'x\%' AS m_no_bs,
           p_type LIKE '%BRASS' AS m_plain,
           p_brand LIKE 'Brand#_1' AS m_underscore
    FROM part WHERE p_partkey % 53 = 0
    """,
    doc="""Probe battery 13b (r15) — LIKE's DEFAULT ESCAPE. Snowflake
    documents NO default escape character for LIKE/ILIKE: a
    value-level backslash in the pattern is a literal backslash.
    Spark's LIKE uses backslash as the DEFAULT escape, so the pasted
    path pattern 'C:\\\\docs\\\\Brand#%' previously DIED at analysis
    (INVALID_FORMAT: escape before 'd') and 'x\\\\%' silently matched
    a literal '%' instead of backslash-then-anything.
    ``rewrite_like_default_escape`` doubles exactly the value-level
    backslashes in literal patterns (raw ``\\\\`` pairs; single-\\
    escape sequences ride through) and wraps expression patterns in
    a value-level replace(); predicates with an explicit ESCAPE
    clause are untouched — probed: both engines then treat ONLY the
    named character as the escape, which is Snowflake's contract.
    ``m_path`` pins the crash case, ``m_bs_wild`` the silent-flip
    case (TRUE here, FALSE under Spark's reading), ``m_no_bs`` a
    non-matching control, ``m_plain``/``m_underscore`` that
    backslash-free patterns are byte-untouched (wildcard pushdown
    preserved). The DuckDB twin crosses a DIFFERENT layer stack —
    raw string literals and (probed) NO default LIKE escape, same as
    Snowflake's matcher — so its patterns are the value-level
    spellings with single backslashes. One scan, pure codegen, no shuffle
    (functions/sqldialect.py:rewrite_like_default_escape).""",
    tags=("functions", "dialect", "probe-battery"),
)
def f52_like_no_escape(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import lower_select
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(lower_select(_F52_SNOWFLAKE_TEXT))


_F53_SNOWFLAKE_TEXT = r"""
SELECT p_partkey,
       HEX(p_brand || '\f') AS h_ff,
       'pre\x41post' AS hex_char,
       HEX('\\f') AS h_bs_f,
       HEX('a' || '\n' || 'b') AS h_nl,
       HEX($$q\f's$$) AS h_dollar
FROM part WHERE p_partkey % 211 = 0
"""


@register(
    "f53_literal_escapes",
    oracle=r"""
    SELECT p_partkey,
           hex(p_brand || chr(12)) AS h_ff,
           'preApost' AS hex_char,
           '5C66' AS h_bs_f,
           hex('a' || chr(10) || 'b') AS h_nl,
           hex('q' || chr(92) || 'f' || chr(39) || 's') AS h_dollar
    FROM part WHERE p_partkey % 211 = 0
    """,
    doc=r"""Probe battery 13c (r15) — string-literal ESCAPE
    SEQUENCES. Snowflake documents ``\f`` (form feed 0x0C) and
    ``\xhh`` (two-hex-digit character) among its single-quote
    escapes; Spark's literal parser supports neither and silently
    DROPS the backslash — the pasted value gained a stray 'f' /
    'x41'. ``rewrite_literal_escapes`` (the FIRST lowering pass, so
    every later literal-aware pass sees converged text) respells the
    two divergent forms as the ``\\uXXXX`` escape both engines agree
    on, inside single-quoted literals only; ``\\\\f`` (value
    backslash + f, pinned by ``h_bs_f``) and the shared escapes
    (``h_nl``) ride through untouched. The oracle spells the values
    via chr() because DuckDB's literal layer is RAW (a third
    convention — backslash always literal). HEX output so the
    driver hash never carries raw control characters. Also pins
    ``$$...$$`` dollar-quoted strings in the plain-query path
    (``h_dollar``): the body is RAW in Snowflake — no escape
    processing at all — so ``rewrite_dollar_strings`` (running even
    earlier) lowers it to a self-escaped '...' literal; the pinned
    value keeps its backslash AND embedded quote byte-exact. Pure
    codegen, one scan
    (functions/sqldialect.py:rewrite_literal_escapes).""",
    tags=("functions", "dialect", "probe-battery"),
)
def f53_literal_escapes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sqldialect import lower_select
    from .tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(lower_select(_F53_SNOWFLAKE_TEXT))


_F54_SNOWFLAKE_TEXT = """
SELECT o_orderkey,
       o_totalprice * 0.9 AS discounted,
       discounted + 5 AS adjusted,
       o_orderstatus AS o_orderkey_status
FROM orders
WHERE discounted > 150000 AND adjusted < 400000
      AND o_orderkey % 7 = 0
"""


@register(
    "f54_where_alias",
    oracle="""
    SELECT o_orderkey,
           CAST(o_totalprice * 0.9 AS DOUBLE) AS discounted,
           CAST(o_totalprice * 0.9 + 5 AS DOUBLE) AS adjusted,
           o_orderstatus AS o_orderkey_status
    FROM orders
    WHERE o_totalprice * 0.9 > 150000
          AND o_totalprice * 0.9 + 5 < 400000
          AND o_orderkey % 7 = 0
    """,
    doc="""Probe battery 13d (r15) — WHERE-clause column aliases.
    Snowflake documents a proprietary extension: SELECT-list aliases
    are visible in the same statement's WHERE clause, with the REAL
    column winning on a name conflict. Spark resolves WHERE against
    the child only, so the paste died with UNRESOLVED_COLUMN. The
    repair is ERROR-DRIVEN (functions/snowflake_sql.py): it runs
    only after Spark's analyzer proves the name is NOT a column —
    exactly the case where Snowflake falls through to the alias — so
    substituting the alias expression is faithful by construction;
    column-wins conflicts never reach it (Spark already resolves
    them with Snowflake's precedence), and genuine typos stay loud.
    The entry chains a LATERAL alias through WHERE (adjusted is
    defined over discounted) so the bounded repair loop is
    exercised; the DuckDB twin spells the expressions out (DuckDB
    also supports WHERE aliases, but explicit text keeps the oracle
    engine-neutral). DOUBLE casts per the decimal-output convention.
    After repair the plan is an ordinary pushed-down scan filter —
    no recompute, Catalyst CSEs the twice-spelled expression.""",
    tags=("functions", "dialect", "probe-battery"),
)
def f54_where_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.snowflake_sql import snowflake_sql
    from .tables import register_views

    register_views(spark, sf_dir)
    df = snowflake_sql(spark, _F54_SNOWFLAKE_TEXT)
    from pyspark.sql import functions as F

    return df.select(
        "o_orderkey",
        F.col("discounted").cast("double").alias("discounted"),
        F.col("adjusted").cast("double").alias("adjusted"),
        "o_orderkey_status",
    )
