"""MERGE upsert on plain DataFrames / Parquet tables.

Models the reference's Snowflake ``MERGE INTO`` statements:

- SCD-1 stage->raw merge: matched -> update all columns, not-matched ->
  insert (reference etl_script/customer-end-to-end-pipeline-script.sql:77-114;
  composite-key variant order-...sql:111-168; dedup-inlined variant
  item-...sql:71-105).
- Typed dim merge with identity key + timestamps
  (customer-...sql:118-165, item-...sql:111-151).

Spark has no row-level MERGE on plain Parquet, so the engine rewrites it
as a pure-DataFrame state equation::

    deduped  = latest-per-key(source)              # W1 row_number dedup
    kept     = target LEFT ANTI deduped ON keys    # untouched rows
    upserted = kept UNION BY NAME apply(deduped)   # updated + inserted

which Catalyst executes as two joins on the key columns; the source
batch is typically tiny (minutes of CDC against years of history), so
AQE broadcasts it and the target is never shuffled.

Scale notes (100 TB target):

- For a month-partitioned target, the merge reads and rewrites only
  the partitions the source rows map to; untouched partitions are
  never read or rewritten. The raw task does this on every table
  (``ManagedTable.touched`` + ``read_partitions`` +
  ``overwrite_partitions``; a flat table is one partition, read and
  replaced whole); ``incremental_agg_merge`` is the additive
  fact variant (registry query m7). The rebuild-mode pipelines keep the
  reference's full rebuild (order-...sql:179).
- The dedup window shuffles only the source batch, never the target.
- Identity assignment sorts only the *insert* batch, not the table.
  A batch bounded within ``IDENTITY_BUCKET_ROWS`` (a change batch)
  ranks in one window; any other (a 100M-row initial load) ranks in
  ``spark.sql.shuffle.partitions`` parallel hash buckets.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from decimal import Decimal

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# The most insert rows fill_identity ranks in one window, i.e. in one
# task. Ranking (date, long, long) rows on a 4-core VM with 8 shuffle
# partitions, warm: at 2^16 rows one window took 0.4 s and the buckets
# 0.8 s, at 2^18 0.8 s and 1.0 s, at 2^20 2.6-3.0 s and 1.9 s; so past
# about this many rows the buckets' parallel sort outruns the offset
# pass they pay for.
IDENTITY_BUCKET_ROWS = 1 << 18


def dedup_latest(
    source: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
) -> DataFrame:
    """Latest-record-wins dedup of a change batch.

    Reference: ``row_number() over (partition by item_id order by
    start_date desc) ... where rownum = 1`` (item-...sql:72-75, W1/P3);
    the author's note "picks the latest change for the same id"
    (item-...sql:220). Required before any merge: a multi-row-per-key
    batch would make the update branch nondeterministic (Snowflake
    raises a nondeterministic-merge error for this case).
    """
    cols = [F.col(c).desc() if isinstance(c, str) else c for c in order_by]
    w = Window.partitionBy(*keys).orderBy(*cols)
    return (
        source.withColumn("__rownum", F.row_number().over(w))
        .filter(F.col("__rownum") == 1)
        .drop("__rownum")
    )


def merge_dataframes(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    update_cols: Sequence[str] | None = None,
    matched_set: Mapping[str, Column] | None = None,
    insert_defaults: Mapping[str, Column] | None = None,
) -> DataFrame:
    """Pure-DataFrame MERGE (SCD-1): returns the post-merge state.

    An initial load needs no special path: a missing table reads as an
    empty ``LocalRelation`` (``dml.empty_frame``), and Catalyst's
    ``PropagateEmptyRelation`` reduces both joins and the union to one
    projection of the source — every row an insert, nothing shuffled.

    - matched rows  -> source values for ``update_cols`` (default: all
      non-key target columns also present in the source), with
      ``matched_set`` overrides (e.g. ``updated_timestamp =
      current_timestamp()``, customer-...sql:139).
    - not matched   -> source values + ``insert_defaults`` for
      target-only columns (e.g. ``added_timestamp``,
      customer-...sql:141-165).
    - target-only rows -> kept verbatim (LEFT ANTI).

    Columns of ``target`` that are neither keys nor ``update_cols``
    ("carry" columns — identity keys, added_timestamp) must NOT exist in
    ``source``; they are carried from the target on match and take
    ``insert_defaults`` on insert. The source must already be deduped
    (one row per key) and cast to target-compatible types.
    """
    keys = list(keys)
    target_cols = target.columns
    matched_set = dict(matched_set or {})
    insert_defaults = dict(insert_defaults or {})
    if update_cols is None:
        update_cols = [c for c in target_cols if c not in keys and c in source.columns]
    carry_cols = [c for c in target_cols if c not in keys and c not in update_cols]
    clash = [c for c in carry_cols if c in source.columns]
    if clash:
        raise ValueError(f"carry columns also present in source: {clash}")

    kept = target.join(source.select(*keys).distinct(), on=keys, how="left_anti")

    s = source.alias("s")
    t = target.select(*keys, *carry_cols, F.lit(True).alias("__matched")).alias("t")
    cond = [F.col(f"s.{k}").eqNullSafe(F.col(f"t.{k}")) for k in keys]
    joined = s.join(t, on=cond, how="left")
    is_matched = F.col("t.__matched").isNotNull()

    out: list[Column] = []
    for c in target_cols:
        if c in keys:
            out.append(F.col(f"s.{c}").alias(c))
        elif c in update_cols:
            expr = F.col(f"s.{c}")
            if c in matched_set:
                expr = F.when(is_matched, matched_set[c]).otherwise(expr)
            out.append(expr.alias(c))
        else:
            matched_val = matched_set.get(c, F.col(f"t.{c}"))
            default = insert_defaults.get(c, F.lit(None).cast(target.schema[c].dataType))
            out.append(F.when(is_matched, matched_val).otherwise(default).alias(c))
    applied = joined.select(*out)
    return kept.select(*target_cols).unionByName(applied)


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    dedup_order: Sequence[Column | str] | None = None,
    **kwargs,
) -> DataFrame:
    """dedup_latest + merge_dataframes — the engine's M1
    (customer-...sql:77-114) / J3 / J4 (order-...sql:111-116 composite
    key) operator."""
    if dedup_order is not None:
        source = dedup_latest(source, keys, dedup_order)
    return merge_dataframes(target, source, keys, **kwargs)


def fill_identity(
    df: DataFrame,
    key_col: str,
    order_by: Sequence[str],
    existing_max: int | None = None,
    max_rows: int | None = None,
) -> DataFrame:
    """Snowflake ``number autoincrement`` analog (customer-...sql:32).

    Fills NULLs in ``key_col`` with contiguous keys starting past the
    current max: ``max_key + rank`` over a defined total order of the
    *insert rows only* — deterministic and contiguous, unlike
    ``monotonically_increasing_id()``. The rank is computed distributed:
    hash-bucket on the sort key, per-bucket ``row_number`` plus the
    bucket's cumulative offset (the effective total order is
    ``(bucket, *order_by)``). No global single-partition window over an
    unbounded batch, so a 100M-row initial load ranks in parallel; the
    offset table is one row per bucket. Key *values* are
    engine-specific — tests assert uniqueness/contiguity/determinism
    only (FIXTURES.md).

    ``max_rows`` is an upper bound on the insert rows, known to the
    caller without a Spark job (a change batch's recorded row counts,
    the footers of the rows it rebuilds). A bound within
    ``IDENTITY_BUCKET_ROWS`` ranks in one window over ``order_by``
    alone, with no offset pass; a larger or unknown (``None``) bound
    keeps the ``spark.sql.shuffle.partitions`` buckets.

    ``existing_max`` seeds the new keys; ``None`` folds ``max(key_col)``
    of ``df`` into the plan. When ``key_col`` is a literal NULL above
    any cache (a fact rebuild's added key, an initial load's merge into
    an empty ``LocalRelation``), Catalyst folds the ``isNull`` filter to
    true and the ``isNotNull`` branch to empty, so the plan is the rank
    alone — no split and no union.
    """
    news = df.filter(F.col(key_col).isNull())
    spark = news.sparkSession

    # Distributed rank: a global Window.orderBy over an unbounded batch
    # would pull every insert row into ONE partition (fatal for initial
    # loads at scale). Instead bucket by a hash of the sort key — a pure
    # function of row data, so every recomputation agrees, unlike
    # repartitionByRange's sampled bounds — rank within each bucket, and
    # add the bucket's cumulative offset. Total order: (bucket,
    # *order_by); still deterministic and contiguous, and the per-bucket
    # count pass touches only the insert batch.
    #
    # r16: the whole assignment is ONE lazy plan — no driver round trip.
    # The cumulative offsets were previously a collect() + re-broadcast
    # (one extra Spark job per identity fill; three per pipeline cycle);
    # they are now the same per-bucket counts folded through a bounded
    # triangular self-join (offset(b) = sum of counts of lower buckets,
    # O(buckets^2) comparisons over at most `shuffle.partitions` rows —
    # driver-free). The max() seed likewise folds in as a broadcast
    # 1-row aggregate when not supplied.
    #
    # A batch bounded within IDENTITY_BUCKET_ROWS, which one task
    # ranks, skips the offset pass (its count, self-join and broadcasts
    # cost a change batch six Spark jobs) and ranks in one window. An
    # unknown or larger bound keeps the buckets, so the
    # test_fill_identity_no_global_window pin still holds for every
    # batch that could outgrow one task.
    sort_cols = [F.col(c) for c in order_by]
    if max_rows is not None and max_rows <= IDENTITY_BUCKET_ROWS:
        ranked = news
        rank = F.row_number().over(Window.orderBy(*sort_cols))
    else:
        n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
        bucketed = news.withColumn(
            "__bkt", F.pmod(F.xxhash64(*sort_cols), F.lit(n_buckets)).cast("int")
        )
        counts = bucketed.groupBy("__bkt").agg(F.count(F.lit(1)).alias("__cnt"))
        lower = counts.select(
            F.col("__bkt").alias("__lb"), F.col("__cnt").alias("__lc")
        )
        offsets = (
            counts.join(F.broadcast(lower), F.col("__lb") < F.col("__bkt"), "left")
            .groupBy("__bkt")
            .agg(F.coalesce(F.sum("__lc"), F.lit(0)).cast("long").alias("__off"))
        )
        ranked = bucketed.join(F.broadcast(offsets), "__bkt")
        w = Window.partitionBy("__bkt").orderBy(*sort_cols)
        rank = F.col("__off") + F.row_number().over(w)
    if existing_max is None:
        seed = df.agg(
            F.coalesce(F.max(key_col), F.lit(0)).cast("long").alias("__seed")
        )
        ranked = ranked.crossJoin(F.broadcast(seed))
        base = F.col("__seed")
    else:
        # a decimal literal is bound through the generated class's
        # references[], while a long one is inlined into its source: a
        # long seed made every new seed value a new Janino compile. One
        # type for every seed (any long fits decimal(20,0)) keeps the
        # source seed-free; the sum is exact in decimal and its cast
        # back to long raises on overflow under ANSI, as the long
        # addition did.
        base = F.lit(Decimal(int(existing_max))).cast("decimal(20,0)")
    key = (base + rank).cast("long")
    if existing_max is not None:
        # Spark types a decimal-to-long cast nullable, though under ANSI
        # it raises instead; the coalesce keeps the key non-nullable, as
        # the long sum was, so the stored schema does not change
        key = F.coalesce(key, F.lit(0))
    news = ranked.select(
        *[key.alias(c) if c == key_col else F.col(c) for c in df.columns]
    )
    return df.filter(F.col(key_col).isNotNull()).unionByName(news)


def merge_scd2(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    effective: Column,
    tracked_cols: Sequence[str] | None = None,
    valid_from_col: str = "valid_from",
    valid_to_col: str = "valid_to",
) -> DataFrame:
    """SCD Type 2 merge: versioned history instead of update-in-place.

    The reference's dims are SCD-1 (overwrite, customer-...sql:118-165),
    but ``dim_item`` carries start_date/end_date validity columns
    (item-...sql:29-30) — this operator is the engine's full-history
    extension of that shape. ``target`` rows with NULL ``valid_to_col``
    are current; ``source`` holds the state of each key as of
    ``effective``. Per key:

    - attribute change   -> close the current row (valid_to = effective)
      AND insert a new current row (valid_from = effective),
    - new key            -> insert a current row,
    - no change / absent -> current row kept verbatim,
    - closed history     -> never touched (or read — see plan note).

    Change detection compares ``tracked_cols`` (default: every non-key,
    non-validity target column) null-safely. Plan: ONE full-outer join
    of current x source on the keys; closed history bypasses the join
    entirely, so cost scales with the live keyset, not accumulated
    history — at 100 TB partition the table by a ``valid_to IS NULL``
    flag (or date) so the current slice is a partition-pruned scan.
    """
    keys = list(keys)
    validity = [valid_from_col, valid_to_col]
    if tracked_cols is None:
        tracked_cols = [c for c in target.columns if c not in keys + validity]
    extra = [c for c in source.columns if c not in keys + list(tracked_cols)]
    if extra:
        raise ValueError(f"source columns outside keys+tracked: {extra}")

    history = target.filter(F.col(valid_to_col).isNotNull())
    current = target.filter(F.col(valid_to_col).isNull())

    t = current.withColumn("__t", F.lit(True)).alias("t")
    s = source.withColumn("__s", F.lit(True)).alias("s")
    cond = [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in keys]
    j = t.join(s, on=cond, how="full_outer")
    in_t, in_s = F.col("t.__t").isNotNull(), F.col("s.__s").isNotNull()
    changed = ~F.lit(True)
    for c in tracked_cols:
        changed = changed | ~F.col(f"t.{c}").eqNullSafe(F.col(f"s.{c}"))

    def t_row(valid_to: Column) -> list[Column]:
        cols = [F.col(f"t.{c}").alias(c) for c in keys + list(tracked_cols)]
        return cols + [F.col(f"t.{valid_from_col}").alias(valid_from_col), valid_to.alias(valid_to_col)]

    def s_row() -> list[Column]:
        cols = [F.col(f"s.{c}").alias(c) for c in keys + list(tracked_cols)]
        vf_type = target.schema[valid_from_col].dataType
        return cols + [
            effective.cast(vf_type).alias(valid_from_col),
            F.lit(None).cast(target.schema[valid_to_col].dataType).alias(valid_to_col),
        ]

    kept = j.filter(in_t & (~in_s | ~changed)).select(
        *t_row(F.lit(None).cast(target.schema[valid_to_col].dataType))
    )
    closed = j.filter(in_t & in_s & changed).select(
        *t_row(effective.cast(target.schema[valid_to_col].dataType))
    )
    opened = j.filter(in_s & (~in_t | changed)).select(*s_row())
    order = keys + list(tracked_cols) + validity
    return (
        history.select(*order)
        .unionByName(kept)
        .unionByName(closed)
        .unionByName(opened)
    )


def apply_changes(
    target: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    version_col: str = "_version",
    action_col: str = "_action",
    **kwargs,
) -> DataFrame:
    """Full CDC apply: INSERT/UPSERT rows merge, DELETE rows remove.

    The reference folds deletes into updates ("covers updates and
    deletes", customer-...sql:81) because its sources only soft-delete;
    this is the engine's hard-delete extension for delete-propagation
    at scale (e.g. takedown requests sweeping a 100 TB corpus). Per
    key, the LATEST change (by ``version_col``) decides: DELETE drops
    the row from the post-state, anything else upserts it.

    Plan: one latest-per-key window over the change batch, then the
    standard merge state equation; deleted keys ride the same anti-join
    that removes matched keys, so hard delete costs nothing extra.
    """
    latest = dedup_latest(changes, keys, [F.col(version_col).desc()])
    survivors = latest.filter(F.col(action_col) != F.lit("DELETE")).drop(
        action_col, version_col
    )
    # rows whose key appears in the batch at all (updated OR deleted)
    # leave via one anti-join; the merge then re-applies only survivors
    # against the touched slice of the target (semi-join), so carry
    # columns / matched_set semantics behave exactly as in merge_upsert.
    kept = target.join(latest.select(*keys), on=list(keys), how="left_anti")
    touched = target.join(survivors.select(*keys), on=list(keys), how="left_semi")
    applied = merge_dataframes(touched, survivors, keys, **kwargs)
    return kept.unionByName(applied.select(*target.columns))


def global_prefix_sum(
    df: DataFrame,
    order_by: Sequence[str],
    val_col: str,
    out_col: str,
    exclusive: bool = True,
) -> DataFrame:
    """Exact running sum of ``val_col`` in global ``order_by`` order,
    without a global single-partition window.

    Two-stage prefix sum: range-repartition on the order key (order-
    preserving across partition ids), per-partition running sum, then a
    cumulative offset of the per-partition totals joined back broadcast.
    The offset table is one row per partition, so the only serial step
    is O(num_partitions). The result is independent of where the range
    boundaries fall — boundaries change only which partial each row's
    sum is split into, not the total — so repartitionByRange's sampled
    bounds are safe here (unlike fill_identity, where bucket assignment
    feeds the output values and a pure hash is required).

    ``exclusive=True`` sums strictly-preceding rows (SQL frame
    ``ROWS UNBOUNDED PRECEDING AND 1 PRECEDING``); ``order_by`` must be
    a unique key for a deterministic result.
    """
    spark = df.sparkSession
    n = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    cols = [F.col(c) for c in order_by]
    # localCheckpoint pins ONE materialization of the range-partitioned
    # frame: both consumers below (the per-partition window and the
    # per-partition totals) must see identical partition boundaries,
    # and repartitionByRange's boundaries come from SAMPLING — two
    # independent evaluations (e.g. a missed ReusedExchange, or a
    # recompute after executor loss) could assign rows to different
    # __pids and silently mis-pair offsets. Severing the lineage makes
    # that impossible; a lost partition now fails the job instead of
    # resampling. At 100 TB use reliable checkpointing instead.
    part = (
        df.repartitionByRange(n, *cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    upper = -1 if exclusive else 0
    w_in = (
        Window.partitionBy("__pid")
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, upper)
    )
    within = part.withColumn(
        "__within", F.coalesce(F.sum(F.col(val_col)).over(w_in), F.lit(0))
    )
    totals = part.groupBy("__pid").agg(F.sum(F.col(val_col)).alias("__tot"))
    # O(num_partitions) rows: the single-partition window is bounded
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.withColumn(
        "__off", F.coalesce(F.sum("__tot").over(w_off), F.lit(0))
    ).select("__pid", "__off")
    return (
        within.join(F.broadcast(offsets), "__pid")
        .withColumn(out_col, (F.col("__within") + F.col("__off")).cast("long"))
        .drop("__pid", "__within", "__off")
    )
