"""Property-based invariants of the MERGE state equation
(operators/merge.py), mirroring the guarantees Snowflake's MERGE gives
the reference pipelines. Hypothesis generates (target, source) change
batches; properties must hold for ALL of them:

1. key-uniqueness: if the target is key-unique, the post-merge state is
   key-unique (the invariant raw/dim tables rely on);
2. idempotence: merging the same (deduped) batch twice == once;
3. partition: every post-state row is either an untouched target row
   (key not in source), or carries the latest source values;
4. latest-wins: with a multi-version batch, the max-version row wins.

Plain-Python oracle (dict upsert) — independent of the DataFrame
algebra under test.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from end_to_end_etl_using_snowflake_spark.operators import merge as M
from end_to_end_etl_using_snowflake_spark.operators.merge import merge_upsert

KEYS = st.integers(min_value=0, max_value=9)
VALS = st.text(alphabet="abc", min_size=0, max_size=3)

targets = st.dictionaries(KEYS, VALS, max_size=8)  # key-unique by construction
batches = st.lists(st.tuples(KEYS, VALS, st.integers(0, 5)), max_size=12)


def _df_target(spark, d):
    rows = [(k, v) for k, v in d.items()]
    return spark.createDataFrame(rows or [], schema="k int, v string")


def _df_batch(spark, rows):
    return spark.createDataFrame(rows or [], schema="k int, v string, version int")


def _oracle(target: dict, batch: list) -> dict:
    latest: dict = {}
    for k, v, ver in batch:
        # ties: latest-wins dedup breaks version ties deterministically
        # by value desc (mirrors the dedup_order below)
        if k not in latest or (ver, v) >= (latest[k][1], latest[k][0]):
            latest[k] = (v, ver)
    out = dict(target)
    out.update({k: v for k, (v, _) in latest.items()})
    return out


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(target=targets, batch=batches)
def test_merge_matches_dict_oracle_and_is_key_unique(spark, target, batch):
    tdf = _df_target(spark, target)
    sdf = _df_batch(spark, batch)
    merged = merge_upsert(
        tdf,
        sdf.select("k", "v", "version"),
        keys=["k"],
        dedup_order=[F.col("version").desc(), F.col("v").desc()],
        update_cols=["v"],
    ).select("k", "v")
    got = {r.k: r.v for r in merged.collect()}
    assert len(got) == merged.count(), "post-merge state must be key-unique"
    assert got == _oracle(target, batch)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(target=targets, batch=batches)
def test_merge_is_idempotent(spark, target, batch):
    tdf = _df_target(spark, target)
    sdf = _df_batch(spark, batch)
    once = merge_upsert(
        tdf, sdf, keys=["k"],
        dedup_order=[F.col("version").desc(), F.col("v").desc()], update_cols=["v"],
    ).select("k", "v")
    twice = merge_upsert(
        once, sdf, keys=["k"],
        dedup_order=[F.col("version").desc(), F.col("v").desc()], update_cols=["v"],
    ).select("k", "v")
    # replaying the same batch against the post-state is a no-op — the
    # crash-recovery contract (T1: re-run after write-then-no-commit).
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_scd2_idempotent_and_versions(spark):
    target = spark.createDataFrame(
        [(1, "a", "2020-01-01", None), (2, "b", "2020-01-01", None)],
        "k int, v string, valid_from string, valid_to string",
    ).selectExpr(
        "k", "v", "cast(valid_from as date) valid_from", "cast(valid_to as date) valid_to"
    )
    src = spark.createDataFrame([(1, "A"), (3, "c")], "k int, v string")
    eff = F.lit("2021-01-01").cast("date")
    once = M.merge_scd2(target, src, keys=["k"], effective=eff)
    # k=1 changed: closed + new; k=2 untouched; k=3 inserted
    rows = {(r.k, r.v, str(r.valid_from), str(r.valid_to)) for r in once.collect()}
    assert rows == {
        (1, "a", "2020-01-01", "2021-01-01"),
        (1, "A", "2021-01-01", "None"),
        (2, "b", "2020-01-01", "None"),
        (3, "c", "2021-01-01", "None"),
    }
    # idempotence: same batch again -> identical state (no-op change detection)
    twice = M.merge_scd2(once, src, keys=["k"], effective=eff)
    assert {(r.k, r.v, str(r.valid_from), str(r.valid_to)) for r in twice.collect()} == rows


points_strat = st.lists(
    st.tuples(st.integers(0, 99), st.integers(0, 10_000)), min_size=0, max_size=20
)
intervals_strat = st.lists(
    st.tuples(st.integers(0, 99), st.integers(0, 10_000), st.integers(0, 5_000)),
    min_size=0,
    max_size=10,
)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(points=points_strat, intervals=intervals_strat)
def test_range_join_equals_naive(spark, points, intervals):
    """Bucketed range join == the naive inequality join, for arbitrary
    point sets and interval sets (including empty, zero-length, and
    bucket-boundary-straddling intervals)."""
    from end_to_end_etl_using_snowflake_spark.operators.range_join import range_join

    p = spark.createDataFrame(
        [(pid, float(ts)) for pid, ts in points] or [], "pid int, ts double"
    )
    iv = spark.createDataFrame(
        [(iid, float(s), float(s + width)) for iid, s, width in intervals] or [],
        "iid int, start_ts double, end_ts double",
    )
    got = {
        (r.pid, r.iid)
        for r in range_join(
            p, iv, "ts", "start_ts", "end_ts", bucket_seconds=1000
        ).collect()
    }
    want = {
        (pid, iid)
        for pid, ts in points
        for iid, s, width in intervals
        if s <= ts < s + width
    }
    assert got == want


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_merge_into_missing_table_plans_no_join(spark, tmp_path):
    """An initial load needs no caller flag: a missing ManagedTable
    reads as an empty LocalRelation, so the optimizer prunes both MERGE
    joins and the union to a projection of the source. Its rows must
    equal the same MERGE against an empty target the optimizer cannot
    see through (a LogicalRDD, which keeps both joins)."""
    from pyspark.sql import types as T

    from end_to_end_etl_using_snowflake_spark.operators.merge import merge_dataframes
    from end_to_end_etl_using_snowflake_spark.plans.catalog import ManagedTable

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField("ident", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    missing = ManagedTable(spark, str(tmp_path / "never_written"), schema)
    opaque = spark.createDataFrame(spark.sparkContext.emptyRDD(), schema)
    source = spark.range(5).select(
        F.col("id").alias("k"), F.concat(F.lit("v"), F.col("id")).alias("v")
    )
    now = F.lit("2021-06-01 00:00:00").cast("timestamp")
    kwargs = dict(keys=["k"], matched_set={"ts": now}, insert_defaults={"ts": now})
    pruned = merge_dataframes(missing.read(), source, **kwargs)
    joined = merge_dataframes(opaque, source, **kwargs)
    assert "Join" not in _optimized(pruned)
    assert "Union" not in _optimized(pruned)
    assert "Join" in _optimized(joined)  # the control really joins
    assert pruned.schema == joined.schema
    assert sorted(map(tuple, pruned.collect())) == sorted(map(tuple, joined.collect()))


# ---------------------------------------------------------------------------
# merge_statement (the verbatim MERGE INTO text compiler) must agree
# with a plain-Python dict-upsert oracle for ALL generated states —
# the same independence sql18-20's fixture oracles give, but over the
# whole input space instead of the reference's 22 rows.
# ---------------------------------------------------------------------------


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(target=targets, batch=st.dictionaries(KEYS, VALS, max_size=8))
def test_merge_statement_matches_dict_upsert(spark, target, batch):
    from end_to_end_etl_using_snowflake_spark.functions.sqldialect import (
        merge_statement,
    )

    tdf = spark.createDataFrame(
        [(k, v) for k, v in target.items()] or [(None, None)], "id int, val string"
    ).filter(F.col("id").isNotNull())
    sdf = spark.createDataFrame(
        [(k, v) for k, v in batch.items()] or [(None, None)], "id int, val string"
    ).filter(F.col("id").isNotNull())
    out = merge_statement(
        spark,
        "MERGE INTO db.t USING db.s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET t.val = s.val "
        "WHEN NOT MATCHED THEN INSERT (id, val) VALUES (s.id, s.val)",
        {"db.t": tdf, "db.s": sdf},
    ).collect()
    expected = dict(target)
    expected.update(batch)  # dict upsert IS the MERGE semantic
    assert sorted((r["id"], r["val"]) for r in out) == sorted(expected.items())


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    p1=st.integers(min_value=0, max_value=100),
    p2=st.integers(min_value=0, max_value=100),
    seed=st.integers(min_value=0, max_value=99),
)
def test_sample_lowering_is_monotone_and_deterministic(spark, p1, p2, seed):
    """SAMPLE(p1) ⊆ SAMPLE(p2) for p1 <= p2 under the same seed — the
    hash-threshold lowering guarantees nested samples (a property
    Snowflake's independent-draw sampling does NOT give; documented
    engine behavior worth pinning), and re-runs are identical."""
    from end_to_end_etl_using_snowflake_spark.functions.sqldialect import (
        rewrite_sample,
    )

    lo, hi = sorted((p1, p2))
    spark.range(300).selectExpr("id AS k").createOrReplaceTempView("samp_t")
    keys = {"samp_t": "k"}

    def rows(p):
        return {
            r["k"]
            for r in spark.sql(
                rewrite_sample(
                    f"SELECT k FROM samp_t SAMPLE ({p}) SEED ({seed})", keys
                )
            ).collect()
        }

    a, b = rows(lo), rows(hi)
    assert a <= b, (lo, hi, sorted(a - b))
    assert rows(lo) == a  # deterministic re-run
    if lo == 0:
        assert a == set()
    if hi == 100:
        assert b == set(range(300))


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pairs=st.lists(
        st.tuples(
            st.text(alphabet="abx", min_size=0, max_size=8),
            st.text(alphabet="abx", min_size=0, max_size=8),
        ),
        min_size=1,
        max_size=12,
    ),
    cap=st.integers(min_value=-2, max_value=9),
)
def test_editdistance_cap_lowering_matches_reference_dp(spark, pairs, cap):
    """EDITDISTANCE(a, b, max_distance) == min(true Levenshtein, cap)
    with a negative cap clamped to 0 — the Snowflake contract — for ALL
    string pairs, against a plain-Python Wagner-Fischer oracle. The
    lowering goes through Spark's THRESHOLD levenshtein (-1 on exceed),
    so this pins the -1 -> cap remap and the NULL/negative guards."""
    from end_to_end_etl_using_snowflake_spark.functions.sqldialect import (
        rewrite_scalar_funcs,
    )

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[len(b)]

    df = spark.createDataFrame(pairs, "a string, b string")
    df.createOrReplaceTempView("ed_prop_src")
    out = spark.sql(
        rewrite_scalar_funcs(
            f"SELECT a, b, EDITDISTANCE(a, b, {cap}) AS edc,"
            " EDITDISTANCE(a, b) AS ed FROM ed_prop_src"
        )
    ).collect()
    for r in out:
        want = lev(r["a"], r["b"])
        assert r["ed"] == want
        assert r["edc"] == min(want, max(cap, 0))


_RX_PATTERNS = ["[0-9]+", "[ab]+", "a[0-9]", "b+", "[0-9]-a"]


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    subjects=st.lists(
        st.text(alphabet="ab019-", min_size=0, max_size=12),
        min_size=1,
        max_size=10,
    ),
    pat_i=st.integers(min_value=0, max_value=4),
    pos=st.integers(min_value=1, max_value=5),
    occ=st.integers(min_value=1, max_value=3),
)
def test_regexp_arg_forms_match_python_re(spark, subjects, pat_i, pos, occ):
    """The Snowflake REGEXP_* argument-form lowerings (position /
    occurrence / option) agree with a third, independent regex engine —
    Python ``re`` on the same subject tail — for SUBSTR occurrence
    selection (NULL when absent), COUNT, INSTR start and option=1 end
    positions re-based to the full string, and REGEXP_LIKE's implicit
    full-match anchor. Patterns are from the Java∩RE2∩Python common
    subset and none can match empty."""
    import re as _re

    from end_to_end_etl_using_snowflake_spark.functions.sqldialect import (
        rewrite_scalar_funcs,
    )

    p = _RX_PATTERNS[pat_i]
    df = spark.createDataFrame([(s,) for s in subjects], "s string")
    df.createOrReplaceTempView("rx_prop_src")
    out = spark.sql(
        rewrite_scalar_funcs(
            f"SELECT s, REGEXP_SUBSTR(s, '{p}', {pos}, {occ}) AS sub,"
            f" REGEXP_COUNT(s, '{p}', {pos}) AS cnt,"
            f" REGEXP_INSTR(s, '{p}', {pos}) AS ins,"
            f" REGEXP_INSTR(s, '{p}', {pos}, 1, 1) AS ine,"
            f" REGEXP_LIKE(s, '{p}') AS lk"
            " FROM rx_prop_src"
        )
    ).collect()
    for r in out:
        s = r["s"]
        ms = list(_re.finditer(p, s[pos - 1 :]))
        assert r["sub"] == (ms[occ - 1].group(0) if len(ms) >= occ else None)
        assert r["cnt"] == len(ms)
        assert r["ins"] == ((ms[0].start() + pos) if ms else 0)
        assert r["ine"] == ((ms[0].end() + pos) if ms else 0)
        assert r["lk"] == (_re.fullmatch(p, s) is not None)
