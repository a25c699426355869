"""Scale-path mechanics: the pieces that only matter at 100 TB,
exercised at toy scale.

- partition overwrite: fact maintenance must rewrite ONLY the
  partitions a batch touches;
- bucketed co-located join: pre-bucketed tables join with NO shuffle
  exchange (the bucketing/co-location story for repeated big joins);
- SQL surface: the engine's SQL entry point (spark.sql over registered
  views) gives the same answers as the DataFrame plans.
"""

from __future__ import annotations

from pyspark.sql import functions as F

import __spark_entry__  # noqa: F401
from end_to_end_etl_using_snowflake_spark.operators.dml import ParquetTable
from end_to_end_etl_using_snowflake_spark.plans.registry import REGISTRY
from end_to_end_etl_using_snowflake_spark.plans.tables import register_views

from .conftest import SF_MED, SF_SMALL


def test_dynamic_partition_overwrite_touches_only_batch_partitions(spark, tmp_path):
    path = str(tmp_path / "fact")
    t = ParquetTable(spark, path, partition_by=["d"])
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k int, d string, v double"
    )
    t.overwrite(base)
    # new batch touches ONLY partition d='b'
    t.overwrite_partitions(
        spark.createDataFrame([(9, "b", 99.0)], "k int, d string, v double")
    )
    got = sorted(tuple(r) for r in t.read().select("k", "d", "v").collect())
    assert got == [(1, "a", 10.0), (3, "c", 30.0), (9, "b", 99.0)]


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    left = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("lv")
    )
    right = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("rv")
    )
    for name, df in [("bkt_left", left), ("bkt_right", right)]:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        df.write.bucketBy(8, "k").sortBy("k").saveAsTable(name)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bkt_left").join(spark.table("bkt_right"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        for name in ("bkt_left", "bkt_right"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_sql_surface_matches_dataframe_plans(spark):
    register_views(spark, SF_MED)
    # these oracles are portable ANSI SQL (no DuckDB-only functions)
    for name in ("p5_filter_in_list", "p6_semi_join_in_subquery", "a1_groupby_agg"):
        sql_rows = sorted(
            tuple(r) for r in spark.sql(REGISTRY[name].oracle).collect()
        )
        df_rows = sorted(
            tuple(r) for r in REGISTRY[name].build(spark, SF_MED).collect()
        )
        assert sql_rows == df_rows, name


def test_approx_sketches_within_tolerance(spark):
    """The 100 TB aggregate path: single-pass mergeable sketches.
    Sketch internals differ per engine so there is no bit-exact oracle;
    the honest check is bounded error against the exact computation on
    the same data (HLL++ rsd default 5%; t-digest rank error small at
    10k rows)."""
    li = spark.read.parquet(f"{SF_MED}/lineitem.parquet")
    exact, approx = (
        li.select(
            F.countDistinct("l_orderkey").alias("nd"),
            F.expr("percentile(l_quantity, 0.5)").alias("med"),
        ).first(),
        li.select(
            F.approx_count_distinct("l_orderkey").alias("nd"),
            F.percentile_approx("l_quantity", 0.5).alias("med"),
        ).first(),
    )
    assert abs(approx.nd - exact.nd) / exact.nd < 0.05
    assert abs(approx.med - exact.med) <= 1.0  # quantity grid is integers


def test_pandas_udf_cosine_matches_fold_path(spark):
    """The Arrow/NumPy fast path must agree with the oracle-parity
    sequential fold: values within float-reassociation tolerance and
    IDENTICAL rankings on the (well-separated) corpus."""
    from end_to_end_etl_using_snowflake_spark.functions import vectors as V

    emb = spark.read.parquet(f"{SF_MED}/embeddings.parquet").limit(200)
    e = emb.select("vec_id", F.expr("transform(embedding, x -> cast(x as double))").alias("v"))
    a = e.selectExpr("vec_id as ida", "v as va")
    b = e.selectExpr("vec_id as idb", "v as vb")
    pairs = a.join(b, F.col("ida") < F.col("idb"))
    cos_udf = V.cosine_pandas_udf()
    both = pairs.select(
        "ida",
        "idb",
        V.cosine(F.col("va"), F.col("vb")).alias("fold"),
        cos_udf(F.col("va"), F.col("vb")).alias("fast"),
    ).collect()
    assert both and all(abs(r.fold - r.fast) < 1e-12 for r in both)
    by_fold = sorted(both, key=lambda r: (-r.fold, r.ida, r.idb))[:20]
    by_fast = sorted(both, key=lambda r: (-r.fast, r.ida, r.idb))[:20]
    assert [(r.ida, r.idb) for r in by_fold] == [(r.ida, r.idb) for r in by_fast]


def test_matmul_topk_rank_parity_with_exact(spark):
    """v7 (blocked matmul) must return the same (query, rank, neighbor)
    triples as the oracle-exact fold path v1 — scores may differ in the
    last ulp, rankings must not."""
    v1 = REGISTRY["v1_ann_bruteforce_topk"].build(spark, SF_MED)
    v7 = REGISTRY["v7_ann_matmul_topk"].build(spark, SF_MED)
    key = lambda df: sorted((r.query_id, r.rank, r.neighbor_id) for r in df.collect())
    assert key(v7) == key(v1)


def test_decontaminate_anti_join_leaves_clean_corpus(spark):
    """After removing flagged docs, a second decontamination pass finds
    nothing — the keep-list semantics a 100 TB run relies on."""
    from pyspark.sql import functions as F

    from end_to_end_etl_using_snowflake_spark.operators.dedup import decontaminate
    from end_to_end_etl_using_snowflake_spark.plans.tables import load

    docs = load(spark, SF_SMALL, "documents")
    eval_set = docs.filter(F.col("source") == "src0")
    train = docs.filter(F.col("source") != "src0")
    flagged = decontaminate(train, eval_set, "doc_id", "text")
    assert flagged.count() > 0  # the synthetic corpus does overlap
    clean = train.join(
        flagged.select(F.col("id").alias("doc_id")), "doc_id", "left_anti"
    )
    assert decontaminate(clean, eval_set, "doc_id", "text").count() == 0


def test_quantize_int8_codes_bounded_and_invertible(spark):
    """Every int8 code fits [-127, 127] and reconstruction error is
    bounded by half a quantization step (scale >= 127/max|x|)."""
    from pyspark.sql import functions as F

    from end_to_end_etl_using_snowflake_spark.operators.similarity import quantize_int8
    from end_to_end_etl_using_snowflake_spark.plans.tables import load

    out = quantize_int8(load(spark, SF_SMALL, "embeddings"), "vec_id", "embedding")
    bad = out.filter(
        (F.col("q_l1") > 127 * F.col("n_dims"))
        | (F.col("max_abs_err") > 0.5 / F.col("scale") + 1e-12)
    )
    assert bad.count() == 0


def test_salted_topn_equals_single_window(spark):
    """The two-stage salted per-key top-n must equal the plain
    single-window form on a skewed input (one key holds half the rows),
    including exact ranks under score ties."""
    from pyspark.sql import Window

    from end_to_end_etl_using_snowflake_spark.operators.analysis import (
        salted_topn_per_key,
    )

    rows = [("hot", i, float(i % 7)) for i in range(500)] + [
        (f"k{i % 23}", 1000 + i, float(i % 5)) for i in range(500)
    ]
    df = spark.createDataFrame(rows, "key string, id long, score double")
    got = salted_topn_per_key(df, "key", "score", "id", n=10, salt_buckets=4)

    w = Window.partitionBy("key").orderBy(F.col("score").desc(), F.col("id").asc())
    want = df.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 10)

    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_global_prefix_sum_matches_single_window(spark):
    """Distributed two-stage prefix sum == the naive global-window
    running sum, on a multi-partition skewed input (the operator must
    not depend on where repartitionByRange draws its bounds)."""
    import random

    from pyspark.sql import Window

    from end_to_end_etl_using_snowflake_spark.operators.merge import (
        global_prefix_sum,
    )

    rng = random.Random(7)
    rows = [(i, rng.randrange(0, 100)) for i in range(5000)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "k long, v long").repartition(16)

    got = {
        (r.k, r.run)
        for r in global_prefix_sum(df, ["k"], "v", "run", exclusive=True).collect()
    }
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)
    want = {
        (r.k, r.run)
        for r in df.withColumn(
            "run", F.coalesce(F.sum("v").over(w), F.lit(0)).cast("long")
        ).collect()
    }
    assert got == want


def test_zorder_layout_prunes_both_dimensions(spark):
    """Quantify the z-order claim: chunk the table into 16 'files' by
    layout order and count how many a point query must read based on
    min/max stats. A user_id-sorted layout prunes user queries but
    reads EVERY chunk for a minute_bucket query; the z-ordered layout
    bounds both dimensions."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from end_to_end_etl_using_snowflake_spark.operators.bucketing import zorder_key
    from end_to_end_etl_using_snowflake_spark.plans.tables import load

    from .conftest import SF_MED

    raw = load(spark, SF_MED, "events").select(
        F.col("user_id").alias("ur"),
        F.expr("unix_micros(cast(ts as timestamp)) div 60000000").alias("vr"),
    )
    b = raw.agg(
        F.min("ur").alias("ulo"), F.max("ur").alias("uhi"),
        F.min("vr").alias("vlo"), F.max("vr").alias("vhi"),
    )
    # range-normalize both dimensions to 8 bits (as z1 does): unequal
    # effective widths would let the wide dimension dominate the sort
    ev = raw.crossJoin(F.broadcast(b)).select(
        F.expr("((ur - ulo) * 256) div (uhi - ulo + 1)").alias("u"),
        F.expr("((vr - vlo) * 256) div (vhi - vlo + 1)").alias("v"),
    )
    ev = ev.withColumn("z", zorder_key(F.col("u"), F.col("v"), bits=8))

    def chunk_hits(order_col, probe_u, probe_v):
        w = Window.orderBy(F.col(order_col), F.col("u"), F.col("v"))
        stats = (
            ev.withColumn("chunk", F.ntile(16).over(w))
            .groupBy("chunk")
            .agg(
                F.min("u").alias("lu"), F.max("u").alias("hu"),
                F.min("v").alias("lv"), F.max("v").alias("hv"),
            )
        )
        hits_u = stats.filter(
            (F.col("lu") <= probe_u) & (F.col("hu") >= probe_u)
        ).count()
        hits_v = stats.filter(
            (F.col("lv") <= probe_v) & (F.col("hv") >= probe_v)
        ).count()
        return hits_u, hits_v

    probe = ev.select(F.expr("percentile(u, 0.5)"), F.expr("percentile(v, 0.5)")).first()
    pu, pv = int(probe[0]), int(probe[1])
    user_u, user_v = chunk_hits("u", pu, pv)
    z_u, z_v = chunk_hits("z", pu, pv)
    # single-column sort: perfect on its own column, useless on the other
    assert user_u <= 2, (user_u, user_v)
    assert user_v >= 12, (user_u, user_v)
    # z-order: bounded on BOTH columns — strictly better than the
    # unsorted dimension of the single-column layout
    assert z_u < user_v and z_v < user_v, (z_u, z_v, user_v)
    assert max(z_u, z_v) <= 8, (z_u, z_v)


def test_content_defined_chunks_survive_insertion(spark):
    """The CDC property itself: inserting one character near the front
    shifts every fixed-stride chunk, but content-defined boundaries
    re-synchronize — the majority of chunk fingerprints must still
    match between original and edited document."""
    from pyspark.sql import functions as F

    from end_to_end_etl_using_snowflake_spark.operators.dedup import (
        content_defined_chunks,
    )

    text = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "astronauts compare notes about parquet row groups and shuffle "
        "partitions in the observability meeting on a rainy tuesday "
        "afternoon before the quarterly planning session begins again"
    )
    edited = "X" + text
    df = spark.createDataFrame([(1, text), (2, edited)], "doc_id long, text string")
    chunks = content_defined_chunks(df, "doc_id", "text").collect()
    a = {r.chunk_md5 for r in chunks if r.id == 1}
    b = {r.chunk_md5 for r in chunks if r.id == 2}
    assert len(a) >= 4, a  # the text actually chunked
    shared = len(a & b) / len(a)
    assert shared >= 0.5, (shared, len(a), len(b))


def _planted_corpus(spark, n_base=120, n_dups=60, dims=16, noise=0.08, seed=7):
    """Base vectors + planted near-dups: dup_i = base_i + noise * g_i.
    E[cos] ~ 1/sqrt(1 + noise^2 * dims) ~ 0.955 at noise=0.08 — the
    per-pair cosines are computed exactly below, not assumed."""
    import numpy as np

    rng = np.random.default_rng(seed)
    base = rng.standard_normal((n_base, dims))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    dup = base[:n_dups] + noise * rng.standard_normal((n_dups, dims))
    planted_cos = {
        (i, n_base + i): float(
            base[i] @ dup[i] / (np.linalg.norm(base[i]) * np.linalg.norm(dup[i]))
        )
        for i in range(n_dups)
    }
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)] + [
        (n_base + i, [float(x) for x in dup[i]]) for i in range(n_dups)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    return df, planted_cos


def test_d5l_production_preset_recall_curve(spark):
    """VERDICT r3 ask: quantify the banding recall curve on planted
    near-dup pairs and pin the production preset. The r=6 corpus
    default trades recall for selectivity at a weak 0.5 threshold; the
    D5L_PRODUCTION preset (r=8, 4 bands) must recover the large
    majority of genuine >= 0.9 near-dups."""
    from end_to_end_etl_using_snowflake_spark.operators.dedup import (
        D5L_PRODUCTION,
        embedding_cosine_pairs_lsh,
    )

    df, planted_cos = _planted_corpus(spark)
    truth = {p for p, c in planted_cos.items() if c >= 0.9}
    assert len(truth) >= 40, "corpus must actually plant >= 0.9 pairs"

    def run(threshold, **kw):
        return {
            (r.id_a, r.id_b)
            for r in embedding_cosine_pairs_lsh(
                df, "vec_id", "embedding", threshold=threshold, dims=16, **kw
            ).collect()
        }

    # recall on genuine >= 0.9 pairs at the production preset:
    # theory 1-(1-p^8)^4 ~ 0.89 at the planted ~0.95 cosines
    r_prod = len(run(0.9, **D5L_PRODUCTION) & truth) / len(truth)
    assert r_prod >= 0.70, f"production preset recall too low: {r_prod}"

    # the preset's other half: CANDIDATE SELECTIVITY. threshold=-1
    # keeps every banding candidate, so the output IS the candidate
    # set; a random pair survives a band with chance ~2^-r, so r=8
    # must collapse the candidate count vs the r=6 corpus default.
    cand_prod = len(run(-1.0, **D5L_PRODUCTION))
    cand_default = len(run(-1.0, planes=24, bands=4))
    assert cand_prod < cand_default * 0.5, (cand_prod, cand_default)


def test_d5l_hot_bucket_cap_bounds_candidates(spark):
    """A degenerate corpus (one giant cluster of near-identical
    vectors) must NOT recreate the quadratic blowup inside one LSH
    bucket: with max_bucket set, the hot cluster's buckets are dropped
    while planted pairs among normal vectors still surface."""
    import numpy as np

    from end_to_end_etl_using_snowflake_spark.operators.dedup import (
        embedding_cosine_pairs_lsh,
    )

    rng = np.random.default_rng(11)
    hot = rng.standard_normal(16)
    # 150 near-identical vectors -> all land in the same band buckets
    rows = [
        (i, [float(x) for x in (hot + 1e-3 * rng.standard_normal(16))])
        for i in range(150)
    ]
    # plus one isolated planted near-dup pair far from the cluster
    a = rng.standard_normal(16)
    rows += [(1000, [float(x) for x in a]), (1001, [float(x) for x in (a + 0.05 * rng.standard_normal(16))])]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    uncapped = embedding_cosine_pairs_lsh(
        df, "vec_id", "embedding", threshold=0.9, planes=32, bands=4, dims=16
    )
    capped = embedding_cosine_pairs_lsh(
        df, "vec_id", "embedding", threshold=0.9, planes=32, bands=4, dims=16,
        max_bucket=20,
    )
    n_uncapped = uncapped.count()
    got_capped = {(r.id_a, r.id_b) for r in capped.collect()}
    # uncapped: the hot cluster alone yields ~C(150,2) = 11175 pairs
    assert n_uncapped > 5000
    # capped: hot buckets (150 > max_bucket) dropped entirely; the
    # isolated planted pair (its own small bucket) must survive
    assert (1000, 1001) in got_capped
    assert len(got_capped) <= 20 * 20 * 4, len(got_capped)
    assert len(got_capped) < n_uncapped / 10


def test_adaptive_band_bits_targets_constant_occupancy():
    """VERDICT r10 #1: bits-per-band must be derived from corpus size
    so expected bucket occupancy (n / 2**r) stays <= the target. Pin
    the exact integer derivation the DuckDB oracle twin replicates."""
    from end_to_end_etl_using_snowflake_spark.operators.dedup import (
        adaptive_band_bits,
    )

    # smallest r with 2**r * 64 >= n, clamped to [4, 16]
    assert adaptive_band_bits(0) == 4
    assert adaptive_band_bits(500) == 4        # sf0.01 embeddings
    assert adaptive_band_bits(1024) == 4       # exact boundary: 16*64
    assert adaptive_band_bits(1025) == 5       # one past the boundary
    assert adaptive_band_bits(2000) == 5       # sf0.1 embeddings
    assert adaptive_band_bits(200_000) == 12   # the sf10 sweep corpus
    assert adaptive_band_bits(10**9) == 16     # clamped at r_cap
    assert adaptive_band_bits(10**10, r_cap=40) == 28  # petabyte preset
    # occupancy invariant wherever the clamp is not binding
    for n in (100, 3_000, 77_777, 1_000_000):
        r = adaptive_band_bits(n, r_cap=62)
        assert n / (1 << r) <= 64
        assert r == 4 or n / (1 << (r - 1)) > 64  # minimal such r


def test_adaptive_lsh_candidate_count_scales_linearly(spark):
    """The fix's actual claim: on a uniformly grown corpus the
    CANDIDATE count (threshold=-1 keeps every banding candidate) grows
    ~linearly with n because r grows with the corpus — where the fixed
    geometry grows it ~quadratically (every bucket's population scales
    with n). 4x the rows must not 16x the candidates."""
    import numpy as np

    from end_to_end_etl_using_snowflake_spark.operators.dedup import (
        embedding_cosine_pairs_lsh,
        embedding_cosine_pairs_lsh_adaptive,
    )

    rng = np.random.default_rng(23)

    def corpus(n):
        v = rng.standard_normal((n, 16))
        rows = [(i, [float(x) for x in v[i]]) for i in range(n)]
        return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    def cand(df, fixed):
        if fixed:
            return embedding_cosine_pairs_lsh(
                df, "vec_id", "embedding", threshold=-1.0,
                planes=24, bands=4, dims=16,
            ).count()
        return embedding_cosine_pairs_lsh_adaptive(
            df, "vec_id", "embedding", threshold=-1.0,
            bands=4, dims=16, target_occupancy=16,
        ).count()

    small, big = corpus(600), corpus(2400)
    a_small, a_big = cand(small, fixed=False), cand(big, fixed=False)
    f_small, f_big = cand(small, fixed=True), cand(big, fixed=True)
    # fixed r: candidate growth tracks n^2 (4x rows -> ~16x pairs;
    # allow slack for hash noise but it must be clearly superlinear)
    assert f_big / f_small > 8, (f_small, f_big)
    # adaptive r: growth tracks n (4x rows -> ~4x candidates; r rises
    # 6->8 here, so the ratio must stay well under the quadratic's)
    assert a_big / a_small < 8, (a_small, a_big)
    assert a_big / a_small < (f_big / f_small) / 2, (
        a_small, a_big, f_small, f_big,
    )


def test_adaptive_recall_geometry_derivation():
    """adaptive_lsh_recall_geometry holds BOTH invariants: occupancy
    (via adaptive_band_bits) and banding recall >= target (bands =
    ceil(log(1-recall)/log(1-p^r)) — the standard multi-table LSH
    sizing). Pin exact values at p = 1 - acos(0.9)/pi."""
    import math

    from end_to_end_etl_using_snowflake_spark.operators.dedup import (
        adaptive_lsh_recall_geometry,
    )

    p = 1 - math.acos(0.9) / math.pi
    assert adaptive_lsh_recall_geometry(2000, p) == (5, 3)
    assert adaptive_lsh_recall_geometry(20000, p) == (9, 6)
    assert adaptive_lsh_recall_geometry(200000, p) == (12, 10)
    # petabyte tier: bands demand (122) exceeds the cap -> capped
    assert adaptive_lsh_recall_geometry(10**10, p) == (28, 64)
    # the recall floor holds exactly wherever the cap is not binding
    for n in (1000, 50_000, 3_000_000):
        r, bands = adaptive_lsh_recall_geometry(n, p, recall_target=0.8)
        assert 1 - (1 - p ** r) ** bands >= 0.8
        assert bands == 1 or 1 - (1 - p ** r) ** (bands - 1) < 0.8


def test_adaptive_recall_geometry_holds_measured_recall(spark):
    """The measured half: on a planted near-dup corpus big enough that
    occupancy-targeted r climbs (occupancy 4 -> r = 9 at n = 1260),
    the DERIVED band count keeps measured recall above the target
    while a fixed small band count falls well below — i.e. bands is
    the working recall lever the geometry derivation claims."""
    import math

    from end_to_end_etl_using_snowflake_spark.operators.dedup import (
        adaptive_lsh_recall_geometry,
        embedding_cosine_pairs_lsh_adaptive,
    )

    df, planted_cos = _planted_corpus(spark, n_base=1200, n_dups=60)
    truth = {pair for pair, c in planted_cos.items() if c >= 0.9}
    assert len(truth) >= 40
    n = df.count()
    p = 1 - math.acos(0.95) / math.pi  # planted pairs sit near 0.95
    r, bands = adaptive_lsh_recall_geometry(
        n, p, recall_target=0.9, target_occupancy=4, r_cap=16
    )
    assert r == 9 and bands >= 4

    def recall(nbands):
        got = {
            (row.id_a, row.id_b)
            for row in embedding_cosine_pairs_lsh_adaptive(
                df, "vec_id", "embedding", threshold=0.9,
                bands=nbands, dims=16, target_occupancy=4,
            ).collect()
        }
        return len(got & truth) / len(truth)

    r_derived, r_fixed2 = recall(bands), recall(2)
    assert r_derived >= 0.75, r_derived
    assert r_fixed2 < r_derived, (r_fixed2, r_derived)


def test_adaptive_lsh_cap_drops_degenerate_cluster(spark):
    """The adaptive path keeps the hot-bucket backstop: a degenerate
    near-identical cluster (which no occupancy-targeted r can spread
    out — the vectors genuinely collide) is dropped from candidate
    generation while an isolated planted pair still surfaces."""
    import numpy as np

    from end_to_end_etl_using_snowflake_spark.operators.dedup import (
        embedding_cosine_pairs_lsh_adaptive,
    )

    rng = np.random.default_rng(11)
    hot = rng.standard_normal(16)
    rows = [
        (i, [float(x) for x in (hot + 1e-3 * rng.standard_normal(16))])
        for i in range(600)
    ]
    a = rng.standard_normal(16)
    rows += [
        (1000, [float(x) for x in a]),
        (1001, [float(x) for x in (a + 0.05 * rng.standard_normal(16))]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    capped = embedding_cosine_pairs_lsh_adaptive(
        df, "vec_id", "embedding", threshold=0.9, bands=4, dims=16,
        cap_factor=4,
    )
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert (1000, 1001) in got
    # n=602 -> r=4, cap = max(32, 4*602 >> 4) = 150: the 600-member
    # cluster's buckets all exceed it and are dropped wholesale
    assert len(got) < 600, len(got)


def test_mmr_diversifies_near_duplicate_candidates(spark):
    """MMR vs plain top-k on a constructed corpus where the two most
    query-similar docs are near-duplicates of each other: plain top-2
    takes both; MMR's step 2 must skip the duplicate and take the
    diverse doc instead."""
    from pyspark.sql import functions as F

    from end_to_end_etl_using_snowflake_spark.operators.similarity import (
        brute_force_topk,
        mmr_rerank,
    )

    rows = [
        (0, [1.0, 0.0, 0.0]),        # query
        (1, [0.99, 0.14, 0.0]),      # best match
        (2, [0.99, 0.141, 0.001]),   # near-duplicate of 1
        (3, [0.8, 0.0, 0.6]),        # diverse, less similar
        (4, [0.0, 1.0, 0.0]),        # unrelated
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    q = emb.filter(F.col("vec_id") == 0)
    plain = [
        r["neighbor_id"]
        for r in brute_force_topk(emb, q, "vec_id", "embedding", k=2)
        .orderBy("rank")
        .collect()
    ]
    assert plain == [1, 2]  # top-k happily returns the duplicate pair
    mmr = [
        r["neighbor_id"]
        for r in mmr_rerank(
            emb, q, "vec_id", "embedding", n_candidates=4, k=2, lam=0.5
        )
        .orderBy("step")
        .collect()
    ]
    assert mmr[0] == 1 and mmr[1] == 3, mmr  # diversity beats redundancy


def test_table_changes_delta_reconstructs_end_snapshot(spark, tmp_path):
    """The CDC algebra law behind CHANGES (r8): for ANY churn,
    (start snapshot MINUS keys of DELETE rows) UNION the INSERT rows
    must equal the end snapshot exactly. Exercised over a 5-version
    changelog with overlapping update/delete/re-insert churn — the
    law is what lets a downstream consumer apply the net delta
    instead of replaying the journal."""
    from pyspark.sql import functions as F

    from end_to_end_etl_using_snowflake_spark.streaming.changelog import (
        Changelog,
        snapshot_as_of,
        table_changes,
    )

    log = Changelog(spark, str(tmp_path / "t"))
    base = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    log.record(base, "UPSERT", at="2024-01-01 00:00:00")            # v1
    log.record(  # update a third
        base.filter(F.col("k") % 3 == 0).withColumn("v", F.col("v") + 1000),
        "UPSERT", at="2024-01-02 00:00:00",
    )                                                                # v2
    log.record(  # delete a fifth (some of them just updated)
        base.filter(F.col("k") % 5 == 0), "DELETE", at="2024-01-03 00:00:00"
    )                                                                # v3
    log.record(  # re-insert a few deleted keys with fresh payloads
        base.filter(F.col("k") % 15 == 0).withColumn("v", F.lit(-7)),
        "UPSERT", at="2024-01-04 00:00:00",
    )                                                                # v4
    log.record(  # brand-new keys
        spark.range(200, 230).select(
            F.col("id").alias("k"), F.lit(0).alias("v")
        ),
        "UPSERT", at="2024-01-05 00:00:00",
    )                                                                # v5
    changes = spark.read.parquet(log.log_path)
    start = snapshot_as_of(changes, ["k"], 1)
    end = snapshot_as_of(changes, ["k"], 5)
    delta = table_changes(changes, ["k"], 1, 5)
    removed = delta.filter(F.col("METADATA$ACTION") == "DELETE").select("k")
    inserted = delta.filter(F.col("METADATA$ACTION") == "INSERT").select("k", "v")
    rebuilt = start.join(removed, "k", "left_anti").unionByName(inserted)
    got = sorted((r.k, r.v) for r in rebuilt.collect())
    want = sorted((r.k, r.v) for r in end.collect())
    assert got == want
    # and the delta is MINIMAL: no key appears as an unchanged pair
    pair_keys = (
        delta.groupBy("k")
        .agg(F.countDistinct("METADATA$ACTION").alias("n"))
        .filter(F.col("n") == 2)
    )
    both = delta.join(pair_keys, "k", "left_semi")
    same = (
        both.groupBy("k").agg(F.countDistinct("v").alias("nv")).filter(F.col("nv") == 1)
    )
    assert same.count() == 0  # every DELETE+INSERT pair changed the payload


def test_format_string_roundtrip_property(spark):
    """Property (r9): for any date, rendering with a translated
    Snowflake format then parsing it back with the same format is the
    identity — across every composite format the element table
    supports. A wrong element mapping (Spark's Y week-year / D
    day-of-year traps) breaks this immediately at year boundaries,
    which the probe dates deliberately straddle."""
    from pyspark.sql import functions as F

    from end_to_end_etl_using_snowflake_spark.functions.sqldialect import (
        _sf_datetime_format_to_spark,
    )

    formats = [
        "YYYYMMDD",
        "YYYY-MM-DD",
        "DD/MM/YYYY",
        "MON DD, YYYY",
        "DD MON YYYY",
        "YYYY-MM-DD\"T\"HH24:MI:SS",
    ]
    # week-53 / year-boundary dates are where week-year mistranslation
    # shows: 2020-12-31 is in ISO week-year 2020 but week-based 'YYYY'
    # (Spark Y) would render 2021
    df = spark.sql(
        "SELECT explode(sequence(DATE '2019-12-25', DATE '2020-01-07')) AS d"
        " UNION ALL"
        " SELECT explode(sequence(DATE '2024-02-26', DATE '2024-03-03')) AS d"
    )
    for fmt in formats:
        spark_fmt = _sf_datetime_format_to_spark(fmt)
        lit = "'" + spark_fmt.replace("'", "''") + "'"
        bad = df.selectExpr(
            f"count_if(to_date(date_format(d, {lit}), {lit}) <> d) AS n"
        ).first()["n"]
        assert bad == 0, (fmt, spark_fmt)


def test_skip_greedy_pandas_matches_recursive_cte():
    """Property (r9): the AFTER MATCH SKIP greedy that the Spark
    executor runs in applyInPandas and the recursive-CTE form the
    DuckDB twin emits select IDENTICAL candidate sets, for random
    candidate relations and resume offsets (covers past-last AND
    skip-to-symbol shapes)."""
    import random

    import duckdb

    rng = random.Random(907)
    for trial in range(25):
        cands = []
        for part in range(rng.randint(1, 3)):
            starts = sorted(rng.sample(range(1, 40), rng.randint(0, 12)))
            for s in starts:
                cands.append((part, s, s + rng.randint(1, 6)))
        # pandas-side greedy (the executor's pick())
        accepted = set()
        bypart: dict[int, list] = {}
        for p, s, r in cands:
            bypart.setdefault(p, []).append((s, r))
        for p, rows in bypart.items():
            resume, last_s = None, None
            for s, r in sorted(rows):
                if resume is None or (s >= resume and s > last_s):
                    accepted.add((p, s))
                    resume, last_s = r, s
        # recursive-CTE greedy (the twin's __sel)
        con = duckdb.connect()
        if cands:
            vals = ", ".join(f"({p}, {s}, {r})" for p, s, r in cands)
            got = set(
                (p, s)
                for p, s in con.execute(
                    f"""
                WITH RECURSIVE c AS (
                    SELECT * FROM (VALUES {vals}) AS t(part, __start, __resume)
                ),
                __sel AS (
                    SELECT c.* FROM c
                    WHERE c.__start = (SELECT min(c2.__start) FROM c c2
                                       WHERE c2.part = c.part)
                    UNION ALL
                    SELECT c.* FROM __sel s JOIN c
                      ON c.part = s.part AND c.__start >= s.__resume
                     AND c.__start > s.__start
                    WHERE c.__start = (SELECT min(c2.__start) FROM c c2
                        WHERE c2.part = s.part AND c2.__start >= s.__resume
                          AND c2.__start > s.__start)
                )
                SELECT part, __start FROM __sel
                """
                ).fetchall()
            )
        else:
            got = set()
        assert got == accepted, (trial, sorted(got ^ accepted))


def test_parquet_row_count_matches_spark_count(spark):
    """The footer-statistics corpus count (r17: feeds the adaptive-LSH
    geometry instead of a full-corpus count job) must be the exact
    integer ``df.count()`` returns, and passing it through ``n_rows``
    must leave the operator's output untouched."""
    from end_to_end_etl_using_snowflake_spark.operators.dedup import (
        embedding_cosine_pairs_lsh_adaptive,
    )
    from end_to_end_etl_using_snowflake_spark.operators.dml import parquet_row_count
    from end_to_end_etl_using_snowflake_spark.plans.tables import load

    sf_dir = "/root/testdata/sf0.001"
    emb = load(spark, sf_dir, "embeddings")
    n_footer = parquet_row_count(f"{sf_dir}/embeddings.parquet")
    assert n_footer == emb.count()

    def pairs(n_rows):
        return sorted(
            (r.id_a, r.id_b, round(r.cos_sim, 12))
            for r in embedding_cosine_pairs_lsh_adaptive(
                emb, "vec_id", "embedding",
                threshold=0.5, bands=4, dims=64, n_rows=n_rows,
            ).collect()
        )

    assert pairs(n_footer) == pairs(None)
