"""Similarity search over an embedding column (``array<float>``).

- ``brute_force_topk``: exact cosine top-k — broadcast the (small)
  query block against the corpus, score JVM-side, per-query window
  rank. The baseline at any scale; cost O(|Q| * N).
- ``hyperplane_lsh_topk``: random-hyperplane LSH — deterministic
  pseudo-hyperplanes (char-fold hash seeded, no RNG), bucket by
  signature, score only within the query's bucket. The 100 TB path:
  the corpus is hashed once (linear shuffle on bucket), each query
  probes one bucket. Recall < 1 by construction; raise ``planes``
  tables or multi-probe for higher recall.

Both are pure DataFrame ops; scoring uses the sequential-fold cosine
(bit-reproducible, see functions.vectors). A NumPy/Arrow matmul variant
of brute-force scoring exists in bench.py for throughput comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import vectors as V


def _argmax_assign(
    base: DataFrame,
    cent: DataFrame,
    id_col: str,
    vec_col: str,
    norm_col: str,
    cv_col: str,
    cn_col: str,
) -> DataFrame:
    """Nearest-centroid assignment (argmax cosine, ties to the lowest
    cid) as ONE aggregate with map-side partial aggregation (r17,
    guide §2.3/§2.4): ``max_by`` keyed on ``struct(cos, -cid)``.

    The per-id window form this replaces shuffled the WHOLE
    corpus x centroids cross product — n*k rows each carrying both
    vectors (~1 KB at 64 dims) — plus a per-partition sort; because a
    broadcast crossJoin leaves every id's k candidate rows in one
    partition, the partial ``max_by`` reduces them map-side and the
    exchange carries n already-reduced rows. Selection is identical:
    ``row_number over (cos desc, cid asc) == 1`` and ``max_by`` over
    ``(cos, -cid)`` pick the same row under Spark's total ordering
    (NaN greatest on both paths; cid unique per group, so the key is
    a total order — requires a numeric cid, true for every caller:
    row_number cells or numeric vector ids). Returns
    (id_col, vec_col, norm_col, cell)."""
    cos = V.dot(F.col(vec_col), F.col(cv_col)) / (F.col(norm_col) * F.col(cn_col))
    return (
        base.crossJoin(F.broadcast(cent))
        .select(id_col, vec_col, norm_col, "cid", cos.alias("__cos"))
        .groupBy(id_col)
        .agg(
            F.max_by(
                F.struct(vec_col, norm_col, "cid"),
                F.struct(F.col("__cos"), (-F.col("cid")).alias("__nc")),
            ).alias("__b")
        )
        .select(
            id_col,
            F.col(f"__b.{vec_col}").alias(vec_col),
            F.col(f"__b.{norm_col}").alias(norm_col),
            F.col("__b.cid").alias("cell"),
        )
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
) -> DataFrame:
    """Exact top-k neighbors for each query vector (self excluded).

    Returns (query_id, rank, neighbor_id, cos_sim); rank breaks cosine
    ties by neighbor_id for determinism.
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), V.to_double(F.col(vec_col)).alias("cv")
    ).withColumn("cn", V.norm(F.col("cv")))
    q = queries.select(
        F.col(id_col).alias("query_id"), V.to_double(F.col(vec_col)).alias("qv")
    ).withColumn("qn", V.norm(F.col("qv")))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos_sim",
            V.dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos_sim")
    )


def _splitmix64(x: int) -> int:
    """Public-domain splitmix64 finalizer: the standard 64-bit avalanche
    mixer (Steele et al., "Fast splittable pseudorandom number
    generators"). Every input bit affects every output bit."""
    mask = (1 << 64) - 1
    x = (x + 0x9E3779B97F4A7C15) & mask
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & mask
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & mask
    return x ^ (x >> 31)


def hyperplane_weights(planes: int, dims: int) -> list[list[int]]:
    """planes x dims matrix of deterministic +-1 weights:
    ``w[p][d] = sign bit of splitmix64(p * dims + d)``.

    NOT derived from the char-fold hash's low bit: ``char_fold(s) % 2``
    over an odd modulus collapses to the parity of the string's char
    sum, which for "p:{p}:{d}" strings produces a +-checkerboard —
    every row identical up to sign, i.e. ONE effective hyperplane (a
    bug this engine shipped in rounds 1-2: 64 "planes" yielded 4
    distinct signatures over the whole corpus). splitmix64's avalanche
    makes rows independent; determinism and oracle-reproducibility are
    unchanged because the weights are materialized as literals into
    both the Spark expression and the DuckDB SQL.
    """
    return [
        [((_splitmix64(p * dims + d) >> 32) & 1) * 2 - 1 for d in range(dims)]
        for p in range(planes)
    ]


def signature_expr(vec_col, weights: list[list[int]]):
    """Bucket id: bit p = [dot(v, w_p) > 0], packed little-endian."""
    sig = F.lit(0).cast("long")
    for p, row in enumerate(weights):
        warr = F.array(*[F.lit(float(x)) for x in row])
        bit = F.when(V.dot(vec_col, warr) > 0, F.lit(1 << p).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = sig + bit
    return sig


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the coarse-quantizer ANN
    path: partition the corpus into ``n_cells`` Voronoi cells around
    centroids, probe only the query's ``nprobe`` nearest cells.

    Centroids here are the ``n_cells`` smallest-id vectors (one scan,
    deterministic, oracle-reproducible); a production index would run
    k-means first — the query-time dataflow is identical, and that is
    what this operator exercises. Assignment = argmax cosine over the
    broadcast centroid block (ties to the lower cell id).

    Scale (100 TB): the corpus is assigned once (broadcast centroids,
    narrow map + per-row rank — no corpus shuffle beyond the cell
    grouping); each query scores ~nprobe/n_cells of the corpus. Recall
    < 1 by construction; raise nprobe for higher recall.
    """
    if centroids is not None:
        # a TRAINED coarse quantizer (e.g. lloyd_centroids output,
        # columns (cid, cv, cn)) — the v15 path; query dataflow below
        # is identical either way
        cent = centroids.select(
            "cid", F.col("cv").alias("cv_c"), F.col("cn").alias("cn_c")
        )
    else:
        cent = (
            corpus.orderBy(F.col(id_col).asc())
            .limit(n_cells)
            .select(
                F.col(id_col).alias("cid"), V.to_double(F.col(vec_col)).alias("cv_c")
            )
            .withColumn("cn_c", V.norm(F.col("cv_c")))
        )

    def assign(df: DataFrame, out_id: str, out_vec: str, out_norm: str, keep: int) -> DataFrame:
        base = df.select(
            F.col(id_col).alias(out_id), V.to_double(F.col(vec_col)).alias(out_vec)
        ).withColumn(out_norm, V.norm(F.col(out_vec)))
        if keep == 1:
            # the corpus-sized cell assignment: one max_by aggregate
            # (map-side partial), not a window over the n*k cross
            # product — see _argmax_assign (r17)
            return _argmax_assign(
                base, cent, out_id, out_vec, out_norm, "cv_c", "cn_c"
            )
        w = Window.partitionBy(out_id).orderBy(
            (V.dot(F.col(out_vec), F.col("cv_c")) / (F.col(out_norm) * F.col("cn_c"))).desc(),
            F.col("cid").asc(),
        )
        return (
            base.crossJoin(F.broadcast(cent))
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= keep)
            .select(out_id, out_vec, out_norm, F.col("cid").alias("cell"))
        )

    cells = assign(corpus, "neighbor_id", "cv", "cn", keep=1)
    probes = assign(queries, "query_id", "qv", "qn", keep=nprobe)
    scored = (
        cells.join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos_sim",
            V.dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos_sim")
    )


def hyperplane_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    planes: int = 8,
    dims: int = 64,
    multiprobe: bool = False,
) -> DataFrame:
    """Approximate top-k: score only neighbors in the query's LSH bucket.

    Deterministic end-to-end (pseudo-random hyperplanes from the char-
    fold hash), so the result is oracle-reproducible despite being
    approximate relative to brute force.

    ``multiprobe=True`` additionally probes every bucket at hamming
    distance 1 from the query's signature (flip each plane bit) —
    planes+1 buckets per query instead of 1. This is the standard
    recall lever for hyperplane LSH: a near neighbor differs from the
    query on few planes, so most misses sit one bit away. Cost scales
    linearly with probes, still a vanishing corpus fraction; the probe
    set is deterministic, so the oracle enumerates it too.
    """
    weights = hyperplane_weights(planes, dims)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), V.to_double(F.col(vec_col)).alias("cv")
    )
    c = c.withColumn("bucket", signature_expr(F.col("cv"), weights)).withColumn(
        "cn", V.norm(F.col("cv"))
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), V.to_double(F.col(vec_col)).alias("qv")
    )
    q = q.withColumn("bucket", signature_expr(F.col("qv"), weights)).withColumn(
        "qn", V.norm(F.col("qv"))
    )
    if multiprobe:
        probe_set = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << p)) for p in range(planes)],
        )
        q = q.withColumn("bucket", F.explode(probe_set))
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos_sim",
            V.dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")),
        )
    )
    if multiprobe:
        # a neighbor can match several probes of one query: dedup pairs
        scored = scored.dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos_sim")
    )


def hyperplane_lsh_topk_adaptive(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    dims: int = 64,
    target_occupancy: int = 64,
    r_min: int = 4,
    r_cap: int = 16,
    multiprobe: bool = True,
    n_rows: int | None = None,
) -> DataFrame:
    """``hyperplane_lsh_topk`` with the signature WIDTH derived from
    corpus size (the ANN port of dedup.adaptive_band_bits — VERDICT
    r10 noted v2/v4's fixed key space inherits d14's caveat): planes =
    smallest r with ``2**r * target_occupancy >= n``, so expected
    bucket occupancy — and therefore the per-query candidate scan —
    stays ~constant as the corpus grows, where a fixed 8-bit signature
    scans n/256 rows per probe (linear in n). The weights are the
    SAME deterministic table's first r rows, so an oracle computing
    the full r_cap-bit signature and masking the low r bits replays
    the buckets exactly while r stays data-derived on both engines.
    One driver-side scalar (the corpus count; table stats at 100 TB).
    Multiprobe defaults ON: with occupancy-targeted r the probe count
    tracks r = O(log n) while each probe's cost stays bounded."""
    from .dedup import adaptive_band_bits

    # the corpus count only sizes the signature width; table-backed
    # callers pass it from parquet footer statistics
    # (operators/dml.py:parquet_row_count) so no count job runs (r17)
    n = corpus.count() if n_rows is None else n_rows
    r = adaptive_band_bits(n, target_occupancy, r_min, r_cap)
    return hyperplane_lsh_topk(
        corpus, queries, id_col, vec_col,
        k=k, planes=r, dims=dims, multiprobe=multiprobe,
    )


def lloyd_centroids(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int = 8,
    iterations: int = 1,
    exact_means: bool = False,
) -> DataFrame:
    """The centroid-training half of :func:`kmeans_lloyd`: smallest-id
    init, ``iterations`` Lloyd rounds, returns the final centroid
    frame (cid, cv, cn) as ONE lazy plan — the trained coarse
    quantizer an IVF index consumes (v15 wires it into
    :func:`ivf_topk`). Identical computation to the loop inside
    kmeans_lloyd (extracted, not re-derived), so v6/v9 parity
    semantics are unchanged."""
    cent, _e, _assign = _lloyd_loop(
        emb, id_col, vec_col, n_cells, iterations, exact_means
    )
    return cent


def kmeans_lloyd(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int = 8,
    iterations: int = 1,
    exact_means: bool = False,
) -> DataFrame:
    """Lloyd's k-means over an embedding column -> (id, cell) final
    assignment: the centroid builder the IVF index (ivf_topk) docstring
    promises, and the representative *iterative* algorithm of the
    similarity family (like connected_components for dedup).

    Deterministic end-to-end, so exact against a SQL oracle:

    - init: the ``n_cells`` smallest-id vectors, cells numbered 1..k in
      id order;
    - assignment: argmax cosine against the broadcast centroid block,
      ties to the lower cell id (per-row window, no corpus shuffle);
    - update (default, the 100 TB path): per-(cell, dim) mean as a
      plain SUM/COUNT — order-free, map-side partial aggregation, no
      per-group value buffering, so a hot cell never materializes its
      members in one executor's memory.
    - update (``exact_means=True``, the oracle-parity path): the mean
      as a SEQUENTIAL id-ordered fold (sort_array(collect_list) +
      aggregate) — bit-reproducible in any engine that folds in order
      (same convention as functions.vectors.dot), at the cost of
      collecting each (cell, dim)'s values into one array. Used by the
      DuckDB-oracled driver queries only; last-ulp drift between the
      two paths can flip argmax ties, so parity queries must pin one.

    Each iteration = one assign + one centroid update; the returned
    assignment uses the final centroids. Scale: assignment is a narrow
    map over a broadcast O(k x dims) block; the update shuffles
    (cell, dim, val) triples — rows x dims of a few bytes, linear.
    """
    cent, e, assign = _lloyd_loop(
        emb, id_col, vec_col, n_cells, iterations, exact_means
    )
    return assign(cent).select("id", "cell")


def _lloyd_loop(emb, id_col, vec_col, n_cells, iterations, exact_means):
    e = (
        emb.select(F.col(id_col).alias("id"), V.to_double(F.col(vec_col)).alias("v"))
        .withColumn("n", V.norm(F.col("v")))
    )
    # every assign round (iterations + the final assignment) references
    # e; persist pins the corpus projection + interpreted-fold norms to
    # one evaluation (r16 same-session A/B: v9 2.79 -> 2.55 s at sf0.1,
    # consistently better across rounds; v6 neutral)
    e = e.persist()
    # global window is safe here: it runs AFTER limit(n_cells), over
    # exactly n_cells rows (<=256), never over the corpus
    w_seed = Window.orderBy(F.col("id").asc())
    cent = (
        e.orderBy(F.col("id").asc())
        .limit(n_cells)
        .select(
            F.row_number().over(w_seed).alias("cid"),
            F.col("v").alias("cv"),
            F.col("n").alias("cn"),
        )
    )

    def assign(centroids: DataFrame) -> DataFrame:
        # one max_by aggregate per round instead of a window over the
        # n*k cross product — see _argmax_assign (r17)
        return _argmax_assign(e, centroids, "id", "v", "n", "cv", "cn")

    for _ in range(iterations):
        assigned = assign(cent)
        triples = assigned.select("cell", "id", F.posexplode("v").alias("i", "val"))
        if exact_means:
            dims = (
                triples.groupBy("cell", "i")
                .agg(
                    F.sort_array(F.collect_list(F.struct("id", "val"))).alias("vals"),
                )
                .select(
                    "cell",
                    "i",
                    (
                        F.aggregate(
                            F.col("vals"), F.lit(0.0), lambda a, s: a + s["val"]
                        )
                        / F.size("vals").cast("double")
                    ).alias("mean"),
                )
            )
        else:
            dims = (
                triples.groupBy("cell", "i")
                .agg((F.sum("val") / F.count(F.lit(1))).alias("mean"))
            )
        cent = (
            dims.groupBy("cell")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("i", "mean"))),
                    lambda s: s["mean"],
                ).alias("cv")
            )
            .select(F.col("cell").alias("cid"), "cv")
            .withColumn("cn", V.norm(F.col("cv")))
        )
        # NOTE: keep the iterations as one chained lazy plan. The
        # driver-resident-centers variant (collect k centroids, re-
        # broadcast a literal relation per iteration) was measured
        # SLOWER here (v9: 5.2s vs 3.0s at sf0.1): Catalyst's
        # ReusedExchange already dedupes the repeated per-iteration
        # subplans, while the collect barrier splits the work into
        # serial jobs and forfeits that reuse.
    return cent, e, assign


def brute_force_topk_matmul(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
) -> DataFrame:
    """Exact top-k by blocked matrix multiply — the 100 TB brute-force
    path (functions.vectors module note): queries form one small
    broadcast NumPy block; every corpus partition computes
    (partition x queries) similarities in ONE normalized matmul and
    emits only its local top-k per query; a final per-query window
    keeps the global top-k.

    No per-pair rows ever materialize (the fold/pandas-UDF paths build
    |corpus| x |queries| rows first), shuffle carries at most
    partitions x queries x k candidate rows, and the matmul runs at
    BLAS speed. Queries are collected to the driver for the broadcast —
    by construction the query block is small (it must fit every
    executor); corpus-sized query sets should use the LSH/IVF paths.

    Float note: NumPy sums pairwise/SIMD, so scores can differ from the
    sequential fold in the last ulp — rankings are pinned to the fold
    path in tests; the oracle-exact variant is brute_force_topk.
    """
    import numpy as np
    import pandas as pd  # noqa: F401

    from pyspark.sql import types as T

    q_rows = (
        queries.select(F.col(id_col).alias("qid"), V.to_double(F.col(vec_col)).alias("qv"))
        .collect()
    )
    if not q_rows:
        return corpus.sparkSession.createDataFrame(
            [], "query_id long, rank int, neighbor_id long, cos_sim double"
        )
    q_ids = np.array([r.qid for r in q_rows])
    q_mat = np.stack([np.asarray(r.qv) for r in q_rows])
    q_mat = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)
    sc = corpus.sparkSession.sparkContext
    b_ids, b_mat = sc.broadcast(q_ids), sc.broadcast(q_mat)

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )

    def local_topk(batches):
        qi, qm = b_ids.value, b_mat.value
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            m = np.stack(pdf["v"].to_numpy())
            m = m / np.linalg.norm(m, axis=1, keepdims=True)
            sims = m @ qm.T  # (rows x queries)
            for j in range(len(qi)):
                col = sims[:, j]
                mask = ids != qi[j]
                cand_idx = np.nonzero(mask)[0]
                if not len(cand_idx):
                    continue
                take = min(k, len(cand_idx))
                top = cand_idx[np.argsort(-col[cand_idx], kind="stable")[:take]]
                yield __import__("pandas").DataFrame(
                    {
                        "query_id": np.repeat(qi[j], take),
                        "neighbor_id": ids[top],
                        "cos_sim": col[top],
                    }
                )

    cands = (
        corpus.select(F.col(id_col).alias("id"), V.to_double(F.col(vec_col)).alias("v"))
        .mapInPandas(local_topk, out_schema)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos_sim")
    )


def quantize_int8(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Per-vector symmetric int8 scalar quantization of an embedding
    column — the storage/bandwidth lever for ANN at 100 TB (4x smaller
    than float32, 8x than float64; dot products stay SIMD-able).

    ``scale = 127 / max|x|``, ``q_i = round(x_i * scale)`` (HALF_UP —
    round half away from zero, matching DuckDB/ANSI ``round``), so
    ``q_i ∈ [-127, 127]`` and dequantization is ``q_i / scale``.

    Returns per-vector quantization audit columns: the scale, the int8
    codes' L1 mass, and the max absolute reconstruction error. All
    element-wise double ops plus order-free max / exact integer sums —
    bit-reproducible in ANSI SQL (no float reassociation anywhere).
    """
    bound = df.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
    )
    # nullif: an all-zero vector would give scale = 127/0 = Inf and
    # engine-dependent round(Inf)->int behavior; NULL-propagate instead
    # so the degenerate row carries NULL audit columns in both engines
    scale = F.lit(127.0) / F.nullif(
        F.array_max(F.transform(F.col("__v"), F.abs)), F.lit(0.0)
    )
    quantized = bound.select("id", "__v", scale.alias("scale")).select(
        "id",
        "__v",
        "scale",
        F.transform(
            F.col("__v"), lambda x: F.round(x * F.col("scale")).cast("int")
        ).alias("__q"),
    )
    return quantized.select(
        "id",
        "scale",
        F.size("__q").alias("n_dims"),
        F.aggregate(
            F.transform(F.col("__q"), lambda q: F.abs(q).cast("long")),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ).alias("q_l1"),
        F.array_max(
            F.zip_with(
                F.col("__q"),
                F.col("__v"),
                lambda q, x: F.abs(q.cast("double") / F.col("scale") - x),
            )
        ).alias("max_abs_err"),
    )


def quantized_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    shortlist: int = 20,
) -> DataFrame:
    """Two-stage ANN: int8-quantized scoring builds a per-query
    shortlist, exact float cosine reranks it — the standard
    quantize-then-rerank retrieval pattern (the 100 TB shape: the
    shortlist scan touches 4-8x fewer bytes than float64 vectors, and
    the exact path reads only ``shortlist`` full vectors per query).

    Determinism end to end: quantization follows ``quantize_int8``
    (scale = 127/max|x|, HALF_UP rounding — identical in DuckDB), the
    int8 dot product is an EXACT BIGINT fold, the approximate cosine is
    one fixed chain of double ops on exact ints, and every window rank
    carries an id tiebreak — so even the intermediate shortlist is
    bit-reproducible by the SQL oracle.

    Returns (query_id, rank, neighbor_id, cos_sim, approx_cos):
    ``cos_sim`` is the exact sequential-fold cosine used for the final
    rank; ``approx_cos`` is the quantized stage's estimate, kept so the
    approximation error is auditable in-row.
    """

    def prep(df: DataFrame, pre: str) -> DataFrame:
        v = V.to_double(F.col(vec_col))
        base = df.select(F.col(id_col).alias(f"{pre}id"), v.alias(f"{pre}v"))
        # zero-norm vectors have no defined cosine and would make
        # scale = 127/0 = Inf with engine-dependent int casts; drop
        # them up front (mirrored in the SQL oracle)
        base = base.filter(F.array_max(F.transform(F.col(f"{pre}v"), F.abs)) > 0)
        scale = F.lit(127.0) / F.array_max(F.transform(F.col(f"{pre}v"), F.abs))
        return (
            base.withColumn(f"{pre}scale", scale)
            .withColumn(
                f"{pre}q",
                F.transform(
                    F.col(f"{pre}v"),
                    lambda x: F.round(x * F.col(f"{pre}scale")).cast("int"),
                ),
            )
            .withColumn(f"{pre}n", V.norm(F.col(f"{pre}v")))
        )

    c = prep(corpus, "c")
    q = prep(queries, "q")
    qdot = F.aggregate(
        F.zip_with(F.col("qq"), F.col("cq"), lambda a, b: (a * b).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    approx = qdot.cast("double") / (
        F.col("qscale") * F.col("cscale") * F.col("qn") * F.col("cn")
    )
    scored = (
        c.join(F.broadcast(q), F.col("qid") != F.col("cid"))
        .withColumn("approx_cos", approx)
    )
    w_short = Window.partitionBy("qid").orderBy(
        F.col("approx_cos").desc(), F.col("cid").asc()
    )
    short = scored.withColumn("__sr", F.row_number().over(w_short)).filter(
        F.col("__sr") <= shortlist
    )
    exact = V.dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    w_final = Window.partitionBy("qid").orderBy(
        F.col("cos_sim").desc(), F.col("cid").asc()
    )
    return (
        short.withColumn("cos_sim", exact)
        .withColumn("rank", F.row_number().over(w_final))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            "rank",
            F.col("cid").alias("neighbor_id"),
            "cos_sim",
            "approx_cos",
        )
    )


def semantic_dedup_labels(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (cluster-then-prune,
    Abbas et al. 2023 lineage): assign every embedding to a cluster,
    then run EXACT cosine pruning only WITHIN each cluster — the
    clustering is what bounds the quadratic: pair comparisons never
    cross cluster boundaries, so the cost is sum of cluster-size^2,
    not corpus^2. At 100 TB, n_cells scales with the corpus to hold
    cluster size roughly constant, making the prune stage linear; the
    d5l banded-LSH path is the alternative when no cluster structure
    is wanted.

    Deterministic end-to-end (everything oracle-exact):

    - clustering: one argmax-cosine assignment against the
      ``n_cells`` smallest-id seed vectors (the kmeans_lloyd init,
      broadcast O(k x dims) block, ties to the lower cell id) — the
      operator's semantics are assignment-policy-agnostic, and the
      seed pass keeps the oracle a single CTE instead of an unrolled
      Lloyd chain;
    - keep policy: a vector is a duplicate iff a LOWER-ID neighbor in
      its own cluster has cosine >= ``threshold`` (greedy-by-id
      representative selection — deterministic, no RNG).

    Returns (vec_id, cell, is_dup) with is_dup as 0/1 INT (engine-
    neutral; the full row set is emitted so keep AND drop decisions
    are both compared).
    """
    e = emb.select(
        F.col(id_col).alias("id"), V.to_double(F.col(vec_col)).alias("v")
    ).withColumn("nrm", V.norm(F.col("v")))
    w_seed = Window.orderBy(F.col("id").asc())
    cent = (
        e.orderBy(F.col("id").asc())
        .limit(n_cells)
        .select(
            F.row_number().over(w_seed).alias("cid"),
            F.col("v").alias("cv"),
            F.col("nrm").alias("cn"),
        )
    )
    asg = (
        # one max_by aggregate instead of a window over the n*k cross
        # product — see _argmax_assign (r17)
        _argmax_assign(e, cent, "id", "v", "nrm", "cv", "cn")
        # asg feeds three consumers (both pair sides + the final left
        # join); a lazy localCheckpoint materializes the assignment
        # once instead of re-running the broadcast-argmax per consumer
        .localCheckpoint(eager=False)
    )
    a = asg.select(
        "cell", F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b = asg.select(
        "cell", F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    dups = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            V.dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")) >= threshold
        )
        .select(F.col("id_b").alias("id"))
        .distinct()
        .withColumn("__d", F.lit(1))
    )
    return asg.join(dups, "id", "left").select(
        F.col("id").alias("vec_id"),
        "cell",
        F.coalesce(F.col("__d"), F.lit(0)).cast("int").alias("is_dup"),
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    dims: int = 64,
    m_subs: int = 8,
    k_codes: int = 16,
    shortlist: int = 20,
    k: int = 5,
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (Jegou et al. 2011 lineage): vectors compress to ``m_subs`` code
    bytes (64 floats -> 8 codes here = 32x), queries score the WHOLE
    corpus through a tiny per-query lookup table, and only a
    ``shortlist``-deep candidate set ever touches full-precision
    vectors. This is the memory story of billion-scale ANN at 100 TB:
    the scored representation is codes, not floats.

    Deterministic end-to-end (every stage oracle-exact):

    - codebooks: per subspace, the ``k_codes`` smallest-id vectors'
      subvectors (seed policy, same convention as kmeans_lloyd init /
      semantic_dedup_labels — assignment-policy-agnostic semantics,
      keeps the oracle a plain CTE);
    - encoding: argmin L2 over the broadcast O(m_subs x k_codes x d)
      codebook block, sequential-fold squared distance, ties to the
      lower code;
    - ADC scores: per-subspace query/codebook dot products summed in
      SUBSPACE ORDER (an order-restoring 8-element fold — never a
      parallel double SUM, which is partition-order-dependent);
    - rerank: exact full-precision cosine over the shortlist, id
      tiebreaks everywhere.

    Returns (query_id, rank, neighbor_id, cos_sim, approx_dot).
    """
    if dims % m_subs:
        raise ValueError("m_subs must divide dims evenly")
    d = dims // m_subs
    e = corpus.select(
        F.col(id_col).alias("id"), V.to_double(F.col(vec_col)).alias("v")
    ).withColumn("nrm", V.norm(F.col("v")))

    def to_subs(df: DataFrame, pre: str) -> DataFrame:
        return df.select(
            F.col("id").alias(f"{pre}id"),
            F.posexplode(
                F.expr(f"transform(sequence(0, {m_subs - 1}), i -> slice(v, i*{d}+1, {d}))")
            ).alias("m", f"{pre}sv"),
        )

    subs = to_subs(e, "")
    w_seed = Window.orderBy(F.col("id").asc())
    seeds = (
        e.orderBy(F.col("id").asc())
        .limit(k_codes)
        .select((F.row_number().over(w_seed) - 1).alias("code"), "id", "v")
    )
    cb = seeds.select(
        "code",
        F.posexplode(
            F.expr(f"transform(sequence(0, {m_subs - 1}), i -> slice(v, i*{d}+1, {d}))")
        ).alias("m", "cv"),
    )

    def l2sq(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    # argmin-L2 encoding as ONE min_by aggregate (r17): the window form
    # shuffled the n*m_subs*k_codes cross product (every row carrying
    # two subvectors) by (id, m) plus a sort; min_by keyed on
    # struct(l2sq, code) picks the identical row (asc ordering, ties to
    # the lower code, NaN greatest on both paths) and partial-
    # aggregates map-side, so the exchange carries one reduced row per
    # (id, m) — same mechanism as _argmax_assign.
    enc = (
        subs.join(F.broadcast(cb), "m")
        .select(
            "id", "m", "code",
            l2sq(F.col("sv"), F.col("cv")).alias("__d2"),
        )
        .groupBy("id", "m")
        .agg(
            F.min_by(
                F.col("code"), F.struct(F.col("__d2"), F.col("code"))
            ).alias("code")
        )
    )

    q = queries.select(
        F.col(id_col).alias("id"), V.to_double(F.col(vec_col)).alias("v")
    ).withColumn("nrm", V.norm(F.col("v")))
    qsubs = to_subs(q, "q")
    lut = qsubs.join(F.broadcast(cb), "m").select(
        F.col("qid"), "m", "code", V.dot(F.col("qsv"), F.col("cv")).alias("part")
    )
    approx = (
        enc.join(F.broadcast(lut), ["m", "code"])
        .groupBy("qid", "id")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("m", "part"))),
                F.lit(0.0),
                lambda acc, s: acc + s["part"],
            ).alias("approx_dot")
        )
    )
    w_short = Window.partitionBy("qid").orderBy(
        F.col("approx_dot").desc(), F.col("id").asc()
    )
    short = (
        approx.filter(F.col("qid") != F.col("id"))
        .withColumn("__sr", F.row_number().over(w_short))
        .filter(F.col("__sr") <= shortlist)
    )
    ex = (
        short.join(e.select(F.col("id"), F.col("v").alias("cvfull"), F.col("nrm").alias("cn")), "id")
        .join(
            q.select(F.col("id").alias("qid"), F.col("v").alias("qvfull"), F.col("nrm").alias("qn")),
            "qid",
        )
        .withColumn(
            "cos_sim",
            V.dot(F.col("qvfull"), F.col("cvfull")) / (F.col("qn") * F.col("cn")),
        )
    )
    w_rank = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("id").asc())
    return (
        ex.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            "rank",
            F.col("id").alias("neighbor_id"),
            "cos_sim",
            "approx_dot",
        )
    )


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    n_candidates: int = 10,
    k: int = 5,
    lam: float = 0.5,
) -> DataFrame:
    """Maximal Marginal Relevance diversified re-ranking (Carbonell &
    Goldstein 1998) — the RAG retrieval step between ANN shortlist and
    prompt assembly: greedily pick the candidate maximizing
    ``lam * sim(q, d) - (1 - lam) * max_{s in S} sim(d, s)`` so the
    final k results are relevant AND mutually diverse (near-duplicate
    chunks waste context tokens).

    Structure for scale: the EXPENSIVE part of retrieval is the
    shortlist (v1/v3/v7 paths); MMR itself runs on a per-query
    candidate set bounded by ``n_candidates``, so every join here is
    keyed by query_id with ≤ n_candidates x k pair rows per query —
    state is O(queries x n_candidates), never corpus-sized, and the
    k-step loop unrolls into one lazy plan (no driver round-trips).

    Determinism: vectors are unit-normalized once (element / norm,
    sequential fold), similarities are sequential-fold dots, and every
    argmax breaks ties by neighbor_id — bit-reproducible anywhere.
    Returns (query_id, step, neighbor_id, mmr_score).
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), V.to_double(F.col(vec_col)).alias("cv")
    ).withColumn("cn", V.norm(F.col("cv")))
    c = c.select(
        "neighbor_id",
        F.transform(F.col("cv"), lambda x: x / F.col("cn")).alias("uc"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), V.to_double(F.col(vec_col)).alias("qv")
    ).withColumn("qn", V.norm(F.col("qv")))
    q = q.select(
        "query_id",
        F.transform(F.col("qv"), lambda x: x / F.col("qn")).alias("uq"),
    )
    scored = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")).select(
        "query_id", "neighbor_id", "uc", V.dot(F.col("uq"), F.col("uc")).alias("sim_q")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim_q").desc(), F.col("neighbor_id").asc()
    )
    cand = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n_candidates)
        .drop("rn")
    )
    # step 1: empty selected set, score = lam * sim_q
    sel = cand.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).select(
        "query_id",
        F.lit(1).cast("long").alias("step"),
        "neighbor_id",
        (F.lit(lam) * F.col("sim_q")).alias("mmr_score"),
        "uc",
    )
    for step in range(2, k + 1):
        rem = cand.join(
            sel.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"], "left_anti"
        )
        red = (
            rem.join(
                sel.select("query_id", F.col("uc").alias("us")), "query_id"
            )
            .withColumn("s", V.dot(F.col("uc"), F.col("us")))
            .groupBy("query_id", "neighbor_id")
            .agg(F.max("s").alias("red"), F.first("sim_q").alias("sim_q"))
        )
        ws = Window.partitionBy("query_id").orderBy(
            (F.lit(lam) * F.col("sim_q") - F.lit(1 - lam) * F.col("red")).desc(),
            F.col("neighbor_id").asc(),
        )
        pick = (
            red.withColumn("rn", F.row_number().over(ws))
            .filter(F.col("rn") == 1)
            .select(
                "query_id",
                F.lit(step).cast("long").alias("step"),
                "neighbor_id",
                (
                    F.lit(lam) * F.col("sim_q") - F.lit(1 - lam) * F.col("red")
                ).alias("mmr_score"),
            )
            .join(cand.select("query_id", "neighbor_id", "uc"), ["query_id", "neighbor_id"])
            .select("query_id", "step", "neighbor_id", "mmr_score", "uc")
        )
        sel = sel.unionByName(pick)
    return sel.select("query_id", "step", "neighbor_id", "mmr_score")
