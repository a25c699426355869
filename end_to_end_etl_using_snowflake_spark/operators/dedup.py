"""Deduplication family for LLM-training-data pipelines, over a
``documents(doc_id, text, ...)`` table.

Pair discovery (all pure DataFrame ops, no Python in the hot path):

- exact:            hash-groupBy on a normalized fingerprint
- n-gram Jaccard:   exact pairwise similarity via shingle inverted index
- MinHash + LSH:    banded minhash candidates -> exact verify (scale path)
- SimHash:          bit-majority signature + pigeonhole-banded hamming
- embedding cosine: near-dup pairs by vector similarity

Plus the downstream step: ``connected_components`` turns pair output
into per-document cluster labels (iterative min-label propagation).

Scale posture (100 TB):

- The shingle inverted index (``ngram_jaccard_pairs``) is quadratic in
  hot shingles — it is the *verification* primitive. Discovery at scale
  goes through ``minhash_lsh_pairs``: candidates are generated by a
  band-bucket shuffle (linear in docs x bands) and only candidates are
  verified. Stop-shingle filtering (drop shingles appearing in > F
  docs) bounds the worst key; AQE skew-join handles the rest.
- SimHash banding is exact by pigeonhole: hamming <= H pairs must agree
  on one of H+1 signature chunks -> equi-join per chunk, no cross join.
- All id pairs are emitted with ``id_a < id_b`` and deterministic
  values, so results are oracle-comparable.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as TXT
from .skew import is_undersplit


def _tokenized(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, __tok) — tokenization bound in its OWN projection so the
    regex/split pipeline runs once per row. Inlining ``tokens(text)``
    into ``word_shingles`` re-evaluates it per ``element_at`` inside the
    interpreted HOF lambda (~3n evals per shingle) — a 25x slowdown
    measured at sf0.1."""
    return df.select(F.col(id_col).alias("id"), TXT.tokens(F.col(text_col)).alias("__tok"))


def _shingle_sets(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, shingle) distinct pairs."""
    return (
        _tokenized(df, id_col, text_col)
        .select("id", F.explode(TXT.word_shingles(F.col("__tok"), n)).alias("shingle"))
        .distinct()
    )


def stop_shingle_filter(sh: DataFrame, max_doc_freq: int) -> DataFrame:
    """Drop stop-shingles: shingles appearing in > ``max_doc_freq`` docs.

    THE skew defense for shingle-based dedup at 100 TB: boilerplate
    n-grams ("all rights reserved the") occur in millions of docs and
    make posting lists / LSH verification quadratic in the hot key.
    Capping document frequency bounds every posting list at F, so
    pair-out work is <= F^2 per shingle, while true near-dup pairs
    keep their (rare, content-specific) shingles and stay above
    threshold over the capped space.

    Semantics are deterministic and oracle-expressible: similarity is
    *defined* over the capped shingle space (hot shingles removed from
    every doc's set), not a lossy approximation of the uncapped one.

    Scale shape: the hot-shingle list is tiny by construction (only
    keys with > F postings), so the anti-join broadcasts; AQE picks
    that up from the actual size at runtime.
    """
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > max_doc_freq)
        .select("shingle")
    )
    return sh.join(hot, "shingle", "left_anti")


def exact_dedup_clusters(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup: md5 fingerprint of normalized text -> clusters.

    Returns (fingerprint, rep_id = min id, n_dups). The keep-list is
    ``rep_id``; a 100 TB run joins it back as a left-semi filter.
    """
    return (
        df.select(
            F.md5(TXT.normalize(F.col(text_col))).alias("fingerprint"),
            F.col(id_col).alias("id"),
        )
        .groupBy("fingerprint")
        .agg(F.min("id").alias("rep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def decontaminate(
    train: DataFrame,
    eval_set: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_overlap: int = 1,
) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing >=
    ``min_overlap`` word-``n``-gram shingles with an evaluation set.

    The standard pre-training hygiene step (n-gram overlap against held-
    out benchmarks), expressed as a shingle semi-join: the eval shingle
    set is tiny relative to the corpus (benchmarks are a few MB even when
    training data is 100 TB), so it broadcasts and the corpus is scanned
    exactly once with no shuffle on the big side.

    Returns ``(id, n_overlap)`` for flagged docs only; the clean corpus
    is ``train LEFT ANTI JOIN flagged ON id``. Integer counts over
    distinct shingles — deterministic, exact-SQL-expressible.
    """
    train_sh = _shingle_sets(train, id_col, text_col, n)
    eval_sh = _shingle_sets(eval_set, id_col, text_col, n).select("shingle").distinct()
    return (
        train_sh.join(F.broadcast(eval_sh), "shingle", "inner")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .filter(F.col("n_overlap") >= min_overlap)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.6,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via shingle inverted index.

    jaccard = |A ∩ B| / (|A| + |B| - |A ∩ B|) as exact BIGINT counts +
    one IEEE double division (deterministic). Emits (id_a, id_b,
    jaccard) for jaccard >= threshold.

    ``max_doc_freq`` enables the stop-shingle cap
    (:func:`stop_shingle_filter`): similarity is then computed over the
    capped shingle space — the 100 TB skew defense.
    """
    sh = _shingle_sets(df, id_col, text_col, n)
    if max_doc_freq is not None:
        sh = stop_shingle_filter(sh, max_doc_freq)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    # inverted index: one groupBy(shingle) posting-list build + in-row
    # pair generation (sorted ids -> (x, y), x < y), then count per pair.
    # One shuffle of the shingle set instead of the self-join's two, and
    # postings never leave their row until actual pairs explode.
    ids = F.sort_array(F.collect_list("id"))
    pair_structs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + F.lit(2), F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    common = (
        sh.groupBy("shingle")
        .agg(ids.alias("ids"))
        .filter(F.size("ids") > 1)
        .select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.a").alias("id_a"), F.col("p.b").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _arrays_from_sets(sh: DataFrame) -> DataFrame:
    """(id, sh: array<string>) — the distinct shingle set per doc as an
    in-row array (unordered). Built by re-aggregating the exploded
    (id, shingle) set rather than with in-row array HOFs: the explode +
    groupBy stays in whole-stage codegen (the HOF formulation is
    interpreted AND Catalyst's CollapseProject re-inlines the
    tokenization per element access — 12s vs <1s at sf0.1), and the
    (id, shingle) distinct exchange is shared with the minhash
    signature path via ReusedExchange when both appear in one plan.
    Docs with no shingles produce no row (nothing to match)."""
    return sh.groupBy("id").agg(F.collect_list("shingle").alias("sh"))


def _signatures_from_sets(sh: DataFrame, num_hashes: int) -> DataFrame:
    """(id, sig: array<long>) minhash signatures from an (id, shingle)
    set — see :func:`minhash_signatures`."""
    aggs = [
        F.min(F.xxhash64(F.lit(k), F.col("shingle"))).alias(f"h{k}")
        for k in range(num_hashes)
    ]
    return (
        sh.groupBy("id")
        .agg(*aggs)
        .select("id", F.array(*[f"h{k}" for k in range(num_hashes)]).alias("sig"))
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, num_hashes: int = 16
) -> DataFrame:
    """K minhash values per doc as one array column ``sig``:
    ``sig[k] = min over shingles of xxhash64(k, shingle)`` — K seeded
    permutation-mins via explode + a codegen'd K-column min hash-agg.
    xxhash64 is a cheap JVM-native long hash (no hex-string allocation)
    and the whole stage is whole-stage-codegen — measured ~20x faster
    than the interpreted nested-HOF formulation. The hash choice is
    engine-local: LSH only *discovers* candidates; emitted pairs are
    exact-verified against true shingle sets, so results stay
    oracle-comparable.

    Scale (100 TB): explode + partial (map-side) min-agg means the
    shuffle carries only docs x K longs, not shingles."""
    return _signatures_from_sets(_shingle_sets(df, id_col, text_col, n), num_hashes)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    band_rows: int = 2,
    threshold: float = 0.6,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """MinHash + LSH near-dup discovery, exact-verified.

    1. K minhashes per doc; b = K/r bands of r rows (a candidate pair
       agrees on ALL r minhashes of some band). Miss probability for a
       true pair at similarity J: (1-J^r)^b — 8e-4 at J=0.6 with
       K=32/r=2, 3e-12 at the J>=0.9 pairs the corpus actually contains,
       so the output equals the exhaustive-Jaccard oracle. r=2 (vs r=1)
       keeps band buckets small on skewed corpora: a bucket needs
       agreement on a minhash *pair*, which hot shingles alone don't
       produce.
    2. Band buckets -> in-bucket pairs -> exact Jaccard verification
       (array_intersect of the two docs' shingle sets) -> threshold.

    Plan shape (one pass, no self-join): the signature subtree is
    evaluated exactly ONCE — bands explode into (band_key, id), a single
    groupBy collects each bucket's id list, and pairs are generated
    in-row with nested ``transform``/``slice``. The old
    band-self-join formulation evaluated the K-hash signature tree on
    both join sides and again per reference to ``candidates`` (~10x
    recompute). Verification then joins the (id -> shingle array) map
    twice by id — per-pair array_intersect, no inverted-index explode.

    Scale (100 TB): banding is one linear shuffle of (band_key, id)
    pairs — docs*b rows of a few bytes; bucket pair-out is quadratic
    only within a bucket, which r=2 banding keeps small; verification
    touches candidate pairs only. AQE handles residual bucket skew;
    ``max_doc_freq`` adds the stop-shingle cap
    (:func:`stop_shingle_filter`) — signatures AND verification then
    both operate on the capped shingle space, so the output equals the
    capped exhaustive Jaccard.
    """
    sh = _shingle_sets(df, id_col, text_col, n)
    if max_doc_freq is not None:
        sh = stop_shingle_filter(sh, max_doc_freq)
    sigs = _signatures_from_sets(sh, num_hashes)
    n_bands = num_hashes // band_rows
    band_keys = F.transform(
        F.sequence(F.lit(0), F.lit(n_bands - 1)),
        lambda b: F.concat_ws(
            "|",
            b.cast("string"),
            *[
                F.element_at(F.col("sig"), (b * band_rows + r + 1).cast("int")).cast("string")
                for r in range(band_rows)
            ],
        ),
    )
    banded = sigs.select("id", F.explode(band_keys).alias("band_key"))
    # in-bucket pair generation: sorted id list -> (x, y) for x < y,
    # built with array HOFs so a bucket never leaves its row until the
    # final explode of actual pairs.
    ids = F.sort_array(F.collect_list("id"))
    pair_structs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + F.lit(2), F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    candidates = (
        banded.groupBy("band_key")
        .agg(ids.alias("ids"))
        .filter(F.size("ids") > 1)
        .select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.a").alias("id_a"), F.col("p.b").alias("id_b"))
        .distinct()
    )

    # exact verification: shuffle candidate pairs to the docs' shingle
    # arrays (two id-equi joins) and intersect in-row. No broadcast
    # hints — AQE sizes the joins from the actual candidate count.
    arrays = _arrays_from_sets(sh)
    sh_a = arrays.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = arrays.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    common = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    return (
        candidates.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn("common", common)
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.size("sh_a") + F.size("sh_b") - F.col("common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, bits: int = 30
) -> DataFrame:
    """Bit-majority SimHash over token char-fold hashes (token
    multiplicity counts). ``bits`` <= 30 keeps every intermediate in
    exact BIGINT range; production would use xxhash64 and 64 bits."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(TXT.tokens(F.col(text_col))).alias("tok"),
    ).withColumn("h", TXT.char_fold_hash(F.col("tok")))
    bit_sums = toks.groupBy("id").agg(
        *[
            F.sum(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"s{i}")
            for i in range(bits)
        ]
    )
    sim = functools.reduce(
        operator.add,
        [
            F.when(F.col(f"s{i}") > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
            for i in range(bits)
        ],
    )
    return bit_sums.select("id", sim.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 30,
    max_hamming: int = 3,
    n_chunks: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs: hamming(sig_a, sig_b) <= max_hamming.

    Banded by pigeonhole — split the signature into ``max_hamming + 1``
    chunks; any pair within hamming H must agree exactly on >= 1 chunk,
    so candidates come from per-chunk equi-joins (no cross join) and the
    result is EXACT, not approximate. This is the scale path; a cross
    join would be O(N^2) at 100 TB.

    Each pair is emitted exactly once WITHOUT a distinct shuffle: the
    join additionally requires every EARLIER chunk to differ
    (first-agreeing-chunk ownership) — a cheap in-row filter on the two
    signatures in place of re-shuffling the candidate pair set (which
    on a clustered corpus is n_chunks x the output size).

    Plan shape: the chunk table is EXPLODED in-row to (chunk_idx,
    chunk_key) rows — n_chunks rows per doc — and self-joined ONCE on
    the composite key. One shuffle of n_chunks*N skinny rows and one
    join stage, instead of n_chunks separate self-joins each re-reading
    the signature subplan (measured 2.4x on the sf0.1 corpus; identical
    output).
    """
    n_chunks = n_chunks or (max_hamming + 1)
    sigs = simhash_signatures(df, id_col, text_col, bits)
    bounds = [(c * bits // n_chunks, (c + 1) * bits // n_chunks) for c in range(n_chunks)]

    def chunk(col: Column, lo: int, hi: int) -> Column:
        return F.shiftright(col, lo).bitwiseAND(F.lit((1 << (hi - lo)) - 1))

    chunks_arr = F.array(
        *[
            F.struct(F.lit(c).alias("c"), chunk(F.col("simhash"), lo, hi).alias("k"))
            for c, (lo, hi) in enumerate(bounds)
        ]
    )
    ct = sigs.select("id", "simhash", F.explode(chunks_arr).alias("ck")).select(
        "id", "simhash", F.col("ck.c").alias("c"), F.col("ck.k").alias("k")
    )
    a = ct.select(F.col("id").alias("id_a"), F.col("simhash").alias("sig_a"), "c", "k")
    b = ct.select(F.col("id").alias("id_b"), F.col("simhash").alias("sig_b"), "c", "k")
    # ownership: the joined chunk c is the FIRST chunk where the two
    # signatures agree; branch on c entirely in-row
    first_match = functools.reduce(
        operator.or_,
        [
            (F.col("c") == c)
            & functools.reduce(
                operator.and_,
                [
                    chunk(F.col("sig_a"), plo, phi) != chunk(F.col("sig_b"), plo, phi)
                    for plo, phi in bounds[:c]
                ],
                F.lit(True),
            )
            for c in range(n_chunks)
        ],
    )
    return (
        a.join(b, ["c", "k"])
        .filter((F.col("id_a") < F.col("id_b")) & first_match)
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def embedding_cosine_pairs(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """Embedding near-dup pairs: cosine(a, b) >= threshold, id_a < id_b.

    Brute force (block nested loop on the self-join) — correct baseline
    at any scale but O(N^2); the 100 TB path buckets by LSH hyperplane
    signature first (operators.similarity.hyperplane_lsh_topk) and only
    scores within buckets.
    """
    from ..functions import vectors as V

    e = emb.select(
        F.col(id_col).alias("id"), V.to_double(F.col(vec_col)).alias("v")
    ).withColumn("n", V.norm(F.col("v")))
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            (V.dot(F.col("a.v"), F.col("b.v")) / (F.col("a.n") * F.col("b.n"))).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


# Production near-dup preset: r = planes/bands = 8 bits per band.
# Banding recall 1-(1-p^r)^bands with p = 1 - theta/pi: at cos >= 0.9
# (p ~ 0.857) recall ~ 0.75, at cos >= 0.95 (p ~ 0.90) recall ~ 0.89,
# while a random pair (p = 0.5) survives a band with chance 2^-8 so
# candidate selectivity stays ~ 4/256 = 1.6%. The r=6 default tuned for
# this corpus's weak 0.5 threshold keeps ~30% recall (documented,
# NOTES.md); a real >= 0.9 near-dup job should pass **D5L_PRODUCTION.
# tests/test_scale_paths.py quantifies the measured curve on planted
# near-dup pairs.
D5L_PRODUCTION: dict[str, int] = {"planes": 32, "bands": 4}


def embedding_cosine_pairs_lsh(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.5,
    planes: int = 24,
    bands: int = 4,
    dims: int = 64,
    max_bucket: int | None = None,
) -> DataFrame:
    """Banded-LSH embedding near-dup pairs — the 100 TB default path
    (``embedding_cosine_pairs`` stays as the brute-force oracle
    baseline, mirroring the v1/v2 ANN split).

    Shape: hyperplane signature (``planes`` deterministic +-1
    hyperplanes) -> split into ``bands`` chunks of ``r = planes/bands``
    bits -> explode each vector into ``bands`` (band, chunk) keys ->
    ONE equi-self-join on the key over (id, sig) rows ONLY -> exact
    cosine scoring of the surviving candidates after joining the
    vectors back. No cartesian/BNLJ node anywhere, and the candidate
    join never shuffles a vector: its rows are (id, 1 long, band, key)
    — at 100 TB the banding shuffle carries ~24 bytes/row while the
    embeddings stay columnar at rest until the (much smaller) scoring
    join. Each pair is scored exactly once (the pigeonhole first-match
    predicate from simhash_pairs dedups across bands without a
    distinct shuffle).

    A pair is a candidate iff all ``r`` bits agree in SOME band — the
    standard banding recall curve: at this corpus's weak 0.5 threshold
    (theta = 60 deg, p_agree = 2/3) the r=6 default keeps ~7% of all
    pairs as candidates and ~30% recall; a production near-dup job at
    >= 0.9 (p_agree ~ 0.86) passes ``**D5L_PRODUCTION`` (r=8) and gets
    high recall with a collapsing candidate rate (measured curve:
    tests/test_scale_paths.py). Recall < 1 by construction; the
    operator is deterministic, so oracles replicate it exactly.

    ``max_bucket`` is the hot-bucket cap (the band-key port of the d7
    stop-shingle doc-freq cap): any (band, key) bucket holding more
    than ``max_bucket`` vectors is dropped from candidate generation,
    bounding the per-bucket join fan-out at ``max_bucket**2`` so a
    degenerate corpus (e.g. millions of identical boilerplate
    embeddings) cannot recreate the quadratic blowup inside one
    bucket. Capped mode dedups surviving pairs with a (long, long)
    ``distinct`` instead of the pigeonhole predicate, because a pair's
    FIRST agreeing band may be a dropped hot bucket while a later
    small bucket still legitimately holds it. A 100 TB run follows the
    cap with an exact groupBy over the capped ids (cheap: each dropped
    bucket is near-identical content that exact/minhash paths handle).
    """
    from ..functions import vectors as V
    from . import similarity as S

    if planes % bands:
        raise ValueError("bands must divide planes evenly")
    r = planes // bands
    mask = (1 << r) - 1
    weights = S.hyperplane_weights(planes, dims)
    e = (
        emb.select(F.col(id_col).alias("id"), V.to_double(F.col(vec_col)).alias("v"))
        .withColumn("n", V.norm(F.col("v")))
        .withColumn("sig", S.signature_expr(F.col("v"), weights))
    )
    # materialize the signature once across the four consumers — see
    # the adaptive variant's checkpoint note (r16)
    e = e.localCheckpoint(eager=False)

    def chunk(col: Column, b: int) -> Column:
        return F.shiftright(col, b * r).bitwiseAND(F.lit(mask))

    keyed = e.select("id", "sig").withColumn(
        "bk",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"), chunk(F.col("sig"), b).alias("key")
                    )
                    for b in range(bands)
                ]
            )
        ),
    ).select("id", "sig", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))

    a = keyed.select(
        F.col("id").alias("id_a"), F.col("sig").alias("sig_a"), "band", "key"
    )
    b = keyed.select(
        F.col("id").alias("id_b"), F.col("sig").alias("sig_b"), "band", "key"
    )
    # pigeonhole dedup: count a pair only in the FIRST band where the
    # chunks agree (all earlier bands must differ)
    first_match = F.coalesce(
        *[
            F.when(
                F.col("band") == c,
                F.lit(True)
                if c == 0
                else F.expr(" AND ".join(
                    f"(shiftright(sig_a, {cc * r}) & {mask}) != "
                    f"(shiftright(sig_b, {cc * r}) & {mask})"
                    for cc in range(c)
                )),
            )
            for c in range(bands)
        ]
    )
    if max_bucket is not None:
        # drop hot buckets BEFORE the self-join: the size aggregation
        # shuffles (band, key) pairs only, and the surviving join's
        # fan-out is bounded by max_bucket per bucket
        small = (
            keyed.groupBy("band", "key")
            .agg(F.count(F.lit(1)).alias("__bn"))
            .filter(F.col("__bn") <= max_bucket)
            .select("band", "key")
        )
        a = a.join(small, ["band", "key"])
        pairs = (
            a.join(b, ["band", "key"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
    else:
        pairs = (
            a.join(b, ["band", "key"])
            .filter((F.col("id_a") < F.col("id_b")) & first_match)
            .select("id_a", "id_b")
        )
    va = e.select(F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("n").alias("na"))
    vb = e.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("n").alias("nb"))
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "cos_sim", V.dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
        )
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def adaptive_band_bits(
    n: int, target_occupancy: int = 64, r_min: int = 4, r_cap: int = 16
) -> int:
    """Bits-per-band for banded LSH, derived FROM CORPUS SIZE so
    expected bucket occupancy stays constant as the corpus grows
    (VERDICT r10 #1 — the fix for the fixed-key-space quadratic):
    the smallest ``r`` in ``[r_min, r_cap]`` with
    ``2**r * target_occupancy >= n``, i.e. expected (band,key) bucket
    occupancy ``n / 2**r <= target_occupancy``.

    With a FIXED r, candidate enumeration is ``sum(bucket**2) ~
    n**2 / 2**r`` — still quadratic in aggregate no matter how good
    the hot-bucket cap is, because uniform growth keeps every bucket
    under the cap while each bucket's population grows linearly.
    Occupancy-targeted r makes the expected candidate count
    ``~ n * target_occupancy * bands / 2`` — linear in n.

    Integer-only derivation (a linear scan over <= 60 candidates) so
    the DuckDB oracle twin replicates it bit-exactly with the same
    comparison — no float log2 edge cases at exact powers of two.
    ``r_cap`` defaults to 16 (64k buckets/band — plenty through ~4M
    rows); a petabyte corpus passes a larger cap: per-band keys are
    independent longs, so r can grow to 62 before the key type
    saturates (at n = 1e10 and occupancy 64, r = 28).

    THE TRADE, stated honestly: banding recall is 1-(1-p^r)^bands, so
    at FIXED bands recall declines as r grows (at p=0.857 / cos~0.9:
    r=6 -> ~0.87, r=12 -> ~0.50). Occupancy-targeted r buys linear
    cost; RECALL is held by raising ``bands`` (more hash tables) as r
    grows — bands is a caller-visible parameter on every LSH entry
    here, and each added band costs one more (band,key) explosion row
    per vector, not a new scan. The oracle replays any (r, bands)
    choice exactly, so the recall/cost point is a tuning decision, not
    a correctness one (measured curves: tests/test_scale_paths.py).
    """
    if target_occupancy < 1:
        raise ValueError("target_occupancy must be >= 1")
    for r in range(r_min, r_cap + 1):
        if (1 << r) * target_occupancy >= n:
            return r
    return r_cap


def adaptive_lsh_recall_geometry(
    n: int,
    p_agree: float,
    recall_target: float = 0.8,
    target_occupancy: int = 64,
    r_min: int = 4,
    r_cap: int = 62,
    bands_cap: int = 64,
) -> tuple[int, int]:
    """The COMPLETE adaptive geometry: (bits_per_band, bands) holding
    BOTH invariants as the corpus grows — expected bucket occupancy
    <= ``target_occupancy`` (cost: candidates ~ linear in n) AND
    banding recall >= ``recall_target`` at per-bit agreement
    probability ``p_agree`` (recall = 1 - (1 - p^r)^bands, so bands =
    ceil(log(1 - recall) / log(1 - p^r)) — the standard multi-table
    LSH sizing, e.g. Mining of Massive Datasets ch. 3).

    ``p_agree`` for hyperplane signatures at cosine threshold t is
    ``1 - acos(t)/pi`` (pass it in; keeping transcendental math OUT of
    this function keeps the derivation integer-exact given p). Cost of
    holding recall: bands grows ~ 1/(1-p^r) as the per-band hit
    rate shrinks with r — at p = 0.857 (cos 0.9), recall 0.8,
    occupancy 64: n=2k -> (5, 3), n=200k -> (12, 10), n=1e10 ->
    (28, 122 capped to ``bands_cap``). When the cap binds, the
    function keeps it and the CALLER decides whether to accept the
    lower recall or relax occupancy/threshold. Each band is one more
    24-byte row per vector in the banding shuffle — bands=10 at 200k
    rows is 2M skinny rows, nothing, against a guaranteed recall
    floor.

    Driver-side pure function (no Spark); unit-pinned in
    tests/test_scale_paths.py including the measured planted-corpus
    recall staying above target across a 4x corpus growth where
    fixed-bands adaptive-r drops below it.
    """
    if not 0.0 < p_agree < 1.0:
        raise ValueError("p_agree must be in (0, 1)")
    if not 0.0 < recall_target < 1.0:
        raise ValueError("recall_target must be in (0, 1)")
    import math

    r = adaptive_band_bits(n, target_occupancy, r_min, r_cap)
    miss_per_band = 1.0 - p_agree ** r
    if miss_per_band <= 0.0:
        return r, 1
    bands = math.ceil(
        math.log(1.0 - recall_target) / math.log(miss_per_band)
    )
    return r, max(1, min(bands_cap, bands))


def embedding_cosine_pairs_lsh_adaptive(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.5,
    bands: int = 4,
    dims: int = 64,
    target_occupancy: int = 64,
    r_min: int = 4,
    r_cap: int = 16,
    cap_factor: int | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """``embedding_cosine_pairs_lsh`` with the banding geometry derived
    from the corpus size — the shipped 100 TB path (the fixed-geometry
    variant stays for preset-pinned callers and tests).

    Geometry: ``r = adaptive_band_bits(count, target_occupancy)`` bits
    per band, each band keyed by an INDEPENDENT r-bit hyperplane
    signature (band b uses global hyperplane rows
    ``[b*r_cap, b*r_cap + r)`` of one deterministic splitmix64 weight
    matrix). Packing bits little-endian by LOCAL plane index means an
    oracle that computes the full r_cap-bit block and masks the low r
    bits reproduces the keys exactly — which is how the DuckDB twin
    stays static SQL while r is data-derived on both engines.

    The one driver-side scalar is the corpus count — pass ``n_rows``
    from table statistics (parquet footers,
    operators/dml.py:parquet_row_count) to avoid the count job; the
    ``emb.count()`` fallback covers derived inputs. Candidate
    generation,
    scoring, and the narrow banding join are identical to the fixed
    variant: (id, keys[bands]) rows ride the banding shuffle (~40
    bytes), vectors join back only for exact cosine scoring of
    survivors, no cartesian node anywhere.

    ``cap_factor`` (e.g. 4) engages the hot-bucket backstop at
    ``max(32, cap_factor * n // 2**r)`` — cap_factor times the
    EXPECTED occupancy, data-derived on both engines. With adaptive r
    the cap is pure degenerate-corpus insurance (replicated boilerplate
    cliques); organic growth keeps buckets near target_occupancy and
    nothing is dropped. Capped mode dedups surviving pairs with a
    (long,long) ``distinct`` (a pair's first agreeing band may be a
    dropped hot bucket); uncapped mode uses the shuffle-free pigeonhole
    first-match predicate over the carried key arrays.
    """
    from ..functions import vectors as V
    from . import similarity as S

    # the corpus count only sizes the banding key space; callers that
    # read a plain table pass it from parquet footer statistics
    # (operators/dml.py:parquet_row_count — O(files) metadata, r17) so
    # no full-corpus count job runs. The scan fallback keeps derived/
    # filtered inputs correct.
    if n_rows is None:
        n_rows = emb.count()
    r = adaptive_band_bits(n_rows, target_occupancy, r_min, r_cap)
    max_bucket = (
        max(32, (cap_factor * n_rows) >> r) if cap_factor is not None else None
    )
    weights_all = S.hyperplane_weights(bands * r_cap, dims)
    e = (
        emb.select(F.col(id_col).alias("id"), V.to_double(F.col(vec_col)).alias("v"))
        .withColumn("n", V.norm(F.col("v")))
        .withColumn(
            "keys",
            F.array(
                *[
                    S.signature_expr(
                        F.col("v"), weights_all[b * r_cap : b * r_cap + r]
                    )
                    for b in range(bands)
                ]
            ),
        )
    )
    # e feeds four consumers (both banding-join sides, the hot-bucket
    # size aggregate, and the va/vb scoring join-backs); a lazy
    # localCheckpoint materializes the bands*r interpreted-HOF
    # hyperplane signatures (and the parquet scan under them) ONCE
    # instead of once per consumer — the r16 plan audit showed five
    # scans each re-evaluating the signature tree, plus a sixth
    # evaluation inside the explode's non-empty Filter (same precedent
    # as semantic_dedup_labels' assignment checkpoint; measured
    # same-session A/B at sf0.1: d14 6.16 -> 4.76 s, d5l 5.17 -> 4.71 s)
    e = e.localCheckpoint(eager=False)
    keyed = e.select(
        "id", "keys", F.posexplode("keys").alias("band", "key")
    )
    a = keyed.select(
        F.col("id").alias("id_a"), F.col("keys").alias("keys_a"), "band", "key"
    )
    b = keyed.select(
        F.col("id").alias("id_b"), F.col("keys").alias("keys_b"), "band", "key"
    )
    if max_bucket is not None:
        small = (
            keyed.groupBy("band", "key")
            .agg(F.count(F.lit(1)).alias("__bn"))
            .filter(F.col("__bn") <= max_bucket)
            .select("band", "key")
        )
        a = a.join(small, ["band", "key"])
        pairs = (
            a.join(b, ["band", "key"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        # On an undersplit corpus (the same is_undersplit predicate
        # as tables.rebalance_scan, false on a well-split 100 TB
        # layout) AQE coalesces the distinct's tiny pair
        # exchange to 1-2 partitions and the exact-cosine scoring of
        # every surviving pair runs single-threaded downstream of it.
        # One narrow (id,id) round-robin exchange restores full-width
        # scoring: d14 3.95 -> 2.80 s min-of-3 alternated (r17).
        spark = emb.sparkSession
        if is_undersplit(emb, spark):
            pairs = pairs.repartition(spark.sparkContext.defaultParallelism)
    else:
        # pigeonhole dedup: count a pair only in the FIRST band where
        # the keys agree (all earlier bands' keys must differ) — no
        # distinct shuffle; the carried key arrays are bands longs
        first_match = F.coalesce(
            *[
                F.when(
                    F.col("band") == c,
                    functools.reduce(
                        operator.and_,
                        [
                            F.col("keys_a").getItem(cc)
                            != F.col("keys_b").getItem(cc)
                            for cc in range(c)
                        ],
                        F.lit(True),
                    ),
                )
                for c in range(bands)
            ]
        )
        pairs = (
            a.join(b, ["band", "key"])
            .filter((F.col("id_a") < F.col("id_b")) & first_match)
            .select("id_a", "id_b")
        )
    va = e.select(F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("n").alias("na"))
    vb = e.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("n").alias("nb"))
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "cos_sim", V.dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
        )
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def connected_components(
    ids: DataFrame, pairs: DataFrame, max_iterations: int = 50
) -> DataFrame:
    """Cluster labeling: connected components of the near-dup pair graph
    by iterative min-label propagation — the step that turns pairwise
    dedup output into per-document cluster assignments (keep one doc
    per cluster).

    ``ids``: one column ``id`` (every doc, singletons included);
    ``pairs``: columns ``id_a``, ``id_b`` (undirected edges). Returns
    (id, cluster) where cluster = min id reachable.

    The loop is a real iterative Spark algorithm: each round joins
    labels across edges and takes the min; convergence is a scalar
    count (no data collected to the driver). Rounds needed = graph
    diameter — near-dup clusters are shallow (dups of a common
    original), so a handful. ``localCheckpoint`` cuts the growing
    lineage each round; at 100 TB use reliable checkpointing to HDFS.
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
    )
    labels = ids.select("id", F.col("id").alias("cluster"))
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("cluster").alias("n_cluster"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("cluster"), F.coalesce(F.col("n_cluster"), F.col("cluster"))
                ).alias("cluster"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.cluster") != F.col("o.cluster"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


def incremental_dedup(
    history: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Continuous-ingest dedup: keep only batch docs whose normalized-
    text fingerprint is NEW against the historical corpus, deduped
    within the batch (min-id representative per fingerprint).

    The 100 TB shape: the history side is just its distinct fingerprint
    column (never the text), so the anti-join shuffles 16-byte keys;
    with a date-partitioned fingerprint index the history scan prunes
    to one column of one table. Within-batch dedup is a groupBy over
    the (small) batch only. This is the operator a pipeline runs every
    cycle — exact_dedup_clusters is its bootstrap over the initial
    corpus.
    """
    fp = lambda df: df.select(  # noqa: E731
        F.md5(TXT.normalize(F.col(text_col))).alias("fingerprint"),
        F.col(id_col).alias("id"),
    )
    novel = fp(batch).join(
        fp(history).select("fingerprint").distinct(), "fingerprint", "left_anti"
    )
    return novel.groupBy("fingerprint").agg(
        F.min("id").alias("rep_id"), F.count(F.lit(1)).alias("n_batch_dups")
    )


def content_defined_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 4,
    mask: int = 31,
) -> DataFrame:
    """Content-defined chunking (Rabin-style): cut each document where
    the rolling hash of the trailing ``window`` chars satisfies
    ``h % (mask+1) == 0`` — so chunk boundaries move WITH the content.

    Why it exists: fixed-stride chunking (x9) shifts every boundary
    after a single-character insertion, so downstream chunk-level exact
    dedup misses everything past the edit. Content-defined boundaries
    re-synchronize immediately — the primitive behind dedup of
    near-identical web snapshots / document revisions at 100 TB
    (rsync/LBFS lineage; average chunk length = mask+1 chars).

    All in-row array expressions (one scan, no shuffle, whole-stage
    codegen): positions -> boundary filter -> span zip -> explode.
    The hash is an explicit 4-term polynomial over ascii codes —
    bit-identical in the DuckDB twin. Returns
    (id, chunk_idx, start_pos, chunk_len, chunk_md5).
    """
    if window != 4:
        raise ValueError("the unrolled polynomial hash is fixed at window=4")
    t = F.col("__t")
    n = F.length(t)

    def h4(i: Column) -> Column:
        # ((a*31 + b)*31 + c)*31 + d over the 4 trailing ascii codes
        a = F.ascii(F.substring(t, i - 3, 1))
        b = F.ascii(F.substring(t, i - 2, 1))
        c = F.ascii(F.substring(t, i - 1, 1))
        d = F.ascii(F.substring(t, i, 1))
        return ((a * 31 + b) * 31 + c) * 31 + d

    bounds = F.filter(
        F.sequence(F.lit(4), F.greatest(n, F.lit(4))),
        lambda i: (i <= n) & (h4(i) % (mask + 1) == 0) & (i < n),
    )
    starts = F.concat(F.array(F.lit(1)), F.transform(bounds, lambda x: x + 1))
    ends = F.concat(bounds, F.array(n))
    spans = F.zip_with(
        starts, ends, lambda s, e: F.struct(s.alias("s"), e.alias("e"))
    )
    base = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
    return (
        base.filter(n >= 1)
        .select("id", "__t", F.posexplode(spans).alias("chunk_idx", "sp"))
        .select(
            "id",
            "chunk_idx",
            F.col("sp.s").alias("start_pos"),
            (F.col("sp.e") - F.col("sp.s") + 1).alias("chunk_len"),
            F.md5(F.expr("substring(__t, sp.s, sp.e - sp.s + 1)")).alias("chunk_md5"),
        )
    )


def segment_boilerplate_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seg_words: int = 8,
    max_doc_freq: int = 1,
) -> DataFrame:
    """Cross-document segment-level boilerplate removal — the
    line-dedup pass of web-corpus pipelines (CCNet / RefinedWeb
    lineage): segments that repeat across more than ``max_doc_freq``
    documents (headers, footers, navigation chrome) are stripped from
    EVERY document, and each document is reassembled from its
    surviving segments in original order.

    Segmentation here is a fixed ``seg_words``-word chunker (the
    synthetic corpus has no newlines); on a real corpus the segment
    expression is the newline split — the operator's semantics
    (segment -> corpus doc-freq -> strip hot -> ordered reassembly)
    are segmentation-agnostic.

    Plan shape: one scan -> in-row chunking (array slice, no shuffle)
    -> posexplode -> ONE segment-keyed aggregate for doc-freq -> hash
    join back -> ONE per-doc aggregate with an order-restoring
    array_sort(collect_list(struct(pos, seg))). Doc-freq rows are
    (segment, count) — vocabulary-bounded. A viral boilerplate segment
    is a hot join key at 100 TB; it is also exactly the row the
    doc-freq side makes TINY (one row per segment), so the join skew
    sits on the fact side where AQE skew-split applies.

    Returns (id, n_seg, n_dropped, clean_md5): per-document segment
    count, segments stripped, and md5 of the reassembled text (md5 so
    the compared cell is scalar; '' hashes when everything dropped).
    """
    if seg_words < 1:
        raise ValueError("seg_words must be >= 1")
    tok = _tokenized(df, id_col, text_col).filter(F.size("__tok") >= 1)
    n_chunks = F.floor((F.size("__tok") + seg_words - 1) / seg_words).cast("int")
    segs = tok.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.array_join(
                    F.slice(F.col("__tok"), i * seg_words + 1, seg_words), " "
                ),
            )
        ).alias("pos", "seg"),
    )
    dfreq = segs.groupBy("seg").agg(F.count_distinct("id").alias("__dfr"))
    marked = segs.join(dfreq, "seg")
    kept = F.col("__dfr") <= max_doc_freq
    return (
        marked.groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_seg"),
            F.sum(F.when(~kept, 1).otherwise(0)).cast("long").alias("n_dropped"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(kept, F.struct(F.col("pos"), F.col("seg")))
                            )
                        ),
                        lambda s: s["seg"],
                    ),
                    " ",
                )
            ).alias("clean_md5"),
        )
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    min_doc_freq: int = 2,
) -> DataFrame:
    """Exact duplicated-span detection (the substring-dedup signal of
    Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better"): for each document, how much of it is covered by
    word ``n``-gram shingles that also occur in other documents, and
    how LONG the longest such contiguous span runs. Document-level
    dedup (d1/d3) misses partially-copied text; this is the per-span
    signal that catches quotes, templates, and stitched-together
    documents.

    Pipeline: positional shingles -> corpus doc-freq (ONE
    vocabulary-bounded aggregate) -> hash join back -> per-doc stats
    plus a gaps-and-islands run-length pass (pos - row_number() is
    constant within a consecutive run — both engines express it with
    the same two grouped aggregates; no fold, no UDF). A span of k
    consecutive duplicated shingles covers k + n - 1 words.

    Returns (id, n_sh, n_dup, max_dup_span_words); documents shorter
    than ``n`` words have no shingles and drop out (mirrored in the
    oracle).
    """
    tok = _tokenized(df, id_col, text_col)
    sh_pos = tok.select(
        "id", F.posexplode(TXT.word_shingles(F.col("__tok"), n)).alias("pos", "shingle")
    )
    dfreq = sh_pos.groupBy("shingle").agg(F.count_distinct("id").alias("__dfr"))
    marked = sh_pos.join(dfreq, "shingle")
    hot = F.col("__dfr") >= min_doc_freq
    stats = marked.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sh"),
        F.sum(F.when(hot, 1).otherwise(0)).cast("long").alias("n_dup"),
    )
    w_isl = Window.partitionBy("id").orderBy(F.col("pos").asc())
    runs = (
        marked.filter(hot)
        .select("id", "pos")
        .withColumn("__grp", F.col("pos") - F.row_number().over(w_isl))
        .groupBy("id", "__grp")
        .agg(F.count(F.lit(1)).alias("__run"))
        .groupBy("id")
        .agg(F.max("__run").alias("__max_run"))
    )
    return stats.join(runs, "id", "left").select(
        "id",
        "n_sh",
        "n_dup",
        F.coalesce(F.col("__max_run") + (n - 1), F.lit(0)).cast("long")
        .alias("max_dup_span_words"),
    )


def minhash_recall_eval(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    band_rows: int = 2,
    threshold: float = 0.6,
) -> DataFrame:
    """Index-quality evaluation of the MinHash banding scheme — the
    dedup twin of the v13 ANN recall eval: measure, in ONE plan, the
    banding's candidate RECALL at the production threshold (what
    fraction of true near-dup pairs become candidates — pairs the
    bands miss can never be verified back) and its candidate
    EFFICIENCY (how many candidate pairs the verifier must score per
    true pair). d3's oracle asserts the end result equals exhaustive
    Jaccard; this operator turns the (1-J^r)^b miss-probability CLAIM
    into a measured number.

    Uses md5-derived minhashes (portable) instead of d3's xxhash64
    (engine-local, faster) precisely so the ORACLE can replay the
    banding itself — the evaluation would be untrustworthy if the
    index under test weren't reproducible. Returns ONE row:
    (n_true_pairs, n_candidates, n_hit, recall, cand_per_true).

    Scale: the exhaustive ground truth is the deliberately-quadratic
    verify primitive (d2's role) — run the eval on a SAMPLE at 100 TB,
    exactly as v13's doc prescribes for ANN.
    """
    from .sketches import md5_hash64

    sh = _shingle_sets(df, id_col, text_col, n)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    # exhaustive ground truth (shared with the candidate verify below)
    common = (
        sh.alias("a")
        .join(sh.alias("b"), (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    exact = (
        common.join(sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("na")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("nb")), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("common")).cast("double")
            ).alias("jaccard"),
        )
    )
    # portable md5 minhash signatures -> band keys -> candidate pairs
    ks = F.explode(F.sequence(F.lit(0), F.lit(num_hashes - 1))).alias("k")
    hashed = sh.select("id", "shingle").select(
        "id",
        ks,
        "shingle",
    ).select(
        "id",
        "k",
        md5_hash64(F.concat(F.col("k").cast("string"), F.lit("|"), F.col("shingle"))).alias("h"),
    )
    sig = hashed.groupBy("id", "k").agg(F.min("h").alias("mh"))
    n_bands = num_hashes // band_rows
    banded = sig.withColumn("band", (F.col("k") / band_rows).cast("int")).groupBy(
        "id", "band"
    ).agg(
        F.concat_ws("|", F.sort_array(F.collect_list(F.concat_ws(":", F.col("k"), F.col("mh"))))).alias("band_key")
    )
    cand = (
        banded.alias("x")
        .join(
            banded.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    truth = exact.filter(F.col("jaccard") >= threshold)
    hits = cand.join(truth, ["id_a", "id_b"], "left_semi")
    stats = (
        truth.agg(F.count(F.lit(1)).cast("long").alias("n_true_pairs"))
        .crossJoin(cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates")))
        .crossJoin(hits.agg(F.count(F.lit(1)).cast("long").alias("n_hit")))
    )
    return stats.select(
        "n_true_pairs",
        "n_candidates",
        "n_hit",
        (F.col("n_hit").cast("double") / F.col("n_true_pairs").cast("double")).alias("recall"),
        (
            F.col("n_candidates").cast("double") / F.col("n_true_pairs").cast("double")
        ).alias("cand_per_true"),
    )
