"""Similarity search over embedding columns (SURVEY X12 + the
LLM-data-pipeline extension set).

- **Brute-force cosine top-k** — the correctness baseline: broadcast the
  (small) query set against the corpus, score with higher-order-function
  expressions (``functions/vector.py``), rank per query. No Python in
  the loop; the score is computed map-side on the corpus partitions, and
  only the per-query top-k crosses the network.
- **Cosine near-dup pairs** — all-pairs above a threshold; at test scale
  a self-join, at 100 TB the LSH-bucketed variant below prunes first.
- **Random-hyperplane LSH ANN** — sign-bit bucketing with deterministic
  pseudo-random hyperplanes (multiplicative-hash generated, so the
  DuckDB oracle reproduces the exact buckets), candidate join within
  buckets, exact cosine re-rank. The standard SimHash-for-angular-
  distance construction (Charikar).

The seven top-k operators (brute force, its pandas twin, LSH,
multi-probe LSH, IVF, PQ, IVF-PQ) differ only in candidate generation:
the cosine ones score through one re-rank (:func:`_cosine_rerank`) and
all seven rank through one per-query tail (:func:`_topk`).

Dot products accumulate left-to-right over double-cast elements in both
engines (Spark ``aggregate`` / DuckDB ``list_reduce``), so scores are
bit-identical and thresholds/rankings cannot flake.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame

from .guards import MAX_I64_BITS, require_at_least, require_in_range
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.hashing import KNUTH, MOD32
from ..functions.vector import dot, l2_norm

#: LSH geometry: 8 hyperplanes → 256 buckets.
N_HYPERPLANES = 8


def _spread(df: DataFrame) -> DataFrame:
    """Raise map-side parallelism when the source collapsed to fewer
    partitions than cores — at bench scale the whole embeddings table
    is ONE parquet split, so per-pair scoring runs single-task no
    matter how wide the session is. One tiny round-robin shuffle
    unlocks a cores-wide scoring stage. At corpus scale the scan
    already has ≥ cores splits and this is a no-op (no shuffle added);
    scores and rank tie-breaks are partitioning-independent, so
    results are unchanged either way."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def hyperplane_component(j: int | Column, i: Column) -> Column:
    """Deterministic pseudo-random hyperplane component in [-0.5, 0.5).

    ``h[j][i] = ((j·64 + i + 1) · KNUTH mod 2³²) / 2³² − 0.5`` — pure
    integer arithmetic scaled once, identical in any engine.
    """
    j_col = F.lit(j) if isinstance(j, int) else j
    idx = (j_col.cast("bigint") * 64 + i.cast("bigint") + 1) * F.lit(KNUTH)
    return F.pmod(idx, F.lit(MOD32)).cast("double") / F.lit(float(MOD32)) - 0.5


def hyperplane_dot(vec: Column, j: int) -> Column:
    """Dot product of a vector with deterministic hyperplane ``j``."""
    return F.aggregate(
        F.zip_with(
            vec,
            F.sequence(F.lit(0), F.size(vec) - 1),
            lambda v, i: v.cast("double") * hyperplane_component(j, i),
        ),
        F.lit(0.0),
        lambda a, v: a + v,
    )


def lsh_bucket(vec: Column, n_planes: int = N_HYPERPLANES) -> Column:
    """Sign-bit LSH bucket id: bit j set iff dot(vec, plane_j) > 0."""
    require_in_range("n_planes", n_planes, 1, MAX_I64_BITS)
    bucket = F.lit(0).cast("bigint")
    for j in range(n_planes):
        bit = F.when(hyperplane_dot(vec, j) > 0, F.lit(1 << j)).otherwise(F.lit(0))
        bucket = bucket + bit.cast("bigint")
    return bucket


def _cosine_rerank(pairs: DataFrame, cosine: Column | None = None) -> DataFrame:
    """Exact re-rank of candidate pairs: drop self pairs, score each
    (query_id, vec_id) pair. The default score is
    ``dot(q_emb, embedding) / (q_norm · v_norm)`` over norms hoisted
    out of the pair loop (:func:`_with_norm`), NULL when the
    denominator is 0 — the same float64 ops in the same order as
    ``cosine_sim`` and the DuckDB oracle, so scores are bit-identical.
    ``cosine`` swaps in another kernel with the same contract (the
    pandas twin's)."""
    if cosine is None:
        denom = F.col("q_norm") * F.col("v_norm")
        cosine = F.when(denom != 0, dot(F.col("q_emb"), F.col("embedding")) / denom)
    return pairs.filter(F.col("vec_id") != F.col("query_id")).select(
        "query_id", "vec_id", cosine.alias("cosine")
    )


def _topk(scored: DataFrame, k: int, score: str, descending: bool) -> DataFrame:
    """Per-query top-k tail shared by every ANN operator: rank ``rk``
    (1, 2, ...) within each ``query_id`` by ``score``, ties to the
    lowest ``vec_id``, and keep ``rk <= k``. Spark sorts NULL last
    descending and first ascending. Only the tiny per-query key
    crosses the network."""
    require_at_least("k", k, 1)
    key = F.col(score).desc() if descending else F.col(score)
    w = Window.partitionBy("query_id").orderBy(key, F.col("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "vec_id", score, "rk")
    )


def cosine_topk(
    emb: DataFrame, query_ids: list[int], k: int = 10
) -> DataFrame:
    """Exact top-k neighbors per query vector (brute force baseline).

    Queries are a broadcast dimension; scoring is map-side over corpus
    partitions; ranking shuffles only on the (tiny) query key.

    Norms are hoisted out of the pair loop (:func:`_cosine_rerank`):
    the corpus norm is computed once per row, not once per (row, query)
    pair, and the query norm once per query inside the broadcast side
    — bit-identical scores for ~3x less interpreted higher-order
    aggregate work (r3).
    """
    # dropDuplicates + limit(len(query_ids)) writes the build side's
    # cardinality bound INTO the logical plan — Catalyst's maxRows
    # proves this BNLJ's broadcast is query-set-sized, which
    # tests/test_plans.py asserts mechanically for every BNLJ. The
    # dedup makes the bound safe BY CONSTRUCTION (r10 ADVICE): on a
    # corpus that violated the vec_id-unique contract, a bare limit
    # would silently drop arbitrary QUERY rows — wrong top-k, no
    # error. The dedup shuffle touches only the filtered query-id
    # rows, never the corpus.
    q = _with_norm(
        emb.filter(F.col("vec_id").isin(query_ids))
        .dropDuplicates(["vec_id"])
        .limit(len(query_ids))
        .select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
        ),
        "q_emb",
        "q_norm",
    )
    pairs = _with_norm(_spread(emb), "embedding", "v_norm").crossJoin(
        F.broadcast(q)
    )
    return _topk(_cosine_rerank(pairs), k, "cosine", descending=True)


def _triangular_block_pairs(spark, n_blocks: int) -> DataFrame:
    """The tiny (bi <= bj) block-pair dimension for the blocked
    triangular self-joins below — always broadcast."""
    return (
        spark.range(n_blocks)
        .select(F.col("id").cast("int").alias("bi"))
        .select(
            "bi",
            F.explode(
                F.sequence(F.col("bi"), F.lit(n_blocks - 1))
            ).alias("bj"),
        )
    )


def _with_block(emb: DataFrame, n_blocks: int) -> DataFrame:
    """(vec_id, embedding, block): deterministic block assignment."""
    return emb.select(
        "vec_id",
        "embedding",
        F.pmod(F.col("vec_id"), F.lit(n_blocks)).cast("int").alias("block"),
    )


def cosine_near_pairs(
    emb: DataFrame, threshold: float, n_blocks: int = 8
) -> DataFrame:
    """All pairs (a < b) with cosine ≥ threshold — EXACT, via a blocked
    triangular self-join instead of an all-pairs theta join.

    Exact threshold pairing at a low threshold is inherently Ω(n²)
    comparisons (no candidate filter can be both complete and selective
    when near-pairs sit barely above the bulk similarity — measured on
    this corpus: banding 64 deterministic hyperplanes still misses true
    pairs while passing >50% of random pairs). What CAN be fixed is the
    plan shape: the naive ``a < b`` theta join plans as a
    BroadcastNestedLoopJoin — the whole corpus broadcast to every
    executor, one unsplittable loop per partition. Here the corpus is
    hashed into ``n_blocks`` blocks and each of the
    ``n_blocks·(n_blocks+1)/2`` unordered block pairs becomes one
    equi-join bucket: same comparison count, but hash-partitioned
    (parallelism = block pairs, AQE-splittable), with per-task memory
    bounded by two blocks instead of the full corpus. Every unordered
    vector pair lands in exactly one block pair, so no dedup pass is
    needed and recall is structurally 1 at any scale.

    For selective thresholds (real near-dup regimes, cos ≥ ~0.7) the
    pruned paths — :func:`ann_lsh_topk` buckets, MinHash banding — are
    the scale route; this operator is the exact contract.
    """
    require_in_range("threshold", threshold, -1.0, 1.0)
    require_at_least("n_blocks", n_blocks, 1)
    spark = emb.sparkSession
    block_pairs = _triangular_block_pairs(spark, n_blocks)
    # Norms are computed ONCE PER VECTOR before the join (n sqrt-of-dot
    # evaluations), not once per pair (n²) — the higher-order aggregate
    # is interpreted, so hoisting it out of the pair loop is a measured
    # ~3x on the whole query. cosine = dot/(na*nb) performs the exact
    # same float ops in the same order as cosine_sim / the oracle, so
    # scores stay bit-identical.
    blocked = _with_norm(_with_block(emb, n_blocks), "embedding", "norm")
    left = blocked.join(
        F.broadcast(block_pairs), F.col("block") == F.col("bi")
    ).select(
        F.col("vec_id").alias("l_id"),
        F.col("embedding").alias("l_emb"),
        F.col("norm").alias("l_norm"),
        "bi",
        "bj",
    )
    right = blocked.select(
        F.col("vec_id").alias("r_id"),
        F.col("embedding").alias("r_emb"),
        F.col("norm").alias("r_norm"),
        F.col("block").alias("r_block"),
    )
    joined = left.join(right, F.col("bj") == F.col("r_block")).filter(
        (F.col("bi") < F.col("bj"))
        | ((F.col("bi") == F.col("bj")) & (F.col("l_id") < F.col("r_id")))
    )
    return (
        joined.select(
            F.least("l_id", "r_id").alias("a"),
            F.greatest("l_id", "r_id").alias("b"),
            F.when(
                (F.col("l_norm") * F.col("r_norm")) != 0,
                dot(F.col("l_emb"), F.col("r_emb"))
                / (F.col("l_norm") * F.col("r_norm")),
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def cosine_near_pairs_blocked_pandas(
    emb: DataFrame, threshold: float, n_blocks: int = 8
) -> DataFrame:
    """Exact cosine near-pairs with the pair kernel in a vectorized
    applyInPandas over BLOCK PAIRS — the distributed-GEMM grid shape.

    Same blocked triangular decomposition as :func:`cosine_near_pairs`
    (every unordered vector pair lands in exactly one of the
    ``n_blocks·(n_blocks+1)/2`` block-pair groups, recall structurally
    1), but each group receives its two blocks' vectors ONCE over Arrow
    and numpy evaluates the dense pair grid — so the per-pair work is a
    SIMD multiply-add instead of an interpreted higher-order fold
    (measured ~20x on 12.5M pairs), and Arrow volume is
    O(n·n_blocks) vectors, not O(n²). The kernel accumulates
    dimension-sequentially (dot and both norms), the same float64
    sequence as the ``aggregate`` expression and the DuckDB oracle —
    bit-identical scores, asserted against the expression form in
    tests/test_properties.py.

    Group memory is two blocks plus the boolean mask — n_blocks tunes
    it: at corpus scale pick n_blocks ≈ n·d·8 / executor-budget; the
    group count n_blocks²/2 then scales parallelism quadratically with
    corpus growth at constant memory.
    """
    require_in_range("threshold", threshold, -1.0, 1.0)
    require_at_least("n_blocks", n_blocks, 1)
    spark = emb.sparkSession
    block_pairs = _triangular_block_pairs(spark, n_blocks)
    blocked = _with_block(emb, n_blocks)
    # each block-pair group gets block bi rows tagged L and block bj
    # rows tagged R (one tagged copy per group membership; a vector
    # joins ~n_blocks groups, so Arrow volume is linear in n·n_blocks)
    left = blocked.join(
        F.broadcast(block_pairs), F.col("block") == F.col("bi")
    ).select("bi", "bj", F.lit(0).alias("side"), "vec_id", "embedding")
    right = blocked.join(
        F.broadcast(block_pairs), F.col("block") == F.col("bj")
    ).select("bi", "bj", F.lit(1).alias("side"), "vec_id", "embedding")
    tagged = left.unionByName(right)

    def score_group(pdf: pd.DataFrame) -> pd.DataFrame:
        bi, bj = int(pdf["bi"].iloc[0]), int(pdf["bj"].iloc[0])
        lp = pdf[pdf["side"] == 0]
        rp = pdf[pdf["side"] == 1]
        if bi == bj:
            lp = rp  # same block: one copy, i<j pairs below
        if len(lp) == 0 or len(rp) == 0:
            return pd.DataFrame({"a": [], "b": [], "cosine": []}).astype(
                {"a": "int64", "b": "int64", "cosine": "float64"}
            )
        A = np.stack(lp["embedding"].to_numpy()).astype("float64")
        B = np.stack(rp["embedding"].to_numpy()).astype("float64")
        ids_a = lp["vec_id"].to_numpy()
        ids_b = rp["vec_id"].to_numpy()
        d = A.shape[1]
        dots = np.zeros((len(A), len(B)))
        na = np.zeros(len(A))
        nb = np.zeros(len(B))
        for j in range(d):  # sequential over dims = oracle fold order
            dots += A[:, j][:, None] * B[:, j][None, :]
            na += A[:, j] * A[:, j]
            nb += B[:, j] * B[:, j]
        denom = np.sqrt(na)[:, None] * np.sqrt(nb)[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.where(denom != 0, dots / np.where(denom == 0, 1, denom), np.nan)
        # match the expression form's comparison semantics exactly:
        # zero-norm pairs (denom == 0 → NULL in Spark) are dropped, but
        # a NaN score arising from NaN *data* is kept, because Spark
        # SQL orders NaN above every double so `cosine >= t` is true
        # there (IEEE/numpy would say false)
        ii, jj = np.nonzero((cos >= threshold) | (np.isnan(cos) & (denom != 0)))
        a_ids, b_ids = ids_a[ii], ids_b[jj]
        if bi == bj:
            keep = a_ids < b_ids
        else:
            keep = np.ones(len(a_ids), dtype=bool)
        a_ids, b_ids, vals = a_ids[keep], b_ids[keep], cos[ii, jj][keep]
        lo = np.minimum(a_ids, b_ids)
        hi = np.maximum(a_ids, b_ids)
        return pd.DataFrame({"a": lo, "b": hi, "cosine": vals})

    return (
        tagged.groupBy("bi", "bj")
        .applyInPandas(score_group, "a bigint, b bigint, cosine double")
    )


def ann_lsh_topk(
    emb: DataFrame, query_ids: list[int], k: int = 5, n_planes: int = N_HYPERPLANES
) -> DataFrame:
    """Approximate top-k: candidates share the query's LSH bucket, then
    exact cosine re-rank within candidates.

    At scale the bucket id is a shuffle key: corpus hashed once,
    queries probe matching buckets only — candidate count is corpus/2^b
    per query in expectation instead of the full corpus. Recall is
    tunable via multi-probe (flip one bit) or more tables; this single-
    table form is the oracle-checkable core.
    """
    bucketed, q = _lsh_bucketed(emb, query_ids, n_planes)
    pairs = bucketed.join(F.broadcast(q), F.col("bucket") == F.col("q_bucket"))
    return _topk(_cosine_rerank(pairs), k, "cosine", descending=True)


def _lsh_bucketed(
    emb: DataFrame, query_ids: list[int], n_planes: int
) -> tuple[DataFrame, DataFrame]:
    """The LSH operators' two sides: the corpus with its bucket id and
    norm (vec_id, embedding, bucket, v_norm), and the queries cut from
    it (query_id, q_emb, q_norm, q_bucket)."""
    # bucket ids stay a JVM higher-order expression (NOT the numpy
    # matmul used by band_signatures): the DuckDB oracle reproduces the
    # exact buckets with the same sequential fold, and a different
    # summation order could flip the sign of a near-zero plane dot
    bucketed = _with_norm(
        emb.withColumn("bucket", lsh_bucket(F.col("embedding"), n_planes)),
        "embedding",
        "v_norm",
    )
    q = bucketed.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("v_norm").alias("q_norm"),
        F.col("bucket").alias("q_bucket"),
    )
    return bucketed, q


def _scored_cells(vec: Column, vec_norm: Column) -> Column:
    """Per-row array of (cosine, -cent_id) structs against the broadcast
    ``cents`` array column.

    Cosine is ``dot / (vec_norm * c_norm)`` with both norms read from
    precomputed columns — the same float operations in the same order
    as ``cosine_sim``, but the vector's norm is computed once per row
    instead of once per centroid (higher-order lambdas are interpreted,
    so shaving re-computed sub-expressions is a real constant factor).
    """
    return F.transform(
        F.col("cents"),
        lambda c: F.struct(
            F.when(
                (vec_norm * c["c_norm"]) != 0,
                dot(vec, c["c_emb"]) / (vec_norm * c["c_norm"]),
            ).alias("cos"),
            (-c["cent_id"]).alias("nid"),
        ),
    )


def _cent_array(centroids: DataFrame) -> DataFrame:
    """Fold (cent_id, c_emb) into one broadcastable array-of-structs row
    with the norms precomputed."""
    return centroids.agg(
        F.collect_list(
            F.struct("cent_id", "c_emb", l2_norm(F.col("c_emb")).alias("c_norm"))
        ).alias("cents")
    )


def _with_norm(df: DataFrame, vec_col: str, norm_col: str) -> DataFrame:
    """Materialize the vector norm as a column.

    The norm column is later referenced inside transform lambdas; it
    must stay an attribute there. The marker column trick (returning
    the norm in the output too) makes it multiply-referenced so
    CollapseProject cannot substitute the aggregate back into the
    lambda (where it would re-run per element).
    """
    return df.select("*", l2_norm(F.col(vec_col)).alias(norm_col))


def assign_cells(
    emb: DataFrame, centroids: DataFrame, cent_arr: DataFrame | None = None
) -> DataFrame:
    """Nearest-centroid assignment: every vector → argmax-cosine cell.

    The centroid set is folded into ONE array-of-structs row and
    broadcast; the per-vector argmax is ``array_max`` over the scored
    array (struct ordering: cosine desc, ties to the lowest cent_id via
    the negated id). Pure projection — at 100 TB the assignment is a
    single scan of the corpus with ZERO shuffles and no window; only
    the one-row centroid array crosses the network. Callers that
    already folded the centroid array pass it via ``cent_arr`` so it
    is built once per index, not once per consumer.
    """
    if cent_arr is None:
        cent_arr = _cent_array(centroids)
    with_n = _with_norm(emb, "embedding", "v_norm")
    best = F.array_max(_scored_cells(F.col("embedding"), F.col("v_norm")))
    return with_n.crossJoin(F.broadcast(cent_arr)).select(
        "vec_id",
        "embedding",
        "v_norm",
        (-best["nid"]).alias("cell"),
    )


def _centroids(emb: DataFrame, n_cells: int) -> DataFrame:
    """Deterministic coarse centroids (cent_id, c_emb): the ``n_cells``
    lowest vec_ids, so the DuckDB oracle reproduces the index
    bit-for-bit; a production index swaps in k-means centroids without
    changing any query-side code."""
    require_at_least("n_cells", n_cells, 1)
    return emb.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("c_emb")
    )


def _queries(emb: DataFrame, query_ids: list[int]) -> DataFrame:
    """The IVF query side: (query_id, q_emb, q_norm)."""
    return _with_norm(
        emb.filter(F.col("vec_id").isin(query_ids)).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
        ),
        "q_emb",
        "q_norm",
    )


def _probe_cells(q: DataFrame, cent_arr: DataFrame, n_probe: int) -> DataFrame:
    """Per-query probe list: the ``n_probe`` nearest centroids by
    cosine (ties to the lowest cent_id via the negated-id struct sort).
    ONE owner for the probe arithmetic so IVF and IVF-PQ prune
    identically by construction. ``q`` carries (query_id, q_emb,
    q_norm); returns (query_id, cell)."""
    top_cells = F.slice(
        F.sort_array(_scored_cells(F.col("q_emb"), F.col("q_norm")), asc=False),
        1,
        n_probe,
    )
    return (
        q.crossJoin(F.broadcast(cent_arr))
        .select("query_id", F.explode(top_cells).alias("p"))
        .select("query_id", (-F.col("p.nid")).alias("cell"))
    )


def ivf_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 2,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: coarse-quantize the corpus
    into ``n_cells`` cells, probe the ``n_probe`` nearest cells per
    query, exact cosine re-rank inside the probed cells.

    Training is deterministic (centroids = the ``n_cells`` lowest
    vec_ids) so the DuckDB oracle reproduces the index bit-for-bit; a
    production index swaps in k-means centroids without changing any
    query-side code. Scale shape: the whole index side — assignment AND
    per-query probe selection — is windowless array arithmetic over the
    broadcast centroid array (zero shuffles); the only exchanges are
    the probe join and the final per-query top-k, both keyed on the
    tiny query set. Each query touches ~n_probe/n_cells of the corpus.
    """
    require_at_least("n_probe", n_probe, 1)
    centroids = _centroids(emb, n_cells)
    cent_arr = _cent_array(centroids)
    assigned = assign_cells(emb, centroids)
    q = _queries(emb, query_ids)
    probes = _probe_cells(q, cent_arr, n_probe).join(
        q.select("query_id", "q_emb", "q_norm"), "query_id"
    )
    pairs = assigned.join(F.broadcast(probes), "cell")
    return _topk(_cosine_rerank(pairs), k, "cosine", descending=True)


def quantize_embeddings(emb: DataFrame, bits: int = 8) -> DataFrame:
    """Symmetric int8-style quantization summary per vector.

    ``q_i = round(x_i / amax * 127)`` — the standard symmetric scheme.
    Emits integer-exact check columns (quantized checksum, saturation
    count, scale in millionths) rather than the array itself so the
    result is bit-comparable across engines. One projection, no
    shuffle; the real quantized array is ``transform(...)`` of the same
    expression when a consumer wants it.
    """
    require_in_range("bits", bits, 2, 31)
    qmax = (1 << (bits - 1)) - 1
    # amax is needed per element; referencing the amax expression inside
    # a transform lambda would re-evaluate the array_max per element
    # (O(d^2)/row). zip_with against the materialized per-row amax
    # column keeps it O(d): the outer reference sits outside the lambda.
    with_amax = emb.select(
        "vec_id",
        "embedding",
        F.array_max(
            F.transform("embedding", lambda x: F.abs(x.cast("double")))
        ).alias("amax"),
    )
    qarr = F.zip_with(
        F.col("embedding"),
        F.array_repeat(F.col("amax"), F.size("embedding")),
        lambda x, a: F.round(x.cast("double") / a * qmax).cast("int"),
    )
    with_q = with_amax.select("vec_id", "amax", qarr.alias("qarr"))
    return with_q.select(
        "vec_id",
        F.round(F.col("amax") * 1e6).cast("bigint").alias("amax_millionths"),
        F.aggregate(
            F.col("qarr"), F.lit(0).cast("bigint"), lambda a, v: a + v
        ).alias("q_checksum"),
        F.size(F.filter(F.col("qarr"), lambda v: F.abs(v) == qmax))
        .cast("bigint")
        .alias("n_saturated"),
    )


def make_cosine_pandas_udf():
    """Vectorized Arrow-batched cosine scorer (the X14 pandas_udf
    exemplar on the similarity surface).

    numpy's ``dot``/``sum`` use pairwise/SIMD summation whose float
    rounding differs from a sequential fold, so the kernel accumulates
    dimension-by-dimension (vectorized across the batch axis) — the
    same left-to-right float64 sequence as the JVM ``aggregate``
    expression and the DuckDB ``list_reduce`` oracle, hence
    bit-identical scores at ~numpy speed.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def cosine_pd(a: pd.Series, b: pd.Series) -> pd.Series:
        A = np.stack(a.to_numpy()).astype("float64")
        B = np.stack(b.to_numpy()).astype("float64")
        n = A.shape[0]
        dot = np.zeros(n)
        na = np.zeros(n)
        nb = np.zeros(n)
        for j in range(A.shape[1]):  # sequential over dims, SIMD over rows
            dot += A[:, j] * B[:, j]
            na += A[:, j] * A[:, j]
            nb += B[:, j] * B[:, j]
        denom = np.sqrt(na) * np.sqrt(nb)
        out = np.where(denom != 0.0, dot / np.where(denom == 0, 1, denom), np.nan)
        return pd.Series(out)

    return cosine_pd


def cosine_topk_pandas(
    emb: DataFrame, query_ids: list[int], k: int = 10
) -> DataFrame:
    """cosine_topk with the scoring hot loop in an Arrow-vectorized
    pandas UDF instead of JVM expressions — same plan shape (broadcast
    queries, map-side score, per-query rank), same results."""
    cosine_pd = make_cosine_pandas_udf()
    # dedup + no-op limit = static cardinality bound for the BNLJ
    # build side, safe even under duplicate vec_ids (see cosine_topk)
    q = (
        emb.filter(F.col("vec_id").isin(query_ids))
        .dropDuplicates(["vec_id"])
        .limit(len(query_ids))
        .select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
        )
    )
    scored = _cosine_rerank(
        emb.crossJoin(F.broadcast(q)),
        cosine_pd(F.col("q_emb"), F.col("embedding")),
    )
    return _topk(scored, k, "cosine", descending=True)


def ann_lsh_multiprobe_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_planes: int = N_HYPERPLANES,
) -> DataFrame:
    """Multi-probe LSH ANN: each query probes its own bucket plus every
    one-bit-flipped neighbor bucket (n_planes + 1 probes).

    The standard recall lever for sign-bit LSH: a near neighbor that
    landed on the wrong side of ONE hyperplane is still found, at
    (n_planes+1)x the candidate volume instead of 2^n more tables.
    Corpus-side cost is unchanged — one bucket id per vector, one
    shuffle; only the (tiny) query probe list fans out.
    """
    bucketed, q = _lsh_bucketed(emb, query_ids, n_planes)
    probe_buckets = F.array(
        F.col("q_bucket"),
        *[F.col("q_bucket").bitwiseXOR(F.lit(1 << j)) for j in range(n_planes)],
    )
    probes = q.select(
        "query_id", "q_emb", "q_norm", F.explode(probe_buckets).alias("bucket")
    )
    pairs = bucketed.join(F.broadcast(probes), "bucket")
    return _topk(_cosine_rerank(pairs), k, "cosine", descending=True)


def band_signatures(vec_col: Column, n_bands: int, band_bits: int) -> Column:
    """Array of ``n_bands`` sign-bit band signatures via a vectorized
    pandas UDF (one numpy matmul per Arrow batch).

    Band ``b`` hashes the vector against Gaussian hyperplanes
    ``[b·band_bits, (b+1)·band_bits)`` drawn from a fixed-seed
    generator (deterministic across runs and machines — numpy pins the
    PCG64 stream per seed), packing the sign bits into one bigint.
    Spherically-symmetric Gaussian planes are what the sign-LSH
    collision guarantee ``P(bit agree) = 1 − θ/π`` actually requires;
    the engine's sequential multiplicative-hash family
    (:func:`hyperplane_component`, kept for the oracle-reproducible ANN
    buckets) is measurably correlated across plane indices and
    collapsed 16-bit signature entropy ~300x on the probe corpus.
    Signatures only GATE candidate generation (the verify step
    recomputes exact cosine with the oracle's fold order), so both the
    plane family and the numpy summation order are free here — which
    is also why the hot hash loop can be a single SIMD matmul instead
    of n_bands·band_bits interpreted aggregates per row.
    """
    require_at_least("n_bands", n_bands, 1)
    require_in_range("band_bits", band_bits, 1, MAX_I64_BITS)
    from pyspark.sql.functions import pandas_udf

    n_planes = n_bands * band_bits

    @pandas_udf("array<bigint>")
    def sig_pd(v: pd.Series) -> pd.Series:
        V = np.stack(v.to_numpy()).astype("float64")
        d = V.shape[1]
        H = np.random.default_rng(20240817).standard_normal((n_planes, d))
        bits = (V @ H.T) > 0  # (n, n_planes)
        weights = 1 << np.arange(band_bits, dtype="int64")
        sigs = np.einsum(
            "nbk,k->nb", bits.reshape(len(V), n_bands, band_bits), weights
        )
        return pd.Series(list(sigs))

    return sig_pd(vec_col)


def lsh_near_pairs(
    emb: DataFrame,
    threshold: float,
    n_bands: int = 64,
    band_bits: int = 16,
) -> DataFrame:
    """Candidate-pruned near-pairs: banded sign-bit LSH candidate
    generation + EXACT cosine verify — the scale path for the selective
    near-duplicate regime (cos ≥ ~0.85).

    Same output contract as :func:`cosine_near_pairs` — all (a < b)
    with cosine ≥ threshold, scores bit-identical to the exact oracle —
    but the plan touches only pairs agreeing on ≥ 1 of the ``n_bands``
    ``band_bits``-bit signatures: a NARROW hash-partitioned equi-join
    on (band, signature) carrying ids only, never a block-pair grid.
    Each unordered pair is emitted once via ``distinct()`` over the
    banded candidate stream — map-side combinable and applied to a
    stream already pruned to the banding fraction, so it costs far
    less wire than shipping signature arrays through the self-join
    would.

    Recall is the standard banding curve
    ``1 − (1 − q^band_bits)^n_bands`` with per-bit agreement
    ``q = 1 − θ/π``: at the defaults (64 bands × 16 bits),
    ≥ 1 − 3·10⁻⁶ for cos 0.95, ≈ 0.996 for cos 0.9, ≈ 0.95 for
    cos 0.85 and dropping fast below — which is why the REGISTERED
    threshold sits at 0.95, deep in the exact-duplicate regime where
    the curve is effectively 1 and an oracle-exact contract is
    defensible; callers wanting looser thresholds trade recall per the
    curve (raise ``n_bands`` to buy it back). Expected candidate
    volume for isotropic non-pairs is
    ``n²/2 · n_bands / 2^band_bits`` — **~0.1% of the exact grid** at
    the defaults (8-bit bands admit ~6%, which the exact blocked GEMM
    then beats on constant factor; 16-bit bands are where pruning
    genuinely wins: all 12 000 planted cos-1.0 pairs found on the K=4
    probe corpus in a fraction of the exact grid's time). The join
    fans out by bucket occupancy, so skewed buckets split under AQE
    like any equi-join. The exact blocked form remains the
    completeness oracle (recall equality asserted on a
    planted-duplicates corpus in tests/test_properties.py).
    """
    require_in_range("threshold", threshold, -1.0, 1.0)
    from pyspark.sql.functions import pandas_udf

    # Candidate generation is NARROW end-to-end: the banded self-join
    # moves only (vec_id, band, sig) ≈ 18 B per exploded row — NOT the
    # full n_bands-element signature array (which at 64 bands would put
    # ~512 B on BOTH sides of the join, ~n_bands² int64s per vector of
    # shuffle; an earlier shape did exactly that to evaluate a
    # first-agreeing-band filter and the wire volume dominated at
    # corpus scale). Pair emit-once is instead a ``distinct()`` on the
    # candidate stream — map-side combinable, and the stream it
    # shuffles is already pruned to ~n_bands/2^band_bits of the pair
    # grid (~0.1% at the defaults), so its exchange is negligible next
    # to the banded explode. Measured at sf0.1 (5e3 vectors, identical
    # 4017-candidate output): narrow+distinct 1.03 s vs wide+first-band
    # 1.26 s median-of-3 — already faster where shuffle volume barely
    # matters, and the gap is wire-proportional at cluster scale.
    # Density caveat (measured, scripts/scale_probe.py K=4): a TRUE
    # near-dup pair agrees on ~every band, so the distinct ingests
    # ~n_bands narrow rows per dup pair — at the probe's adversarial
    # density (6 cos-1.0 copies per vector → 12k dup pairs × 64 bands
    # ≈ 0.8M 16-byte rows) that costs ~1s over the first-band shape's
    # emit-once. The trade only inverts when dup pairs × n_bands
    # approaches corpus_rows × n_bands — i.e. when most of the corpus
    # is one duplicate cluster — while the narrow join saves ~28× on
    # the banded stream EVERY corpus pays in full. The embeddings rejoin by id just before
    # the verify, and the exact scoring runs in the Arrow kernel below
    # rather than as an interpreted per-row higher-order fold (measured
    # 5.0 s -> 2.4 s at sf0.1, where ~2e5 candidates survive banding;
    # at this corpus size fixed stage overhead dominates and the exact
    # grid is still competitive — the pruned path pays off as n grows
    # and the candidate fraction holds while the grid is quadratic).
    # Non-finite vectors (any NaN/Inf component) cannot be hashed —
    # their plane dots are NaN, every sign bit collapses, and banding
    # would silently drop pairs the EXACT contract keeps (a NaN cosine
    # compares `>= t` true under Spark's NaN-is-greatest ordering, so
    # in the exact form a NaN vector pairs with every other vector).
    # They are split out and paired against the whole corpus through a
    # broadcast constant-key equi-join — output volume |dirty|·n, the
    # same as the exact contract's, and zero rows plus a trivially
    # empty broadcast when the data is clean (the normal case).
    bad = lambda x: F.isnan(x.cast("double")) | (
        F.abs(x.cast("double")) == float("inf")
    )
    dirty_flag = F.exists("embedding", bad)
    clean = emb.filter(~dirty_flag)
    dirty = emb.filter(dirty_flag)

    sigged = clean.select(
        "vec_id",
        band_signatures(F.col("embedding"), n_bands, band_bits).alias("sigs"),
    )
    bands = sigged.select("vec_id", F.posexplode("sigs").alias("band", "sig"))
    left = bands.select(F.col("vec_id").alias("l_id"), "band", "sig")
    right = bands.select(F.col("vec_id").alias("r_id"), "band", "sig")
    cands = (
        left.join(right, ["band", "sig"])
        .filter(F.col("l_id") < F.col("r_id"))
        .select("l_id", "r_id")
        .distinct()
    )
    # dirty × everyone (including other dirty rows, each pair once).
    # The join key is ``pmod(vec_id, 1)`` — always 0 but NOT
    # constant-foldable, so the planner keeps a broadcast HASH join
    # (a literal key folds to a trivially-true condition and degrades
    # to BroadcastNestedLoopJoin). The broadcast is empty on clean
    # data, so the normal case pays one no-op stage.
    dirty_cands = (
        emb.select(
            F.col("vec_id").alias("o_id"),
            dirty_flag.alias("o_dirty"),
            F.pmod(F.col("vec_id"), F.lit(1)).alias("k"),
        )
        .join(
            F.broadcast(
                dirty.select(
                    F.col("vec_id").alias("d_id"),
                    F.pmod(F.col("vec_id"), F.lit(1)).alias("k"),
                )
            ),
            "k",
        )
        .filter(
            (F.col("d_id") < F.col("o_id"))
            | ((F.col("d_id") > F.col("o_id")) & ~F.col("o_dirty"))
        )
        .select(
            F.least("d_id", "o_id").alias("l_id"),
            F.greatest("d_id", "o_id").alias("r_id"),
        )
    )

    # Exact verify, clean branch: dimension-sequential float64
    # accumulation — the same op order as the ``aggregate`` expression
    # and the DuckDB oracle (see make_cosine_pandas_udf), so scores
    # stay bit-identical. Clean (all-finite) vectors can only produce
    # a finite cosine or a zero denominator; the kernel returns NULL
    # for the latter (matching the expression form's
    # ``when(denom != 0, ...)``). It must NOT be used for non-finite
    # data: Spark's Arrow return path folds every NaN a pandas UDF
    # emits into NULL (verified — object dtype and nullable Float64
    # both), which would silently drop NaN-cosine pairs the exact
    # contract keeps; the dirty branch therefore scores JVM-side.
    @pandas_udf("double")
    def cos_or_null(a: pd.Series, b: pd.Series) -> pd.Series:
        A = np.stack(a.to_numpy()).astype("float64")
        B = np.stack(b.to_numpy()).astype("float64")
        n = A.shape[0]
        dots = np.zeros(n)
        na = np.zeros(n)
        nb = np.zeros(n)
        for j in range(A.shape[1]):  # sequential over dims, SIMD over rows
            dots += A[:, j] * B[:, j]
            na += A[:, j] * A[:, j]
            nb += B[:, j] * B[:, j]
        denom = np.sqrt(na) * np.sqrt(nb)
        with np.errstate(invalid="ignore"):
            vals = dots / np.where(denom == 0, 1, denom)
        out = vals.astype(object)
        out[denom == 0] = None
        return pd.Series(out)

    slim = emb.select("vec_id", "embedding")
    slim_l = slim.select(
        F.col("vec_id").alias("l_id"), F.col("embedding").alias("l_emb")
    )
    slim_r = slim.select(
        F.col("vec_id").alias("r_id"), F.col("embedding").alias("r_emb")
    )
    scored_clean = (
        cands.join(slim_l, "l_id")
        .join(slim_r, "r_id")
        .select(
            F.col("l_id").alias("a"),
            F.col("r_id").alias("b"),
            cos_or_null(F.col("l_emb"), F.col("r_emb")).alias("cosine"),
        )
    )
    # Dirty branch: the exact path's own JVM expression (hoisted
    # norms), where NaN survives — `NaN != 0` is true under Spark's
    # NaN-is-greatest semantics, so a NaN denominator flows through to
    # a NaN cosine exactly like cosine_near_pairs.
    d_denom = l2_norm(F.col("l_emb")) * l2_norm(F.col("r_emb"))
    scored_dirty = (
        dirty_cands.join(slim_l, "l_id")
        .join(slim_r, "r_id")
        .select(
            F.col("l_id").alias("a"),
            F.col("r_id").alias("b"),
            F.when(
                d_denom != 0, dot(F.col("l_emb"), F.col("r_emb")) / d_denom
            ).alias("cosine"),
        )
    )
    return scored_clean.unionByName(scored_dirty).filter(
        F.col("cosine") >= threshold
    )


def semdedup(
    emb: DataFrame,
    k: int = 8,
    rounds: int = 1,
    threshold: float = 0.4,
) -> DataFrame:
    """Semantic deduplication (SemDeDup, Abbas et al. 2023): k-means
    the embedding space, then drop within-cluster near-duplicates —
    the embedding-side analogue of MinHash-LSH, and the standard way
    LLM pipelines remove SEMANTIC redundancy exact/fuzzy text dedup
    cannot see.

    Contract (deterministic, engine-portable): a vector is dropped iff
    some LOWER-id vector in the SAME cell has cosine ≥ ``threshold``
    with it — the first-wins convention applied pairwise (no
    transitive closure: chains where the dominator was itself dropped
    still drop the dominated row; the cheaper one-pass contract, and
    the one the oracle states verbatim). Returns every input id with
    ``(vec_id, cell, n_dominators, is_kept)`` so both the survivor
    set and the drop evidence are value-checkable.

    Scale shape: clustering is the broadcast-argmin assignment of
    ``kmeans.assignments`` (one narrow shuffle per Lloyd round); the
    pair stage is an equi-join on ``cell`` — quadratic ONLY within a
    cell, which is the SemDeDup design point: k grows with corpus size
    (production runs use 10⁴-10⁵ clusters) precisely so cells stay
    small enough for in-cell comparison. Skewed cells split under AQE
    like any equi-join. Scores use the same dimension-ordered
    double fold as every cosine in this module, so the DuckDB oracle
    reproduces them bit-for-bit.

    The assigned-points frame is materialized once (the
    triangle_counts discipline): it feeds THREE plan
    branches (both in-cell join arms and the final dominator join),
    each of which would otherwise re-scan the corpus and re-run the
    centroid-argmin assignment. Pinned storage is one |V|-row frame
    of (id, embedding, cell).
    """
    require_at_least("k", k, 1)
    require_at_least("rounds", rounds, 0)
    require_in_range("threshold", threshold, -1.0, 1.0)
    from .kmeans import assignments

    asg = assignments(emb, k, rounds)
    pts = emb.select("vec_id", "embedding").join(asg, "vec_id")
    pts = pts.localCheckpoint(eager=True)
    a = pts.select(
        F.col("vec_id").alias("a"), F.col("embedding").alias("a_emb"), "cell"
    )
    b = pts.select(
        F.col("vec_id").alias("b"), F.col("embedding").alias("b_emb"), "cell"
    )
    # In-cell pair scoring runs in the Arrow kernel, not the
    # interpreted higher-order fold: the in-cell grid is the dominant
    # cost (~n²/k pairs) and the kernel's dimension-sequential
    # accumulation is bit-identical to the expression form and the
    # oracle (see make_cosine_pandas_udf) at ~numpy speed — measured
    # 8.0 s → ~2 s at sf0.1 (5e3 vectors, k=8, ~1.5M in-cell pairs).
    # Zero-norm pairs: the kernel's NaN comes back NULL through Arrow,
    # NULL >= τ is never true — same survive-contract as the guarded
    # expression (pinned in tests/test_properties.py).
    cos = make_cosine_pandas_udf()
    scored = (
        a.join(b, "cell")
        .filter(F.col("a") < F.col("b"))
        .select("b", cos(F.col("a_emb"), F.col("b_emb")).alias("_cos"))
    )
    return _dominated(pts, scored, threshold)


def _dominated(side: DataFrame, scored: DataFrame, threshold: float) -> DataFrame:
    """The SemDeDup verdict per ``side`` vector (vec_id, cell): how many
    scored pairs (b, _cos) reach ``threshold`` against it, and whether
    it is kept (none do). A NULL ``_cos`` never dominates."""
    dom = (
        scored.filter(F.col("_cos") >= F.lit(threshold))
        .groupBy("b")
        .agg(F.count("*").alias("n_dominators"))
    )
    return side.join(dom, side["vec_id"] == dom["b"], "left").select(
        "vec_id",
        "cell",
        F.coalesce("n_dominators", F.lit(0)).cast("bigint").alias(
            "n_dominators"
        ),
        F.col("n_dominators").isNull().alias("is_kept"),
    )


def semdedup_incremental(
    corpus: DataFrame,
    batch: DataFrame,
    k: int = 8,
    rounds: int = 1,
    threshold: float = 0.4,
) -> DataFrame:
    """Incremental SemDeDup: screen a NEW batch of vectors against an
    already-clustered corpus WITHOUT re-clustering — the embedding-side
    mirror of :func:`dedup`'s ``d18`` incremental MinHash path, and the
    shape a production ingest actually runs (the corpus index is a
    persisted artifact; re-running Lloyd over 100 TB per arriving batch
    would dwarf the ingest itself).

    Contract: a batch vector is dominated iff some CORPUS vector in
    its assigned cell has cosine ≥ ``threshold`` with it. Cells come
    from the corpus's own k-means fit (deterministic seeds = the
    corpus ids below ``k``, the d16/kmeans convention; ``rounds``
    Lloyd rounds — identical arithmetic
    to :func:`semdedup` / the kmeans oracle CTE); batch vectors are
    assigned by broadcast-argmin against those FROZEN centroids, the
    incremental step. Batch-internal duplicates are deliberately NOT
    judged here (same convention as d18: that's the intra-batch dedup
    pass's job; this operator answers "is it new relative to the
    corpus").

    Returns every batch id with ``(vec_id, cell, n_dominators,
    is_kept)``. Scale shape: centroid fit and both assignments are
    broadcast-argmin projections (zero data-sized shuffles; the Lloyd
    update shuffles k·d per-dimension sums, never vectors); the verify
    join is an equi-join on ``cell`` whose cost is |batch|·(cell
    population) — linear in the batch for a well-sized k, never
    corpus-quadratic. In production the corpus side arrives
    pre-assigned (cells are part of the persisted index); here it is
    derived in-plan and checkpointed once (the semdedup discipline) so
    the centroid fit isn't re-run per consumer branch.
    """
    require_at_least("k", k, 1)
    require_at_least("rounds", rounds, 0)
    require_in_range("threshold", threshold, -1.0, 1.0)
    from .kmeans import assign, quantize_micro, update_centroids

    pts_c = corpus.select(
        "vec_id", quantize_micro(F.col("embedding")).alias("qv")
    )
    cent_arr = (
        pts_c.filter(F.col("vec_id") < k)
        .select(
            F.col("vec_id").alias("cent_id"),
            F.transform("qv", lambda v: v.cast("double")).alias("c_vec"),
        )
        .agg(F.collect_list(F.struct("cent_id", "c_vec")).alias("cents"))
    )
    for _ in range(rounds):
        cent_arr = update_centroids(assign(pts_c, cent_arr))
    # Pin the fitted centroids — THE persisted index artifact of a
    # production deployment — so neither assignment re-embeds the
    # Lloyd-fit lineage (without this the batch-side argmin's plan
    # re-derived the whole corpus fit: +5 exchanges). The no-op
    # limit(1) writes the one-row bound back into the plan — a
    # localCheckpoint is a LogicalRDD with no static maxRows, and the
    # broadcast in assign() must stay classifiable as a bounded BNLJ
    # build side (plans.bnlj_build_side_bounds).
    cent_arr = cent_arr.localCheckpoint(eager=True).limit(1)
    c_side = corpus.select("vec_id", "embedding").join(
        assign(pts_c, cent_arr).select("vec_id", "cell"), "vec_id"
    ).localCheckpoint(eager=True)
    pts_b = batch.select(
        "vec_id", quantize_micro(F.col("embedding")).alias("qv")
    )
    b_side = batch.select("vec_id", "embedding").join(
        assign(pts_b, cent_arr).select("vec_id", "cell"), "vec_id"
    )
    cos = make_cosine_pandas_udf()
    scored = (
        b_side.select(
            F.col("vec_id").alias("b"), F.col("embedding").alias("b_emb"), "cell"
        )
        .join(
            c_side.select(
                F.col("vec_id").alias("a"),
                F.col("embedding").alias("a_emb"),
                "cell",
            ),
            "cell",
        )
        .select("b", cos(F.col("a_emb"), F.col("b_emb")).alias("_cos"))
    )
    return _dominated(b_side, scored, threshold)


def _pq_subdist(vec_col: Column, cm_col: Column, j: int, sub: int) -> Column:
    """Exact bigint squared distance between subspace ``j`` of two
    integer micro-unit vectors (elements < ~4e6, so the per-subspace
    sum stays far inside int64)."""
    return F.aggregate(
        F.zip_with(
            F.slice(vec_col, j * sub + 1, sub),
            F.slice(cm_col, j * sub + 1, sub),
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def _pq_codebook(mic: DataFrame, n_codes: int) -> DataFrame:
    """One-row broadcastable codebook: the micro-vectors whose vec_id
    falls below ``n_codes``, sorted by codeword id. PRECONDITION: at
    least one such vec_id must exist (the deterministic-codebook
    convention shared with ``ivf_topk``'s coarse centroids) — an empty
    codebook cannot encode anything. Codeword ids need NOT be dense:
    consumers look distances up by id (map-keyed), not by position, so
    a production index swaps in per-subspace k-means codebooks with
    arbitrary ids without changing any consumer.

    The precondition is ENFORCED, not just documented: an
    ``assert_true`` folded into the codebook row fails the job loudly
    if the codebook comes back empty (otherwise NULL codes/ADC
    distances would silently float garbage rows to the top of the
    ascending rank window)."""
    return (
        mic.filter(F.col("vec_id") < n_codes)
        .select(
            F.struct(
                F.col("vec_id").alias("cent_id"), F.col("m").alias("cm")
            ).alias("c")
        )
        .agg(F.sort_array(F.collect_list("c")).alias("cb0"))
        # assert_true evaluates to NULL iff the condition holds; cb
        # depends on it, so Catalyst cannot prune the check away.
        .select(
            F.when(
                F.assert_true(
                    F.size("cb0") > 0,
                    F.lit(
                        "PQ codebook is empty: no vec_id < n_codes in the "
                        "input — cannot encode; check the corpus ids"
                    ),
                ).isNull(),
                F.col("cb0"),
            ).alias("cb")
        )
    )


def _pq_codes(mic: DataFrame, cb_arr: DataFrame, n_sub: int, sub: int) -> DataFrame:
    """PQ-encode: per subspace, argmin (distance, codeword id) over the
    broadcast codebook — zero shuffles, struct-sort argmin. NB the
    per-j lambdas are SINGLE-argument closures: F.transform dispatches
    on lambda arity, so a two-arg lambda capturing j via a default
    argument would silently receive (element, array-position) instead
    (the trap test_minhash_from_arrays pins)."""

    def _code_expr(j: int) -> Column:
        def scorer(c: Column) -> Column:
            return F.struct(
                _pq_subdist(F.col("m"), c["cm"], j, sub).alias("d"),
                c["cent_id"].alias("cent_id"),
            )

        return F.sort_array(F.transform(F.col("cb"), scorer))[0][
            "cent_id"
        ].alias(f"code{j}")

    enc = mic.crossJoin(F.broadcast(cb_arr))
    return enc.select("vec_id", *[_code_expr(j) for j in range(n_sub)])


def _pq_dtables(
    mic: DataFrame, query_ids: list[int], cb_arr: DataFrame, n_sub: int, sub: int
) -> DataFrame:
    """Per-query ADC distance tables: ``dt{j}`` is a ``map<cent_id,
    distance>`` of exact subspace-j distances to every codeword. A map
    keyed by codeword id (not a position-indexed array) keeps lookups
    correct for ANY codeword id set — sparse, gapped, or
    k-means-assigned ids — where a positional ``array[cent_id + 1]``
    silently reads the wrong codeword once ids stop being dense from
    zero."""

    def _dtable_expr(j: int) -> Column:
        def entry(c: Column) -> Column:
            return F.struct(
                c["cent_id"].alias("key"),
                _pq_subdist(F.col("qm"), c["cm"], j, sub).alias("value"),
            )

        return F.map_from_entries(F.transform(F.col("cb"), entry)).alias(
            f"dt{j}"
        )

    q = mic.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("m").alias("qm")
    )
    return q.crossJoin(F.broadcast(cb_arr)).select(
        "query_id", *[_dtable_expr(j) for j in range(n_sub)]
    )


def _pq_adist(n_sub: int) -> Column:
    """Sum of per-subspace table lookups (by codeword id) — the ADC
    distance. Every code was produced from the same codebook the maps
    were built from, so the key always exists."""
    adist = None
    for j in range(n_sub):
        term = F.col(f"dt{j}")[F.col(f"code{j}")]
        adist = term if adist is None else adist + term
    return adist


def _pq_micro(emb: DataFrame, n_sub: int, dims: int) -> tuple[int, DataFrame]:
    """Preamble of the PQ entry points: check that ``n_sub`` subspaces
    split ``dims`` evenly; return the subspace width and the
    micro-quantized frame (vec_id, m)."""
    from .kmeans import quantize_micro

    require_at_least("n_sub", n_sub, 1)
    if dims % n_sub:
        raise ValueError(f"dims={dims} not divisible by n_sub={n_sub}")
    return dims // n_sub, emb.select(
        "vec_id", quantize_micro(F.col("embedding")).alias("m")
    )


def pq_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_sub: int = 4,
    n_codes: int = 16,
    dims: int = 64,
) -> DataFrame:
    """Product-quantization ADC top-k — the memory-compression ANN
    lane next to the recall lanes (LSH buckets, IVF probes).

    The vector is split into ``n_sub`` subspaces; each subspace is
    quantized to its nearest of ``n_codes`` codewords, so a corpus
    vector becomes ``n_sub`` small codes (here 4 codes covering a
    64-dim vector — 16x smaller than even an int8 quantization).
    Search is the classic Asymmetric Distance Computation: the QUERY
    stays exact, each query precomputes one ``n_sub x n_codes``
    table of subspace distances to every codeword, and a candidate's
    approximate distance is ``n_sub`` table lookups summed — an
    exhaustive scan over codes that never touches the original
    vectors. At 100 TB this is the shape that keeps the index in
    memory: the codes relation is ~n_sub bytes/vector, the distance
    tables are query-side literals (broadcast), and the scan is one
    embarrassingly-parallel projection + per-query top-k. Compose
    with IVF cells for the pruned scan — :func:`ivfpq_topk`.

    Determinism/exactness (the oracle replays bit-for-bit): vectors
    are quantized to integer micro-units first, so every subspace
    distance is an exact bigint (micro² units); codewords are the
    ``n_codes`` lowest vec_ids' subvectors; argmin ties break on the
    lowest codeword id via struct ordering.
    """
    sub, mic = _pq_micro(emb, n_sub, dims)
    cb_arr = _pq_codebook(mic, n_codes)
    codes = _pq_codes(mic, cb_arr, n_sub, sub)
    qt = _pq_dtables(mic, query_ids, cb_arr, n_sub, sub)

    cands = (
        codes.crossJoin(F.broadcast(qt))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", _pq_adist(n_sub).alias("adist_micro2"))
    )
    return _topk(cands, k, "adist_micro2", descending=False)


def ivfpq_build_index(
    emb: DataFrame,
    n_cells: int = 16,
    n_sub: int = 4,
    n_codes: int = 16,
    dims: int = 64,
) -> dict:
    """Index side of IVF-PQ, split out so callers can build ONCE and
    serve many queries — the actual 100 TB deployment shape (the index
    is a materialized artifact; queries are the steady-state load).

    Returns ``{"cells", "codes", "cb_arr", "cent_arr"}`` — the coarse
    cell assignment relation, the PQ code relation, and the one-row
    broadcast codebook/centroid arrays. All lazy frames; callers that
    reuse the index across actions should checkpoint ``cells`` and
    ``codes`` (a few bytes per vector — that compactness is the point).
    ``scripts/scale_probe.py`` uses this split so the measured scaling
    exponent describes the serving path, not per-run index builds.
    """
    sub, mic = _pq_micro(emb, n_sub, dims)
    centroids = _centroids(emb, n_cells)
    cent_arr = _cent_array(centroids)
    cells = assign_cells(emb, centroids, cent_arr=cent_arr).select(
        "vec_id", "cell"
    )
    cb_arr = _pq_codebook(mic, n_codes)
    codes = _pq_codes(mic, cb_arr, n_sub, sub)
    return {
        "cells": cells,
        "codes": codes,
        "cb_arr": cb_arr,
        "cent_arr": cent_arr,
    }


def ivfpq_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 2,
    n_sub: int = 4,
    n_codes: int = 16,
    dims: int = 64,
    index: dict | None = None,
) -> DataFrame:
    """IVF-PQ: the standard billion-scale ANN layout — IVF cells prune
    WHERE to look, PQ codes compress WHAT is looked at.

    Index side: every vector gets a coarse cell (argmax cosine against
    the broadcast centroid array, zero shuffles — :func:`assign_cells`)
    AND a PQ code row (:func:`_pq_codes`); the search-time relation is
    (vec_id, cell, 4 small codes) — a few bytes per vector, which is
    what lets a 100 TB corpus's index live in executor memory.
    Query side: probe the ``n_probe`` nearest cells, then ADC-score
    ONLY the probed cells' codes (exact-bigint table lookups) — each
    query touches ~n_probe/n_cells of the code relation instead of all
    of it. Every join is an equi-join on cell or vec_id; the only
    broadcast-sized things are the one-row centroid/codebook arrays,
    the probe list, and the per-query distance tables. Recall knobs
    are the standard two: more probes, finer codebooks.

    ``index``: a prebuilt :func:`ivfpq_build_index` result — pass it
    when serving many query batches against one corpus so the
    cells/codes relations are built (and, caller-side, checkpointed)
    once. Default None builds the index inline, which keeps the
    single-shot call self-contained and byte-identical to the split
    path (same owner functions, same frames).
    """
    require_at_least("n_cells", n_cells, 1)
    require_at_least("n_probe", n_probe, 1)
    sub, mic = _pq_micro(emb, n_sub, dims)
    if index is None:
        index = ivfpq_build_index(
            emb, n_cells=n_cells, n_sub=n_sub, n_codes=n_codes, dims=dims
        )
    cells, codes = index["cells"], index["codes"]
    cb_arr, cent_arr = index["cb_arr"], index["cent_arr"]

    # probe selection: the SAME _probe_cells owner ivf_topk uses, so
    # IVF and IVF-PQ prune identically by construction
    probes = _probe_cells(_queries(emb, query_ids), cent_arr, n_probe)

    qt = _pq_dtables(mic, query_ids, cb_arr, n_sub, sub)

    cands = (
        cells.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(codes, "vec_id")
        .join(F.broadcast(qt), "query_id")
        .select("query_id", "vec_id", _pq_adist(n_sub).alias("adist_micro2"))
    )
    return _topk(cands, k, "adist_micro2", descending=False)
