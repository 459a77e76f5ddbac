"""Deduplication operators for document corpora (SURVEY X11 + the
LLM-data-pipeline extension set).

Generalizes the reference's key-dedup-on-insert (``ON CONFLICT (MP_id)
DO NOTHING``, ``my_dag.py:201-202``) from exact keys to content:

- **exact / normalized dedup** — hash-groupBy on the (normalized) text;
  first-wins survivor picked by a deterministic ``row_number`` tie-break
  (NOT ``dropDuplicates``, whose survivor is partition-order arbitrary).
- **MinHash + LSH near-dup** — shingle → minhash signature → banded
  bucket join → exact-Jaccard verification of candidates only. The LSH
  band join is what makes near-dup detection feasible at 100 TB: the
  candidate set is ~linear in data size instead of O(n²); the quadratic
  verify stage runs only inside buckets.
- **SimHash** — one 32-bit signature per document computed in a single
  array-aggregate pass (no token-row explosion), pairs compared by
  Hamming distance via ``bit_count(xor)``.
- **n-gram Jaccard** — exact pairwise similarity over word-3-gram sets,
  candidate-pruned by the inverted shingle index.

All hashing follows the cross-engine conventions in
``functions/hashing.py`` (md5-derived integers, modular permutations),
so every stage — including the LSH bucket assignment — is reproducible
verbatim in the DuckDB oracles.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .guards import MAX_I64_BITS, require_at_least, require_in_range
from .storage import CheckpointScope
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.hashing import MERSENNE31, det_hash_str, minhash_perm
from ..functions.text import norm_text, tokens, word_ngrams

#: Default MinHash geometry: 8 permutations in 4 bands of 2 rows.
#: P(candidate | jaccard j) = 1 - (1 - j^2)^4 — ~0.99 at j = 0.8.
N_PERMS = 8
N_BANDS = 4
ROWS_PER_BAND = 2
#: Default document-frequency cut for the exact n-gram Jaccard join —
#: shared with the registered oracle so Spark and SQL encode the SAME
#: (scale-independent) semantics.
DEFAULT_MAX_DF = 128


def first_per_key(
    df: DataFrame, key_cols: list[str], order_col: str, **extra: Column
) -> DataFrame:
    """One row per key, the one with the smallest ``order_col``: the
    batch dedup of every first-wins sink. ``extra`` columns are
    computed before the filter, so their windows see every copy."""
    w = Window.partitionBy(*key_cols).orderBy(order_col)
    ranked = df.withColumn("_rn", F.row_number().over(w))
    if extra:
        ranked = ranked.withColumns(extra)
    return ranked.filter(F.col("_rn") == 1).drop("_rn")


def first_wins_dedup(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """Exact dedup, first-writer-wins (X11, generalizing Q16).

    Survivor per key group = smallest ``order_col``; adds ``n_copies``.
    Deterministic by construction — re-running on the survivors is a
    no-op (tests/test_upsert_pipe_mm.py::test_first_wins_dedup_idempotent).
    """
    n_copies = F.count("*").over(Window.partitionBy(*key_cols))
    return first_per_key(df, key_cols, order_col, n_copies=n_copies)


def doc_shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word-n-gram shingles per document: (doc_id, shingle).

    The inverted index this produces is the workhorse of both the LSH
    bucket join and exact-Jaccard verification.

    The token array is materialized in its own projection before the
    n-gram transform: ``word_ngrams`` references the array once per
    gram position, and inlining the tokenizer (regexp normalize +
    split) into each reference re-runs it per position — ~25x slower
    on measured plans. Two projections keep CollapseProject from
    inlining the non-cheap, multiply-referenced alias.
    """
    require_at_least("n", n, 1)
    toked = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    return (
        toked.select("doc_id", F.explode(word_ngrams(F.col("toks"), n)).alias("shingle"))
        .distinct()
    )


def doc_shingle_arrays(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingles): the distinct shingle SET as a per-row array.

    The narrow (shuffle-free) representation of the same set that
    :func:`doc_shingles` explodes into rows. Signature computation and
    set sizes come straight off the array; only the verification join
    needs the exploded form. Documents with fewer than ``n`` tokens
    have no shingles and are dropped (matching the exploded form).
    """
    require_at_least("n", n, 1)
    # Filter on the token count, NOT on size(shingles): a predicate over
    # the computed shingle array would be pushed below the projections
    # with the whole n-gram expression (tokenizer included) inlined into
    # the Filter — re-tokenizing per array element. size(toks) >= n is
    # the same row set and substitutes to one cheap per-row check.
    toked = docs.select("doc_id", tokens(F.col("text")).alias("toks")).filter(
        F.size("toks") >= n
    )
    return toked.select(
        "doc_id", F.array_distinct(word_ngrams(F.col("toks"), n)).alias("shingles")
    )


def doc_shingles_local(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) with PER-DOCUMENT distinctness and ZERO
    shuffle: ``explode(array_distinct(word_ngrams(toks)))`` in a
    single projection over the materialized token array.

    Same rows as ``doc_shingle_arrays(...).select(explode(...))`` —
    and that spelling is a 40x performance trap, which is why this
    function exists: exploding a plain ATTRIBUTE that aliases an
    expensive array triggers Catalyst's ``InferFiltersFromGenerate``,
    which infers ``size(col) > 0 AND isnotnull(col)`` and pushes it
    below the projections, SUBSTITUTING the whole
    tokenize→ngram→distinct expression ~12 times into a per-input-row
    Filter (measured 44 s vs 1.3 s at sf0.1 — the r5 d15/d18/d20
    regression). With the expression INLINE in the generator, the rule
    skips it (non-trivial generator input), the token array stays
    materialized once per row in the child projection, and short
    documents fall out naturally (explode of the empty ELSE array
    emits nothing).

    Use this for any exploded consumer; keep :func:`doc_shingle_arrays`
    for array-shaped consumers (signatures via ``array_min`` lanes,
    set sizes via ``F.size``) that never explode.
    """
    require_at_least("n", n, 1)
    toked = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    return toked.select(
        "doc_id",
        F.explode(F.array_distinct(word_ngrams(F.col("toks"), n))).alias(
            "shingle"
        ),
    )


def minhash_signatures(shingled: DataFrame, n_perms: int = N_PERMS) -> DataFrame:
    """(doc_id, mh_0..mh_{k-1}): column-wise MinHash signature from the
    exploded (doc_id, shingle) form.

    One hash of each shingle string, then k cheap modular permutations
    reduced with ``min`` — a single groupBy with map-side partial mins,
    one shuffle regardless of k. For a signature-only job (computing
    and storing signatures, no verify stage), the shuffle-free
    :func:`minhash_signatures_from_arrays` is cheaper; inside the full
    near-dup pipeline this form wins because its exchange doubles as
    the corpus-wide reuse point (see near_dup_pairs_minhash).
    """
    require_at_least("n_perms", n_perms, 1)
    h = det_hash_str(F.col("shingle"))
    hashed = shingled.select("doc_id", h.alias("h"))
    aggs = [
        F.min(minhash_perm(F.col("h"), j)).alias(f"mh_{j}") for j in range(n_perms)
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def minhash_signatures_from_arrays(
    sharr: DataFrame, n_perms: int = N_PERMS
) -> DataFrame:
    """(doc_id, mh_0..mh_{k-1}): MinHash signature as a pure projection.

    Each signature lane is ``array_min`` over the permuted hash array —
    per-row expressions only, so at 100 TB this stage is a scan with
    zero exchanges (vs one groupBy shuffle of every (doc, shingle) row
    in the exploded form). The md5-derived hash array is materialized
    in its own projection so it's computed once, not once per lane.
    """
    hashed = sharr.select(
        "doc_id", F.transform("shingles", det_hash_str).alias("hs")
    )

    # The lane index must be captured by a CLOSURE around a one-arg
    # lambda: F.transform dispatches on lambda arity, so a two-arg
    # lambda (even with a default) receives (element, position-in-array)
    # and every lane silently collapses to min(perm(h_i, i)).
    def _lane(j: int):
        return F.array_min(
            F.transform(F.col("hs"), lambda h: minhash_perm(h, j))
        ).alias(f"mh_{j}")

    return hashed.select("doc_id", *[_lane(j) for j in range(n_perms)])


def doc_minhash_meta(
    docs: DataFrame, shingle_n: int = 3, n_perms: int = N_PERMS
) -> DataFrame:
    """(doc_id, n_sh, mh_0..mh_{k-1}): per-document shingle-set SIZE and
    MinHash signature in ONE narrow pass over the text.

    This is the frame a production pipeline PERSISTS as its signature
    table: 1 + k integers per document (tiny — independent of text
    size), recomputed never, read by every LSH consumer. Banding,
    candidate joins and Jaccard denominators all derive from it, so a
    pipeline that materializes this meta once touches the full text
    only where it truly must (the exact-verification shingle explode).
    Without it, each consumer branch (bands, sizes) re-runs
    tokenize→ngram→distinct→hash over the whole corpus — measured ~3
    redundant full-text passes in near_dups_against_corpus's plan.
    """
    arr = doc_shingle_arrays(docs, shingle_n)
    hashed = arr.select(
        "doc_id",
        F.size("shingles").alias("n_sh"),
        F.transform("shingles", det_hash_str).alias("hs"),
    )

    def _lane(j: int):
        return F.array_min(
            F.transform(F.col("hs"), lambda h: minhash_perm(h, j))
        ).alias(f"mh_{j}")

    return hashed.select("doc_id", "n_sh", *[_lane(j) for j in range(n_perms)])


def _band_entries(
    sigs: DataFrame, n_bands: int, rows_per_band: int
) -> DataFrame:
    """(doc_id, band, band_key): the banded signature keys.

    The k-way band expansion is ONE generator (explode of a k-element
    struct array), not a union of k selects — a union would plant k
    copies of the signature lineage in the plan and recompute it k
    times per consumer.
    """
    entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "_",
                    *[
                        F.col(f"mh_{b * rows_per_band + r}")
                        for r in range(rows_per_band)
                    ],
                ).alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )
    return sigs.select("doc_id", F.explode(entries).alias("e")).select(
        "doc_id", "e.band", "e.band_key"
    )


def doc_band_entries(
    docs: DataFrame,
    shingle_n: int = 3,
    n_perms: int = N_PERMS,
    n_bands: int = N_BANDS,
    rows_per_band: int = ROWS_PER_BAND,
) -> DataFrame:
    """(doc_id, band, band_key) straight off the text — the banded
    signature index as ONE chain of pure projections (tokenize →
    shingle arrays → minhash lanes → band-key explode). No aggregation
    and no shuffle anywhere in the chain, which is what makes the same
    expression legal over a STREAMING DataFrame: a stream computes its
    band entries per micro-batch and probes a static index
    (x10_stream_near_dup), while a batch corpus materializes this
    frame as the persisted index artifact."""
    return _band_entries(
        minhash_signatures_from_arrays(
            doc_shingle_arrays(docs, shingle_n), n_perms
        ),
        n_bands,
        rows_per_band,
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    n_bands: int = N_BANDS,
    rows_per_band: int = ROWS_PER_BAND,
) -> DataFrame:
    """Distinct candidate pairs (a < b) sharing at least one LSH band.

    Bands are (band_index, concatenated-row-values) keys; the self-join
    on the band key only compares documents inside a bucket. At scale
    this is the standard banded-LSH equi-join: shuffle on band key,
    quadratic only within buckets.
    """
    bands = _band_entries(sigs, n_bands, rows_per_band)
    left = bands.select(F.col("doc_id").alias("a"), "band", "band_key")
    right = bands.select(F.col("doc_id").alias("b"), "band", "band_key")
    return (
        left.join(right, ["band", "band_key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def jaccard_verify(
    shingled: DataFrame,
    candidates: DataFrame,
    threshold: float,
    sizes: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard over shingle sets for candidate pairs only.

    intersection via equi-join on (pair, shingle); union by
    inclusion-exclusion from per-doc set sizes. Integer counts → the
    similarity is a single exact division. Pass ``sizes`` (doc_id,
    n_sh) when the array form is at hand — it saves the groupBy here.
    """
    if sizes is None:
        sizes = shingled.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    sa = shingled.select(F.col("doc_id").alias("a"), "shingle")
    sb = shingled.select(F.col("doc_id").alias("b"), "shingle")
    inter = (
        candidates.join(sa, "a")
        .join(sb, ["b", "shingle"])
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_inter"))
    )
    out = (
        inter.join(sizes.select(F.col("doc_id").alias("a"), F.col("n_sh").alias("na")), "a")
        .join(sizes.select(F.col("doc_id").alias("b"), F.col("n_sh").alias("nb")), "b")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("a", "b", "n_inter", "na", "nb", "jaccard")


def _df_cap(shingled: DataFrame, max_df: int) -> DataFrame:
    """Drop shingles with document frequency above ``max_df`` from the
    (doc_id, shingle) index (the web-scale stop-phrase cut; see
    ngram_jaccard_pairs for the semantics).

    Spelled as one per-shingle count window: a single fused
    Exchange(shingle) + WindowExec + filter whose exchange doubles as
    the downstream consumers' runtime reuse point. The r13 audit
    (VERDICT r12 item 6) tried both join spellings — drop-set
    broadcast anti-join (aggregate → df > max_df tail → anti-join, the
    kcore-peel shape) and the oracle's keep-join (HAVING ≤ max_df +
    inner join) — proved all three row-identical at a biting cap
    (symmetric difference 0 at max_df=5), and measured the window
    FASTER at sf0.1 on both consumers (interleaved min-of-4,
    plans/r13/ab_df_cap.json: d14 2.02 s window vs 2.85 anti / 2.56
    keep-join; d26 2.11 vs 2.40 / 2.41): the join forms pay a second
    pass over the index plus an extra aggregate exchange, which the
    fused window avoids. The window's known scale caveat stands —
    window partitions cannot be AQE-skew-split, so a genuinely hot
    shingle (df ≫ max_df) pins its postings into one counting task; a
    boilerplate-heavy 100 TB corpus should swap in the drop-set
    anti-join spelling above (bounded per-task work, broadcastable
    tail, results proven identical) — a contained one-line change.
    """
    w_df = Window.partitionBy("shingle")
    return (
        shingled.withColumn("_df", F.count("*").over(w_df))
        .filter(F.col("_df") <= max_df)
        .drop("_df")
    )


def near_dup_pairs_minhash(
    docs: DataFrame,
    threshold: float = 0.8,
    shingle_n: int = 3,
    n_bands: int = N_BANDS,
    rows_per_band: int = ROWS_PER_BAND,
) -> DataFrame:
    """End-to-end MinHash-LSH near-duplicate detection.

    The exploded (doc_id, shingle) index feeds four consumers
    (signatures, sizes, both sides of the verify join). Spark has no
    DAG-level common-subexpression materialization, so the reuse point
    is the ``distinct()`` exchange inside :func:`doc_shingles`: all
    four subtrees are canonically identical up to that exchange and are
    pruned identically, so runtime stage reuse (ReusedExchange / AQE
    stage dedup) tokenizes the corpus exactly once. Measured 4-10x
    faster end-to-end than both per-consumer recomputation and an
    explicit ``persist`` of the shingle arrays.

    Geometry is caller-chosen: the 8-perm/4-band default keeps the demo
    corpus cheap; production recall at j ≈ 0.8 wants ≥ 64 perms (e.g.
    16 bands x 4 rows: P(candidate) = 1 − (1 − j⁴)^16 ≈ 0.9998 at
    j = 0.8, vs 0.99 for the default). Signature width only widens the
    per-doc groupBy row — candidate volume still scales with bucket
    occupancy, so the banded join shape is geometry-independent.
    """
    shingled = doc_shingles(docs, shingle_n)
    sigs = minhash_signatures(shingled, n_perms=n_bands * rows_per_band)
    cands = lsh_candidate_pairs(sigs, n_bands=n_bands, rows_per_band=rows_per_band)
    return jaccard_verify(shingled, cands, threshold)


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    shingle_n: int = 3,
    max_df: int | None = DEFAULT_MAX_DF,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs, candidate-pruned by the
    inverted shingle index (pairs must share ≥1 shingle). The exact
    counterpart to the MinHash path — quadratic only within shingle
    posting lists. The ``distinct()`` exchange inside
    :func:`doc_shingles` is the shared materialization point for all
    consumers of the index (see near_dup_pairs_minhash).

    ``max_df`` is the standard document-frequency cut that keeps the
    posting-list self-join from going skew-quadratic: a stop-phrase
    shingle appearing in k documents contributes k·(k-1)/2 join rows,
    so one hot trigram at corpus scale is a straggler task. Shingles
    with df > max_df are dropped from the document representation
    itself (index AND set sizes — the Jaccard stays internally exact
    over the capped sets, the established df-cut semantics of web-scale
    dedup pipelines), bounding per-shingle fan-out at max_df²/2. The
    default (128) exceeds every df observed at test scales (max 25 at
    sf0.1), so capped output is identical to uncapped there; the
    registered oracle mirrors the same HAVING-count cut, so the
    query/oracle pair stays equivalent at ANY corpus size, and at
    100 TB the cap is the difference between a bounded join and an
    unbounded one (tests/test_scale.py::test_ngram_df_cap_bounds_fanout).

    Unlike the MinHash path (whose LSH candidates are NOT the
    intersection), the inverted-index self-join here already enumerates
    the intersection multiset — one row per shared shingle per pair —
    so ``|a ∩ b|`` is a direct groupBy count. No distinct-pairs stage,
    no re-join of the index against candidates (which would re-derive
    the very rows this join just produced)."""
    require_in_range("threshold", threshold, 0.0, 1.0)
    require_at_least("shingle_n", shingle_n, 1)
    shingled = doc_shingles(docs, shingle_n)
    if max_df is not None:
        shingled = _df_cap(shingled, max_df)
    sizes = shingled.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    sa = shingled.select(F.col("doc_id").alias("a"), "shingle")
    sb = shingled.select(F.col("doc_id").alias("b"), "shingle")
    inter = (
        sa.join(sb, "shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_inter"))
    )
    out = (
        inter.join(
            sizes.select(F.col("doc_id").alias("a"), F.col("n_sh").alias("na")), "a"
        )
        .join(
            sizes.select(F.col("doc_id").alias("b"), F.col("n_sh").alias("nb")), "b"
        )
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("a", "b", "n_inter", "na", "nb", "jaccard")


def decontaminate(
    train: DataFrame, eval_docs: DataFrame, shingle_n: int = 5
) -> DataFrame:
    """Benchmark decontamination: flag every training document sharing
    at least one word-``shingle_n``-gram with the evaluation set.

    The standard eval-leakage guard in LLM data pipelines (the
    "13-gram overlap" rule, scaled to this corpus's short documents).
    Output: (doc_id, n_shared, is_contaminated) for every training
    document — keep the ``~is_contaminated`` rows for training.

    Scale shape: the eval side is benchmarks (thousands of documents),
    so its distinct shingle set is BROADCAST; the training corpus
    streams through a map-side hash join — no shuffle touches the
    100 TB side except the per-doc count aggregation, and a count of
    zero rows survives via the left join against the training ids
    (docs too short to shingle are trivially clean).

    The train side uses :func:`doc_shingles_local`: per-document
    distinctness is row-local (``array_distinct`` inside the explode),
    so the 100 TB side reaches the broadcast join with ZERO shuffle.
    Round 4 shipped :func:`doc_shingles` here, whose corpus-wide
    ``distinct()`` is a full shuffle of every training shingle that
    buys nothing in this pipeline (the set is already distinct per
    document, and there is no second consumer to amortize the exchange
    against). Round 5's replacement — ``doc_shingle_arrays`` then
    ``explode`` of the array ATTRIBUTE — fixed the shuffle but stepped
    on ``InferFiltersFromGenerate`` (see doc_shingles_local) and was
    ~25x slower still. Exchanges left in the whole plan: the per-doc
    count and the final doc_id left join.
    """
    train_sh = doc_shingles_local(train, shingle_n)
    eval_sh = (
        doc_shingles_local(eval_docs, shingle_n).select("shingle").distinct()
    )
    shared = (
        train_sh.join(F.broadcast(eval_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        train.select("doc_id")
        .join(shared, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shared", F.lit(0)).cast("bigint").alias("n_shared"),
            (F.coalesce("n_shared", F.lit(0)) > 0).alias("is_contaminated"),
        )
    )


def decontaminate_fuzzy(
    train: DataFrame,
    eval_docs: DataFrame,
    shingle_n: int = 3,
    threshold_ppm: int = 500_000,
    n_perms: int = N_PERMS,
    n_bands: int = N_BANDS,
    rows_per_band: int = ROWS_PER_BAND,
) -> DataFrame:
    """NEAR-duplicate decontamination: flag training documents whose
    word-``shingle_n``-gram set CONTAINS at least ``threshold_ppm``
    (parts-per-million) of some eval item's shingle set.

    :func:`decontaminate` is exact-match at shingle granularity — one
    shared n-gram flags the pair, and zero shared n-grams clears it.
    A paraphrased leak (reworded prompt, inserted boilerplate, light
    edits) shares MANY but not necessarily consecutive-identical
    shingles; the real-world contamination rule is therefore a set-
    overlap threshold, and the metric is CONTAINMENT toward the eval
    item (|∩| / |eval shingles|): a training doc that embeds a whole
    eval question inside a longer page is 100 % contaminated even
    though its Jaccard vs the page is low.

    Pipeline (all stages shared with the d12 MinHash-LSH family, same
    hashing conventions, so the DuckDB oracle reproduces every stage
    verbatim):

    1. MinHash signatures per side (pure projections — zero shuffle).
    2. Banded bucket join, eval side BROADCAST: candidates are train
       docs sharing ≥1 band with ≥1 eval item. The 100 TB training
       side reaches this join with zero exchanges.
    3. Exact verification of candidates only: shared-shingle counts
       via a second broadcast join against the exploded eval shingles,
       integer-ppm containment, threshold filter.

    Output: one row per contaminated (train_id, eval_id) pair with the
    exact evidence (n_shared, eval_n_sh, overlap_ppm) — change-sized,
    deterministic. Scale shape: the only exchanges in the plan are the
    candidate ``distinct()`` and the per-pair count — both sized by
    the candidate set (LSH-bounded, ~linear), never by the corpus
    cross product. Recall is the LSH guarantee, not 100 %: a ≥τ pair
    that agrees on NO band is missed — P(band hit | jaccard j) =
    1 - (1 - j^r)^b, the documented d12 trade-off.
    """
    require_in_range("threshold_ppm", threshold_ppm, 1, 1_000_000)
    sig_cols = [f"mh_{j}" for j in range(n_perms)]
    ev_meta = doc_minhash_meta(eval_docs, shingle_n, n_perms)
    tr_sigs = minhash_signatures_from_arrays(
        doc_shingle_arrays(train, shingle_n), n_perms
    )
    ev_bands = _band_entries(
        ev_meta.select("doc_id", *sig_cols), n_bands, rows_per_band
    ).withColumnRenamed("doc_id", "eval_id")
    tr_bands = _band_entries(tr_sigs, n_bands, rows_per_band).withColumnRenamed(
        "doc_id", "train_id"
    )
    cand = (
        tr_bands.join(F.broadcast(ev_bands), ["band", "band_key"])
        .select("train_id", "eval_id")
        .distinct()
    )
    tr_sh = doc_shingles_local(train, shingle_n).withColumnRenamed(
        "doc_id", "train_id"
    )
    ev_sh = doc_shingles_local(eval_docs, shingle_n).withColumnRenamed(
        "doc_id", "eval_id"
    )
    inter = (
        cand.join(tr_sh, "train_id")
        .join(F.broadcast(ev_sh), ["eval_id", "shingle"])
        .groupBy("train_id", "eval_id")
        .agg(F.count("*").alias("n_shared"))
    )
    ev_sizes = ev_meta.select(
        F.col("doc_id").alias("eval_id"), F.col("n_sh").alias("eval_n_sh")
    )
    # Integer ppm via integer division — exact in any engine; a double
    # division could land on either side of the threshold at exact
    # multiples.
    return (
        inter.join(F.broadcast(ev_sizes), "eval_id")
        .select(
            "train_id",
            "eval_id",
            F.col("n_shared").cast("bigint").alias("n_shared"),
            F.col("eval_n_sh").cast("bigint").alias("eval_n_sh"),
            F.expr("(n_shared * 1000000) DIV eval_n_sh")
            .cast("bigint")
            .alias("overlap_ppm"),
        )
        .filter(F.col("overlap_ppm") >= threshold_ppm)
    )


def simhash_signatures(docs: DataFrame, bits: int = 32) -> DataFrame:
    """(doc_id, simhash): SimHash over token hashes, no row explosion.

    Per token, bit b contributes +1 if set in the token hash else -1;
    the signature sets bit b iff the total is positive — equivalently,
    iff tokens-with-bit-set outnumber half the tokens:
    ``2·|{h: bit_b(h)}| > n``. Each bit lane is one ``size(filter(...))``
    mask test over the materialized hash array: 32 allocation-free
    passes, measured much faster than folding a 32-wide vote array per
    token (the naive accumulator form allocates two arrays per token in
    the interpreted lambda evaluator). The hash array is computed once
    per row in its own projection (multiply referenced → not collapsed).
    """
    require_in_range("bits", bits, 1, MAX_I64_BITS)
    toked = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    hashed = toked.select(
        "doc_id",
        F.transform("toks", det_hash_str).alias("hs"),
        F.size("toks").cast("bigint").alias("n"),
    )
    def _bit_test(j: int):
        mask = F.lit(1 << j)
        # single-arg lambda: a (h, j=j) default would make pyspark pass
        # the element INDEX as the second lambda argument
        return lambda h: h.bitwiseAND(mask) != 0

    reduce_sig = F.lit(0).cast("bigint")
    for j in range(bits):
        set_count = F.size(F.filter(F.col("hs"), _bit_test(j))).cast("bigint")
        reduce_sig = reduce_sig + F.when(
            2 * set_count > F.col("n"), F.lit(1 << j).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
    return hashed.select("doc_id", reduce_sig.alias("simhash"))


def simhash_signatures_arrow(docs: DataFrame, bits: int = 32) -> DataFrame:
    """(doc_id, simhash): same signature as :func:`simhash_signatures`,
    with the bit-vote tally in an Arrow-batched numpy kernel.

    Tokenizing and hashing stay JVM-side (md5 — the cross-engine
    contract); only the per-document vote matrix crosses Arrow. The
    expression form's 32 ``size(filter(...))`` lanes are interpreted
    per token per lane; the kernel computes the same integer votes
    (``bit j set iff 2·#set > n``) vectorized — measured 2.3x faster
    end-to-end at sf0.1, bit-equal output (equality asserted in
    tests/test_properties.py). Still a plain projection: no shuffle,
    same scale shape as the expression form.
    """
    require_in_range("bits", bits, 1, MAX_I64_BITS)
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("bigint")
    def vote_sig(hs: pd.Series) -> pd.Series:
        shifts = np.arange(bits, dtype=np.int64)
        out = np.zeros(len(hs), dtype=np.int64)
        for k, h in enumerate(hs):
            a = np.asarray(h, dtype=np.int64)
            if a.size == 0:
                continue
            counts = ((a[:, None] >> shifts) & 1).sum(0)
            out[k] = int(((2 * counts > a.size).astype(np.int64) << shifts).sum())
        return pd.Series(out)

    toked = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    hashed = toked.select(
        "doc_id", F.transform("toks", det_hash_str).alias("hs")
    )
    return hashed.select("doc_id", vote_sig(F.col("hs")).alias("simhash"))


def simhash_band_entries(
    sig: F.Column, max_hamming: int, bits: int
) -> F.Column:
    """Array of (band, band_key) structs splitting ``sig`` into
    ``max_hamming + 1`` contiguous bit ranges.

    The pigeonhole guarantee: two signatures within ``max_hamming``
    differing bits can spoil at most ``max_hamming`` of the
    ``max_hamming + 1`` bands, so every true pair agrees exactly on at
    least one band — banding is a lossless candidate filter here, not
    an approximation (tests/test_properties.py asserts equality with
    the all-pairs form)."""
    entries = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(sig, lo)
            .bitwiseAND(F.lit((1 << width) - 1))
            .alias("band_key"),
        )
        for b, lo, width in _band_layout(max_hamming, bits)
    ]
    return F.array(*entries)


def _band_layout(max_hamming: int, bits: int) -> list[tuple[int, int, int]]:
    """(band, low_bit, width) for the ``max_hamming + 1`` contiguous
    bands, widths as equal as the division allows."""
    n_bands = max_hamming + 1
    base, rem = divmod(bits, n_bands)
    layout, lo = [], 0
    for b in range(n_bands):
        width = base + (1 if b < rem else 0)
        layout.append((b, lo, width))
        lo += width
    return layout


def _first_agreeing_band(
    xorv: F.Column, max_hamming: int, bits: int
) -> F.Column:
    """Index of the lowest band whose bit range is all-zero in ``xorv``
    (= the signatures agree on it); -1 if none do.

    Lets the banded self-join keep exactly ONE row per matching pair —
    the row from the pair's first agreeing band — with per-row bit
    arithmetic instead of a ``distinct`` that would shuffle the whole
    (quadratic-in-duplicates) candidate pair stream a second time.
    """
    out = F.lit(-1)
    for b, lo, width in reversed(_band_layout(max_hamming, bits)):
        agree = F.shiftright(xorv, lo).bitwiseAND(F.lit((1 << width) - 1)) == 0
        out = F.when(agree, F.lit(b)).otherwise(out)
    return out


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 6, bits: int = 32) -> DataFrame:
    """Pairs within ``max_hamming`` SimHash bits, via a banded
    signature equi-join (NO all-pairs stage).

    Each signature explodes into ``max_hamming + 1`` (band, band_key)
    rows; candidates are the band-bucket self-join — shuffle on the
    band key, quadratic only inside a bucket — then ``bit_count(xor)``
    verifies the exact Hamming distance, and a pair that collided in
    several bands is kept only in its FIRST agreeing band (per-row bit
    arithmetic on ``xor``), so no ``distinct`` re-shuffles the
    quadratic-in-duplicates pair stream. Recall is exactly 1 by the
    pigeonhole argument on contiguous bit ranges (see
    :func:`simhash_band_entries`), so this is plan-shape surgery on
    the O(n²) join, not a semantic change.

    Scale shape: per-band buckets hold n/2^width docs in the uniform
    case, so the verify fan-out drops 2^width-fold vs all-pairs AND
    the work is a hash-partitioned equi-join (parallel across buckets,
    AQE-splittable) instead of a BroadcastNestedLoop. Measured caveat:
    natural-language SimHash bits are far from uniform (at sf0.1 the
    hottest 4-bit band key holds 57% of the corpus), so at the loose
    default radius (6 of 32 bits ≈ 19% disagreement) banding only
    halves the pair volume — the verify cost is then bounded by bucket
    skew, which AQE splits across tasks. Selectivity is restored by
    the levers that don't break the recall guarantee: a tighter radius
    (fewer, wider bands) or a wider signature (``bits`` up to the 48
    the md5-derived token hash carries → ~7-bit band keys at the same
    band count).
    """
    require_at_least("max_hamming", max_hamming, 0)
    require_in_range("bits", bits, 1, MAX_I64_BITS)
    sigs = simhash_signatures_arrow(docs, bits)
    bands = (
        sigs.select(
            "doc_id",
            "simhash",
            F.explode(
                simhash_band_entries(F.col("simhash"), max_hamming, bits)
            ).alias("e"),
        )
        .select("doc_id", "simhash", "e.band", "e.band_key")
        # Explicit shuffle on the join key BELOW both aliased sides:
        # the two self-join branches then share one canonically-equal
        # exchange, so ReuseExchange computes the (expensive, 32-lane)
        # signatures ONCE. Without it the planner broadcasts one side
        # at small scale and each branch re-derives every signature —
        # measured 2x the whole-query cost.
        .repartition("band", "band_key")
    )
    left = bands.select(
        F.col("doc_id").alias("a"), F.col("simhash").alias("sig_a"), "band", "band_key"
    )
    right = bands.select(
        F.col("doc_id").alias("b"), F.col("simhash").alias("sig_b"), "band", "band_key"
    )
    xorv = F.col("sig_a").bitwiseXOR(F.col("sig_b"))
    return (
        left.join(right, ["band", "band_key"])
        .filter(F.col("a") < F.col("b"))
        .withColumn("hamming", F.bit_count(xorv))
        .filter(
            (F.col("hamming") <= max_hamming)
            & (F.col("band") == _first_agreeing_band(xorv, max_hamming, bits))
        )
        .select("a", "b", "hamming")
    )


def near_dups_against_corpus(
    batch: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.8,
    shingle_n: int = 3,
    n_bands: int = N_BANDS,
    rows_per_band: int = ROWS_PER_BAND,
) -> DataFrame:
    """INCREMENTAL near-dup detection: for each document in a (small)
    incoming ``batch``, the documents in the (huge) existing ``corpus``
    with exact Jaccard ≥ ``threshold`` — the daily-ingest shape of
    every production dedup pipeline, where re-running all-pairs over
    the full corpus per ingest would be absurd.

    PRECONDITION: the broadcast probe frame is candidates × batch
    shingles, which scales with the LSH CANDIDATE count, not the batch
    size alone — one hot / low-entropy band key (e.g. a
    boilerplate-dominated corpus where many documents share a band
    signature) multiplies candidates and can blow the broadcast past
    executor memory. That holds for well-mixed corpora at
    daily-increment batch sizes.

    The asymmetry is the scale story: the corpus side never shuffles
    AT ALL. Array-shaped consumers use the narrow
    :func:`doc_shingle_arrays` form (row-local ``array_distinct``):
    signatures come from the projection-only
    :func:`minhash_signatures_from_arrays` (an ``array_min`` per lane
    — zero exchanges, vs the exploded form's corpus-wide groupBy) and
    set sizes are ``F.size`` off the same array; the verify stage's
    exploded shingles come from :func:`doc_shingles_local` (same rows,
    but immune to the InferFiltersFromGenerate trap of exploding the
    array attribute — see its docstring). BOTH joins that touch the
    corpus broadcast their other side:
    the candidate equi-join broadcasts the batch's banded keys, and
    the verify join broadcasts the candidate×batch-shingle probe
    (small by construction — the batch is a daily increment). The
    corpus is read in three NARROW scans (bands, verify, sizes) and
    the only exchanges in the whole plan carry candidate pairs and
    per-pair intersection counts. At 100 TB, three map-side passes
    beat even one shuffle of the exploded shingle stream (a 5-10x
    inflation of the corpus) by the width of the network. This also
    composes with a STORED corpus signature table — persist signatures
    once, and only the batch side is computed per ingest. Output
    columns: (batch_id, corpus_id, n_inter, nb, nc, jaccard).

    Each (batch, corpus) pair is emitted once (``distinct`` over the
    narrow candidate stream, the same trade as lsh_near_pairs).
    """
    n_perms = n_bands * rows_per_band
    # ONE full-text pass per side builds the tiny per-doc meta
    # (signature lanes + set size, 1+k ints/doc), materialized eagerly —
    # the in-session stand-in for the PERSISTED signature table a
    # production ingest keeps (at 100 TB you compute the corpus meta
    # once, store it, and only the batch side is derived per run).
    # Without the materialization the bands and sizes branches each
    # re-run tokenize→ngram→hash over the full corpus.
    b_meta = doc_minhash_meta(batch, shingle_n, n_perms).localCheckpoint(
        eager=True
    )
    c_meta = doc_minhash_meta(corpus, shingle_n, n_perms).localCheckpoint(
        eager=True
    )
    b_bands = _band_entries(b_meta, n_bands, rows_per_band).select(
        F.col("doc_id").alias("batch_id"), "band", "band_key"
    )
    c_bands = _band_entries(c_meta, n_bands, rows_per_band).select(
        F.col("doc_id").alias("corpus_id"), "band", "band_key"
    )
    cands = (
        c_bands.join(F.broadcast(b_bands), ["band", "band_key"])
        .select("batch_id", "corpus_id")
        .distinct()
    )
    b_sizes = b_meta.select("doc_id", F.col("n_sh").alias("nb"))
    c_sizes = c_meta.select("doc_id", F.col("n_sh").alias("nc"))
    sa = doc_shingles_local(batch, shingle_n).select(
        F.col("doc_id").alias("batch_id"), "shingle"
    )
    sb = doc_shingles_local(corpus, shingle_n).select(
        F.col("doc_id").alias("corpus_id"), "shingle"
    )
    probe = F.broadcast(cands.join(sa, "batch_id"))
    inter = (
        sb.join(probe, ["corpus_id", "shingle"])
        .groupBy("batch_id", "corpus_id")
        .agg(F.count("*").alias("n_inter"))
    )
    out = (
        inter.join(
            b_sizes.select(F.col("doc_id").alias("batch_id"), "nb"), "batch_id"
        )
        .join(
            c_sizes.select(F.col("doc_id").alias("corpus_id"), "nc"),
            "corpus_id",
        )
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("nb") + F.col("nc") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("batch_id", "corpus_id", "n_inter", "nb", "nc", "jaccard")


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    shingle_n: int = 3,
    max_df: int | None = DEFAULT_MAX_DF,
) -> DataFrame:
    """DIRECTED near-superset pairs by exact shingle containment
    ``C(a→b) = |a ∩ b| / |a|``.

    The case Jaccard structurally misses: a short document embedded
    verbatim in a much longer one (quote expansion, boilerplate
    wrapping, version-extended docs) has high containment but LOW
    Jaccard — |a∩b|/|a∪b| is dragged down by the size mismatch — so a
    Jaccard-thresholded dedup keeps both copies. Containment is the
    established fix (Broder's original resemblance/containment pair),
    and it is ASYMMETRIC: the output row (a, b) asserts "a is mostly
    inside b", and both directions can hold at once only for
    near-equal sets.

    Same bounded join shape as :func:`ngram_jaccard_pairs` (shared
    df-capped inverted index, intersection counted directly off the
    posting-list self-join, per-shingle fan-out ≤ max_df²/2); the only
    difference is the normalizer, so candidates are enumerated as
    unordered pairs once and each direction is tested independently.

    The two multiply-consumed frames are materialized once (the
    triangle_counts discipline): the df-capped
    shingle index feeds THREE branches (sizes, both posting-list join
    arms) and ``sized`` feeds both direction branches of the final
    union — without it each branch re-shingles the corpus / re-runs
    the intersection join. The returned frame reads only ``sized``, so
    the shingle index is released on exit and ``sized`` stays pinned.
    """
    shingled = doc_shingles(docs, shingle_n)
    if max_df is not None:
        shingled = _df_cap(shingled, max_df)
    with CheckpointScope(docs.sparkSession) as ck:
        shingled = ck.pin(shingled)
        sizes = shingled.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
        sa = shingled.select(F.col("doc_id").alias("a"), "shingle")
        sb = shingled.select(F.col("doc_id").alias("b"), "shingle")
        inter = (
            sa.join(sb, "shingle")
            .filter(F.col("a") < F.col("b"))
            .groupBy("a", "b")
            .agg(F.count("*").alias("n_inter"))
        )
        sized = inter.join(
            sizes.select(F.col("doc_id").alias("a"), F.col("n_sh").alias("na")),
            "a",
        ).join(
            sizes.select(F.col("doc_id").alias("b"), F.col("n_sh").alias("nb")),
            "b",
        )
        sized = ck.keep(ck.pin(sized))
    fwd = sized.select(
        "a",
        "b",
        "n_inter",
        F.col("na").alias("n_contained"),
        (F.col("n_inter").cast("double") / F.col("na").cast("double")).alias(
            "containment"
        ),
    )
    rev = sized.select(
        F.col("b").alias("a"),
        F.col("a").alias("b"),
        "n_inter",
        F.col("nb").alias("n_contained"),
        (F.col("n_inter").cast("double") / F.col("nb").cast("double")).alias(
            "containment"
        ),
    )
    return fwd.unionByName(rev).filter(F.col("containment") >= threshold)


#: Content-defined duplicated-span detection geometry: 32-char match
#: window sampled at anchor positions where the 48-bit hash of the
#: 8-char seed under the anchor is ≡ 0 (mod 4) — one anchor per ~4
#: positions in expectation, chosen by CONTENT, so two copies of the
#: same span anchor at the same offsets regardless of how the span is
#: aligned inside each document (the winnowing/CDC property; byte
#: insertions before the span cannot de-synchronize the sample the way
#: a fixed-stride grid does).
DUP_SPAN_WINDOW = 32
DUP_SPAN_SEED = 8
DUP_SPAN_MOD = 4


def doc_anchor_grams(
    docs: DataFrame,
    window: int = DUP_SPAN_WINDOW,
    seed: int = DUP_SPAN_SEED,
    mod: int = DUP_SPAN_MOD,
    spread: bool = True,
) -> DataFrame:
    """Content-defined anchor grams per document: ``(doc_id, n, s, e,
    gram)`` — one row per position where the 48-bit hash of the
    ``seed``-char gram under it is ≡ 0 (mod ``mod``), carrying the
    ``window``-char match gram at that anchor. The whole chain is pure
    projections (the candidate positions are filtered INSIDE a
    row-local array expression, then only anchors explode), which is
    what makes it legal over a STREAMING frame too — the span family's
    analogue of :func:`doc_band_entries`.

    ``spread`` pins an explicit-width doc_id repartition before the
    row-local hashing: a compact corpus (one file, few input splits)
    otherwise runs the CPU-bound hash enumeration on a handful of
    tasks (measured 3.0 s single-task at sf0.1 vs ~0.3 s spread), and
    AQE cannot rescue a column-only repartition because the raw text
    is few BYTES relative to its hash work — bytes are the wrong proxy
    for this stage's cost, so the task count is pinned. The exchange
    carries raw text (~1/8 of the anchor-gram bytes) and lands exactly
    the doc_id partitioning the island window downstream needs. Pass
    ``spread=False`` on streaming inputs (micro-batches are already
    small) or when the caller controls partitioning.
    """
    require_at_least("window", window, 2)
    require_at_least("seed", seed, 1)
    require_at_least("mod", mod, 1)
    d = docs.filter(F.length("text") >= window).select(
        "doc_id", "text", F.length("text").alias("n")
    )
    if spread:
        d = d.repartition(
            docs.sparkSession.sparkContext.defaultParallelism, "doc_id"
        )
    # NB: sequence() guarded by the length filter above — lo > hi would
    # silently emit a DESCENDING position list, not an error.
    anchors = F.filter(
        F.sequence(F.lit(1), F.col("n") - (window - 1)),
        lambda p: det_hash_str(F.col("text").substr(p, F.lit(seed))) % mod == 0,
    )
    return d.select(
        "doc_id",
        "n",
        "text",
        # the filter expression lives INSIDE the explode: aliasing it
        # first would let InferFiltersFromGenerate clone the whole
        # array computation into a per-row Filter (see
        # doc_shingles_local)
        F.explode(anchors).alias("p"),
    ).select(
        "doc_id",
        "n",
        F.col("p").cast("bigint").alias("s"),
        (F.col("p") + (window - 1)).cast("bigint").alias("e"),
        F.col("text").substr(F.col("p"), F.lit(window)).alias("gram"),
    )


def _dup_span_islands(
    docs: DataFrame,
    window: int,
    seed: int,
    mod: int,
    min_docs: int,
    non_keeper_only: bool = False,
) -> DataFrame:
    """Shared core of the duplicated-span family: content-defined
    anchor sampling → cross-doc gram index → per-doc island merge.
    Returns one row per maximal span: ``(doc_id, _island, _ss, _se,
    _n)``. With ``non_keeper_only`` the canonical copy of each gram
    (its minimum-doc_id holder) is exempt — the survivor convention of
    the excision path."""
    require_at_least("min_docs", min_docs, 2)
    g = doc_anchor_grams(docs, window, seed, mod)
    dup_grams = (
        g.groupBy("gram")
        .agg(
            F.countDistinct("doc_id").alias("_nd"),
            F.min("doc_id").alias("_keeper"),
        )
        .filter(F.col("_nd") >= min_docs)
        .select("gram", "_keeper")
    )
    hits = g.join(dup_grams, "gram")
    if non_keeper_only:
        hits = hits.filter(F.col("doc_id") != F.col("_keeper"))
    return merge_hit_islands(hits.select("doc_id", "n", "s", "e"))


def merge_hit_islands(hits: DataFrame) -> DataFrame:
    """Per-doc gaps-and-islands merge of duplicated-gram hits
    ``(doc_id, n, s, e)`` into maximal spans ``(doc_id, _island, _ss,
    _se, _n)``: running ``max(e)`` marks island starts, a cumulative
    counter numbers them. Window partitions are per-document — bounded
    by doc length, never corpus-skewed."""
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = hits.withColumn("_pme", F.max("e").over(w_prev)).withColumn(
        "_island",
        F.sum(
            F.when(
                F.col("_pme").isNull() | (F.col("s") > F.col("_pme") + 1), 1
            ).otherwise(0)
        ).over(w_run),
    )
    return islands.groupBy("doc_id", "_island").agg(
        F.min("s").alias("_ss"),
        F.max("e").alias("_se"),
        F.max("n").alias("_n"),
    )


def span_accounting(spans: DataFrame) -> DataFrame:
    """Fold merged spans into the per-doc accounting row: ``(doc_id,
    n_spans, dup_chars, n_chars, dup_ppm)`` with integer-exact
    floor-divided ppm."""
    return spans.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_spans"),
        F.sum(F.col("_se") - F.col("_ss") + 1).cast("bigint").alias("dup_chars"),
        F.max("_n").cast("bigint").alias("n_chars"),
        F.floor(
            F.sum(F.col("_se") - F.col("_ss") + 1) * 1000000 / F.max("_n")
        )
        .cast("bigint")
        .alias("dup_ppm"),
    )


def duplicated_spans(
    docs: DataFrame,
    window: int = DUP_SPAN_WINDOW,
    seed: int = DUP_SPAN_SEED,
    mod: int = DUP_SPAN_MOD,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document duplicated-SPAN accounting (X11): per document,
    the merged character intervals whose content also appears verbatim
    in ≥ ``min_docs - 1`` OTHER documents, with an integer-exact
    duplicated-chars ppm. The span-granular complement to the
    document-granular near-dup family — the signal "dedup to the
    substring level" pipelines (Lee et al., *Deduplicating Training
    Data Makes Language Models Better*) act on: a doc can be 95%
    boilerplate yet unique as a whole, and only span accounting sees
    it. Generalizes the reference's whole-record conflict skip
    (``my_dag.py:201-202``) to sub-record content.

    Plan shape (suffix arrays don't distribute; this is the inverted-
    index re-expression, quadratic NOWHERE):

    1. **Anchor sampling** — per doc, candidate positions
       ``1..len-window+1`` are filtered INSIDE a row-local array
       expression (``F.filter(F.sequence(...))``: no row explosion for
       the non-anchors) to positions where
       ``det_hash_str(seed-gram) % mod == 0``. Content-defined, so
       shared spans anchor identically in every copy — a fixed-stride
       grid would miss copies at different phases
       (tests/test_dedup.py::test_dup_spans_shift_invariant).
    2. **Inverted index** — explode only the anchors (~len/mod rows),
       groupBy the ``window``-char gram, keep grams seen in ≥
       ``min_docs`` distinct docs. The ONE corpus-wide exchange; at
       100 TB the group key would be ``xxhash64(gram)`` (8-byte
       shuffle rows, collision-tolerated) — kept as the exact string
       here so the DuckDB oracle replays it verbatim.
    3. **Hit join** — equi-join anchors against the duplicated-gram
       set: output ≤ anchor count by construction (each anchor matches
       at most one gram row), so unlike a posting-list SELF-join there
       is no df² fan-out and no df cap is needed.
    4. **Island merge** — per-doc gaps-and-islands (running ``max(e)``
       + island counter) merges overlapping/adjacent ``[p, p+window)``
       hits into maximal spans. Window partitions are per-document,
       bounded by doc length — never corpus-skewed.

    Output: ``(doc_id, n_spans, dup_chars, n_chars, dup_ppm)`` for
    docs with ≥1 duplicated span; ``dup_ppm = dup_chars·10⁶ ÷ n_chars``
    floor-divided (integer-exact cross-engine).
    """
    return span_accounting(
        _dup_span_islands(docs, window, seed, mod, min_docs)
    )


def excise_duplicated_spans(
    docs: DataFrame,
    window: int = DUP_SPAN_WINDOW,
    seed: int = DUP_SPAN_SEED,
    mod: int = DUP_SPAN_MOD,
    min_docs: int = 2,
) -> DataFrame:
    """The ACTIONABLE twin of :func:`duplicated_spans`: rewrite each
    document with its duplicated spans cut out — what an ExactSubstr
    pass actually does to a corpus — under a survivor convention that
    keeps content represented exactly once: for every duplicated gram
    the minimum-doc_id holder is canonical and keeps its copy; only
    non-canonical occurrences are excised. Deterministic, and
    idempotent on the result (a second pass finds the surviving copies
    unique and removes nothing —
    tests/test_properties.py::test_dup_spans_excise_idempotent).

    The cut itself is row-local: the per-doc span list (already merged
    to maximal islands) lands as a sorted array, and one
    ``F.aggregate`` walks it building the complement —
    ``substr(text, cur, ss-cur)`` per gap, then the tail — so no
    per-character rows and no Python ever run; beyond
    :func:`_dup_span_islands`'s gram groupBy, the only addition is the
    per-doc span collect (bounded by doc length) and a left join back
    to the corpus. Docs with nothing to cut pass through byte-identical.

    Output: ``(doc_id, clean_text, n_chars, clean_chars,
    removed_chars)`` for EVERY input document.
    """
    spans = _dup_span_islands(
        docs, window, seed, mod, min_docs, non_keeper_only=True
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("_ss").alias("ss"), F.col("_se").alias("se")))
        ).alias("_spans")
    )
    base = docs.select("doc_id", "text").join(per_doc, "doc_id", "left")
    walked = F.aggregate(
        F.col("_spans"),
        F.struct(
            F.lit("").alias("acc"), F.lit(1).cast("bigint").alias("cur")
        ),
        lambda a, sp: F.struct(
            F.concat(
                a["acc"], F.col("text").substr(a["cur"], sp["ss"] - a["cur"])
            ).alias("acc"),
            (sp["se"] + 1).alias("cur"),
        ),
        lambda a: F.concat(
            a["acc"],
            F.col("text").substr(
                a["cur"], F.length("text") - a["cur"] + 1
            ),
        ),
    )
    out = base.select(
        "doc_id",
        F.when(F.col("_spans").isNull(), F.col("text"))
        .otherwise(walked)
        .alias("clean_text"),
        F.length("text").cast("bigint").alias("n_chars"),
    )
    return out.select(
        "doc_id",
        "clean_text",
        "n_chars",
        F.length("clean_text").cast("bigint").alias("clean_chars"),
        (F.col("n_chars") - F.length("clean_text")).cast("bigint").alias(
            "removed_chars"
        ),
    )
