"""Registry entries for the LLM-data-pipeline operators: text analysis,
deduplication (exact / MinHash-LSH / SimHash / n-gram Jaccard),
similarity search (brute-force + LSH ANN).

Oracle SQL here is largely *generated* from the same constants the Spark
operators use (stopword lists, MinHash permutation coefficients, LSH
hyperplane hashes), so both engines provably execute the same math —
the Spark side is an idiomatic distributed plan, the SQL side a
re-derivation for checking.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .functions.hashing import KNUTH, MERSENNE31, MOD32, duckdb_det_hash_i64
from .operators import dedup, similarity, textstats
from .operators.storage import CheckpointScope
from .registry import _register, _ld

# --- shared DuckDB fragments (same conventions as functions/text.py) --

_TOKS = (
    "list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),"
    " ' '), t -> t <> '')"
)
_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_HSTR = "(('0x' || substr(md5({e}), 1, 12))::BIGINT)"
_SHINGLES = (
    "list_transform(range(1, len(toks) - 1),"
    " i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])"
)
_P = MERSENNE31


def _perm_sql(h_expr: str, j: int) -> str:
    a, b = 2 * j + 1, 7919 * (j + 1)
    return f"(({a} * (({h_expr}) % {_P}) + {b}) % {_P})"


# =====================================================================
# Text analysis (X13)
# =====================================================================


@_register(
    "t13_token_stats",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq_tokens,
           CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0)
                AS BIGINT) AS sum_token_chars,
           CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0)
                AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS avg_token_len,
           CAST(len(regexp_extract_all(text,
                '([a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s])', 1)) AS BIGINT)
             AS n_bpe_units,
           CAST(length({_NORM}) AS BIGINT) AS n_chars_norm
    FROM t
    """,
    survey_ids=("X13",),
)
def t13_token_stats(spark, sf_dir):
    """Per-document token statistics: whitespace tokens, distinct
    tokens, character sums, and a BPE-ish regex unit count. See
    operators/textstats.py."""
    return textstats.token_stats(_ld(spark, sf_dir, "documents"))


@_register(
    "t13_heavy_hitters",
    oracle=f"""
    WITH t AS (SELECT unnest({_TOKS}) AS token FROM documents),
    c AS (SELECT token, COUNT(*) AS n FROM t GROUP BY token),
    tt AS (SELECT COUNT(*) AS total FROM t)
    SELECT token, n,
           CAST(n * 1000000 // total AS BIGINT) AS ppm
    FROM c, tt
    WHERE n * 1000000 >= total * 500
    """,
    survey_ids=("X13", "X6"),
)
def t13_heavy_hitters(spark, sf_dir):
    """Exact corpus heavy hitters: tokens at >= 500 ppm of all token
    occurrences (frequent-items primitive — stopword discovery,
    boilerplate markers, vocab pruning). One explode + one map-side-
    combined aggregate + a broadcast one-row total; integer ppm so the
    surviving set is engine-exact. The mergeable Count-Min sketch twin
    (bounded state, eps-bounded overestimates) is pinned in
    tests/test_approx.py. operators/textstats.py::heavy_hitters."""
    return textstats.heavy_hitters(_ld(spark, sf_dir, "documents"), 500)


@_register(
    "t13_top_tokens",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
         tok AS (SELECT unnest(toks) AS token FROM t)
    SELECT token, COUNT(*) AS n
    FROM tok GROUP BY token
    ORDER BY n DESC, token
    LIMIT 25
    """,
    survey_ids=("X13",),
)
def t13_top_tokens(spark, sf_dir):
    """Corpus-wide token frequencies, top 25 (tie-broken lexically):
    explode → hash agg with map-side combine → TakeOrdered."""
    return textstats.top_tokens(_ld(spark, sf_dir, "documents"), k=25)


@_register(
    "t13_top_bigrams",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
         ng AS (SELECT unnest(list_transform(range(1, len(toks)),
                        i -> toks[i] || ' ' || toks[i+1])) AS ngram
                FROM t WHERE len(toks) >= 2)
    SELECT ngram, COUNT(*) AS n
    FROM ng GROUP BY ngram
    ORDER BY n DESC, ngram
    LIMIT 25
    """,
    survey_ids=("X13",),
)
def t13_top_bigrams(spark, sf_dir):
    """Corpus-wide word-bigram frequencies, top 25."""
    return textstats.top_ngrams(_ld(spark, sf_dir, "documents"), n=2, k=25)


def _stop_list_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in textstats.STOPWORDS[lang])
    return (
        f"CAST(len(list_filter(toks, x -> list_contains([{words}], x)))"
        " AS BIGINT)"
    )


_LANGS = sorted(textstats.STOPWORDS)
_BEST = "greatest(" + ", ".join(f"hits_{l}" for l in _LANGS) + ")"


@_register(
    "t13_language_id",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
         s AS (SELECT doc_id,
                      {", ".join(f"{_stop_list_sql(l)} AS hits_{l}" for l in _LANGS)}
               FROM t)
    SELECT doc_id, {", ".join(f"hits_{l}" for l in _LANGS)},
           CASE WHEN {_BEST} = 0 THEN 'und'
                {" ".join(f"WHEN hits_{l} = {_BEST} THEN '{l}'" for l in _LANGS)}
           END AS lang_pred
    FROM s
    """,
    survey_ids=("X13",),
)
def t13_language_id(spark, sf_dir):
    """Heuristic stopword-ratio language ID (argmax over per-language
    hit counts, deterministic tie order). operators/textstats.py."""
    return textstats.language_id(_ld(spark, sf_dir, "documents"))


@_register(
    "t13_quality_score",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
         s AS (SELECT doc_id,
                      CAST(len(toks) AS BIGINT) AS n_tokens,
                      {_stop_list_sql('en')} AS stop_hits,
                      CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0)
                           AS BIGINT) AS sum_len
               FROM t)
    SELECT doc_id, n_tokens, stop_hits,
           least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) AS len_score,
           CAST(stop_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stop_ratio,
           CAST(sum_len AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS avg_token_len,
           least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.5
             + CAST(stop_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE) * 0.3
             + CAST(sum_len AS DOUBLE) / CAST(n_tokens AS DOUBLE) / 10.0 * 0.2
             AS quality
    FROM s
    """,
    survey_ids=("X13",),
)
def t13_quality_score(spark, sf_dir):
    """Heuristic quality score: affine blend of length score, stopword
    ratio and mean token length. operators/textstats.py."""
    return textstats.quality_score(_ld(spark, sf_dir, "documents"))


@_register(
    "t13_fingerprint",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
         pr AS (SELECT doc_id, len(toks) AS n_tokens,
                       list_transform(range(1, len(toks) + 1),
                          i -> ({_HSTR.format(e='toks[i]')} % {_P})
                               * CAST(i AS BIGINT)) AS prods
                FROM t)
    SELECT doc_id,
           list_reduce(list_concat([CAST(0 AS BIGINT)], prods),
                       (a, v) -> (a + v) % {_P}) AS fingerprint,
           CAST(n_tokens AS BIGINT) AS n_tokens
    FROM pr
    """,
    survey_ids=("X13",),
)
def t13_fingerprint(spark, sf_dir):
    """Order-sensitive positional-polynomial content fingerprint over
    token hashes. operators/textstats.py."""
    return textstats.fingerprint(_ld(spark, sf_dir, "documents"))


@_register(
    "t13_pack_sequences",
    oracle=f"""
    WITH t AS (SELECT doc_id, doc_id % 32 AS shard,
                      CAST(len({_TOKS}) AS BIGINT) AS n_tokens
               FROM documents),
    c AS (SELECT doc_id, CAST(shard AS INTEGER) AS shard, n_tokens,
                 SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_tokens AS cum_before
          FROM t)
    SELECT doc_id, shard, n_tokens,
           CAST(cum_before // 2048 AS BIGINT) AS seq_id,
           CAST(cum_before - (cum_before // 2048) * 2048 AS BIGINT)
             AS offset
    FROM c
    """,
    survey_ids=("X13", "X4"),
)
def t13_pack_sequences(spark, sf_dir):
    """Sequence packing for LLM pretraining (concatenate-then-chunk):
    per-shard running token sums assign every document its training-
    sequence id and offset under a 2048-token budget. Sharded windows
    keep the running-sum state parallel at corpus scale.
    operators/textstats.py::pack_sequences."""
    return textstats.pack_sequences(
        _ld(spark, sf_dir, "documents"), seq_budget=2048, n_shards=32
    )


@_register(
    "t13_pack_firstfit",
    oracle=f"""
    WITH RECURSIVE t AS (
        SELECT doc_id, CAST(doc_id % 32 AS INTEGER) AS shard,
               CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
               ROW_NUMBER() OVER (PARTITION BY doc_id % 32
                                  ORDER BY doc_id) AS rn
        FROM documents
    ),
    r AS (
        SELECT doc_id, shard, n_tokens, rn,
               CAST(0 AS BIGINT) AS seq_id, CAST(0 AS BIGINT) AS "offset",
               n_tokens AS fill
        FROM t WHERE rn = 1
        UNION ALL
        SELECT t.doc_id, t.shard, t.n_tokens, t.rn,
               CASE WHEN r.fill > 0 AND r.fill + t.n_tokens > 2048
                    THEN r.seq_id + 1 ELSE r.seq_id END,
               CASE WHEN r.fill > 0 AND r.fill + t.n_tokens > 2048
                    THEN CAST(0 AS BIGINT) ELSE r.fill END,
               CASE WHEN r.fill > 0 AND r.fill + t.n_tokens > 2048
                    THEN t.n_tokens ELSE r.fill + t.n_tokens END
        FROM r JOIN t ON t.shard = r.shard AND t.rn = r.rn + 1
    )
    SELECT doc_id, shard, n_tokens, seq_id, "offset" AS offset FROM r
    """,
    survey_ids=("X13", "X14"),
)
def t13_pack_firstfit(spark, sf_dir):
    """First-fit no-straddle sequence packing — the stateful-scan
    exemplar: repartition by shard, sortWithinPartitions, and a
    mapInPandas generator carrying per-shard fill state ACROSS Arrow
    batches (memory bounded by batch size, not shard size). The oracle
    replays the recurrence as a recursive CTE, so the stateful result
    is value-checked. operators/textstats.py::pack_sequences_firstfit."""
    return textstats.pack_sequences_firstfit(
        _ld(spark, sf_dir, "documents"), seq_budget=2048, n_shards=32
    )


#: Fixed query-term set for the BM25 exemplar — a frequency mix over
#: the corpus vocabulary (rare terms score high, stopword-ish low).
_BM25_TERMS = ("spark", "merge", "window", "vector", "stream")

from .operators import retrieval  # noqa: E402


@_register(
    "t13_bm25_topk",
    oracle=retrieval.bm25_oracle_sql(_BM25_TERMS, _TOKS, k=25),
    survey_ids=("X13", "X12"),
)
def t13_bm25_topk(spark, sf_dir):
    """BM25 top-25 for a fixed term set — per-term tf lanes as row
    expressions (no explode/join), one-row corpus stats broadcast back,
    TakeOrdered top-k; score quantized to micro-units for cross-engine
    exactness (ln differs by 1 ulp between JVM and libm).
    operators/retrieval.py."""
    return retrieval.bm25_topk(
        _ld(spark, sf_dir, "documents"), _BM25_TERMS, k=25
    )


# =====================================================================
# Deduplication family (X11 + LLM ops)
# =====================================================================


@_register(
    "d11_dedup_exact",
    oracle="""
    WITH d AS (SELECT doc_id,
                      ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn,
                      COUNT(*) OVER (PARTITION BY text) AS n_copies
               FROM documents)
    SELECT doc_id, CAST(n_copies AS BIGINT) AS n_copies
    FROM d WHERE rn = 1
    """,
    survey_ids=("X11", "Q16"),
)
def d11_dedup_exact(spark, sf_dir):
    """Exact dedup on raw text, first-wins survivor (lowest doc_id) —
    hash-groupBy semantics via a deterministic window, generalizing the
    reference's ON CONFLICT DO NOTHING (my_dag.py:201)."""
    out = dedup.first_wins_dedup(
        _ld(spark, sf_dir, "documents"), ["text"], "doc_id"
    )
    return out.select("doc_id", F.col("n_copies").cast("bigint").alias("n_copies"))


@_register(
    "d11_dedup_normalized",
    oracle=f"""
    WITH n AS (SELECT doc_id, {_NORM} AS norm_key FROM documents),
         d AS (SELECT doc_id, norm_key,
                      ROW_NUMBER() OVER (PARTITION BY norm_key ORDER BY doc_id) AS rn,
                      COUNT(*) OVER (PARTITION BY norm_key) AS n_copies
               FROM n)
    SELECT doc_id, CAST(n_copies AS BIGINT) AS n_copies
    FROM d WHERE rn = 1
    """,
    survey_ids=("X11",),
)
def d11_dedup_normalized(spark, sf_dir):
    """Whitespace/case-normalized exact dedup (X11): the normalize-then-
    first-wins form."""
    docs = _ld(spark, sf_dir, "documents")
    from .functions.text import norm_text

    keyed = docs.select("doc_id", norm_text(F.col("text")).alias("norm_key"))
    out = dedup.first_wins_dedup(keyed, ["norm_key"], "doc_id")
    return out.select("doc_id", F.col("n_copies").cast("bigint").alias("n_copies"))


def _minhash_cte() -> str:
    """Shared CTE prefix: tokens → distinct shingles → string hash."""
    return f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    sh AS (SELECT DISTINCT doc_id, unnest({_SHINGLES}) AS shingle
           FROM t WHERE len(toks) >= 3),
    hh AS (SELECT doc_id, {_HSTR.format(e='shingle')} AS h FROM sh)
    """


def _minhash_aggs(n_perms: int) -> str:
    return ", ".join(
        f"MIN({_perm_sql('h', j)}) AS mh_{j}" for j in range(n_perms)
    )


def _band_selects(n_bands: int, rows_per_band: int) -> str:
    """Banded signature keys — mirrors dedup.lsh_candidate_pairs'
    concat_ws('_', mh_{b*r}..mh_{b*r+r-1}) per band b."""
    return " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {key} AS band_key FROM sigs".format(
            b=b,
            key=" || '_' || ".join(
                f"CAST(mh_{b * rows_per_band + r} AS VARCHAR)"
                for r in range(rows_per_band)
            ),
        )
        for b in range(n_bands)
    )


_MINHASH_AGGS = _minhash_aggs(dedup.N_PERMS)
_BAND_SELECTS = _band_selects(dedup.N_BANDS, dedup.ROWS_PER_BAND)

#: Shingles ``sh`` and LSH ``bands`` of an augmented corpus ``aug``
#: (doc_id, text): tokens → distinct shingles → hashes → MinHash
#: signatures → band keys (mirrors dedup.doc_band_entries).
_AUG_BANDS_SQL = f"""t AS (SELECT doc_id, {_TOKS} AS toks FROM aug),
    sh AS (SELECT DISTINCT doc_id, unnest({_SHINGLES}) AS shingle
           FROM t WHERE len(toks) >= 3),
    hh AS (SELECT doc_id, {_HSTR.format(e='shingle')} AS h FROM sh),
    sigs AS (SELECT doc_id, {_MINHASH_AGGS} FROM hh GROUP BY doc_id),
    bands AS ({_BAND_SELECTS})"""

#: LSH candidates and their shared-shingle counts over ``bands`` and
#: ``sh`` — mirrors dedup.lsh_candidate_pairs + the exact verify join.
_LSH_INTER = """cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
             FROM bands l JOIN bands r
               ON l.band = r.band AND l.band_key = r.band_key
              AND l.doc_id < r.doc_id),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (SELECT c.a, c.b, COUNT(*) AS n_inter
              FROM cand c
              JOIN sh sa ON sa.doc_id = c.a
              JOIN sh sb ON sb.doc_id = c.b AND sb.shingle = sa.shingle
              GROUP BY c.a, c.b)"""

#: The exact-Jaccard >= 0.8 verify of ``inter`` rows (i, za, zb).
_JACCARD_08 = """FROM inter i
    JOIN sizes za ON za.doc_id = i.a
    JOIN sizes zb ON zb.doc_id = i.b
    WHERE CAST(i.n_inter AS DOUBLE)
            / CAST(za.n_sh + zb.n_sh - i.n_inter AS DOUBLE) >= 0.8"""

#: Verified near-dup pairs with their overlap evidence.
_LSH_PAIRS = f"""SELECT i.a, i.b, i.n_inter, za.n_sh AS na, zb.n_sh AS nb,
           CAST(i.n_inter AS DOUBLE)
             / CAST(za.n_sh + zb.n_sh - i.n_inter AS DOUBLE) AS jaccard
    {_JACCARD_08}
    """

#: Near-dup clusters ``lab(doc_id, cluster_id)``: the verified LSH
#: pairs' transitive closure as a recursive CTE (reach = every label a
#: vertex can see; MIN per vertex = the component min) — mirrors
#: components.duplicate_clusters.
_DUP_CLUSTERS_CTE = (
    "WITH RECURSIVE "
    + _minhash_cte().replace("WITH t AS", "t AS", 1)
    + f""",
    sigs AS (SELECT doc_id, {_MINHASH_AGGS} FROM hh GROUP BY doc_id),
    bands AS ({_BAND_SELECTS}),
    {_LSH_INTER},
    edges AS (SELECT i.a, i.b {_JACCARD_08}),
    sym AS (SELECT a AS src, b AS dst FROM edges
            UNION ALL SELECT b, a FROM edges),
    reach AS (SELECT doc_id AS v, doc_id AS lbl FROM documents
              UNION
              SELECT s.dst AS v, r.lbl
              FROM reach r JOIN sym s ON s.src = r.v),
    lab AS (SELECT v AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY v)"""
)


@_register(
    "d12_minhash_lsh",
    oracle=_minhash_cte()
    + f""",
    sigs AS (SELECT doc_id, {_MINHASH_AGGS} FROM hh GROUP BY doc_id),
    bands AS ({_BAND_SELECTS}),
    {_LSH_INTER}
    {_LSH_PAIRS}""",
    survey_ids=("X11", "X12"),
)
def d12_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-duplicate pairs (shingle → 8 minhashes → 4
    band buckets → candidate join → exact-Jaccard verify ≥ 0.8). The
    full scale-path pipeline; see operators/dedup.py."""
    return dedup.near_dup_pairs_minhash(
        _ld(spark, sf_dir, "documents"), threshold=0.8
    )


#: Production LSH geometry: 64 permutations in 16 bands of 4 rows.
#: P(candidate | jaccard j) = 1 - (1 - j^4)^16 — ~0.9998 at j = 0.8.
_PROD_BANDS, _PROD_ROWS = 16, 4
_PROD_PERMS = _PROD_BANDS * _PROD_ROWS


@_register(
    "d12_minhash_lsh_prod",
    oracle=_minhash_cte()
    + f""",
    sigs AS (SELECT doc_id, {_minhash_aggs(_PROD_PERMS)} FROM hh GROUP BY doc_id),
    bands AS ({_band_selects(_PROD_BANDS, _PROD_ROWS)}),
    {_LSH_INTER}
    {_LSH_PAIRS}""",
    survey_ids=("X11", "X12"),
)
def d12_minhash_lsh_prod(spark, sf_dir):
    """MinHash+LSH at PRODUCTION geometry — 64 permutations, 16 bands
    of 4 rows (P(candidate) ≈ 0.9998 at j = 0.8 vs ≈ 0.99 for the
    8-perm demo default) — same banded pipeline, same oracle constants
    (functions/hashing.py), so recall-vs-cost is a declared parameter,
    not a code fork. The 4-row band key is also MORE selective per
    band (fewer false candidates per bucket), which is what keeps the
    candidate join linear-ish when the corpus has heavy shingle reuse.
    """
    return dedup.near_dup_pairs_minhash(
        _ld(spark, sf_dir, "documents"),
        threshold=0.8,
        n_bands=_PROD_BANDS,
        rows_per_band=_PROD_ROWS,
    )


@_register(
    "d12_dup_clusters",
    oracle=_DUP_CLUSTERS_CTE
    + """
    SELECT doc_id, cluster_id, (doc_id = cluster_id) AS is_canonical,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_members
    FROM lab
    """,
    survey_ids=("X11",),
)
def d12_dup_clusters(spark, sf_dir):
    """Transitive near-duplicate groups: connected components (min-label
    propagation + pointer jumping, operators/components.py) over the
    MinHash-LSH pair graph; canonical survivor = lowest doc_id. The
    oracle replays the closure as a recursive CTE (reach = every label
    a vertex can see; MIN per vertex = the component min)."""
    from .operators.components import duplicate_clusters

    return duplicate_clusters(_ld(spark, sf_dir, "documents"), threshold=0.8)


@_register(
    "d14_ngram_jaccard",
    oracle=_minhash_cte()
    + f""",
    keep AS (SELECT shingle FROM sh GROUP BY shingle
             HAVING COUNT(*) <= {dedup.DEFAULT_MAX_DF}),
    shc AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN keep USING (shingle)),
    cand AS (SELECT DISTINCT sa.doc_id AS a, sb.doc_id AS b
             FROM shc sa JOIN shc sb
               ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shc GROUP BY doc_id),
    inter AS (SELECT c.a, c.b, COUNT(*) AS n_inter
              FROM cand c
              JOIN shc sa ON sa.doc_id = c.a
              JOIN shc sb ON sb.doc_id = c.b AND sb.shingle = sa.shingle
              GROUP BY c.a, c.b)
    SELECT i.a, i.b, i.n_inter, za.n_sh AS na, zb.n_sh AS nb,
           CAST(i.n_inter AS DOUBLE)
             / CAST(za.n_sh + zb.n_sh - i.n_inter AS DOUBLE) AS jaccard
    FROM inter i
    JOIN sizes za ON za.doc_id = i.a
    JOIN sizes zb ON zb.doc_id = i.b
    WHERE CAST(i.n_inter AS DOUBLE)
            / CAST(za.n_sh + zb.n_sh - i.n_inter AS DOUBLE) >= 0.5
    """,
    survey_ids=("X11",),
)
def d14_ngram_jaccard(spark, sf_dir):
    """Exact word-3-gram Jaccard pairs ≥ 0.5, candidate-pruned by the
    inverted shingle index (no minhash approximation)."""
    return dedup.ngram_jaccard_pairs(
        _ld(spark, sf_dir, "documents"), threshold=0.5
    )


_SEED_H = _HSTR.format(e=f"substr(text, p, {dedup.DUP_SPAN_SEED})")

#: Content-defined anchor positions ``p`` of a ``(text, n)`` row:
#: hash-gated seed grams — mirrors dedup.doc_anchor_grams.
_ANCHORS = f"""unnest(list_filter(
                      range(1, n - {dedup.DUP_SPAN_WINDOW - 1} + 1),
                      p -> {_SEED_H} % {dedup.DUP_SPAN_MOD} = 0)) AS p"""

#: An anchor's character interval [s, e] and its window gram.
_ANCHOR_GRAM = f"""CAST(p AS BIGINT) AS s,
                 CAST(p + {dedup.DUP_SPAN_WINDOW - 1} AS BIGINT) AS e,
                 substr(text, p, {dedup.DUP_SPAN_WINDOW}) AS gram"""

#: Anchor grams ``g`` of every document at least one window long.
_DOC_GRAMS = f"""
    WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents
               WHERE length(text) >= {dedup.DUP_SPAN_WINDOW}),
    anch AS (SELECT doc_id, text, n, {_ANCHORS} FROM d),
    g AS (SELECT doc_id, n, {_ANCHOR_GRAM} FROM anch)"""

#: Gaps-and-islands merge of the duplicated-gram hits ``h(doc_id, n,
#: s, e)`` into maximal spans ``sp`` — mirrors dedup.merge_hit_islands.
_SPAN_ISLANDS = """m AS (SELECT doc_id, n, s, e,
                 MAX(e) OVER (PARTITION BY doc_id ORDER BY s
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS pme
          FROM h),
    isl AS (SELECT doc_id, n, s, e,
                   SUM(CASE WHEN pme IS NULL OR s > pme + 1
                       THEN 1 ELSE 0 END)
                     OVER (PARTITION BY doc_id ORDER BY s
                           ROWS UNBOUNDED PRECEDING) AS island
            FROM m),
    sp AS (SELECT doc_id, island, MIN(s) AS ss, MAX(e) AS se,
                  MAX(n) AS n
           FROM isl GROUP BY doc_id, island)"""

#: Per-doc span accounting over ``sp`` — mirrors dedup.span_accounting.
_SPAN_PPM = """CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(se - ss + 1) AS BIGINT) AS dup_chars,
           CAST(MAX(n) AS BIGINT) AS n_chars,
           CAST(SUM(se - ss + 1) * 1000000 // MAX(n) AS BIGINT) AS dup_ppm
    FROM sp GROUP BY doc_id"""


@_register(
    "d29_dup_spans",
    oracle=f"""{_DOC_GRAMS},
    dup AS (SELECT gram FROM g GROUP BY gram
            HAVING COUNT(DISTINCT doc_id) >= 2),
    h AS (SELECT g.doc_id, g.n, g.s, g.e FROM g JOIN dup USING (gram)),
    {_SPAN_ISLANDS}
    SELECT doc_id, {_SPAN_PPM}
    """,
    survey_ids=("X11",),
)
def d29_dup_spans(spark, sf_dir):
    """Substring-level dedup accounting: per-doc maximal character
    spans whose 32-char content recurs verbatim in other documents,
    sampled at content-defined anchors (hash-gated seed grams, the
    winnowing/CDC property — alignment-independent), merged by
    per-doc gaps-and-islands. operators/dedup.py::duplicated_spans."""
    return dedup.duplicated_spans(_ld(spark, sf_dir, "documents"))


@_register(
    "d29_dup_spans_excise",
    oracle=f"""{_DOC_GRAMS},
    dup AS (SELECT gram, MIN(doc_id) AS keeper FROM g GROUP BY gram
            HAVING COUNT(DISTINCT doc_id) >= 2),
    h AS (SELECT g.doc_id, g.n, g.s, g.e FROM g JOIN dup USING (gram)
          WHERE g.doc_id <> dup.keeper),
    {_SPAN_ISLANDS},
    segs AS (
      SELECT doc_id,
             coalesce(LAG(se) OVER (PARTITION BY doc_id ORDER BY ss) + 1,
                      1) AS gs,
             ss - 1 AS ge
      FROM sp
      UNION ALL
      SELECT doc_id, MAX(se) + 1 AS gs, MAX(n) AS ge
      FROM sp GROUP BY doc_id
    ),
    cl AS (SELECT segs.doc_id,
                  string_agg(substr(dd.text, CAST(gs AS INT),
                                    CAST(ge - gs + 1 AS INT)),
                             '' ORDER BY gs) AS clean_text
           FROM segs JOIN documents dd USING (doc_id)
           WHERE ge >= gs GROUP BY segs.doc_id),
    spanned AS (SELECT DISTINCT doc_id FROM sp)
    SELECT dd.doc_id,
           CASE WHEN sp2.doc_id IS NULL THEN dd.text
                ELSE coalesce(cl.clean_text, '') END AS clean_text,
           CAST(length(dd.text) AS BIGINT) AS n_chars,
           CAST(length(CASE WHEN sp2.doc_id IS NULL THEN dd.text
                            ELSE coalesce(cl.clean_text, '') END)
                AS BIGINT) AS clean_chars,
           CAST(length(dd.text)
                - length(CASE WHEN sp2.doc_id IS NULL THEN dd.text
                              ELSE coalesce(cl.clean_text, '') END)
                AS BIGINT) AS removed_chars
    FROM documents dd
    LEFT JOIN spanned sp2 USING (doc_id)
    LEFT JOIN cl USING (doc_id)
    """,
    survey_ids=("X11",),
)
def d29_dup_spans_excise(spark, sf_dir):
    """The actionable twin of d29_dup_spans: rewrite the corpus with
    non-canonical duplicated spans cut out (min-doc_id holder of each
    gram keeps its copy — content survives exactly once; idempotent).
    The cut is one row-local F.aggregate over the sorted span array.
    operators/dedup.py::excise_duplicated_spans."""
    return dedup.excise_duplicated_spans(_ld(spark, sf_dir, "documents"))


@_register(
    "d18_incremental_dedup",
    oracle=_minhash_cte()
    + f""",
    sigs AS (SELECT doc_id, {_MINHASH_AGGS} FROM hh GROUP BY doc_id),
    bands AS ({_BAND_SELECTS}),
    bb AS (SELECT * FROM bands WHERE doc_id % 10 = 7),
    cb AS (SELECT * FROM bands WHERE doc_id % 10 <> 7),
    cand AS (SELECT DISTINCT bb.doc_id AS batch_id, cb.doc_id AS corpus_id
             FROM cb JOIN bb
               ON cb.band = bb.band AND cb.band_key = bb.band_key),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (SELECT c.batch_id, c.corpus_id, COUNT(*) AS n_inter
              FROM cand c
              JOIN sh sa ON sa.doc_id = c.batch_id
              JOIN sh sb2 ON sb2.doc_id = c.corpus_id
                         AND sb2.shingle = sa.shingle
              GROUP BY c.batch_id, c.corpus_id)
    SELECT i.batch_id, i.corpus_id, i.n_inter,
           zb.n_sh AS nb, zc.n_sh AS nc,
           CAST(i.n_inter AS DOUBLE)
             / CAST(zb.n_sh + zc.n_sh - i.n_inter AS DOUBLE) AS jaccard
    FROM inter i
    JOIN sizes zb ON zb.doc_id = i.batch_id
    JOIN sizes zc ON zc.doc_id = i.corpus_id
    WHERE CAST(i.n_inter AS DOUBLE)
            / CAST(zb.n_sh + zc.n_sh - i.n_inter AS DOUBLE) >= 0.5
    """,
    survey_ids=("X11",),
)
def d18_incremental_dedup(spark, sf_dir):
    """INCREMENTAL near-dup: an incoming batch (doc_id % 10 = 7, the
    daily-ingest slice) checked against the existing corpus (the rest)
    — the production shape where all-pairs re-runs per ingest are
    absurd. The batch's banded keys BROADCAST, so candidate generation
    streams the corpus map-side with zero corpus shuffle; signatures
    use the same constants on both sides, composing with a persisted
    corpus signature table at scale.
    operators/dedup.py::near_dups_against_corpus."""
    docs = _ld(spark, sf_dir, "documents")
    return dedup.near_dups_against_corpus(
        docs.filter(F.col("doc_id") % 10 == 7),
        docs.filter(F.col("doc_id") % 10 != 7),
        threshold=0.5,
    )


#: 32-bit SimHash ``sig(doc_id, simhash)``: per-token string hash, a
#: ±1 vote per bit, positive tallies set the bit.
_SIMHASH_SIG = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    tok AS (SELECT doc_id, unnest(toks) AS tk FROM t),
    th AS (SELECT doc_id, {_HSTR.format(e='tk')} AS h FROM tok),
    bitsum AS (SELECT doc_id, b.b,
                      SUM(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
               FROM th CROSS JOIN (SELECT unnest(range(0, 32)) AS b) b
               GROUP BY doc_id, b.b),
    sig AS (SELECT doc_id,
                   CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b)
                            ELSE 0 END) AS BIGINT) AS simhash
            FROM bitsum GROUP BY doc_id)"""


@_register(
    "d13_simhash",
    oracle=_SIMHASH_SIG
    + """
    SELECT d.doc_id, CAST(coalesce(g.simhash, 0) AS BIGINT) AS simhash
    FROM documents d LEFT JOIN sig g ON g.doc_id = d.doc_id
    """,
    survey_ids=("X11",),
)
def d13_simhash(spark, sf_dir):
    """32-bit SimHash signature per document — JVM-side tokenize+md5,
    Arrow-vectorized bit-vote tally (no token-row explosion; the pure-
    expression form is simhash_signatures, bit-equal and equality-
    tested; see operators/dedup.py), re-derived relationally in the
    oracle."""
    return dedup.simhash_signatures_arrow(
        _ld(spark, sf_dir, "documents"), bits=32
    )


@_register(
    "d13_simhash_pairs",
    oracle=_SIMHASH_SIG
    + """
    SELECT x.doc_id AS a, y.doc_id AS b,
           CAST(bit_count(xor(x.simhash, y.simhash)) AS INTEGER) AS hamming
    FROM sig x JOIN sig y ON x.doc_id < y.doc_id
    WHERE bit_count(xor(x.simhash, y.simhash)) <= 6
    """,
    survey_ids=("X11",),
)
def d13_simhash_pairs(spark, sf_dir):
    """Near-dup pairs by SimHash Hamming distance ≤ 6."""
    out = dedup.simhash_near_pairs(
        _ld(spark, sf_dir, "documents"), max_hamming=6, bits=32
    )
    return out.withColumn("hamming", F.col("hamming").cast("int"))


@_register(
    "t13_repetition",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    g AS (SELECT doc_id, toks,
                 list_transform(range(1, len(toks)),
                        i -> toks[i] || ' ' || toks[i+1]) AS g2,
                 list_transform(range(1, len(toks) - 1),
                        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS g3
          FROM t),
    s AS (SELECT doc_id,
                 CAST(len(toks) AS BIGINT) AS n_tokens,
                 CASE WHEN len(toks) > 0 THEN CAST(1.0 AS DOUBLE)
                      - CAST(len(list_distinct(toks)) AS DOUBLE)
                        / CAST(len(toks) AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
                   AS dup_token_frac,
                 CASE WHEN len(g2) > 0 THEN CAST(1.0 AS DOUBLE)
                      - CAST(len(list_distinct(g2)) AS DOUBLE)
                        / CAST(len(g2) AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
                   AS dup_2gram_frac,
                 CASE WHEN len(g3) > 0 THEN CAST(1.0 AS DOUBLE)
                      - CAST(len(list_distinct(g3)) AS DOUBLE)
                        / CAST(len(g3) AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
                   AS dup_3gram_frac
          FROM g)
    SELECT doc_id, n_tokens, dup_token_frac, dup_2gram_frac, dup_3gram_frac,
           dup_2gram_frac <= CAST(0.2 AS DOUBLE) AS keep
    FROM s
    """,
    survey_ids=("X13",),
)
def t13_repetition(spark, sf_dir):
    """Gopher-style repetition quality stats: duplicate token/2-gram/
    3-gram fractions as exact per-row integer ratios, plus the keep
    flag at the 0.2 duplicate-2-gram threshold.
    operators/textstats.py::repetition_stats."""
    return textstats.repetition_stats(_ld(spark, sf_dir, "documents"))


#: The quality gate's per-doc signal columns over ``toks`` and the
#: ``hits_<lang>`` stopword counts (``_LANG_HITS``) — mirrors
#: textstats.quality_gate.
_GATE_SIGNALS = f"""CAST(len(toks) AS BIGINT) AS n_tokens,
                 CASE WHEN len(toks) > 0
                      THEN CAST(coalesce(list_sum(list_transform(toks,
                               x -> length(x))), 0) AS DOUBLE)
                           / CAST(len(toks) AS DOUBLE)
                      ELSE CAST(0.0 AS DOUBLE) END AS avg_token_len,
                 CASE WHEN len(toks) > 1
                      THEN CAST(1.0 AS DOUBLE)
                           - CAST(len(list_distinct(list_transform(
                                 range(1, len(toks)),
                                 i -> toks[i] || ' ' || toks[i+1])))
                               AS DOUBLE)
                             / CAST(len(toks) - 1 AS DOUBLE)
                      ELSE CAST(0.0 AS DOUBLE) END AS dup_2gram_frac,
                 {_BEST} > 0 AS pass_lang"""
_LANG_HITS = ", ".join(f"{_stop_list_sql(l)} AS hits_{l}" for l in _LANGS)


@_register(
    "t13_quality_gate",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    s AS (SELECT doc_id, {_GATE_SIGNALS}
          FROM (SELECT doc_id, toks,
                       {_LANG_HITS}
                FROM t))
    SELECT doc_id, n_tokens, avg_token_len, dup_2gram_frac, pass_lang,
           n_tokens BETWEEN {textstats.GATE_MIN_TOKENS}
                        AND {textstats.GATE_MAX_TOKENS} AS pass_length,
           avg_token_len BETWEEN {textstats.GATE_MIN_AVG_TOKEN_LEN}
                             AND {textstats.GATE_MAX_AVG_TOKEN_LEN}
             AS pass_word_len,
           dup_2gram_frac <= {textstats.GATE_MAX_DUP_2GRAM_FRAC}
             AS pass_repetition,
           pass_lang
             AND (n_tokens BETWEEN {textstats.GATE_MIN_TOKENS}
                               AND {textstats.GATE_MAX_TOKENS})
             AND (avg_token_len BETWEEN {textstats.GATE_MIN_AVG_TOKEN_LEN}
                                    AND {textstats.GATE_MAX_AVG_TOKEN_LEN})
             AND dup_2gram_frac <= {textstats.GATE_MAX_DUP_2GRAM_FRAC}
             AS keep
    FROM s
    """,
    survey_ids=("X13",),
)
def t13_quality_gate(spark, sf_dir):
    """The COMPOSITE cleaning gate (C4/Gopher rule chain) in one pass:
    language-ID, token-count bounds, mean-token-length bounds, and the
    duplicate-2-gram repetition cut — per-rule booleans plus the
    conjunction, one scan, zero shuffles. The production composition
    of the individual t13 operators.
    operators/textstats.py::quality_gate."""
    return textstats.quality_gate(_ld(spark, sf_dir, "documents"))


@_register(
    "d15_decontaminate",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    g AS (SELECT DISTINCT doc_id,
                 unnest(list_transform(range(1, len(toks) - 3),
                        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                             || ' ' || toks[i+3] || ' ' || toks[i+4])) AS shingle
          FROM t WHERE len(toks) >= 5),
    ev AS (SELECT DISTINCT shingle FROM g WHERE doc_id % 97 = 0),
    tr AS (SELECT doc_id, shingle FROM g WHERE doc_id % 97 <> 0),
    shared AS (SELECT tr.doc_id, COUNT(*) AS n_shared
               FROM tr JOIN ev USING (shingle) GROUP BY tr.doc_id)
    SELECT d.doc_id,
           CAST(coalesce(s.n_shared, 0) AS BIGINT) AS n_shared,
           coalesce(s.n_shared, 0) > 0 AS is_contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
    LEFT JOIN shared s ON s.doc_id = d.doc_id
    """,
    survey_ids=("X11",),
)
def d15_decontaminate(spark, sf_dir):
    """Eval-set decontamination: flag training documents sharing any
    word-5-gram with the (broadcast) benchmark slice — the eval-leakage
    guard of LLM data pipelines. operators/dedup.py::decontaminate."""
    docs = _ld(spark, sf_dir, "documents")
    evals = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return dedup.decontaminate(train, evals, shingle_n=5)


@_register(
    "d15_decontaminate_fuzzy",
    oracle=f"""
    WITH aug AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 2000000,
               'paraphrase note ' || text || ' end of copy'
        FROM documents WHERE doc_id % 97 = 0
    ),
    {_AUG_BANDS_SQL},
    evb AS (SELECT * FROM bands
            WHERE doc_id % 97 = 0 AND doc_id < 2000000),
    trb AS (SELECT * FROM bands
            WHERE NOT (doc_id % 97 = 0 AND doc_id < 2000000)),
    cand AS (SELECT DISTINCT trb.doc_id AS train_id, evb.doc_id AS eval_id
             FROM trb JOIN evb
               ON trb.band = evb.band AND trb.band_key = evb.band_key),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (SELECT c.train_id, c.eval_id, COUNT(*) AS n_shared
              FROM cand c
              JOIN sh st ON st.doc_id = c.train_id
              JOIN sh se ON se.doc_id = c.eval_id
                        AND se.shingle = st.shingle
              GROUP BY c.train_id, c.eval_id)
    SELECT i.train_id, i.eval_id,
           CAST(i.n_shared AS BIGINT) AS n_shared,
           CAST(z.n_sh AS BIGINT) AS eval_n_sh,
           CAST((i.n_shared * 1000000) // z.n_sh AS BIGINT) AS overlap_ppm
    FROM inter i JOIN sizes z ON z.doc_id = i.eval_id
    WHERE (i.n_shared * 1000000) // z.n_sh >= 500000
    """,
    survey_ids=("X11",),
)
def d15_decontaminate_fuzzy(spark, sf_dir):
    """NEAR-dup decontamination (VERDICT r11 item 5): d15's exact
    shingle-hit rule misses paraphrased leaks, so this variant flags
    training docs whose 3-gram set contains ≥50 % of some eval item's
    shingle set, with MinHash-LSH candidate pruning (the d12 banding)
    so the training side is never self-joined. The natural corpus has
    no cross-split near-dups, so every eval doc is planted as a
    paraphrased training twin (prefix + suffix words, doc_id +
    2,000,000) IDENTICALLY here and in the oracle (the _AUG_EMB_SQL
    convention) — the driver row exercises real contaminated pairs
    with full-containment evidence, not a 0=0 match.
    operators/dedup.py::decontaminate_fuzzy."""
    docs = _ld(spark, sf_dir, "documents").select("doc_id", "text")
    twins = docs.filter(F.col("doc_id") % 97 == 0).select(
        (F.col("doc_id") + F.lit(2_000_000)).alias("doc_id"),
        F.concat(
            F.lit("paraphrase note "), F.col("text"), F.lit(" end of copy")
        ).alias("text"),
    )
    aug = docs.unionByName(twins)
    is_eval = (F.col("doc_id") % 97 == 0) & (F.col("doc_id") < 2_000_000)
    return dedup.decontaminate_fuzzy(aug.filter(~is_eval), aug.filter(is_eval))


#: The streaming screens' corpus: every document plus an exact twin
#: (doc_id + 3,000,000) of each doc_id % 30 = 7; the doc_id % 10 = 7
#: originals arrive as the stream batch.
_STREAM_TWIN_AUG_SQL = """aug AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 3000000, text FROM documents WHERE doc_id % 30 = 7
    )"""


def _stream_twin_corpus(spark, sf_dir):
    """Spark side of :data:`_STREAM_TWIN_AUG_SQL`: the static corpus
    (the augmented set minus the batch) and the batch documents as a
    bounded stream, both (doc_id, text)."""
    from .streaming.windows import read_table_stream

    docs = _ld(spark, sf_dir, "documents").select("doc_id", "text")
    twins = docs.filter(F.col("doc_id") % 30 == 7).select(
        (F.col("doc_id") + F.lit(3_000_000)).alias("doc_id"), "text"
    )
    is_batch = (F.col("doc_id") % 10 == 7) & (F.col("doc_id") < 3_000_000)
    corpus = docs.unionByName(twins).filter(~is_batch)
    sdocs = (
        read_table_stream(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") % 10 == 7)
    )
    return corpus, sdocs


@_register(
    "x10_stream_near_dup",
    oracle=f"""
    WITH {_STREAM_TWIN_AUG_SQL},
    {_AUG_BANDS_SQL},
    sb AS (SELECT * FROM bands
           WHERE doc_id % 10 = 7 AND doc_id < 3000000),
    cb AS (SELECT * FROM bands
           WHERE NOT (doc_id % 10 = 7 AND doc_id < 3000000)),
    cand AS (SELECT DISTINCT sb.doc_id AS batch_id, cb.doc_id AS corpus_id
             FROM sb JOIN cb
               ON sb.band = cb.band AND sb.band_key = cb.band_key)
    SELECT batch_id, CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(MIN(corpus_id) AS BIGINT) AS best_corpus_id
    FROM cand GROUP BY batch_id
    """,
    survey_ids=("X10", "X11"),
)
def x10_stream_near_dup(spark, sf_dir):
    """STREAMING near-dup screening: arriving documents (the
    vec-style doc_id%10==7 slice replayed as a bounded availableNow
    stream) compute their MinHash band keys per micro-batch — the
    whole tokenize → shingle → signature → band chain is pure
    projections (dedup.doc_band_entries), which is exactly what makes
    it legal over a stream — and probe a BROADCAST static band index
    built from the corpus. This is the ingest-time dedup gate of a
    production pipeline: candidates surface while the data lands,
    stateless per micro-batch (the join is stream-static, no state
    store), with exact verification left to the batch layer (d12/d14's
    job). Every 3rd batch doc is planted as an exact corpus twin
    (doc_id + 3,000,000) IDENTICALLY here and in the oracle, so the
    driver row exercises real stream-hits-index candidates. The
    memory-sink pairs dedup batch-side after replay (one row per
    agreeing band per pair in flight — first-band dedup needs no
    streaming state because the downstream distinct is
    candidate-sized). operators/dedup.py::doc_band_entries;
    streaming/windows.py::read_table_stream."""
    from .streaming.windows import run_to_memory

    corpus, sdocs = _stream_twin_corpus(spark, sf_dir)
    corpus_bands = dedup.doc_band_entries(corpus).withColumnRenamed(
        "doc_id", "corpus_id"
    )
    s_bands = dedup.doc_band_entries(sdocs).withColumnRenamed(
        "doc_id", "batch_id"
    )
    pairs = s_bands.join(
        F.broadcast(corpus_bands), ["band", "band_key"]
    ).select("batch_id", "corpus_id")
    mem = run_to_memory(pairs, spark, mode="append")
    return (
        mem.distinct()
        .groupBy("batch_id")
        .agg(
            F.count("*").cast("bigint").alias("n_candidates"),
            F.min("corpus_id").cast("bigint").alias("best_corpus_id"),
        )
    )


@_register(
    "x10_stream_dup_spans",
    oracle=f"""
    WITH {_STREAM_TWIN_AUG_SQL},
    co AS (SELECT doc_id, text, length(text) AS n FROM aug
           WHERE NOT (doc_id % 10 = 7 AND doc_id < 3000000)
             AND length(text) >= {dedup.DUP_SPAN_WINDOW}),
    ba AS (SELECT doc_id, text, length(text) AS n FROM aug
           WHERE doc_id % 10 = 7 AND doc_id < 3000000
             AND length(text) >= {dedup.DUP_SPAN_WINDOW}),
    canch AS (SELECT text, {_ANCHORS} FROM co),
    cgs AS (SELECT DISTINCT
                   substr(text, p, {dedup.DUP_SPAN_WINDOW}) AS gram
            FROM canch),
    banch AS (SELECT doc_id, text, n, {_ANCHORS} FROM ba),
    bg AS (SELECT doc_id, n, {_ANCHOR_GRAM} FROM banch),
    h AS (SELECT bg.doc_id, bg.n, bg.s, bg.e FROM bg JOIN cgs USING (gram)),
    {_SPAN_ISLANDS}
    SELECT doc_id AS batch_id, {_SPAN_PPM}
    """,
    survey_ids=("X10", "X11"),
)
def x10_stream_dup_spans(spark, sf_dir):
    """STREAMING span screening — the d29 family's ingest-time gate,
    completing the batch+stream symmetry the same way
    x10_stream_near_dup does for MinHash: arriving documents compute
    their content-defined anchor grams per micro-batch (the whole
    anchor chain is pure projections, dedup.doc_anchor_grams — hence
    stream-legal) and probe a BROADCAST static gram index built from
    the corpus; per-hit character intervals land in the sink
    stateless, and the island merge + ppm accounting run batch-side
    on the replayed hits (island state is per-document and
    hit-bounded — no streaming state store needed). Every 3rd batch
    doc is planted as an exact corpus twin (doc_id + 3,000,000)
    IDENTICALLY here and in the oracle, so the driver rows carry real
    near-total-duplication evidence at ingest.
    operators/dedup.py::doc_anchor_grams / merge_hit_islands /
    span_accounting; streaming/windows.py::read_table_stream."""
    from .streaming.windows import run_to_memory

    corpus, sdocs = _stream_twin_corpus(spark, sf_dir)
    corpus_grams = dedup.doc_anchor_grams(corpus).select("gram").distinct()
    s_grams = dedup.doc_anchor_grams(sdocs, spread=False)
    hits = s_grams.join(F.broadcast(corpus_grams), "gram").select(
        "doc_id", "n", "s", "e"
    )
    mem = run_to_memory(hits, spark, mode="append")
    return dedup.span_accounting(
        dedup.merge_hit_islands(mem)
    ).withColumnRenamed("doc_id", "batch_id")


#: Mixture weights as pure INTEGER ppm — survival rate per source
#: bucket, {0.1, 0.3, 0.5, 0.7, 0.9} over source index mod 5. Integer
#: end-to-end so no float weight can round differently across engines.
_MIX_W_SQL = (
    "(100000 + 200000 * (CAST(SUBSTR(source, 4) AS BIGINT) % 5))"
)


@_register(
    "d17_mixture_sample",
    oracle=f"""
    SELECT doc_id, source,
           CAST({_MIX_W_SQL} AS BIGINT) AS weight_ppm
    FROM documents
    WHERE {duckdb_det_hash_i64('doc_id', 27)} % 1000000 < {_MIX_W_SQL}
    """,
    survey_ids=("Q11",),
)
def d17_mixture_sample(spark, sf_dir):
    """Deterministic data-MIXING sample: each source keeps an integer
    ppm fraction of its documents ({{0.1 .. 0.9}} by source index mod
    5), decided per row by the engine's multiplicative key hash — the
    domain-reweighting step of an LLM training mix (up-sample curated
    sources, down-sample crawl), as a pure pushed filter with zero
    shuffles and the same surviving key set on any engine / any
    partitioning / any re-run. pipeline.py::mixture_sample_by_weight.
    """
    from .pipeline import mixture_sample_by_weight

    docs = _ld(spark, sf_dir, "documents")
    w = (
        F.lit(100000)
        + F.lit(200000)
        * F.pmod(F.substring(F.col("source"), 4, 8).cast("bigint"), F.lit(5))
    )
    return mixture_sample_by_weight(
        docs.select("doc_id", "source", w.cast("bigint").alias("weight_ppm")),
        F.col("weight_ppm"),
        "doc_id",
        seed=27,
    )


# =====================================================================
# Similarity search (X12 + LLM ops)
# =====================================================================

#: Dot product of two list columns, left-to-right double accumulation —
#: mirrors Spark's aggregate fold including the 0.0 initial value.
def _dot_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_concat([CAST(0 AS DOUBLE)],"
        f" list_transform(range(1, len({a}) + 1),"
        f" i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))),"
        f" (x, y) -> x + y)"
    )


def _cosine_sql(a: str, b: str) -> str:
    return (
        f"({_dot_sql(a, b)} / (sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)})))"
    )


_QUERY_IDS = [0, 1, 2, 3, 4]
_QID_SQL = ", ".join(str(i) for i in _QUERY_IDS)


#: Exact cosine top-10 per query — one oracle for the JVM-expression
#: and pandas-UDF scoring kernels.
_COSINE_TOPK_SQL = f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
               FROM embeddings WHERE vec_id IN ({_QID_SQL})),
    sc AS (SELECT q.query_id, e.vec_id,
                  {_cosine_sql('q.q_emb', 'e.embedding')} AS cosine
           FROM embeddings e CROSS JOIN q
           WHERE e.vec_id <> q.query_id),
    rk AS (SELECT query_id, vec_id, cosine,
                  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, vec_id) AS INTEGER) AS rk
           FROM sc)
    SELECT query_id, vec_id, cosine, rk FROM rk WHERE rk <= 10
    """


@_register(
    "s12_cosine_topk",
    oracle=_COSINE_TOPK_SQL,
    survey_ids=("X12",),
)
def s12_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-10 per query vector (exact baseline):
    broadcast queries, map-side scoring via zip_with/aggregate, per-query
    ranking. operators/similarity.py."""
    return similarity.cosine_topk(
        _ld(spark, sf_dir, "embeddings"), _QUERY_IDS, k=10
    )


@_register(
    "s12_cosine_near_pairs",
    oracle=f"""
    SELECT x.vec_id AS a, y.vec_id AS b,
           {_cosine_sql('x.embedding', 'y.embedding')} AS cosine
    FROM embeddings x JOIN embeddings y ON x.vec_id < y.vec_id
    WHERE {_cosine_sql('x.embedding', 'y.embedding')} >= 0.45
    """,
    survey_ids=("X12",),
)
def s12_cosine_near_pairs(spark, sf_dir):
    """Embedding near-duplicate pairs: all (a,b) with cosine ≥ 0.45 —
    exact, via the blocked triangular decomposition with the pair grid
    evaluated in a vectorized applyInPandas kernel (no
    BroadcastNestedLoop, recall structurally 1; see
    operators/similarity.py::cosine_near_pairs_blocked_pandas; the
    pure-expression blocked join is cosine_near_pairs, equal results
    asserted in tests)."""
    return similarity.cosine_near_pairs_blocked_pandas(
        _ld(spark, sf_dir, "embeddings"), threshold=0.45
    )


#: Near-dupe planting for the pruned-pairs row: every 101st vector gets
#: a perturbed twin (vec_id + 1_000_000). The perturbation is a fixed
#: per-index delta ((i % 7) - 3) / 1000, added in DOUBLE and rounded
#: back to FLOAT — small ints times an exact double literal, so Spark
#: and DuckDB produce bit-identical twins and the exact-cosine oracle
#: stays exact over the augmented corpus.
_TWIN_STRIDE = 101
_TWIN_OFFSET = 1_000_000
_AUG_EMB_SQL = f"""
    aug AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + {_TWIN_OFFSET} AS vec_id,
             list_transform(range(1, len(embedding) + 1),
               i -> CAST(CAST(embedding[i] AS DOUBLE)
                         + ((i - 1) % 7 - 3) * 0.001 AS REAL)) AS embedding
      FROM embeddings WHERE vec_id % {_TWIN_STRIDE} = 0)
    """


def _augment_with_twins(emb):
    """Spark side of _AUG_EMB_SQL: same deltas, same double→float
    rounding (transform index is 0-based here, 1-based in DuckDB)."""
    twins = emb.filter(F.col("vec_id") % _TWIN_STRIDE == 0).select(
        (F.col("vec_id") + F.lit(_TWIN_OFFSET)).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: (
                x.cast("double") + (i % 7 - 3).cast("double") * F.lit(0.001)
            ).cast("float"),
        ).alias("embedding"),
    )
    return emb.select("vec_id", "embedding").unionByName(twins)


@_register(
    "s12_near_pairs_pruned",
    oracle=f"""
    WITH {_AUG_EMB_SQL}
    SELECT x.vec_id AS a, y.vec_id AS b,
           {_cosine_sql('x.embedding', 'y.embedding')} AS cosine
    FROM aug x JOIN aug y ON x.vec_id < y.vec_id
    WHERE {_cosine_sql('x.embedding', 'y.embedding')} >= 0.95
    """,
    survey_ids=("X12",),
)
def s12_near_pairs_pruned(spark, sf_dir):
    """Candidate-PRUNED near-pairs at the exact-duplicate threshold
    (cos ≥ 0.95): banded sign-bit LSH candidates + exact-cosine
    verify — linear-ish in corpus size, unlike the exact quadratic
    contract of s12_cosine_near_pairs. The oracle is the EXACT
    all-pairs SQL, so the threshold is deliberately placed where the
    64×16 banding curve's miss rate is ≤ 3·10⁻⁶ per pair — the green
    row is then a property of the operator, not of the current
    fixture happening to have no marginal pairs (at looser thresholds
    the curve decays and an oracle-exact registration would be
    fixture-dependent).

    The corpus is AUGMENTED with deterministic perturbed twins
    (one per {_TWIN_STRIDE} vectors, cosine ≈ 1−1e-4 to their
    original) planted identically in Spark and in the oracle SQL, so
    the driver row exercises a NON-EMPTY candidate→verify path — the
    round-3 row proved only 0 = 0 because the natural sf0.01 slice has
    no pairs above 0.95. Completeness on randomly planted
    near-duplicates is additionally asserted against the exact blocked
    form in tests/test_properties.py.
    operators/similarity.py::lsh_near_pairs."""
    return similarity.lsh_near_pairs(
        _augment_with_twins(_ld(spark, sf_dir, "embeddings")), threshold=0.95
    )


def _hp_sql(j: int, i_expr: str) -> str:
    """Hyperplane component h[j][i] — mirrors similarity.hyperplane_component."""
    return (
        f"(CAST((({j} * 64 + {i_expr} + 1) * {KNUTH}) % {MOD32} AS DOUBLE)"
        f" / {float(MOD32)} - 0.5)"
    )


def _hp_dot_sql(vec: str, j: int) -> str:
    return (
        f"list_reduce(list_concat([CAST(0 AS DOUBLE)],"
        f" list_transform(range(1, len({vec}) + 1),"
        f" i -> CAST({vec}[i] AS DOUBLE) * {_hp_sql(j, '(i - 1)')})),"
        f" (x, y) -> x + y)"
    )


_BUCKET_SQL = " + ".join(
    f"(CASE WHEN {_hp_dot_sql('embedding', j)} > 0 THEN {1 << j} ELSE 0 END)"
    for j in range(similarity.N_HYPERPLANES)
)


#: Corpus bucket ids ``be`` and the queries ``q`` cut from it — one
#: text for both LSH oracles (mirrors similarity._lsh_bucketed).
_LSH_BE_Q = f"""be AS (SELECT vec_id, embedding,
                       CAST({_BUCKET_SQL} AS BIGINT) AS bucket
                FROM embeddings),
    q AS (SELECT vec_id AS query_id, embedding AS q_emb, bucket AS q_bucket
          FROM be WHERE vec_id IN ({_QID_SQL}))"""

#: Per-query top-5 by cosine over the re-ranked candidates ``cand`` —
#: the oracle side of similarity._topk for the LSH and IVF queries.
_TOP5_OVER_CAND = """rk AS (SELECT query_id, vec_id, cosine,
                  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, vec_id) AS INTEGER) AS rk
           FROM cand)
    SELECT query_id, vec_id, cosine, rk FROM rk WHERE rk <= 5"""


@_register(
    "s12_ann_lsh",
    oracle=f"""
    WITH {_LSH_BE_Q},
    cand AS (SELECT q.query_id, e.vec_id,
                    {_cosine_sql('q.q_emb', 'e.embedding')} AS cosine
             FROM be e JOIN q ON e.bucket = q.q_bucket
             WHERE e.vec_id <> q.query_id),
    {_TOP5_OVER_CAND}
    """,
    survey_ids=("X12",),
)
def s12_ann_lsh(spark, sf_dir):
    """Approximate nearest neighbors via random-hyperplane LSH: bucket
    by 8 deterministic sign bits, candidate join within the query's
    bucket, exact cosine re-rank, top 5. The 100 TB scale path for
    X12 — candidates shrink ~2^8-fold vs brute force."""
    return similarity.ann_lsh_topk(
        _ld(spark, sf_dir, "embeddings"), _QUERY_IDS, k=5
    )


@_register(
    "s12_cosine_topk_pandas",
    oracle=_COSINE_TOPK_SQL,
    survey_ids=("X12", "X14"),
)
def s12_cosine_topk_pandas(spark, sf_dir):
    """cosine_topk with the scoring kernel in an Arrow-vectorized
    pandas UDF (X14): dimension-sequential float64 accumulation matches
    the JVM expression and the oracle bit-for-bit. Same oracle as
    s12_cosine_topk — the two implementations must agree exactly."""
    return similarity.cosine_topk_pandas(
        _ld(spark, sf_dir, "embeddings"), _QUERY_IDS, k=10
    )


_IVF_CELLS = 16
_IVF_PROBE = 2


@_register(
    "s12_ivf_topk",
    oracle=f"""
    WITH cent AS (SELECT vec_id AS cent_id, embedding AS c_emb
                  FROM embeddings WHERE vec_id < {_IVF_CELLS}),
    asg0 AS (SELECT e.vec_id, e.embedding, c.cent_id,
                    {_cosine_sql('e.embedding', 'c.c_emb')} AS c_cos
             FROM embeddings e CROSS JOIN cent c),
    asg AS (SELECT vec_id, embedding, cent_id,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                        ORDER BY c_cos DESC, cent_id) AS ark
            FROM asg0),
    cells AS (SELECT vec_id, embedding, cent_id AS cell FROM asg WHERE ark = 1),
    q AS (SELECT vec_id AS query_id, embedding AS q_emb
          FROM embeddings WHERE vec_id IN ({_QID_SQL})),
    qp0 AS (SELECT q.query_id, q.q_emb, c.cent_id,
                   {_cosine_sql('q.q_emb', 'c.c_emb')} AS c_cos
            FROM q CROSS JOIN cent c),
    qp AS (SELECT query_id, q_emb, cent_id,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY c_cos DESC, cent_id) AS prk
           FROM qp0),
    probes AS (SELECT query_id, q_emb, cent_id AS cell
               FROM qp WHERE prk <= {_IVF_PROBE}),
    cand AS (SELECT p.query_id, c.vec_id,
                    {_cosine_sql('p.q_emb', 'c.embedding')} AS cosine
             FROM cells c JOIN probes p ON c.cell = p.cell
             WHERE c.vec_id <> p.query_id),
    {_TOP5_OVER_CAND}
    """,
    survey_ids=("X12",),
)
def s12_ivf_topk(spark, sf_dir):
    """IVF approximate nearest neighbors: deterministic coarse
    centroids (lowest vec_ids), map-side nearest-centroid assignment,
    n_probe=2 cell probing per query, exact re-rank. The second ANN
    family next to the LSH path; see operators/similarity.py."""
    return similarity.ivf_topk(
        _ld(spark, sf_dir, "embeddings"),
        _QUERY_IDS,
        k=5,
        n_cells=_IVF_CELLS,
        n_probe=_IVF_PROBE,
    )


#: PQ encoding and query distance tables: micro-quantized vectors
#: ``p``, the 16-codeword codebook ``cb``, per-subspace squared
#: distances ``sd``, each vector's 4 ``codes`` and the queries' tables
#: ``qd`` — mirrors similarity._pq_codes, in exact bigint micro² units.
_PQ_CTE = f"""p AS (SELECT vec_id,
                      list_transform(embedding,
                           x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000)
                                     AS BIGINT)) AS m
               FROM embeddings),
    cb AS (SELECT vec_id AS cent_id, m AS cm FROM p WHERE vec_id < 16),
    sd AS (SELECT v.vec_id, t.j, c.cent_id,
                  CAST(list_sum(list_transform(range(1, 17),
                       i -> (v.m[t.j * 16 + i] - c.cm[t.j * 16 + i])
                          * (v.m[t.j * 16 + i] - c.cm[t.j * 16 + i])))
                       AS BIGINT) AS d
           FROM p v
           CROSS JOIN (SELECT unnest(range(0, 4)) AS j) t
           CROSS JOIN cb c),
    codes AS (SELECT vec_id, j, cent_id AS code FROM (
               SELECT vec_id, j, cent_id,
                      ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                         ORDER BY d, cent_id) AS rn
               FROM sd) WHERE rn = 1),
    qd AS (SELECT vec_id AS query_id, j, cent_id, d
           FROM sd WHERE vec_id IN ({_QID_SQL}))"""


@_register(
    "s12_pq_topk",
    oracle=f"""
    WITH {_PQ_CTE},
    ad AS (SELECT q.query_id, x.vec_id,
                  CAST(SUM(q.d) AS BIGINT) AS adist_micro2
           FROM codes x JOIN qd q ON q.j = x.j AND q.cent_id = x.code
           WHERE x.vec_id <> q.query_id
           GROUP BY 1, 2)
    SELECT query_id, vec_id, adist_micro2, rk FROM (
        SELECT query_id, vec_id, adist_micro2,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY adist_micro2, vec_id) AS INTEGER) AS rk
        FROM ad) WHERE rk <= 10
    """,
    survey_ids=("X12",),
)
def s12_pq_topk(spark, sf_dir):
    """Product-quantization ADC top-k (X12's memory-compression lane,
    completing the ANN triptych: LSH buckets recall, IVF probes prune,
    PQ codes compress): 64-dim vectors → 4 subspace codes against a
    16-codeword deterministic codebook, query-side distance tables,
    approximate distance = 4 exact-bigint table lookups summed, per-
    query top-10. The codes relation is the only corpus-sized thing
    that moves (4 small ints/vector — the layout that holds a 100 TB
    corpus's index in executor memory; compose with ivf_topk's cells
    for IVF-PQ). The oracle replays quantization, encoding, and ADC in
    integer micro² units, so the ranking is bit-identical.
    operators/similarity.py::pq_topk."""
    return similarity.pq_topk(
        _ld(spark, sf_dir, "embeddings"), _QUERY_IDS, k=10
    )


@_register(
    "s12_ivfpq_topk",
    oracle=f"""
    WITH cent AS (SELECT vec_id AS cent_id, embedding AS c_emb
                  FROM embeddings WHERE vec_id < {_IVF_CELLS}),
    asg0 AS (SELECT e.vec_id, c.cent_id,
                    {_cosine_sql('e.embedding', 'c.c_emb')} AS c_cos
             FROM embeddings e CROSS JOIN cent c),
    cells AS (SELECT vec_id, cent_id AS cell FROM (
               SELECT vec_id, cent_id,
                      ROW_NUMBER() OVER (PARTITION BY vec_id
                           ORDER BY c_cos DESC, cent_id) AS ark
               FROM asg0) WHERE ark = 1),
    qp AS (SELECT query_id, cent_id AS cell FROM (
            SELECT q.vec_id AS query_id, c.cent_id,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                        ORDER BY {_cosine_sql('q.embedding', 'c.c_emb')} DESC,
                                 c.cent_id) AS prk
            FROM embeddings q CROSS JOIN cent c
            WHERE q.vec_id IN ({_QID_SQL})) WHERE prk <= {_IVF_PROBE}),
    {_PQ_CTE},
    cand AS (SELECT qp.query_id, cl.vec_id
             FROM cells cl JOIN qp ON cl.cell = qp.cell
             WHERE cl.vec_id <> qp.query_id),
    ad AS (SELECT cd.query_id, cd.vec_id,
                  CAST(SUM(q.d) AS BIGINT) AS adist_micro2
           FROM cand cd
           JOIN codes x ON x.vec_id = cd.vec_id
           JOIN qd q ON q.query_id = cd.query_id
                    AND q.j = x.j AND q.cent_id = x.code
           GROUP BY 1, 2)
    SELECT query_id, vec_id, adist_micro2, rk FROM (
        SELECT query_id, vec_id, adist_micro2,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY adist_micro2, vec_id) AS INTEGER) AS rk
        FROM ad) WHERE rk <= 5
    """,
    survey_ids=("X12",),
)
def s12_ivfpq_topk(spark, sf_dir):
    """IVF-PQ composed (the billion-scale ANN layout): coarse cells
    prune WHERE to look (the argmax-cosine assignment and 2-cell
    probing of similarity._probe_cells, shared with s12_ivf_topk), PQ
    codes compress WHAT is looked at (the exact-bigint ADC of
    similarity._pq_dtables/_pq_adist, shared with s12_pq_topk) — the
    search-time relation is (vec_id, cell, 4 codes), a few bytes per
    vector, and each query ADC-scans only ~n_probe/n_cells of it. The
    oracle composes the two proven CTE chains verbatim, so the pruned
    scan's exact row set and ranking are value-checked end-to-end.
    operators/similarity.py::ivfpq_topk."""
    return similarity.ivfpq_topk(
        _ld(spark, sf_dir, "embeddings"),
        _QUERY_IDS,
        k=5,
        n_cells=_IVF_CELLS,
        n_probe=_IVF_PROBE,
    )


@_register(
    "s12_embed_quantize",
    oracle="""
    WITH a AS (SELECT vec_id, embedding,
                      list_max(list_transform(embedding,
                               x -> abs(CAST(x AS DOUBLE)))) AS amax
               FROM embeddings),
    q AS (SELECT vec_id, amax,
                 list_transform(embedding,
                      x -> CAST(ROUND(CAST(x AS DOUBLE) / amax * 127)
                                AS INTEGER)) AS qarr
          FROM a)
    SELECT vec_id,
           CAST(ROUND(amax * 1000000) AS BIGINT) AS amax_millionths,
           CAST(list_sum(qarr) AS BIGINT) AS q_checksum,
           CAST(len(list_filter(qarr, v -> abs(v) = 127)) AS BIGINT)
             AS n_saturated
    FROM q
    """,
    survey_ids=("X12",),
)
def s12_embed_quantize(spark, sf_dir):
    """Symmetric int8 quantization summary per embedding (the
    compression preprocessing step of a vector pipeline); integer-exact
    check columns. operators/similarity.py::quantize_embeddings."""
    return similarity.quantize_embeddings(_ld(spark, sf_dir, "embeddings"))


def _sqd_sql(qv: str, cv: str) -> str:
    """Σ(v−c)² folded in dimension order — mirrors kmeans._sq_dist."""
    return (
        f"list_reduce(list_concat([CAST(0 AS DOUBLE)],"
        f" list_transform(range(1, len({qv}) + 1),"
        f" i -> (CAST({qv}[i] AS DOUBLE) - {cv}[i])"
        f"    * (CAST({qv}[i] AS DOUBLE) - {cv}[i]))),"
        f" (x, y) -> x + y)"
    )


_KM_K = 8

#: Shared CTE chain: quantized points → deterministic init → one Lloyd
#: round → final assignment ``asg1(vec_id, cell)``. Mirrors
#: kmeans.assignments(k=_KM_K, rounds=1) bit-for-bit; reused by the
#: kmeans summary AND the SemDeDup oracle so both stay one source of
#: truth for the clustering arithmetic.
_KM_ASG1_CTE = f"""
    p AS (SELECT vec_id,
                 list_transform(embedding,
                      x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000)
                                AS BIGINT)) AS qv
          FROM embeddings),
    c0 AS (SELECT vec_id AS cent_id,
                  list_transform(qv, v -> CAST(v AS DOUBLE)) AS c_vec
           FROM p WHERE vec_id < {_KM_K}),
    d0 AS (SELECT p.vec_id, p.qv, c.cent_id,
                  {_sqd_sql('p.qv', 'c.c_vec')} AS d
           FROM p CROSS JOIN c0 c),
    r0 AS (SELECT vec_id, qv, cent_id AS cell,
                  ROW_NUMBER() OVER (PARTITION BY vec_id
                       ORDER BY d ASC, cent_id ASC) AS rk
           FROM d0),
    asg0 AS (SELECT vec_id, qv, cell FROM r0 WHERE rk = 1),
    pd AS (SELECT cell,
                  unnest(range(1, len(qv) + 1)) AS dim,
                  unnest(qv) AS v
           FROM asg0),
    sums AS (SELECT cell, dim, SUM(v) AS s, COUNT(*) AS n
             FROM pd GROUP BY cell, dim),
    c1 AS (SELECT cell AS cent_id,
                  list(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                       ORDER BY dim) AS c_vec
           FROM sums GROUP BY cell),
    d1 AS (SELECT p.vec_id, c.cent_id,
                  {_sqd_sql('p.qv', 'c.c_vec')} AS d
           FROM p CROSS JOIN c1 c),
    r1 AS (SELECT vec_id, cent_id AS cell,
                  ROW_NUMBER() OVER (PARTITION BY vec_id
                       ORDER BY d ASC, cent_id ASC) AS rk
           FROM d1),
    asg1 AS (SELECT vec_id, cell FROM r1 WHERE rk = 1)"""


@_register(
    "s12_kmeans_refine",
    oracle=f"""
    WITH {_KM_ASG1_CTE}
    SELECT cell, COUNT(*) AS n_members,
           CAST(SUM(vec_id) AS BIGINT) AS sum_vec_ids
    FROM asg1 GROUP BY cell
    """,
    survey_ids=("X12", "X14"),
)
def s12_kmeans_refine(spark, sf_dir):
    """Distributed k-means refinement (one Lloyd round + reassignment)
    — the iterative-algorithm exemplar: driver-looped DataFrame rounds,
    broadcast-array argmin assignment, one (cell, dim)-keyed shuffle
    per update. Integer-quantized inputs make every cross-row sum exact,
    so the DuckDB oracle replays the round bit-for-bit (the oracle
    unrolls the same round in CTEs). operators/kmeans.py."""
    from .operators.kmeans import refine

    return refine(_ld(spark, sf_dir, "embeddings"), k=_KM_K, rounds=1)


@_register(
    "d16_semdedup",
    oracle=f"""
    WITH {_KM_ASG1_CTE},
    pts AS (SELECT a.vec_id, a.cell, e.embedding
            FROM asg1 a JOIN embeddings e ON e.vec_id = a.vec_id),
    pr AS (SELECT x.vec_id AS a, y.vec_id AS b
           FROM pts x JOIN pts y
             ON x.cell = y.cell AND x.vec_id < y.vec_id
           WHERE {_cosine_sql('x.embedding', 'y.embedding')} >= 0.4),
    dom AS (SELECT b AS vec_id, COUNT(*) AS n_dominators FROM pr GROUP BY b)
    SELECT t.vec_id, t.cell,
           CAST(coalesce(d.n_dominators, 0) AS BIGINT) AS n_dominators,
           d.vec_id IS NULL AS is_kept
    FROM pts t LEFT JOIN dom d ON d.vec_id = t.vec_id
    """,
    survey_ids=("X11", "X12"),
)
def d16_semdedup(spark, sf_dir):
    """Semantic deduplication (SemDeDup): k-means the embedding space
    (same deterministic clustering as s12_kmeans_refine — the oracle
    reuses the identical CTE chain), then drop any vector dominated by
    a lower-id vector with cosine ≥ 0.4 in the SAME cell. The
    embedding-side near-dup family member exact/fuzzy TEXT dedup can't
    express: paraphrases and re-encodings cluster together even when
    they share no n-grams. In-cell pairing is the SemDeDup design
    point — k grows with the corpus so cells stay small.
    operators/similarity.py::semdedup."""
    return similarity.semdedup(
        _ld(spark, sf_dir, "embeddings"), k=_KM_K, rounds=1, threshold=0.4
    )


@_register(
    "d16_semdedup_incremental",
    oracle=f"""
    WITH p AS (SELECT vec_id,
                 list_transform(embedding,
                      x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000)
                                AS BIGINT)) AS qv
          FROM embeddings),
    pc AS (SELECT * FROM p WHERE vec_id % 10 <> 7),
    pb AS (SELECT * FROM p WHERE vec_id % 10 = 7),
    c0 AS (SELECT vec_id AS cent_id,
                  list_transform(qv, v -> CAST(v AS DOUBLE)) AS c_vec
           FROM pc WHERE vec_id < {_KM_K}),
    d0 AS (SELECT pc.vec_id, pc.qv, c.cent_id,
                  {_sqd_sql('pc.qv', 'c.c_vec')} AS d
           FROM pc CROSS JOIN c0 c),
    r0 AS (SELECT vec_id, qv, cent_id AS cell,
                  ROW_NUMBER() OVER (PARTITION BY vec_id
                       ORDER BY d ASC, cent_id ASC) AS rk
           FROM d0),
    asg0 AS (SELECT vec_id, qv, cell FROM r0 WHERE rk = 1),
    pd AS (SELECT cell,
                  unnest(range(1, len(qv) + 1)) AS dim,
                  unnest(qv) AS v
           FROM asg0),
    sums AS (SELECT cell, dim, SUM(v) AS s, COUNT(*) AS n
             FROM pd GROUP BY cell, dim),
    c1 AS (SELECT cell AS cent_id,
                  list(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                       ORDER BY dim) AS c_vec
           FROM sums GROUP BY cell),
    d1c AS (SELECT pc.vec_id, c.cent_id,
                   {_sqd_sql('pc.qv', 'c.c_vec')} AS d
            FROM pc CROSS JOIN c1 c),
    asgc AS (SELECT vec_id, cell FROM (
                SELECT vec_id, cent_id AS cell,
                       ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY d ASC, cent_id ASC) AS rk
                FROM d1c) WHERE rk = 1),
    d1b AS (SELECT pb.vec_id, c.cent_id,
                   {_sqd_sql('pb.qv', 'c.c_vec')} AS d
            FROM pb CROSS JOIN c1 c),
    asgb AS (SELECT vec_id, cell FROM (
                SELECT vec_id, cent_id AS cell,
                       ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY d ASC, cent_id ASC) AS rk
                FROM d1b) WHERE rk = 1),
    bv AS (SELECT a.vec_id, a.cell, e.embedding
           FROM asgb a JOIN embeddings e ON e.vec_id = a.vec_id),
    cv AS (SELECT a.vec_id, a.cell, e.embedding
           FROM asgc a JOIN embeddings e ON e.vec_id = a.vec_id),
    dom AS (SELECT b.vec_id, COUNT(*) AS n_dominators
            FROM bv b JOIN cv c ON c.cell = b.cell
            WHERE {_cosine_sql('c.embedding', 'b.embedding')} >= 0.4
            GROUP BY b.vec_id)
    SELECT t.vec_id, t.cell,
           CAST(coalesce(d.n_dominators, 0) AS BIGINT) AS n_dominators,
           d.vec_id IS NULL AS is_kept
    FROM bv t LEFT JOIN dom d ON d.vec_id = t.vec_id
    """,
    survey_ids=("X11", "X12"),
)
def d16_semdedup_incremental(spark, sf_dir):
    """Incremental SemDeDup: the vec_id%10==7 slice arrives as a NEW
    batch and is screened against the corpus's FROZEN k-means fit —
    assign by broadcast-argmin against the existing centroids, compare
    only within the landed cell, never re-cluster (the d18 incremental
    convention moved to embedding space: a production ingest amortizes
    the index, it doesn't rebuild it per batch). Batch-internal dups
    are deliberately out of contract — this answers "new relative to
    the corpus". operators/similarity.py::semdedup_incremental."""
    emb = _ld(spark, sf_dir, "embeddings")
    is_batch = F.col("vec_id") % 10 == 7
    return similarity.semdedup_incremental(
        emb.filter(~is_batch),
        emb.filter(is_batch),
        k=_KM_K,
        rounds=1,
        threshold=0.4,
    )


@_register(
    "s12_ann_lsh_multiprobe",
    oracle=f"""
    WITH {_LSH_BE_Q},
    probes AS (SELECT query_id, q_emb,
                      unnest(list_concat([q_bucket],
                          list_transform(range(0, {similarity.N_HYPERPLANES}),
                              j -> xor(q_bucket, CAST(1 AS BIGINT) << j))))
                        AS bucket
               FROM q),
    cand AS (SELECT p.query_id, e.vec_id,
                    {_cosine_sql('p.q_emb', 'e.embedding')} AS cosine
             FROM be e JOIN probes p ON e.bucket = p.bucket
             WHERE e.vec_id <> p.query_id),
    {_TOP5_OVER_CAND}
    """,
    survey_ids=("X12",),
)
def s12_ann_lsh_multiprobe(spark, sf_dir):
    """Multi-probe LSH ANN: query bucket plus all one-bit-flip
    neighbors — the recall lever that costs (n_planes+1)x probe volume
    instead of exponentially more hash tables.
    operators/similarity.py::ann_lsh_multiprobe_topk."""
    return similarity.ann_lsh_multiprobe_topk(
        _ld(spark, sf_dir, "embeddings"), _QUERY_IDS, k=5
    )


# =====================================================================
# Fuzzy (edit-distance) entity matching — PassJoin blocking (X11)
# =====================================================================

#: Deterministic one-character-deletion typo: position
#: (key % (len-2)) + 2 — always interior, never the first character,
#: so the mutated string stays within edit distance 1 of its origin.
_TYPO_POS = "(p_partkey % (length(p_name) - 2)) + 2"
#: The typo-bearing query string: p_name without that character.
_TYPO_NAME_SQL = (
    f"substr(p_name, 1, {_TYPO_POS} - 1)"
    f" || substr(p_name, {_TYPO_POS} + 1)"
)
#: The distinct-name catalog ``cat`` (name_id, cname) the fuzzy
#: matcher searches — one text for the join and its evaluation.
_FUZZY_CAT_SQL = """cat AS (
      SELECT MIN(p_partkey) AS name_id, p_name AS cname
      FROM part GROUP BY p_name
    )"""


def _fuzzy_catalog(part):
    """Spark side of :data:`_FUZZY_CAT_SQL`: (name_id, cname)."""
    return (
        part.groupBy("p_name")
        .agg(F.min("p_partkey").alias("name_id"))
        .select("name_id", F.col("p_name").alias("cname"))
    )


@_register(
    "d19_fuzzy_join",
    oracle=f"""
    WITH {_FUZZY_CAT_SQL},
    q AS (
      SELECT p_partkey AS qid,
             {_TYPO_NAME_SQL} AS qname
      FROM part
    )
    SELECT q.qid, c.name_id AS cat_id,
           CAST(levenshtein(q.qname, c.cname) AS BIGINT) AS dist
    FROM q CROSS JOIN cat c
    WHERE levenshtein(q.qname, c.cname) <= 2
    """,
    survey_ids=("X11",),
)
def d19_fuzzy_join(spark, sf_dir):
    """Fuzzy string join (X11 string-space near-dup): typo-bearing
    query strings (each part name with one deterministically chosen
    interior character deleted) matched against the distinct-name
    catalog within Levenshtein distance 2, via PassJoin segment
    blocking — candidates meet on an equi-join over
    (segment, index, length), never a cross join, and are verified
    with the built-in levenshtein. Exact result: the oracle IS the
    naive quadratic form. operators/fuzzy.py."""
    from .operators.fuzzy import fuzzy_match_pairs

    part = _ld(spark, sf_dir, "part")
    catalog = _fuzzy_catalog(part)
    queries = part.select(
        F.col("p_partkey").alias("qid"),
        F.expr(_TYPO_NAME_SQL).alias("qname"),
    )
    return fuzzy_match_pairs(
        catalog, queries, "name_id", "cname", "qid", "qname", k=2
    )


# =====================================================================
# Composed training-data pipeline (X11+X13): the end-to-end run
# =====================================================================

#: word-5-gram shingles over ``toks`` (same spelling as d15's oracle).
_SHINGLES5 = (
    "list_transform(range(1, len(toks) - 3),"
    " i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]"
    " || ' ' || toks[i+3] || ' ' || toks[i+4])"
)

_PIPE_SQL = f"""
    WITH train AS (SELECT doc_id, source, text FROM documents
                   WHERE doc_id % 97 <> 0),
    t0 AS (SELECT doc_id, source, text, {_TOKS} AS toks FROM train),
    sigl AS (SELECT doc_id, source, text, toks, {_GATE_SIGNALS}
             FROM (SELECT doc_id, source, text, toks,
                          {_LANG_HITS}
                   FROM t0)),
    q AS (SELECT doc_id, source, text, toks, n_tokens FROM sigl
          WHERE pass_lang
            AND n_tokens BETWEEN {textstats.GATE_MIN_TOKENS}
                             AND {textstats.GATE_MAX_TOKENS}
            AND avg_token_len BETWEEN {textstats.GATE_MIN_AVG_TOKEN_LEN}
                                  AND {textstats.GATE_MAX_AVG_TOKEN_LEN}
            AND dup_2gram_frac <= {textstats.GATE_MAX_DUP_2GRAM_FRAC}),
    ex AS (SELECT doc_id, source, text, toks, n_tokens
           FROM (SELECT *, ROW_NUMBER() OVER (
                     PARTITION BY {_NORM} ORDER BY doc_id) AS rn
                 FROM q)
           WHERE rn = 1),
    sh AS (SELECT DISTINCT doc_id, unnest({_SHINGLES}) AS shingle
           FROM ex WHERE len(toks) >= 3),
    hh AS (SELECT doc_id, {_HSTR.format(e='shingle')} AS h FROM sh),
    sigs AS (SELECT doc_id, {_MINHASH_AGGS} FROM hh GROUP BY doc_id),
    bands AS ({_BAND_SELECTS}),
    {_LSH_INTER},
    dupb AS (SELECT DISTINCT i.b AS doc_id {_JACCARD_08}),
    nd AS (SELECT * FROM ex
           WHERE doc_id NOT IN (SELECT doc_id FROM dupb)),
    evt AS (SELECT doc_id, {_TOKS} AS toks FROM documents
            WHERE doc_id % 97 = 0),
    evg AS (SELECT DISTINCT unnest({_SHINGLES5}) AS shingle
            FROM evt WHERE len(toks) >= 5),
    ndg AS (SELECT DISTINCT doc_id, unnest({_SHINGLES5}) AS shingle
            FROM nd WHERE len(toks) >= 5),
    cont AS (SELECT DISTINCT ndg.doc_id FROM ndg JOIN evg USING (shingle)),
    clean AS (SELECT * FROM nd
              WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
    flags AS (SELECT tr.doc_id, tr.source,
                     q.doc_id IS NOT NULL AS in_q,
                     ex.doc_id IS NOT NULL AS in_ex,
                     nd.doc_id IS NOT NULL AS in_nd,
                     clean.doc_id IS NOT NULL AS in_clean,
                     coalesce(clean.n_tokens, 0) AS tok
              FROM train tr
              LEFT JOIN q ON q.doc_id = tr.doc_id
              LEFT JOIN ex ON ex.doc_id = tr.doc_id
              LEFT JOIN nd ON nd.doc_id = tr.doc_id
              LEFT JOIN clean ON clean.doc_id = tr.doc_id)
    SELECT source,
           COUNT(*) AS n_in,
           CAST(SUM(CASE WHEN in_q THEN 1 ELSE 0 END) AS BIGINT)
             AS n_quality,
           CAST(SUM(CASE WHEN in_ex THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact,
           CAST(SUM(CASE WHEN in_nd THEN 1 ELSE 0 END) AS BIGINT)
             AS n_neardup,
           CAST(SUM(CASE WHEN in_clean THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clean,
           CAST(SUM(tok) AS BIGINT) AS clean_tokens
    FROM flags GROUP BY source
    """


@_register("d20_training_pipeline", oracle=_PIPE_SQL, survey_ids=("X11", "X13"))
def d20_training_pipeline(spark, sf_dir):
    """The COMPOSED end-to-end training-data pipeline: train slice →
    composite quality gate (t13_quality_gate) → normalized exact dedup
    (d11) → MinHash-LSH near-dup drop (d12, greater-id loses) →
    5-gram eval decontamination (d15) — with per-source survivor
    counts at EVERY stage plus final token volume, so one driver row
    value-checks the whole chain, stage attrition included. Each stage
    is the registered operator, not a re-implementation; the oracle is
    the same five stages composed as CTEs. Scale shape inherits from
    the parts: the only non-equi work is LSH-banded, eval shingles
    broadcast, everything else is scans/window/anti-joins."""
    from .operators.textstats import quality_gate

    docs = _ld(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 97 != 0).select(
        "doc_id", "source", "text"
    )
    evals = docs.filter(F.col("doc_id") % 97 == 0)

    with CheckpointScope(spark) as ck:
        # The gate SIGNALS are checkpointed BEFORE the keep-filter: pushing
        # the filter into the lazy gate plan lets CollapseProject inline
        # the whole keep-conjunction into the filter condition, and every
        # conjunct lane re-derives the token array — measured 25s for this
        # stage at sf0.1 (re-tokenizing ~10x) vs ~2s materialized. Only
        # q reads the gate frame, so its pin is released on exit.
        gated = (
            ck.pin(quality_gate(train))
            .filter(F.col("keep"))
            .select("doc_id", "n_tokens")
        )
        # Stage materialization: each stage output is checkpointed before
        # it fans out (every stage feeds BOTH the next stage and the final
        # per-source attrition flags, and the near-dup stage feeds the LSH
        # chain besides) — without it Catalyst re-executes the whole
        # upstream chain once per consumer (measured 128 exchanges / 29
        # window nodes in the naive composed plan). This is the Spark
        # spelling of what a production pipeline does anyway: persist
        # inter-stage corpora. At 100 TB these are parquet writes between
        # jobs; in one session, checkpoint blocks.
        q = ck.keep(ck.pin(train.join(gated, "doc_id")))

        from .functions.text import norm_text

        w_first = dedup.first_wins_dedup(
            q.select("doc_id", norm_text(F.col("text")).alias("norm_key")),
            ["norm_key"],
            "doc_id",
        ).select("doc_id")
        ex = ck.keep(ck.pin(q.join(w_first, "doc_id")))

        pairs = dedup.near_dup_pairs_minhash(
            ex.select("doc_id", "text"), threshold=0.8
        )
        dup_b = pairs.select(F.col("b").alias("doc_id")).distinct()
        nd = ck.keep(ck.pin(ex.join(dup_b, "doc_id", "left_anti")))

    cont = (
        dedup.decontaminate(nd.select("doc_id", "text"), evals, shingle_n=5)
        .filter(F.col("is_contaminated"))
        .select("doc_id")
    )
    clean = nd.join(cont, "doc_id", "left_anti")

    flags = (
        train.select("doc_id", "source")
        .join(q.select("doc_id", F.lit(True).alias("in_q")), "doc_id", "left")
        .join(
            ex.select("doc_id", F.lit(True).alias("in_ex")), "doc_id", "left"
        )
        .join(
            nd.select("doc_id", F.lit(True).alias("in_nd")), "doc_id", "left"
        )
        .join(
            clean.select(
                "doc_id",
                F.lit(True).alias("in_clean"),
                F.col("n_tokens").alias("tok"),
            ),
            "doc_id",
            "left",
        )
    )
    cnt = lambda c: F.sum(
        F.when(F.col(c).isNotNull(), 1).otherwise(0)
    ).cast("bigint")
    return flags.groupBy("source").agg(
        F.count("*").alias("n_in"),
        cnt("in_q").alias("n_quality"),
        cnt("in_ex").alias("n_exact"),
        cnt("in_nd").alias("n_neardup"),
        cnt("in_clean").alias("n_clean"),
        F.sum(F.coalesce(F.col("tok"), F.lit(0))).cast("bigint").alias(
            "clean_tokens"
        ),
    )


#: Per-source chunk-store accounting over ``chunks`` (source, chash):
#: chunk slots, distinct content addresses, and the slots a dedup
#: store collapses — one text for the fixed-width and CDC twins.
_CHUNK_STATS_SQL = """SELECT source,
           COUNT(*) AS n_chunks,
           COUNT(DISTINCT chash) AS n_unique,
           CAST(COUNT(*) - COUNT(DISTINCT chash) AS BIGINT)
             AS n_dedupable
    FROM chunks GROUP BY source"""


def _chunk_stats(chunks):
    """Spark side of :data:`_CHUNK_STATS_SQL`."""
    return chunks.groupBy("source").agg(
        F.count("*").alias("n_chunks"),
        F.count_distinct(F.col("chash")).alias("n_unique"),
        (F.count("*") - F.count_distinct(F.col("chash")))
        .cast("bigint")
        .alias("n_dedupable"),
    )


@_register(
    "d21_chunk_dedup",
    oracle=f"""
    WITH pos AS (
        SELECT source, text,
               unnest(range(1, length(text) + 1, 64)) AS s
        FROM documents
    ),
    chunks AS (
        SELECT source, md5(substr(text, s, 64)) AS chash FROM pos
    )
    {_CHUNK_STATS_SQL}
    """,
    survey_ids=("X11",),
)
def d21_chunk_dedup(spark, sf_dir):
    """Content-chunk storage dedup accounting (X11's byte-level
    cousin): every document is cut into fixed 64-char chunks, each
    chunk is content-addressed by md5, and per source the query
    reports how many chunk slots a dedup store would collapse — the
    capacity-planning number behind chunked dedup storage (and the
    fixed-width baseline a content-defined-chunking variant would be
    measured against). md5 keeps the address cross-engine-identical.
    Plan shape: the chunk explode is a 1:N generate off the scan (no
    shuffle), and the per-source distinct-count is the standard
    two-phase expand — the only full shuffle moves (source, hash)
    pairs, 16 bytes each, not text.

    Empty documents are filtered out BEFORE the sequence: Spark's
    ``sequence(1, 0, 64)`` throws "Illegal sequence boundaries" while
    the oracle's ``range(1, 1, 64)`` is just empty — without the guard
    an empty doc crashes the Spark side asymmetrically. The filter
    matches the oracle semantics exactly (zero chunks contributed)."""
    docs = _ld(spark, sf_dir, "documents").filter(F.length("text") > 0)
    chunks = docs.select(
        "source",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(1), F.length("text"), F.lit(64)
                ),
                lambda s: F.md5(F.substring(F.col("text"), s, F.lit(64))),
            )
        ).alias("chash"),
    )
    return _chunk_stats(chunks)


def _cdc_hash_sql() -> str:
    """DuckDB spelling of chunking.cdc_boundary_expr's rolling hash at
    1-based position i — same B^k mod P coefficients, same window."""
    from .operators import chunking

    terms = " + ".join(
        f"ascii(substr(text, CAST(i - {k} AS INTEGER), 1)) * {pw}"
        for k, pw in enumerate(chunking.CDC_POWS)
    )
    return f"(({terms}) % {chunking.CDC_P})"


def _d21_cdc_oracle() -> str:
    from .operators import chunking

    return f"""
    WITH d AS (SELECT doc_id, source, text, length(text) AS n
               FROM documents WHERE length(text) > 0),
    p AS (SELECT doc_id, text,
                 unnest(range({chunking.CDC_W}, n + 1)) AS i
          FROM d),
    b AS (SELECT doc_id, i FROM p
          WHERE {_cdc_hash_sql()} % {chunking.CDC_MASK}
                = {chunking.CDC_MASK - 1}),
    bl AS (SELECT doc_id, list_sort(list(i)) AS bounds
           FROM b GROUP BY doc_id),
    w AS (SELECT d.doc_id, d.source, d.text, d.n,
                 coalesce(bl.bounds, CAST([] AS BIGINT[])) AS bounds
          FROM d LEFT JOIN bl USING (doc_id)),
    c AS (SELECT source, text,
                 unnest(list_prepend(CAST(0 AS BIGINT), bounds)) AS s,
                 unnest(list_append(bounds, CAST(n AS BIGINT))) AS e
          FROM w),
    chunks AS (SELECT source,
                      md5(substr(text, CAST(s + 1 AS INTEGER),
                                 CAST(e - s AS INTEGER))) AS chash
               FROM c WHERE e > s)
    {_CHUNK_STATS_SQL}
    """


@_register(
    "d21_chunk_dedup_cdc",
    oracle=_d21_cdc_oracle(),
    survey_ids=("X11",),
)
def d21_chunk_dedup_cdc(spark, sf_dir):
    """Content-defined chunking twin of d21_chunk_dedup (VERDICT r11
    item 6): chunk boundaries fall where a polynomial rolling hash over
    the last 8 characters hits a sentinel residue mod 64 (expected
    chunk = 64 chars, the fixed-width baseline's width), so an
    insertion early in a document re-chunks only until the hash window
    clears the edit and the tail keeps its content addresses — the
    property that makes CDC the storage-dedup standard where
    fixed-width chunking loses every chunk after the first edit.
    Boundary detection, cutting and md5 addressing are pure column
    expressions (zero Python, zero shuffles before the final
    per-source distinct-count); the oracle re-derives the identical
    integer hash from the shared CDC_POWS coefficients.
    operators/chunking.py::cdc_chunk_hashes. Production CDC adds
    min/max chunk bounds (FastCDC); this keeps the textbook rule so
    both engines stay expression-exact."""
    from .operators import chunking

    docs = _ld(spark, sf_dir, "documents")
    chunks = chunking.cdc_chunk_hashes(docs)
    return _chunk_stats(chunks)


@_register(
    "s15_skew_report",
    oracle="""
    WITH keyed AS (
        SELECT CASE WHEN user_id % 20 < 3 THEN user_id % 3
                    ELSE user_id END AS join_key
        FROM events
    ),
    per_key AS (
        SELECT join_key, COUNT(*) AS n FROM keyed GROUP BY join_key
    ),
    tot AS (SELECT COUNT(*) AS total, COUNT(DISTINCT join_key) AS n_keys
            FROM keyed)
    SELECT per_key.join_key, per_key.n,
           CAST(ROUND(per_key.n * 1000000.0 / tot.total, 0) AS BIGINT)
             AS share_ppm,
           CAST(ROUND(per_key.n * 100.0 * tot.n_keys / tot.total, 0)
                AS BIGINT) AS skew_x100
    FROM per_key, tot
    WHERE per_key.n * 1.0 * tot.n_keys / tot.total >= 1.5
    """,
    survey_ids=("X5", "X6"),
)
def s15_skew_report(spark, sf_dir):
    """Join-key skew report (the diagnostic BEFORE s15_salted_join's
    cure): per join key, its row count, traffic share in ppm, and its
    skew factor — count relative to the mean key (x100 as an exact
    integer) — emitting only keys at >= 1.5x the mean, i.e. exactly
    the keys a salting or AQE-skew-split decision is made about.

    Hot keys are PLANTED deterministically (the s18 planted-corruption
    discipline): 15% of users (user_id % 20 < 3) collapse onto three
    join keys, so at every SF the report emits exactly those three
    keys at skew ≈ 4-5x while the unmerged majority sits near 0.85x —
    the violation path is exercised, not vacuously empty. At 100 TB
    this query IS the planning step that sizes the salt factor: the
    per-key aggregate is map-side partial, the two global scalars
    (total rows, key count) broadcast back as a single-row frame, and
    nothing ever materializes the unskewed key majority.

    skew_x100 is ROUNDED TO AN INTEGRAL DOUBLE before the bigint cast
    (round-half-away in both engines for positive doubles): casting a
    non-integral double would diverge — Spark's cast truncates while
    DuckDB's rounds, so round(2.2969,2)*100 = 229.999... yields 229 vs
    230. Rounding at scale 0 first makes the cast exact in both."""
    ev = _ld(spark, sf_dir, "events").select(
        F.when(F.col("user_id") % 20 < 3, F.col("user_id") % 3)
        .otherwise(F.col("user_id"))
        .alias("join_key")
    )
    per_key = ev.groupBy("join_key").agg(F.count("*").alias("n"))
    tot = ev.agg(
        F.count("*").alias("total"),
        F.count_distinct(F.col("join_key")).alias("n_keys"),
    )
    joined = per_key.crossJoin(F.broadcast(tot))
    skew = F.col("n") * F.lit(1.0) * F.col("n_keys") / F.col("total")
    return joined.filter(skew >= 1.5).select(
        "join_key",
        "n",
        F.round(F.col("n") * 1000000.0 / F.col("total"), 0)
        .cast("bigint")
        .alias("share_ppm"),
        F.round(F.col("n") * 100.0 * F.col("n_keys") / F.col("total"), 0)
        .cast("bigint")
        .alias("skew_x100"),
    )


@_register(
    "d22_token_budget_mix",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, source,
               CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
               {duckdb_det_hash_i64('doc_id', seed=22)} AS h
        FROM documents
    ),
    w AS (
        SELECT doc_id, source, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY source) AS src_tokens,
               SUM(n_tokens) OVER (PARTITION BY source
                                   ORDER BY h, doc_id) AS cum_tokens
        FROM t
    )
    SELECT source,
           CAST(src_tokens * 3 // 10 AS BIGINT) AS token_budget,
           COUNT(*) AS n_docs_kept,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_kept
    FROM w
    WHERE cum_tokens <= src_tokens * 3 // 10
    GROUP BY source, src_tokens
    """,
    survey_ids=("X11", "X13"),
)
def d22_token_budget_mix(spark, sf_dir):
    """Token-budget mixture construction (the pretraining-mix step
    AFTER cleaning): each source contributes documents up to a token
    budget — here 30% of its own token mass, integer-floored so the
    threshold is exact in both engines — selected as a deterministic
    hash-ordered prefix (Knuth multiplicative hash, seed 22, unique by
    construction), i.e. an unbiased fixed-budget sample whose
    membership is reproducible run-to-run and engine-to-engine. This
    is how production mixes hit per-domain token targets ("1.5 epochs
    of web, 0.3 of code") without a driver-side shuffle-and-truncate.
    Plan shape: tokenize once, then BOTH windows (per-source total,
    running prefix sum) share one source-keyed exchange; the keep
    filter is a partition-local comparison, so the only full-data
    shuffle is the window partitioning. Per-source token totals ride
    the same pass — no second scan."""
    from .functions.hashing import det_hash_i64
    from .functions.text import tokens

    docs = _ld(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
        det_hash_i64(F.col("doc_id"), seed=22).alias("h"),
    )
    from pyspark.sql.window import Window

    w_src = Window.partitionBy("source")
    w_cum = (
        Window.partitionBy("source")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    staged = docs.select(
        "source",
        "n_tokens",
        F.sum("n_tokens").over(w_src).alias("src_tokens"),
        F.sum("n_tokens").over(w_cum).alias("cum_tokens"),
    )
    budget = F.expr("src_tokens * 3 DIV 10")  # exact integer floor
    return (
        staged.filter(F.col("cum_tokens") <= budget)
        .groupBy("source", "src_tokens")
        .agg(
            F.count("*").alias("n_docs_kept"),
            F.sum("n_tokens").cast("bigint").alias("tokens_kept"),
        )
        .select(
            "source",
            budget.alias("token_budget"),
            "n_docs_kept",
            "tokens_kept",
        )
    )


@_register(
    "d24_source_overlap",
    oracle=f"""
    WITH t AS (SELECT source, {_TOKS} AS toks FROM documents),
    ss AS (SELECT DISTINCT source, unnest({_SHINGLES}) AS shingle
           FROM t WHERE len(toks) >= 3),
    pairs AS (SELECT a.source AS source_a, b.source AS source_b,
                     COUNT(*) AS n_shared
              FROM ss a JOIN ss b
                ON a.shingle = b.shingle AND a.source < b.source
              GROUP BY 1, 2),
    sizes AS (SELECT source, COUNT(*) AS n FROM ss GROUP BY source)
    SELECT p.source_a, p.source_b, p.n_shared,
           za.n AS n_a, zb.n AS n_b,
           CAST(p.n_shared AS DOUBLE)
             / CAST(za.n + zb.n - p.n_shared AS DOUBLE) AS jaccard
    FROM pairs p
    JOIN sizes za ON za.source = p.source_a
    JOIN sizes zb ON zb.source = p.source_b
    """,
    survey_ids=("X11", "X13"),
)
def d24_source_overlap(spark, sf_dir):
    """Cross-source overlap matrix (the curation question BEFORE
    dedup: how much does source A duplicate source B?): per source
    pair, the count of shared distinct word-3-gram shingles and the
    exact Jaccard between the two shingle sets. The Spark plan never
    self-joins the shingle index: shingles group once, each group
    collects its DISTINCT source set (bounded by |sources| — a handful
    — not by document count), and pairs explode WITHIN the row via a
    nested transform+flatten, so per-shingle fan-out is |sources|²/2
    at worst regardless of how many documents share the shingle —
    the hot-shingle skew that would straggle a posting-list self-join
    (the oracle's formulation) is structurally impossible. Jaccard is
    one double division of exact integers, bit-identical in both
    engines."""
    from .functions.text import tokens, word_ngrams

    docs = _ld(spark, sf_dir, "documents")
    toked = docs.select("source", tokens(F.col("text")).alias("toks"))
    ss = (
        toked.filter(F.size("toks") >= 3)
        .select(
            "source",
            F.explode(word_ngrams(F.col("toks"), 3)).alias("shingle"),
        )
        .distinct()
    )
    # one row per shingle, sources sorted so a<b pairs generate in-row
    per_shingle = ss.groupBy("shingle").agg(
        F.sort_array(F.collect_set("source")).alias("srcs")
    )
    pair_rows = per_shingle.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("srcs"),
                    lambda a, i: F.transform(
                        F.slice(
                            F.col("srcs"),
                            i + 2,
                            F.greatest(F.size("srcs") - i - 1, F.lit(0)),
                        ),
                        lambda b: F.struct(
                            a.alias("source_a"), b.alias("source_b")
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.source_a", "p.source_b")
    pairs = pair_rows.groupBy("source_a", "source_b").agg(
        F.count("*").alias("n_shared")
    )
    sizes = ss.groupBy("source").agg(F.count("*").alias("n"))
    return (
        pairs.join(
            F.broadcast(sizes.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))),
            "source_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"))),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "n_a",
            "n_b",
            (
                F.col("n_shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
    )


@_register(
    "t13_difficulty_buckets",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens
        FROM documents
    ),
    cut AS (
        SELECT quantile_cont(n_tokens,
                 [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS cs
        FROM t
    )
    SELECT CAST(1 + len(list_filter(cut.cs,
                 c -> CAST(t.n_tokens AS DOUBLE) > c)) AS BIGINT)
             AS bucket,
           COUNT(*) AS n_docs,
           MIN(t.n_tokens) AS min_tokens,
           MAX(t.n_tokens) AS max_tokens
    FROM t, cut
    GROUP BY bucket
    """,
    survey_ids=("X13", "X6"),
)
def t13_difficulty_buckets(spark, sf_dir):
    """Curriculum difficulty bucketing (X13+X6): documents decile-
    bucketed by token count via EXACT interpolated percentile cutoffs
    — the scale-safe replacement for ``NTILE(10) OVER (ORDER BY ...)``,
    which like any unpartitioned window collapses to a single task
    (the trap operators/scale.py::global_row_number dismantles for
    row numbering).
    Here the global ordering reduces to ONE aggregate producing a
    9-element cutoff array that broadcasts back; bucket assignment is
    a per-row array comparison, embarrassingly parallel. Both engines
    interpolate percentiles identically (linear on sorted values, the
    x06 convention), so the cutoffs — and therefore every bucket
    boundary — are bit-identical. At 100 TB the exact percentile's
    full-materialization accumulator swaps for approx_percentile via
    ``operators/scale.py::grouped_percentiles_with_guard``; the bucket
    CONTRACT (compare against a broadcast cutoff array) is unchanged.
    NTILE-vs-cutoff fine print: NTILE forces exactly-equal bucket
    sizes by splitting ties arbitrarily; percentile bucketing keeps
    tied scores in one bucket — reproducible, and the right semantics
    for curriculum schedules."""
    from .functions.text import tokens

    t = _ld(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    cuts = t.agg(
        F.percentile(
            F.col("n_tokens"),
            F.array([F.lit(x / 10.0) for x in range(1, 10)]),
        ).alias("cs")
    )
    bucket = (
        F.lit(1)
        + F.size(
            F.filter(
                F.col("cs"),
                lambda c: F.col("n_tokens").cast("double") > c,
            )
        )
    ).cast("bigint")
    return (
        t.crossJoin(F.broadcast(cuts))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
    )


def _pagerank_sql(iterations: int = 5) -> str:
    """Unrolled fixed-iteration integer PageRank as chained CTEs.

    Recursive CTEs cannot aggregate in the recursive term (standard
    SQL and DuckDB both forbid it), so the k iterations unroll into k
    generated CTE stages — same pattern as the generated MinHash
    aggregates. Constants mirror operators/components.py::
    integer_pagerank (mass 10^12, damping 17/20)."""
    m = 10**12
    base = m * 3 // 20
    parts = [
        f"""
    edges AS (
        SELECT DISTINCT l_partkey AS src,
               1000000000 + l_suppkey AS dst
        FROM lineitem
        UNION
        SELECT DISTINCT 1000000000 + l_suppkey, l_partkey FROM lineitem
    ),
    deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
    ed AS (SELECT e.src, e.dst, d.outdeg FROM edges e
           JOIN deg d ON d.src = e.src),
    nodes AS (SELECT DISTINCT src AS v FROM edges),
    pr0 AS (SELECT v, CAST({m} AS BIGINT) AS mass FROM nodes)"""
    ]
    for k in range(1, iterations + 1):
        parts.append(f"""
    pr{k} AS (
        SELECT n.v,
               CAST({base} + COALESCE(s.inc, 0) AS BIGINT) AS mass
        FROM nodes n
        LEFT JOIN (
            SELECT ed.dst AS v,
                   SUM(p.mass * 17 // (20 * ed.outdeg)) AS inc
            FROM ed JOIN pr{k - 1} p ON p.v = ed.src
            GROUP BY ed.dst
        ) s ON s.v = n.v
    )""")
    return (
        "WITH" + ",".join(parts) + f"""
    SELECT v, mass FROM pr{iterations}
    """
    )


@_register(
    "x05_pagerank",
    oracle=_pagerank_sql(5),
    survey_ids=("X5", "X11"),
)
def x05_pagerank(spark, sf_dir):
    """Fixed-iteration integer-exact PageRank (X5's iterative-join
    family beyond connected components): 5 rounds of random-surfer
    mass diffusion over the symmetrized part↔supplier bipartite graph
    (distinct lineitem pairs; supplier ids offset into their own
    range). All arithmetic is bigint multiply-then-DIV (damping 17/20,
    mass 10^12), so the k-step fixpoint is bit-identical in any
    engine — integer sums are order-independent where float PageRank
    diverges in the last bits per partitioning. Per round: one
    equi-join of the mass frame against the static degree-annotated
    edge list + one dst-keyed sum, hash-partitioned with AQE hub
    splitting; per-round localCheckpoint with tracked release
    (components.py storage discipline). The oracle unrolls the same
    five iterations as generated CTEs.
    operators/components.py::integer_pagerank."""
    from .operators.components import integer_pagerank

    li = _ld(spark, sf_dir, "lineitem")
    # symmetrize in ONE lineitem scan: explode both orientations per
    # row, then a single distinct — union(fwd, fwd.swap) would execute
    # the fwd plan (scan + distinct) twice
    p = F.col("l_partkey").cast("bigint")
    s = (F.lit(1000000000) + F.col("l_suppkey")).cast("bigint")
    edges = (
        li.select(
            F.explode(
                F.array(
                    F.struct(p.alias("src"), s.alias("dst")),
                    F.struct(s.alias("src"), p.alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
    )
    return integer_pagerank(edges, iterations=5)


@_register(
    "x05_triangle_counts",
    oracle="""
    WITH e AS (
        SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        FROM lineitem l1 JOIN lineitem l2
          ON l1.l_orderkey = l2.l_orderkey
         AND l1.l_partkey < l2.l_partkey
    ),
    tri AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM e e1
        JOIN e e2 ON e2.a = e1.b
        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    corners AS (
        SELECT x AS v FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
    )
    SELECT v, COUNT(*) AS n_triangles
    FROM corners GROUP BY v
    """,
    survey_ids=("X5", "X11"),
)
def x05_triangle_counts(spark, sf_dir):
    """Exact per-node triangle counts (X5 graph analytics): the
    co-order graph — parts appearing in the same order, canonical
    a < b pairs, per-order cliques bounded by lines-per-order — via
    degree-ordered orientation (Schank-Wagner node-iterator++), which
    bounds wedge fan-out by out-degree² = O(m) total instead of the
    hub-quadratic naive wedge join; each triangle is enumerated
    exactly once at its lowest-(degree, id) corner and closed with one
    canonical equi-join. The oracle is the naive three-way self-join
    with a < b < c ordering — same triangle set, so parity proves the
    oriented enumeration exact. Pairs: components.co_order_pairs.
    operators/components.py::triangle_counts."""
    from .operators.components import co_order_pairs, triangle_counts

    pairs = co_order_pairs(_ld(spark, sf_dir, "lineitem"))
    return triangle_counts(pairs)


@_register(
    "x05_bfs_distances",
    oracle="""
    WITH RECURSIVE
    chain AS (
        SELECT LEAST(l1.l_partkey, l2.l_partkey) AS a,
               GREATEST(l1.l_partkey, l2.l_partkey) AS b
        FROM lineitem l1 JOIN lineitem l2
          ON l2.l_orderkey = l1.l_orderkey
         AND l2.l_linenumber = l1.l_linenumber + 1
        WHERE l1.l_partkey <> l2.l_partkey
        GROUP BY 1, 2
    ),
    sym AS (SELECT a AS src, b AS dst FROM chain
            UNION ALL SELECT b, a FROM chain),
    walk AS (
        SELECT CAST(s.v AS BIGINT) AS v, CAST(0 AS BIGINT) AS hops
        FROM (VALUES (1), (2), (3)) s(v)
        UNION
        SELECT sym.dst AS v, walk.hops + 1 AS hops
        FROM walk JOIN sym ON sym.src = walk.v
        WHERE walk.hops < 6
    )
    SELECT v, MIN(hops) AS hops FROM walk GROUP BY v
    """,
    survey_ids=("X5", "X11"),
)
def x05_bfs_distances(spark, sf_dir):
    """Multi-source BFS hop distances (X5's third iterative-join
    member next to PageRank and connected components): hop count from
    parts {1, 2, 3} over the adjacent-line co-order chain graph
    (consecutive l_linenumber within an order link their parts — a
    sparse graph with real multi-hop structure, unlike the near-clique
    all-pairs co-order graph), capped at 6 hops. Level-synchronous
    frontier expansion: per round, one equi-join of the FRONTIER (not
    the visited set) with the static checkpointed edge list plus one
    anti-join for the newly-discovered layer, with an empty-frontier
    early exit — first discovery is the minimum distance, so no
    min-fixpoint is needed. The oracle is DuckDB's native
    ``WITH RECURSIVE ... UNION`` (set semantics bound the recursive
    state by |V| x hops) over the same chain relation, collapsed with
    MIN(hops) — proving the iterative frontier plan computes exactly
    the recursive fixpoint. Reference has no graph capability; this is
    engine uplift (SURVEY §4).
    operators/components.py::bfs_distances."""
    from .operators.components import bfs_distances

    li = _ld(spark, sf_dir, "lineitem")
    # Adjacent-line chain via the (orderkey, linenumber+1) SELF-JOIN.
    # r12 replaced this with a one-scan collect_list + in-row successor
    # expansion (oracle-exact under duplicated line numbers, like the
    # join); the r13 reconciliation A/B (VERDICT r12 item 1,
    # plans/r13/ab_bfs_chain.json: interleaved min-of-8 at sf0.1 after
    # a proven chain symmetric-difference of 0) measured the two forms
    # tied on min (3.52 vs 3.57 s) with the self-join 10% better on
    # median (3.81 vs 4.22 s) — matching the driver's r12 observation
    # (one-scan −29%). Neither form wins reproducibly on min, so the
    # self-join stays: it shuffles narrow (k, i, partkey) rows with no
    # per-order fan-out buffer, where the one-scan form's
    # collect_list holds lines-per-order² struct expansions per row.
    l1 = li.select(
        F.col("l_orderkey").alias("k"),
        F.col("l_linenumber").alias("i"),
        F.col("l_partkey").alias("a"),
    )
    l2 = li.select(
        F.col("l_orderkey").alias("k"),
        (F.col("l_linenumber") - 1).alias("i"),
        F.col("l_partkey").alias("b"),
    )
    chain = (
        l1.join(l2, ["k", "i"])
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
    )
    seeds = spark.createDataFrame([(1,), (2,), (3,)], "v bigint")
    return bfs_distances(chain, seeds, max_hops=6)


#: Query-side entity ids sit in their own range so the ER graph's two
#: populations never collide (catalog ids are part keys).
_ER_OFFSET = 1000000000


@_register(
    "d25_entity_resolution",
    oracle=f"""
    WITH RECURSIVE cat AS (
      SELECT MIN(p_partkey) AS name_id, p_name AS cname
      FROM part GROUP BY p_name
    ),
    q AS (
      SELECT p_partkey + {_ER_OFFSET} AS qid,
             {_TYPO_NAME_SQL} AS qname
      FROM part
    ),
    matches AS (
      SELECT q.qid AS a, c.name_id AS b
      FROM q CROSS JOIN cat c
      WHERE levenshtein(q.qname, c.cname) <= 2
    ),
    verts AS (SELECT name_id AS v FROM cat
              UNION SELECT qid FROM q),
    sym AS (SELECT a AS src, b AS dst FROM matches
            UNION ALL SELECT b, a FROM matches),
    reach AS (SELECT v, v AS lbl FROM verts
              UNION
              SELECT s.dst AS v, r.lbl
              FROM reach r JOIN sym s ON s.src = r.v),
    lab AS (SELECT v, MIN(lbl) AS entity_id FROM reach GROUP BY v)
    SELECT entity_id,
           COUNT(*) AS n_members,
           CAST(SUM(CASE WHEN v < {_ER_OFFSET} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_canonical_names,
           CAST(SUM(CASE WHEN v >= {_ER_OFFSET} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_variants,
           MIN(v) AS survivor_id
    FROM lab GROUP BY entity_id
    """,
    survey_ids=("X11", "X5"),
)
def d25_entity_resolution(spark, sf_dir):
    """End-to-end entity resolution (the MDM pipeline, composed from
    registered operators): (1) BLOCKING + MATCHING — typo-bearing name
    variants matched against the canonical-name catalog within
    Levenshtein distance 2 via PassJoin segment blocking (d19's
    operator: equi-join candidates, exact-recall pigeonhole, verify);
    (2) CLUSTERING — connected components over the match graph (d12's
    operator), because matches are pairwise evidence and an entity is
    the transitive closure (variant X matching names A and B merges A
    and B); (3) SURVIVORSHIP — deterministic min-id representative
    with per-entity member/variant accounting. Every stage is the
    production shape: candidate generation never cross-joins,
    clustering is O(log d) pointer-jumping rounds, survivorship is one
    aggregate. The oracle replays matching as the naive quadratic form
    and the closure as a recursive CTE — both stages independently
    proven, here proven composed."""
    from .operators.components import connected_components
    from .operators.fuzzy import fuzzy_match_pairs

    part = _ld(spark, sf_dir, "part")
    # ONE checkpoint of the narrow blocking base feeds every branch
    # (segment generation, probe generation, name re-attach for the
    # verify, both vertex arms), so the parquet scan runs once; the
    # catalog groupBy is pinned on top of it because its THREE
    # consumers would otherwise each replay the exchange (r9 trim, same
    # discipline as the r8 CC rewrite). The CC loop materializes its
    # labels eagerly, so nothing downstream reads either pin: the scope
    # releases both on exit.
    with CheckpointScope(spark) as ck:
        base = ck.pin(part.select("p_partkey", "p_name"))
        catalog = ck.pin(
            base.groupBy("p_name")
            .agg(F.min("p_partkey").alias("name_id"))
            .select("name_id", F.col("p_name").alias("cname"))
        )
        queries = base.select(
            (F.col("p_partkey") + _ER_OFFSET).alias("qid"),
            F.expr(_TYPO_NAME_SQL).alias("qname"),
        )
        matches = fuzzy_match_pairs(
            catalog, queries, "name_id", "cname", "qid", "qname", k=2
        ).select(F.col("qid").alias("a"), F.col("cat_id").alias("b"))

        # No distinct over the union: name_ids are unique by construction
        # (MIN per name group), qids are unique (one per part row), and
        # the _ER_OFFSET range split keeps the two populations disjoint —
        # a distinct here would be a pure-overhead exchange.
        verts = catalog.select(F.col("name_id").alias("v")).unionByName(
            queries.select(F.col("qid").alias("v"))
        )
        labels = connected_components(
            verts, matches, id_col="v", src_col="a", dst_col="b",
            # chained matches give this graph real diameter (8 one-hop
            # rounds measured at sf0.1): one 8-hop propagate round, then a
            # single-relax fixpoint confirm — the 2-round floor with the
            # confirm round at 1/8th the join cost
            relax_per_round=(8, 1),
        )
    return labels.groupBy(F.col("cluster_id").alias("entity_id")).agg(
        F.count("*").alias("n_members"),
        F.sum(F.when(F.col("v") < _ER_OFFSET, 1).otherwise(0))
        .cast("bigint")
        .alias("n_canonical_names"),
        F.sum(F.when(F.col("v") >= _ER_OFFSET, 1).otherwise(0))
        .cast("bigint")
        .alias("n_variants"),
        F.min("v").alias("survivor_id"),
    )


#: Containment planting: every 101st document contributes a derived
#: "quote" doc — its first 30 normalized tokens — whose shingle set is
#: a subset of the original's, so containment(quote → original) = 1.
_CONT_OFFSET = 2000000


@_register(
    "d26_containment_pairs",
    oracle=f"""
    WITH aug AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + {_CONT_OFFSET},
               array_to_string(list_slice({_TOKS}, 1, 30), ' ')
        FROM documents WHERE doc_id % 101 = 0
    ),
    t AS (SELECT doc_id, {_TOKS} AS toks FROM aug),
    sh0 AS (SELECT DISTINCT doc_id, unnest({_SHINGLES}) AS shingle
            FROM t WHERE len(toks) >= 3),
    keep AS (SELECT shingle FROM sh0 GROUP BY shingle
             HAVING COUNT(*) <= {dedup.DEFAULT_MAX_DF}),
    sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0
           JOIN keep USING (shingle)),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (SELECT sa.doc_id AS a, sb.doc_id AS b, COUNT(*) AS n_inter
              FROM sh sa JOIN sh sb
                ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
              GROUP BY 1, 2),
    sized AS (SELECT i.a, i.b, i.n_inter,
                     za.n_sh AS na, zb.n_sh AS nb
              FROM inter i
              JOIN sizes za ON za.doc_id = i.a
              JOIN sizes zb ON zb.doc_id = i.b),
    directed AS (
        SELECT a, b, n_inter, na AS n_contained,
               CAST(n_inter AS DOUBLE) / CAST(na AS DOUBLE) AS containment
        FROM sized
        UNION ALL
        SELECT b, a, n_inter, nb,
               CAST(n_inter AS DOUBLE) / CAST(nb AS DOUBLE)
        FROM sized
    )
    SELECT * FROM directed WHERE containment >= 0.8
    """,
    survey_ids=("X11",),
)
def d26_containment_pairs(spark, sf_dir):
    """Directed near-superset detection by exact shingle containment
    (X11's asymmetric axis): C(a→b) = |a∩b|/|a| flags short documents
    embedded in longer ones — quote expansion, boilerplate wrapping —
    which Jaccard structurally misses because the size mismatch drags
    |a∩b|/|a∪b| under any useful threshold. The corpus is augmented
    with deterministic planted quotes (every 101st document's first 30
    tokens, planted identically in the oracle) so the driver row
    proves a non-empty containment path; the join shape is d14's
    df-capped inverted index with the normalizer swapped, both
    directions tested from one unordered-pair enumeration.
    operators/dedup.py::containment_pairs."""
    from .functions.text import tokens

    docs = _ld(spark, sf_dir, "documents").select("doc_id", "text")
    quotes = docs.filter(F.col("doc_id") % 101 == 0).select(
        (F.col("doc_id") + _CONT_OFFSET).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(tokens(F.col("text")), 1, 30)
        ).alias("text"),
    )
    aug = docs.unionByName(quotes)
    return dedup.containment_pairs(aug, threshold=0.8)


@_register(
    "s12_negative_pairs",
    oracle=f"""
    WITH cnt AS (SELECT COUNT(*) AS n FROM embeddings),
    base AS (SELECT vec_id, t.m FROM embeddings
             CROSS JOIN unnest([1, 2, 3, 4]) AS t(m)),
    raw AS (SELECT vec_id, m, n,
                   ({duckdb_det_hash_i64('vec_id * 7 + m', seed=12)}) % n
                     AS j0
            FROM base CROSS JOIN cnt),
    neg AS (SELECT vec_id, m,
                   CASE WHEN j0 = vec_id THEN (j0 + 1) % n
                        ELSE j0 END AS neg_id
            FROM raw),
    sc AS (SELECT g.vec_id, g.m, g.neg_id,
                  {_cosine_sql('a.embedding', 'b.embedding')} AS cosine
           FROM neg g
           JOIN embeddings a ON a.vec_id = g.vec_id
           JOIN embeddings b ON b.vec_id = g.neg_id)
    SELECT vec_id, m, neg_id, cosine FROM sc
    """,
    survey_ids=("X12",),
)
def s12_negative_pairs(spark, sf_dir):
    """Deterministic in-batch negative sampling (the contrastive-
    training dataset op): each vector draws 4 pseudo-random negatives
    by hashing its own id (Knuth convention, collision-free mixing of
    (vec_id, draw index) since draws < 7) into the DENSE id space mod
    n, bumping self-draws by one — so the negative set is uniform-ish,
    reproducible run-to-run and engine-to-engine, and built with TWO
    equi-joins (anchor side, negative side) on the id key instead of
    any random shuffle, cross join, or orderBy(rand()). Per pair the
    exact cosine is attached (same float-op order both engines — the
    established X12 convention) so downstream hard-negative mining can
    threshold on it. At 100 TB: k·n generated rows, both joins
    hash-partitioned on ids, nothing quadratic; the count scalar is
    the only broadcast."""
    from .functions.hashing import det_hash_i64
    from .functions.vector import cosine_sim

    emb = _ld(spark, sf_dir, "embeddings")
    cnt = emb.agg(F.count("*").alias("n"))
    base = emb.select("vec_id").crossJoin(F.broadcast(cnt)).select(
        "vec_id",
        F.explode(F.sequence(F.lit(1), F.lit(4))).alias("m"),
        "n",
    )
    raw = base.select(
        "vec_id",
        "m",
        "n",
        F.pmod(
            det_hash_i64(F.col("vec_id") * 7 + F.col("m"), seed=12),
            F.col("n"),
        ).alias("j0"),
    )
    neg = raw.select(
        "vec_id",
        "m",
        F.when(
            F.col("j0") == F.col("vec_id"),
            F.pmod(F.col("j0") + 1, F.col("n")),
        )
        .otherwise(F.col("j0"))
        .alias("neg_id"),
    )
    a = emb.select("vec_id", F.col("embedding").alias("a_emb"))
    b = emb.select(
        F.col("vec_id").alias("neg_id"), F.col("embedding").alias("b_emb")
    )
    return (
        neg.join(a, "vec_id")
        .join(b, "neg_id")
        .select(
            "vec_id",
            "m",
            "neg_id",
            cosine_sim(F.col("a_emb"), F.col("b_emb")).alias("cosine"),
        )
    )


@_register(
    "t13_rare_bigram_score",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    bg AS (SELECT doc_id,
                  unnest(list_transform(range(1, len(toks)),
                         i -> toks[i] || ' ' || toks[i+1])) AS bigram
           FROM t WHERE len(toks) >= 2),
    freq AS (SELECT bigram, COUNT(*) AS corpus_n FROM bg GROUP BY bigram),
    scored AS (SELECT bg.doc_id,
                      COUNT(*) AS n_bigrams,
                      CAST(SUM(CASE WHEN f.corpus_n <= 2 THEN 1 ELSE 0 END)
                           AS BIGINT) AS n_rare,
                      CAST(SUM(f.corpus_n) AS BIGINT) AS familiarity
               FROM bg JOIN freq f USING (bigram)
               GROUP BY bg.doc_id)
    SELECT doc_id, n_bigrams, n_rare, familiarity,
           CAST(n_rare AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS rare_frac
    FROM scored
    """,
    survey_ids=("X13",),
)
def t13_rare_bigram_score(spark, sf_dir):
    """Corpus-statistics surprise scoring (X13's two-pass quality
    signal): every document's bigrams are scored against the CORPUS
    bigram frequency table — rare-bigram fraction (how much of the
    document is combinations the corpus has barely seen) and total
    familiarity mass. This is the integer-exact stand-in for n-gram
    LM perplexity: log-probabilities are engine-divergent (libm) and
    order-sensitive, while rare-counts and frequency sums are exact,
    yet rank documents by the same surprise signal quality filters
    use. The shape is the one t13's single-pass stats can't do:
    GLOBAL statistics joined back to the rows that produced them —
    two shuffles (frequency groupBy, doc re-aggregation) with the
    bigram stream never materialized wider than (doc_id, bigram)."""
    from .functions.text import tokens, word_ngrams

    docs = _ld(spark, sf_dir, "documents")
    bg = (
        docs.select("doc_id", tokens(F.col("text")).alias("toks"))
        .filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(word_ngrams(F.col("toks"), 2)).alias("bigram"),
        )
    )
    freq = bg.groupBy("bigram").agg(F.count("*").alias("corpus_n"))
    scored = bg.join(freq, "bigram").groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.sum(F.when(F.col("corpus_n") <= 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_rare"),
        F.sum("corpus_n").cast("bigint").alias("familiarity"),
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        "n_rare",
        "familiarity",
        (
            F.col("n_rare").cast("double") / F.col("n_bigrams").cast("double")
        ).alias("rare_frac"),
    )


@_register(
    "d27_matcher_eval",
    oracle=f"""
    WITH {_FUZZY_CAT_SQL},
    q AS (
      SELECT p_partkey AS qid, p_name,
             {_TYPO_NAME_SQL} AS qname
      FROM part
    ),
    gold AS (
      SELECT q.qid, c.name_id AS gold_id
      FROM q JOIN cat c ON c.cname = q.p_name
    ),
    pred AS (
      SELECT q.qid, c.name_id AS cat_id
      FROM q CROSS JOIN cat c
      WHERE levenshtein(q.qname, c.cname) <= 2
    ),
    labeled AS (
      SELECT p.qid,
             CASE WHEN p.cat_id = g.gold_id THEN 1 ELSE 0 END AS is_tp
      FROM pred p JOIN gold g ON g.qid = p.qid
    )
    SELECT CAST((SELECT COUNT(*) FROM gold) AS BIGINT) AS n_queries,
           CAST(SUM(is_tp) AS BIGINT) AS tp,
           CAST(SUM(1 - is_tp) AS BIGINT) AS fp,
           CAST((SELECT COUNT(*) FROM gold) - SUM(is_tp) AS BIGINT) AS fn,
           CAST(SUM(is_tp) * 1000000 // COUNT(*) AS BIGINT)
               AS precision_ppm,
           CAST(SUM(is_tp) * 1000000
                // (SELECT COUNT(*) FROM gold) AS BIGINT) AS recall_ppm
    FROM labeled
    """,
    survey_ids=("X11", "X6"),
)
def d27_matcher_eval(spark, sf_dir):
    """Matcher-quality evaluation (the missing half of every entity-
    resolution deployment: measure the matcher against labeled truth,
    at scale, before trusting its merges). The planted-typo corpus
    gives an exact gold standard — every query string was derived
    from a known catalog name — so precision/recall are computable
    without sampling: TP = predicted pairs that hit the query's own
    gold name, FP = the rest (typo collisions with OTHER names within
    distance 2 — real, the corpus has near-identical part names), and
    FN counts queries whose gold pair was missed, which the PassJoin
    recall proof guarantees to be ZERO (a one-character deletion is
    distance 1 <= k; the blocking is exact-recall by pigeonhole) — a
    property this query VERIFIES against live execution every round
    rather than asserts. Ratios are emitted in integer parts-per-
    million (floor division), so the whole row is engine-exact.
    Composes the registered matcher (operators/fuzzy.py) with a
    broadcast-sized gold join; at 100 TB gold joins shuffle on qid
    like any fact-dimension join. The oracle replays matching as the
    naive quadratic cross join."""
    from .operators.fuzzy import fuzzy_match_pairs

    part = _ld(spark, sf_dir, "part")
    catalog = _fuzzy_catalog(part).localCheckpoint(eager=True)
    queries = part.select(
        F.col("p_partkey").alias("qid"),
        F.col("p_name"),
        F.expr(_TYPO_NAME_SQL).alias("qname"),
    ).localCheckpoint(eager=True)
    gold = queries.join(
        catalog, queries.p_name == catalog.cname
    ).select("qid", F.col("name_id").alias("gold_id"))
    pred = fuzzy_match_pairs(
        catalog,
        queries.select("qid", "qname"),
        "name_id",
        "cname",
        "qid",
        "qname",
        k=2,
    ).select("qid", "cat_id")
    labeled = pred.join(gold, "qid").select(
        F.when(F.col("cat_id") == F.col("gold_id"), 1)
        .otherwise(0)
        .alias("is_tp")
    )
    n_queries = gold.count()
    return labeled.agg(
        F.lit(n_queries).cast("bigint").alias("n_queries"),
        F.sum("is_tp").cast("bigint").alias("tp"),
        F.sum(1 - F.col("is_tp")).cast("bigint").alias("fp"),
        (F.lit(n_queries) - F.sum("is_tp")).cast("bigint").alias("fn"),
        F.floor(F.sum("is_tp") * 1000000 / F.count("*"))
        .cast("bigint")
        .alias("precision_ppm"),
        F.floor(F.sum("is_tp") * 1000000 / F.lit(n_queries))
        .cast("bigint")
        .alias("recall_ppm"),
    )


@_register(
    "s18_k_anonymity",
    oracle="""
    WITH g AS (SELECT lang, source, n_chars // 500 AS len_bucket,
                      COUNT(*) AS n
               FROM documents GROUP BY lang, source, len_bucket)
    SELECT lang, source, CAST(len_bucket AS BIGINT) AS len_bucket,
           CAST(n AS BIGINT) AS n,
           CAST(CASE WHEN n < 5 THEN 1 ELSE 0 END AS INTEGER) AS risky
    FROM g
    """,
    survey_ids=("X6", "X13"),
)
def s18_k_anonymity(spark, sf_dir):
    """k-anonymity audit (the data-governance gate an LLM training
    corpus needs before release): group documents by their
    quasi-identifier tuple — language, source, 500-char length bucket
    — and flag every group smaller than k=5, whose members are
    re-identifiable by exactly the attributes a release would publish.
    The output is the full equivalence-class census (group sizes +
    risk flag), which is what a suppression/generalization pass
    consumes: suppress risky groups, or coarsen len_bucket until none
    remain. Plan shape: one partial-combinable aggregate over the QI
    columns — the audit costs one shuffle at any corpus size, and the
    QI columns prune the scan to three columns. Exact integers
    throughout."""
    docs = _ld(spark, sf_dir, "documents")
    return (
        docs.groupBy(
            "lang",
            "source",
            F.floor(F.col("n_chars") / 500).cast("bigint").alias("len_bucket"),
        )
        .agg(F.count("*").alias("n"))
        .select(
            "lang",
            "source",
            "len_bucket",
            "n",
            F.when(F.col("n") < 5, 1).otherwise(0).cast("int").alias("risky"),
        )
    )


@_register(
    "d28_split_leakage_audit",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000000, replace(upper(text), ' ', '  ')
      FROM documents WHERE doc_id % 37 = 0
    ),
    n AS (SELECT doc_id, {{norm}} AS norm_key,
                 CASE WHEN {{b}} % 100 < 80 THEN 'train'
                      WHEN {{b}} % 100 < 90 THEN 'val'
                      ELSE 'test' END AS split
          FROM aug),
    g AS (SELECT norm_key, MIN(doc_id) AS survivor_id,
                 CAST(COUNT(*) AS BIGINT) AS n_members,
                 CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_train,
                 CAST(SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_val,
                 CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_test,
                 COUNT(DISTINCT split) AS n_splits
          FROM n GROUP BY norm_key)
    SELECT survivor_id, n_members, n_train, n_val, n_test
    FROM g WHERE n_members > 1 AND n_splits > 1
    """.format(
        norm=_NORM.replace("text", "text"),
        b=duckdb_det_hash_i64("doc_id", 7),
    ),
    survey_ids=("X11", "Q11"),
)
def d28_split_leakage_audit(spark, sf_dir):
    """Train/test split-leakage audit (the evaluation-integrity gate
    every LLM data pipeline needs and most skip): find duplicate
    groups whose members landed in DIFFERENT splits — the leak that
    silently inflates eval scores, because the model sees the test
    document's twin during training. Composes two registered
    primitives end-to-end: normalized exact-dup grouping (d11's
    norm_key) × deterministic hash split assignment (q11's seed-7
    80/10/10), then one aggregate per group filtered to
    multi-member, multi-split groups. Every 37th document plants a
    normalized twin (uppercased, double-spaced — raw-distinct but
    normalized-equal, exercising the normalization for real),
    identically in the oracle; the twin's independent hash puts it in
    a different split ~1/3 of the time, so the audit path is
    non-empty at every scale. Plan: one shuffle on norm_key; at
    100 TB this is the same hash-agg as exact dedup — the audit is
    free relative to the dedup pass it extends."""
    from .functions.text import norm_text
    from .pipeline import split_assign

    docs = _ld(spark, sf_dir, "documents").select("doc_id", "text")
    twins = docs.filter(F.col("doc_id") % 37 == 0).select(
        (F.col("doc_id") + 1000000000).alias("doc_id"),
        F.regexp_replace(F.upper("text"), " ", "  ").alias("text"),
    )
    aug = docs.unionByName(twins)
    keyed = split_assign(
        aug.select("doc_id", norm_text(F.col("text")).alias("norm_key")),
        "doc_id",
        seed=7,
    )
    g = keyed.groupBy("norm_key").agg(
        F.min("doc_id").alias("survivor_id"),
        F.count("*").cast("bigint").alias("n_members"),
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
        .cast("bigint")
        .alias("n_train"),
        F.sum(F.when(F.col("split") == "val", 1).otherwise(0))
        .cast("bigint")
        .alias("n_val"),
        F.sum(F.when(F.col("split") == "test", 1).otherwise(0))
        .cast("bigint")
        .alias("n_test"),
        F.countDistinct("split").alias("n_splits"),
    )
    return g.filter(
        (F.col("n_members") > 1) & (F.col("n_splits") > 1)
    ).select("survivor_id", "n_members", "n_train", "n_val", "n_test")


#: The fixed BPE merge table (rank order matters — each merge applies
#: to the output of all earlier merges, exactly as learned BPE does).
_BPE_MERGES = (
    ("t h", "th"), ("h e", "he"), ("i n", "in"), ("e r", "er"),
    ("a n", "an"), ("r e", "re"), ("o n", "on"), ("e n", "en"),
    ("th e", "the"), ("o r", "or"), ("a t", "at"), ("e s", "es"),
    ("a r", "ar"), ("o u", "ou"), ("in g", "ing"),
)


def _bpe_sql(word_expr: str) -> str:
    """DuckDB: apply the merge chain to one word (space-joined chars,
    sentinel spaces at both ends so merges only see symbol boundaries).
    """
    e = f"' ' || array_to_string(string_split({word_expr}, ''), ' ') || ' '"
    for a, b in _BPE_MERGES:
        e = f"replace({e}, ' {a} ', ' {b} ')"
    return e


@_register(
    "t13_bpe_tokens",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    w AS (SELECT unnest(toks) AS word FROM t),
    s AS (SELECT unnest(string_split(trim({_bpe_sql('word')}), ' '))
              AS symbol
          FROM w),
    c AS (SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n
          FROM s GROUP BY symbol)
    SELECT symbol, n FROM c ORDER BY n DESC, symbol LIMIT 25
    """,
    survey_ids=("X13", "X1"),
)
def t13_bpe_tokens(spark, sf_dir):
    """REAL byte-pair-encoding application (X13's subword axis,
    upgrading the whitespace/regex token counters): each word is
    exploded to space-joined characters and a fixed 15-merge table is
    applied IN RANK ORDER — each merge rewrites the output of all
    earlier merges, exactly the inference path of a learned BPE
    tokenizer (the table here is hand-fixed; swapping in a learned
    one changes constants, not the plan). The whole merge chain
    compiles to 15 chained ``replace`` expressions inside one
    codegen'd projection — no UDF, no per-merge pass over the corpus,
    the shape that tokenizes 100 TB at scan speed. Both engines'
    ``replace`` resumes scanning AFTER the substituted region
    (verified on the overlapping-merge case 'thethe' → 'the th e'),
    so symbol streams are byte-identical and the oracle replays the
    chain verbatim. Output: top-25 subword symbols by corpus count."""
    from .functions.text import tokens

    docs = _ld(spark, sf_dir, "documents")
    word = docs.select(F.explode(tokens(F.col("text"))).alias("word"))
    e = F.concat(
        F.lit(" "), F.array_join(F.split(F.col("word"), ""), " "), F.lit(" ")
    )
    for a, b in _BPE_MERGES:
        e = F.replace(e, F.lit(f" {a} "), F.lit(f" {b} "))
    return (
        word.select(F.explode(F.split(F.trim(e), " ")).alias("symbol"))
        .groupBy("symbol")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), "symbol")
        .limit(25)
    )


@_register(
    "s18_l_diversity",
    oracle="""
    SELECT lang, CAST(n_chars // 500 AS BIGINT) AS len_bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(CASE WHEN COUNT(DISTINCT source) < 3 THEN 1 ELSE 0 END
                AS INTEGER) AS risky
    FROM documents
    GROUP BY lang, len_bucket
    """,
    survey_ids=("X6", "X13"),
)
def s18_l_diversity(spark, sf_dir):
    """l-diversity audit — the companion gate to s18_k_anonymity
    (k-anonymity alone is defeated by a homogeneous class: if every
    member shares the sensitive value, size-k anonymity reveals it
    anyway): per quasi-identifier class (language, 500-char length
    bucket), the DISTINCT count of the sensitive attribute (source),
    flagging classes with fewer than l=3 distinct values. COUNT
    DISTINCT expands to the two-phase partial-distinct aggregate
    (map-side combine on (QI..., source), then count) — the shape that
    holds at corpus scale; one shuffle, three columns scanned. Exact
    integers throughout."""
    docs = _ld(spark, sf_dir, "documents")
    nd = F.countDistinct("source")
    return (
        docs.groupBy(
            "lang",
            F.floor(F.col("n_chars") / 500).cast("bigint").alias("len_bucket"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n"),
            nd.cast("bigint").alias("n_sources"),
            F.when(nd < 3, 1).otherwise(0).cast("int").alias("risky"),
        )
    )


@_register(
    "d30_group_split",
    oracle=_DUP_CLUSTERS_CTE
    + f""",
    split AS (
        SELECT doc_id, cluster_id,
               CASE WHEN {duckdb_det_hash_i64('cluster_id', 7)} % 100 < 80
                         THEN 'train'
                    WHEN {duckdb_det_hash_i64('cluster_id', 7)} % 100 < 90
                         THEN 'val'
                    ELSE 'test' END AS split,
               CASE WHEN {duckdb_det_hash_i64('doc_id', 7)} % 100 < 80
                         THEN 'train'
                    WHEN {duckdb_det_hash_i64('doc_id', 7)} % 100 < 90
                         THEN 'val'
                    ELSE 'test' END AS doc_split
        FROM lab)
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
           CAST(SUM(CASE WHEN split <> doc_split THEN 1 ELSE 0 END)
                AS BIGINT) AS n_rehomed
    FROM split GROUP BY split
    """,
    survey_ids=("Q11", "X11"),
)
def d30_group_split(spark, sf_dir):
    """GROUP-aware train/val/test assignment — the FIX for the failure
    d28_split_leakage_audit detects: hashing doc_ids independently
    (q11_split_assign) puts near-duplicate documents on both sides of
    a train/eval boundary, leaking training text into evaluation. Here
    the split is a deterministic hash of the duplicate CLUSTER id
    (duplicate_clusters: MinHash-LSH pairs → connected components), so
    every member of a near-dup group lands in the same split BY
    CONSTRUCTION — leakage-freedom is structural, not audited after
    the fact. ``n_rehomed`` counts docs whose cluster split differs
    from their individual-hash split — the documents this operator
    actually moved (non-zero on the planted near-dup corpus, so the
    driver row exercises real regrouping). Same 80/10/10 buckets and
    cross-engine multiplicative hash as q11_split_assign. Scale shape:
    the dedup pipeline's own cost (banded equi-join + CC) plus one
    map-side hash — no new shuffles beyond the per-split aggregate.
    operators/components.py::duplicate_clusters."""
    from .operators.components import duplicate_clusters
    from .functions.hashing import det_hash_i64

    docs = _ld(spark, sf_dir, "documents")
    clusters = duplicate_clusters(docs, threshold=0.8)

    def bucket(col):
        b = F.pmod(det_hash_i64(col, 7), F.lit(100))
        return (
            F.when(b < 80, F.lit("train"))
            .when(b < 90, F.lit("val"))
            .otherwise(F.lit("test"))
        )

    assigned = clusters.select(
        "doc_id",
        "cluster_id",
        bucket(F.col("cluster_id")).alias("split"),
        bucket(F.col("doc_id")).alias("doc_split"),
    )
    return assigned.groupBy("split").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.countDistinct("cluster_id").cast("bigint").alias("n_clusters"),
        F.sum("doc_id").cast("bigint").alias("id_checksum"),
        F.sum(
            F.when(F.col("split") != F.col("doc_split"), 1).otherwise(0)
        ).cast("bigint").alias("n_rehomed"),
    )


@_register(
    "t13_boilerplate_shingles",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 7 = 0
                  THEN text || ' © ' || source
                       || ' footer terms apply contact support email'
                  ELSE text END AS text
      FROM documents
    ),
    t AS (SELECT doc_id, source, {_TOKS} AS toks FROM aug),
    sh AS (SELECT DISTINCT doc_id, source,
                  unnest(list_transform(range(1, len(toks) - 3),
                         i -> toks[i] || ' ' || toks[i+1] || ' '
                              || toks[i+2] || ' ' || toks[i+3] || ' '
                              || toks[i+4])) AS shingle
           FROM t WHERE len(toks) >= 5),
    totals AS (SELECT doc_id, source, COUNT(*) AS n_shingles
               FROM sh GROUP BY doc_id, source),
    boiler AS (SELECT source, shingle
               FROM sh GROUP BY source, shingle
               HAVING COUNT(*) >= 3),
    nb AS (SELECT sh.doc_id, COUNT(*) AS n_boiler
           FROM sh JOIN boiler USING (source, shingle)
           GROUP BY sh.doc_id)
    SELECT t.doc_id, t.source, t.n_shingles,
           CAST(COALESCE(nb.n_boiler, 0) AS BIGINT) AS n_boiler,
           CAST(COALESCE(nb.n_boiler, 0) * 1000000 // t.n_shingles
                AS BIGINT) AS boiler_ppm
    FROM totals t LEFT JOIN nb USING (doc_id)
    """,
    survey_ids=("X13", "X11"),
)
def t13_boilerplate_shingles(spark, sf_dir):
    """Per-source boilerplate/template detection (X13 quality signal ×
    X11 repeated-content family): the shingle-level analog of C4-style
    line-frequency boilerplate removal — a word 5-gram appearing in ≥3
    distinct documents of the SAME source is template chrome, and each
    document is scored by its template fraction in exact integer ppm.
    A deterministic per-source footer is planted on every 7th document
    (identically in the oracle) so the detector has real template
    content to find — the natural corpus's max same-source df is 2.
    Scale shape: one zero-shuffle distinct-shingle projection, two
    map-side-combinable aggregations, and a join whose build side is
    only the template dictionary (df-filtered, by definition small).
    operators/textstats.py::boilerplate_shingle_scores."""
    from .operators.textstats import boilerplate_shingle_scores

    docs = _ld(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat_ws(
                " ",
                F.col("text"),
                F.lit("©"),
                F.col("source"),
                F.lit("footer terms apply contact support email"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return boilerplate_shingle_scores(aug, n=5, min_df=3)


#: The co-order part graph as distinct canonical (a < b) edges: the
#: naive self-join spelling of components.co_order_pairs, the first
#: stage of every unrolled x05 graph oracle below.
_CO_ORDER_E0 = """(
        SELECT DISTINCT LEAST(l1.l_partkey, l2.l_partkey) AS a,
               GREATEST(l1.l_partkey, l2.l_partkey) AS b
        FROM lineitem l1 JOIN lineitem l2
          ON l1.l_orderkey = l2.l_orderkey
         AND l1.l_partkey <> l2.l_partkey
    )"""


def _lpa_sql(rounds: int = 3) -> str:
    """Unrolled fixed-round synchronous label propagation as chained
    CTEs — same constraint as _kcore_sql (recursive CTEs cannot
    aggregate in the recursive term), same MATERIALIZED discipline.
    Constants mirror operators/components.py::label_communities."""
    parts = [
        f"""
    e0 AS MATERIALIZED {_CO_ORDER_E0},
    e AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0
                       UNION ALL SELECT b AS src, a AS dst FROM e0),
    l0 AS MATERIALIZED (SELECT DISTINCT src AS v, src AS label FROM e)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(f""",
    c{r} AS MATERIALIZED (SELECT e.dst AS v, l.label, COUNT(*) AS c
             FROM e JOIN l{r - 1} l ON l.v = e.src
             GROUP BY e.dst, l.label),
    l{r} AS MATERIALIZED (SELECT v, label FROM (
             SELECT v, label,
                    ROW_NUMBER() OVER (PARTITION BY v
                                       ORDER BY c DESC, label) AS rn
             FROM c{r}) WHERE rn = 1)""")
    return (
        "WITH" + "".join(parts) + f"""
    SELECT l.v, CAST(l.label AS BIGINT) AS community,
           CAST(s.n AS BIGINT) AS community_size
    FROM l{rounds} l
    JOIN (SELECT label, COUNT(*) AS n FROM l{rounds} GROUP BY label) s
      USING (label)
    """
    )


@_register(
    "x05_label_communities",
    oracle=_lpa_sql(3),
    survey_ids=("X5", "X11"),
)
def x05_label_communities(spark, sf_dir):
    """Mesoscale community detection via fixed-round SYNCHRONOUS label
    propagation over the co-order part graph — the graded structure
    between connected_components (reachability) and kcore (density):
    which densely intra-connected regions exist inside one connected
    graph. 3 synchronous rounds, most-frequent-neighbor label with
    min-label tie-break — a pure function of the previous round, so
    the unrolled-CTE oracle replays it bit-identically (asynchronous
    LPA would be schedule-dependent and unverifiable). Pairs:
    components.co_order_pairs.
    operators/components.py::label_communities."""
    from .operators.components import co_order_pairs, label_communities

    pairs = co_order_pairs(_ld(spark, sf_dir, "lineitem"))
    return label_communities(pairs, rounds=3)


def _kcore_sql(k: int = 3, rounds: int = 8) -> str:
    """Unrolled fixed-round k-core peel as chained CTEs — recursive
    CTEs cannot aggregate in the recursive term (the pagerank-oracle
    constraint), so the ``rounds`` peels unroll into generated stages.
    Constants mirror operators/components.py::kcore_nodes."""
    # AS MATERIALIZED: DuckDB inlines plain CTEs, and each stage
    # references its predecessor three times — inlined, e0 would
    # expand ~3^rounds-fold and exhaust file handles re-scanning the
    # parquet. Materialization pins each peel once (exactly the
    # semantics the Spark loop's checkpoints give).
    parts = [f"""
    e0 AS MATERIALIZED {_CO_ORDER_E0}"""]
    for r in range(1, rounds + 1):
        parts.append(f"""
    d{r} AS MATERIALIZED (SELECT v, COUNT(*) AS deg FROM (
                 SELECT a AS v FROM e{r - 1}
                 UNION ALL SELECT b FROM e{r - 1}) GROUP BY v),
    k{r} AS MATERIALIZED (SELECT v FROM d{r} WHERE deg >= {k}),
    e{r} AS MATERIALIZED (SELECT e.a, e.b FROM e{r - 1} e
             WHERE e.a IN (SELECT v FROM k{r})
               AND e.b IN (SELECT v FROM k{r}))""")
    return (
        "WITH" + ",".join(parts) + f"""
    SELECT v, CAST(COUNT(*) AS BIGINT) AS core_degree FROM (
        SELECT a AS v FROM e{rounds} UNION ALL SELECT b FROM e{rounds}
    ) GROUP BY v
    """
    )


def _coreness_sql(ks: tuple = (60, 80, 90), rounds: int = 8) -> str:
    """Unrolled NESTED peeling for the graded coreness decomposition:
    grade g's round 0 edge list is grade g-1's final one (the k-core
    nesting property components.py::coreness_grid exploits), so the
    generated stages chain across grades exactly like the Spark loop.
    Same MATERIALIZED discipline as _kcore_sql."""
    parts = [f"""
    e0_r0 AS MATERIALIZED {_CO_ORDER_E0}"""]
    for g, k in enumerate(ks, start=1):
        for r in range(1, rounds + 1):
            # grade g's round 0 IS the previous grade's final edge list
            prev = f"e{g}_r{r - 1}" if r > 1 else (
                f"e{g - 1}_r{rounds}" if g > 1 else "e0_r0"
            )
            parts.append(f"""
    d{g}_r{r} AS MATERIALIZED (SELECT v, COUNT(*) AS deg FROM (
                 SELECT a AS v FROM {prev}
                 UNION ALL SELECT b FROM {prev}) GROUP BY v),
    k{g}_r{r} AS MATERIALIZED (SELECT v FROM d{g}_r{r} WHERE deg >= {k}),
    e{g}_r{r} AS MATERIALIZED (SELECT e.a, e.b FROM {prev} e
             WHERE e.a IN (SELECT v FROM k{g}_r{r})
               AND e.b IN (SELECT v FROM k{g}_r{r}))""")
    graded = [
        "SELECT a AS v, 0 AS grade FROM e0_r0 UNION ALL "
        "SELECT b, 0 FROM e0_r0"
    ]
    for g, k in enumerate(ks, start=1):
        graded.append(
            f"SELECT a AS v, {k} AS grade FROM e{g}_r{rounds} UNION ALL "
            f"SELECT b, {k} FROM e{g}_r{rounds}"
        )
    return (
        "WITH" + ",".join(parts) + f"""
    SELECT v, CAST(MAX(grade) AS BIGINT) AS coreness FROM (
        {" UNION ALL ".join(graded)}
    ) GROUP BY v
    """
    )


@_register(
    "x05_coreness",
    oracle=_coreness_sql((60, 80, 90), 8),
    survey_ids=("X5", "X11"),
)
def x05_coreness(spark, sf_dir):
    """Graded coreness decomposition (VERDICT r11 item 7): x05_kcore's
    boolean filter turned into the (node, coreness) signal production
    dedup pipelines rank with — coreness = largest grid k ∈ {60, 80,
    90} whose fixed-round k-core keeps the node, 0 for tendrils below
    the smallest grade (the grid starts at 60 because this graph's
    minimum degree ≈ 40 makes a 40-grade indistinguishable from
    membership while costing a full-graph pass). Each grade peels the
    PREVIOUS grade's
    surviving edges (k-core nesting), so the full edge list is paid
    once and later grades start contracted; round budgets are fixed
    with the proven early exits, bit-identical to this nested
    unrolled-CTE oracle. Pairs: components.co_order_pairs.
    operators/components.py::coreness_grid."""
    from .operators.components import co_order_pairs, coreness_grid

    pairs = co_order_pairs(_ld(spark, sf_dir, "lineitem"))
    return coreness_grid(pairs, ks=(60, 80, 90), rounds=8)


@_register(
    "x05_kcore",
    oracle=_kcore_sql(80, 8),
    survey_ids=("X5", "X11"),
)
def x05_kcore(spark, sf_dir):
    """Fixed-round k-core decomposition (X5's iterative-join family;
    the classic web-graph quality filter — spam/link-farm pruning
    keeps the dense core) over the co-order part graph: 8 rounds of
    "drop nodes with degree < 80, recompute" peeling. The co-order graph is dense (min degree ~40, median ~115), so the threshold is calibrated to the measured core structure: k=80 peels a 143-node cascade over five rounds into a stable 1857-node core (k>=90 collapses the whole graph; k<=(min degree) peels nothing) — a fixpoint with real dynamics inside the fixed 8 rounds. Each round is one
    map-side-combinable degree aggregation plus two dropped-set
    anti-joins (AQE-broadcastable: the drop side is the peel cascade)
    that only ever SHRINK the edge list, re-checkpointed every second round
    with tracked release (the components.py storage discipline); round
    count fixed rather than converged so the result is bit-identical
    to the unrolled-CTE oracle in any engine (the integer_pagerank
    design). Pairs: components.co_order_pairs.
    operators/components.py::kcore_nodes."""
    from .operators.components import co_order_pairs, kcore_nodes

    pairs = co_order_pairs(_ld(spark, sf_dir, "lineitem"))
    return kcore_nodes(pairs, k=80, rounds=8)
