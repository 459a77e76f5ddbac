"""Property-based tests (hypothesis) for the determinism-critical
operators: whatever rows come in, first-wins dedup must pick the
minimum-order survivor, hash-order sampling must be a deterministic
prefix, and sessionization must cut exactly at gaps > the threshold."""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

keys = st.integers(min_value=0, max_value=5)
orders = st.integers(min_value=-1000, max_value=1000)


@settings(max_examples=8, deadline=None)
@given(st.lists(st.tuples(keys, orders), min_size=1, max_size=40))
def test_first_wins_dedup_picks_min_order(spark, rows):
    from echem_dft_etl_spark.operators.dedup import first_wins_dedup

    df = spark.createDataFrame(rows, "k int, v int")
    out = first_wins_dedup(df, ["k"], "v").collect()
    expected = {}
    counts = {}
    for k, v in rows:
        counts[k] = counts.get(k, 0) + 1
        expected[k] = min(expected.get(k, v), v)
    assert {r.k: r.v for r in out} == expected
    assert {r.k: r.n_copies for r in out} == counts


@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=10**6), min_size=1,
             max_size=30, unique=True),
    st.integers(min_value=1, max_value=10),
    st.integers(min_value=0, max_value=100),
)
def test_hash_sample_is_deterministic_prefix(spark, ks, n, seed):
    from echem_dft_etl_spark.pipeline import sample_by_hash

    df = spark.createDataFrame([(k,) for k in ks], "k bigint")
    got = [r.k for r in sample_by_hash(df, "k", n, seed).collect()]
    # reference computation: full hash order, first n
    KNUTH, MOD32 = 2654435761, 2**32
    order = sorted(ks, key=lambda k: (((k + seed) * KNUTH) % MOD32, k))
    assert got == order[: min(n, len(ks))]


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=10**5),  # offsets in seconds
        min_size=1, max_size=25, unique=True,
    )
)
def test_sessionize_cuts_exactly_at_gaps(spark, offsets):
    from echem_dft_etl_spark.operators.sessions import sessionize

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, i, base + dt.timedelta(seconds=o)) for i, o in enumerate(offsets)
    ]
    df = spark.createDataFrame(rows, "user_id int, event_id int, ts timestamp")
    out = sessionize(df, "user_id", "ts", gap_minutes=30.0, tie_col="event_id")
    n_sessions = out.select("session_id").distinct().count()
    srt = sorted(offsets)
    expected = 1 + sum(
        1 for a, b in zip(srt, srt[1:]) if (b - a) > 30 * 60
    )
    assert n_sessions == expected


def test_kmeans_refine_conserves_membership(spark):
    """Every vector lands in exactly one cell each round; more rounds
    never lose members. (Exactness vs DuckDB is the registry oracle;
    this covers the multi-round driver loop the oracle unrolls once.)"""
    from echem_dft_etl_spark.operators.kmeans import refine
    from echem_dft_etl_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    total = emb.count()
    for rounds in (1, 2):
        out = refine(emb, k=4, rounds=rounds).collect()
        assert sum(r.n_members for r in out) == total
        assert len(out) <= 4


@settings(max_examples=6, deadline=None)
@given(
    st.lists(  # left rows: (key, ts_offset_s, id)
        st.tuples(st.integers(0, 2), st.integers(0, 1000)),
        min_size=1, max_size=15,
    ),
    st.lists(  # right rows: (key, ts_offset_s)
        st.tuples(st.integers(0, 2), st.integers(0, 1000)),
        min_size=0, max_size=15,
    ),
)
def test_asof_join_matches_pandas_reference(spark, lrows, rrows):
    from echem_dft_etl_spark.operators.asof import asof_backward_join

    base = dt.datetime(2024, 1, 1)
    # unique (key, ts) on the right — ambiguous as-of is undefined
    rseen, rded = set(), []
    for k, off in rrows:
        if (k, off) not in rseen:
            rseen.add((k, off))
            rded.append((k, off))
    left = spark.createDataFrame(
        [(k, base + dt.timedelta(seconds=o), i) for i, (k, o) in enumerate(lrows)],
        "k int, ts timestamp, lid bigint",
    )
    right = spark.createDataFrame(
        [(k, base + dt.timedelta(seconds=o), 1000 + i, float(o))
         for i, (k, o) in enumerate(rded)],
        "k int, ts timestamp, lid bigint, payload double",
    ) if rded else spark.createDataFrame(
        [], "k int, ts timestamp, lid bigint, payload double"
    )
    out = asof_backward_join(
        left, right, key_cols=["k"], ts_col="ts", tie_col="lid",
        payload_cols=["payload"],
    ).collect()
    got = {r.lid: r.asof_payload for r in out}
    expected = {}
    for i, (k, o) in enumerate(lrows):
        cands = [ro for (rk, ro) in rded if rk == k and ro <= o]
        expected[i] = float(max(cands)) if cands else None
    assert got == expected


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet="abc xyz",  # whitespace-heavy to exercise tokenization
            min_size=0, max_size=60,
        ),
        min_size=1, max_size=6,
    )
)
def test_minhash_signatures_match_python_reference(spark, texts):
    """Three-way agreement: the Spark minhash implementation must match
    an independent pure-Python replay of the documented hashing
    convention (md5 48-bit + modular permutations) — the same spec the
    DuckDB oracles implement in SQL."""
    import hashlib
    import re as _re

    from echem_dft_etl_spark.operators.dedup import (
        N_PERMS,
        doc_shingles,
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    got = {
        r.doc_id: [r[f"mh_{j}"] for j in range(N_PERMS)]
        for r in minhash_signatures(doc_shingles(docs, 3)).collect()
    }

    P = 2147483647
    expected = {}
    for i, t in enumerate(texts):
        toks = [w for w in _re.sub(r"\s+", " ", t.lower()).strip().split(" ") if w]
        shingles = {" ".join(toks[k:k + 3]) for k in range(len(toks) - 2)}
        if not shingles:
            continue
        hs = [int(hashlib.md5(s.encode()).hexdigest()[:12], 16) for s in shingles]
        expected[i] = [
            min(((2 * j + 1) * (h % P) + 7919 * (j + 1)) % P for h in hs)
            for j in range(N_PERMS)
        ]
    assert got == expected


def test_minhash_from_arrays_equals_exploded(spark):
    """The projection-only arrays form must be lane-for-lane identical
    to the exploded groupBy form — it feeds the same LSH geometry.
    Regression: F.transform dispatches on lambda ARITY, so a two-arg
    lambda used to capture the lane index received (element,
    array-position) instead and every lane collapsed to the same
    min(perm(h_i, i)) value; lanes must be genuinely distinct."""
    from echem_dft_etl_spark.operators.dedup import (
        doc_shingle_arrays,
        doc_shingles,
        minhash_signatures,
        minhash_signatures_from_arrays,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "pack my box with five dozen liquor jugs right now"),
            (3, "the quick brown fox jumps over the lazy dog tonight"),
        ],
        "doc_id bigint, text string",
    )
    n_perms = 8
    exploded = {
        r.doc_id: tuple(r[f"mh_{j}"] for j in range(n_perms))
        for r in minhash_signatures(doc_shingles(docs, 3), n_perms).collect()
    }
    arrays = {
        r.doc_id: tuple(r[f"mh_{j}"] for j in range(n_perms))
        for r in minhash_signatures_from_arrays(
            doc_shingle_arrays(docs, 3), n_perms
        ).collect()
    }
    assert arrays == exploded
    for sig in arrays.values():
        assert len(set(sig)) > 1, f"lanes collapsed: {sig}"


def test_det_hash_i64_large_keys(spark, duck):
    """The split-multiply hash must (a) equal key*KNUTH mod 2^32 for
    every key including those where the naive product overflows int64,
    and (b) agree between the Spark column and the DuckDB fragment —
    the cross-engine property the sampling queries depend on."""
    from echem_dft_etl_spark.functions.hashing import (
        KNUTH,
        MOD32,
        det_hash_i64,
        duckdb_det_hash_i64,
    )

    keys = [0, 1, 41, 2**31 - 1, 2**31, 3_500_000_000, 2**32 - 1,
            2**32, 2**40 + 123, 2**62]
    df = spark.createDataFrame([(k,) for k in keys], "k bigint")
    got = {
        r["k"]: r["h"]
        for r in df.select("k", det_hash_i64(F.col("k"), 27).alias("h")).collect()
    }
    for k in keys:
        assert got[k] == ((k + 27) % MOD32) * KNUTH % MOD32, k

    frag = duckdb_det_hash_i64("k", 27)
    vals = ", ".join(f"({k})" for k in keys)
    duck_rows = duck.sql(
        f"SELECT k, {frag} AS h FROM (VALUES {vals}) t(k)"
    ).fetchall()
    assert {k: h for k, h in duck_rows} == got


def test_cosine_near_pairs_impls_agree(spark):
    """The expression-based blocked join and the vectorized
    applyInPandas kernel must produce bit-identical pair sets — the
    kernel's dimension-sequential accumulation is the same float64
    sequence as the JVM fold."""
    from echem_dft_etl_spark.operators import similarity
    from echem_dft_etl_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    expr = sorted(map(tuple, similarity.cosine_near_pairs(emb, 0.45).collect()))
    pand = sorted(
        map(
            tuple,
            similarity.cosine_near_pairs_blocked_pandas(emb, 0.45).collect(),
        )
    )
    assert expr == pand
    assert len(expr) > 0  # non-vacuous at this scale


def test_simhash_arrow_equals_expression(spark):
    """The Arrow vote kernel and the 32-lane expression form must emit
    identical signatures (same integer votes, same bit packing)."""
    from echem_dft_etl_spark.operators.dedup import (
        simhash_signatures,
        simhash_signatures_arrow,
    )
    from echem_dft_etl_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    a = dict(simhash_signatures(docs, 32).collect())
    b = dict(simhash_signatures_arrow(docs, 32).collect())
    assert a == b and len(a) == 500


def test_simhash_banded_pairs_equal_all_pairs(spark):
    """The pigeonhole claim behind the banded join, verified: at
    max_hamming h, the (h+1)-band candidate equi-join must produce
    EXACTLY the pairs of a naive all-pairs Hamming comparison — band
    splitting is lossless, not approximate. Guards the bit-range
    arithmetic in simhash_band_entries."""
    from echem_dft_etl_spark.operators.dedup import (
        simhash_near_pairs,
        simhash_signatures_arrow,
    )
    from echem_dft_etl_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    banded = sorted(
        map(tuple, simhash_near_pairs(docs, max_hamming=6, bits=32).collect())
    )

    sigs = simhash_signatures_arrow(docs, 32)
    a = sigs.select(F.col("doc_id").alias("a"), F.col("simhash").alias("sa"))
    b = sigs.select(F.col("doc_id").alias("b"), F.col("simhash").alias("sb"))
    naive = sorted(
        map(
            tuple,
            a.join(b, F.col("a") < F.col("b"))
            .withColumn("hamming", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))))
            .filter(F.col("hamming") <= 6)
            .select("a", "b", "hamming")
            .collect(),
        )
    )
    assert banded == naive
    assert len(banded) > 0


def test_firstfit_packing_never_straddles(spark):
    """First-fit invariants: a document either fits entirely inside its
    sequence (offset + n_tokens <= budget) or starts one (offset == 0,
    the over-budget singleton case); seq_ids are dense per shard."""
    from echem_dft_etl_spark.operators.textstats import pack_sequences_firstfit
    from echem_dft_etl_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    budget = 2048
    docs = load_table(spark, SF_SMOKE, "documents")
    rows = pack_sequences_firstfit(docs, seq_budget=budget, n_shards=32).collect()
    assert len(rows) == 500
    for r in rows:
        assert r.offset + r.n_tokens <= budget or r.offset == 0, r
    by_shard: dict[int, set] = {}
    for r in rows:
        by_shard.setdefault(r.shard, set()).add(r.seq_id)
    for shard, seqs in by_shard.items():
        assert seqs == set(range(len(seqs))), (shard, sorted(seqs))


def test_connected_components_path_graph(spark):
    """A 10-vertex path forces multi-round propagation (diameter 9);
    pointer jumping must still converge and label everything 0.
    Isolated vertices stay their own cluster."""
    from echem_dft_etl_spark.operators.components import connected_components

    verts = spark.range(13).selectExpr("id AS doc_id")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)] + [(10, 11)], "a long, b long"
    )
    got = {
        (r.doc_id, r.cluster_id)
        for r in connected_components(verts, edges).collect()
    }
    want = {(i, 0) for i in range(10)} | {(10, 10), (11, 10), (12, 12)}
    assert got == want


def test_connected_components_relax_schedule(spark):
    """A tuple relax schedule ((4, 1): multi-hop propagate rounds,
    then 1-hop fixpoint confirms) must produce exactly the labels the
    default 1-hop loop does — the monotone-label argument says a
    single relax+jump that changes nothing proves the N-hop fixpoint,
    and this pins it on a graph with real diameter."""
    from echem_dft_etl_spark.operators.components import connected_components

    verts = spark.range(13).selectExpr("id AS doc_id")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)] + [(10, 11)], "a long, b long"
    )
    base = {
        (r.doc_id, r.cluster_id)
        for r in connected_components(verts, edges).collect()
    }
    sched = {
        (r.doc_id, r.cluster_id)
        for r in connected_components(
            verts, edges, relax_per_round=(4, 1)
        ).collect()
    }
    assert sched == base


def test_duplicate_clusters_invariants(spark):
    """Every near-dup pair lands in one cluster; cluster_id is the min
    member; clusters partition the corpus; n_members is consistent."""
    from echem_dft_etl_spark.operators.components import duplicate_clusters
    from echem_dft_etl_spark.operators.dedup import near_dup_pairs_minhash
    from echem_dft_etl_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    rows = duplicate_clusters(docs).collect()
    label = {r.doc_id: r.cluster_id for r in rows}
    assert len(label) == docs.count()  # partition of the corpus
    members: dict[int, list[int]] = {}
    for r in rows:
        members.setdefault(r.cluster_id, []).append(r.doc_id)
    for cid, ms in members.items():
        assert min(ms) == cid  # canonical = min member
    sizes = {cid: len(ms) for cid, ms in members.items()}
    for r in rows:
        assert r.n_members == sizes[r.cluster_id]
        assert r.is_canonical == (r.doc_id == r.cluster_id)
    pairs = near_dup_pairs_minhash(docs, threshold=0.8).select("a", "b").collect()
    assert len(pairs) > 0
    for p in pairs:
        assert label[p.a] == label[p.b]  # edges never straddle clusters


def test_decontaminate_edges(spark):
    """Short docs (< n tokens) are trivially clean; exact copies of an
    eval doc are contaminated; disjoint text is clean."""
    from echem_dft_etl_spark.operators.dedup import decontaminate

    evals = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta"),  # shares 5-grams
            (2, "one two three four"),                        # too short
            (3, "totally different words here now friend"),  # disjoint
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.n_shared, r.is_contaminated)
           for r in decontaminate(train, evals, shingle_n=5).collect()}
    assert got[1][1] is True and got[1][0] >= 1
    assert got[2] == (0, False)
    assert got[3] == (0, False)


def test_decontaminate_fuzzy_flags_paraphrase_not_single_shingle(spark):
    """The planted-paraphrase contract (VERDICT r11 item 5): a training
    doc embedding a whole eval item inside extra words is contaminated
    (containment 1.0 of the eval shingle set even though it is not an
    exact duplicate); a verbatim copy scores exactly 1,000,000 ppm; a
    doc sharing a SINGLE 3-gram — which the exact-match decontaminate
    flags — stays below the 50 % containment bar; disjoint text is
    clean. All hashing is deterministic, so LSH candidate generation is
    reproducible, not flaky."""
    from echem_dft_etl_spark.operators.dedup import decontaminate_fuzzy

    eval_text = (
        "quantum flux capacitors resonate beneath crystalline "
        "lattice arrays while spectral harmonics drift across "
        "ionized plasma membranes tonight"
    )
    evals = spark.createDataFrame(
        [(100, eval_text)], "doc_id long, text string"
    )
    train = spark.createDataFrame(
        [
            # paraphrased leak: full eval text inside extra words
            (1, "note that " + eval_text + " end quote"),
            # one shared 3-gram ("quantum flux capacitors"): exact-match
            # decontamination flags this; the fuzzy rule must not
            (2, "quantum flux capacitors were sold cheaply at the "
                "annual hardware fair downtown yesterday evening okay"),
            # disjoint
            (3, "completely unrelated sentences about cooking pasta "
                "with garlic butter sauce in rome kitchens"),
            # verbatim copy
            (4, eval_text),
        ],
        "doc_id long, text string",
    )
    out = {
        (r.train_id, r.eval_id): r
        for r in decontaminate_fuzzy(train, evals).collect()
    }
    assert (1, 100) in out and out[(1, 100)].overlap_ppm >= 500_000
    assert (4, 100) in out and out[(4, 100)].overlap_ppm == 1_000_000
    assert all(t not in (2, 3) for t, _ in out)


def test_cdc_chunking_shift_robust(spark):
    """The content-defined-chunking contract: inserting ONE character
    early in a document must not re-chunk the tail. Cut positions
    depend only on the last CDC_W characters, so they re-synchronize
    once the rolling window clears the edit — every chunk after the
    edited one keeps its content hash. Fixed-width chunking (the d21
    baseline) loses essentially every chunk after the edit, which is
    the contrast this test also pins down."""
    import hashlib
    import random

    from echem_dft_etl_spark.operators.chunking import cdc_chunk_hashes

    rng = random.Random(42)
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta",
             "eta", "theta", "iota", "kappa"]
    text = " ".join(rng.choice(words) for _ in range(400))
    edited = text[:5] + "X" + text[5:]

    def chunks_of(t):
        df = spark.createDataFrame([("s", t)], "source string, text string")
        return [r.chash for r in cdc_chunk_hashes(df).collect()]

    a, b = chunks_of(text), chunks_of(edited)
    assert len(a) > 5, "fixture must produce several chunks"
    # common suffix: everything after the edited chunk is preserved
    k = 0
    while k < min(len(a), len(b)) and a[-1 - k] == b[-1 - k]:
        k += 1
    assert k >= len(a) - 2, (
        f"tail not preserved: only {k} of {len(a)} chunks survive the edit"
    )
    # the fixed-width baseline under the same edit: every 64-char chunk
    # after the insertion shifts, so almost nothing survives
    fixed = lambda t: {  # noqa: E731
        hashlib.md5(t[i : i + 64].encode()).hexdigest()
        for i in range(0, len(t), 64)
    }
    surviving_fixed = len(fixed(text) & fixed(edited))
    assert surviving_fixed <= 2, "fixed-width unexpectedly shift-robust"


def test_repetition_stats_known_values(spark):
    """Hand-computed duplicate fractions on crafted docs."""
    from echem_dft_etl_spark.operators.textstats import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "a a a a"),          # 4 tokens 1 distinct; 3 bigrams 1 distinct
            (2, "a b c d"),          # all distinct
            (3, "a b a b a"),        # 5 toks 2 distinct; 4 bigrams 2 distinct
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in repetition_stats(docs).collect()}
    assert got[1].dup_token_frac == 0.75 and got[1].dup_2gram_frac == 1 - 1 / 3
    assert got[2].dup_token_frac == 0.0 and got[2].keep is True
    assert got[3].dup_token_frac == 1 - 2 / 5 and got[3].dup_2gram_frac == 0.5
    assert got[1].keep is False


def test_chunking_udtf_equals_expression_form(spark):
    """The Python UDTF and the explode(sequence)+slice expression form
    must produce identical chunk rows."""
    from echem_dft_etl_spark.operators.chunking import (
        chunk_documents_expr,
        chunk_documents_udtf,
    )
    from echem_dft_etl_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    a = sorted(map(tuple, chunk_documents_udtf(spark, docs).collect()))
    b = sorted(map(tuple, chunk_documents_expr(docs).collect()))
    assert a == b and len(a) > 500


def test_lsh_near_pairs_complete_on_planted_duplicates(spark):
    """Recall property for the pruned near-pairs path: on a corpus of
    isotropic vectors with PLANTED near-duplicates (clone + small
    deterministic perturbation, cosine ≈ 0.95), the LSH-candidate +
    exact-verify plan must return EXACTLY the exact blocked form's
    pairs, with bit-identical cosines. Everything here is
    deterministic (fixed integer-derived vectors, deterministic
    hyperplanes), so this is a frozen recall=1 certificate for the
    registered threshold, not a flaky statistical assertion."""
    import numpy as np

    from echem_dft_etl_spark.operators.similarity import (
        cosine_near_pairs,
        lsh_near_pairs,
    )

    rng = np.random.default_rng(7)
    base = rng.standard_normal((300, 64))
    planted = []
    for i in range(20):  # clone vector i with a small perturbation
        planted.append(base[i] + 0.15 * rng.standard_normal(64))
    vecs = np.vstack([base, np.array(planted)])
    rows = [
        (int(i), [float(x) for x in vecs[i]]) for i in range(len(vecs))
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")

    exact = {
        (r.a, r.b): r.cosine
        for r in cosine_near_pairs(emb, threshold=0.85).collect()
    }
    pruned = {
        (r.a, r.b): r.cosine
        for r in lsh_near_pairs(emb, threshold=0.85).collect()
    }
    assert len(exact) >= 15, f"fixture planted too few pairs: {len(exact)}"
    assert pruned == exact


def test_lsh_near_pairs_nan_and_zero_norm_contract(spark):
    """The pruned path must match the exact form's edge semantics
    exactly: a zero-norm vector's pairs are NULL-cosine (dropped by
    `>= t`), while a NaN-DATA vector's pairs score NaN, which Spark SQL
    orders above every double so `>= t` KEEPS them. The Arrow verify
    kernel must preserve that distinction (nullable-Float64 would fold
    NaN into NULL and silently drop pairs the exact contract keeps)."""
    import math

    from echem_dft_etl_spark.operators.similarity import (
        cosine_near_pairs,
        lsh_near_pairs,
    )

    base = [1.0] + [0.0] * 63
    rows = [
        (0, base),
        (1, base),                     # exact duplicate of 0 -> cos 1.0
        (2, [0.0] * 64),               # zero norm -> NULL vs everyone
        (3, [float("nan")] + [0.0] * 63),  # NaN data -> NaN cosine
        (4, base),                     # another duplicate
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")

    def norm(df):
        return {
            (r.a, r.b): "nan" if r.cosine is not None and math.isnan(r.cosine)
            else r.cosine
            for r in df.collect()
        }

    exact = norm(cosine_near_pairs(emb, threshold=0.95))
    pruned = norm(lsh_near_pairs(emb, threshold=0.95))
    # the NaN-data vector pairs with SOMETHING in the exact form
    assert any(v == "nan" for v in exact.values()), exact
    # zero-norm vs finite vectors: denom 0 -> NULL -> dropped. (The
    # zero-vs-NaN pair is a different story: denom = 0 * NaN = NaN,
    # Spark's `NaN != 0` is true, so the exact form KEEPS it as NaN —
    # the pruned path must reproduce that too, via pruned == exact.)
    for k in exact:
        assert not (2 in k and 3 not in k), exact
    assert pruned == exact


def test_semdedup_drops_planted_semantic_twins(spark):
    """SemDeDup contract on a constructed corpus: clones of a vector
    (same direction, any magnitude) land in the same k-means cell and
    every clone with a lower-id twin is dropped; isolated vectors
    survive. Also pins the pairwise (non-transitive) domination
    contract: a vector is dropped iff a LOWER-id same-cell vector has
    cosine >= threshold with it, regardless of whether that dominator
    was itself dropped."""
    import numpy as np

    from echem_dft_etl_spark.operators.similarity import semdedup

    rng = np.random.default_rng(11)
    base = rng.standard_normal((40, 16))
    rows = [(int(i), [float(x) for x in base[i]]) for i in range(40)]
    # ids 100..104: scaled clones of vector 3 (cosine exactly ~1)
    for j in range(5):
        rows.append(
            (100 + j, [float(x * (1.0 + 0.1 * j)) for x in base[3]])
        )
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = {r.vec_id: r for r in semdedup(emb, k=4, rounds=1, threshold=0.99).collect()}
    assert len(out) == 45, "every input id must come back with a verdict"
    clone_cells = {out[i].cell for i in (3, 100, 101, 102, 103, 104)}
    assert len(clone_cells) == 1, "clones of one direction must co-cluster"
    assert out[3].is_kept, "lowest-id twin survives"
    for j in range(5):
        assert not out[100 + j].is_kept, "higher-id clones are dropped"
        assert out[100 + j].n_dominators >= 1
    # dropped set is exactly the clones at this threshold (0.99 is far
    # above any cosine between independent 16-dim gaussians here)
    assert {v for v, r in out.items() if not r.is_kept} == {100, 101, 102, 103, 104}


def test_semdedup_incremental_screens_batch_against_frozen_corpus(spark):
    """Incremental contract: a batch vector that clones a corpus
    vector lands in that vector's cell (assignment against FROZEN
    corpus centroids) and is dropped; a batch direction the corpus
    has never seen is kept; and two identical batch vectors are BOTH
    kept — batch-internal duplication is out of contract (the d18
    convention: this operator answers "new relative to the corpus")."""
    import numpy as np

    from echem_dft_etl_spark.operators.similarity import semdedup_incremental

    rng = np.random.default_rng(23)
    base = rng.standard_normal((30, 16))
    corpus = spark.createDataFrame(
        [(int(i), [float(x) for x in base[i]]) for i in range(30)],
        "vec_id bigint, embedding array<float>",
    )
    novel = rng.standard_normal(16)
    batch_rows = [
        (200, [float(x * 1.2) for x in base[5]]),   # clone of corpus 5
        (201, [float(x) for x in novel]),           # novel direction
        (202, [float(x) for x in novel]),           # its batch twin
    ]
    batch = spark.createDataFrame(
        batch_rows, "vec_id bigint, embedding array<float>"
    )
    out = {
        r.vec_id: r
        for r in semdedup_incremental(
            corpus, batch, k=4, rounds=1, threshold=0.99
        ).collect()
    }
    assert set(out) == {200, 201, 202}, "verdict for every batch id only"
    assert not out[200].is_kept and out[200].n_dominators >= 1
    assert out[201].is_kept, "novel direction must survive"
    assert out[202].is_kept, (
        "batch-internal twins are out of contract and must both survive"
    )


def test_mixture_sample_rate_and_determinism(spark):
    """Weighted sampling keeps ~weight_ppm/1e6 of each group (binomial
    tolerance) and selects an identical key set on re-run and under a
    different partitioning."""
    from echem_dft_etl_spark.pipeline import mixture_sample_by_weight

    df = spark.range(20_000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 2 == 0, 250_000).otherwise(750_000).alias("w"),
    )
    kept = mixture_sample_by_weight(df, F.col("w"), "k", seed=5)
    rates = {
        r.w: r.n / 10_000
        for r in kept.groupBy("w").agg(F.count("*").alias("n")).collect()
    }
    assert abs(rates[250_000] - 0.25) < 0.02
    assert abs(rates[750_000] - 0.75) < 0.02
    ids1 = sorted(r.k for r in kept.collect())
    ids2 = sorted(
        r.k
        for r in mixture_sample_by_weight(
            df.repartition(7), F.col("w"), "k", seed=5
        ).collect()
    )
    assert ids1 == ids2


def test_semdedup_zero_norm_contract(spark):
    """Zero-norm vectors have undefined cosine: the kernel's guarded
    division yields NULL, NULL >= threshold is never true, so a zero
    vector neither dominates nor is dominated — it clusters and
    survives. Pins the Spark-side contract explicitly (the natural
    corpus has no zero vectors, so oracle parity can't cover this)."""
    import numpy as np

    from echem_dft_etl_spark.operators.similarity import semdedup

    rng = np.random.default_rng(3)
    base = rng.standard_normal((20, 8))
    rows = [(int(i), [float(x) for x in base[i]]) for i in range(20)]
    rows.append((50, [0.0] * 8))
    rows.append((51, [0.0] * 8))  # two zero vectors: still no pair
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = {r.vec_id: r for r in semdedup(emb, k=4, rounds=1, threshold=0.5).collect()}
    assert len(out) == 22
    assert out[50].is_kept and out[51].is_kept
    assert out[50].n_dominators == 0 and out[51].n_dominators == 0


def test_stratified_threshold_tracks_exact_form(spark):
    """The giant-stratum threshold sampler must (a) select a subset
    determined purely by hash value, identical across re-runs and
    partitionings, (b) land within binomial tolerance of the target
    per-stratum n, and (c) degenerate to keep-everything for strata at
    or below n — the same min(n, size) contract as the exact form."""
    from echem_dft_etl_spark.pipeline import (
        stratified_sample_by_hash,
        stratified_sample_threshold,
    )

    df = spark.range(30_000).select(
        F.col("id").alias("k"),
        F.concat(F.lit("s"), F.pmod("id", F.lit(3))).alias("g"),
    )
    # add a tiny stratum (7 rows) that must survive whole
    tiny = spark.range(7).select(
        (F.col("id") + 1_000_000).alias("k"), F.lit("tiny").alias("g")
    )
    df = df.unionByName(tiny)
    got = stratified_sample_threshold(df, ["g"], "k", 200, seed=13)
    counts = {r.g: r.n for r in got.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert counts["tiny"] == 7
    for g in ("s0", "s1", "s2"):  # 10k rows, target 200, ±4 sigma ≈ 56
        assert abs(counts[g] - 200) < 60, (g, counts[g])
    ids1 = sorted(r.k for r in got.collect())
    ids2 = sorted(
        r.k
        for r in stratified_sample_threshold(
            df.repartition(11), ["g"], "k", 200, seed=13
        ).collect()
    )
    assert ids1 == ids2
    # same universe as the exact form: the threshold picks hash-small
    # rows, the exact form the hash-smallest — overlap must be high
    # (every threshold-selected row whose h is among the stratum's 200
    # smallest is in the exact sample by construction)
    exact = {
        r.k for r in stratified_sample_by_hash(df, ["g"], "k", 200, seed=13).collect()
    }
    thr = set(ids1)
    inter = len(exact & thr)
    assert inter > 0.7 * min(len(exact), len(thr)), (len(exact), len(thr), inter)


def test_incremental_dedup_finds_planted_batch_dup(spark):
    """A batch document that duplicates a corpus document must surface
    with jaccard 1.0; unrelated batch docs must not. Also pins the
    asymmetric contract: within-batch and within-corpus pairs are NOT
    emitted (that's the all-pairs operator's job)."""
    from echem_dft_etl_spark.operators.dedup import near_dups_against_corpus

    corpus_rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "completely different text about electrochemistry and solvation"),
        (3, "another unrelated corpus document mentioning spark and parquet"),
    ]
    batch_rows = [
        # exact content dup of corpus doc 1
        (100, "the quick brown fox jumps over the lazy dog again and again"),
        # duplicates ANOTHER BATCH doc (200/201) — must NOT be emitted
        (200, "batch internal duplicate text that repeats verbatim here now"),
        (201, "batch internal duplicate text that repeats verbatim here now"),
        (300, "fresh novel content sharing nothing with the corpus at all"),
    ]
    schema = "doc_id bigint, text string"
    out = near_dups_against_corpus(
        spark.createDataFrame(batch_rows, schema),
        spark.createDataFrame(corpus_rows, schema),
        threshold=0.8,
    ).collect()
    pairs = {(r.batch_id, r.corpus_id): r.jaccard for r in out}
    assert pairs == {(100, 1): 1.0}, pairs


def test_pii_redact_is_identity_without_pii(spark):
    """Docs with zero pattern hits must come back byte-identical —
    the scrub may never rewrite clean text (a masked-length drift on
    clean docs would silently corrupt the corpus)."""
    from pyspark.sql import functions as F

    from echem_dft_etl_spark.operators.textstats import pii_redact
    from echem_dft_etl_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    out = pii_redact(docs)
    clean = out.filter((F.col("n_emails") == 0) & (F.col("n_phones") == 0))
    assert clean.count() > 0
    assert clean.filter(F.col("redacted") != F.col("text")).count() == 0
    # and planted PII is always rewritten
    planted = pii_redact(
        docs.withColumn(
            "text", F.concat(F.col("text"), F.lit(" reach me: a1@b2.com"))
        )
    )
    assert planted.filter(F.col("n_emails") == 0).count() == 0
    assert planted.filter(F.col("redacted").contains("@")).count() == 0


def _lev(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


alpha = st.text(alphabet="abcde", min_size=3, max_size=12)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(alpha, min_size=1, max_size=12, unique=True),
    st.lists(alpha, min_size=1, max_size=12, unique=True),
)
def test_passjoin_fuzzy_equals_bruteforce(spark, cats, qs):
    """PassJoin blocking has exact recall at distance <= k: whatever
    strings come in, the blocked+verified pair set must equal the
    all-pairs Levenshtein filter (catalog strings shorter than k+1
    are excluded by contract)."""
    from echem_dft_etl_spark.operators.fuzzy import fuzzy_match_pairs

    k = 2
    cat = spark.createDataFrame(list(enumerate(cats)), "cid int, ctext string")
    qdf = spark.createDataFrame(list(enumerate(qs)), "qid int, qtext string")
    got = {
        (r.qid, r.cat_id, r.dist)
        for r in fuzzy_match_pairs(cat, qdf, "cid", "ctext", "qid", "qtext", k=k).collect()
    }
    want = {
        (qi, ci, _lev(q, c))
        for qi, q in enumerate(qs)
        for ci, c in enumerate(cats)
        if len(c) >= k + 1 and _lev(q, c) <= k
    }
    assert got == want


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=30), min_size=1, max_size=40
    )
)
def test_forest_root_depth_matches_reference(spark, raw):
    """Pointer doubling must resolve (root, depth) exactly for any
    rooted forest. Forests are generated acyclic by construction
    (parent index strictly below child)."""
    from echem_dft_etl_spark.operators.components import forest_root_depth

    # node i's parent is raw[i] % i (None for node 0 and self-hits)
    rows = []
    for i, r in enumerate(raw):
        p = None if i == 0 else r % i
        rows.append((i, p))
    ref = {}
    for i, p in rows:
        d, cur = 0, i
        while rows[cur][1] is not None:
            cur = rows[cur][1]
            d += 1
        ref[i] = (cur, d)
    df = spark.createDataFrame(rows, "node int, parent int")
    got = {
        r.node: (r.root, r.depth)
        for r in forest_root_depth(df).collect()
    }
    assert got == ref


def test_doc_shingles_local_equivalence_and_plan_shape(spark):
    """doc_shingles_local must emit exactly the rows of
    doc_shingles (global-distinct exploded form restricted per doc)
    AND of doc_shingle_arrays+explode — and its optimized plan must
    keep the tokenizer SINGLE: the InferFiltersFromGenerate trap this
    function exists to dodge (r5's 40x d15/d18/d20 regression)
    manifests as the tokenize expression substituted ~12x into a
    pushed-down Filter, so one plan-text occurrence of the tokenizer's
    regexp is the regression guard."""
    from echem_dft_etl_spark.operators.dedup import (
        doc_shingle_arrays,
        doc_shingles,
        doc_shingles_local,
    )
    from echem_dft_etl_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents").limit(200)
    local = {(r.doc_id, r.shingle) for r in doc_shingles_local(docs, 3).collect()}
    exploded = {(r.doc_id, r.shingle) for r in doc_shingles(docs, 3).collect()}
    via_arrays = {
        (r.doc_id, r.shingle)
        for r in doc_shingle_arrays(docs, 3)
        .select("doc_id", F.explode("shingles").alias("shingle"))
        .collect()
    }
    assert local == exploded == via_arrays
    assert local, "fixture must produce shingles"

    plan = (
        doc_shingles_local(docs, 3)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("regexp_replace") == 1, (
        f"tokenizer duplicated {plan.count('regexp_replace')}x in the "
        "optimized plan - the InferFiltersFromGenerate trap is back"
    )


def test_coreness_grid_matches_bruteforce_peeling(spark):
    """Graded coreness on a seeded random graph must equal brute-force
    converged peeling per grid value (max grade whose k-core keeps the
    node). rounds is set to the node count so every fixed-round peel
    provably converges, making the nested-peeling + early-exit
    machinery comparable against the textbook definition."""
    import random

    from echem_dft_etl_spark.operators.components import coreness_grid

    rng = random.Random(7)
    n_v = 24
    edges = sorted(
        {
            (a, b)
            for a, b in (
                sorted(rng.sample(range(n_v), 2)) for _ in range(70)
            )
        }
    )

    def brute_core(k):
        adj = {v: set() for v in range(n_v)}
        for a, b in edges:
            adj[a].add(b)
            adj[b].add(a)
        alive = {v for v in adj if adj[v]}
        changed = True
        while changed:
            drop = {v for v in alive if len(adj[v] & alive) < k}
            changed = bool(drop)
            alive -= drop
        return alive

    ks = (2, 3, 4)
    want = {}
    for v in range(n_v):
        if any(v in (a, b) for a, b in edges):
            want[v] = 0
    for k in ks:
        for v in brute_core(k):
            want[v] = k

    df = spark.createDataFrame(edges, "a long, b long")
    got = {r.v: r.coreness for r in coreness_grid(df, ks=ks, rounds=n_v).collect()}
    assert got == want
    assert set(want.values()) == {0, 2, 3, 4} or len(set(want.values())) >= 3, (
        "fixture too degenerate to exercise multiple grades"
    )


def test_bfs_distances_levels_cycle_and_disconnected(spark):
    """Hand-built graph: a path 1-2-3-4-5, a cycle 6-7-8, and an
    isolated vertex 9. Multi-source BFS from {1, 6, 99} must return
    layer-exact minimum hop counts, keep the off-graph seed 99 at hops
    0, never reach 9, and take the SHORT way around the cycle."""
    from echem_dft_etl_spark.operators.components import bfs_distances

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (6, 7), (7, 8), (6, 8)],
        "a long, b long",
    )
    seeds = spark.createDataFrame([(1,), (6,), (99,)], "v long")
    got = {(r.v, r.hops) for r in bfs_distances(edges, seeds).collect()}
    want = {
        (1, 0), (2, 1), (3, 2), (4, 3), (5, 4),
        (6, 0), (7, 1), (8, 1),
        (99, 0),
    }
    assert got == want


def test_bfs_distances_max_hops_cap(spark):
    """A 10-vertex path from one end, capped at 3 hops: vertices past
    the cap are absent; the early-exit never truncates below the cap."""
    from echem_dft_etl_spark.operators.components import bfs_distances

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "a long, b long"
    )
    seeds = spark.createDataFrame([(0,)], "v long")
    got = {(r.v, r.hops) for r in bfs_distances(edges, seeds, max_hops=3).collect()}
    assert got == {(0, 0), (1, 1), (2, 2), (3, 3)}


def test_bfs_distances_releases_loop_storage(spark):
    """Static edge blocks and dead layers must not leak into session
    storage after the result is collected (the CC/PageRank storage
    discipline applies to BFS too). Layers backing the returned frame
    are allowed to remain only until the caller drops the frame; here
    we just bound growth: one bfs call may pin at most the layer
    count, and the shuffle-width conf is restored."""
    from echem_dft_etl_spark.operators.components import bfs_distances
    from echem_dft_etl_spark.operators.storage import (
        persistent_rdd_ids as _persistent_rdd_ids,
    )

    width_before = spark.conf.get("spark.sql.shuffle.partitions")
    before = _persistent_rdd_ids(spark)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "a long, b long"
    )
    seeds = spark.createDataFrame([(0,)], "v long")
    res = bfs_distances(edges, seeds, max_hops=8)
    assert res.count() == 7
    assert spark.conf.get("spark.sql.shuffle.partitions") == width_before
    pinned = _persistent_rdd_ids(spark) - before
    # seeds layer + 6 discovered layers back the frame; statics released
    assert len(pinned) <= 8, pinned


def test_weighted_sample_prefers_heavy_weights(spark, tmp_path):
    """A-ES sanity on a planted corpus: with one doc carrying ~all the
    weight mass, it must be drawn into a top-1 sample; and the draw is
    invariant across repartitionings (pure function of the key)."""
    import pyspark.sql.functions as F

    from echem_dft_etl_spark.functions.hashing import det_hash_i64

    rows = [(i, 1) for i in range(1, 1001)] + [(5000, 10_000_000)]
    docs = spark.createDataFrame(rows, "doc_id long, n_chars long")

    def draw(df, k):
        u = (det_hash_i64(F.col("doc_id"), 41) + 1) / F.lit(4294967296.0)
        return (
            df.select("doc_id", (F.log(u) / F.col("n_chars")).alias("k"))
            .orderBy(F.desc("k"), "doc_id")
            .limit(k)
        )

    top1 = [r.doc_id for r in draw(docs, 1).collect()]
    assert top1 == [5000]
    a = [r.doc_id for r in draw(docs, 50).collect()]
    b = [r.doc_id for r in draw(docs.repartition(7), 50).collect()]
    assert sorted(a) == sorted(b)


def test_session_window_native_matches_hand_rolled(spark):
    """Batch session_window must compute the same sessions as the
    lag-gap/cumsum composition on the natural corpus (the native-vs-
    composed twin invariant, engine-side)."""
    import pyspark.sql.functions as F

    from echem_dft_etl_spark.operators.sessions import sessionize
    from echem_dft_etl_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    ev = load_table(spark, SF_SMOKE, "events")
    native = {
        (r.user_id, r.start, r.end, r.n)
        for r in ev.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(F.count("*").alias("n"))
        .select("user_id", F.col("w.start").alias("start"),
                F.col("w.end").alias("end"), "n")
        .collect()
    }
    sess = sessionize(ev, "user_id", "ts", gap_minutes=30.0, tie_col="event_id")
    hand = {
        (r.user_id, r.start, r.end, r.n)
        for r in sess.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("start"),
            (F.max("ts") + F.expr("interval 30 minutes")).alias("end"),
            F.count("*").alias("n"),
        )
        .select("user_id", "start", "end", "n")
        .collect()
    }
    assert native == hand


def test_interpolate_exact_rational_on_planted_gap(spark):
    """A hand-built daily series with a 3-day hole: interpolated rows
    carry the exact rational (num, den) of the line between brackets;
    observed rows pass through with den 1."""
    import pyspark.sql.functions as F

    # replicate the query's core on a literal frame: day 10 -> 100,
    # day 14 -> 300; days 11-13 must interpolate 150, 200, 250 (den 4)
    from pyspark.sql import Window

    daily = spark.createDataFrame(
        [(1, 10, 100), (1, 14, 300)], "user_id long, day long, cents long"
    )
    bounds = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = bounds.select("user_id", F.explode(F.sequence("d0", "d1")).alias("day"))
    j = spine.join(daily, ["user_id", "day"], "left")
    wp = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    wn = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        Window.currentRow, Window.unboundedFollowing)
    obs_day = F.when(F.col("cents").isNotNull(), F.col("day"))
    f = j.select(
        "user_id", "day", "cents",
        F.last(obs_day, ignorenulls=True).over(wp).alias("pd"),
        F.last("cents", ignorenulls=True).over(wp).alias("pv"),
        F.first(obs_day, ignorenulls=True).over(wn).alias("nd"),
        F.first("cents", ignorenulls=True).over(wn).alias("nv"),
    )
    got = {
        (r.day, r.num, r.den)
        for r in f.select(
            "day",
            F.when(F.col("cents").isNotNull(), F.col("cents"))
            .otherwise(F.col("pv") * (F.col("nd") - F.col("day"))
                       + F.col("nv") * (F.col("day") - F.col("pd")))
            .alias("num"),
            F.when(F.col("cents").isNotNull(), F.lit(1))
            .otherwise(F.col("nd") - F.col("pd")).alias("den"),
        ).collect()
    }
    want = {
        (10, 100, 1), (11, 600, 4), (12, 800, 4), (13, 1000, 4), (14, 300, 1),
    }
    assert got == want


def test_outlier_mad_hand_computed(spark):
    """Lower-median/MAD outlier accounting on a planted group: values
    [10,10,10,100] -> med 10 (rank 2 of 4), adevs [0,0,0,90] -> MAD 0,
    so the 100 is an outlier (90 > 3*0); a symmetric clean group has
    zero outliers. Integer-exact, no interpolation."""
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    ev = spark.createDataFrame(
        [("a", 1, 1000), ("a", 2, 1000), ("a", 3, 1000), ("a", 4, 10000),
         ("b", 5, 100), ("b", 6, 200), ("b", 7, 300)],
        "event_type string, event_id long, cents long",
    )

    def lower_median(df, val_col, out_name):
        wr = Window.partitionBy("event_type").orderBy(val_col, "event_id")
        sizes = df.groupBy("event_type").agg(F.count("*").alias("n"))
        ranked = df.select(
            "event_type", F.col(val_col), F.row_number().over(wr).alias("rn")
        ).join(F.broadcast(sizes), "event_type")
        return ranked.groupBy("event_type").agg(
            F.max(F.when(F.col("rn") == F.expr("(n + 1) DIV 2"),
                         F.col(val_col))).alias(out_name)
        )

    med = lower_median(ev, "cents", "med")
    dev = ev.join(med, "event_type").select(
        "event_type", "event_id",
        F.abs(F.col("cents") - F.col("med")).alias("adev"), "med",
    )
    mad = lower_median(dev, "adev", "mad")
    got = {
        (r.event_type): (r.med, r.mad, r.n_out)
        for r in dev.join(mad, "event_type").groupBy("event_type").agg(
            F.max("med").alias("med"), F.max("mad").alias("mad"),
            F.sum((F.col("adev") > 3 * F.col("mad")).cast("bigint")).alias("n_out"),
        ).collect()
    }
    assert got == {"a": (1000, 0, 1), "b": (200, 100, 0)}


def test_table_arg_udtf_ordered_gaps(spark):
    """The partitioned TABLE-argument UDTF must see each partition's
    rows in the declared order: planted balances whose max gap only
    comes out right under (bal, key) ordering, plus a singleton
    partition (gap 0)."""
    from echem_dft_etl_spark.operators.udfs import make_nation_gaps_udtf

    df = spark.createDataFrame(
        [(1, 101, 100), (1, 102, 400), (1, 103, 150),   # gaps 50, 250
         (2, 201, 700)],                                 # singleton
        "s_nationkey long, s_suppkey long, bal_cents long",
    )
    df.createOrReplaceTempView("gap_input")
    spark.udtf.register("nation_gaps_t", make_nation_gaps_udtf())
    got = {
        r.s_nationkey: (r.n_rows, r.max_gap_cents)
        for r in spark.sql("""
            SELECT * FROM nation_gaps_t(
                TABLE(SELECT * FROM gap_input)
                PARTITION BY s_nationkey
                ORDER BY (bal_cents, s_suppkey))
        """).collect()
    }
    assert got == {1: (3, 250), 2: (1, 0)}


def test_session_window_boundary_tie_semantics(spark):
    """Pin the boundary-tie semantics the corpus never exercises: an
    event landing EXACTLY at prev_ts + gap. Measured (Spark 4.1):
    native session_window MERGES touching windows — [0,30) and
    [30,60) become one session — which AGREES with the lag-gap
    composition's <= cut. Earlier docstrings hypothesized a strict-<
    divergence; this test is the executable record that both forms
    keep the boundary event in-session, and catches an engine upgrade
    changing either side."""
    import datetime as dt

    import pyspark.sql.functions as F

    from echem_dft_etl_spark.operators.sessions import sessionize

    base = dt.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [(1, 1, base), (1, 2, base + dt.timedelta(minutes=30))],
        "user_id long, event_id long, ts timestamp",
    )
    native = (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .count()
        .count()
    )
    hand = (
        sessionize(ev, "user_id", "ts", gap_minutes=30.0, tie_col="event_id")
        .select("session_id")
        .distinct()
        .count()
    )
    assert native == 1  # touching windows merge: boundary stays in-session
    assert hand == 1    # <= cut: same session — the two forms agree


def test_recursive_hierarchy_depth_at_large_keys(spark):
    """The native WITH RECURSIVE query must clear Spark's recursion
    guard at production key magnitudes: billion-scale part keys mean
    depth ~log10(key) ≈ 10, far under the 100-level default — but an
    accidental non-decreasing rewrite would hit the guard instead of
    looping forever, and this pins that the loop terminates with the
    right depth."""
    df = spark.createDataFrame(
        [(987654321012,), (7,)], "p_partkey bigint"
    )
    df.createOrReplaceTempView("part")
    rows = {
        r.node: (r.root, r.depth)
        for r in spark.sql("""
            WITH RECURSIVE walk AS (
                SELECT p_partkey AS node, p_partkey AS cur,
                       CAST(0 AS BIGINT) AS depth
                FROM part
                UNION ALL
                SELECT node, CAST(FLOOR(cur / 10) AS BIGINT) AS cur,
                       depth + 1 AS depth
                FROM walk WHERE cur >= 10
            )
            SELECT node, cur AS root, depth FROM walk WHERE cur < 10
        """).collect()
    }
    assert rows[7] == (7, 0)
    assert rows[987654321012] == (9, 11)
    spark.catalog.dropTempView("part")


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=0, max_size=20,
    ),
    st.sets(st.integers(0, 9), min_size=1, max_size=3),
)
def test_bfs_distances_matches_python_reference(spark, raw_edges, seed_set):
    """Random small graphs vs a dict-based BFS reference: hop counts
    must agree exactly, including unreachable nodes (absent) and
    off-graph seeds (hops 0)."""
    from collections import deque

    from echem_dft_etl_spark.operators.components import bfs_distances

    edges = sorted({(min(a, b), max(a, b)) for a, b in raw_edges if a != b})
    adj: dict[int, set] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {s: 0 for s in seed_set}
    dq = deque(seed_set)
    while dq:
        v = dq.popleft()
        if want[v] >= 6:
            continue
        for w in adj.get(v, ()):
            if w not in want:
                want[w] = want[v] + 1
                dq.append(w)

    edf = spark.createDataFrame(edges or [(99, 98)], "a long, b long")
    if not edges:
        edf = edf.filter("a < 0")  # truly empty edge frame, typed
    sdf = spark.createDataFrame([(s,) for s in seed_set], "v long")
    got = {r.v: r.hops for r in bfs_distances(edf, sdf, max_hops=6).collect()}
    assert got == want


def test_retract_rollup_matches_full_recompute(spark):
    """Signed-accumulator retraction == full recompute, including a
    group fully deleted (dropped) and a group untouched (n_retracted
    0)."""
    import pyspark.sql.functions as F

    from echem_dft_etl_spark.operators.audit import retract_rollup

    rows = [("a", 1, 10), ("a", 2, 20), ("b", 3, 30), ("c", 4, 40)]
    dead = {2, 3, 4}  # kills all of b and c, half of a
    df = spark.createDataFrame(rows, "g string, k long, cents long")

    def acc(d):
        return d.groupBy("g").agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )

    merged = retract_rollup(
        acc(df), acc(df.filter(F.col("k").isin(list(dead)))), ["g"]
    )
    got = {
        r.g: (r.n_rows, r.sum_cents, r.n_retracted) for r in merged.collect()
    }
    assert got == {"a": (1, 10, 1)}


def test_fingerprint_diff_identical_and_reordered_same(spark):
    """Diff of a table against a row-reordered, repartitioned copy of
    itself is all-'same' (XOR fingerprints are order-independent);
    flipping one value in one group flags exactly that group."""
    import pyspark.sql.functions as F

    from echem_dft_etl_spark.operators.audit import (
        fingerprint_diff,
        table_fingerprint,
    )

    df = spark.createDataFrame(
        [(g, i, g * 100 + i) for g in range(3) for i in range(5)],
        "g long, k long, v long",
    )
    hcols = [F.col("k"), F.col("v")]
    fp = lambda d: table_fingerprint(d, ["g"], hcols)  # noqa: E731
    shuffled = df.orderBy(F.desc("v")).repartition(7)
    assert {
        r.status for r in fingerprint_diff(fp(df), fp(shuffled), ["g"]).collect()
    } == {"same"}

    tweaked = df.withColumn(
        "v", F.when((F.col("g") == 1) & (F.col("k") == 2), 999).otherwise(F.col("v"))
    )
    got = {r.g: r.status for r in fingerprint_diff(fp(df), fp(tweaked), ["g"]).collect()}
    assert got == {0: "same", 1: "changed", 2: "same"}


def test_fingerprint_diff_null_group_key_matches_itself(spark):
    """A NULL-keyed partition (unattributed rows) present identically
    in both snapshots must diff as 'same' — plain-equality joins would
    report it added+removed forever (review finding, fixed with a
    null-safe key join)."""
    import pyspark.sql.functions as F

    from echem_dft_etl_spark.operators.audit import (
        fingerprint_diff,
        table_fingerprint,
    )

    df = spark.createDataFrame(
        [(None, 1, 10), (None, 2, 20), (1, 3, 30)],
        "g long, k long, v long",
    )
    fp = table_fingerprint(df, ["g"], [F.col("k"), F.col("v")])
    got = {r.g: r.status for r in fingerprint_diff(fp, fp, ["g"]).collect()}
    assert got == {None: "same", 1: "same"}


def test_retract_rollup_over_delivery_fails_loudly(spark):
    """Applying the same retraction batch twice drives a count negative
    — corruption, not 'group cleanly gone'; the guard must fail the
    job instead of silently dropping the group (review finding)."""
    import pytest

    import pyspark.sql.functions as F

    from echem_dft_etl_spark.operators.audit import retract_rollup

    df = spark.createDataFrame([("a", 1, 10)], "g string, k long, cents long")

    def acc(d):
        return d.groupBy("g").agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )

    once = retract_rollup(acc(df), acc(df), ["g"])
    assert once.collect() == []  # clean full retraction: group gone
    doubled = acc(df).unionByName(acc(df))  # same delete batch twice
    with pytest.raises(Exception, match="over-delivery|assert"):
        retract_rollup(acc(df), doubled, ["g"]).collect()


def test_table_arg_udtf_tolerates_null_values(spark):
    """A NULL balance row must not crash the UDTF: it mirrors the
    window twin (NULL gaps ignored, NULL still becomes the LAG prev),
    so max_gap skips any pair touching the NULL (review finding)."""
    from echem_dft_etl_spark.operators.udfs import make_nation_gaps_udtf

    df = spark.createDataFrame(
        [(1, 1, 100), (1, 2, None), (1, 3, 400)],
        "s_nationkey long, s_suppkey long, bal_cents long",
    )
    df.createOrReplaceTempView("gap_null_input")
    spark.udtf.register("nation_gaps_n", make_nation_gaps_udtf())
    (row,) = spark.sql("""
        SELECT * FROM nation_gaps_n(
            TABLE(SELECT * FROM gap_null_input)
            PARTITION BY s_nationkey
            ORDER BY (bal_cents, s_suppkey))
    """).collect()
    # order is (NULL first) 2, then 100, then 400: the only non-null
    # consecutive pair is 100->400 but prev passes THROUGH the null,
    # exactly as LAG does: pairs are (null,100)->skip, (100,400)->300
    assert (row.n_rows, row.max_gap_cents) == (3, 300)


def test_ann_topk_tail_ties_zero_norms_and_self_pairs(spark):
    """The shared re-rank and top-k tail on a hand-built corpus with
    exact ties and zero norms (the sf data guarantees neither): vector
    11 duplicates vector 0 exactly and vector 7 is 2x vector 0 (a
    power-of-two scale, so its cosines tie bit for bit), vector 3 is
    the zero vector and also a query. At k = corpus size, every exact
    operator must equal a brute force that folds one dimension at a
    time in float64: ties rank by the lowest vec_id, NULL scores (zero
    norm) rank last, and no query ever meets itself."""
    import math

    import numpy as np

    from echem_dft_etl_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_pandas,
        ivf_topk,
    )

    rng = np.random.RandomState(11)
    vecs = [[float(x) for x in np.round(rng.uniform(-1, 1, 8), 3)] for _ in range(16)]
    vecs[11] = list(vecs[0])
    vecs[7] = [2.0 * x for x in vecs[0]]
    vecs[3] = [0.0] * 8
    emb = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id bigint, embedding array<float>"
    )
    query_ids = [0, 3, 5, 11]
    n = len(vecs)

    f32 = [[float(np.float32(x)) for x in v] for v in vecs]

    def fold(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    expected = set()
    for q in query_ids:
        scored = []
        for v in range(n):
            if v == q:
                continue
            denom = math.sqrt(fold(f32[q], f32[q])) * math.sqrt(fold(f32[v], f32[v]))
            scored.append((v, fold(f32[q], f32[v]) / denom if denom != 0 else None))
        scored.sort(key=lambda t: (t[1] is None, -(t[1] or 0.0), t[0]))
        expected |= {(q, v, c, rk) for rk, (v, c) in enumerate(scored, 1)}

    # the corpus really has the ties and the NULLs the test is about
    assert len({c for (q, v, c, _) in expected if q == 5 and v in (0, 7, 11)}) == 1
    assert all(c is None for (q, v, c, _) in expected if 3 in (q, v))

    for run in (
        lambda: cosine_topk(emb, query_ids, k=n),
        lambda: cosine_topk_pandas(emb, query_ids, k=n),
        lambda: ivf_topk(emb, query_ids, k=n, n_cells=4, n_probe=4),
    ):
        got = {(r.query_id, r.vec_id, r.cosine, r.rk) for r in run().collect()}
        assert got == expected
        assert len(got) == len(query_ids) * (n - 1)


def test_pq_topk_sparse_codeword_ids(spark):
    """PQ lookups are keyed by codeword id, not array position: a
    corpus whose vec_ids don't densely cover [0, n_codes) must still
    encode and rank correctly (review finding — the positional
    element_at form read the wrong codeword or threw)."""
    import numpy as np

    from echem_dft_etl_spark.operators.similarity import pq_topk

    rng = np.random.RandomState(3)
    vecs = np.round(rng.uniform(-1, 1, size=(12, 8)), 3)
    # ids 5..16: codebook = ids {5, 6, 7} (vec_id < 8), NOT dense from 0
    emb = spark.createDataFrame(
        [(i + 5, [float(x) for x in vecs[i]]) for i in range(12)],
        "vec_id long, embedding array<float>",
    )
    out = pq_topk(emb, [5], k=3, n_sub=2, n_codes=8, dims=8).collect()
    assert len(out) == 3
    assert all(r.adist_micro2 >= 0 for r in out)
    # the query's own codeword-mates rank deterministically; re-run is
    # stable under repartitioning
    out2 = pq_topk(
        emb.repartition(5), [5], k=3, n_sub=2, n_codes=8, dims=8
    ).collect()
    assert sorted((r.vec_id, r.adist_micro2) for r in out) == sorted(
        (r.vec_id, r.adist_micro2) for r in out2
    )


def test_pq_empty_codebook_fails_loudly(spark):
    """An input with NO vec_id < n_codes violates _pq_codebook's
    precondition; the folded assert_true must abort the job with the
    diagnostic instead of letting NULL ADC distances silently float
    garbage rows to the top of the ascending rank window."""
    import pytest
    from py4j.protocol import Py4JJavaError

    from echem_dft_etl_spark.operators.similarity import pq_topk

    emb = spark.createDataFrame(
        [(100 + i, [float(i)] * 8) for i in range(6)],
        "vec_id long, embedding array<float>",
    )
    # The USER_RAISED_EXCEPTION surfaces as a captured
    # pyspark SparkRuntimeException OR a raw Py4JJavaError depending
    # on which task's failure reaches the driver first — the stable
    # contract is the DIAGNOSTIC STRING, so match on that across both
    # wrapper types (this test flaked exactly on the type, r10).
    from pyspark.errors import PySparkException

    with pytest.raises(
        (Py4JJavaError, PySparkException), match="PQ codebook is empty"
    ):
        pq_topk(emb, [100], k=3, n_sub=2, n_codes=8, dims=8).collect()


@settings(max_examples=6, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=200), min_size=1,
             max_size=60),
    st.lists(st.integers(min_value=0, max_value=200), min_size=0,
             max_size=25, unique=True),
)
def test_bloom_prefilter_never_drops_a_match(spark, probe_keys, build_keys):
    """Whatever the key sets, the bloom pass is a SUPERSET of the exact
    semi-join (no false negatives), and composing it with the exact
    join reproduces the plain semi-join multiset-for-multiset —
    including the empty-build case (bloom drops everything)."""
    from echem_dft_etl_spark.operators.scale import bloom_prefilter

    probe = spark.createDataFrame([(k,) for k in probe_keys], "k bigint")
    build = spark.createDataFrame(
        [(k,) for k in build_keys], "b bigint"
    ) if build_keys else spark.createDataFrame([], "b bigint")
    pruned = bloom_prefilter(probe, "k", build, "b", n_bits=256)
    got = sorted(r.k for r in pruned.collect())
    want = sorted(k for k in probe_keys if k in set(build_keys))
    # superset (no false negatives), even at a deliberately tiny filter
    assert set(want) <= set(got)
    for k in set(want):
        assert got.count(k) == probe_keys.count(k)
    exact = [
        r.k
        for r in pruned.join(
            build, pruned["k"] == build["b"], "leftsemi"
        ).collect()
    ]
    assert sorted(exact) == want


@settings(max_examples=6, deadline=None)
@given(
    st.lists(st.integers(min_value=-50, max_value=150), min_size=1,
             max_size=40),
    st.lists(
        st.tuples(
            st.integers(min_value=-50, max_value=150),
            st.integers(min_value=0, max_value=30),
        ),
        min_size=1,
        max_size=20,
    ),
    st.integers(min_value=1, max_value=16),
)
def test_binned_range_join_any_width_equals_theta(spark, vs, spans, width):
    """The binned equi-join rewrite must equal the theta join for ANY
    bin width ≥ 1, any sign mix, and intervals of any length
    (including zero-length lo == hi)."""
    from echem_dft_etl_spark.operators.scale import binned_range_join

    pts = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vs)], "pid int, v int"
    )
    itv = spark.createDataFrame(
        [(j, lo, lo + w) for j, (lo, w) in enumerate(spans)],
        "iid int, lo int, hi int",
    )
    binned = binned_range_join(pts, itv, "v", "lo", "hi", bin_width=width)
    got = sorted((r.pid, r.iid) for r in binned.collect())
    want = sorted(
        (i, j)
        for i, v in enumerate(vs)
        for j, (lo, w) in enumerate(spans)
        if lo <= v <= lo + w
    )
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    st.integers(min_value=1, max_value=4),
    st.integers(min_value=1, max_value=3),
    st.binary(min_size=0, max_size=80),
)
def test_ahash_reference_implementation(w4, h4, pixel_src):
    """ahash_bmp must agree with an independent recomputation from the
    builder's fill rule, stay in [0, 2^62), and be a pure function of
    the pixel bytes."""
    from echem_dft_etl_spark.operators.multimodal import (
        ahash_bmp,
        bmp_bytes,
        _fill,
    )

    w, h = w4 * 4, h4 * 4
    payload = bmp_bytes(w, h, pixel_src)
    got = ahash_bmp(payload)
    n = w * h * 3
    px = _fill(pixel_src, n)
    total = sum(px)
    want = 0
    for i in range(min(62, n)):
        if px[i] * n > total:
            want |= 1 << i
    assert got == want
    assert 0 <= got < (1 << 62)
    assert ahash_bmp(bytes(payload)) == got


@given(
    st.lists(st.integers(min_value=0, max_value=100_000), min_size=1, max_size=24)
)
@settings(max_examples=60, deadline=None)
def test_bar_chart_ink_roundtrip_matches_integer_formula(values):
    """For ANY non-negative integer series, the ink-pixel count
    recovered by DECODING the encoded PNG must equal the closed-form
    integer arithmetic the s05_chart_sink oracle replays in SQL:
    ink = BAR_W * Σ ((v*(H-1))//vmax + 1 for v > 0). This is the
    whole verification chain (rasterize → deflate → unfilter → count)
    pinned pixel-exact, no Spark involved."""
    from echem_dft_etl_spark.operators.plotting import (
        BAR_GAP,
        BAR_HEIGHT,
        BAR_W,
        encode_png_rgb,
        png_ink_stats,
        render_bar_chart,
    )

    w, h, pixels = render_bar_chart(values)
    st_ = png_ink_stats(encode_png_rgb(w, h, pixels))
    vmax = max(values)
    expected = (
        0
        if vmax == 0
        else BAR_W
        * sum((v * (BAR_HEIGHT - 1)) // vmax + 1 for v in values if v > 0)
    )
    assert st_ == {
        "width": len(values) * (BAR_W + BAR_GAP),
        "height": BAR_HEIGHT,
        "ink_px": expected,
    }


@given(
    st.lists(
        st.integers(min_value=-50, max_value=50), min_size=1, max_size=40
    )
)
@settings(max_examples=80, deadline=None)
def test_cusum_reflection_identity(deltas):
    """The windowed form x04_cusum_drift runs —
    ``S_i = P_i - min(0, running_min(P))`` — must equal the direct
    control-chart recursion ``S_i = max(0, S_{i-1} + d_i)`` for every
    delta sequence (the identity that makes CUSUM two stock window
    passes instead of an iterative UDF)."""
    s, direct = 0, []
    for d in deltas:
        s = max(0, s + d)
        direct.append(s)
    pref, prefs = 0, []
    for d in deltas:
        pref += d
        prefs.append(pref)
    run_min, windowed = 0, []
    for pv in prefs:
        run_min = min(run_min, pv)
        windowed.append(pv - min(0, run_min))
    assert windowed == direct


@given(
    st.integers(min_value=-30000, max_value=30000),
    st.integers(min_value=0, max_value=1200),
)
@settings(max_examples=80, deadline=None)
def test_business_day_closed_form_matches_calendar(start, span):
    """The Monday-aligned closed form x07_business_days uses —
    W(d) = 5*((d+3)//7) + min((d+3)%7, 5) - 3 weekdays in [0, d) —
    must equal a literal calendar walk for any epoch-day interval
    (epoch day 0 = Thursday 1970-01-01)."""
    def w(d):
        e = d + 3
        return 5 * (e // 7) + min(e % 7, 5) - 3

    walked = sum(1 for d in range(start, start + span) if (d + 3) % 7 < 5)
    assert w(start + span) - w(start) == walked


@given(
    st.lists(
        st.integers(min_value=0, max_value=25000), min_size=1, max_size=60
    ),
    st.integers(min_value=0, max_value=59),
)
@settings(max_examples=80, deadline=None)
def test_stream_cusum_fold_is_batch_split_invariant(cents, cut):
    """x10_stream_cusum's correctness under ANY micro-batching of an
    in-order stream rests on fold_cusum being split-invariant: folding
    the whole sequence equals folding any prefix, carrying the state,
    then folding the suffix."""
    from echem_dft_etl_spark.streaming.stateful import fold_cusum

    cut = min(cut, len(cents))
    whole = fold_cusum(0, 0, 0, cents, 8000, 30000)
    s1 = fold_cusum(0, 0, 0, cents[:cut], 8000, 30000)
    split = fold_cusum(s1[0], s1[1], s1[2], cents[cut:], 8000, 30000)
    assert whole == split


def test_cusum_alarm_bound_is_strict():
    """fold_cusum counts an alarm only when S EXCEEDS h (strict >,
    matching the batch oracle's WHERE cusum > h): landing exactly ON
    the threshold is not an alarm."""
    from echem_dft_etl_spark.streaming.stateful import fold_cusum

    # k=0 so S accumulates the raw values: 30000 exactly, then 30001
    s, n, m = fold_cusum(0, 0, 0, [30000], 0, 30000)
    assert (s, n, m) == (30000, 0, 30000)
    s, n, m = fold_cusum(s, n, m, [1], 0, 30000)
    assert (s, n, m) == (30001, 1, 30001)


def test_weighted_median_matches_bruteforce(spark):
    """x06_weighted_median's window formulation replayed by brute
    force in Python on a synthetic skewed corpus: the smallest value
    whose inclusive cumulative weight reaches half the total, per
    group — including all-equal-value groups and single-row groups."""
    import random

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    rng = random.Random(7)
    rows = []
    for g in range(6):
        n = rng.choice([1, 2, 5, 40])
        for _ in range(n):
            rows.append(
                (g, rng.choice([100, 100, 250, 999]), rng.randint(1, 9))
            )
    df = spark.createDataFrame(rows, "g int, cents bigint, w bigint")
    wc = Window.partitionBy("g").orderBy("cents")
    wt = Window.partitionBy("g")
    got = {
        r.g: r.med
        for r in df.select(
            "g",
            "cents",
            F.sum("w").over(wc).alias("cum"),
            F.sum("w").over(wt).alias("tot"),
        )
        .filter(F.col("cum") * 2 >= F.col("tot"))
        .groupBy("g")
        .agg(F.min("cents").alias("med"))
        .collect()
    }
    by_g: dict = {}
    for g, cents, w in rows:
        by_g.setdefault(g, []).append((cents, w))
    for g, vals in by_g.items():
        vals.sort()
        tot = sum(w for _, w in vals)
        cum = 0
        for cents, w in vals:
            cum += w
            # peer-inclusive: fold in ALL rows with this value first
            peer_cum = sum(wx for cx, wx in vals if cx <= cents)
            if peer_cum * 2 >= tot:
                assert got[g] == cents, (g, got[g], cents)
                break


def test_funnel_steps_never_count_out_of_order_events(spark):
    """A click BEFORE any view, or a purchase before the first
    qualifying click, must not advance the funnel — the anchored
    strict-> chain distinguishes this query from three independent
    mins. Hand-built timelines pin each depth."""
    from pyspark.sql import functions as F

    rows = [
        # u1: perfect order -> depth 3
        (1, "view", 100), (1, "click", 200), (1, "purchase", 300),
        # u2: click precedes the view -> depth 1 (no qualifying click)
        (2, "click", 50), (2, "view", 100),
        # u3: purchase between view and click -> depth 2
        (3, "view", 100), (3, "purchase", 150), (3, "click", 200),
        # u4: no view at all -> absent from the funnel
        (4, "click", 10), (4, "purchase", 20),
        # u5: second click after view qualifies even though first didn't
        (5, "click", 10), (5, "view", 20), (5, "click", 30),
        (5, "purchase", 40),
    ]
    ev = spark.createDataFrame(
        [(u, t, float(s)) for u, t, s in rows],
        "user_id bigint, event_type string, sec double",
    ).select(
        "user_id", "event_type", F.timestamp_seconds("sec").alias("ts")
    )
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    steps = (
        F.lit(1)
        + F.when(F.col("t2").isNull(), 0).otherwise(1)
        + F.when(F.col("t3").isNull(), 0).otherwise(1)
    )
    got = {
        r.user_id: r.d
        for r in s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select("user_id", steps.alias("d"))
        .collect()
    }
    assert got == {1: 3, 2: 1, 3: 2, 5: 3}


def test_time_weighted_avg_constant_series_is_exact(spark):
    """TWAP algebra: a constant-valued series must give
    twap_num == value * twap_den exactly (bigint identity), and the
    denominator must equal last_t - first_t regardless of how
    irregular the sampling gaps are."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    ts = [0, 1, 5, 50, 51, 1000, 8641]
    df = spark.createDataFrame(
        [(1, i, t, 777) for i, t in enumerate(ts)],
        "user_id bigint, event_id bigint, t bigint, cents bigint",
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    seg = df.withColumn("t_next", F.lead("t").over(w)).filter(
        F.col("t_next").isNotNull()
    )
    row = seg.groupBy("user_id").agg(
        F.sum(F.col("cents") * (F.col("t_next") - F.col("t"))).alias("num"),
        F.sum(F.col("t_next") - F.col("t")).alias("den"),
    ).first()
    assert row.den == ts[-1] - ts[0]
    assert row.num == 777 * row.den


def test_batch_inference_rounds_half_away_from_zero(spark, tmp_path):
    """Exact-half micro values (x*1e6 == k + 0.5) must round HALF AWAY
    FROM ZERO — matching quantize_micro / F.round / the oracle's ROUND.
    np.round is banker's (half-to-even) and silently diverges on them:
    0.0000005 → 0 instead of 1, -0.0000015 → -2 vs... (this fixture
    pins the convention for both signs and both parities)."""
    import duckdb

    from echem_dft_etl_spark.registry import all_queries

    # 64-dim embedding: dims 0-3 carry exact halves, the rest zeros.
    # halves: 0.5, 1.5, -0.5, -1.5 micro → HALF_UP: 1, 2, -1, -2;
    # banker's would give 0, 2, 0, -2.
    vec = [0.0000005, 0.0000015, -0.0000005, -0.0000015] + [0.0] * 60
    sf = str(tmp_path)
    spark.createDataFrame(
        [(1, vec)], "vec_id bigint, embedding array<double>"
    ).write.parquet(f"{sf}/embeddings.parquet")
    spec = all_queries()["x14_batch_inference"]
    got = spec.fn(spark, sf).collect()[0]

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS "
        f"SELECT * FROM read_parquet('{sf}/embeddings.parquet/*.parquet')"
    )
    want = con.execute(spec.oracle).fetchone()
    # weights w_j = ((j*37) % 21) - 10: w_0=-10, w_1=6, w_2=failsafe...
    # the assertion that matters is Spark == oracle on exact halves
    assert (got["vec_id"], got["score_micro"], got["positive"]) == want
    # and the micro quantization itself is HALF_UP: score uses
    # micro = [1, 2, -1, -2] exactly
    w = [((j * 37) % 21) - 10 for j in range(64)]
    expected = 1 * w[0] + 2 * w[1] + (-1) * w[2] + (-2) * w[3]
    assert got["score_micro"] == expected


def test_triangle_counts_match_bruteforce(spark):
    """The r10 single-join closure (edge probe re-derived from the
    checkpointed adjacency, carrying N+(u) map-side) must equal the
    brute-force triple-loop on a random graph that includes hubs,
    isolated edges and multi-triangle fans — per node, exactly."""
    import itertools
    import random

    from echem_dft_etl_spark.operators.components import triangle_counts

    rng = random.Random(41)
    nodes = list(range(40))
    edges = sorted(
        {
            (a, b)
            for a, b in (
                sorted(rng.sample(nodes, 2)) for _ in range(220)
            )
        }
    )
    eset = set(edges)
    want: dict[int, int] = {}
    for a, b, c in itertools.combinations(nodes, 3):
        if (a, b) in eset and (b, c) in eset and (a, c) in eset:
            for v in (a, b, c):
                want[v] = want.get(v, 0) + 1
    pairs = spark.createDataFrame(edges, "a long, b long")
    got = {
        r["v"]: r["n_triangles"]
        for r in triangle_counts(pairs).collect()
    }
    assert got == want
    assert sum(want.values()) > 30, "fixture too sparse to prove anything"


def test_storage_checkpoint_scope_roundtrip(spark):
    """operators/storage.py public API: a CheckpointScope pin holds
    exactly the RDD ids it pinned and stays readable; release frees
    them at once (twice is a no-op, as is release_rdds of unknown ids);
    on a normal exit only the kept pin survives."""
    from echem_dft_etl_spark.operators.storage import (
        CheckpointScope,
        persistent_rdd_ids,
        release_rdds,
    )

    before = persistent_rdd_ids(spark)
    frame = spark.range(1000).selectExpr("id", "id * 2 AS dbl")
    with CheckpointScope(spark) as ck:
        early = ck.pin(frame)
        owned = persistent_rdd_ids(spark) - before
        assert owned, "checkpoint pinned no storage?"
        assert early.count() == 1000
        ck.release(early)
        assert not (owned & persistent_rdd_ids(spark))
        ck.release(early)  # twice: no raise
        kept = ck.keep(ck.pin(frame))
        kept_ids = persistent_rdd_ids(spark) - before
        ck.pin(frame)
    assert persistent_rdd_ids(spark) - before == kept_ids
    assert kept.count() == 1000
    release_rdds(spark, kept_ids)
    # idempotent / unknown ids: no raise
    release_rdds(spark, kept_ids)
    release_rdds(spark, [999_999])
    assert persistent_rdd_ids(spark) == before


def test_storage_checkpoint_scope_frees_a_failed_job(spark):
    """A failed eager checkpoint job leaves its RDD pinned; the scope
    still owns it and frees it on exit, and an exception out of the
    scope frees every pin, kept ones included."""
    from echem_dft_etl_spark.operators.storage import (
        CheckpointScope,
        persistent_rdd_ids,
    )

    before = persistent_rdd_ids(spark)
    # over a range, not local rows, so the optimizer cannot fold the
    # error into the plan; no shuffle, so it fails in the checkpoint job
    bad = spark.range(4).select(
        F.when(F.col("id") == 3, F.raise_error(F.lit("bad row")))
        .otherwise(F.col("id"))
        .alias("id")
    )
    with CheckpointScope(spark) as ck:
        with pytest.raises(Exception, match="bad row"):
            ck.pin(bad)
        assert persistent_rdd_ids(spark) - before
    assert persistent_rdd_ids(spark) == before

    with pytest.raises(Exception, match="bad row"):
        with CheckpointScope(spark) as ck:
            ck.keep(ck.pin(spark.range(10)))
            ck.pin(bad)
    assert persistent_rdd_ids(spark) == before


def _checkpointing_calls(spark):
    """name -> (zero-argument operator call, number of checkpoints its
    result reads), on graphs small enough to run every loop to its end."""
    from echem_dft_etl_spark.operators import components as c
    from echem_dft_etl_spark.operators.dedup import containment_pairs

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "a long, b long"
    )
    k4 = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(a + 1, 4)], "a long, b long"
    )
    directed = chain.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    directed = directed.unionAll(directed.select("dst", "src"))
    tree = spark.createDataFrame(
        [(0, None)] + [(i, i - 1) for i in range(1, 6)], "node long, parent long"
    )
    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f g h")], "doc_id long, text string"
    )
    seeds = spark.createDataFrame([(0,)], "v long")
    return {
        "connected_components": (
            lambda: c.connected_components(
                spark.range(6).select(F.col("id").alias("doc_id")), chain
            ),
            1,
        ),
        "forest_root_depth": (lambda: c.forest_root_depth(tree), 1),
        "integer_pagerank": (
            lambda: c.integer_pagerank(directed, iterations=4), 1
        ),
        "triangle_counts": (lambda: c.triangle_counts(k4), 1),
        # the seed layer and five non-empty layers; the empty sixth goes
        "bfs_distances": (lambda: c.bfs_distances(chain, seeds), 6),
        "kcore_nodes": (lambda: c.kcore_nodes(k4, k=3, rounds=2), 1),
        # the base edges plus each grade's survivors
        "coreness_grid": (
            lambda: c.coreness_grid(k4, ks=(2, 3), rounds=2), 3
        ),
        "containment_pairs": (lambda: containment_pairs(docs), 1),
    }


_CHECKPOINTING_OPERATORS = (
    "bfs_distances",
    "connected_components",
    "containment_pairs",
    "coreness_grid",
    "forest_root_depth",
    "integer_pagerank",
    "kcore_nodes",
    "triangle_counts",
)


@pytest.mark.parametrize("name", _CHECKPOINTING_OPERATORS)
def test_operator_checkpoints_leave_only_what_the_result_reads(
    spark, monkeypatch, name
):
    """Every checkpointing operator owns its pins through one
    CheckpointScope: after a successful call only the checkpoints the
    result reads stay pinned, and a call whose LAST checkpoint fails —
    the point where the most pins are held, kept ones included —
    leaves nothing pinned."""
    from pyspark.sql.classic.dataframe import DataFrame as Classic

    from echem_dft_etl_spark.operators.storage import (
        persistent_rdd_ids,
        release_rdds,
    )

    call, n_kept = _checkpointing_calls(spark)[name]
    orig = Classic.localCheckpoint
    calls = {"n": 0, "fail_at": None}

    def checkpoint(self, eager=True):
        calls["n"] += 1
        out = orig(self, eager=eager)
        if calls["n"] == calls["fail_at"]:
            raise RuntimeError("checkpoint job failed")
        return out

    monkeypatch.setattr(Classic, "localCheckpoint", checkpoint)
    before = persistent_rdd_ids(spark)
    res = call()
    kept = persistent_rdd_ids(spark) - before
    assert len(kept) == n_kept, kept
    res.collect()
    release_rdds(spark, kept)

    calls.update(n=0, fail_at=calls["n"])
    with pytest.raises(RuntimeError, match="checkpoint job failed"):
        call()
    assert persistent_rdd_ids(spark) == before


def test_skyline_two_phase_matches_bruteforce(spark):
    """The distributed two-phase skyline (local per-bucket prefilter →
    global pass on survivors) must equal brute-force dominance on an
    ANTI-CORRELATED corpus where the frontier is dense — the regime
    the registered query's natural corpus doesn't exercise (its
    frontier is ~4 points)."""
    import random

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    rng = random.Random(7)
    # anti-correlated: cheap items are small, expensive are big, with
    # noise — dense Pareto frontier (minimize price, maximize size)
    rows = []
    for i in range(500):
        price = rng.randrange(1, 1000)
        size = price + rng.randrange(-100, 100)
        rows.append((i, price, size))
    want = {
        (i, p, s)
        for i, p, s in rows
        if not any(
            (p2 <= p and s2 >= s and (p2 < p or s2 > s))
            for _, p2, s2 in rows
        )
    }
    assert len(want) > 20, "fixture frontier too thin to prove anything"

    df = spark.createDataFrame(
        rows, "p_partkey bigint, price_cents bigint, sz bigint"
    ).select("p_partkey", "price_cents", (-F.col("sz")).alias("p_size"))

    def skyline(d, bucket=None):
        part = [bucket] if bucket else []
        w_strict = (
            Window.partitionBy(*part)
            .orderBy("price_cents")
            .rangeBetween(Window.unboundedPreceding, -1)
        )
        w_eq = Window.partitionBy(*part, "price_cents")
        return (
            d.withColumn("_sm", F.min("p_size").over(w_strict))
            .withColumn("_em", F.min("p_size").over(w_eq))
            .filter(
                (F.col("p_size") == F.col("_em"))
                & (F.col("_sm").isNull() | (F.col("p_size") < F.col("_sm")))
            )
            .drop("_sm", "_em")
        )

    local = skyline(
        df.withColumn("_bkt", F.pmod(F.col("p_partkey"), F.lit(16))), "_bkt"
    ).drop("_bkt")
    got = {
        (r.p_partkey, r.price_cents, -r.p_size)
        for r in skyline(local).collect()
    }
    assert got == want


def test_boilerplate_shingles_flags_planted_template(spark):
    """A footer stamped on 3+ docs of one source is boilerplate for
    that source only; a doc made ENTIRELY of template scores 1e6 ppm;
    sources without repeats score zero."""
    from echem_dft_etl_spark.operators.textstats import (
        boilerplate_shingle_scores,
    )

    footer = "terms apply contact support email now"  # 6 toks -> 2 5-grams
    rows = [
        # srcA: three docs sharing the footer + unique prose
        (1, "srcA", "alpha beta gamma delta epsilon zeta " + footer),
        (2, "srcA", "one two three four five six seven " + footer),
        (3, "srcA", "red green blue cyan magenta yellow " + footer),
        # srcA: pure-template doc
        (4, "srcA", footer),
        # srcB: same footer but only ONE doc -> not boilerplate there
        (5, "srcB", "lorem ipsum dolor sit amet consectetur " + footer),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
    got = {
        r["doc_id"]: r
        for r in boilerplate_shingle_scores(docs, n=5, min_df=3).collect()
    }
    assert got[4]["n_boiler"] == got[4]["n_shingles"]
    assert got[4]["boiler_ppm"] == 1_000_000
    # the three srcA prose docs share ONLY the footer 5-grams
    assert got[1]["n_boiler"] == 2 and got[1]["boiler_ppm"] > 0
    # srcB never crosses min_df: zero boilerplate despite the same text
    assert got[5]["n_boiler"] == 0 and got[5]["boiler_ppm"] == 0


def test_kcore_peels_tendrils_keeps_clique(spark):
    """A 5-clique with a pendant chain: the 3-core is exactly the
    clique (chain nodes peel in cascade), and every core node's
    core_degree is its within-core degree (4), not its original one."""
    from itertools import combinations

    from echem_dft_etl_spark.operators.components import kcore_nodes

    clique = list(combinations(range(5), 2))
    chain = [(4, 10), (10, 11), (11, 12)]  # pendant path off node 4
    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in clique + chain],
        "a bigint, b bigint",
    )
    got = {
        r["v"]: r["core_degree"]
        for r in kcore_nodes(pairs, k=3, rounds=8).collect()
    }
    assert got == {0: 4, 1: 4, 2: 4, 3: 4, 4: 4}


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)),
        min_size=1,
        max_size=40,
    ),
    st.integers(2, 4),
)
def test_kcore_matches_bruteforce_peel(spark, raw_edges, k):
    """Fixed-round kcore_nodes with a round budget past convergence
    equals the classic peel-to-fixpoint on arbitrary small graphs —
    degrees included. (On ≤15 nodes, peeling converges well inside 12
    rounds: each non-final round removes ≥1 node.)"""
    from echem_dft_etl_spark.operators.components import kcore_nodes

    edges = sorted({(min(a, b), max(a, b)) for a, b in raw_edges if a != b})
    if not edges:
        return
    # brute force: peel until fixpoint
    cur = set(edges)
    while True:
        deg: dict[int, int] = {}
        for a, b in cur:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        keep = {v for v, d in deg.items() if d >= k}
        nxt = {(a, b) for a, b in cur if a in keep and b in keep}
        if nxt == cur:
            break
        cur = nxt
    expect: dict[int, int] = {}
    for a, b in cur:
        expect[a] = expect.get(a, 0) + 1
        expect[b] = expect.get(b, 0) + 1

    pairs = spark.createDataFrame(list(edges), "a bigint, b bigint")
    got = {
        r["v"]: r["core_degree"]
        for r in kcore_nodes(pairs, k=k, rounds=12).collect()
    }
    assert got == expect


def _dup_span_fixture_texts():
    """Deterministic span-sharing corpus: a 200-char span embedded at
    DIFFERENT offsets inside two docs with unique flanks, plus one
    unrelated doc and one below-window doc."""
    import random
    import string

    rng = random.Random(7)

    def chunk(n):
        return "".join(rng.choice(string.ascii_lowercase) for _ in range(n))

    span = chunk(200)
    return {
        0: chunk(50) + span + chunk(50),
        1: chunk(37) + span + chunk(63),
        2: chunk(300),
        3: chunk(10),
    }, span


def test_dup_spans_shift_invariant(spark):
    """The content-defined-anchor contract: a shared span is detected
    with IDENTICAL duplicated-char accounting in every copy no matter
    where the span sits inside each document — anchors are chosen by
    content (hash-gated seed grams), so re-aligning the span cannot
    de-synchronize the sample the way a fixed-stride grid does."""
    from echem_dft_etl_spark.operators.dedup import duplicated_spans

    texts, span = _dup_span_fixture_texts()
    docs = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id bigint, text string"
    )
    rows = {r.doc_id: r for r in duplicated_spans(docs).collect()}
    # only the two span-sharing docs are reported
    assert set(rows) == {0, 1}, sorted(rows)
    # identical accounting in both copies despite different offsets
    assert rows[0].dup_chars == rows[1].dup_chars
    assert rows[0].n_spans == rows[1].n_spans == 1
    # covered chars lie inside the span, with only anchor-phase slack
    # at the boundaries (expected gap ~ mod positions per side)
    assert 140 <= rows[0].dup_chars <= 200
    # integer-exact ppm recomputes from the reported counts
    for r in rows.values():
        assert r.dup_ppm == r.dup_chars * 1_000_000 // r.n_chars


def test_dup_spans_single_char_shift(spark):
    """One inserted byte before one copy must not change what is
    detected (the failure mode of stride grids)."""
    from echem_dft_etl_spark.operators.dedup import duplicated_spans

    texts, span = _dup_span_fixture_texts()
    base = texts[0]
    docs = spark.createDataFrame(
        [(0, base), (1, "Z" + base)], "doc_id bigint, text string"
    )
    rows = {r.doc_id: r for r in duplicated_spans(docs).collect()}
    assert set(rows) == {0, 1}
    assert rows[0].dup_chars == rows[1].dup_chars
    # the whole 300-char doc is shared content
    assert rows[0].dup_chars >= 240


def test_dup_spans_requires_cross_document_repeat(spark):
    """Within-doc repetition alone is NOT cross-doc duplication (that
    signal belongs to t13_repetition): a doc made of an internally
    repeated block reports nothing unless another doc shares it."""
    from echem_dft_etl_spark.operators.dedup import duplicated_spans

    import random
    import string

    rng = random.Random(11)
    block = "".join(rng.choice(string.ascii_lowercase) for _ in range(80))
    other = "".join(rng.choice(string.ascii_lowercase) for _ in range(300))
    docs = spark.createDataFrame(
        [(0, block * 4), (1, other)], "doc_id bigint, text string"
    )
    assert duplicated_spans(docs).count() == 0


def test_dup_spans_excise_keeper_survives(spark):
    """Excision removes the span only from the NON-canonical copy: the
    minimum-doc_id holder of the shared content keeps its text
    byte-identical, and the other copy loses exactly the chars the
    accounting query attributes to it."""
    from echem_dft_etl_spark.operators.dedup import (
        duplicated_spans,
        excise_duplicated_spans,
    )

    texts, span = _dup_span_fixture_texts()
    docs = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id bigint, text string"
    )
    acct = {r.doc_id: r for r in duplicated_spans(docs).collect()}
    ex = {r.doc_id: r for r in excise_duplicated_spans(docs).collect()}
    assert set(ex) == set(texts)  # every doc comes back
    assert ex[0].clean_text == texts[0] and ex[0].removed_chars == 0
    assert ex[1].removed_chars == acct[1].dup_chars
    # untouched docs pass through byte-identical
    assert ex[2].clean_text == texts[2] and ex[3].clean_text == texts[3]
    for r in ex.values():
        assert r.clean_chars == len(r.clean_text)
        assert r.removed_chars == r.n_chars - r.clean_chars


def test_dup_spans_excise_idempotent(spark):
    """A second excision pass over the cleaned corpus removes nothing:
    the surviving canonical copies are unique by construction."""
    from echem_dft_etl_spark.operators.dedup import excise_duplicated_spans

    texts, _ = _dup_span_fixture_texts()
    docs = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id bigint, text string"
    )
    once = excise_duplicated_spans(docs).select(
        "doc_id", F.col("clean_text").alias("text")
    )
    twice = excise_duplicated_spans(once).collect()
    assert sum(r.removed_chars for r in twice) == 0


def _lpa_bruteforce(edges, rounds):
    """Reference synchronous LPA: most-frequent neighbor label, ties
    to the smallest label, all nodes updated from the PREVIOUS round."""
    nbrs = {}
    for a, b in edges:
        nbrs.setdefault(a, []).append(b)
        nbrs.setdefault(b, []).append(a)
    labels = {v: v for v in nbrs}
    for _ in range(rounds):
        nxt = {}
        for v, ns in nbrs.items():
            counts = {}
            for u in ns:
                counts[labels[u]] = counts.get(labels[u], 0) + 1
            best = max(counts.items(), key=lambda kv: (kv[1], -kv[0]))
            nxt[v] = best[0]
        labels = nxt
    return labels


def test_label_communities_matches_bruteforce(spark):
    """Planted two-clique-plus-bridge graph: the operator must equal
    reference synchronous LPA round-for-round semantics (most-frequent
    neighbor, min-label ties) and separate the cliques."""
    import itertools

    from echem_dft_etl_spark.operators.components import label_communities

    c1 = list(itertools.combinations(range(0, 5), 2))
    c2 = list(itertools.combinations(range(10, 15), 2))
    edges = c1 + c2 + [(4, 10)]  # one bridge
    for rounds in (1, 2, 3):
        expect = _lpa_bruteforce(edges, rounds)
        df = spark.createDataFrame(edges, "a bigint, b bigint")
        got = {
            r.v: r.community
            for r in label_communities(df, rounds=rounds).collect()
        }
        assert got == expect, (rounds, got, expect)
    # 3-round labeling separates the two cliques
    final = _lpa_bruteforce(edges, 3)
    assert final[0] == final[4] and final[10] == final[14]
    assert final[0] != final[10]


def test_co_order_pairs_matches_the_self_join(spark):
    """Edge cases the parity data need not contain: a part repeated
    within one order (no self-pair, no double count), a one-line order
    (no pairs) and a pair co-occurring in two orders (listed once).
    The helper must equal the naive ``l1.l_partkey < l2.l_partkey``
    self-join, with each pair once."""
    from echem_dft_etl_spark.operators.components import co_order_pairs

    lineitem = spark.createDataFrame(
        [(1, 10), (1, 20), (1, 10), (1, 30), (2, 40), (3, 20), (3, 10)],
        "l_orderkey bigint, l_partkey bigint",
    )
    l1, l2 = lineitem.alias("l1"), lineitem.alias("l2")
    naive = {
        (r.a, r.b)
        for r in l1.join(
            l2,
            (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
            & (F.col("l1.l_partkey") < F.col("l2.l_partkey")),
        )
        .select(F.col("l1.l_partkey").alias("a"), F.col("l2.l_partkey").alias("b"))
        .collect()
    }
    got = [(r.a, r.b) for r in co_order_pairs(lineitem).collect()]
    assert len(got) == len(set(got))
    assert set(got) == naive == {(10, 20), (10, 30), (20, 30)}


def test_identical_oracles_share_one_definition():
    """Queries whose oracles are the same SQL must be registered with
    one named constant, so the twins cannot drift apart."""
    from echem_dft_etl_spark.registry import all_queries

    first: dict[str, tuple[str, str]] = {}
    for name, spec in all_queries().items():
        text = " ".join(spec.oracle.split())
        if text in first:
            twin, oracle = first[text]
            assert spec.oracle is oracle, f"{name} pastes {twin}'s oracle"
        else:
            first[text] = (name, spec.oracle)
