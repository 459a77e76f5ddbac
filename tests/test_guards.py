"""Degenerate-parameter sweep (VERDICT r9 item 7): every public
operator with a division/sequence/replication/fraction parameter must
REJECT its degenerate values with a ValueError naming the parameter —
the silent-failure class these prevent is a zero/negative width that
Spark folds into NULL keys, empty sequences or division-by-zero,
yielding an empty-or-wrong result instead of an error (the
grid_near_join cell guard and binned-join ``bin_width`` precedents).

These tests are plan-time only: every guard fires before any job
runs, so a lazy frame argument is enough.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

# (callable factory, kwargs, match) — factory defers imports so one
# broken module doesn't take down the whole sweep's collection.


def _emb(spark):
    return spark.createDataFrame(
        [(1, [1.0] * 64)], "vec_id bigint, embedding array<double>"
    )


def _docs(spark):
    return spark.createDataFrame(
        [(1, "hello world text")], "doc_id bigint, text string"
    )


def _edges(spark):
    return spark.createDataFrame([(1, 2)], "src bigint, dst bigint")


def _payload(spark):
    return spark.createDataFrame(
        [(1, bytearray(b"0123456789abcdef"))], "doc_id bigint, payload binary"
    )


def test_similarity_guards(spark):
    from echem_dft_etl_spark.operators import similarity as s

    emb = _emb(spark)
    with pytest.raises(ValueError, match="n_planes"):
        s.lsh_bucket(F.col("embedding"), n_planes=0)
    with pytest.raises(ValueError, match="n_planes"):
        s.lsh_bucket(F.col("embedding"), n_planes=63)  # 1<<63 overflows
    with pytest.raises(ValueError, match="k must"):
        s.cosine_topk(emb, [1], k=0)
    with pytest.raises(ValueError, match="threshold"):
        s.cosine_near_pairs(emb, threshold=1.5)
    with pytest.raises(ValueError, match="n_blocks"):
        s.cosine_near_pairs(emb, threshold=0.9, n_blocks=0)
    with pytest.raises(ValueError, match="k must"):
        s.ann_lsh_topk(emb, [1], k=0)
    with pytest.raises(ValueError, match="k must"):
        s.ann_lsh_multiprobe_topk(emb, [1], k=-1)
    with pytest.raises(ValueError, match="n_cells"):
        s.ivf_topk(emb, [1], n_cells=0)
    with pytest.raises(ValueError, match="n_probe"):
        s.ivf_topk(emb, [1], n_probe=0)
    with pytest.raises(ValueError, match="bits"):
        s.quantize_embeddings(emb, bits=1)  # qmax=0 → divide-by-zero scale
    with pytest.raises(ValueError, match="n_bands"):
        s.band_signatures(F.col("embedding"), n_bands=0, band_bits=8)
    with pytest.raises(ValueError, match="band_bits"):
        s.band_signatures(F.col("embedding"), n_bands=4, band_bits=63)
    with pytest.raises(ValueError, match="threshold"):
        s.lsh_near_pairs(emb, threshold=2.0)
    with pytest.raises(ValueError, match="k must"):
        s.semdedup(emb, k=0)
    with pytest.raises(ValueError, match="threshold"):
        s.semdedup(emb, threshold=-2.0)
    with pytest.raises(ValueError, match="k must"):
        s.cosine_topk_pandas(emb, [1], k=0)
    # the PQ lanes: once silently empty (k, n_cells, n_probe = 0) or a
    # bare ZeroDivisionError (n_sub = 0)
    with pytest.raises(ValueError, match="k must"):
        s.pq_topk(emb, [1], k=0)
    with pytest.raises(ValueError, match="n_sub"):
        s.pq_topk(emb, [1], n_sub=0)
    with pytest.raises(ValueError, match="k must"):
        s.ivfpq_topk(emb, [1], k=0)
    with pytest.raises(ValueError, match="n_cells"):
        s.ivfpq_topk(emb, [1], n_cells=0)
    with pytest.raises(ValueError, match="n_probe"):
        s.ivfpq_topk(emb, [1], n_probe=0)
    with pytest.raises(ValueError, match="n_sub"):
        s.ivfpq_topk(emb, [1], n_sub=0)
    with pytest.raises(ValueError, match="n_cells"):
        s.ivfpq_build_index(emb, n_cells=0)
    with pytest.raises(ValueError, match="n_sub"):
        s.ivfpq_build_index(emb, n_sub=0)


def test_dedup_guards(spark):
    from echem_dft_etl_spark.operators import dedup as d

    docs = _docs(spark)
    for fn in (d.doc_shingles, d.doc_shingle_arrays, d.doc_shingles_local):
        with pytest.raises(ValueError, match="n must"):
            fn(docs, n=0)
    with pytest.raises(ValueError, match="n_perms"):
        d.minhash_signatures(d.doc_shingles(docs), n_perms=0)
    with pytest.raises(ValueError, match="bits"):
        d.simhash_signatures(docs, bits=0)
    with pytest.raises(ValueError, match="bits"):
        d.simhash_signatures_arrow(docs, bits=63)
    with pytest.raises(ValueError, match="max_hamming"):
        d.simhash_near_pairs(docs, max_hamming=-1)
    with pytest.raises(ValueError, match="threshold"):
        d.ngram_jaccard_pairs(docs, threshold=1.1)
    with pytest.raises(ValueError, match="shingle_n"):
        d.ngram_jaccard_pairs(docs, threshold=0.5, shingle_n=0)


def test_graph_guards(spark):
    from echem_dft_etl_spark.operators import components as c

    edges = _edges(spark)
    verts = spark.createDataFrame([(1,), (2,)], "doc_id bigint")
    with pytest.raises(ValueError, match="max_rounds"):
        c.connected_components(verts, edges, src_col="src", dst_col="dst",
                               max_rounds=0)
    with pytest.raises(ValueError, match="iterations"):
        c.integer_pagerank(edges, iterations=0)
    with pytest.raises(ValueError, match="node_mass"):
        c.integer_pagerank(edges, node_mass=0)
    with pytest.raises(ValueError, match="damp_num"):
        c.integer_pagerank(edges, damp_num=25, damp_den=20)
    with pytest.raises(ValueError, match="max_hops"):
        c.bfs_distances(edges, verts.select(F.col("doc_id").alias("v")),
                        max_hops=0)


def test_scale_guards(spark):
    from echem_dft_etl_spark.operators import scale as sc

    a = spark.createDataFrame([(1, 2)], "k bigint, v bigint")
    with pytest.raises(ValueError, match="n_salts"):
        sc.salted_join(a, a, "k", n_salts=0)
    with pytest.raises(ValueError, match="n_buckets"):
        sc.write_bucketed(a, "t_guard", "k", n_buckets=0)
    with pytest.raises(ValueError, match="accuracy"):
        sc.grouped_percentiles_with_guard(a, ["k"], "v", [0.5], accuracy=0)
    with pytest.raises(ValueError, match="quantile"):
        sc.grouped_percentiles_with_guard(a, ["k"], "v", [1.5])
    with pytest.raises(ValueError, match="non-empty"):
        sc.grouped_percentiles_with_guard(a, ["k"], "v", [])
    with pytest.raises(ValueError, match="num_partitions"):
        sc.missing_key_ranges(a, "k", num_partitions=0)
    with pytest.raises(ValueError, match="window_days"):
        sc.rolling_distinct_hll(a, "k", F.col("v"), window_days=0)
    with pytest.raises(ValueError, match="lgk"):
        sc.rolling_distinct_hll(a, "k", F.col("v"), lgk=1)
    with pytest.raises(ValueError, match="n_bits"):
        sc.bloom_prefilter(a, "k", a, "k", n_bits=0)
    with pytest.raises(ValueError, match="n_hashes"):
        sc.bloom_prefilter(a, "k", a, "k", n_hashes=0)


def test_sessions_and_multimodal_guards(spark):
    from echem_dft_etl_spark.operators import multimodal as mm
    from echem_dft_etl_spark.operators import sessions as ss

    ev = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00")], "user_id bigint, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    with pytest.raises(ValueError, match="gap_minutes"):
        ss.sessionize(ev, gap_minutes=0)
    pay = _payload(spark)
    with pytest.raises(ValueError, match="frame_size"):
        mm.sample_frames(pay, frame_size=0)
    with pytest.raises(ValueError, match="stride"):
        mm.sample_frames(pay, stride=0)
    with pytest.raises(ValueError, match="stride"):
        mm.sample_y4m_frames(pay, stride=0)
    with pytest.raises(ValueError, match="window"):
        mm.chunk_audio(pay, window=0)
    with pytest.raises(ValueError, match="hop"):
        mm.chunk_audio(pay, hop=0)
    with pytest.raises(ValueError, match="min_mean_delta"):
        mm.y4m_scene_cuts(pay, min_mean_delta=-1)


def test_guards_accept_boundary_values(spark):
    """The guards must not over-reject: the minimal LEGAL value of each
    parameter builds a plan without raising (lazy — no job runs)."""
    from echem_dft_etl_spark.operators import dedup as d
    from echem_dft_etl_spark.operators import scale as sc
    from echem_dft_etl_spark.operators import similarity as s

    emb, docs = _emb(spark), _docs(spark)
    s.lsh_bucket(F.col("embedding"), n_planes=1)
    s.cosine_topk(emb, [1], k=1)
    s.quantize_embeddings(emb, bits=2)
    s.band_signatures(F.col("embedding"), n_bands=1, band_bits=1)
    d.doc_shingles(docs, n=1)
    d.ngram_jaccard_pairs(docs, threshold=0.0, shingle_n=1)
    a = spark.createDataFrame([(1, 2)], "k bigint, v bigint")
    sc.salted_join(a, a.withColumnRenamed("v", "v2"), "k", n_salts=1)
    sc.grouped_percentiles_with_guard(a, ["k"], "v", [0.0, 1.0], accuracy=1)
