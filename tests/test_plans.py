"""Physical-plan assertions: the scale properties SURVEY §4 promises
(pushdown, pruning, broadcast strategy, codegen) must be visible in
``explain`` output, not assumed — via the ``plans`` inspection API."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from echem_dft_etl_spark import plans
from echem_dft_etl_spark.registry import all_queries
from echem_dft_etl_spark.sources import load_table
from tests.conftest import SF_SMOKE


def _q(spark, name):
    return all_queries()[name].fn(spark, SF_SMOKE)


def test_filter_pushdown_reaches_scan(spark):
    df = _q(spark, "q01_pushdown_scan")
    plans.assert_pushed_filters(df, ["l_shipdate", "l_quantity"])


def test_column_pruning_reaches_scan(spark):
    df = _q(spark, "q01_pushdown_scan")
    plans.assert_read_columns(
        df,
        present=["l_extendedprice"],
        absent=["l_returnflag", "l_comment"],
    )


def test_keylist_scan_pushes_in_filter(spark):
    df = _q(spark, "q02_keylist_scan")
    pushed = plans.pushed_filters(df)
    assert any(p.startswith("In(p_partkey") for p in pushed), pushed


def test_dim_joins_are_broadcast(spark):
    for name in ("q17_multi_join", "echem_flagship"):
        df = _q(spark, name)
        plans.assert_broadcast_join(df)
        plans.assert_no_sort_merge_join(df)


def test_flagship_single_shuffle_agg(spark):
    """The flagship fit is partial-agg -> one exchange -> final agg;
    no window, no extra shuffle before the dim joins."""
    df = _q(spark, "echem_flagship")
    plans.assert_single_shuffle_agg(df)
    assert not plans.has_operator(df, r"\bWindow\b")


def test_whole_stage_codegen_covers_scan_filter(spark):
    plans.assert_wholestage_codegen(_q(spark, "q08_scalar_arithmetic"))


def test_range_join_is_broadcast_nested_loop(spark):
    assert plans.has_operator(
        _q(spark, "x05_range_join"), "BroadcastNestedLoopJoin"
    )


def test_topk_avoids_global_sort(spark):
    df = _q(spark, "x01_topk_orders")
    assert plans.has_operator(df, "TakeOrderedAndProject"), plans.physical_plan(df)


def test_nested_pruning_on_struct_projection(spark):
    ev = load_table(spark, SF_SMOKE, "events")
    df = ev.select(F.struct("user_id", "event_type").alias("s")).select("s.user_id")
    plans.assert_read_columns(df, absent=["event_type"])


def test_nested_schema_pruning_on_materials_parquet(spark, tmp_path):
    """SURVEY §7 hard part: a query touching only subfields of the
    nested materials model (lattice 3x3 + sites array<struct>) must
    prune the parquet ReadSchema to those subfields — at 100 TB reading
    the full site structs for a z-coordinate query is the difference
    between a column scan and the whole table."""
    from echem_dft_etl_spark.registry import nested_materials

    path = str(tmp_path / "materials")
    nested_materials(spark, SF_SMOKE).write.mode("overwrite").parquet(path)
    mats = spark.read.parquet(path)

    # subfield-only query: mean site z per material. NOTE the idiom:
    # extract the subfield ARRAY first (sites.z → GetArrayStructFields,
    # which NestedColumnAliasing pushes into the scan); referencing
    # s["z"] inside a higher-order lambda over the full struct array
    # defeats pruning (verified — the ReadSchema then carries every
    # subfield).
    q = mats.select(
        "material_id",
        (
            F.aggregate(F.col("sites.z"), F.lit(0.0), lambda a, v: a + v)
            / F.size("sites.z").cast("double")
        ).alias("mean_z"),
    )
    plan = plans.physical_plan(q)
    read = plan.split("ReadSchema:")[-1]
    assert "sites:array<struct<z:double>>" in read, plan
    # the untouched subfields and the lattice must NOT be read
    for absent in ("element", "suppkey", "lattice"):
        assert absent not in read, (absent, read)
    assert q.count() > 0


def test_partition_pruning_on_partitioned_store(spark, tmp_path):
    """S1 sink at scale: a key-partitioned store must prune untouched
    partitions at read time (PartitionFilters, not data filters)."""
    src = spark.range(100).select(
        (F.col("id") % 10).cast("string").alias("bucket"), F.col("id").alias("v")
    )
    path = str(tmp_path / "store")
    src.write.mode("overwrite").partitionBy("bucket").parquet(path)
    df = spark.read.parquet(path).filter(F.col("bucket") == "3")
    plan = plans.physical_plan(df)
    m = re.search(r"PartitionFilters:\s*\[([^\]]*)\]", plan)
    assert m and "bucket" in m.group(1), plan
    assert df.count() == 10


def test_plan_summary_flagship(spark):
    s = plans.plan_summary(_q(spark, "echem_flagship"))
    assert s["broadcast_joins"] == 2
    assert s["sort_merge_joins"] == 0
    assert s["shuffle_exchanges"] <= 1
    assert s["cartesian_products"] == 0
    assert s["aqe"] is True
    # codegen spans only materialize once AQE finalizes stages, so they
    # are asserted on a non-AQE plan in the codegen test above
    assert any("l_suppkey" in c or "l_quantity" in c for c in s["read_schema"])


def test_pushed_filter_parser_handles_nested_commas(spark):
    df = load_table(spark, SF_SMOKE, "part").filter(
        F.col("p_partkey").isin(1, 2, 3) & (F.col("p_size") > 1)
    )
    pushed = plans.pushed_filters(df)
    in_preds = [p for p in pushed if p.startswith("In(p_partkey")]
    assert len(in_preds) == 1, pushed  # one predicate despite inner commas


def test_engine_wide_plan_hygiene(spark):
    """Every batch query in the registry must plan without cartesian
    products and within a shuffle/window budget — the blanket guard
    against a refactor silently de-optimizing an operator."""
    # streaming queries materialize before returning (their batch plan
    # is a table scan of the memory sink), and the e2e pipeline executes
    # the whole dataflow with sinks — running them here would be
    # execution, not plan inspection
    not_plan_inspectable = {
        "x10_stream_tumbling",
        "x10_stream_sliding",
        "x10_stream_sessions",
        "x10_stream_dedup_keys",
        "x10_stream_stateful_profile",
        "x10_stream_static_join",
        "x10_stream_stream_join",
        "x10_stream_outer_join",
        "x10_stream_near_dup",
        "x10_stream_dup_spans",
        "pipeline_reference_e2e",
    }
    # static-plan budgets above the default: the df-cut window in d14
    # sits below the shingle index's four consumers (sa, sb, sizes ×2),
    # so its one exchange+window prints four times in the static plan
    # (AQE stage reuse collapses them at runtime); d16's k-means
    # assignment subtree (~5 exchanges: posexplode groupBy, centroid
    # re-agg, cell join) likewise prints three times — pair-left,
    # pair-right, and the final keep-verdict join all consume the same
    # (vec_id, cell) lineage
    # d20 composes five stages (quality gate, exact dedup, LSH near-dup,
    # decontamination, per-source attrition) into ONE returned plan;
    # upstream stages are checkpoint-truncated (without that the naive
    # composition printed 128 exchanges), and the remaining ~13 are the
    # decontaminate chain + four attrition joins + final agg — inherent
    # to a multi-stage pipeline, not a de-optimization
    # x05_triangle_counts: the canonical pair list (self-join +
    # distinct, 3 exchanges) feeds four consumers (sym x2, ranked, the
    # closing join) and the degree frame feeds two aliased joins, so
    # the static plan prints ~23 exchanges; the identical pair
    # subtrees collapse to one stage at runtime (ReusedExchange), the
    # same static-vs-runtime multiplicity as d14/d16
    # d26_containment_pairs is d14's join shape emitted in BOTH
    # directions via a union, so every d14 static multiplicity doubles
    # (8 window prints = 2 directions x 4 index consumers, ~22
    # exchanges); the branches share one lineage and collapse to the
    # same runtime stages via ReusedExchange, exactly as for d14
    # x05_label_communities: the 3-round synchronous LPA loop is ONE
    # lazy plan by design (a shallow fixed prefix is one job; per-round
    # eager checkpoints cost rounds+1 job submissions — see the
    # operator docstring), so the static plan prints the pair
    # construction once per round-reference (2·rounds sym legs) plus
    # the per-round exchanges — ~35 prints (down from ~48 before round
    # 1's closed-form min-neighbor replaced the label-init distinct +
    # first join + first-round aggregations) that collapse to one
    # construction stage + per-round stages via ReusedExchange, the
    # d14/d16/x05_triangle static-vs-runtime multiplicity
    exchange_budget = {
        "d14_ngram_jaccard": 12,
        "d16_semdedup": 18,
        "d20_training_pipeline": 16,
        "x05_triangle_counts": 24,
        "d26_containment_pairs": 24,
        "x05_label_communities": 40,
    }
    # x01_skyline_pareto: the two-phase distributed skyline runs TWO
    # windows per phase (strict-cheaper range min + equal-price min,
    # sharing one sort) × two phases — the second phase's frame is the
    # provably-small survivor set, so 4 static windows is the design,
    # not a de-optimization
    window_budget = {
        "d14_ngram_jaccard": 4,
        "d26_containment_pairs": 8,
        "x01_skyline_pareto": 4,
    }
    offenders = []
    # Plan-truncation boundaries are summarized as they are crossed
    # (plans.query_plan_summaries, shared with scripts/plan_report.py):
    # write-then-read-back queries end in a LocalRelation and iterative
    # operators in a LogicalRDD, so a cartesian/unbounded-BNLJ in an
    # INTERMEDIATE stage would be invisible on the returned frame
    # alone (the s04 manifest crossJoin hid exactly there).
    for name, spec in sorted(all_queries().items()):
        if name in not_plan_inspectable:
            continue
        s, captured = plans.query_plan_summaries(spec.fn, spark, SF_SMOKE)
        for part in captured:
            if part["cartesian_products"]:
                offenders.append((name, "cartesian-intermediate", part))
            s["bnlj_bounds"] = list(s["bnlj_bounds"]) + list(
                part["bnlj_bounds"]
            )
        if s["cartesian_products"]:
            offenders.append((name, "cartesian", s))
        if s["shuffle_exchanges"] > exchange_budget.get(name, 10):
            offenders.append((name, "exchanges", s["shuffle_exchanges"]))
        if s["windows"] > window_budget.get(name, 3):
            offenders.append((name, "windows", s["windows"]))
        # Every BroadcastNestedLoopJoin must carry a Catalyst-PROVABLE
        # build-side cardinality bound (one-row stats frame or a
        # limited literal dim) — "benign by inspection" stopped being
        # acceptable when the r8 'zero BNLJ' claim proved wrong
        # (VERDICT r9 item 4). An unbounded build side is the
        # data-sized broadcast that dies at 100 TB.
        unbounded = [
            b for b in s["bnlj_bounds"] if b["class"] == "unbounded"
        ]
        if unbounded:
            offenders.append((name, "bnlj-unbounded", unbounded))
    assert not offenders, offenders


def test_pair_queries_have_no_nested_loop(spark):
    """The near-pair queries must plan as banded/blocked equi-joins —
    a BroadcastNestedLoopJoin here is the O(n²) all-pairs shape that
    dies at scale (VERDICT r1 items 1-2)."""
    for name in (
        "d13_simhash_pairs",
        "s12_cosine_near_pairs",
        "s12_near_pairs_pruned",
    ):
        df = _q(spark, name)
        plan = plans.physical_plan(df)
        assert "BroadcastNestedLoopJoin" not in plan, (name, plan)
        assert "CartesianProduct" not in plan, (name, plan)


def test_correlated_subquery_is_decorrelated(spark):
    """Catalyst must rewrite the per-row correlated subquery into an
    aggregate + equi-join — a nested-loop or cartesian in the plan
    would mean per-row re-execution."""
    df = _q(spark, "sql_correlated_subquery")
    plan = plans.physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plans.has_operator(df, r"HashAggregate"), plan
    assert plans.has_operator(df, r"Join"), plan


def test_runtime_bloom_filter_prunes_probe_side(spark):
    """Runtime Bloom-filter join pruning (enabled in get_session): with
    the size thresholds lowered to test-data volume, a selective dim
    filter must inject a might_contain() predicate on the fact scan —
    the probe side is pruned before the shuffle."""
    key = "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    prev = spark.conf.get(key)
    bj = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set(key, "0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = load_table(spark, SF_SMOKE, "lineitem")
        orders = load_table(spark, SF_SMOKE, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
            "l_orderkey", "l_extendedprice"
        )
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in opt, opt
    finally:
        spark.conf.set(key, prev)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bj)


def test_bm25_plan_shape(spark):
    """BM25 must plan as: two pushed scans of (doc_id, text), ONE
    shuffle (the one-row corpus-stats aggregate), the stats broadcast
    back, and TakeOrderedAndProject for the top-k — no global sort, no
    data-sized join."""
    from echem_dft_etl_spark.operators.retrieval import bm25_topk

    q = bm25_topk(
        load_table(spark, SF_SMOKE, "documents"), ("spark", "merge"), 10
    )
    s = plans.plan_summary(q)
    assert s["shuffle_exchanges"] == 1, s
    assert s["sort_merge_joins"] == 0 and s["cartesian_products"] == 0, s
    p = plans.physical_plan(q)
    assert "TakeOrderedAndProject" in p, p


def test_r4_operator_plan_shapes(spark):
    """The round-4 operators' load-bearing plan properties, pinned:
    the samplers and the gate are shuffle-free per-row plans, the
    incremental dedup broadcasts the batch side, and the threshold
    sampler needs no window (that absence IS its scale story vs the
    exact form)."""
    # mixture sampling: pure pushed filter — zero exchanges
    s = plans.plan_summary(_q(spark, "d17_mixture_sample"))
    assert s["shuffle_exchanges"] == 0 and s["windows"] == 0
    # composite quality gate: one scan, zero shuffles
    s = plans.plan_summary(_q(spark, "t13_quality_gate"))
    assert s["shuffle_exchanges"] == 0 and s["windows"] == 0
    # threshold sampler: count-agg + broadcast cutoffs, NO window
    s = plans.plan_summary(_q(spark, "q11_threshold_sample"))
    assert s["windows"] == 0 and s["broadcast_joins"] >= 1
    # incremental dedup: batch side broadcast, no cartesian
    p = plans.physical_plan(_q(spark, "d18_incremental_dedup"))
    assert "BroadcastHashJoin" in p and "CartesianProduct" not in p
    # json quarantine: scan + one aggregation exchange, no join at all
    s = plans.plan_summary(_q(spark, "x08_json_quarantine"))
    assert s["shuffle_exchanges"] <= 1 and s["broadcast_joins"] == 0


def test_shipping_priority_is_take_ordered(spark):
    """TPC-H Q3 shape: the top-10 must resolve as TakeOrderedAndProject
    (per-partition k candidates merged on the driver), never a global
    sort materialization."""
    from echem_dft_etl_spark.registry import all_queries
    from echem_dft_etl_spark.plans.inspect import physical_plan
    from tests.conftest import SF_SMOKE

    df = all_queries()["sql_surface_shipping_priority"].fn(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_large_orders_in_subquery_becomes_semi_join(spark):
    """TPC-H Q18 shape: the aggregated IN-subquery must plan as a
    (left semi) join against the grouped subquery, not a per-row
    subquery execution."""
    from echem_dft_etl_spark.registry import all_queries
    from echem_dft_etl_spark.plans.inspect import physical_plan
    from tests.conftest import SF_SMOKE

    df = all_queries()["sql_surface_large_orders"].fn(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "LeftSemi" in plan
    assert "TakeOrderedAndProject" in plan


def test_clustered_layout_read_pushes_range_filter(spark, tmp_path):
    """The s01_sorted_layout_scan claim, pinned: a range predicate on
    the clustering column reaches the parquet scan of the re-written
    layout as PushedFilters (with non-overlapping per-file shipdate
    bands, that is what turns the pushdown into file-level skipping)."""
    from pyspark.sql import functions as F

    from echem_dft_etl_spark.plans.inspect import pushed_filters
    from echem_dft_etl_spark.sources import load_table
    from echem_dft_etl_spark.sources.sinks import write_clustered
    from tests.conftest import SF_SMOKE

    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_shipdate", "l_quantity"
    )
    out = str(tmp_path / "clustered")
    write_clustered(li, out, "l_shipdate", n_ranges=4)
    back = spark.read.parquet(out).filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    pushed = " ".join(pushed_filters(back))
    assert "l_shipdate" in pushed
    assert back.count() > 0


def test_r4b_operator_plan_shapes(spark):
    """Plan pins for the second-half round-4 additions: the grouping
    sets expand into ONE aggregation pipeline, the funnel chain keeps
    every stage on the user_id key, the SCD2 build is a single
    shuffle with both windows sharing it, and the two-phase global
    row numbering never global-sorts the full data through one task."""
    # grouping sets: one Expand node, one shuffle agg for all 3 sets
    df = _q(spark, "x03_grouping_sets")
    p = plans.physical_plan(df)
    assert p.count("Expand") >= 1
    s = plans.plan_summary(df)
    assert s["shuffle_exchanges"] == 1, s
    # cohort retention: the window runs over the collapsed activity
    # matrix, not raw events — no join back to the source
    s = plans.plan_summary(_q(spark, "x07_cohort_retention"))
    assert s["windows"] == 1 and s["sort_merge_joins"] == 0, s
    # SCD2: LAG filter + version/LEAD windows share one o_custkey
    # exchange — a single shuffle end-to-end
    df = _q(spark, "s03_scd2_history")
    s = plans.plan_summary(df)
    assert s["shuffle_exchanges"] == 1, s
    # global rownum: only partition-local windows (both PARTITION BY:
    # pid for the data pass, the offset table's window is over the
    # ~32-row counts frame), offsets joined by broadcast
    df = _q(spark, "x01_global_rownum")
    p = plans.physical_plan(df)
    assert "BroadcastHashJoin" in p
    # exactly two Window nodes: the data-pass row_number MUST be
    # partitioned by pid (partition-local, parallel); the only
    # unpartitioned window is the offset cumsum over the ~32-row
    # per-partition counts frame — never the full data
    import re as _re

    specs = _re.findall(r"windowspecdefinition\(([^)]*)\)", p)
    assert len(specs) == 2, specs
    # data pass: "pid#N, o_orderkey#M ASC..." — pid is the PARTITION
    # expression, the order key follows it
    data_specs = [sp for sp in specs if "o_orderkey" in sp]
    assert len(data_specs) == 1 and _re.match(r"pid#\d+,", data_specs[0].lstrip()), specs
    # offsets pass: pid is the SORT key ("pid#N ASC"), no partitioning
    off_specs = [sp for sp in specs if "o_orderkey" not in sp]
    assert len(off_specs) == 1 and _re.match(r"pid#\d+ ASC", off_specs[0].lstrip()), specs
    # r5: pid is a LITERAL monotone bucket expression (quantile cuts
    # baked into the plan as constants), NOT spark_partition_id() over
    # a sampled range exchange — so the window branch and the counts
    # branch cannot observe divergent assignments if exchange reuse
    # misses (the r4 ADVICE seam-correctness hazard). The plan must
    # contain the comparison cascade and no runtime-pid dependency.
    assert "spark_partition_id" not in p.lower(), p[:500]
    assert "rangepartitioning" not in p.lower(), p[:500]
    assert p.lower().count("o_orderkey") >= 2  # cut comparisons inline


def test_r4c_operator_plan_shapes(spark):
    """Plan pins for the late round-4 operators: the token-budget mix
    tokenizes once with both windows on one source exchange, the
    source-overlap matrix never self-joins the shingle index, and the
    difficulty buckets broadcast a single cutoff array instead of a
    global-order window."""
    # d22: per-source total + running prefix share ONE Window node
    # after one exchange (same partition key)
    df = _q(spark, "d22_token_budget_mix")
    s = plans.plan_summary(df)
    assert s["windows"] <= 2 and s["sort_merge_joins"] == 0, s
    p = plans.physical_plan(df)
    # exactly one hashpartitioning on source feeds the window stage
    assert p.count("hashpartitioning(source") == 1, p.count(
        "hashpartitioning(source"
    )
    # d24: no sort-merge self-join of the shingle index; sizes join by
    # broadcast; pair explosion is in-row (Generate node present)
    df = _q(spark, "d24_source_overlap")
    p = plans.physical_plan(df)
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    assert "Generate explode" in p or "Generate" in p
    assert p.count("BroadcastHashJoin") == 2, p.count("BroadcastHashJoin")
    # t13 buckets: no Window at all — the global ordering reduced to
    # one aggregate + a broadcast cutoff array
    df = _q(spark, "t13_difficulty_buckets")
    s = plans.plan_summary(df)
    assert s["windows"] == 0, s
    # the keyless 1-row cutoff cross join plans as a broadcast
    # nested-loop — broadcast side is the single cutoff row, which is
    # the one shape where BNLJ is harmless
    p = plans.physical_plan(df)
    assert "BroadcastNestedLoopJoin" in p and "CartesianProduct" not in p


def test_lateral_topk_decorrelates_to_window(spark):
    """The LATERAL-with-LIMIT dependent join must decorrelate into a
    window rank + equi-join (nation side broadcast) — per-outer-row
    subquery re-execution or a nested-loop join here is the shape
    that dies at scale."""
    df = _q(spark, "sql_lateral_topk")
    s = plans.plan_summary(df)
    assert s["cartesian_products"] == 0 and s["nested_loop_joins"] == 0, s
    assert s["windows"] == 1 and s["broadcast_joins"] == 1, s


def test_recursive_cte_plans_as_union_loop(spark):
    """Native WITH RECURSIVE must plan as Spark 4's UnionLoop (engine-
    driven iteration), and the loop body must not smuggle in a
    cartesian product."""
    df = _q(spark, "sql_recursive_hierarchy")
    p = plans.physical_plan(df)
    assert "UnionLoop" in p
    assert "CartesianProduct" not in p


def test_weighted_sample_is_take_ordered(spark):
    """The A-ES weighted draw must resolve as TakeOrderedAndProject
    (per-partition heap + driver merge of k), never a global sort,
    and the positive-weight filter must reach the parquet scan."""
    df = _q(spark, "q11_weighted_sample")
    p = plans.physical_plan(df)
    assert "TakeOrderedAndProject" in p
    s = plans.plan_summary(df)
    assert any("n_chars" in f for f in s["pushed_filters"]), s
    assert s["shuffle_exchanges"] == 0, s


def test_pq_topk_plan_shape(spark):
    """PQ ADC: the only corpus-sized relation is the codes projection —
    the codebook and per-query distance tables ride broadcasts (bnlj of
    one-row/five-row frames is the intended shape, a CartesianProduct
    is not), and the final per-query rank is the single window."""
    df = _q(spark, "s12_pq_topk")
    s = plans.plan_summary(df)
    assert s["cartesian_products"] == 0, s
    assert s["windows"] == 1, s
    # 3 static exchanges: the one-row codebook fold prints under both
    # its consumers (encode + distance tables) plus the rank window;
    # runtime collapses the codebook branches via ReusedExchange
    assert s["shuffle_exchanges"] <= 3, s


def test_outlier_mad_plan_shape(spark):
    """Exact grouped median/MAD: two rank-selection windows (one per
    median pass), group sizes via agg + broadcast join (never a second
    partition-frame window over the sorted stream)."""
    df = _q(spark, "s18_outlier_mad")
    s = plans.plan_summary(df)
    assert s["cartesian_products"] == 0, s
    # 2 rank windows; the first prints twice in the static plan (the
    # deviation frame feeds both the MAD branch and the final agg) and
    # collapses to one stage at runtime — so 3 static, never 4+
    assert s["windows"] == 3, s


def test_pipe_syntax_lowers_to_classic_plan(spark):
    """Spark 4 pipe SQL must lower to the same optimized shape as the
    classic spelling: date filter pushed to the scan, one partial+final
    aggregate exchange, no extra operators from the pipe form."""
    df = _q(spark, "sql_pipe_syntax")
    s = plans.plan_summary(df)
    assert any("o_orderdate" in f for f in s["pushed_filters"]), s
    assert s["shuffle_exchanges"] == 1, s
    assert s["cartesian_products"] == 0, s


def test_disjunct_revenue_factors_predicates_to_both_scans(spark):
    """TPC-H Q19 shape: the OR of three conjunction brackets must not
    break the equi-join (no nested loop / cartesian), and the common
    factors must split per side — quantity brackets pushed to the
    lineitem scan, brand/size brackets to the part scan — leaving only
    the cross-side OR as a post-join residual."""
    df = all_queries()["sql_surface_disjunct_revenue"].fn(spark, SF_SMOKE)
    plan = plans.inspect.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    pushed = " ".join(plans.inspect.pushed_filters(df))
    assert "l_quantity" in pushed, "quantity brackets not pushed to lineitem"
    assert "p_brand" in pushed, "brand brackets not pushed to part"


def test_global_avg_anti_decorrelates(spark):
    """TPC-H Q22 shape: the uncorrelated scalar subquery must appear
    as a one-shot subquery (pushed into the customer scan filter, not
    re-executed per row) and NOT EXISTS must plan as a LEFT ANTI
    join."""
    df = all_queries()["sql_surface_global_avg_anti"].fn(spark, SF_SMOKE)
    plan = plans.inspect.physical_plan(df)
    assert "LeftAnti" in plan
    pushed = " ".join(plans.inspect.pushed_filters(df))
    assert "ScalarSubquery" in pushed, "global-avg gate not pushed to scan"


def test_small_qty_revenue_decorrelates_to_grouped_avg(spark):
    """TPC-H Q17 shape: the correlated scalar AVG subquery must be
    rewritten into ONE grouped aggregate over lineitem (keyed on the
    correlation column) joined back on partkey — never a per-row
    re-scan (nested loop) of the fact table."""
    df = all_queries()["sql_surface_small_qty_revenue"].fn(spark, SF_SMOKE)
    plan = plans.inspect.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "avg(l_quantity" in plan, "no decorrelated grouped average"
    # the threshold must survive as a JOIN residual on the aggregate's
    # output, proving the subquery executes once, not per outer row
    assert "0.5 * avg(l_quantity)" in plan, plan


def test_waiting_supplier_plans_semi_plus_anti(spark):
    """TPC-H Q21 shape: the correlated EXISTS must lower to a LEFT
    SEMI self-join of lineitem on orderkey and the doubly-correlated
    NOT EXISTS to a LEFT ANTI self-join — zero nested loops, so at
    scale both are orderkey shuffles instead of per-row rescans."""
    df = all_queries()["sql_surface_waiting_supplier"].fn(spark, SF_SMOKE)
    plan = plans.inspect.physical_plan(df)
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_top_supplier_scalar_max_is_one_shot_subquery(spark):
    """TPC-H Q15 shape: the MAX gate must plan as a single scalar
    Subquery over the grouped revenue aggregate (one global max,
    executed once) — never a per-row re-aggregation or nested loop —
    and the quarter window must push to the lineitem scans."""
    df = all_queries()["sql_surface_top_supplier"].fn(spark, SF_SMOKE)
    plan = plans.inspect.physical_plan(df)
    assert "Subquery" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    pushed = " ".join(plans.inspect.pushed_filters(df))
    assert "l_shipdate" in pushed, "quarter window not pushed to scan"


def test_priority_backlog_exists_plans_as_semi_join(spark):
    """TPC-H Q4 shape: the correlated EXISTS must plan as a LEFT SEMI
    join on l_orderkey (each order counted once however many lines
    qualify) with both the date window and the quantity filter pushed
    to their scans — no per-row subquery, no nested loop."""
    df = all_queries()["sql_surface_priority_backlog"].fn(spark, SF_SMOKE)
    plan = plans.inspect.physical_plan(df)
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    pushed = " ".join(plans.inspect.pushed_filters(df))
    assert "o_orderdate" in pushed
    assert "l_quantity" in pushed


def test_min_cost_supplier_decorrelates_to_grouped_min(spark):
    """TPC-H Q2 shape: the correlated MIN must decorrelate into one
    grouped aggregate joined back on l_partkey — the plan contains a
    partial/final min aggregate and equi-joins only."""
    df = all_queries()["sql_surface_min_cost_supplier"].fn(spark, SF_SMOKE)
    plan = plans.inspect.physical_plan(df)
    assert re.search(r"min\(", plan), "grouped MIN missing from plan"
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    pushed = " ".join(plans.inspect.pushed_filters(df))
    assert "l_shipdate" in pushed


def test_batch_inference_plan_is_shuffle_free(spark):
    """x14_batch_inference is embarrassingly parallel: one scan into
    one Arrow-batched python stage — ANY exchange in the plan means a
    shuffle crept into a map-only pipeline."""
    df = all_queries()["x14_batch_inference"].fn(spark, SF_SMOKE)
    plan = plans.inspect.physical_plan(df)
    assert "MapInPandas" in plan
    assert "Exchange" not in plan


def test_supplier_variety_not_in_avoids_null_aware_fallback(spark):
    """TPC-H Q16 shape: NOT IN over the null-free s_suppkey must plan
    as a plain anti (or semi-complement) join, never the quadratic
    null-aware BroadcastNestedLoopJoin fallback."""
    df = all_queries()["sql_surface_supplier_variety"].fn(spark, SF_SMOKE)
    plan = plans.inspect.physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_set_ops_oneshot_single_scan_single_shuffle(spark):
    """The scale-preferred twin of x02_set_ops: ONE orders scan with
    the two-year date bracket pushed to the parquet reader, one
    map-side-combinable flag aggregate, zero joins — vs the set-op
    spelling's four scans + three join-shaped set operations."""
    df = all_queries()["x02_set_ops_oneshot"].fn(spark, SF_SMOKE)
    s = plans.plan_summary(df)
    assert s["shuffle_exchanges"] == 1, s
    assert (
        s["sort_merge_joins"] + s["broadcast_joins"]
        + s["nested_loop_joins"] + s["cartesian_products"] == 0
    ), s
    pushed = " ".join(s["pushed_filters"])
    assert "o_orderdate" in pushed, s["pushed_filters"]
    plan = plans.inspect.physical_plan(df)
    assert plan.count("FileScan") <= 1, "oneshot twin must scan orders once"


def test_decontaminate_fuzzy_broadcasts_eval_side(spark):
    """The 100 TB shape: every eval-side relation (band entries,
    exploded shingles, set sizes) reaches its join as a broadcast, so
    the training corpus is never shuffled for candidate generation —
    the only exchanges are sized by the candidate set. No sort-merge
    join and no cartesian may appear."""
    df = all_queries()["d15_decontaminate_fuzzy"].fn(spark, SF_SMOKE)
    s = plans.plan_summary(df)
    assert s["broadcast_joins"] >= 3, s
    assert s["cartesian_products"] == 0, s
    assert s["sort_merge_joins"] == 0, s


def test_cdc_chunking_plan_shape(spark):
    """CDC boundary detection + cutting + md5 addressing are pure
    per-row expressions: the only exchanges are the two-phase
    per-source distinct-count (same as the fixed-width d21 baseline);
    no join, no window, and the non-empty-text filter reaches the
    scan."""
    df = all_queries()["d21_chunk_dedup_cdc"].fn(spark, SF_SMOKE)
    s = plans.plan_summary(df)
    assert s["shuffle_exchanges"] <= 2, s
    assert s["windows"] == 0, s
    assert (
        s["sort_merge_joins"] + s["broadcast_joins"]
        + s["nested_loop_joins"] + s["cartesian_products"] == 0
    ), s
    assert any("text" in f for f in s["pushed_filters"]), s["pushed_filters"]
