#!/usr/bin/env python
"""Generate PLANS.md: the physical-plan scale profile of every batch
query — pushdown, shuffle count, join strategies, window count.

Run from the repo root: ``python scripts/plan_report.py > PLANS.md``.

Checkpoint-aware: iterative operators (connected components, PageRank,
BFS, triangle counts, entity resolution) truncate lineage at every
``localCheckpoint``, so the RETURNED frame's plan alone under-reports
their work (a ``LogicalRDD`` scan shows 0 exchanges / 0 read columns).
Each query is therefore built through ``plans.query_plan_summaries``,
which also summarizes every frame at the moment it crosses a
plan-truncation boundary; the row ACCUMULATES those summaries with the
final frame's, with the boundary count in ``ckpt``.
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

STREAMING = {
    "x10_stream_tumbling",
    "x10_stream_sliding",
    "x10_stream_sessions",
    "x10_stream_dedup_keys",
    "x10_stream_stateful_profile",
    "x10_stream_static_join",
    "x10_stream_stream_join",
    "x10_stream_trending",
    "x10_stream_outer_join",
    "x10_stream_custom_source",
}

COUNTERS = (
    "shuffle_exchanges",
    "broadcast_joins",
    "sort_merge_joins",
    "nested_loop_joins",
    "windows",
)


def main() -> None:
    from echem_dft_etl_spark import plans
    from echem_dft_etl_spark.registry import all_queries
    from echem_dft_etl_spark.session import get_session

    spark = get_session(app_name="plan-report")
    spark.sparkContext.setLogLevel("ERROR")

    print("# PLANS — physical-plan scale profile per query")
    print()
    print("Generated by `scripts/plan_report.py` (sf0.001 plans; plan")
    print("shape is scale-invariant). `xchg` counts shuffle exchanges —")
    print("broadcast exchanges excluded; `bhj/smj/bnlj` are the join")
    print("strategies Catalyst picked; `win` counts window operators;")
    print("`pushed` is the number of distinct predicates reaching the")
    print("parquet scan; `read cols` the distinct columns scanned.")
    print("`ckpt` counts plan-truncation boundaries crossed while the")
    print("query ran (localCheckpoint rounds AND literal-result")
    print("materializations of the sink/round-trip family) — rows with")
    print("ckpt > 0 accumulate every stage's plan; iterative operators and")
    print("write-then-read-back queries would otherwise report a bare")
    print("LogicalRDD / LocalRelation scan. Iterative rows reflect the")
    print("ROUND COUNT the sf0.001 graph needed, so their totals scale")
    print("with convergence depth.")
    print("`bnlj class` classifies every BroadcastNestedLoopJoin by its")
    print("BUILD side's Catalyst-provable cardinality bound (logical")
    print("maxRows): `one-row` (global-aggregate stats frames), `<=N`")
    print("(literal/limited dims), `unbounded` (no static bound — a")
    print("scale risk; tests/test_plans.py asserts the registry has")
    print("none). `-` = no BNLJ in the plan.")
    print("Streaming queries are profiled post-materialization and omitted.")
    print()
    print(
        "| query | xchg | bhj | smj | bnlj | bnlj class | win | pushed |"
        " read cols | ckpt |"
    )
    print("|---|---|---|---|---|---|---|---|---|---|")
    for name, spec in sorted(all_queries().items()):
        if name in STREAMING:
            continue
        try:
            s, captured = plans.query_plan_summaries(
                spec.fn, spark, "/root/testdata/sf0.001"
            )
        except Exception as e:
            raise RuntimeError(f"plan summary of {name} failed") from e
        for part in captured:
            for key in COUNTERS:
                s[key] += part[key]
            for key in ("pushed_filters", "read_schema", "bnlj_bounds"):
                s[key] = list(s[key]) + list(part[key])
        if s["bnlj_bounds"]:
            klass = ", ".join(
                b["class"]
                if b["class"] != "bounded"
                else f"<={b['max_rows']}"
                for b in s["bnlj_bounds"]
            )
        else:
            klass = "-"
        print(
            f"| `{name}` | {s['shuffle_exchanges']} | {s['broadcast_joins']} "
            f"| {s['sort_merge_joins']} | {s['nested_loop_joins']} "
            f"| {klass} "
            f"| {s['windows']} | {len(set(s['pushed_filters']))} "
            f"| {len(set(s['read_schema']))} | {len(captured)} |"
        )


if __name__ == "__main__":
    main()
