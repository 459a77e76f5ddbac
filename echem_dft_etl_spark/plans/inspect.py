"""Read structured facts out of a DataFrame's executed physical plan."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """The executed (post-optimizer, pre-AQE-finalization) plan string.

    Scan metadata (PushedFilters, ReadSchema, ...) is rendered at
    ``toString`` time and truncated to ``spark.sql.maxMetadataStringLength``
    (default 100 chars) — far too short to parse a real filter list, so
    the limit is raised for the duration of the rendering.
    """
    conf = df.sparkSession.conf
    key = "spark.sql.maxMetadataStringLength"
    prev = conf.get(key, None)
    conf.set(key, "100000")
    try:
        return df._jdf.queryExecution().executedPlan().toString()
    finally:
        if prev is None:
            conf.unset(key)
        else:
            conf.set(key, prev)


def pushed_filters(df: DataFrame) -> list[str]:
    """Filter expressions the scan pushed to the parquet reader.

    Each element is one predicate as the source prints it, e.g.
    ``IsNotNull(l_shipdate)`` or ``GreaterThan(l_quantity,5.0)``. An
    empty list from a filtered scan means the filter runs post-scan —
    at 100 TB that is the difference between reading row-group stats
    and reading everything.
    """
    out: list[str] = []
    for m in re.finditer(r"PushedFilters:\s*\[([^\]]*)\]", physical_plan(df)):
        body = m.group(1).strip()
        if body:
            # predicates are comma-separated; commas inside parens belong
            # to the predicate (e.g. In(k, [1,2,3])) — split on top level
            depth, cur = 0, ""
            for ch in body:
                if ch == "," and depth == 0:
                    out.append(cur.strip())
                    cur = ""
                else:
                    depth += ch in "(["
                    depth -= ch in ")]"
                    cur += ch
            if cur.strip():
                out.append(cur.strip())
    return out


def read_schema(df: DataFrame) -> list[str]:
    """Column names each file scan actually reads off disk (union)."""
    cols: list[str] = []
    for m in re.finditer(r"ReadSchema:\s*struct<([^\n]*)>", physical_plan(df)):
        for fieldspec in m.group(1).split(","):
            name = fieldspec.split(":")[0].strip()
            if name:
                cols.append(name)
    return cols


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle exchanges (excludes broadcast exchanges).

    Every shuffle rewrites its input to disk/network; at cluster scale
    each avoidable exchange is the dominant cost of the job. The token
    ``Exchange`` at a word start never matches ``BroadcastExchange``
    (no boundary inside the word), so broadcasts are excluded for free.
    """
    return len(re.findall(r"(?<![A-Za-z])Exchange\b", physical_plan(df)))


def wholestage_span_count(df: DataFrame) -> int:
    """Distinct WholeStageCodegen spans — fewer, wider spans are better."""
    ids = set(re.findall(r"\*\((\d+)\)", physical_plan(df)))
    return len(ids)


def has_operator(df: DataFrame, name: str) -> bool:
    """True if the physical plan contains an operator matching ``name``."""
    return re.search(name, physical_plan(df)) is not None


def plan_summary(df: DataFrame) -> dict:
    """One-glance scale profile of a plan — the reviewer's checklist."""
    plan = physical_plan(df)
    return {
        "pushed_filters": pushed_filters(df),
        "read_schema": read_schema(df),
        "shuffle_exchanges": exchange_count(df),
        "broadcast_joins": len(re.findall(r"\bBroadcastHashJoin\b", plan)),
        "sort_merge_joins": len(re.findall(r"\bSortMergeJoin\b", plan)),
        "nested_loop_joins": len(re.findall(r"\bBroadcastNestedLoopJoin\b", plan)),
        "cartesian_products": len(re.findall(r"\bCartesianProduct\b", plan)),
        "windows": len(re.findall(r"\bWindow\b", plan)),
        "codegen_spans": wholestage_span_count(df),
        "aqe": "AdaptiveSparkPlan" in plan,
        "bnlj_bounds": bnlj_build_side_bounds(df),
    }


def query_plan_summaries(fn, spark, sf_dir: str) -> tuple[dict, list[dict]]:
    """Build the query ``fn(spark, sf_dir)`` and return the
    :func:`plan_summary` of its final frame plus one summary per
    plan-truncation boundary crossed while building it, in order.

    Iterative operators truncate lineage at every ``localCheckpoint``
    and the write-then-read-back queries end in a literal relation
    (``registry_surfaces._literal_result``), so the returned frame's
    plan alone shows a bare ``LogicalRDD`` / ``LocalRelation`` scan.
    Both are intercepted for the duration of the build, and each
    frame is summarized the moment it crosses the boundary. Errors
    propagate: a boundary that cannot be summarized fails the call.
    """
    # Spark 4: concrete frames are the classic subclass, which
    # overrides localCheckpoint — patching the pyspark.sql.DataFrame
    # base would never intercept.
    from pyspark.sql.classic.dataframe import DataFrame as Classic

    from .. import registry_surfaces as rs

    orig_ckpt, orig_lit = Classic.localCheckpoint, rs._literal_result
    parts: list[dict] = []

    def checkpoint(self, eager=True):
        parts.append(plan_summary(self))
        return orig_ckpt(self, eager=eager)

    def literal_result(spark_, df):
        parts.append(plan_summary(df))
        return orig_lit(spark_, df)

    Classic.localCheckpoint = checkpoint
    rs._literal_result = literal_result
    try:
        final = plan_summary(fn(spark, sf_dir))
    finally:
        Classic.localCheckpoint, rs._literal_result = orig_ckpt, orig_lit
    return final, parts


def bnlj_build_side_bounds(df: DataFrame) -> list[dict]:
    """Classify every BroadcastNestedLoopJoin in the plan by its BUILD
    side's cardinality bound — the fact that separates a benign
    one-row-stats / bounded-dim broadcast from a data-sized nested
    loop that dies at scale.

    For each BNLJ node the build child's linked LOGICAL plan is asked
    for ``maxRows`` (Catalyst's static upper bound: global aggregates
    report 1, Limit reports its literal, LocalRelation its row count;
    scans and shuffles report none). Returns one dict per BNLJ:
    ``{"build": "left"|"right", "max_rows": int|None,
    "class": "one-row"|"bounded"|"unbounded"}`` — ``bounded`` means a
    static bound <= 10_000 rows. ``unbounded`` does NOT always mean
    broken (the bound may just be unprovable statically), but every
    registered query's plan must avoid it (tests/test_plans.py): if
    Catalyst can't bound the build side, neither can a reviewer.

    Walks the JVM plan tree via py4j, descending through
    AdaptiveSparkPlanExec / QueryStageExec / ReusedExchange wrappers
    the toString-regex counters skate over.
    """
    BOUNDED = 10_000
    root = df._jdf.queryExecution().executedPlan()
    out: list[dict] = []

    def logical_max_rows(phys) -> int | None:
        try:
            link = phys.logicalLink()
            if not link.isDefined():
                return None
            mr = link.get().maxRows()
            return int(mr.get()) if mr.isDefined() else None
        except Exception:
            return None

    def descend(node):
        cls = node.getClass().getSimpleName()
        # unwrap adaptive / query-stage / reuse shells to real operators
        if cls == "AdaptiveSparkPlanExec":
            try:
                return [node.executedPlan()]
            except Exception:
                return [node.initialPlan()]
        for meth in ("plan", "child"):
            if cls in (
                "BroadcastQueryStageExec",
                "ShuffleQueryStageExec",
                "ReusedExchangeExec",
            ):
                try:
                    return [getattr(node, meth)()]
                except Exception:
                    continue
        ch = node.children()
        return [ch.apply(i) for i in range(ch.size())]

    def visit(node):
        cls = node.getClass().getSimpleName()
        if cls == "BroadcastNestedLoopJoinExec":
            side = "left" if "BuildLeft" in node.buildSide().toString() else "right"
            build = node.left() if side == "left" else node.right()
            # the physical build child may be an exchange/stage wrapper
            # with no logical link; probe down until one answers
            mr = None
            frontier = [build]
            seen = 0
            while frontier and mr is None and seen < 32:
                n = frontier.pop(0)
                seen += 1
                mr = logical_max_rows(n)
                if mr is None:
                    frontier.extend(descend(n))
            klass = (
                "one-row"
                if mr == 1
                else "bounded"
                if mr is not None and mr <= BOUNDED
                else "unbounded"
            )
            out.append({"build": side, "max_rows": mr, "class": klass})
        for c in descend(node):
            visit(c)

    visit(root)
    return out
