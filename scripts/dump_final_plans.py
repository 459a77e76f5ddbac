#!/usr/bin/env python
"""Capture POST-AQE final physical plans for named queries (VERDICT
r12 item 5: prove where the runtime SMJ→SHJ conversion actually fires).

``explain()`` before execution shows the initial adaptive plan
(isFinalPlan=false); the runtime join-strategy rewrites only exist in
the executed plan. This probe runs each named query end-to-end (noop
sink, bench methodology) in a session with the UI enabled, then pulls
every SQL execution's final plan description from the UI REST API and
writes them to ``<outdir>/<query>_final_<suffix>.txt`` — including the
executions of INTERNAL materializations (iterative loops' checkpoints),
which is where the joins of the x05/d16/d25 families live. A summary of
join-node counts (SortMergeJoin / ShuffledHashJoin / BroadcastHashJoin)
per query goes to stdout and ``<outdir>/final_plan_joins_<suffix>.json``.

Usage:
    python scripts/dump_final_plans.py <outdir> <suffix> q1,q2,... [sf_dir]
"""

from __future__ import annotations

import json
import re
import sys
import urllib.request
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def _api(base: str, path: str):
    with urllib.request.urlopen(f"{base}/api/v1/{path}") as r:
        return json.loads(r.read().decode())


def main() -> None:
    outdir = Path(sys.argv[1])
    suffix = sys.argv[2]
    names = sys.argv[3].split(",")
    sf_dir = sys.argv[4] if len(sys.argv) > 4 else "/root/testdata/sf0.1"
    outdir.mkdir(parents=True, exist_ok=True)

    from echem_dft_etl_spark.registry import all_queries
    from echem_dft_etl_spark.session import get_session

    spark = get_session(
        app_name="dump-final-plans", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_queries()
    base = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId

    join_re = re.compile(
        r"\b(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin|"
        r"BroadcastNestedLoopJoin|CartesianProduct)\b"
    )
    summary: dict[str, dict] = {}
    seen_max = -1
    for name in names:
        spark.sparkContext.setJobDescription(f"final-plan: {name}")
        specs[name].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        spark.sparkContext.setJobDescription(None)
        execs = _api(base, f"applications/{app_id}/sql?details=true&length=10000")
        mine = [e for e in execs if e["id"] > seen_max]
        seen_max = max((e["id"] for e in execs), default=seen_max)
        counts: dict[str, int] = {}
        sections = []
        for e in sorted(mine, key=lambda e: e["id"]):
            desc = e.get("planDescription", "")
            for m in join_re.finditer(desc):
                counts[m.group(1)] = counts.get(m.group(1), 0) + 1
            sections.append(
                f"=== execution {e['id']} ({e.get('description','')[:80]}) "
                f"status={e.get('status')} ===\n{desc}\n"
            )
        (outdir / f"{name}_final_{suffix}.txt").write_text("\n".join(sections))
        summary[name] = {"n_executions": len(mine), "join_nodes": counts}
        print(f"{name}: {len(mine)} executions, joins={counts}")

    (outdir / f"final_plan_joins_{suffix}.json").write_text(
        json.dumps(
            {
                "generated_by": "scripts/dump_final_plans.py",
                "sf_dir": sf_dir,
                "shj_threshold": spark.conf.get(
                    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold"
                ),
                "queries": summary,
            },
            indent=1,
        )
        + "\n"
    )


if __name__ == "__main__":
    main()
