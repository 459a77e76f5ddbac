#!/usr/bin/env python
"""Interleaved same-session A/B of a RUNTIME-settable Spark conf across
named queries (VERDICT r12 item 2: validate the session SHJ threshold
suite-wide, not on 3 queries).

Each round runs every query under arm A then arm B (order alternating
per round so neither arm systematically inherits the warmer caches),
recording per-sample loadavg (each sample is ``bench.timed_run``).
Decision stat is min-of-rounds per arm — the established noise
discipline on this hypervisor-noisy host.

Usage:
    python scripts/ab_conf.py <conf_key> <valA> <valB> <q1,q2,...|ALL> \
        [n_rounds] [out.json]
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> int:
    conf_key, val_a, val_b = sys.argv[1], sys.argv[2], sys.argv[3]
    qarg = sys.argv[4]
    n_rounds = int(sys.argv[5]) if len(sys.argv) > 5 else 3
    out_path = Path(sys.argv[6]) if len(sys.argv) > 6 else REPO / "AB_CONF.json"

    from bench import SF_DIR, timed_run
    from echem_dft_etl_spark.registry import all_queries
    from echem_dft_etl_spark.session import get_session

    spark = get_session(app_name="ab-conf")
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_queries()
    names = list(specs) if qarg == "ALL" else qarg.split(",")

    def timed(name: str, val: str) -> tuple[float, float]:
        spark.conf.set(conf_key, val)
        return timed_run(spark, specs[name].fn)

    results = {
        n: {"a": [], "b": [], "load_a": [], "load_b": []} for n in names
    }
    for name in names:  # one untimed warmup per query (arm A conf)
        timed(name, val_a)
    for r in range(n_rounds):
        order = [("a", val_a), ("b", val_b)]
        if r % 2 == 1:
            order.reverse()
        for name in names:
            for arm, val in order:
                dt, la = timed(name, val)
                results[name][arm].append(dt)
                results[name]["load_" + arm].append(la)

    summary = {}
    for name, r in results.items():
        ma, mb = min(r["a"]), min(r["b"])
        summary[name] = {
            "min_a": ma,
            "min_b": mb,
            "b_over_a": round(mb / ma, 3) if ma > 0 else None,
            "runs_a": r["a"],
            "runs_b": r["b"],
            "load_a": r["load_a"],
            "load_b": r["load_b"],
        }

    out_path.write_text(
        json.dumps(
            {
                "generated_by": "scripts/ab_conf.py",
                "sf_dir": SF_DIR,
                "conf_key": conf_key,
                "arm_a": val_a,
                "arm_b": val_b,
                "n_rounds": n_rounds,
                "queries": summary,
            },
            indent=1,
        )
        + "\n"
    )
    print(f"wrote {out_path}")
    tot_a = sum(s["min_a"] for s in summary.values())
    tot_b = sum(s["min_b"] for s in summary.values())
    print(f"  sum(min) A={round(tot_a, 2)} B={round(tot_b, 2)} "
          f"B/A={round(tot_b / tot_a, 3) if tot_a else None}")
    for name, s in summary.items():
        print(f"  {name}: A={s['min_a']} B={s['min_b']} B/A={s['b_over_a']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
