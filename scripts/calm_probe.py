#!/usr/bin/env python
"""Calm-host probe: committed min-of-runs evidence for named queries.

The bench suite measures every query behind ~230 others sharing one
JVM — suite context (GC debt, page-cache pressure, the host's own
load ramp) inflates the handful of queries whose VERDICT bars are
tight. This harness is the judge-endorsed "calm re-run" slot (VERDICT
r10 item 2): it WAITS for the 1-min loadavg to drop under a gate,
then times the named queries isolated (fresh session, one untimed
warmup pass each, interleaved samples), recording the loadavg beside
every sample so the artifact carries its own comparability proof.

Usage:
    python scripts/calm_probe.py q1,q2 [n_runs] [gate] [out.json]

Defaults: n_runs=6, gate=1.5, out=CALMPROBE_r{N}.json (N inferred
like verify_local / scale_probe). Timing and the load gate are
``bench.timed_run`` and ``bench.wait_for_calm_host``.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

#: Seconds the start gate waits for the host to calm down.
GATE_WAIT_S = 900.0


def main() -> int:
    names = sys.argv[1].split(",")
    n_runs = int(sys.argv[2]) if len(sys.argv) > 2 else 6
    gate = float(sys.argv[3]) if len(sys.argv) > 3 else 1.5

    from bench import SF_DIR, round_artifact, timed_run, wait_for_calm_host

    # gate BEFORE the JVM exists (it adds its own load)
    gate_event = wait_for_calm_host("probe_start", gate, GATE_WAIT_S)
    load_at_start = os.getloadavg()[0]

    from echem_dft_etl_spark.registry import all_queries
    from echem_dft_etl_spark.session import get_session

    spark = get_session(app_name="calm-probe")
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_queries()

    results = {n: {"runs": [], "run_loadavg": [], "warmup": None} for n in names}
    for name in names:  # untimed warmup pass (JIT, page cache, codegen)
        results[name]["warmup"] = timed_run(spark, specs[name].fn)[0]
    for _ in range(n_runs):  # interleaved samples
        for name in names:
            dt, la = timed_run(spark, specs[name].fn)
            results[name]["runs"].append(dt)
            results[name]["run_loadavg"].append(la)
    for name in names:
        results[name]["min_seconds"] = min(results[name]["runs"])
        results[name]["median_seconds"] = sorted(results[name]["runs"])[
            len(results[name]["runs"]) // 2
        ]

    artifact = {
        "generated_by": "scripts/calm_probe.py",
        "sf_dir": SF_DIR,
        "gate": gate,
        "gate_wait_seconds": gate_event["waited_seconds"],
        "gate_waived": gate_event["waived"],
        "loadavg_at_start": load_at_start,
        "loadavg_at_end": os.getloadavg()[0],
        "n_runs": n_runs,
        "queries": results,
    }
    out = round_artifact(
        "CALMPROBE", sys.argv[4] if len(sys.argv) > 4 else None
    )
    out.write_text(json.dumps(artifact, indent=1) + "\n")
    print(f"wrote {out}")
    for name in names:
        r = results[name]
        print(
            f"  {name}: min={r['min_seconds']} median={r['median_seconds']} "
            f"runs={r['runs']} loads={r['run_loadavg']}"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
