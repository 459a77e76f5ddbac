#!/usr/bin/env python
"""Calm-host probe: committed min-of-runs evidence for named queries,
optionally as an interleaved A/B of a runtime-settable Spark conf.

The bench suite measures every query behind ~240 others sharing one
JVM — suite context (GC debt, page-cache pressure, the host's own
load ramp) inflates the handful of queries whose bars are tight. This
harness is the one isolated re-run: it WAITS for the 1-min loadavg to
drop under a gate, then times the named queries in a fresh session
(one untimed warmup per query and arm, then interleaved samples),
recording the loadavg beside every sample so the artifact carries its
own comparability proof.

The probe runs a list of ARMS, each a dict of runtime confs. The calm
re-run is the single arm ``{}``; ``KEY=A,B`` makes two arms (``KEY``
set to ``A``, then to ``B``). Every round runs every query under every
arm, the arm order reversed on odd rounds so neither arm always
inherits the other's warm caches; each sample restores the confs it
set. Only ``{}`` arms count as evidence for the engine as committed
(``tests/test_bench_regression.py::calm_probe_minima``).

Usage:
    python scripts/calm_probe.py q1,q2|ALL [n_runs] [gate] [out.json] [KEY=A,B]

Defaults: n_runs=6, gate=1.5, out=CALMPROBE_r{N}.json (``''`` keeps
the default), one arm ``{}``. Timing and the load gate are
``bench.timed_run`` and ``bench.wait_for_calm_host``.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import bench  # noqa: E402

#: Seconds the start gate waits for the host to calm down.
GATE_WAIT_S = 900.0


def parse_arms(spec: str | None) -> list[dict[str, str]]:
    """``None`` -> ``[{}]``; ``KEY=A,B`` -> ``[{KEY: A}, {KEY: B}]``."""
    if not spec:
        return [{}]
    key, _, values = spec.partition("=")
    if not key or not values:
        raise SystemExit(f"arm spec {spec!r} is not KEY=A,B")
    return [{key: v} for v in values.split(",")]


def timed_under(spark, fn, conf: dict[str, str]) -> tuple[float, float]:
    """``bench.timed_run`` with ``conf`` set, every key restored after."""
    saved = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        return bench.timed_run(spark, fn)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def probe(spark, fns: dict, arms: list[dict], n_runs: int) -> list[dict]:
    """Time every query of ``fns`` under every arm; one entry per arm:
    ``{"conf", "queries": {name: {"runs", "run_loadavg", "warmup",
    "min_seconds", "median_seconds"}}}``."""
    out = [
        {
            "conf": conf,
            "queries": {n: {"runs": [], "run_loadavg": []} for n in fns},
        }
        for conf in arms
    ]
    for arm in out:  # untimed warmup (JIT, page cache, codegen)
        for name, fn in fns.items():
            dt, _ = timed_under(spark, fn, arm["conf"])
            arm["queries"][name]["warmup"] = dt
    for r in range(n_runs):
        order = out if r % 2 == 0 else out[::-1]
        for name, fn in fns.items():
            for arm in order:
                dt, la = timed_under(spark, fn, arm["conf"])
                arm["queries"][name]["runs"].append(dt)
                arm["queries"][name]["run_loadavg"].append(la)
    for arm in out:
        for res in arm["queries"].values():
            res["min_seconds"] = min(res["runs"])
            res["median_seconds"] = sorted(res["runs"])[len(res["runs"]) // 2]
    return out


def main(argv: list[str] | None = None, spark=None) -> int:
    """Gate, probe and write the artifact. ``spark`` reuses a running
    session instead of starting one after the gate."""
    args = sys.argv[1:] if argv is None else argv
    n_runs = int(args[1]) if len(args) > 1 else 6
    gate = float(args[2]) if len(args) > 2 else 1.5
    arms = parse_arms(args[4] if len(args) > 4 else None)

    # gate BEFORE the JVM exists (it adds its own load)
    gate_event = bench.wait_for_calm_host("probe_start", gate, GATE_WAIT_S)
    load_at_start = os.getloadavg()[0]

    from echem_dft_etl_spark.registry import all_queries
    from echem_dft_etl_spark.session import get_session

    if spark is None:
        spark = get_session(app_name="calm-probe")
        spark.sparkContext.setLogLevel("ERROR")
    specs = all_queries()
    names = list(specs) if args[0] == "ALL" else args[0].split(",")
    results = probe(spark, {n: specs[n].fn for n in names}, arms, n_runs)

    artifact = {
        "generated_by": "scripts/calm_probe.py",
        "sf_dir": bench.SF_DIR,
        "gate": gate,
        "gate_wait_seconds": gate_event["waited_seconds"],
        "gate_waived": gate_event["waived"],
        "loadavg_at_start": load_at_start,
        "loadavg_at_end": os.getloadavg()[0],
        "n_runs": n_runs,
        "arms": results,
    }
    out = bench.round_artifact("CALMPROBE", args[3] if len(args) > 3 else None)
    out.write_text(json.dumps(artifact, indent=1) + "\n")
    print(f"wrote {out}")
    for arm in results:
        total = sum(r["min_seconds"] for r in arm["queries"].values())
        print(f"arm {arm['conf']}: sum(min)={round(total, 3)}")
        for name, r in arm["queries"].items():
            print(
                f"  {name}: min={r['min_seconds']} median={r['median_seconds']} "
                f"runs={r['runs']} loads={r['run_loadavg']}"
            )
    return 0


if __name__ == "__main__":
    sys.exit(main())
