#!/usr/bin/env python
"""Phase-split probe for the x10 streaming family (VERDICT r12 item 3).

For each named streaming query this runs the registered body end-to-end
(noop sink, same as the bench) and splits its wall time into:

- ``setup_seconds``: registry-body work BEFORE the first streaming
  query starts (fixture materialization, schema peeks, pre-warm reads);
- ``stream_seconds``: from the first ``writeStream.start()`` to the
  last stream termination (micro-batch machinery);
- ``post_seconds``: batch-side post-processing after the stream
  (ranking windows, read-backs, the noop write itself);

and, per micro-batch, the engine's own ``durationMs`` breakdown from
``StreamingQueryProgress`` (addBatch / getBatch / latestOffset /
queryPlanning / triggerExecution / walCommit / commitOffsets) plus
state-store commit latency totals — the evidence that says whether the
time is source spin-up, per-batch planning, state commits, or real
work. Nothing here changes what any query computes: the probe only
observes.

Usage:
    python scripts/stream_phase_probe.py q1,q2,... [n_runs] [out.json]
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import os

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    names = sys.argv[1].split(",")
    n_runs = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    out_path = (
        Path(sys.argv[3]) if len(sys.argv) > 3 else REPO / "STREAMPHASE_r13.json"
    )

    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from echem_dft_etl_spark.registry import all_queries
    from echem_dft_etl_spark.session import get_session

    spark = get_session(app_name="stream-phase-probe")
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_queries()

    captured: list = []  # (t_start_called, StreamingQuery)
    orig_start = DataStreamWriter.start

    def capturing_start(self, *a, **kw):
        q = orig_start(self, *a, **kw)
        captured.append((time.perf_counter(), q))
        return q

    DataStreamWriter.start = capturing_start

    def probe_once(name: str) -> dict:
        captured.clear()
        la = os.getloadavg()[0]
        t0 = time.perf_counter()
        df = specs[name].fn(spark, SF_DIR)
        t_built = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t_end = time.perf_counter()

        first_start = min((t for t, _ in captured), default=t_built)
        # streams here are all awaited inside the registry body, so the
        # stream window closes when the body returns; post = body tail
        # after the last stream's final progress + the noop write
        batches = []
        state_commit_ms = 0.0
        for _, q in captured:
            try:
                for p in q.recentProgress:
                    d = p.get("durationMs", {}) or {}
                    ops = p.get("stateOperators", []) or []
                    commit_ms = sum(
                        (op.get("commitTimeMs") or 0) for op in ops
                    )
                    state_commit_ms += commit_ms
                    batches.append(
                        {
                            "batchId": p.get("batchId"),
                            "numInputRows": p.get("numInputRows"),
                            "durationMs": d,
                            "state_commit_ms": commit_ms,
                            "n_state_ops": len(ops),
                        }
                    )
            except Exception:
                pass
        trigger_ms = sum(
            (b["durationMs"].get("triggerExecution") or 0) for b in batches
        )
        return {
            "total_seconds": round(t_end - t0, 3),
            "setup_seconds": round(first_start - t0, 3),
            "stream_and_post_seconds": round(t_end - first_start, 3),
            "body_seconds": round(t_built - t0, 3),
            "noop_write_seconds": round(t_end - t_built, 3),
            "n_stream_queries": len(captured),
            "n_batches": len(batches),
            "trigger_execution_ms_total": trigger_ms,
            "state_commit_ms_total": round(state_commit_ms, 1),
            "batches": batches,
            "loadavg_1m": la,
        }

    results: dict[str, dict] = {}
    try:
        for name in names:  # untimed warmup (codegen, page cache)
            probe_once(name)
        for r in range(n_runs):
            for name in names:
                rec = probe_once(name)
                results.setdefault(name, {"runs": []})["runs"].append(rec)
    finally:
        DataStreamWriter.start = orig_start

    for name, r in results.items():
        best = min(r["runs"], key=lambda x: x["total_seconds"])
        r["best"] = best
        r["min_total_seconds"] = best["total_seconds"]

    out_path.write_text(
        json.dumps(
            {
                "generated_by": "scripts/stream_phase_probe.py",
                "sf_dir": SF_DIR,
                "n_runs": n_runs,
                "queries": results,
            },
            indent=1,
        )
        + "\n"
    )
    print(f"wrote {out_path}")
    for name, r in results.items():
        b = r["best"]
        print(
            f"  {name}: total={b['total_seconds']} setup={b['setup_seconds']} "
            f"stream+post={b['stream_and_post_seconds']} batches={b['n_batches']} "
            f"trigger_ms={b['trigger_execution_ms_total']} "
            f"state_commit_ms={b['state_commit_ms_total']}"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
