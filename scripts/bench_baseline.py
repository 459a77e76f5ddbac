#!/usr/bin/env python
"""Maintain BENCH_BASELINE.json — per-query best-ever committed minimum.

The baseline is the memory behind the per-query regression gate
(``tests/test_bench_regression.py``): it records, per query, the
smallest clean min-of-runs any bench artifact on this host
fingerprint has recorded, so a query that gets slower FAILS at commit
time (the r10 pagerank regression, 4.03 → 6.19 s, was caught at
judging, not at commit).

Usage::

    python scripts/bench_baseline.py update    # fold in ./BENCH_DETAIL.json

``update`` only LOWERS minima (or adds new queries) from the
working-tree artifact — a slower run never erases best-ever evidence.
It skips an artifact whose suite started above ``LOAD_BAR`` or that
benched fewer than ``MIN_SUITE_QUERIES`` queries; samples with a
recorded loadavg above the bar are skipped individually.

Each entry: ``{"min_seconds": float, "commit": str, "loadavg_1m":
float-or-null}`` — the load the best sample ran under, so a reader can
judge comparability without archaeology.

The top-level ``fingerprint`` (cpus, sf, Spark version) is the one
``bench.py`` stamps into the artifact the minima came from; the gate
compares only artifacts that carry the same one. An artifact with a
different fingerprint starts a new baseline (the re-take after a host
change), and one without a fingerprint is refused.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
BASELINE = REPO / "BENCH_BASELINE.json"
DETAIL = REPO / "BENCH_DETAIL.json"

#: Artifacts whose suite started above this 1-min loadavg are skipped
#: wholesale (contaminated evidence — also the regression gate's bar);
#: samples with a recorded per-run load above it are skipped
#: individually.
LOAD_BAR = 4.0
#: Modern-era floor: artifacts benching fewer queries than this come
#: from a structurally different suite (pre-r8) and are excluded.
MIN_SUITE_QUERIES = 200


def _best_from_detail(detail: dict, commit: str | None) -> dict[str, dict]:
    """Per-query best clean sample from one BENCH_DETAIL artifact."""
    start = detail.get("loadavg_start") or []
    if start and start[0] > LOAD_BAR:
        return {}
    if len(detail.get("queries") or {}) < MIN_SUITE_QUERIES:
        return {}
    runs = detail.get("runs") or {}
    loads = detail.get("run_loadavg") or {}
    out: dict[str, dict] = {}
    for name, samples in runs.items():
        if not samples:
            continue
        la = loads.get(name) or [None] * len(samples)
        clean = [
            (s, l)
            for s, l in zip(samples, la)
            if s > 0 and (l is None or l <= LOAD_BAR)
        ]
        if not clean:
            continue
        best, best_la = min(clean, key=lambda p: p[0])
        out[name] = {
            "min_seconds": best,
            "commit": commit,
            "loadavg_1m": best_la,
        }
    return out


def update() -> None:
    """Fold ``DETAIL``'s clean minima into ``BASELINE`` and write it."""
    detail = json.loads(DETAIL.read_text())
    fp = detail.get("fingerprint")
    if not fp:
        sys.exit(f"{DETAIL} has no fingerprint: re-run bench.py")
    base = json.loads(BASELINE.read_text()) if BASELINE.exists() else {}
    if base.get("fingerprint") != fp:
        print(f"fingerprint {base.get('fingerprint')} -> {fp}: new baseline")
        base = {"fingerprint": fp}
    changed = 0
    for name, entry in _best_from_detail(detail, "worktree").items():
        cur = base.get(name)
        if cur is None or entry["min_seconds"] < cur["min_seconds"]:
            base[name] = entry
            changed += 1
    print(f"update: {changed} entries lowered/added, {len(base)} total")
    # fingerprint first, then the queries by name
    rows = sorted(base.items(), key=lambda kv: (kv[0] != "fingerprint", kv[0]))
    BASELINE.write_text(json.dumps(dict(rows), indent=1) + "\n")
    print(f"wrote {BASELINE}")


def main() -> int:
    if sys.argv[1:] not in ([], ["update"]):
        print(__doc__)
        return 2
    update()
    return 0


if __name__ == "__main__":
    sys.exit(main())
