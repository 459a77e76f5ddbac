#!/usr/bin/env python
"""Maintain BENCH_BASELINE.json — per-query best-ever committed minimum.

The baseline is the memory behind the per-query regression gate
(``tests/test_bench_regression.py``, VERDICT r10 item 7): ten rounds of
committed ``BENCH_DETAIL.json`` artifacts exist in git history, and
``scripts/bench_compare.py`` could always diff two of them, but nothing
FAILED when a query got slower — the r10 pagerank regression (4.03 →
6.19 s) was caught at judging, not at commit time. This script distills
history into one committed file the test can assert against.

Usage::

    python scripts/bench_baseline.py rebuild   # walk git history
    python scripts/bench_baseline.py update    # fold in ./BENCH_DETAIL.json
    python scripts/bench_baseline.py refresh   # update + re-anchor
                                               # null-loadavg minima to
                                               # the current calm run

``rebuild`` walks every commit that touched BENCH_DETAIL.json, parses
each vintage, and records per query the smallest min-of-runs observed
in any NON-CONTAMINATED artifact (suite loadavg_start[0] <= 4 — the
same reliability bar bench_compare.py uses; per-sample ``run_loadavg``
is additionally honored where recorded, r10+). Only MODERN-ERA
artifacts count (>= 200 benched queries, i.e. round 8 onward): the
round-4 era ran a 95-query suite against a different page-cache
footprint, and its minima are not reproducible against today's
231-query shared JVM — a best-ever nobody can match again is not a
regression bar, it is a permanent false alarm. ``update`` only LOWERS
minima (or adds new queries) from the current working-tree artifact —
a slower run never erases the best-ever evidence.

Each entry: ``{"min_seconds": float, "commit": sha, "loadavg_1m":
float-or-null}`` — the load the best sample ran under, so a reader can
judge comparability without archaeology.

The top-level ``fingerprint`` (cpus, sf, Spark version) is the one
``bench.py`` stamps into the artifacts the minima came from; the gate
compares only artifacts that carry the same one. ``update`` and
``refresh`` fold only an artifact with the baseline's fingerprint: one
with a different fingerprint starts a new baseline (the re-take after a
host change), and one without a fingerprint is refused. ``rebuild``
walks pre-fingerprint history, so its output carries none, and the gate
skips until an ``update`` re-takes it.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
BASELINE = REPO / "BENCH_BASELINE.json"
DETAIL = REPO / "BENCH_DETAIL.json"

#: Artifacts whose suite started above this 1-min loadavg are skipped
#: wholesale (contaminated evidence — bench_compare.py's bar); samples
#: with a recorded per-run load above it are skipped individually.
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


def _fold(base: dict[str, dict], new: dict[str, dict]) -> int:
    changed = 0
    for name, entry in new.items():
        cur = base.get(name)
        if cur is None or entry["min_seconds"] < cur["min_seconds"]:
            base[name] = entry
            changed += 1
    return changed


def rebuild() -> dict[str, dict]:
    shas = subprocess.run(
        ["git", "log", "--format=%H", "--", "BENCH_DETAIL.json"],
        capture_output=True,
        text=True,
        cwd=REPO,
        check=True,
    ).stdout.split()
    base: dict[str, dict] = {}
    used = 0
    for sha in shas:
        raw = subprocess.run(
            ["git", "show", f"{sha}:BENCH_DETAIL.json"],
            capture_output=True,
            text=True,
            cwd=REPO,
        ).stdout
        try:
            detail = json.loads(raw)
        except json.JSONDecodeError:
            continue
        found = _best_from_detail(detail, sha[:10])
        if found:
            used += 1
        _fold(base, found)
    print(f"rebuild: {len(base)} queries from {used}/{len(shas)} artifacts")
    return base


def _load_matching(detail: dict) -> dict:
    """The committed baseline if it shares ``detail``'s fingerprint,
    else a new empty baseline stamped with it."""
    fp = detail.get("fingerprint")
    if not fp:
        sys.exit(f"{DETAIL} has no fingerprint: re-run bench.py")
    base = json.loads(BASELINE.read_text()) if BASELINE.exists() else {}
    if base.get("fingerprint") != fp:
        print(f"fingerprint {base.get('fingerprint')} -> {fp}: new baseline")
        base = {"fingerprint": fp}
    return base


def update() -> dict[str, dict]:
    detail = json.loads(DETAIL.read_text())
    base = _load_matching(detail)
    n = _fold(base, _best_from_detail(detail, "worktree"))
    print(f"update: {n} entries lowered/added, {len(base)} total")
    return base


def refresh() -> dict[str, dict]:
    """Re-anchor LOAD-CONTEXT-FREE minima to the current artifact
    (VERDICT r11 item 8): entries whose ``loadavg_1m`` is null are
    pre-protocol idle-host bests nobody can match under today's
    instrumented runs — as a regression bar they only inflate ratio
    noise. For each such entry, REPLACE it with the current clean
    sample (even if slower) and keep the superseded value in the entry
    for audit; entries that already carry a loadavg keep normal
    min-folding. Run this only on a calm-gated artifact — the caller
    is re-defining the floor, not recording a best."""
    detail = json.loads(DETAIL.read_text())
    base = _load_matching(detail)
    cur = _best_from_detail(detail, "worktree")
    # Fallback anchors for queries whose every current sample recorded
    # a load above the bar: the lagging 1-min average mostly measures
    # the bench's own preceding burst (the r11 gate lesson), and load
    # only INFLATES a sample, so the fastest one is still a valid —
    # merely conservative — floor. Its loadavg rides along so a reader
    # can judge comparability; a later calmer run will lower it via
    # normal min-folding.
    runs = detail.get("runs") or {}
    loads = detail.get("run_loadavg") or {}
    hot: dict[str, dict] = {}
    for name, samples in runs.items():
        if name in cur or not samples:
            continue
        la = (loads.get(name) or []) + [None] * len(samples)
        pairs = [(s, l) for s, l in zip(samples, la) if s > 0]
        if pairs:
            best, best_la = min(pairs, key=lambda p: p[0])
            hot[name] = {
                "min_seconds": best,
                "commit": "worktree",
                "loadavg_1m": best_la,
            }
    replaced = lowered = 0
    for name, entry in cur.items():
        old = base.get(name)
        if old is None or entry["min_seconds"] < old["min_seconds"]:
            base[name] = entry
            lowered += 1
        elif old.get("loadavg_1m") is None and entry["loadavg_1m"] is not None:
            entry["superseded_min_seconds"] = old["min_seconds"]
            base[name] = entry
            replaced += 1
    for name, entry in hot.items():
        old = base.get(name)
        if old is not None and old.get("loadavg_1m") is None:
            entry["superseded_min_seconds"] = old["min_seconds"]
            base[name] = entry
            replaced += 1
    print(
        f"refresh: {lowered} lowered/added, {replaced} null-loadavg "
        f"entries re-anchored, {len(base)} total"
    )
    return base


def main() -> int:
    mode = sys.argv[1] if len(sys.argv) > 1 else "update"
    modes = {"rebuild": rebuild, "update": update, "refresh": refresh}
    if mode not in modes:
        print(__doc__)
        return 2
    base = modes[mode]()
    # fingerprint first, then the queries by name
    rows = sorted(base.items(), key=lambda kv: (kv[0] != "fingerprint", kv[0]))
    BASELINE.write_text(json.dumps(dict(rows), indent=1) + "\n")
    print(f"wrote {BASELINE}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
