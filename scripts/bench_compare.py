#!/usr/bin/env python
"""Judge one BENCH_DETAIL.json artifact against another with the live
regression gate's rule.

Usage: python scripts/bench_compare.py OLD.json NEW.json

OLD stands in for the committed baseline: its per-query minima are
taken with ``scripts/bench_baseline.py::_best_from_detail`` (the same
distillation ``update`` folds into BENCH_BASELINE.json), and NEW is
judged against them by ``tests/test_bench_regression.py::
find_regressions`` — the drift-adjusted bar, the absolute-excess floor
and the under-load consistency rule the commit gate uses.

Exit codes:
- 2: the two artifacts do not share a host fingerprint (cpus, sf,
  Spark version), or one lacks it. The missing or differing fields are
  named and no per-query verdict is printed: a core-count change is
  not a regression (r13: the 8-core run against 32-core minima).
- 1: NEW regresses against OLD.
- 0: no regression, or either artifact is contaminated (suite started
  above the gate's load bar, or its load gate was waived). A
  contaminated comparison is reported as UNRELIABLE, with its
  regressions listed but not failed.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from scripts.bench_baseline import _best_from_detail  # noqa: E402
from tests.test_bench_regression import (  # noqa: E402
    _artifact_is_contaminated,
    find_regressions,
    fingerprint_mismatch,
)


def compare(old: dict, new: dict) -> tuple[str | None, list[dict]]:
    """(the fingerprint mismatch, or None when comparable; NEW's
    regressions against OLD's minima, empty when not comparable)."""
    mismatch = fingerprint_mismatch(new, old)
    if mismatch:
        return mismatch, []
    return None, find_regressions(new, _best_from_detail(old, None))


def main(argv: list[str] | None = None) -> int:
    args = sys.argv[1:] if argv is None else argv
    if len(args) != 2:
        print(__doc__)
        return 2
    old, new = (json.loads(Path(a).read_text()) for a in args)
    for label, d in (("old", old), ("new", new)):
        print(
            f"{label}: suite {d.get('value')} s, fingerprint "
            f"{d.get('fingerprint')}, load start {d.get('loadavg_start')}"
        )
    mismatch, hits = compare(old, new)
    if mismatch:
        print(f"NOT COMPARABLE (OLD is the baseline): {mismatch}")
        return 2
    unreliable = {
        label: reason
        for label, d in (("old", old), ("new", new))
        if (reason := _artifact_is_contaminated(d))
    }
    for label, reason in unreliable.items():
        print(f"UNRELIABLE: {label} artifact {reason}; re-run on an idle host")
    judged = set(_best_from_detail(old, None)) & set(new.get("runs") or {})
    print(f"regressions among {len(judged)} judged queries: {len(hits)}")
    for h in hits:
        print(
            f"  {h['ratio']:5.2f}x  {h['query']}: best {h['best_ever_s']}s "
            f"-> {h['current_min_s']}s (bar {h['drift_adjusted_bar']}x)"
            + ("  [winning sample under load]" if h["under_load"] else "")
        )
    return 1 if hits and not unreliable else 0


if __name__ == "__main__":
    sys.exit(main())
