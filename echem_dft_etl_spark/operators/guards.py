"""Degenerate-parameter guards for public operators.

Class of bug these prevent (VERDICT r9 item 7): a zero/negative width,
count or fraction that Spark folds into NULL keys, empty sequences or
division-by-zero — producing a silently EMPTY or silently WRONG result
instead of an error (the grid_near_join cell guard and the binned-join
``bin_width`` guard are the precedents, commits 257f631 et al.).
Every public operator taking a division/sequence/replication parameter
pins its domain here; ``tests/test_guards.py`` sweeps them.
"""

from __future__ import annotations


def require_at_least(name: str, value, minimum) -> None:
    """``value >= minimum`` or ValueError naming the parameter."""
    if value is None or value < minimum:
        raise ValueError(f"{name} must be >= {minimum}, got {value!r}")


def require_in_range(name: str, value, lo, hi) -> None:
    """``lo <= value <= hi`` or ValueError naming the parameter."""
    if value is None or not (lo <= value <= hi):
        raise ValueError(
            f"{name} must be in [{lo}, {hi}], got {value!r}"
        )


#: Max shift count that keeps ``1 << j`` a positive int64 — bit-packed
#: bucket/signature builders must not exceed it.
MAX_I64_BITS = 62
