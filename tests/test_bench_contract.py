"""bench.py artifact contract: the stdout line must stay inside the
driver's ~2000-char tail capture (the round-3 artifact was lost to an
unbounded line), headline order must stay pinned for round-over-round
comparability, every registered query must be timed, and the host-load
gate shared with the probes must wait only on a hot host and record a
waiver when its budget runs out."""

from __future__ import annotations

import json

import bench
from echem_dft_etl_spark.registry import all_queries


def test_headline_prefix_is_pinned_and_registered():
    specs = all_queries()
    names = bench.bench_names(specs)
    # headline queries lead, in declaration order
    head = names[: len(bench.HEADLINE)]
    assert head == tuple(n for n in bench.HEADLINE if n in specs)
    # every registered query is timed except the explicit exclusions
    assert set(names) == set(specs) - bench.EXCLUDE


def test_stdout_summary_stays_inside_tail_capture():
    """Simulate the summary line with worst-case float widths: even
    with every headline median at 4 digits + 3 decimals the line must
    stay under the driver's capture window (guard threshold 1700)."""
    specs = all_queries()
    names = bench.bench_names(specs)
    headline = {n: 9999.999 for n in names if n in bench.HEADLINE}
    summary = {
        "metric": "suite_seconds",
        "value": 99999.999,
        "unit": "sec",
        "queries": headline,
        "sf": 0.1,
        "n_queries": len(names),
        "k": 3,
        "detail": "/root/repo/BENCH_DETAIL.json",
    }
    line = json.dumps(summary, separators=(",", ":"))
    # bench.py truncates the queries dict above 1700 chars; assert the
    # untruncated form is already inside the budget so the driver
    # always sees every headline median
    assert len(line) <= 1700, len(line)


def _stub_host(monkeypatch, loads):
    """Feed ``loads`` to os.getloadavg (last value repeats) and record
    the sleeps instead of sleeping."""
    loads = list(loads)
    slept: list[float] = []
    monkeypatch.setattr(
        bench.os,
        "getloadavg",
        lambda: (loads.pop(0) if len(loads) > 1 else loads[0], 0.0, 0.0),
    )
    monkeypatch.setattr(bench.time, "sleep", slept.append)
    return slept


def test_load_gate_does_not_wait_on_a_calm_host(monkeypatch):
    slept = _stub_host(monkeypatch, [0.5])
    event = bench.wait_for_calm_host("suite_start", 2.0, 300.0)
    assert slept == []
    assert event == {
        "stage": "suite_start",
        "loadavg_before": 0.5,
        "loadavg_after": 0.5,
        "waited_seconds": 0.0,
        "gate": 2.0,
        "waived": False,
    }


def test_load_gate_waits_until_the_host_calms(monkeypatch):
    slept = _stub_host(monkeypatch, [5.0, 3.0, 1.0])
    event = bench.wait_for_calm_host("escalation_round", 2.0, 300.0)
    assert len(slept) == 2
    assert event["loadavg_after"] == 1.0 and not event["waived"]
    assert event["waited_seconds"] == sum(slept)


def test_load_gate_waives_once_the_budget_runs_out(monkeypatch):
    slept = _stub_host(monkeypatch, [6.0])
    event = bench.wait_for_calm_host("rung_k8", 3.0, 35.0)
    # polls every LOAD_GATE_POLL_S until the budget is spent, then
    # proceeds and says so
    assert sum(slept) >= 35.0 > sum(slept[:-1])
    assert event["waived"] is True
    assert event["loadavg_after"] == 6.0
    assert event["waited_seconds"] == sum(slept)
