"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The end-to-end tests run ``perfbench/run.py`` from the repository root,
as the benchmark command does (one short run per workload, about half a
minute each), so the whole module takes a few minutes.
"""

from __future__ import annotations

import json
import math
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parent.parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import workloads as W  # noqa: E402
from run import tree_cpu_s  # noqa: E402
from tracing import attribute_jobs, duration_s  # noqa: E402


def _spec():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(*args, cwd=ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=300,
    )


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


# ------------------------------------------------------------------ inputs


def test_same_seed_gives_same_catalogs_and_op_order():
    assert W.make_catalog(7, 3) == W.make_catalog(7, 3)
    assert W.make_catalog(7, 3) != W.make_catalog(8, 3)
    assert W.make_catalog(7, 3) != W.make_catalog(7, 4)
    n = 8
    assert W.round_order(n, 7, 2) == W.round_order(n, 7, 2)
    assert sorted(W.round_order(n, 7, 2)) == list(range(n))
    orders = {tuple(W.round_order(n, seed, 1)) for seed in range(5)}
    assert len(orders) > 1


def test_catalog_shape():
    rows = W.make_catalog(1, 12)
    assert len(rows) == W.CATALOG_SIZE
    assert len({r[0] for r in rows}) == len(rows)
    share = sum(r[1] == "V-O" for r in rows) / len(rows)
    assert 0.45 < share < 0.75
    # ids of different calls never collide, so each call adds a new key
    assert not {r[0] for r in rows} & {r[0] for r in W.make_catalog(1, 1)}


def test_closed_form_descriptors():
    pzc, cap = W.expected_descriptors(5.0, 6.0)
    assert pzc == pytest.approx(0.78228, abs=1e-12)
    # charge density and potential are both linear in the charge, so the
    # fitted slope is the ratio of their charge derivatives
    area = 5.0 * 6.0 * W.BOHR_ANGSTROM**2 * 1e-16
    d_rho = -10.0 / area * W.ELEMENTARY_CHARGE * 1e6 / 2.0
    d_pot = 0.05 * -W.HARTREE_EV
    assert cap == pytest.approx(d_rho / d_pot, rel=1e-9)


def test_normalize_ignores_row_and_column_order():
    a = W.normalize(["B", "a"], [(2, 1.0), (1, float("nan"))])
    b = W.normalize(["a", "b"], [(None, 1), (1.0, 2)])
    assert a == b


# ------------------------------------------------------------------ tracing


def test_stream_jobs_attributed_by_time_window():
    """Jobs of a stream run under the stream's own job group; they
    count toward the op whose window they were submitted in."""
    jobs = [
        (1, "op-7", 1_000.0),  # the op's own job
        (2, "stream-run-id", 1_500.0),  # stream job inside the window
        (3, None, 1_900.0),  # ungrouped job inside the window
        (4, "stream-run-id", 2_500.0),  # after the op ended
        (5, "op-7", 3_000.0),  # carries the op's group: kept
        (6, None, None),  # no submission time, other group
    ]
    assert attribute_jobs(jobs, "op-7", 1_000.0, 2_000.0) == [1, 2, 3, 5]


def test_duration_parsing():
    assert duration_s("732 ms") == pytest.approx(0.732)
    summary = "total (min, med, max (stageId: taskId))\n2.5 s (1.2 s, 1.3 s, 1.3 s)"
    assert duration_s(summary) == pytest.approx(2.5)
    assert duration_s("total (min, med, max)\n1.5 m (1 ms, 2 ms, 3 ms)") == 90.0
    with pytest.raises(ValueError):
        duration_s("1184.0 B")


def test_tree_cpu_counts_reaped_grandchildren():
    """A worker that has exited still counts: its CPU time moves into
    its parent's cutime when the parent reaps it."""
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass"
    parent = (
        "import subprocess, sys, time\n"
        "time.sleep(0.5)\n"
        f"subprocess.run([sys.executable, '-c', {burn!r}])\n"
        "print('reaped', flush=True)\n"
        "time.sleep(30)\n"
    )
    proc = subprocess.Popen([sys.executable, "-c", parent], stdout=subprocess.PIPE, text=True)
    try:
        c0 = tree_cpu_s(proc.pid)
        assert proc.stdout.readline().strip() == "reaped"
        assert tree_cpu_s(proc.pid) - c0 >= 0.3
    finally:
        proc.kill()
        proc.wait()


# ------------------------------------------------------------- end to end


def _check_names(metrics: dict, declared: list[dict]):
    assert sorted(metrics) == sorted(m["name"] for m in declared)
    for m in declared:
        assert metrics[m["name"]]["unit"] == m["unit"], m["name"]
        assert math.isfinite(metrics[m["name"]]["value"]), m["name"]


@pytest.mark.parametrize("workload", W.WORKLOADS)
def test_workload_completes_without_failures(workload):
    proc = _run("--workload", workload, "--seed", "1", "--seconds", "1", "--trace", "0")
    res = _result(proc)
    assert res["correct"] is True
    assert res["failed"] == 0 and res["attempted"] >= 1
    assert res["metrics"]["ok_ratio"]["value"] == 1.0
    _check_names(res["metrics"], _spec()["end_to_end"])
    summary = json.loads(proc.stdout.strip().splitlines()[-2])
    assert summary["fingerprint"]["nproc"] >= 1
    assert 0.0 <= summary["fingerprint"]["steal_share"] < 1.0
    assert summary["times"]["round_s"] > 0


def test_traced_run_reports_layers_and_stream_jobs():
    res = _result(
        _run("--workload", "stream_replay", "--seed", "1", "--seconds", "1", "--trace", "1")
    )
    assert res["correct"] is True
    m = res["metrics"]
    _check_names(m, _spec()["per_layer"])
    # stream jobs run on the stream thread, not under the op's job group
    assert m["streaming.batches"]["value"] >= 1
    assert m["spark.jobs"]["value"] >= m["streaming.batches"]["value"]
    assert m["spark.executor_run_s"]["value"] > 0


def test_traced_run_reports_sinks_and_python_workers():
    res = _result(
        _run("--workload", "echem_ingest", "--seed", "1", "--seconds", "1", "--trace", "1")
    )
    assert res["correct"] is True
    m = res["metrics"]
    _check_names(m, _spec()["per_layer"])
    # the pipe stage's MapInPandas node is found in the SQL status store
    assert m["operators.python_run_s"]["value"] > 0
    assert m["operators.python_init_s"]["value"] > 0
    assert m["sinks.upsert_s"]["value"] > 0
    assert m["sinks.write_partitioned_s"]["value"] > 0
    assert m["sinks.files_written"]["value"] > 0


def test_spec_matches_contract():
    spec = _spec()
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert [w["name"] for w in spec["workloads"]] == list(W.WORKLOADS)
    assert any(
        m["name"] == "setup_s" and m["unit"] == "s" and m["better"] == "lower"
        for m in spec["end_to_end"]
    )
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_fails_without_the_engine(tmp_path):
    """In a tree holding only the benchmark, a run exits non-zero and
    prints no result."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns(
        ".work", "out", "__pycache__", ".pytest_cache"))
    proc = _run("--workload", "stream_replay", "--seed", "1", "--seconds", "1",
                "--trace", "0", cwd=tmp_path)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
