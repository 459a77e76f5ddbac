"""Per-query bench regression gate (VERDICT r10 item 7).

Ten rounds of committed BENCH_DETAIL.json artifacts existed, but
nothing FAILED when a query got slower — the r10 ``x05_pagerank``
regression (best-ever 4.03 s → 6.19 s min-of-runs) was caught at
judging, not at commit time. This module is the commit-time tripwire
and the one regression rule: ``scripts/bench_compare.py`` judges two
artifacts with the same functions.

- ``BENCH_BASELINE.json`` (``scripts/bench_baseline.py update``) is the
  committed memory: per query, the smallest clean-load min-of-runs any
  artifact with the baseline's host fingerprint recorded.
- :func:`find_regressions` is the detection rule: a query regresses
  when its current min-of-runs exceeds ``threshold × best_ever``, with
  a suite-median drift adjustment — this host drifts 1.3-1.7× wholesale
  (hypervisor page-cache eviction, README r10), and a wholesale drift
  is not 180 individual regressions. The median ratio vs baseline
  captures drift; queries are judged against
  ``threshold × max(1, median_drift)``.
- Contaminated evidence is handled explicitly, on the MIN-statistic's
  own terms: load only inflates samples, so the fastest sample counts
  regardless of the loadavg it recorded (the 1-min average lags and
  mostly measures the bench's own preceding burst). Only when the
  WINNING sample itself ran above ``load_bar`` is the verdict
  ambiguous — that query carries ``under_load=True`` and is judged
  against the RAW threshold with a consistency requirement (sample
  spread <= 1.5): interleaved samples minutes apart that agree with
  each other measure the plan, not a load burst — "consistent across
  runs, so real, not load noise" is verbatim the judge's r10 pagerank
  reasoning. It gets no drift relief because its own contamination
  already inflates it past what drift explains; suppressing it
  entirely would let a regression hide behind a busy host forever
  (the r10 pagerank case).

The live gate compares only like with like: ``bench.py`` stamps a
``fingerprint`` (cpus, sf, Spark version) into the artifact and the
baseline records the one its minima were taken under; when either is
missing or they differ, the gate skips and names the fields (r13: the
driver's 8-core run judged against 32-core minima flagged two queries
at 2.7-2.9×). It also skips when the working-tree artifact itself is
wholesale-contaminated (suite loadavg_start above the bar, or the
bench's own load gate recorded a waiver): per-query calls from such an
artifact are unreliable. bench.py's r11 load gate exists to make clean
artifacts the norm. A hit this round's calm probe
(``scripts/calm_probe.py``, its ``{}`` arms) measures inside the raw
bar is cleared.
"""

from __future__ import annotations

import json
import statistics
import sys
from pathlib import Path

import pytest

import bench
from bench import current_round
from scripts import bench_baseline, calm_probe
from tests.conftest import SF_SMOKE

REPO = Path(__file__).resolve().parent.parent
BASELINE_PATH = REPO / "BENCH_BASELINE.json"
DETAIL_PATH = REPO / "BENCH_DETAIL.json"

#: Queries faster than this (both sides) are scheduling noise, not
#: signal.
NOISE_FLOOR_S = 0.3
#: Per-sample / suite-start contamination bar: the one the baseline
#: distills its minima under.
LOAD_BAR = bench_baseline.LOAD_BAR
THRESHOLD = 1.5
#: A hit must ALSO exceed its best-ever by this many absolute seconds:
#: this host carries 0.3-0.5 s of per-stage scheduling jitter, so a
#: 1.5× ratio on a 0.4 s query is 0.2 s of "regression" —
#: indistinguishable from noise (r11: t13_pack_firstfit and
#: x02_set_ops sat at 1.8-2.5× one atypically fast committed sample
#: while remaining inside their r8-r10 historical bands). The r10
#: pagerank regression (4.03 → 6.19, excess 2.16 s) clears this floor
#: comfortably; any regression too small to clear it is also too
#: small to matter against a 250 s suite.
ABS_EXCESS_S = 1.0


def _current_min(samples, loads, load_bar):
    """(min over ALL samples, under_load).

    Load only ever INFLATES a sample, never deflates it, so for a MIN
    statistic the fastest sample is the best available bound on true
    cost no matter what the 1-min loadavg read at its start — that
    average lags and is dominated by the bench's own preceding burst
    (r11: a 0.97 s sample recorded under "load 7" disproved a 7.4×
    "regression" that a clean-samples-only min had manufactured).
    ``under_load`` is True when the WINNING sample ran above the bar —
    the one case where a slow-looking min might still be the host's
    fault rather than the plan's, which the caller resolves with the
    sample-consistency test."""
    la = list(loads) if loads else []
    # Pad rather than zip-truncate: a loadavg list shorter than the
    # samples list (partial instrumentation) must not silently drop
    # trailing samples from the min.
    la += [None] * (len(samples) - len(la))
    pairs = [(s, l) for s, l in zip(samples, la) if s > 0]
    if not pairs:
        return None, False
    best, best_la = min(pairs, key=lambda p: p[0])
    return best, best_la is not None and best_la > load_bar


def find_regressions(
    detail: dict,
    baseline: dict,
    threshold: float = THRESHOLD,
    load_bar: float = LOAD_BAR,
    noise_floor: float = NOISE_FLOOR_S,
) -> list[dict]:
    """Queries whose current min-of-runs exceeds the drift-adjusted
    threshold over their committed best-ever. Sorted worst-first."""
    runs = detail.get("runs") or {}
    loads = detail.get("run_loadavg") or {}
    ratios: dict[str, tuple[float, float, float, bool, float]] = {}
    for name, samples in runs.items():
        entry = baseline.get(name)
        if not entry or not samples:
            continue
        best = entry["min_seconds"]
        cur, under_load = _current_min(samples, loads.get(name), load_bar)
        if cur is None:  # no positive sample recorded: nothing to judge
            continue
        if best <= noise_floor or cur <= noise_floor:
            continue
        pos = [s for s in samples if s > 0]
        spread = max(pos) / min(pos)
        ratios[name] = (cur / best, cur, best, under_load, spread)
    if not ratios:
        return []
    # Suite-wide drift: the median CLEAN query's ratio vs its
    # best-ever. A calm host sits ~1.0-1.3; r10's hot host measured
    # 1.36. Real regressions stand out FROM the drift.
    clean_ratios = [r for r, _, _, ul, _ in ratios.values() if not ul]
    drift = statistics.median(clean_ratios) if clean_ratios else 1.0
    bar = threshold * max(1.0, drift)
    out = []
    for name, (r, cur, best, under_load, spread) in ratios.items():
        if cur - best <= ABS_EXCESS_S:
            continue  # sub-second excess: scheduling noise, not signal
        if under_load:
            # raw threshold + consistency: agreeing contaminated
            # samples measure the plan, not the burst
            hit = r > threshold and spread <= 1.5
        else:
            hit = r > bar
        if hit:
            out.append(
                {
                    "query": name,
                    "ratio": round(r, 3),
                    "current_min_s": cur,
                    "best_ever_s": best,
                    "under_load": under_load,
                    "sample_spread": round(spread, 3),
                    "drift_adjusted_bar": round(bar, 3),
                    "suite_drift": round(drift, 3),
                }
            )
    return sorted(out, key=lambda d: -d["ratio"])


#: What makes two bench artifacts comparable (``bench.py``'s stamp).
FINGERPRINT_FIELDS = ("cpus", "sf", "spark_version")


def fingerprint_mismatch(detail: dict, baseline: dict) -> str | None:
    """None when the artifact and the baseline carry the same value for
    every fingerprint field; otherwise the fields that are missing or
    differ."""
    mine = detail.get("fingerprint") or {}
    theirs = baseline.get("fingerprint") or {}
    bad = []
    for f in FINGERPRINT_FIELDS:
        if f not in mine or f not in theirs:
            side = "artifact" if f not in mine else "baseline"
            bad.append(f"{f} missing from the {side}")
        elif mine[f] != theirs[f]:
            bad.append(f"{f} {mine[f]} vs baseline {theirs[f]}")
    return "; ".join(bad) or None


def _artifact_is_contaminated(detail: dict) -> str | None:
    start = detail.get("loadavg_start") or []
    if start and start[0] > LOAD_BAR:
        return f"suite started at loadavg {start[0]} > {LOAD_BAR}"
    gate = detail.get("load_gate") or {}
    if gate.get("waived"):
        return "bench load gate was waived (host never calmed down)"
    return None


def test_gate_catches_the_r10_pagerank_regression():
    """The exact numbers the judge flagged in VERDICT r10 (pagerank
    runs [6.193, 6.39] under loadavg [4.93, 4.31]; committed best-ever
    4.029 s from the r9 artifact) MUST trip the gate — this is the
    'failing test reproduced on the r10 numbers' proof. The regression
    is 1.54× on a query whose every sample was load-contaminated: the
    under_load fallback is what keeps it visible."""
    detail = {
        "runs": {
            "x05_pagerank": [6.193, 6.39],
            # a calm bystander so the suite-drift median stays honest
            "x05_bfs_distances": [4.27, 4.41],
        },
        "run_loadavg": {
            "x05_pagerank": [4.93, 4.31],
            "x05_bfs_distances": [2.0, 2.1],
        },
    }
    baseline = {
        "x05_pagerank": {"min_seconds": 4.029},
        "x05_bfs_distances": {"min_seconds": 4.27},
    }
    hits = find_regressions(detail, baseline)
    assert [h["query"] for h in hits] == ["x05_pagerank"]
    assert hits[0]["under_load"] is True
    assert hits[0]["ratio"] > 1.5


def test_gate_does_not_flag_wholesale_host_drift():
    """Every query 1.4× slower (hypervisor page-cache eviction shape)
    is drift, not 180 regressions — the median adjustment absorbs it;
    one query at 3× still trips."""
    baseline = {f"q{i}": {"min_seconds": 2.0} for i in range(9)}
    detail = {"runs": {f"q{i}": [2.8] for i in range(9)}}
    assert find_regressions(detail, baseline) == []
    detail["runs"]["q0"] = [6.0]
    hits = find_regressions(detail, baseline)
    assert [h["query"] for h in hits] == ["q0"]


def test_fingerprint_gate_refuses_the_r13_core_count_comparison():
    """VERDICT r13 item 1, from the committed r13 artifacts: the
    driver's 8-core run (its core count is in ``BENCH_r13_c8.json``)
    judged against the 32-core best-ever minima flags mm_audio_chunks
    and mm_decode_features at 2.7-2.9×. The per-query rule cannot tell
    core count from regression; the fingerprint check refuses the
    comparison and names the field. Both inputs are frozen in
    ``tests/data/bench_r13_c8_gate.json`` so a later bench run or
    baseline re-take does not change them."""
    frozen = json.loads((REPO / "tests/data/bench_r13_c8_gate.json").read_text())
    detail = frozen["detail"]
    driver = json.loads((REPO / "BENCH_r13_c8.json").read_text())
    baseline = {**frozen["baseline"], "fingerprint": {"cpus": 32, "sf": 0.1}}
    hits = {h["query"]: h["ratio"] for h in find_regressions(detail, baseline)}
    assert set(hits) == {"mm_audio_chunks", "mm_decode_features"}
    assert all(2.6 < r < 3.0 for r in hits.values())

    # as committed the artifact carries no fingerprint at all
    assert fingerprint_mismatch(detail, baseline) == "; ".join(
        f"{f} missing from the artifact" for f in FINGERPRINT_FIELDS
    )
    stamped = {
        **detail,
        "fingerprint": {
            "cpus": driver["cpus"],
            "sf": driver["sf"],
            "spark_version": "4.1.2",
        },
    }
    assert fingerprint_mismatch(stamped, baseline) == (
        "cpus 8 vs baseline 32; spark_version missing from the baseline"
    )


def test_fingerprint_gate_passes_like_for_like():
    fp = {"cpus": 4, "sf": 0.1, "spark_version": "4.1.2"}
    assert fingerprint_mismatch({"fingerprint": fp}, {"fingerprint": fp}) is None
    other = {"fingerprint": {**fp, "spark_version": "4.0.0"}}
    assert fingerprint_mismatch({"fingerprint": fp}, other) == (
        "spark_version 4.1.2 vs baseline 4.0.0"
    )


def calm_probe_minima(round_n: int) -> dict[str, float]:
    """Per-query min over THIS round's committed calm-probe artifacts
    (``CALMPROBE_r{N}*.json``), from their ``{}`` arms only: a
    conf-override arm is not evidence for the engine as committed. The
    calm probe is the established re-adjudication slot for
    suite-context inflation (VERDICT r10 item 2): isolated
    fresh-session samples with the load recorded beside each. Minima
    only from the current round — a stale artifact must not keep
    vouching for a query that later regressed. An unreadable artifact
    fails the gate, naming its path."""
    out: dict[str, float] = {}
    for f in sorted(REPO.glob(f"CALMPROBE_r{round_n:02d}*.json")):
        try:
            arms = json.loads(f.read_text())["arms"]
            calm = [arm["queries"] for arm in arms if arm["conf"] == {}]
            for queries in calm:
                for name, entry in queries.items():
                    runs = [s for s in entry["runs"] if s > 0]
                    if runs:
                        m = min(runs)
                        out[name] = min(out.get(name, m), m)
        except (ValueError, KeyError, TypeError, AttributeError) as exc:
            raise ValueError(
                f"unreadable calm-probe artifact {f}: {exc!r}"
            ) from exc
    return out


def clear_by_calm_evidence(
    hits: list[dict], calm_minima: dict[str, float],
    threshold: float = THRESHOLD,
) -> tuple[list[dict], list[dict]]:
    """Split regression hits into (standing, cleared): a hit whose
    CALM-ISOLATED min this round sits inside the RAW threshold over
    its best-ever is disproven — the suite number measured ~240
    queries of shared-JVM context, and the isolated run is the better
    bound (min statistic: load only inflates). No drift relief here:
    calm runs are exactly the comparison drift adjustment exists to
    approximate."""
    standing, cleared = [], []
    for h in hits:
        calm = calm_minima.get(h["query"])
        if calm is not None and calm <= threshold * h["best_ever_s"]:
            cleared.append({**h, "calm_min_s": calm})
        else:
            standing.append(h)
    return standing, cleared


def test_calm_evidence_clears_only_disproven_hits():
    """The override is evidence-scoped: a calm min inside the raw bar
    clears a hit; a calm min still outside it does not."""
    hits = [
        {"query": "a", "best_ever_s": 2.0, "current_min_s": 4.0},
        {"query": "b", "best_ever_s": 2.0, "current_min_s": 4.0},
        {"query": "c", "best_ever_s": 2.0, "current_min_s": 4.0},
    ]
    standing, cleared = clear_by_calm_evidence(
        hits, {"a": 2.4, "b": 3.6}
    )
    assert [h["query"] for h in cleared] == ["a"]
    assert [h["query"] for h in standing] == ["b", "c"]
    assert cleared[0]["calm_min_s"] == 2.4


def test_no_regressions_vs_committed_best_ever():
    """The live gate: the working-tree BENCH_DETAIL.json must carry no
    query past the drift-adjusted 1.5× bar over BENCH_BASELINE.json —
    unless THIS round's committed calm-probe artifact disproves the
    hit with an isolated min inside the raw bar. After a bench run
    that newly bests old minima, fold them in with
    ``python scripts/bench_baseline.py update``."""
    if not BASELINE_PATH.exists() or not DETAIL_PATH.exists():
        pytest.skip("no committed baseline / bench artifact")
    detail = json.loads(DETAIL_PATH.read_text())
    reason = _artifact_is_contaminated(detail)
    if reason:
        pytest.skip(f"artifact unreliable for per-query calls: {reason}")
    baseline = json.loads(BASELINE_PATH.read_text())
    mismatch = fingerprint_mismatch(detail, baseline)
    if mismatch:
        pytest.skip(f"artifact not comparable to the baseline: {mismatch}")
    hits = find_regressions(detail, baseline)
    hits, _cleared = clear_by_calm_evidence(
        hits, calm_probe_minima(current_round())
    )
    assert not hits, (
        "per-query bench regressions vs committed best-ever "
        f"(drift-adjusted bar {hits and hits[0]['drift_adjusted_bar']}):\n"
        + "\n".join(
            f"  {h['ratio']:5.2f}x  {h['query']}: best {h['best_ever_s']}s "
            f"-> {h['current_min_s']}s"
            + ("  [all samples under load]" if h["under_load"] else "")
            for h in hits
        )
    )


def test_calm_probe_minima_fails_on_an_unreadable_artifact(
    monkeypatch, tmp_path
):
    monkeypatch.setattr(sys.modules[__name__], "REPO", tmp_path)
    bad = tmp_path / "CALMPROBE_r07.json"
    bad.write_text('{"arms": [{"conf": {}, "queries": ')
    with pytest.raises(ValueError, match=str(bad)):
        calm_probe_minima(7)


def test_calm_probe_minima_reads_only_the_unset_conf_arm(
    monkeypatch, tmp_path
):
    monkeypatch.setattr(sys.modules[__name__], "REPO", tmp_path)
    arms = [
        {"conf": {}, "queries": {"a": {"runs": [2.0, 1.5]}}},
        {"conf": {"k": "v"}, "queries": {"a": {"runs": [0.5]}}},
    ]
    (tmp_path / "CALMPROBE_r07.json").write_text(json.dumps({"arms": arms}))
    assert calm_probe_minima(7) == {"a": 1.5}


FP = {"cpus": 4, "sf": 0.1, "spark_version": "4.1.2"}


def _suite(runs: dict[str, list[float]], fp=FP, start=1.0) -> dict:
    """A bench artifact with ``MIN_SUITE_QUERIES`` queries: ``runs``
    plus 1.0 s fillers."""
    runs = {
        **{f"fill{i}": [1.0] for i in range(bench_baseline.MIN_SUITE_QUERIES)},
        **runs,
    }
    return {
        "fingerprint": fp,
        "loadavg_start": [start, start, start],
        "queries": {n: min(s) for n, s in runs.items()},
        "runs": runs,
        "run_loadavg": {n: [1.0] * len(s) for n, s in runs.items()},
    }


@pytest.fixture
def baseline_files(monkeypatch, tmp_path):
    """``bench_baseline`` pointed at tmp BASELINE/DETAIL files; returns
    ``update(detail) -> baseline``."""
    monkeypatch.setattr(bench_baseline, "BASELINE", tmp_path / "base.json")
    monkeypatch.setattr(bench_baseline, "DETAIL", tmp_path / "detail.json")

    def update(detail: dict) -> dict:
        bench_baseline.DETAIL.write_text(json.dumps(detail))
        bench_baseline.update()
        return json.loads(bench_baseline.BASELINE.read_text())

    return update


def test_baseline_update_refuses_an_artifact_without_fingerprint(
    baseline_files,
):
    with pytest.raises(SystemExit, match="no fingerprint"):
        baseline_files(_suite({"a": [2.0]}, fp=None))
    assert not bench_baseline.BASELINE.exists()


def test_baseline_update_only_lowers_minima(baseline_files):
    base = baseline_files(_suite({"a": [2.0, 2.5], "b": [3.0]}))
    assert base["fingerprint"] == FP
    assert (base["a"]["min_seconds"], base["b"]["min_seconds"]) == (2.0, 3.0)
    base = baseline_files(_suite({"a": [4.0], "b": [1.0], "c": [5.0]}))
    assert base["a"]["min_seconds"] == 2.0
    assert base["b"]["min_seconds"] == 1.0
    assert base["c"]["min_seconds"] == 5.0


def test_baseline_update_starts_anew_on_a_fingerprint_change(baseline_files):
    baseline_files(_suite({"a": [1.0], "b": [3.0]}))
    base = baseline_files(_suite({"a": [2.0]}, fp={**FP, "cpus": 8}))
    assert base["fingerprint"]["cpus"] == 8
    assert base["a"]["min_seconds"] == 2.0
    assert "b" not in base


def test_baseline_update_skips_contaminated_and_partial_suites(baseline_files):
    base = baseline_files(_suite({"a": [2.0]}))
    hot = baseline_files(_suite({"a": [1.0]}, start=LOAD_BAR + 1))
    assert hot == base
    partial = _suite({})
    partial["runs"] = partial["queries"] = {"a": [1.0]}
    assert baseline_files(partial) == base


def test_bench_compare_refuses_the_fingerprintless_r13_artifact(
    tmp_path, capsys
):
    from scripts import bench_compare

    old = REPO / "plans/r13/bench_before_detail.json"
    new = tmp_path / "new.json"
    stamped = {**json.loads(old.read_text()), "fingerprint": FP}
    new.write_text(json.dumps(stamped))
    assert bench_compare.main([str(old), str(new)]) == 2
    out = capsys.readouterr().out
    for f in FINGERPRINT_FIELDS:
        assert f"{f} missing from the baseline" in out
    assert "regressions" not in out


def test_bench_compare_reports_the_gate_hits(tmp_path, capsys):
    """Same fingerprint on both sides: bench_compare's verdict is
    exactly find_regressions' on the frozen r13 gate numbers."""
    from scripts import bench_compare

    frozen = json.loads(
        (REPO / "tests/data/bench_r13_c8_gate.json").read_text()
    )
    minima = {n: e["min_seconds"] for n, e in frozen["baseline"].items()}
    runs = {n: [m] for n, m in minima.items()}
    old = {"fingerprint": FP, "queries": minima, "runs": runs}
    new = {**frozen["detail"], "fingerprint": FP}
    expected = find_regressions(frozen["detail"], frozen["baseline"])
    assert {h["query"] for h in expected} == {
        "mm_audio_chunks",
        "mm_decode_features",
    }
    assert bench_compare.compare(old, new) == (None, expected)

    paths = [tmp_path / "old.json", tmp_path / "new.json"]
    for p, d in zip(paths, (old, new)):
        p.write_text(json.dumps(d))
    assert bench_compare.main([str(p) for p in paths]) == 1
    listed = [
        ln.split()[1].rstrip(":")
        for ln in capsys.readouterr().out.splitlines()
        if ln.startswith("  ")
    ]
    assert listed == [h["query"] for h in expected]


@pytest.fixture
def smoke_probe(spark, monkeypatch, tmp_path):
    """Runs ``calm_probe.main`` on the test session at SF_SMOKE with a
    gate of 99 and 1 round; returns the artifact it wrote."""
    monkeypatch.setattr(bench, "SF_DIR", SF_SMOKE)
    monkeypatch.setattr(sys.modules[__name__], "REPO", tmp_path)
    out = tmp_path / "CALMPROBE_r07.json"

    def run(queries: str, *arms: str) -> dict:
        argv = [queries, "1", "99", str(out), *arms]
        assert calm_probe.main(argv, spark=spark) == 0
        return json.loads(out.read_text())

    return run


def test_calm_probe_single_arm_feeds_the_gate(smoke_probe):
    art = smoke_probe("q01_pushdown_scan")
    assert [a["conf"] for a in art["arms"]] == [{}]
    assert art["sf_dir"] == SF_SMOKE
    assert set(calm_probe_minima(7)) == {"q01_pushdown_scan"}


def test_calm_probe_ab_arms_restore_the_conf(spark, smoke_probe):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    art = smoke_probe("q01_pushdown_scan,q08_scalar_arithmetic", f"{key}=3,5")
    assert spark.conf.get(key) == before
    assert [a["conf"] for a in art["arms"]] == [{key: "3"}, {key: "5"}]
    for arm in art["arms"]:
        for res in arm["queries"].values():
            assert len(res["runs"]) == len(res["run_loadavg"]) == 1
            assert res["warmup"] > 0 and res["min_seconds"] == res["runs"][0]
    assert calm_probe_minima(7) == {}
