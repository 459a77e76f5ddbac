#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Runs the registry's full query inventory on local[$SPARK_GRAFT_CPUS]
(default sf0.1, every core when unset) and prints exactly ONE COMPACT
JSON line:

    {"metric": "suite_seconds", "value": <total>, "unit": "sec",
     "queries": {"<headline name>": <median sec>, ...}, "sf": <sf>,
     "n_queries": <total count>, "k": 3, "detail": "BENCH_DETAIL.json"}

The stdout line is deliberately bounded (~1.3 KB): the driver captures
only the last ~2000 chars of output, and round 3's one-line-with-86-
queries overflowed that window (BENCH_r03.json parsed: null). The
stdout "queries" dict therefore carries ONLY the headline prefix;
per-query timings for the whole inventory — including every individual
run behind each median — go to ``BENCH_DETAIL.json`` next to this file
(override with $SPARK_GRAFT_BENCH_DETAIL).

Headline queries are timed k=3 and reported as the MEDIAN: the builder
measured identical suites drifting 1.3-1.7x run-to-run on this host
(README round-3 notes), so single-shot timings can't support
round-over-round regression calls. Non-headline queries are timed k=2
and reported as the MIN (noise floor): single shots proved unusable —
the shared-JVM context spiked individual queries 3-7x (d20 measured
50.9 s in-suite vs 13.9 s re-run) — and min-of-2 bounds that without
tripling the suite budget. Repetitions are INTERLEAVED round-robin
across the whole set (r5; back-to-back k-runs let one JVM context
spike poison every sample of a single query — r4's d15 spread 3.5x
within one suite), and ANY query whose samples still spread >1.5x —
headline or not — gets up to ``K_EXTRA`` adaptive top-up rounds, so
every reported number either has max/min <= 1.5 or carries its extra
runs in the artifact (VERDICT r9 item 2).

Load-proofing (r10): every timed sample records the 1-min loadavg it
ran under (``run_loadavg`` in BENCH_DETAIL, parallel to ``runs``) so a
contaminated sample is identifiable after the fact, and the whole
suite gets ONE UNTIMED WARMUP PASS at the benched scale factor before
any timed pass — the cold pass pays shuffle-file creation, page-cache
population and interpreter JIT that the old sf0.001 compile pass
(codegen only) provably did not cover (d20_training_pipeline measured
9.7 s cold vs 4.2 s warm in r9). The cold times are recorded as
``warmup_runs`` — the cold/warm gap is itself evidence.

Each query is forced end-to-end with the noop sink (full execution, no
driver collect bottleneck). One warm-up run of a tiny query first so JVM
/ codegen startup isn't attributed to the first query.

The measurement core — :func:`timed_run`, :func:`release_leftovers`,
the host-load gate :func:`wait_for_calm_host` and the round-numbered
artifact path :func:`round_artifact` — is module-level so the probes
under ``scripts/`` time, gate and name their artifacts exactly as the
suite does. A query's isolated re-run, away from the suite's shared-JVM
context, is ``scripts/calm_probe.py``; ``scripts/bench_compare.py`` and
``tests/test_bench_regression.py`` judge artifacts by one rule.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Headline queries are timed K times (median), the rest K_REST times
#: (min); a query whose samples spread >1.5x gets up to K_EXTRA more
#: interleaved rounds.
K = 3
K_REST = 2
K_EXTRA = 2

#: Host-load GATE (r11, VERDICT r10 item 3): r10 recorded
#: contamination perfectly (60+ queries escalated under loadavg
#: 4->5.5) but didn't avoid it. Before the suite and before each
#: escalation round, wait until the 1-min loadavg drops to the gate —
#: up to the wait budget; if it never does, proceed anyway and record
#: an explicit WAIVER in the artifact (a stalled bench is worse than a
#: contaminated-but-labeled one). Gate 2.0 was set as ~6% of a
#: 32-thread host (background noise, not a competing Spark suite); on
#: a 4-CPU host it is half the machine.
LOAD_GATE = 2.0
LOAD_GATE_WAIT_S = 300.0
#: Seconds between loadavg polls while the gate waits.
LOAD_GATE_POLL_S = 10.0


def wait_for_calm_host(stage: str, gate: float, wait_s: float) -> dict:
    """Wait until the 1-min loadavg is at most ``gate``, for at most
    ``wait_s`` seconds of polling. Returns the gate event (stage,
    loadavg before/after, seconds waited, gate, and ``waived`` when
    the host was still hot after the budget) for the caller's
    artifact."""
    before = os.getloadavg()[0]
    la = before
    waited = 0.0
    while la > gate and waited < wait_s:
        time.sleep(LOAD_GATE_POLL_S)
        waited += LOAD_GATE_POLL_S
        la = os.getloadavg()[0]
    return {
        "stage": stage,
        "loadavg_before": before,
        "loadavg_after": la,
        "waited_seconds": waited,
        "gate": gate,
        "waived": la > gate,
    }


def release_leftovers(spark) -> None:
    """Between-query storage hygiene (UNTIMED): drop any persistent
    RDDs and cached plans a query left behind so later queries are
    measured against a clean heap, not the accumulated storage of
    everything before them (the whole registry shares this JVM)."""
    from echem_dft_etl_spark.operators.storage import (
        persistent_rdd_ids,
        release_rdds,
    )

    release_rdds(spark, persistent_rdd_ids(spark))
    spark.catalog.clearCache()


def timed_run(spark, fn) -> tuple[float, float]:
    """Build ``fn(spark, SF_DIR)``, force it through the noop sink and
    release what it left behind. Returns (elapsed seconds, 1-min
    loadavg at run start); the release is not timed."""
    la = os.getloadavg()[0]
    t0 = time.perf_counter()
    fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
    elapsed = round(time.perf_counter() - t0, 3)
    release_leftovers(spark)
    return elapsed, la


def current_round() -> int:
    """The round being built: one past the newest
    ``CORRECTNESS_r{N}.json`` at the repo root."""
    rounds = [
        int(m.group(1))
        for f in REPO.glob("CORRECTNESS_r*.json")
        if (m := re.match(r"CORRECTNESS_r(\d+)\.json", f.name))
    ]
    return (max(rounds) + 1) if rounds else 1


def round_artifact(prefix: str, override: str | None = None) -> Path:
    """``override`` when given, else ``<prefix>_r{N}.json`` at the repo
    root, N being :func:`current_round`. Every probe names its artifact
    this way."""
    if override:
        return Path(override)
    return REPO / f"{prefix}_r{current_round():02d}.json"


#: Nothing is excluded: every registered query is benched (r8 —
#: the reference e2e was previously skipped as "composes stages
#: benched individually", but a silent cap reads as coverage; it
#: costs ~7 s at sf0.1).
EXCLUDE: frozenset[str] = frozenset()

#: The r1/r2 headline set, kept FIRST and in this order so
#: round-over-round deltas line up; every other registered query is
#: appended behind it (r3: bench the unbenched half — streaming,
#: UDTF/UDAF surfaces, packing, cube/pivot, ANN variants — so
#: regressions are visible everywhere).
HEADLINE: tuple[str, ...] = (
    "echem_flagship",
    "q01_pushdown_scan",
    "q05_last_match_per_key",
    "q08_scalar_arithmetic",
    "q11_det_sample",
    "q14_group_index",
    "q16_upsert_first_wins",
    "q17_multi_join",
    "q21_pricing_summary",
    # analytics extensions
    "x01_group_topk",
    "x03_rollup",
    "x04_analytic_windows",
    "x06_percentiles_distinct",
    "x09_sessionize",
    # LLM-pipeline operators
    "d11_dedup_exact",
    "d12_minhash_lsh",
    "d13_simhash",
    "s12_cosine_topk",
    "s12_ivf_topk",
    "s12_embed_quantize",
    "t13_token_stats",
    "t13_language_id",
    "t13_fingerprint",
    # reference-shape and surface queries
    "q13_generate_grid",
    "q18_grouped_collect",
    "s15_salted_join",
    "mm_decode_features",
    "x02_set_ops",
    "x08_json_extract",
    "d14_ngram_jaccard",
    "s12_kmeans_refine",
    "s16_asof_join",
    "x03_time_rollup",
    "sql_surface_pricing",
    # r2 additions: the rewritten pair queries (regression guards for the
    # banded/blocked join shapes) and the nested materials model
    "d13_simhash_pairs",
    "s12_cosine_near_pairs",
    "d01_nested_sites",
    # r2: iterative graph exemplar — transitive dedup clusters
    "d12_dup_clusters",
    # r2: ranked retrieval (BM25, lane-expression tf + one-row stats)
    "t13_bm25_topk",
    # r2: eval decontamination + repetition quality gates
    "d15_decontaminate",
    "t13_repetition",
    # r6 additions: iterative BFS, PQ ANN compression, the native
    # session operator, and exact-rational interpolation — one
    # median-tracked representative per new family
    "x05_bfs_distances",
    "s12_pq_topk",
    "x09_session_window_native",
    "x04_interpolate",
    # r7 additions (VERDICT r6 ask): the composed IVF-PQ index, the
    # blocking->CC->survivorship entity-resolution chain, and the
    # retraction-aware incremental rollup — median-grade measurement
    # for the newest heavyweight operators
    "s12_ivfpq_topk",
    "d25_entity_resolution",
    "s19_retractable_rollup",
    # r7 session-2 additions: the bloom-pruned semi-join, the
    # large×large binned range join, and perceptual-hash image dedup —
    # one median-tracked representative per new family
    "s15_bloom_prune",
    "x05_range_join_binned",
    "mm_image_phash_pairs",
)


def bench_names(specs) -> tuple[str, ...]:
    """Headline order first, then every other registered query."""
    rest = [n for n in specs if n not in HEADLINE and n not in EXCLUDE]
    return tuple(n for n in HEADLINE if n in specs) + tuple(rest)


def main() -> None:
    from echem_dft_etl_spark.registry import all_queries
    from echem_dft_etl_spark.session import get_session

    # Gate FIRST — before the JVM spins up and starts contributing
    # its own load to the reading. One event per gate invocation goes
    # to BENCH_DETAIL (``load_gate.events``).
    gate_events = [
        wait_for_calm_host("suite_start", LOAD_GATE, LOAD_GATE_WAIT_S)
    ]

    # 1/5/15-min loadavg at suite start, after the gate.
    load_at_start = list(os.getloadavg())

    # No console progress bar: its \r-spam shares the driver's ~2000-char
    # output tail with the one JSON line this script must deliver.
    spark = get_session(
        app_name="echem-spark-bench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_queries()
    names = bench_names(specs)

    # Warm up the JVM first so startup isn't attributed to pass 0.
    spark.range(1000).selectExpr("sum(id)").collect()
    # one-time fixture materialization (both on-disk binaryFile
    # corpora) happens OUTSIDE the timed loop — fixture generation
    # isn't query execution, and only the first run of a round would
    # ever pay it
    from echem_dft_etl_spark.operators import multimodal
    from echem_dft_etl_spark.sources import load_table

    docs = load_table(spark, SF_DIR, "documents")
    multimodal.materialize_bmp_files(spark, SF_DIR, docs)
    multimodal.materialize_wav_files(spark, SF_DIR, docs)

    # Failures of the best-effort stages (warm-up, phase probe), as
    # {"stage", "query", "error"}; empty on a clean run.
    harness_errors: list[dict] = []

    release_leftovers(spark)

    # UNTIMED warmup pass at the benched scale factor: pays codegen,
    # shuffle-file creation and page-cache fill once, outside the
    # statistics. Recorded (not summed) — the cold/warm gap per query
    # is diagnostic evidence (r9: d20 9.7 s cold vs 4.2 s warm).
    warmup_runs: dict[str, float] = {}
    warmup_load: dict[str, float] = {}
    for name in names:
        try:
            warmup_runs[name], warmup_load[name] = timed_run(
                spark, specs[name].fn
            )
        except Exception as exc:
            harness_errors.append(
                {"stage": "warmup", "query": name, "error": repr(exc)}
            )

    # Non-headline queries get k=2/min instead of the old single shot:
    # the shared-JVM suite context spikes individual queries 3-7x
    # (measured d20 50.9 s vs 13.9 s isolated, q17 1.9/9.2/7.3 s within
    # one run), and a single sample can't tell a regression from one GC
    # pause. min-of-2 is the noise-floor estimator; headline queries
    # keep median-of-3 for round-over-round comparability.
    # Repetitions are INTERLEAVED (round-robin the whole set k times),
    # not run back-to-back per query: back-to-back attributes whatever
    # the JVM is digesting at that moment — a GC of the previous
    # query's garbage, a concurrent-mark phase — to all k samples of
    # ONE query (r4's d15 spread 25.5/18.4/7.3 s within a single
    # suite). Round-robin spaces a query's samples minutes apart so a
    # context spike lands on at most one of them and the median sheds
    # it.
    runs: dict[str, list[float]] = {n: [] for n in names}
    run_loadavg: dict[str, list[float]] = {n: [] for n in names}

    def sample(name: str) -> None:
        dt, la = timed_run(spark, specs[name].fn)
        runs[name].append(dt)
        run_loadavg[name].append(la)

    for p in range(max(K, K_REST)):
        for name in names:
            kq = K if name in HEADLINE else K_REST
            if p < kq:
                sample(name)
    # Adaptive top-up for EVERY query (r10; was headline-only at 2x):
    # any query whose samples spread >1.5x gets up to K_EXTRA more
    # interleaved rounds — so each reported number either has
    # max/min <= 1.5 or carries k >= 3 samples in the artifact for the
    # reader to adjudicate.
    def noisy() -> list[str]:
        return [
            n
            for n in names
            if min(runs[n]) > 0 and max(runs[n]) / min(runs[n]) > 1.5
        ]

    for _ in range(K_EXTRA):
        if not noisy():
            break
        # A noisy sample usually means the HOST was busy, not the
        # query: let the load decay before burning the retry budget
        # on another contaminated round.
        gate_events.append(
            wait_for_calm_host(
                "escalation_round", LOAD_GATE, LOAD_GATE_WAIT_S
            )
        )
        for name in noisy():
            sample(name)
    timings: dict[str, float] = {}
    for name in names:
        if name in HEADLINE:
            timings[name] = sorted(runs[name])[len(runs[name]) // 2]
        else:
            timings[name] = min(runs[name])

    def zorder_phase_probe() -> dict:
        """Write-vs-read phase split for s01_zorder_scan (VERDICT r9
        item 6): the benched number folds the interleaved-bit layout
        WRITE into one figure, but the 100 TB claim is about pruned
        READ cost. Times each phase separately and records how many
        files the two-dimensional predicate actually touched — the
        prune-bound evidence (same precedent as the IVF-PQ build/serve
        split)."""
        import shutil
        import tempfile

        from pyspark.sql import functions as F

        from echem_dft_etl_spark.sources import load_table
        from echem_dft_etl_spark.sources.sinks import write_zordered

        orders = load_table(spark, SF_DIR, "orders").withColumn(
            "o_orderday", F.datediff("o_orderdate", F.lit("1995-01-01"))
        )
        out = tempfile.mkdtemp(prefix="bench_zorder_")
        try:
            t0 = time.perf_counter()
            write_zordered(orders, f"{out}/orders", "o_custkey", "o_orderday")
            write_s = round(time.perf_counter() - t0, 3)
            back = spark.read.parquet(f"{out}/orders")
            files_total = back.select(
                F.input_file_name()
            ).distinct().count()
            filt = back.filter(
                F.col("o_custkey").between(100, 400)
                & (F.col("o_orderdate") >= "1996-01-01")
                & (F.col("o_orderdate") < "1996-07-01")
            )
            t0 = time.perf_counter()
            filt.groupBy("o_orderstatus").agg(
                F.count("*").alias("n_rows")
            ).write.format("noop").mode("overwrite").save()
            read_s = round(time.perf_counter() - t0, 3)
            files_read = filt.select(
                F.input_file_name()
            ).distinct().count()
        finally:
            shutil.rmtree(out, ignore_errors=True)
        return {
            "write_seconds": write_s,
            "read_seconds": read_s,
            "files_read": files_read,
            "files_total": files_total,
        }

    phase_seconds: dict[str, dict] = {}
    try:
        phase_seconds["s01_zorder_scan"] = zorder_phase_probe()
    except Exception as exc:
        harness_errors.append(
            {"stage": "phase_probe", "query": "s01_zorder_scan", "error": repr(exc)}
        )
    release_leftovers(spark)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf

    headline = {n: timings[n] for n in names if n in HEADLINE}
    detail_path = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL", str(REPO / "BENCH_DETAIL.json")
    )
    # Host-load fingerprint: round 6 found a background parity run
    # inflating individual queries 3-8x (d25 6 s -> 43 s) and the whole
    # suite 2x; recording 1/5/15-min loadavg at suite start and end
    # lets a reader tell contamination from regression without
    # re-running anything.
    with open(detail_path, "w") as f:
        json.dump(
            {
                "metric": "suite_seconds",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "sf": sf_val,
                # what makes two artifacts comparable: the regression
                # gate judges only against a baseline with this same
                # fingerprint (r13: 8-core runs vs 32-core minima)
                "fingerprint": {
                    "cpus": spark.sparkContext.defaultParallelism,
                    "sf": sf_val,
                    "spark_version": spark.version,
                },
                "k_headline": K,
                "k_rest": K_REST,
                "rest_stat": "min",
                "headline_seconds": round(sum(headline.values()), 3),
                "loadavg_start": load_at_start,
                "loadavg_end": list(os.getloadavg()),
                "queries": timings,
                "runs": runs,
                "run_loadavg": run_loadavg,
                "warmup_runs": warmup_runs,
                "warmup_loadavg": warmup_load,
                "spread_escalation": {
                    "threshold": 1.5,
                    "max_extra_rounds": K_EXTRA,
                    "still_noisy": sorted(noisy()),
                },
                "phase_seconds": phase_seconds,
                "harness_errors": harness_errors,
                "load_gate": {
                    "gate": LOAD_GATE,
                    "wait_budget_seconds": LOAD_GATE_WAIT_S,
                    "events": gate_events,
                    "waived": any(e["waived"] for e in gate_events),
                },
            },
            f,
            indent=1,
        )

    summary = {
        "metric": "suite_seconds",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": headline,
        "sf": sf_val,
        "n_queries": len(timings),
        "k": K,
        "detail": detail_path,
    }
    line = json.dumps(summary, separators=(",", ":"))
    if len(line) > 1700:  # driver tail capture is ~2000 chars; stay under
        summary["queries"] = {
            n: headline[n] for n in list(headline)[:20]
        }
        line = json.dumps(summary, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
