#!/usr/bin/env python
"""Local mirror of the driver's correctness gate at any scale factor.

Usage: python scripts/verify_local.py [sf_dir]   (default /root/testdata/sf0.01)

Runs every registry query on Spark and its oracle on DuckDB over the same
parquet, compares row count + column names + exact values, prints one
line per query.

On a FULL run (no query filter) it also writes ``PARITY_r{N}.json`` at
the repo root — one entry per registered query with pass/fail, row
counts, and oracle coverage — so the registry's behind-driver-window
queries carry committed, auditable evidence each round without anyone
re-executing the suite. N is inferred as (max existing CORRECTNESS
round) + 1, i.e. the round currently being built; override with
``PARITY_OUT=/path.json``.
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "tests"))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
#: Optional comma-separated query-name filter (exact names), e.g.
#:   python scripts/verify_local.py /root/testdata/sf0.01 d19_fuzzy_join
ONLY = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None


def main() -> int:
    import json

    import duckdb

    from bench import round_artifact
    from echem_dft_etl_spark.registry import all_queries
    from echem_dft_etl_spark.session import get_session
    from echem_dft_etl_spark.sources import TABLES
    from tests.test_oracle_parity import (
        _duck_result,
        _spark_result,
        parity_problems,
    )

    spark = get_session(app_name="verify-local")
    spark.sparkContext.setLogLevel("WARN")
    duck = duckdb.connect()
    for t in TABLES:
        duck.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    failures = 0
    parity: dict[str, dict] = {}
    for name, spec in sorted(all_queries().items()):
        if ONLY is not None and name not in ONLY:
            continue
        t0 = time.time()
        try:
            spark_res = _spark_result(spark, spec.fn, SF_DIR)
            s_rows = spark_res[1]
            if spec.oracle is None:
                parity[name] = {
                    "status": "rows-only",
                    "spark_rows": len(s_rows),
                    "oracle_rows": None,
                    "sec": round(time.time() - t0, 2),
                }
                print(f"  {name}: rows-only, {len(s_rows)} rows "
                      f"[{time.time()-t0:.1f}s]")
                continue
            duck_res = _duck_result(duck, spec.oracle)
            problems = parity_problems(spark_res, duck_res)
            parity[name] = {
                "status": "fail" if problems else "pass",
                "spark_rows": len(s_rows),
                "oracle_rows": len(duck_res[1]),
                "sec": round(time.time() - t0, 2),
                **({"problems": problems} if problems else {}),
            }
            if problems:
                failures += 1
                print(f"  {name}: FAIL {problems} [{time.time()-t0:.1f}s]")
            else:
                print(f"  {name}: OK {len(s_rows)} rows [{time.time()-t0:.1f}s]")
        except Exception as exc:  # noqa: BLE001
            failures += 1
            parity[name] = {
                "status": "error",
                "error": f"{type(exc).__name__}: {exc}"[:500],
                "sec": round(time.time() - t0, 2),
            }
            print(f"  {name}: ERROR {type(exc).__name__}: {exc}")
    if ONLY is None:
        out = round_artifact("PARITY", os.environ.get("PARITY_OUT"))
        summary = {
            "sf_dir": SF_DIR,
            "n_queries": len(parity),
            "n_pass": sum(1 for v in parity.values() if v["status"] == "pass"),
            "n_rows_only": sum(
                1 for v in parity.values() if v["status"] == "rows-only"
            ),
            "n_fail": sum(
                1 for v in parity.values() if v["status"] in ("fail", "error")
            ),
            "queries": parity,
        }
        out.write_text(json.dumps(summary, indent=1) + "\n")
        print(f"parity artifact: {out}")
    print(f"{'PASS' if failures == 0 else 'FAIL'} ({failures} failures)")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
