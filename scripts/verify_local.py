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
        _arrow_family,
        _normalize_rows,
        _spark_family,
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
            df = spec.fn(spark, SF_DIR)
            s_cols = [c.lower() for c in df.columns]
            s_rows = [tuple(r) for r in df.collect()]
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
            cur = duck.sql(spec.oracle)
            d_cols = [c.lower() for c in cur.columns]
            d_rows = [tuple(r) for r in cur.fetchall()]
            sc, sn = _normalize_rows(s_cols, s_rows)
            dc, dn = _normalize_rows(d_cols, d_rows)
            problems = []
            # Driver-hash-visible type families (the arrow path widens
            # DuckDB HUGEINT to decimal/float — the r3-r5 s01 red).
            s_fams = {
                f.name.lower(): _spark_family(f.dataType)
                for f in df.schema.fields
            }
            d_fams = {
                f.name.lower(): _arrow_family(f.type)
                for f in duck.sql(spec.oracle).arrow().schema
            }
            fam_diffs = {
                c: (s_fams.get(c), d_fams.get(c))
                for c in set(s_fams) | set(d_fams)
                if s_fams.get(c) != d_fams.get(c)
            }
            if fam_diffs:
                problems.append(f"type-family mismatch {fam_diffs}")
            if sc != dc:
                problems.append(f"cols {sc} vs {dc}")
            if len(sn) != len(dn):
                problems.append(f"rowcount {len(sn)} vs {len(dn)}")
            elif sc == dc:
                bad = [(a, b) for a, b in zip(sn, dn) if a != b]
                if bad:
                    problems.append(f"{len(bad)} value mismatches, first: {bad[0]}")
            parity[name] = {
                "status": "fail" if problems else "pass",
                "spark_rows": len(sn),
                "oracle_rows": len(dn),
                "sec": round(time.time() - t0, 2),
                **({"problems": problems} if problems else {}),
            }
            if problems:
                failures += 1
                print(f"  {name}: FAIL {problems} [{time.time()-t0:.1f}s]")
            else:
                print(f"  {name}: OK {len(sn)} rows [{time.time()-t0:.1f}s]")
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
