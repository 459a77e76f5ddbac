"""Local mirror of the driver's correctness gate.

For every registry entry with an oracle: run the Spark query and the
DuckDB SQL on the same parquet tables (sf0.001 for speed; the driver
re-runs at sf0.01), normalize (sort columns by name, sort rows), and
require exact value equality. Queries are authored so results are
bit-identical — no tolerance is applied here, by design.
"""

from __future__ import annotations

import datetime as dt
import math

import pytest

from tests.conftest import SF_SMOKE


def _normalize_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return v
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, dt.date):
        return v.isoformat()
    # numpy scalars -> python
    if hasattr(v, "item"):
        return v.item()
    return v


def _normalize_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_normalize_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


#: Spark simpleString / arrow type-string → hash-relevant type family.
#: The driver's value hash stringifies collected cells, so a family
#: mismatch (int-vs-float, bool-vs-int, date-vs-timestamp) diverges
#: ("376931" vs "376931.0") even when the numbers are identical —
#: exactly the HUGEINT widening that kept s01_sink_roundtrip red for
#: rounds 3-5. Width differences within a family (int32/int64,
#: float32/float64) stringify identically and are allowed.
def _spark_family(dt_):
    s = dt_.simpleString()
    if s in ("tinyint", "smallint", "int", "bigint"):
        return "int"
    if s in ("float", "double"):
        return "float"
    for pfx, fam in (
        ("decimal", "decimal"), ("timestamp", "timestamp"),
        ("array", "list"), ("struct", "struct"), ("map", "map"),
    ):
        if s.startswith(pfx):
            return fam
    return {"string": "str", "boolean": "bool", "date": "date",
            "binary": "binary"}.get(s, s)


def _arrow_family(t):
    s = str(t)
    if s.startswith(("int", "uint")):
        return "int"
    if s in ("halffloat", "float", "double"):
        return "float"
    for pfx, fam in (
        ("decimal", "decimal"), ("date", "date"),
        ("timestamp", "timestamp"), ("large_list", "list"),
        ("fixed_size_list", "list"), ("list", "list"),
        ("struct", "struct"), ("map", "map"),
    ):
        if s.startswith(pfx):
            return fam
    return {"string": "str", "large_string": "str", "bool": "bool",
            "binary": "binary", "large_binary": "binary"}.get(s, s)


def _spark_result(spark, fn, sf_dir=SF_SMOKE):
    df = fn(spark, sf_dir)
    fams = {f.name.lower(): _spark_family(f.dataType) for f in df.schema.fields}
    return [f.lower() for f in df.columns], [tuple(r) for r in df.collect()], fams


def _duck_result(duck, sql):
    cur = duck.sql(sql)
    cols = [c.lower() for c in cur.columns]
    rows = [tuple(r) for r in cur.fetchall()]
    # Second (cheap, sf0.001) execution for the arrow-path schema: this
    # is the type surface the driver's hash actually sees — fetchall
    # hides HUGEINT behind Python ints.
    fams = {
        f.name.lower(): _arrow_family(f.type)
        for f in duck.sql(sql).arrow().schema
    }
    return cols, rows, fams


def _queries_with_oracle():
    from echem_dft_etl_spark.registry import all_queries

    return [(n, s) for n, s in sorted(all_queries().items()) if s.oracle]


def parity_problems(spark_result, duck_result) -> list[str]:
    """Every way a Spark ``(cols, rows, families)`` result differs from
    its oracle's: type families, columns, row count, values. Empty when
    they agree."""
    s_cols, s_rows, s_fams = spark_result
    d_cols, d_rows, d_fams = duck_result
    problems = []
    fam_diffs = {
        c: (s_fams.get(c), d_fams.get(c))
        for c in set(s_fams) | set(d_fams)
        if s_fams.get(c) != d_fams.get(c)
    }
    if fam_diffs:
        problems.append(
            f"type-family mismatch {fam_diffs} (spark, duckdb-arrow) — "
            "the driver hash stringifies cells, so int-vs-float/decimal "
            "diverges even with equal values; cast the oracle (or the "
            "query) so families agree."
        )
    s_cols, s_norm = _normalize_rows(s_cols, s_rows)
    d_cols, d_norm = _normalize_rows(d_cols, d_rows)
    if s_cols != d_cols:
        problems.append(f"column mismatch {s_cols} vs {d_cols}")
    if len(s_norm) != len(d_norm):
        problems.append(f"row count {len(s_norm)} vs {len(d_norm)}")
    elif s_cols == d_cols:
        mismatches = [
            (i, a, b) for i, (a, b) in enumerate(zip(s_norm, d_norm)) if a != b
        ]
        if mismatches:
            problems.append(
                f"{len(mismatches)} value mismatches, first: {mismatches[:3]}"
            )
    return problems


@pytest.mark.parametrize(
    "name,spec", _queries_with_oracle(), ids=[n for n, _ in _queries_with_oracle()]
)
def test_oracle_parity(spark, duck, name, spec):
    problems = parity_problems(
        _spark_result(spark, spec.fn), _duck_result(duck, spec.oracle)
    )
    assert not problems, f"{name}: " + "; ".join(problems)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == [
        "s_suppkey",
        "s_name",
        "n_name",
        "n_obs",
        "slope_price_per_qty",
        "intercept_price",
        "anchor_price_q1",
    ]


def test_contract_shapes():
    import __spark_entry__ as e

    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)
    assert all(callable(f) for f in qs.values())
    assert all(isinstance(s, str) and s.strip() for s in os_.values())
