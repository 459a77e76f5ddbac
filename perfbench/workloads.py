"""The benchmark's workloads: which ops a round runs, how each op's
input is made from the seed, and how each op's output is checked.

An op has three parts. ``prepare`` makes the op's input and is not
timed. ``build`` is the call into the engine's public function (the
registry entry, or ``pipeline.run_reference_pipeline``) and returns a
DataFrame; the benchmark then times one ``collect()`` on it as the op's
action. ``check`` compares the collected rows with an independent
expectation: a DuckDB oracle for registry queries, a closed form of the
stub solver for the echem pipeline.
"""

from __future__ import annotations

import datetime as dt
import math
import random
from dataclasses import dataclass
from pathlib import Path
from typing import Any, Callable

import numpy as np

#: Ops of each registry workload (names as registered in the engine).
#: The list is short because a run has to fit set-up, warm-up and about
#: ten measured passes into about a minute (see the README).
STREAM_OPS = (
    "x10_stream_tumbling",
    "x10_stream_sessions",
    "x10_stream_dedup_keys",
)

#: echem_ingest: the catalog each pipeline call gets.
CATALOG_SIZE = 200
V_O_SHARE = 0.6
OTHER_CHEMSYS = ("Fe-O", "Mn-O", "Ti-O", "Co-O")
FACETS = ("111", "100", "110")
CHARGES = (-0.2, -0.1, 0.0, 0.1, 0.2)

#: Physical constants of the descriptor formulas (reference my_dag.py).
HARTREE_EV = 27.2114
SHE_OFFSET_EV = 4.66
BOHR_ANGSTROM = 0.529177
ELEMENTARY_CHARGE = 1.60217663e-19

CATALOG_SCHEMA = (
    "material_id string, chemsys string, lattice array<array<double>>, "
    "ion_names array<string>, cell00 double, cell11 double"
)


@dataclass
class Op:
    name: str
    prepare: Callable[[int], Any]
    build: Callable[[Any], Any]
    check: Callable[[Any, list[str], list], str | None]


# --------------------------------------------------------------- registry ops


def _normalize_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        return None if math.isnan(v) else v
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, dt.date):
        return v.isoformat()
    if hasattr(v, "item"):
        return v.item()
    return v


def normalize(cols: list[str], rows: list) -> tuple[list[str], list[tuple]]:
    """Column- and row-order-insensitive form of a result, the same
    comparison the repo's oracle parity check applies."""
    cols = [c.lower() for c in cols]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_normalize_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(
        out, key=lambda t: tuple((x is None, str(x)) for x in t)
    )


def oracle_results(data_dir: Path, names, oracles: dict[str, str]) -> dict:
    """Normalized DuckDB oracle result per op, computed once per run."""
    import duckdb

    from echem_dft_etl_spark.sources import TABLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        out = {}
        for name in names:
            cur = con.sql(oracles[name])
            out[name] = normalize(cur.columns, cur.fetchall())
        return out
    finally:
        con.close()


def registry_ops(spark, data_dir: Path, names) -> list[Op]:
    from echem_dft_etl_spark.registry import all_queries

    specs = all_queries()
    expected = oracle_results(
        data_dir, names, {n: specs[n].oracle for n in names}
    )

    def make(name: str) -> Op:
        def check(_inp, cols, rows):
            got_cols, got = normalize(cols, rows)
            want_cols, want = expected[name]
            if got_cols != want_cols:
                return f"columns {got_cols} != oracle {want_cols}"
            if len(got) != len(want):
                return f"{len(got)} rows != oracle {len(want)}"
            bad = sum(1 for a, b in zip(got, want) if a != b)
            return f"{bad} rows differ from the oracle" if bad else None

        return Op(
            name=name,
            prepare=lambda _serial: None,
            build=lambda _inp: specs[name].fn(spark, str(data_dir)),
            check=check,
        )

    return [make(n) for n in names]


# ------------------------------------------------------------------ echem ops


def make_catalog(seed: int, serial: int) -> list[tuple]:
    """One synthetic materials catalog, a pure function of (seed, serial).

    Material ids embed ``serial`` so every pipeline call inserts a new
    key into the shared results table. Cells are orthorhombic; the
    descriptor fit reads ``cell00`` and ``cell11``."""
    rng = random.Random(f"catalog:{seed}:{serial}")
    rows = []
    for i in range(CATALOG_SIZE):
        a, b, c = rng.uniform(3.0, 8.0), rng.uniform(3.0, 8.0), rng.uniform(15.0, 25.0)
        vo = rng.random() < V_O_SHARE
        rows.append(
            (
                f"mp-{serial}{i:04d}",
                "V-O" if vo else rng.choice(OTHER_CHEMSYS),
                [[a, 0.0, 0.0], [0.0, b, 0.0], [0.0, 0.0, c]],
                ["V", "O", "O"] if vo else ["M", "O"],
                a,
                b,
            )
        )
    return rows


def expected_descriptors(cell00: float, cell11: float) -> tuple[float, float]:
    """(pzc, capacitance) of one slab under the stub solver
    (mu = -0.2 + 0.05·q, nElectrons = 250 + 10·q), computed with numpy
    instead of Spark: pzc is the charge-0 potential and capacitance the
    least-squares slope of surface charge density over potential."""
    q = np.asarray(CHARGES)
    mu = -0.2 + 0.05 * q
    ne = 250.0 + 10.0 * q
    pot = mu * -HARTREE_EV - SHE_OFFSET_EV
    area_cm2 = cell00 * cell11 * BOHR_ANGSTROM**2 * 1e-16
    rho = -(ne - 250.0) / area_cm2 * ELEMENTARY_CHARGE * 1e6 / 2.0
    pzc = 0.2 * HARTREE_EV - SHE_OFFSET_EV
    return pzc, float(np.polyfit(pot, rho, 1)[0])


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)


def echem_ops(spark, out_dir: Path, seed: int) -> list[Op]:
    """One pipeline call per round, each on a fresh catalog, all writing
    into one output dir so the results table grows."""
    from echem_dft_etl_spark.pipeline import run_reference_pipeline

    state = {"rows": 0}

    def prepare(serial: int):
        rows = make_catalog(seed, serial)
        cells = {r[0]: (r[4], r[5]) for r in rows if r[1] == "V-O"}
        state["expect_rows"] = state["rows"] + 1
        return spark.createDataFrame(rows, CATALOG_SCHEMA), cells

    def build(inp):
        catalog, _cells = inp
        return run_reference_pipeline(
            spark, catalog, str(out_dir), facets=FACETS, charges=CHARGES
        )

    def check(inp, cols, rows):
        _catalog, cells = inp
        state["rows"] = len(rows)
        if cols != ["MP_id", "pzc", "capacitance"]:
            return f"columns {cols}"
        if len(rows) != state["expect_rows"]:
            return f"table has {len(rows)} rows, expected {state['expect_rows']}"
        ids = [r[0] for r in rows]
        if len(set(ids)) != len(ids):
            return "duplicate MP_id in the results table"
        # MP_id = <material_id>-<facet>-<slab_index>
        new = [r for r in rows if r[0].rsplit("-", 2)[0] in cells]
        if len(new) != 1:
            return f"{len(new)} rows from this catalog, expected 1"
        mp_id, pzc, cap = new[0]
        want_pzc, want_cap = expected_descriptors(*cells[mp_id.rsplit("-", 2)[0]])
        if not (_close(pzc, want_pzc) and _close(cap, want_cap)):
            return f"{mp_id}: ({pzc}, {cap}) != closed form ({want_pzc}, {want_cap})"
        return None

    return [Op("run_reference_pipeline", prepare, build, check)]


# ------------------------------------------------------------------ workloads

WORKLOADS = ("echem_ingest", "stream_replay")
REGISTRY_OPS = {
    "stream_replay": STREAM_OPS,
}


def make_ops(workload: str, spark, data_dir: Path, out_dir: Path, seed: int):
    if workload == "echem_ingest":
        return echem_ops(spark, out_dir, seed)
    return registry_ops(spark, data_dir, REGISTRY_OPS[workload])


#: Untimed warm-up rounds of each workload. The first op of a fresh JVM
#: costs 2-6x what later ones do (class loading, JIT compilation, Python
#: worker start); with the C1-only JIT (``run.JIT_OPTS``) op times are
#: flat from the second round on. A fixed count, not a time limit, so
#: every run of a workload starts measuring in the same state.
WARMUP_ROUNDS = {
    "echem_ingest": 2,
    "stream_replay": 2,
}

#: Warm round time of each workload on the reference host (4-CPU VM).
#: A run measures as many whole rounds as fill ``--seconds`` at these
#: times. The count is fixed rather than set by a clock, so a slow run
#: measures the same ops as a fast one.
REF_ROUND_S = {
    "echem_ingest": 5.0,
    "stream_replay": 2.5,
}


def measured_rounds(workload: str, seconds: float) -> int:
    return max(1, round(seconds / REF_ROUND_S[workload]))


def round_order(n_ops: int, seed: int, round_no: int) -> list[int]:
    """Seeded op order of one round (a permutation of the op list)."""
    order = list(range(n_ops))
    random.Random(f"order:{seed}:{round_no}").shuffle(order)
    return order
