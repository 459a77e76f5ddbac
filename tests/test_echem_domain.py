"""The reference's domain pipeline on reference-shaped fixtures
(FIXTURES.md §B): solver-log parsing → last-match-per-run →
(slab, charge) recovery from run ids → electrochem descriptors,
validated against a direct numpy re-implementation of
``analyze_electrochem`` (reference my_dag.py:140-184).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from echem_dft_etl_spark.operators import echem

CHARGES = list(echem.DEFAULT_CHARGES)


@pytest.fixture(scope="module")
def fixture_lines(spark):
    """Synthetic .out files as the solver-output connector's
    (run_id, line_no, value) rows, run_id ``<slab_id>_<charge>``:
    several FillingsUpdate lines per run where only the LAST is
    correct."""
    rows = []
    rng = np.random.RandomState(27)
    for slab in range(4):
        slab_id = f"mp-{1000 + slab}-111-{slab}"
        for charge in CHARGES:
            run_id = f"{slab_id}_{charge}"
            mu_final = -0.2 + 0.03 * slab + 0.05 * charge
            ne_final = 250.0 + 2.0 * slab - 40.0 * charge
            line_no = 1
            rows.append((run_id, line_no, "some preamble text"))
            for it in range(3):  # earlier iterations: wrong values
                line_no += 1
                rows.append(
                    (
                        run_id,
                        line_no,
                        f"FillingsUpdate:  mu: {mu_final + 0.5 - 0.1 * it:.9f}"
                        f"  nElectrons: {ne_final + 5 - it:.6f}",
                    )
                )
            line_no += 1
            rows.append(
                (
                    run_id,
                    line_no,
                    f"FillingsUpdate:  mu: {mu_final:.9f}"
                    f"  nElectrons: {ne_final:.6f}",
                )
            )
            rows.append((run_id, line_no + 1, "Done."))
    return spark.createDataFrame(rows, "run_id string, line_no int, value string")


@pytest.fixture(scope="module")
def fixture_geometry(spark):
    rows = [(f"mp-{1000 + s}-111-{s}", 8.0 + s, 9.0 + 0.5 * s) for s in range(4)]
    return spark.createDataFrame(rows, "slab_id string, cell00 double, cell11 double")


def _metrics(parsed):
    """(slab_id, charge, mu, ne) recovered from parsed run ids."""
    slab_id, charge = echem.split_run_key(F.col("run_id"))
    return parsed.select(
        slab_id.alias("slab_id"), charge.alias("charge"), "mu", "ne"
    )


def test_parse_last_match_per_file(spark, fixture_lines):
    parsed = echem.parse_fillings_lines(fixture_lines).collect()
    assert len(parsed) == 12  # 4 slabs x 3 charges
    for r in parsed:
        assert r.n_fillings == 4
        # The last emitted value for every file is the "final" one; the
        # decoys are offset by >= +0.2 in mu and +2 in ne.
        assert r.mu < 0.0
        assert abs(r.ne - round(r.ne)) < 0.5


def test_slab_charge_from_filename(spark, fixture_lines):
    parsed = _metrics(echem.parse_fillings_lines(fixture_lines))
    got = {(r.slab_id, r.charge) for r in parsed.collect()}
    assert got == {
        (f"mp-{1000 + s}-111-{s}", c) for s in range(4) for c in CHARGES
    }


def test_electrochem_descriptors_match_numpy(spark, fixture_lines, fixture_geometry):
    """Spark regr_slope pipeline == the reference's numpy math."""
    metrics = _metrics(echem.parse_fillings_lines(fixture_lines))
    result = {
        r.MP_id: (r.pzc, r.capacitance)
        for r in echem.electrochem_descriptors(metrics, fixture_geometry).collect()
    }
    assert len(result) == 4

    # Reference math (my_dag.py:161-171) in numpy, per slab.
    geo = {r.slab_id: (r.cell00, r.cell11) for r in fixture_geometry.collect()}
    rows = metrics.collect()
    for slab in {r.slab_id for r in rows}:
        pts = sorted(
            [(r.charge, r.mu, r.ne) for r in rows if r.slab_id == slab]
        )
        fermis = np.array([p[1] for p in pts])
        nes = np.array([p[2] for p in pts])
        pots = fermis * -27.2114 - 4.66
        pzc = fermis[1] * -27.2114 - 4.66
        c00, c11 = geo[slab]
        area = c00 * c11 * echem.BOHR_ANGSTROM**2 * 1e-16
        rhoes = -(nes - nes[1]) / area * 1.60217663e-19 * 1e6 / 2
        slope, _ = np.polyfit(pots, rhoes, 1)
        got_pzc, got_cap = result[slab]
        assert got_pzc == pytest.approx(pzc, rel=1e-12)
        assert got_cap == pytest.approx(slope, rel=1e-9)


def test_slab_without_charge_zero_run_has_null_descriptors(spark, fixture_geometry):
    """The charge-0 run anchors the pzc; a slab that lacks it gets NULL
    pzc and NULL capacitance, not a fit over its other runs."""
    metrics = spark.createDataFrame(
        [
            ("mp-1000-111-0", -0.1, -0.20, 254.0),
            ("mp-1000-111-0", 0.1, -0.19, 246.0),
            ("mp-1001-111-1", -0.1, -0.20, 254.0),
            ("mp-1001-111-1", 0.0, -0.19, 250.0),
            ("mp-1001-111-1", 0.1, -0.18, 246.0),
        ],
        "slab_id string, charge double, mu double, ne double",
    )
    got = {
        r.MP_id: (r.pzc, r.capacitance)
        for r in echem.electrochem_descriptors(metrics, fixture_geometry).collect()
    }
    assert got["mp-1000-111-0"] == (None, None)
    pzc, cap = got["mp-1001-111-1"]
    assert pzc == pytest.approx(-0.19 * -27.2114 - 4.66, rel=1e-12)
    assert cap is not None


def test_regr_slope_matches_polyfit(spark):
    """The built-in regression aggregates == np.polyfit on a plain fit."""
    rng = np.random.RandomState(7)
    xs = rng.uniform(0, 10, 200)
    ys = 3.5 * xs - 2.0 + rng.normal(0, 0.5, 200)
    df = spark.createDataFrame(
        [(float(x), float(y)) for x, y in zip(xs, ys)], "x double, y double"
    )
    row = df.agg(
        F.regr_slope("y", "x").alias("s"), F.regr_intercept("y", "x").alias("i")
    ).collect()[0]
    slope, intercept = np.polyfit(xs, ys, 1)
    assert row.s == pytest.approx(slope, rel=1e-9)
    assert row.i == pytest.approx(intercept, rel=1e-9)
