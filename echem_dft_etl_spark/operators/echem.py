"""The reference pipeline's analytical core, as relational operators.

Re-expresses ``analyze_electrochem`` (reference ``dags/my_dag.py:140-184``)
and the solver-output parser (``my_dag.py:152-158``) Spark-first:

- the per-file parse loop that keeps only the *last* matching line becomes
  a filter + ``max_by(struct, line_no)`` aggregation (Q5/Q6);
- the charge-grid lists (``my_dag.py:128``) become a long-format metrics
  table;
- the anchor-row lookup ``nes[1]``/``fermis[1]`` (charge = 0.0 row,
  ``my_dag.py:164,169``) becomes a conditional aggregate within the same
  groupBy — no self-join, no second shuffle;
- ``np.polyfit(pots, rhoes, 1)`` (``my_dag.py:171``) becomes the built-in
  ``regr_slope``/``regr_intercept`` aggregates.

Scale notes: everything is one shuffle (the groupBy on slab key) with
map-side partial aggregation; the geometry dimension joins broadcast. At
100 TB of solver logs this is scan → filter (pushed) → partial agg →
single exchange → final agg.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Physical constants used by the reference (my_dag.py:164-170, utils.py:7).
HARTREE_TO_EV = 27.2114
SHE_OFFSET_EV = 4.66
BOHR_ANGSTROM = 0.529177
ELEMENTARY_CHARGE = 1.60217663e-19

#: The solver line format: 'FillingsUpdate:  mu: <mu> ... nElectrons: <ne> ...'
FILLINGS_PATTERN = r"FillingsUpdate:\s+mu:\s+(-?[0-9.eE+-]+)\s+nElectrons:\s+([0-9.eE+-]+)"


def fillings_mu_ne(line: Column) -> list[Column]:
    """``mu`` and ``ne``, as doubles, of a solver ``FillingsUpdate:`` line."""
    return [
        F.regexp_extract(line, FILLINGS_PATTERN, i).cast("double").alias(name)
        for i, name in ((1, "mu"), (2, "ne"))
    ]


def parse_fillings(solved: DataFrame) -> DataFrame:
    """(run_id, fillings) solver answers → (run_id, mu, ne). A line that
    is not a ``FillingsUpdate:`` line fails the query, not a NULL row."""
    line = F.col("fillings")
    bad = F.concat(F.lit("not a FillingsUpdate line: "), F.coalesce(line, F.lit("NULL")))
    checked = F.when(line.rlike(FILLINGS_PATTERN), line).otherwise(F.raise_error(bad))
    return solved.select("run_id", *fillings_mu_ne(checked))


def parse_fillings_lines(
    lines: DataFrame,
    file_col: str = "file",
    line_no_col: str = "line_no",
    value_col: str = "value",
) -> DataFrame:
    """Q5+Q6: extract (mu, nElectrons) from the LAST matching line per file.

    Mirrors the parse loop at ``my_dag.py:152-158``, where each match
    overwrites the previous one so only the final occurrence survives.
    Expressed as filter → ``max_by(struct(line_no, mu, ne), line_no)``:
    a single hash aggregation with map-side combine (each task keeps one
    candidate row per file before the shuffle), instead of a sort or a
    row_number window over every matching line.
    """
    f, ln, v = F.col(file_col), F.col(line_no_col), F.col(value_col)
    matched = lines.filter(v.contains("FillingsUpdate:")).select(
        f.alias("file"),
        ln.alias("line_no"),
        *fillings_mu_ne(v),
    ).filter(F.col("mu").isNotNull() & F.col("ne").isNotNull())
    last = matched.groupBy("file").agg(
        F.max_by(F.struct("mu", "ne"), F.col("line_no")).alias("m"),
        F.max("line_no").alias("last_line_no"),
    )
    return last.select("file", "m.mu", "m.ne", "last_line_no")


def run_key(key: Column, charge: Column) -> Column:
    """``<key>_<charge to one decimal>``: the name of one DFT run (the
    reference's file stem, ``my_dag.py:122,131``)."""
    return F.concat_ws("_", key, F.format_string("%.1f", charge))


def split_run_key(key: Column) -> tuple[Column, Column]:
    """(key, charge) back from a :func:`run_key` value; the charge is the
    part after the last underscore."""
    return (
        F.regexp_extract(key, r"(.+)_[^_]+$", 1),
        F.regexp_extract(key, r"_([^_]+)$", 1).cast("double"),
    )


def slab_id_and_charge_from_file(df: DataFrame, file_col: str = "file") -> DataFrame:
    """Q9: recover (slab_id, charge) from '<...>/<slab_id>_<charge>.out'.

    The reference keys runs by filename (``Path(p).stem``,
    ``my_dag.py:122,131``); pure string expressions, no UDF.
    """
    stem = F.regexp_extract(F.col(file_col), r"([^/]+)\.out$", 1)
    slab_id, charge = split_run_key(stem)
    return df.withColumn("slab_id", slab_id).withColumn("charge", charge)


def potential_v(mu: Column) -> Column:
    """Electrode potential (V vs SHE) from chemical potential (Hartree).

    ``pots = mu * -27.2114 - 4.66`` (``my_dag.py:168``)."""
    return mu * (-HARTREE_TO_EV) - SHE_OFFSET_EV


def surface_charge_density(ne: Column, ne0: Column, cell00: Column, cell11: Column) -> Column:
    """Excess surface charge density in µC/cm² (``my_dag.py:169-170``).

    ``area = cell00 * cell11 * Bohr² * 1e-16`` (cm²); the /2 accounts for
    the slab's two surfaces.
    """
    area_cm2 = cell00 * cell11 * (BOHR_ANGSTROM**2) * 1e-16
    return -(ne - ne0) / area_cm2 * ELEMENTARY_CHARGE * 1e6 / 2.0


def electrochem_descriptors(metrics: DataFrame, geometry: DataFrame) -> DataFrame:
    """Q18-Q20+Q22: per-slab PZC and double-layer capacitance.

    ``metrics``: long-format ``(slab_id, charge, mu, ne)`` — one row per
    DFT run (3 charges/slab in the reference). ``geometry``:
    ``(slab_id, cell00, cell11)``. Returns ``(MP_id, pzc, capacitance)``
    exactly as ``my_dag.py:184`` does.

    Single-shuffle formulation: the charge=0 anchor (``nes[1]``,
    ``fermis[1]``) is pulled out with ``max_by(..., charge == 0)`` in a
    first grouped pass fused with the fit — implemented as anchor columns
    via a window-free conditional aggregate, then the regression runs over
    the derived (potential, density) points. Geometry is broadcast.
    """
    anchored = metrics.groupBy("slab_id").agg(
        F.max(F.when(F.col("charge") == 0.0, F.col("ne"))).alias("ne0"),
        F.max(F.when(F.col("charge") == 0.0, F.col("mu"))).alias("mu0"),
        F.collect_list(F.struct("charge", "mu", "ne")).alias("pts"),
    )
    pts = anchored.select(
        "slab_id",
        "ne0",
        "mu0",
        F.explode("pts").alias("p"),
    ).join(F.broadcast(geometry), "slab_id")
    derived = pts.select(
        "slab_id",
        "mu0",
        potential_v(F.col("p.mu")).alias("pot_v"),
        surface_charge_density(
            F.col("p.ne"), F.col("ne0"), F.col("cell00"), F.col("cell11")
        ).alias("rho_uc_cm2"),
    )
    return derived.groupBy("slab_id").agg(
        potential_v(F.first("mu0")).alias("pzc"),
        F.regr_slope("rho_uc_cm2", "pot_v").alias("capacitance"),
    ).select(F.col("slab_id").alias("MP_id"), "pzc", "capacitance")
