"""The full reference dataflow as ONE Spark lineage
(SURVEY §3 diagram / §7 Phase 5).

The reference runs eight Airflow tasks with ~6 s fixed overhead each and
JSON-serialized XCom hops between processes (SURVEY §6). Here the whole
chain is a single DataFrame lineage — Catalyst sees every stage at once,
so sampling happens before expansion and projections prune the source
scan. Each stage runs once: the lineage fans out to several sinks, so
the two points every later consumer reads from are pinned as tracked
local checkpoints ([ck]) and released when the call returns:

    source(materials, pred)                  [Q1]
      → project(id, structure)               [Q3]
      → checkpoint(bulks)                    [ck]
      → sink(bulk store)                     [S1]
      → sample(n, seed-hash order)           [Q11]
      → crossJoin(facets) → explode(slabs)   [Q13, Q14]
      → sample(1)                            [Q12]
      → explode(charges) → serialize deck    [Q15, Q10]
      → pipe(solver): SQL TRANSFORM          [my_dag.py:135]
      → parse the FillingsUpdate line        [Q5, Q6]
      → join(geometry) → descriptors         [Q17-Q20, Q22]
      → checkpoint(descriptors)              [ck]
      → upsert(results table)                [Q16, S3]
      → append(report)                       [S4]

The solver is pluggable: a callable from (run_id, charge) rows to
(run_id, mu, ne) rows. The default is the deterministic awk stub from
operators/pipe.py; ``pipe_map`` with the real binary's command plus
``echem.parse_fillings`` runs grand-canonical DFT per partition with
Spark-managed retries.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .functions.hashing import MOD32, det_hash_i64, det_hash_str
from .operators import echem
from .operators.pipe import pipe_solver_stub
from .operators.storage import CheckpointScope
from .operators.udfs import serialize_run_expr
from .sources.sinks import append_report, upsert_parquet, write_partitioned


def sample_by_hash(df: DataFrame, key: str, n: int, seed: int) -> DataFrame:
    """Q11/Q12: deterministic hash-order sample (seeded, capped at input
    size like the reference's min(nsample, len), my_dag.py:57)."""
    key_col = F.col(key)
    h = (
        det_hash_i64(key_col, seed)
        if dict(df.dtypes)[key] in ("bigint", "int")
        else F.pmod(det_hash_str(key_col) + F.lit(seed), F.lit(2**32))
    )
    return (
        df.withColumn("_h", h)
        .orderBy("_h", key)
        .limit(n)
        .drop("_h")
    )


def stratified_sample_by_hash(
    df: DataFrame, strata: list[str], key: str, n_per_stratum: int, seed: int
) -> DataFrame:
    """Exact-n-per-group deterministic sample: within each stratum,
    rank rows by (multiplicative hash, key) and keep the first n.

    The training-data-mixing primitive (fixed per-source quotas drawn
    reproducibly). Exact per-stratum counts need a total order within
    each stratum, so this is one shuffle keyed on the strata columns —
    with ``row_number`` each stratum is a single task, so the pattern
    fits many-strata/modest-stratum-size corpora (source × language ×
    quality-bin mixes). A giant stratum at 100 TB instead takes the
    threshold form: sample hash quantiles, pick the per-stratum cutoff,
    keep ``h < cutoff`` as a pushed filter — approximate n, zero
    single-task bottleneck; the exact form here is the correctness
    anchor the threshold form is tested against.
    """
    h = det_hash_i64(F.col(key), seed)
    w = Window.partitionBy(*strata).orderBy("_h", key)
    return (
        df.withColumn("_h", h)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_per_stratum)
        .drop("_h", "_rn")
    )


def stratified_sample_threshold(
    df: DataFrame,
    strata: list[str],
    key: str,
    n_per_stratum: int,
    seed: int,
) -> DataFrame:
    """The GIANT-STRATUM form of :func:`stratified_sample_by_hash`:
    approximately ``n_per_stratum`` rows per stratum WITHOUT a
    per-stratum total order.

    The exact form ranks every stratum with ``row_number`` — one task
    per stratum, which is exactly right until one stratum holds a
    trillion rows and that task becomes the job. Here the per-stratum
    hash CUTOFF is computed instead: the multiplicative key hash is
    uniform on [0, 2³²), so keeping ``h < (n/stratum_size)·2³²``
    selects ~n rows. One count-only aggregation (map-side partial),
    the tiny per-stratum cutoff table broadcast back, one per-row
    filter — two linear passes, no windows, no per-stratum
    serialization point. The price is approximate per-stratum counts
    (binomial around n); a non-uniform scoring column would use an
    ``approx_percentile`` sketch for the cutoff instead, same shape.

    Determinism: re-runs select the SAME rows, and because selection
    is a hash-value PREFIX (h below cutoff), the selected set is also
    stable under stratum growth except at the moving cutoff boundary
    — a property the rank-based exact form does not have. Strata at or
    below ``n_per_stratum`` rows keep everything (fraction clamps to
    1), matching the exact form's min(n, size). Tested against the
    exact form in tests/test_properties.py.
    """
    h = det_hash_i64(F.col(key), seed)
    hashed = df.withColumn("_h", h)
    cuts = hashed.groupBy(*strata).agg(F.count("*").alias("_n"))
    cut = F.least(
        F.lit(float(MOD32)),
        F.lit(float(n_per_stratum)) / F.col("_n").cast("double") * MOD32,
    )
    out = hashed.join(F.broadcast(cuts.select(*strata, cut.alias("_cut"))), strata)
    return out.filter(F.col("_h").cast("double") < F.col("_cut")).drop(
        "_h", "_cut"
    )


def mixture_sample_by_weight(
    df: DataFrame, weight_ppm: Column, key: str, seed: int = 27
) -> DataFrame:
    """Deterministic WEIGHTED sampling: keep a row iff
    ``hash(key, seed) mod 10⁶ < weight_ppm`` — the data-MIXING
    primitive (per-domain reweighting of an LLM training mix, e.g.
    up-sample curated sources / down-sample web crawl).

    ``weight_ppm`` is an integer column (parts-per-million survival
    rate), so the whole decision is integer arithmetic — no float
    weight can round differently across engines. Properties that
    matter at 100 TB: a pure per-row pushed filter (zero shuffles,
    zero state; the expected surviving fraction per group is
    weight_ppm/10⁶ with binomial concentration), and the SAME key set
    survives on any engine, any partitioning, any re-run — unlike
    ``df.sample()``, whose selection is partition-order dependent.
    Complements :func:`stratified_sample_by_hash` (exact quotas, needs
    a per-stratum order) when quotas may be approximate but the corpus
    is too large to rank.
    """
    return df.filter(
        F.pmod(det_hash_i64(F.col(key), seed), F.lit(1_000_000)) < weight_ppm
    )


def split_assign(df: DataFrame, key: str, seed: int = 0) -> DataFrame:
    """Deterministic train/val/test assignment (80/10/10) by key hash —
    a pure projection (the split survives any re-partitioning, re-run,
    or engine change, unlike ``rand()``-based splits)."""
    bucket = F.pmod(det_hash_i64(F.col(key), seed), F.lit(100))
    return df.withColumn(
        "split",
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test")),
    )


def generate_slabs(bulks: DataFrame, facets: list[str]) -> DataFrame:
    """Q13/Q14: bulk × facet expansion with a variable number of slabs
    per pair and a 0-based within-group index.

    The reference calls pymatgen's SlabGenerator (my_dag.py:78-99);
    slab construction is a pure function of (structure, facet), modeled
    here as a deterministic 1..3-slab expansion. A real generator slots
    in as a pandas UDF returning an array — the explode shape is
    identical.
    """
    facet_dim = F.explode(
        F.array(*[F.lit(f) for f in facets])
    ).alias("facet")
    with_facets = bulks.select("*", facet_dim)
    # deterministic slab count per (material, facet) in 1..3
    n_slabs = (
        F.pmod(
            det_hash_str(F.concat_ws("-", F.col("material_id"), F.col("facet"))),
            F.lit(3),
        )
        + 1
    ).cast("int")
    slabs = with_facets.select(
        "*",
        F.posexplode(F.sequence(F.lit(1), n_slabs)).alias("slab_index", "_one"),
    ).drop("_one")
    return slabs.withColumn(
        "slab_id",
        F.concat_ws("-", "material_id", "facet", F.col("slab_index").cast("string")),
    )


def run_reference_pipeline(
    spark: SparkSession,
    materials: DataFrame,
    out_dir: str,
    n_bulk_sample: int = 2,
    facets: tuple[str, ...] = ("111",),
    charges: tuple[float, ...] = echem.DEFAULT_CHARGES,
    solver: Callable[[DataFrame], DataFrame] = pipe_solver_stub,
) -> DataFrame:
    """Execute the end-to-end dataflow; returns (MP_id, pzc, capacitance).

    ``materials``: (material_id string, chemsys string, lattice
    array<array<double>>, ion_names array<string>, cell00, cell11).
    Side effects mirror the reference's sinks under ``out_dir``.
    """
    # the returned table is a parquet read-back, independent of the
    # checkpoints, which are all released on exit
    with CheckpointScope(spark) as ck:
        # Q1/Q3: pushed predicate + projection, scanned ONCE: the bulk
        # store, the sample, the slab store, the decks, the solver input
        # and the geometry all read the checkpoint, not the source
        bulks = ck.pin(
            materials.filter(F.col("chemsys") == "V-O").select(
                "material_id", "lattice", "ion_names", "cell00", "cell11"
            )
        )
        # S1: persist the bulk store partitioned by material
        write_partitioned(bulks, f"{out_dir}/bulk_store", ["material_id"])

        # Q11: seeded sample (reference seed=27, my_dag.py:56)
        sampled = sample_by_hash(bulks, "material_id", n_bulk_sample, seed=27)

        # Q13/Q14: slab expansion + per-group index; S1: slab store
        slabs = generate_slabs(sampled, list(facets))
        write_partitioned(
            slabs.select("material_id", "facet", "slab_index", "slab_id"),
            f"{out_dir}/slab_store",
            ["material_id"],
        )

        # Q12: pick one slab (reference seed=20, my_dag.py:110)
        picked = sample_by_hash(slabs, "slab_id", 1, seed=20)

        # Q15 × Q10: charge fan-out + input-deck serialization
        runs = picked.select(
            "slab_id",
            "lattice",
            "ion_names",
            "cell00",
            "cell11",
            echem.charge_grid(charges),
        ).withColumn(
            "deck",
            serialize_run_expr(F.col("lattice"), F.col("charge"), F.col("ion_names")),
        )
        write_partitioned(
            runs.select("slab_id", "charge", "deck"),
            f"{out_dir}/gc_dft_in",
            ["slab_id"],
        )

        # pipe stage: one solver child per partition (my_dag.py:135 shape)
        solver_in = runs.select(
            echem.run_key(F.col("slab_id"), F.col("charge")).alias("run_id"),
            "charge",
        )
        solved = solver(solver_in)

        # Q9: recover slab/charge keys; Q17: join geometry
        slab_id, charge = echem.split_run_key(F.col("run_id"))
        metrics = solved.select(
            slab_id.alias("slab_id"), charge.alias("charge"), "mu", "ne"
        )
        geometry = picked.select("slab_id", "cell00", "cell11")

        # Q18-Q20, Q22: descriptors. Checkpoint before fan-out to two
        # consumers (upsert write + report count): without it the whole
        # upstream pipeline — including the external-solver pipe stage —
        # executes once PER consumer. The report's row count rides the
        # eager checkpoint job as an observation, not a count job.
        descriptors, obs = with_observation(
            echem.electrochem_descriptors(metrics, geometry),
            {"n": F.count(F.lit(1))},
        )
        result = ck.pin(descriptors)

        # Q16/S3: first-wins upsert into the results table
        table = upsert_parquet(
            result,
            f"{out_dir}/dft_echem",
            key_cols=["MP_id"],
            order_col="MP_id",
        )

        # S4: append-only report
        append_report(
            spark,
            f"{out_dir}/report",
            [
                f"## run: {obs.get['n']} slab(s) analyzed",
                "![plot](visualize/echem.png)",
            ],
        )
    return table


def with_observation(df: DataFrame, metrics: dict):
    """Attach zero-cost data-quality accounting to a frame: returns
    ``(df, Observation)`` where the metrics — arbitrary aggregate
    Columns, e.g. row counts, null counts, bounds violations — are
    collected AS A SIDE EFFECT of whatever action next materializes
    the frame. At 100 TB this is the difference between validating a
    load and re-scanning it: the reference's row-count logging
    (my_dag.py:30) costs a task per check; an observation rides the
    existing job's partial aggregates through the driver for free.

    Usage::

        gated, obs = with_observation(df, {
            "n": F.count(F.lit(1)),
            "null_keys": F.sum(F.when(F.col("k").isNull(), 1).otherwise(0)),
        })
        gated.write.parquet(...)     # any full action
        assert obs.get["null_keys"] == 0
    """
    from pyspark.sql import Observation

    obs = Observation()
    named = [c.alias(n) for n, c in metrics.items()]
    return df.observe(obs, *named), obs
