"""Phase-5 assembly: the reference's 8-task Airflow chain as ONE Spark
job (pipeline.run_reference_pipeline), plus the sink layer it rides on.

Covers the reference's own correctness mechanisms (SURVEY §5): the
dev-only style end-to-end run, and the re-run-twice upsert idempotence
invariant (UNIQUE + ON CONFLICT DO NOTHING, my_dag.py:199-205).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import DataFrameWriter

from echem_dft_etl_spark.operators.storage import persistent_rdd_ids
from echem_dft_etl_spark.pipeline import (
    generate_slabs,
    run_reference_pipeline,
    sample_by_hash,
)
from echem_dft_etl_spark.sources.sinks import (
    append_report,
    upsert_parquet,
)

MATERIALS = [
    ("mp-0001", "V-O", [[5.0, 0.0, 0.0], [0.0, 6.0, 0.0], [0.0, 0.0, 20.0]],
     ["V", "O", "O"], 5.0, 6.0),
    ("mp-0002", "V-O", [[4.0, 0.0, 0.0], [0.0, 4.0, 0.0], [0.0, 0.0, 18.0]],
     ["V", "V", "O"], 4.0, 4.0),
    ("mp-0003", "V-O", [[3.5, 0.0, 0.0], [0.0, 7.0, 0.0], [0.0, 0.0, 22.0]],
     ["V", "O"], 3.5, 7.0),
    ("mp-9999", "Fe-O", [[3.0, 0.0, 0.0], [0.0, 3.0, 0.0], [0.0, 0.0, 15.0]],
     ["Fe", "O"], 3.0, 3.0),
]
MATERIALS_SCHEMA = (
    "material_id string, chemsys string, "
    "lattice array<array<double>>, ion_names array<string>, "
    "cell00 double, cell11 double"
)


@pytest.fixture()
def materials(spark):
    return spark.createDataFrame(MATERIALS, MATERIALS_SCHEMA)


def test_pipeline_end_to_end(spark, materials, tmp_path):
    out = str(tmp_path / "run")
    result = run_reference_pipeline(spark, materials, out)
    rows = result.collect()
    assert result.columns == ["MP_id", "pzc", "capacitance"]
    assert len(rows) == 1  # one slab picked (Q12), one result row (D6)
    r = rows[0]
    # stub solver: mu = -0.2 + 0.05*charge → pzc = -mu0*27.2114 - 4.66
    assert r.pzc == pytest.approx(0.2 * 27.2114 - 4.66, rel=1e-9)
    assert math.isfinite(r.capacitance) and r.capacitance != 0.0
    # side-effect sinks exist (S1 stores, input decks, report)
    assert (tmp_path / "run" / "bulk_store").exists()
    assert (tmp_path / "run" / "slab_store").exists()
    assert (tmp_path / "run" / "gc_dft_in").exists()
    assert (tmp_path / "run" / "report").exists()


def test_pipeline_report_counts_the_analyzed_slabs(spark, materials, tmp_path):
    """The report's row count (observed on the descriptor checkpoint's
    job) is the number of result rows."""
    run_reference_pipeline(spark, materials, str(tmp_path / "run"))
    (part,) = (tmp_path / "run" / "report").glob("part-*")
    assert part.read_text().splitlines() == [
        "## run: 1 slab(s) analyzed",
        "![plot](visualize/echem.png)",
    ]


def test_pipeline_rerun_idempotent(spark, materials, tmp_path):
    out = str(tmp_path / "run")
    first = run_reference_pipeline(spark, materials, out).collect()
    second = run_reference_pipeline(spark, materials, out).collect()
    # re-running must not duplicate rows in the results table (SURVEY §5.4)
    assert sorted((r.MP_id, r.pzc) for r in first) == sorted(
        (r.MP_id, r.pzc) for r in second
    )


def test_pipeline_scans_its_source_once(spark, tmp_path):
    """Every sink and the solver read the source checkpoint: each input
    row passes through the source lineage exactly once per call."""
    sc = spark.sparkContext
    seen = sc.accumulator(0)

    def tick(row):
        seen.add(1)
        return row

    materials = spark.createDataFrame(
        sc.parallelize(MATERIALS, 2).map(tick), MATERIALS_SCHEMA
    )
    run_reference_pipeline(spark, materials, str(tmp_path / "run")).collect()
    assert seen.value == len(MATERIALS)


def test_pipeline_releases_its_checkpoints(spark, materials, tmp_path):
    """A call leaves executor storage as it found it, also when the
    solver raises after the source checkpoint is pinned."""
    before = persistent_rdd_ids(spark)
    run_reference_pipeline(spark, materials, str(tmp_path / "ok")).collect()
    assert persistent_rdd_ids(spark) == before

    def broken_solver(runs):
        raise RuntimeError("solver unavailable")

    with pytest.raises(RuntimeError, match="solver unavailable"):
        run_reference_pipeline(
            spark, materials, str(tmp_path / "failed"), solver=broken_solver
        )
    assert persistent_rdd_ids(spark) == before


def test_generate_slabs_indexing(spark, materials):
    slabs = generate_slabs(materials.limit(2), ["111", "110"])
    pdf = slabs.toPandas()
    # slab_index is 0-based-contiguous within (material, facet), like
    # the reference's enumerate(slabs) (my_dag.py:93)
    for (_, _), grp in pdf.groupby(["material_id", "facet"]):
        assert sorted(grp.slab_index) == list(range(len(grp)))
    assert set(pdf.slab_id) == {
        f"{m}-{f}-{i}" for m, f, i in zip(pdf.material_id, pdf.facet, pdf.slab_index)
    }


def test_sample_by_hash_deterministic_and_capped(spark, materials):
    a = [r.material_id for r in sample_by_hash(materials, "material_id", 2, 27).collect()]
    b = [r.material_id for r in sample_by_hash(materials, "material_id", 2, 27).collect()]
    assert a == b and len(a) == 2
    # n > len(input) caps at input size, like min(nsample, len) my_dag.py:57
    assert sample_by_hash(materials, "material_id", 99, 27).count() == 4
    # a different seed reorders (4 keys → overwhelmingly likely to differ)
    c = [r.material_id for r in sample_by_hash(materials, "material_id", 4, 0).collect()]
    d = [r.material_id for r in sample_by_hash(materials, "material_id", 4, 123).collect()]
    assert set(c) == set(d)


def test_upsert_first_wins(spark, tmp_path):
    path = str(tmp_path / "tbl")
    schema = "MP_id string, pzc double"
    t1 = upsert_parquet(
        spark.createDataFrame([("a", 1.0), ("a", 2.0), ("b", 3.0)], schema),
        path, key_cols=["MP_id"], order_col="pzc",
    )
    got = {r.MP_id: r.pzc for r in t1.collect()}
    assert got == {"a": 1.0, "b": 3.0}  # within-batch: lowest order_col wins
    # conflicting re-insert is skipped (DO NOTHING), new key lands
    t2 = upsert_parquet(
        spark.createDataFrame([("a", 99.0), ("c", 4.0)], schema),
        path, key_cols=["MP_id"], order_col="pzc",
    )
    got2 = {r.MP_id: r.pzc for r in t2.collect()}
    assert got2 == {"a": 1.0, "b": 3.0, "c": 4.0}


def test_upsert_skips_a_key_the_table_already_holds_twice(spark, tmp_path):
    """Existing duplicate keys (two raw appends) still block the key:
    the upsert adds no third copy, and the new key lands once."""
    path = str(tmp_path / "tbl")
    schema = "MP_id string, pzc double"
    for pzc in (1.0, 2.0):
        spark.createDataFrame([("a", pzc)], schema).write.mode("append").parquet(path)
    table = upsert_parquet(
        spark.createDataFrame([("a", 0.5), ("b", 3.0)], schema),
        path, key_cols=["MP_id"], order_col="pzc",
    )
    assert sorted((r.MP_id, r.pzc) for r in table.collect()) == [
        ("a", 1.0), ("a", 2.0), ("b", 3.0),
    ]


def test_upsert_leaves_no_pinned_storage(spark, tmp_path, monkeypatch):
    """The insert-set checkpoint is released after the append and after
    a failed append."""
    path = str(tmp_path / "tbl")
    schema = "MP_id string, pzc double"
    upsert_parquet(
        spark.createDataFrame([("a", 1.0)], schema),
        path, key_cols=["MP_id"], order_col="pzc",
    )
    before = persistent_rdd_ids(spark)
    upsert_parquet(
        spark.createDataFrame([("b", 2.0)], schema),
        path, key_cols=["MP_id"], order_col="pzc",
    )
    assert persistent_rdd_ids(spark) == before

    def broken_parquet(self, *args, **kwargs):
        raise OSError("disk full")

    monkeypatch.setattr(DataFrameWriter, "parquet", broken_parquet)
    with pytest.raises(OSError, match="disk full"):
        upsert_parquet(
            spark.createDataFrame([("d", 4.0)], schema),
            path, key_cols=["MP_id"], order_col="pzc",
        )
    assert persistent_rdd_ids(spark) == before
    monkeypatch.undo()
    assert sorted(r.MP_id for r in spark.read.parquet(path).collect()) == [
        "a", "b",
    ]


def test_append_report(spark, tmp_path):
    path = str(tmp_path / "report")

    def n_parts():
        return len(list((tmp_path / "report").glob("part-*")))

    append_report(spark, path, ["## run 1", "![plot](run1.png)"])
    assert n_parts() == 1  # one file per append
    append_report(spark, path, ["## run 2"])
    assert n_parts() == 2
    vals = [r.value for r in spark.read.text(path).collect()]
    assert sorted(vals) == sorted(["## run 1", "![plot](run1.png)", "## run 2"])


def test_observation_rides_the_job(spark):
    """with_observation: quality metrics collected by the SAME job that
    materializes the frame — counts match an explicit re-aggregation."""
    from pyspark.sql import functions as F

    from echem_dft_etl_spark.pipeline import with_observation
    from echem_dft_etl_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_quantity", "l_discount"
    )
    gated, obs = with_observation(
        li,
        {
            "n_rows": F.count(F.lit(1)),
            "null_keys": F.sum(
                F.when(F.col("l_orderkey").isNull(), 1).otherwise(0)
            ),
            "bad_discount": F.sum(
                F.when(
                    (F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1
                ).otherwise(0)
            ),
        },
    )
    gated.write.format("noop").mode("overwrite").save()  # one real action
    got = obs.get
    assert got["n_rows"] == li.count()
    assert got["null_keys"] == 0
    assert got["bad_discount"] == 0
