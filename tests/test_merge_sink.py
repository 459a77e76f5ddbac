"""Managed-table MERGE sink (S3 variant 3): copy-on-write snapshots
with an atomic _SUCCESS commit point — matched keys UPDATE, unmatched
INSERT, re-runs content-idempotent. The Delta/Iceberg MERGE contract
(SURVEY §2.1 S3, my_dag.py:196-205's true-upsert shape) without a
table-format package; merge_parquet is the documented one-call swap
point for DeltaTable.merge when delta-spark is on the classpath."""

from __future__ import annotations

import pytest

from echem_dft_etl_spark.sources import sinks
from echem_dft_etl_spark.sources.sinks import (
    _committed_snapshots,
    merge_parquet,
    upsert_parquet,
)


def _rows(df):
    return {r.MP_id: r.pzc for r in df.collect()}


def _mk(spark, rows):
    return spark.createDataFrame(rows, "MP_id string, pzc double")


def test_merge_updates_matched_and_inserts_unmatched(spark, tmp_path):
    root = str(tmp_path / "tbl")
    t1 = merge_parquet(
        _mk(spark, [("a", 1.0), ("b", 2.0)]), root, ["MP_id"], "pzc"
    )
    assert _rows(t1) == {"a": 1.0, "b": 2.0}
    # batch 2: 'b' matched -> UPDATED (not skipped), 'c' -> inserted
    t2 = merge_parquet(
        _mk(spark, [("b", 9.0), ("c", 3.0)]), root, ["MP_id"], "pzc"
    )
    assert _rows(t2) == {"a": 1.0, "b": 9.0, "c": 3.0}


def test_merge_vs_upsert_conflict_semantics(spark, tmp_path):
    """The two S3 variants differ exactly on matched keys: DO NOTHING
    keeps the incumbent, MERGE takes the batch."""
    mroot, uroot = str(tmp_path / "m"), str(tmp_path / "u")
    first = _mk(spark, [("k", 1.0)])
    second = _mk(spark, [("k", 2.0)])
    merge_parquet(first, mroot, ["MP_id"], "pzc")
    upsert_parquet(first, uroot, ["MP_id"], "pzc")
    assert _rows(merge_parquet(second, mroot, ["MP_id"], "pzc")) == {"k": 2.0}
    assert _rows(upsert_parquet(second, uroot, ["MP_id"], "pzc")) == {"k": 1.0}


def test_merge_rerun_is_content_idempotent(spark, tmp_path):
    root = str(tmp_path / "tbl")
    batch = _mk(spark, [("a", 1.0), ("a", 5.0), ("b", 2.0)])
    r1 = _rows(merge_parquet(batch, root, ["MP_id"], "pzc"))
    # within-batch first-wins: lowest order_col survives per key
    assert r1 == {"a": 1.0, "b": 2.0}
    r2 = _rows(merge_parquet(batch, root, ["MP_id"], "pzc"))
    assert r2 == r1


def test_merge_snapshot_retention_and_reader_isolation(spark, tmp_path):
    """keep_snapshots=2 retains the previous snapshot, so a frame read
    before a merge still resolves after it commits; older snapshots are
    vacuumed."""
    root = str(tmp_path / "tbl")
    merge_parquet(_mk(spark, [("a", 1.0)]), root, ["MP_id"], "pzc")
    before = spark.read.parquet(
        _committed_snapshots(spark, root)[-1][1]
    )
    merge_parquet(_mk(spark, [("b", 2.0)]), root, ["MP_id"], "pzc")
    merge_parquet(_mk(spark, [("c", 3.0)]), root, ["MP_id"], "pzc")
    snaps = _committed_snapshots(spark, root)
    assert len(snaps) == 2, "older snapshots must be vacuumed"
    assert [v for v, _ in snaps] == [2, 3]
    # the pre-merge reader pinned snapshot 1 files... which are gone;
    # but the keep=2 window means a reader of snapshot 2 (the previous
    # head) still works after the third merge:
    prev = spark.read.parquet(snaps[0][1])
    assert _rows(prev) == {"a": 1.0, "b": 2.0}
    assert _rows(spark.read.parquet(snaps[1][1])) == {"a": 1.0, "b": 2.0, "c": 3.0}
    del before


def test_crashed_write_is_invisible(spark, tmp_path):
    """A snap dir without _SUCCESS (crashed writer) must not be read
    and must not advance the version counter to readers."""
    root = str(tmp_path / "tbl")
    merge_parquet(_mk(spark, [("a", 1.0)]), root, ["MP_id"], "pzc")
    torn = tmp_path / "tbl" / "snap_0000000099"
    torn.mkdir()
    (torn / "part-00000.parquet").write_bytes(b"not parquet")
    snaps = _committed_snapshots(spark, str(root))
    assert [v for v, _ in snaps] == [1]
    # next merge versions off the COMMITTED max (v1 -> v2); the torn
    # uncommitted dir neither advances the counter nor feeds the merge
    t = merge_parquet(_mk(spark, [("b", 2.0)]), str(root), ["MP_id"], "pzc")
    assert _rows(t) == {"a": 1.0, "b": 2.0}


def test_compact_parquet_reduces_files_and_preserves_content(spark, tmp_path):
    from pyspark.sql import functions as F

    from echem_dft_etl_spark.sources.sinks import compact_parquet

    src, dst = str(tmp_path / "frag"), str(tmp_path / "tight")
    df = spark.range(10_000).select(
        F.col("id"), (F.col("id") % 97).alias("k")
    )
    df.repartition(40).write.parquet(src)
    n_in, n_out = compact_parquet(
        spark, src, dst, target_bytes=64 * 1024 * 1024, cluster_col="id"
    )
    assert n_in == 40 and n_out < n_in
    back = spark.read.parquet(dst)
    assert back.count() == 10_000
    assert back.agg(F.sum("id")).first()[0] == df.agg(F.sum("id")).first()[0]


def test_compact_parquet_clusters_output_ranges(spark, tmp_path):
    """With cluster_col, compacted files cover non-overlapping key
    bands (the min/max pruning contract of write_clustered)."""
    import pyarrow.parquet as pq
    from pathlib import Path

    from pyspark.sql import functions as F

    from echem_dft_etl_spark.sources.sinks import compact_parquet

    src, dst = str(tmp_path / "frag"), str(tmp_path / "tight")
    spark.range(50_000).select(F.col("id")).repartition(30).write.parquet(src)
    # force a multi-file compaction so the non-overlap claim is tested
    compact_parquet(spark, src, dst, target_bytes=100 * 1024, cluster_col="id")
    spans = []
    for f in Path(dst).glob("part-*.parquet"):
        t = pq.read_table(f, columns=["id"])
        if t.num_rows:
            ids = t.column("id").to_pylist()
            spans.append((min(ids), max(ids)))
    assert len(spans) > 1
    spans.sort()
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 < lo2, (spans,)


def test_zorder_files_are_rectangles(spark, tmp_path):
    """Z-ordered files must be small rectangles in BOTH dimensions:
    per-file min/max span a fraction of the global domain for x AND y
    (range clustering on one column leaves the other unbounded)."""
    import pyarrow.parquet as pq
    from pathlib import Path

    from pyspark.sql import functions as F

    from echem_dft_etl_spark.sources.sinks import write_zordered

    n = 1 << 14
    side = 1 << 7
    df = spark.range(n).select(
        (F.col("id") % side).alias("x"), (F.col("id") / side).cast("bigint").alias("y")
    )
    dst = str(tmp_path / "z")
    write_zordered(df, dst, "x", "y", n_ranges=16)
    spans = []
    for f in Path(dst).glob("part-*.parquet"):
        t = pq.read_table(f, columns=["x", "y"])
        if not t.num_rows:
            continue
        xs, ys = t.column("x").to_pylist(), t.column("y").to_pylist()
        spans.append((max(xs) - min(xs), max(ys) - min(ys)))
    # 16 contiguous z-ranges over a 128x128 grid: files inside an
    # aligned quad are ~32-wide rectangles in BOTH dims; the few
    # ranges straddling a major quad boundary legitimately span wide
    # (the classic z-curve jump — Delta's OPTIMIZE ZORDER has the
    # same property). The layout claim is therefore: MOST files are
    # tight in both dimensions, which is what stats-based row-group
    # pruning needs — vs range clustering, where EVERY file spans the
    # full domain of the non-clustered column.
    assert len(spans) > 4
    tight = [s for s in spans if s[0] <= side // 2 and s[1] <= side // 2]
    assert len(tight) >= 3 * len(spans) // 4, spans
    assert min(sx for sx, _ in spans) <= side // 4, spans
    assert min(sy for _, sy in spans) <= side // 4, spans


def test_read_snapshot_versions_and_retention(spark, tmp_path):
    from echem_dft_etl_spark.sources.sinks import merge_parquet, read_snapshot

    root = str(tmp_path / "tbl")
    merge_parquet(_mk(spark, [("a", 1.0)]), root, ["MP_id"], "pzc")
    merge_parquet(_mk(spark, [("a", 2.0)]), root, ["MP_id"], "pzc")
    assert _rows(read_snapshot(spark, root, 1)) == {"a": 1.0}
    assert _rows(read_snapshot(spark, root, 2)) == {"a": 2.0}
    assert _rows(read_snapshot(spark, root)) == {"a": 2.0}
    # third merge vacuums v1 (keep_snapshots=2): travel window moves
    merge_parquet(_mk(spark, [("a", 3.0)]), root, ["MP_id"], "pzc")
    with pytest.raises(KeyError):
        read_snapshot(spark, root, 1)
    assert _rows(read_snapshot(spark, root, 2)) == {"a": 2.0}
    with pytest.raises(KeyError):
        read_snapshot(spark, str(tmp_path / "nope"))


def test_delete_keys_removes_matched_only(spark, tmp_path):
    """MERGE WHEN MATCHED THEN DELETE: matched keys vanish, absent
    delete keys are a no-op, survivors are untouched, and the purge
    commits as a NEW snapshot (old one still time-travelable until
    pruned)."""
    from echem_dft_etl_spark.sources.sinks import delete_keys_parquet

    root = str(tmp_path / "tbl")
    merge_parquet(
        _mk(spark, [("a", 1.0), ("b", 2.0), ("c", 3.0)]), root, ["MP_id"], "pzc"
    )
    doomed = spark.createDataFrame([("b",), ("zz",)], "MP_id string")
    t2 = delete_keys_parquet(doomed, root, ["MP_id"])
    assert _rows(t2) == {"a": 1.0, "c": 3.0}
    snaps = _committed_snapshots(spark, root)
    assert [v for v, _ in snaps] == [1, 2]
    # time travel: the pre-delete snapshot still reads complete
    assert _rows(spark.read.parquet(snaps[0][1])) == {
        "a": 1.0, "b": 2.0, "c": 3.0,
    }


def test_delete_keys_rerun_is_idempotent_and_requires_table(spark, tmp_path):
    from echem_dft_etl_spark.sources.sinks import delete_keys_parquet

    root = str(tmp_path / "tbl")
    doomed = spark.createDataFrame([("a",)], "MP_id string")
    with pytest.raises(KeyError):
        delete_keys_parquet(doomed, root, ["MP_id"])
    merge_parquet(_mk(spark, [("a", 1.0), ("b", 2.0)]), root, ["MP_id"], "pzc")
    r1 = _rows(delete_keys_parquet(doomed, root, ["MP_id"]))
    r2 = _rows(delete_keys_parquet(doomed, root, ["MP_id"]))
    assert r1 == r2 == {"b": 2.0}


@pytest.mark.parametrize(
    "call",
    [
        lambda spark, keys, root: sinks.delete_keys_parquet(
            keys, root, ["MP_id"]
        ),
        lambda spark, keys, root: sinks.delete_keys_dv(keys, root, ["MP_id"]),
        lambda spark, keys, root: sinks.read_with_dv(spark, root),
        lambda spark, keys, root: sinks.compact_dv(spark, root),
        lambda spark, keys, root: sinks.read_snapshot(spark, root),
    ],
    ids=[
        "delete_keys_parquet",
        "delete_keys_dv",
        "read_with_dv",
        "compact_dv",
        "read_snapshot",
    ],
)
def test_managed_table_ops_on_empty_root_raise_key_error(
    spark, tmp_path, call
):
    """A table with no committed snapshot is one condition with one
    exception type across the whole managed-table family."""
    keys = spark.createDataFrame([("a",)], "MP_id string")
    with pytest.raises(KeyError, match="no committed snapshot"):
        call(spark, keys, str(tmp_path / "tbl"))


def test_deletion_vectors_merge_on_read_and_compaction(spark, tmp_path):
    """Merge-on-read deletes: sidecars filter the scan without any
    data rewrite, accumulate across calls, equal the copy-on-write
    result, and compaction folds them into a new snapshot that no
    longer needs the anti-join."""
    from echem_dft_etl_spark.sources.sinks import (
        _committed_dvs,
        compact_dv,
        delete_keys_dv,
        delete_keys_parquet,
        read_with_dv,
    )

    rows = [("a", 1.0), ("b", 2.0), ("c", 3.0), ("d", 4.0)]
    root = str(tmp_path / "mor")
    merge_parquet(_mk(spark, rows), root, ["MP_id"], "pzc")
    delete_keys_dv(
        spark.createDataFrame([("b",), ("zz",)], "MP_id string"),
        root, ["MP_id"],
    )
    delete_keys_dv(
        spark.createDataFrame([("d",)], "MP_id string"), root, ["MP_id"]
    )
    assert _rows(read_with_dv(spark, root)) == {"a": 1.0, "c": 3.0}
    # the snapshot itself was NOT rewritten: still version 1, 2 sidecars
    snaps = _committed_snapshots(spark, root)
    assert [v for v, _ in snaps] == [1]
    assert len(_committed_dvs(spark, root, 1)) == 2

    # copy-on-write over the same deletes agrees row-for-row
    cow_root = str(tmp_path / "cow")
    merge_parquet(_mk(spark, rows), cow_root, ["MP_id"], "pzc")
    cow = delete_keys_parquet(
        spark.createDataFrame([("b",), ("zz",), ("d",)], "MP_id string"),
        cow_root, ["MP_id"],
    )
    assert _rows(cow) == _rows(read_with_dv(spark, root))

    # compaction: new snapshot, sidecars orphaned, read path clean
    folded = compact_dv(spark, root)
    assert _rows(folded) == {"a": 1.0, "c": 3.0}
    snaps = _committed_snapshots(spark, root)
    assert [v for v, _ in snaps] == [1, 2]
    assert _committed_dvs(spark, root, 2) == []
    assert _rows(read_with_dv(spark, root)) == {"a": 1.0, "c": 3.0}


def test_crashed_dv_sidecar_is_invisible(spark, tmp_path):
    """A sidecar directory without _SUCCESS (crashed writer) must not
    affect readers — same commit discipline as snapshots."""
    from echem_dft_etl_spark.sources.sinks import (
        delete_keys_dv,
        read_with_dv,
    )

    root = str(tmp_path / "tbl")
    merge_parquet(_mk(spark, [("a", 1.0), ("b", 2.0)]), root, ["MP_id"], "pzc")
    delete_keys_dv(
        spark.createDataFrame([("a",)], "MP_id string"), root, ["MP_id"]
    )
    # fake a torn sidecar: directory with data but no _SUCCESS marker
    import pathlib
    torn = pathlib.Path(root) / "dv_0000000001_0002"
    torn.mkdir()
    (torn / "part-00000.parquet").write_bytes(b"not a commit")
    assert _rows(read_with_dv(spark, root)) == {"b": 2.0}


def test_compact_dv_vacuums_folded_sidecars(spark, tmp_path):
    """Compaction must delete the sidecars it folded — otherwise every
    cycle leaks its delete history onto the filesystem."""
    import pathlib

    from echem_dft_etl_spark.sources.sinks import (
        _committed_dvs,
        compact_dv,
        delete_keys_dv,
    )

    root = str(tmp_path / "tbl")
    merge_parquet(_mk(spark, [("a", 1.0), ("b", 2.0)]), root, ["MP_id"], "pzc")
    delete_keys_dv(
        spark.createDataFrame([("a",)], "MP_id string"), root, ["MP_id"]
    )
    assert len(_committed_dvs(spark, root, 1)) == 1
    folded = compact_dv(spark, root)
    assert _rows(folded) == {"b": 2.0}
    assert _committed_dvs(spark, root, 1) == []
    assert not list(pathlib.Path(root).glob("dv_*")), "sidecar dirs leaked"


def test_compact_dv_spares_concurrently_committed_sidecar(
    spark, tmp_path, monkeypatch
):
    """A sidecar committed by a concurrent delete_keys_dv AFTER
    compaction captured its fold list must NOT be vacuumed — sweeping
    it would silently destroy a delete that was never folded. The
    surviving sidecar names the old version (an OCC conflict a
    multi-writer deployment must re-apply or abort on), but the delete
    record itself is preserved."""
    import pathlib

    from echem_dft_etl_spark.sources import sinks

    root = str(tmp_path / "tbl")
    merge_parquet(
        _mk(spark, [("a", 1.0), ("b", 2.0), ("c", 3.0)]),
        root, ["MP_id"], "pzc",
    )
    sinks.delete_keys_dv(
        spark.createDataFrame([("a",)], "MP_id string"), root, ["MP_id"]
    )

    real_listing = sinks._committed_dvs
    fired = {"done": False}

    def race_listing(spk, table_root, version):
        out = real_listing(spk, table_root, version)
        if not fired["done"]:
            # interleave: a concurrent writer commits a v1 sidecar
            # after compact_dv captured its fold list.
            fired["done"] = True
            spark.createDataFrame([("b",)], "MP_id string").write.parquet(
                f"{root}/dv_{version:010d}_0002"
            )
        return out

    monkeypatch.setattr(sinks, "_committed_dvs", race_listing)
    folded = sinks.compact_dv(spark, root)
    monkeypatch.undo()

    # the folded snapshot reflects only the captured sidecar ...
    assert _rows(folded) == {"b": 2.0, "c": 3.0}
    # ... the captured sidecar was vacuumed, the racer's was NOT
    leftover = sorted(p.name for p in pathlib.Path(root).glob("dv_*"))
    assert leftover == ["dv_0000000001_0002"], leftover


def test_snapshot_changes_rejects_pruned_version(spark, tmp_path):
    """Diffing against a version that pruning removed must raise with
    the available versions listed — a silent empty diff would read as
    'no changes' and corrupt downstream incremental state."""
    from pyspark.sql import functions as F

    from echem_dft_etl_spark.sources.sinks import (
        merge_parquet,
        snapshot_changes,
    )

    root = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, 10), (2, 20)], "k bigint, v bigint"
    )
    # keep_snapshots=1: each merge prunes the predecessor
    merge_parquet(base, root, ["k"], "k", keep_snapshots=1)
    merge_parquet(
        base.withColumn("v", F.col("v") + 1), root, ["k"], "k",
        keep_snapshots=1,
    )
    with pytest.raises(KeyError, match=r"versions \[1\].*have \[2\]"):
        snapshot_changes(spark, root, 1, 2, ["k"])


def test_snapshot_changes_empty_diff_for_identical_snapshots(spark, tmp_path):
    """Re-merging the same batch produces a content-identical snapshot;
    the diff between the two must be EMPTY (change-sized output)."""
    from echem_dft_etl_spark.sources.sinks import (
        merge_parquet,
        snapshot_changes,
    )

    root = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "k bigint, v bigint"
    )
    merge_parquet(base, root, ["k"], "k", keep_snapshots=3)
    merge_parquet(base, root, ["k"], "k", keep_snapshots=3)
    assert snapshot_changes(spark, root, 1, 2, ["k"]).count() == 0


def test_snapshot_changes_contract_guards(spark, tmp_path):
    """Degenerate inputs must fail with a CONTRACT message, not an
    analyzer error deep in the join: a key-only table has nothing to
    diff (empty struct), and a schema-evolved old snapshot would
    otherwise die on an unresolved column — diffing across evolution
    needs an explicit caller policy."""
    from echem_dft_etl_spark.sources.sinks import snapshot_changes

    # key-only table: every column is a key
    root = str(tmp_path / "keyonly")
    spark.createDataFrame([(1,), (2,)], "k bigint").write.parquet(
        f"{root}/snap_1"
    )
    spark.createDataFrame([(1,), (3,)], "k bigint").write.parquet(
        f"{root}/snap_2"
    )
    with pytest.raises(ValueError, match="non-key column"):
        snapshot_changes(spark, root, 1, 2, ["k"])

    # schema evolution between snapshots: column sets differ
    root2 = str(tmp_path / "evolved")
    spark.createDataFrame([(1, 10)], "k bigint, v bigint").write.parquet(
        f"{root2}/snap_1"
    )
    spark.createDataFrame(
        [(1, 10, "x")], "k bigint, v bigint, extra string"
    ).write.parquet(f"{root2}/snap_2")
    with pytest.raises(ValueError, match="schemas differ"):
        snapshot_changes(spark, root2, 1, 2, ["k"])
