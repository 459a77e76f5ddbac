"""Sinks (SURVEY §2.1 S1-S4): partitioned files, text artifacts, the
upsert-table pattern, and the append-only report.

The reference writes one POSCAR per material/slab in a Python loop
(``my_dag.py:40-44,93-99``), upserts into Postgres via psycopg2
(``my_dag.py:196-205``) and appends a markdown report
(``my_dag.py:240-243``). Spark-native equivalents:

- S1 → ``write_partitioned``: one directory per key via
  ``partitionBy`` — a thousand executors write a million "files"
  without driver involvement; dynamic partition overwrite replaces only
  touched keys on re-runs.
- S2, the .out scan, is a connector of its own
  (``sources/solver_out.py``): it keys every line by its run.
- S3 → ``upsert_parquet`` / ``write_jdbc`` / ``merge_parquet``:
  first-wins conflict-skip as dedup + left-anti append (deterministic,
  re-run idempotent); the JDBC form ships the same frame to a staging
  table for a server-side MERGE; ``merge_parquet`` is the engine-side
  managed-table MERGE (matched→update, unmatched→insert) via
  copy-on-write snapshots with an atomic commit point.
- S4 → ``append_report``: append-mode text with a single partition —
  the report is driver-scale by definition.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import first_per_key
from ..operators.storage import CheckpointScope


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """S1: key-partitioned parquet sink (one dir per key value)."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def upsert_parquet(
    new_rows: DataFrame,
    table_path: str,
    key_cols: list[str],
    order_col: str,
) -> DataFrame:
    """S3/Q16: first-wins upsert into a parquet table.

    ``ON CONFLICT DO NOTHING`` semantics (my_dag.py:201): dedup the
    incoming batch deterministically (lowest ``order_col`` wins), then
    left-anti join against existing keys and append. Returns the table
    content after the upsert. Re-running the same batch is a no-op.

    Table existence is probed through the Hadoop FileSystem API (not by
    pattern-matching reader exceptions, which changes wording across
    Spark versions). Single-writer assumption: the read-keys-then-
    append sequence is not atomic — concurrent upserts into the same
    path, or a crash mid-append, can leave duplicate keys behind.
    Readers stay correct regardless because every consumer of the
    table goes through first-wins dedup on the same keys; for
    multi-writer deployments use a transactional table format or the
    JDBC MERGE path (:func:`write_jdbc`).

    The insert set is read from the table it is appended to, so it is
    pinned before the append starts, as a local checkpoint in a
    ``storage.CheckpointScope`` rather than a cache. The checkpoint is
    one eager job; with ``cache(); count()`` a one-row upsert on
    local[4] ran 10 jobs and 162 tasks, now 8 and 21. A checkpoint's lineage is cut, so no block
    can be recomputed against the half-appended table the way an
    evicted cache block would be, and the scope releases it even when
    the append fails.
    """
    spark = new_rows.sparkSession
    batch = first_per_key(new_rows, key_cols, order_col)
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(table_path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(hpath):
        existing = spark.read.parquet(table_path)
        # a left-anti join keeps a row iff no key matches, so duplicate
        # existing keys need no distinct (it would add an aggregate)
        to_insert = batch.join(existing.select(*key_cols), key_cols, "left_anti")
        with CheckpointScope(spark) as ck:
            ck.pin(to_insert).write.mode("append").parquet(table_path)
    else:  # first write: table does not exist yet
        batch.write.mode("overwrite").parquet(table_path)
    return spark.read.parquet(table_path)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    key_cols: list[str],
    order_col: str,
    properties: dict[str, str] | None = None,
) -> None:
    """S3: JDBC sink with the same first-wins batch dedup.

    Appends the deduped batch to a staging table; conflict-skip against
    the live table is the server's MERGE / INSERT..ON CONFLICT (the
    reference's form, my_dag.py:199-202). Requires the JDBC driver jar
    on the classpath — not bundled in this environment, so this is the
    documented production path, exercised only when a URL is reachable.
    """
    batch = first_per_key(df, key_cols, order_col)
    writer = batch.write.mode("append").format("jdbc").option("url", url).option(
        "dbtable", f"{table}_staging"
    )
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()


#: Unquoted-safe identifier: lowercase regular identifiers pass through
#: bare (byte-compatible with the reference's unquoted table spelling);
#: anything else — mixed case, reserved words, punctuation — is quoted.
_SAFE_IDENT = re.compile(r"^[a-z_][a-z0-9_]*$")

#: Words that are reserved in at least one target dialect: even though
#: they match the safe-identifier shape, emitting them bare would be a
#: syntax error (Postgres) or bind to the wrong thing.
_RESERVED_WORDS = frozenset(
    """all and any as asc between by case check column constraint create
    cross current_date current_time current_timestamp default delete
    desc distinct drop else end exists foreign from full group having
    in inner insert intersect into is join key left like merge natural
    not null on or order outer primary references right select set
    some table then to union unique update user using values when
    where with""".split()
)

#: SQL type expressions are caller-supplied text that cannot be quoted;
#: restrict them to the charset real type expressions need so a hostile
#: "type" cannot smuggle statement text into the DDL.
_SAFE_TYPE = re.compile(
    r"^[A-Za-z][A-Za-z0-9_ ]*(\(\s*\d+(\s*,\s*\d+)?\s*\))?$"
)


def _qident(name: str, bare_ok: bool = False) -> str:
    """ANSI-quote an SQL identifier, injection-safe by construction:
    embedded double quotes are doubled (the one escape the standard
    defines), empty/NUL/newline-bearing names are rejected outright
    (no quoting convention makes them portable). With ``bare_ok``,
    lowercase regular non-reserved identifiers pass through unquoted —
    preserving the reference's unquoted table spelling
    (my_dag.py:199-202) for the common case."""
    if not name or "\x00" in name or "\n" in name or "\r" in name:
        raise ValueError(f"unrepresentable SQL identifier: {name!r}")
    if bare_ok and _SAFE_IDENT.match(name) and name not in _RESERVED_WORDS:
        return name
    return '"' + name.replace('"', '""') + '"'


def upsert_sql(
    table: str,
    key_cols: list[str],
    cols: list[tuple[str, str]],
    dialect: str = "postgres",
) -> list[str]:
    """S3: the SERVER-SIDE half of the JDBC upsert — the exact SQL a
    production target runs after :func:`write_jdbc` lands the deduped
    batch in ``{table}_staging``.

    The reference's conflict-skip is Postgres
    ``INSERT … ON CONFLICT (MP_id) DO NOTHING`` (my_dag.py:201-202)
    over a table created with a UNIQUE key (my_dag.py:199); this
    generator emits that statement sequence for Postgres and the
    standard-SQL ``MERGE … WHEN NOT MATCHED THEN INSERT`` equivalent
    for engines without the ON CONFLICT extension (Derby — executed
    for real against embedded Derby in tests/test_jdbc.py, so the
    generated text is known-valid SQL, not just a string).

    ``cols`` is the ordered ``(name, sql_type)`` column list;
    ``key_cols`` the conflict key subset. Returns the statements in
    execution order: create-target-if-absent, conflict-skip insert
    from staging, staging cleanup.

    Column identifiers are double-quoted (ANSI, honored by both
    dialects): Spark's JDBC writer creates the staging table with
    quoted case-sensitive names, so an unquoted ``s.MP_id`` would fold
    to ``S.MP_ID`` and miss the staged column — the reference's
    unquoted spelling (my_dag.py:201) works only because psycopg2
    creates its table unquoted too.
    """
    if dialect not in ("postgres", "derby"):
        raise ValueError(f"unknown dialect: {dialect!r}")
    names = [n for n, _ in cols]
    missing = [k for k in key_cols if k not in names]
    if missing:
        raise ValueError(f"key_cols not in cols: {missing}")
    bad_types = [t for _n, t in cols if not _SAFE_TYPE.match(t)]
    if bad_types:
        raise ValueError(f"unsafe SQL type expressions: {bad_types}")
    col_defs = ", ".join(f"{_qident(n)} {t}" for n, t in cols)
    col_list = ", ".join(_qident(n) for n in names)
    keys = ", ".join(_qident(k) for k in key_cols)
    tbl = _qident(table, bare_ok=True)
    staging = _qident(f"{table}_staging", bare_ok=True)
    if dialect == "postgres":
        return [
            f"CREATE TABLE IF NOT EXISTS {tbl} "
            f"(id SERIAL PRIMARY KEY, {col_defs}, UNIQUE ({keys}))",
            f"INSERT INTO {tbl} ({col_list}) "
            f"SELECT {col_list} FROM {staging} "
            f"ON CONFLICT ({keys}) DO NOTHING",
            f"DROP TABLE {staging}",
        ]
    # Derby: no IF NOT EXISTS, no ON CONFLICT — surrogate id via
    # GENERATED ALWAYS, conflict-skip via MERGE WHEN NOT MATCHED.
    on = " AND ".join(f"t.{_qident(k)} = s.{_qident(k)}" for k in key_cols)
    src_vals = ", ".join(f"s.{_qident(n)}" for n in names)
    return [
        f"CREATE TABLE {tbl} "
        f"(id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, "
        f"{col_defs}, UNIQUE ({keys}))",
        f"MERGE INTO {tbl} t USING {staging} s ON {on} "
        f"WHEN NOT MATCHED THEN INSERT ({col_list}) VALUES ({src_vals})",
        f"DROP TABLE {staging}",
    ]


def execute_jdbc_statements(
    spark: SparkSession,
    url: str,
    statements: list[str],
    ignore_errors: tuple[str, ...] = (),
) -> None:
    """Run server-side statements (DDL / MERGE) over JDBC through the
    JVM's DriverManager — the execution vehicle for :func:`upsert_sql`
    when the driver jar is on Spark's classpath (Derby always is; a
    Postgres target needs its jar on ``spark.jars``).

    ``ignore_errors``: substrings of SQLState/message to tolerate —
    e.g. Derby's table-exists X0Y32 stands in for the Postgres
    dialect's IF NOT EXISTS.
    """
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        for sql in statements:
            try:
                st.execute(sql)
            except Exception as e:  # py4j wraps SQLException
                msg = str(e)
                if not any(tok in msg for tok in ignore_errors):
                    raise
        st.close()
    finally:
        conn.close()


def _committed_dirs(spark: SparkSession, table_root: str, prefix: str):
    """Sorted [(n, path)] of the COMMITTED ``<prefix><n>`` directories
    under a :func:`merge_parquet` table root — committed means Spark's
    own ``_SUCCESS`` marker exists, which is written last and is
    therefore the atomic commit point on any filesystem. An in-flight
    or crashed write is invisible to readers."""
    path = spark._jvm.org.apache.hadoop.fs.Path
    root = path(table_root)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return []
    out = []
    for st in fs.globStatus(path(table_root, prefix + "*")):
        p = st.getPath()
        if not (st.isDirectory() and fs.exists(path(p, "_SUCCESS"))):
            continue
        try:
            out.append((int(p.getName()[len(prefix):]), str(p)))
        except ValueError:
            continue
    return sorted(out)


def _committed_snapshots(spark: SparkSession, table_root: str):
    """Sorted [(version, path)] of the committed snapshots."""
    return _committed_dirs(spark, table_root, "snap_")


def _latest_snapshot(spark: SparkSession, table_root: str) -> tuple[int, str]:
    """(version, path) of the newest committed snapshot; raises
    ``KeyError`` when the table has none."""
    snaps = _committed_snapshots(spark, table_root)
    if not snaps:
        raise KeyError(f"no committed snapshot under {table_root!r}")
    return snaps[-1]


def _snapshot_paths(
    spark: SparkSession, table_root: str, versions: list[int]
) -> list[str]:
    """Paths of the committed snapshots ``versions``; raises
    ``KeyError`` naming any that was never committed or has been
    vacuumed."""
    snaps = dict(_committed_snapshots(spark, table_root))
    missing = [v for v in versions if v not in snaps]
    if missing:
        raise KeyError(
            f"versions {missing} not committed under {table_root!r} "
            f"(have {sorted(snaps)})"
        )
    return [snaps[v] for v in versions]


def _commit_snapshot(
    rows: DataFrame, table_root: str, version: int, keep_snapshots: int
) -> DataFrame:
    """Write ``rows`` as snapshot ``version + 1`` (its ``_SUCCESS``
    marker, written last, is the commit), prune the old snapshots and
    return the new one read back."""
    spark = rows.sparkSession
    new_path = f"{table_root}/snap_{version + 1:010d}"
    rows.write.parquet(new_path)
    _prune_snapshots(spark, table_root, keep_snapshots)
    return spark.read.parquet(new_path)


def _delete_dirs(spark: SparkSession, paths) -> None:
    """Recursively delete each of ``paths``."""
    jvm = spark._jvm
    for path in paths:
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        hpath.getFileSystem(spark._jsc.hadoopConfiguration()).delete(hpath, True)


def merge_parquet(
    new_rows: DataFrame,
    table_root: str,
    key_cols: list[str],
    order_col: str,
    keep_snapshots: int = 2,
) -> DataFrame:
    """S3 managed-table MERGE: matched keys are UPDATED, unmatched keys
    INSERTED — the ``MERGE WHEN MATCHED THEN UPDATE WHEN NOT MATCHED
    THEN INSERT`` contract of Delta/Iceberg, completing the upsert
    family (my_dag.py:196-205 generalized):

    - :func:`upsert_parquet` — ON CONFLICT DO NOTHING (first-wins,
      append-only; re-run no-op).
    - :func:`write_jdbc` — server-side MERGE through a staging table.
    - ``merge_parquet`` — engine-side MERGE with the same two mechanics
      every transactional table format uses underneath: copy-on-write
      (rewrite the data containing matched keys; a real format prunes
      the rewrite to affected files, here the snapshot is rewritten
      whole) and an ATOMIC commit point (a new ``snap_<n>`` directory
      becomes visible only when Spark writes its ``_SUCCESS`` marker —
      readers never observe a torn snapshot, and a crashed writer
      leaves an invisible directory, not a corrupt table).

    Within the incoming batch the winner per key is the lowest
    ``order_col`` (the engine-wide deterministic convention); against
    the existing table the BATCH wins (update semantics — the exact
    behavior :func:`upsert_parquet` deliberately refuses). Re-running
    the same batch is content-idempotent: a new snapshot with
    identical rows.

    Old snapshots are pruned to ``keep_snapshots`` — keeping ≥ 2 gives
    in-flight readers of the previous snapshot time travel for free,
    the same reason Delta vacuums lazily. Single-writer assumption for
    the version counter (concurrent writers could both produce v+1 and
    the globbed max silently wins); multi-writer needs a conditional
    put / lock exactly as Delta's commit protocol provides. If
    ``delta-spark`` is installed this function is the one-call swap
    point for a real ``DeltaTable.merge`` — the signature and
    semantics match deliberately.
    """
    spark = new_rows.sparkSession
    batch = first_per_key(new_rows, key_cols, order_col)
    snaps = _committed_snapshots(spark, table_root)
    if snaps:
        version, head = snaps[-1]
        current = spark.read.parquet(head)
        untouched = current.join(
            batch.select(*key_cols).distinct(), key_cols, "left_anti"
        )
        merged = batch.unionByName(untouched)
    else:
        version, merged = 0, batch
    return _commit_snapshot(merged, table_root, version, keep_snapshots)


def _prune_snapshots(
    spark: SparkSession, table_root: str, keep_snapshots: int
) -> None:
    """Delete all but the newest ``keep_snapshots`` committed snapshots
    (>= 2 keeps time travel for in-flight readers of the previous one)."""
    old = _committed_snapshots(spark, table_root)[: -max(keep_snapshots, 1)]
    _delete_dirs(spark, [path for _v, path in old])


def delete_keys_parquet(
    delete_keys: DataFrame,
    table_root: str,
    key_cols: list[str],
    keep_snapshots: int = 2,
) -> DataFrame:
    """``MERGE WHEN MATCHED THEN DELETE`` against a managed snapshot
    table — the right-to-be-forgotten / retention-purge path that
    completes :func:`merge_parquet`'s upsert semantics.

    Copy-on-write like the upsert: the surviving rows (one anti-join
    of the current snapshot against the distinct delete-key set) are
    written as a NEW ``snap_<n>`` directory whose ``_SUCCESS`` marker
    is the atomic commit point, so concurrent readers of the previous
    snapshot never observe a half-deleted table, and the purge is
    auditable via time travel until the old snapshot is pruned. Keys
    absent from the table are a no-op (MERGE's unmatched-source case),
    making re-runs idempotent. Plan shape: one left-anti equi-join —
    the delete-key side is typically small (broadcast by AQE); the
    table side streams through without any shuffle of its own. A real
    table format prunes the rewrite to files containing matched keys;
    here the snapshot rewrites whole, same trade-off as
    :func:`merge_parquet` and the swap point for ``DeltaTable.delete``
    when delta-spark is available. Single-writer assumption as for
    merge.
    """
    spark = delete_keys.sparkSession
    version, head = _latest_snapshot(spark, table_root)
    current = spark.read.parquet(head)
    kept = current.join(
        delete_keys.select(*key_cols).distinct(), key_cols, "left_anti"
    )
    return _commit_snapshot(kept, table_root, version, keep_snapshots)


def append_report(spark: SparkSession, path: str, lines: list[str]) -> None:
    """S4: append-only markdown report sink (my_dag.py:240-243).

    The lines are built in the JVM as literals exploded over a
    one-partition ``range``: one task writes one file per append, with
    no shuffle and no Python worker. ``createDataFrame`` would pickle
    the rows across defaultParallelism partitions that Python workers
    deserialize, and folding them into one file costs either a
    shuffle (``repartition(1)``) or one serial worker round trip per
    parent partition (``coalesce(1)``)."""
    spark.range(0, 1, 1, 1).select(
        F.explode(F.array(*[F.lit(l) for l in lines])).alias("value")
    ).write.mode("append").text(path)


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_col: str,
    n_ranges: int = 8,
    mode: str = "overwrite",
) -> None:
    """Range-clustered parquet layout: ``repartitionByRange`` +
    ``sortWithinPartitions`` on ``cluster_col``, so every output file
    covers a narrow, non-overlapping band of the clustering key and
    parquet's per-row-group min/max stats prune everything outside a
    range predicate's band. The write costs one range-exchange (with a
    sampling pass to place the range bounds); every later windowed
    scan's I/O is proportional to the window, not the table — the
    layout that keeps a 100 TB time-series queryable
    (s01_sorted_layout_scan is the value-checked round trip)."""
    (
        df.repartitionByRange(n_ranges, cluster_col)
        .sortWithinPartitions(cluster_col)
        .write.mode(mode)
        .parquet(path)
    )


def compact_parquet(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    target_bytes: int = 128 * 1024 * 1024,
    cluster_col: str | None = None,
) -> tuple[int, int]:
    """Small-files compaction (S1 table maintenance): rewrite a
    fragmented parquet directory into files sized toward
    ``target_bytes``, optionally range-clustered on ``cluster_col``.

    The 100 TB problem this solves: streaming appends, per-task sinks,
    and one-file-per-record ingestion all accumulate files far smaller
    than a parquet row group, and scan cost at scale is dominated by
    file-open/footer overhead — a table with 10M 100 KB files is
    unreadable regardless of total bytes. Compaction is the standing
    maintenance job every long-lived table needs (OPTIMIZE in managed
    table formats).

    Sizing reads the ACTUAL byte total from the filesystem (Hadoop FS
    API, so the same code sizes HDFS/S3 paths on a cluster) and picks
    ``ceil(total / target_bytes)`` output partitions — one coalesce
    shuffle; with ``cluster_col`` the rewrite doubles as re-clustering
    (repartitionByRange + sortWithinPartitions, same layout contract
    as :func:`write_clustered`).

    Returns ``(n_files_in, n_files_out)`` counting data files (parquet
    parts), so callers can assert the reduction.
    """
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()

    def _data_files(path: str):
        p = jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(conf)
        out = []
        it = fs.listFiles(p, True)
        while it.hasNext():
            st = it.next()
            name = st.getPath().getName()
            if not name.startswith(("_", ".")):
                out.append((str(st.getPath()), int(st.getLen())))
        return out

    files_in = _data_files(src_path)
    total = sum(sz for _, sz in files_in)
    n_out = max(1, -(-total // target_bytes))
    df = spark.read.parquet(src_path)
    if cluster_col is not None:
        df = df.repartitionByRange(n_out, cluster_col).sortWithinPartitions(
            cluster_col
        )
    else:
        df = df.repartition(n_out)
    df.write.mode("overwrite").parquet(dst_path)
    return len(files_in), len(_data_files(dst_path))


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    bits: int = 16,
    n_ranges: int = 8,
    mode: str = "overwrite",
) -> None:
    """Z-order (Morton-curve) clustered parquet layout over TWO
    dimensions.

    Range clustering (:func:`write_clustered`) makes ONE column's
    min/max stats tight per file; queries filtering the other
    dimension still scan everything. Interleaving the bits of both
    (min-max scaled to ``bits``-bit rank space) and range-partitioning
    on the interleaved key keeps every file a small rectangle in
    (a, b) space, so row-group pruning works for predicates on EITHER
    dimension — the multi-dimensional layout OPTIMIZE ZORDER BY
    provides in managed formats, from two exchanges: one tiny
    bounds aggregate (the only full-scan extra) and the range write
    itself. The interleave is the closed-form BIT-SPREAD ladder
    (the classic Morton ``x |= x << 16 … & 0x5555…`` doubling
    sequence): ~10 whole-stage-codegen integer ops per dimension,
    where the previous ``aggregate(sequence(0, bits-1), …)`` spelling
    ran an INTERPRETED higher-order fold that re-evaluated both
    scaled dimensions per bit — and the range write evaluates the key
    twice (sampling + write). Measured interleaved same-session A/B
    at sf0.1 orders: full write 4.32 s (fold) → 1.99 s (ladder),
    min-of-4. Bit-identical z
    values (the ladder places bit i of the scaled value at position
    2i, exactly the fold's shift). Valid for ``bits <= 31`` (the
    interleaved key must stay inside the bigint sign bit — same
    bound the fold form had).
    """
    bounds = df.agg(
        F.min(col_a).alias("a_min"),
        F.max(col_a).alias("a_max"),
        F.min(col_b).alias("b_min"),
        F.max(col_b).alias("b_max"),
    ).first()
    a_min, a_max = int(bounds.a_min), int(bounds.a_max)
    b_min, b_max = int(bounds.b_min), int(bounds.b_max)
    top = (1 << bits) - 1

    def _scaled(c: str, lo: int, hi: int) -> str:
        span = max(hi - lo, 1)
        return (
            f"CAST(CAST({c} AS BIGINT) - {lo} AS BIGINT) * {top} DIV {span}"
        )

    def _spread(attr: str) -> str:
        """Even-position bit spread: bit i of ``attr`` → bit 2i.

        The masks are the 64-bit Morton doubling constants; every
        step is fully parenthesized (SQL ``<<`` does NOT bind tighter
        than ``&``). ``attr`` must be a plain column attribute: the
        ladder references it 2^5 times and an inlined non-cheap
        expression would be re-evaluated at every reference."""
        s = f"({attr})"
        for sh, m in (
            (16, 281470681808895),  # 0x0000FFFF0000FFFF
            (8, 71777214294589695),  # 0x00FF00FF00FF00FF
            (4, 1085102592571150095),  # 0x0F0F0F0F0F0F0F0F
            (2, 3689348814741910323),  # 0x3333333333333333
            (1, 6148914691236517205),  # 0x5555555555555555
        ):
            s = f"(({s} | ({s} << {sh})) & {m})"
        return s

    # The scaled ranks land in their own projection (plain attributes
    # _za/_zb): CollapseProject keeps non-cheap expressions out of
    # multi-reference inlining, so each DIV-scaling runs once per row
    # and the spread ladder duplicates only attribute references.
    z = F.expr(f"({_spread('_za')} << 1) | {_spread('_zb')}")
    (
        df.withColumn("_za", F.expr(_scaled(col_a, a_min, a_max)))
        .withColumn("_zb", F.expr(_scaled(col_b, b_min, b_max)))
        .withColumn("_z", z)
        .repartitionByRange(n_ranges, "_z")
        .sortWithinPartitions("_z")
        .drop("_z", "_za", "_zb")
        .write.mode(mode)
        .parquet(path)
    )


def read_snapshot(
    spark: SparkSession, table_root: str, version: int | None = None
) -> DataFrame:
    """Time-travel read of a :func:`merge_parquet` table: the COMMITTED
    snapshot at ``version`` (latest when None). Retention is what
    bounds travel: merge keeps ``keep_snapshots`` committed versions
    (vacuuming older ones on each merge), so any retained version is
    readable by the same atomic ``_SUCCESS`` rule writers commit
    under — in-flight or crashed writes are invisible here exactly as
    they are to latest-readers. Raises ``KeyError`` when the table has
    no committed snapshot, or for a version that was never committed or
    has been vacuumed.
    """
    if version is None:
        return spark.read.parquet(_latest_snapshot(spark, table_root)[1])
    return spark.read.parquet(*_snapshot_paths(spark, table_root, [version]))


def _committed_dvs(spark: SparkSession, table_root: str, version: int):
    """Sorted [(index, path)] of the committed deletion-vector sidecars
    for one snapshot version."""
    return _committed_dirs(spark, table_root, f"dv_{version:010d}_")


def delete_keys_dv(
    delete_keys: DataFrame,
    table_root: str,
    key_cols: list[str],
) -> str:
    """MERGE-ON-READ delete: record the doomed keys in a deletion-vector
    SIDECAR next to the current snapshot instead of rewriting it —
    the other half of the delete design space from
    :func:`delete_keys_parquet` (copy-on-write), and the trade every
    real table format (Delta deletion vectors, Iceberg position/
    equality deletes, Hudi MOR) exposes:

    - **write cost**: O(|delete set|) — a few-KB parquet of keys — vs
      copy-on-write's full snapshot rewrite. At 100 TB a nightly
      right-to-be-forgotten purge of a thousand keys must not rewrite
      the table; it appends a sidecar.
    - **read cost**: every reader pays one anti-join against the
      union of committed sidecars (broadcast — delete sets are small
      by construction). When sidecars accumulate,
      :func:`compact_dv` folds them into a new snapshot and the read
      path is clean again (Delta's PURGE / Iceberg's rewrite).

    Sidecars are keyed to the snapshot VERSION they apply to
    (``dv_<version>_<n>``), so a later merge/compaction — which
    produces a new version whose data already excludes nothing —
    naturally orphans them. Commit point is Spark's ``_SUCCESS``
    marker, same as snapshots: readers never observe a torn sidecar.
    Returns the committed sidecar path.
    """
    spark = delete_keys.sparkSession
    version, _head = _latest_snapshot(spark, table_root)
    existing = _committed_dvs(spark, table_root, version)
    nxt = (existing[-1][0] + 1) if existing else 1
    path = f"{table_root}/dv_{version:010d}_{nxt:04d}"
    delete_keys.select(*key_cols).distinct().write.parquet(path)
    return path


def _without_dvs(current: DataFrame, dvs) -> DataFrame:
    """``current`` minus the keys of the deletion-vector sidecars
    ``dvs`` ([(index, path)]): one broadcast left-anti equi-join on the
    sidecar columns, which ARE the key projection."""
    if not dvs:
        return current
    doomed = current.sparkSession.read.parquet(*[p for _i, p in dvs]).distinct()
    return current.join(F.broadcast(doomed), doomed.columns, "left_anti")


def read_with_dv(spark: SparkSession, table_root: str) -> DataFrame:
    """Merge-on-read scan: the current snapshot minus every committed
    deletion-vector sidecar for its version. Key columns come from the
    sidecar schema itself (the sidecar IS the key projection), so the
    reader needs no out-of-band metadata. One broadcast left-anti
    equi-join; the data side streams through shuffle-free."""
    version, head = _latest_snapshot(spark, table_root)
    return _without_dvs(
        spark.read.parquet(head), _committed_dvs(spark, table_root, version)
    )


def compact_dv(
    spark: SparkSession,
    table_root: str,
    keep_snapshots: int = 2,
) -> DataFrame:
    """Fold accumulated deletion vectors into a NEW snapshot (the
    copy-on-write step merge-on-read defers): write the dv-filtered
    view as ``snap_<n+1>``, after which the sidecars are orphaned
    (they name the old version) and the read path is anti-join-free
    until the next dv delete. This is the maintenance op that keeps
    read amplification bounded — run it when sidecar count or deleted
    fraction crosses a threshold, not per delete."""
    version, head = _latest_snapshot(spark, table_root)
    # List the sidecars ONCE and fold + vacuum exactly that list. A
    # second listing after the fold would also sweep any sidecar a
    # concurrent delete_keys_dv committed in between — deleting a
    # delete that was never folded. With the single captured list, such
    # a racer's sidecar survives on disk; it names the old version, so
    # a real multi-writer deployment must re-apply it against the new
    # snapshot (or take a table lock around compaction — the
    # optimistic-concurrency conflict Delta/Iceberg abort on).
    dvs = _committed_dvs(spark, table_root, version)
    cleaned = _without_dvs(spark.read.parquet(head), dvs)
    compacted = _commit_snapshot(cleaned, table_root, version, keep_snapshots)
    # vacuum ONLY the sidecars folded above: they are orphaned the
    # instant the new snapshot commits, and nothing else ever deletes
    # them — without this, every compaction cycle leaks its delete
    # history onto the filesystem.
    _delete_dirs(spark, [path for _i, path in dvs])
    return compacted


def snapshot_changes(
    spark: SparkSession,
    table_root: str,
    from_version: int,
    to_version: int,
    key_cols: list[str],
) -> DataFrame:
    """CDC read between two committed snapshots — the incremental-
    consumption half of the managed-table family (Delta's
    ``table_changes`` / Iceberg's incremental scan): a downstream job
    that last saw ``from_version`` gets exactly the rows it must apply
    to reach ``to_version``, instead of rescanning the table.

    Emits ``change_type`` (``insert`` / ``update_postimage`` /
    ``delete``) plus the row's columns — post-image values for
    inserts/updates, the final pre-image for deletes. Unchanged rows
    (key present in both snapshots, every non-key column equal) emit
    nothing, which is the point: the output is change-sized, not
    table-sized. Implementation is one full-outer join on the keys
    with a struct-equality comparison over the non-key columns —
    hash-partitioned on the key, no driver materialization; at 100 TB
    a real format prunes to changed FILES first, this keeps the
    same contract at snapshot granularity.

    Raises ``KeyError`` when either version is not a committed
    snapshot (pruning keeps ``keep_snapshots`` — callers that want
    long diffs must retain accordingly)."""
    old_path, new_path = _snapshot_paths(
        spark, table_root, [from_version, to_version]
    )
    old = spark.read.parquet(old_path)
    new = spark.read.parquet(new_path)
    val_cols = [c for c in new.columns if c not in key_cols]
    # Contract checks, not silent coercion: a key-only table would
    # build an empty struct (opaque analyzer error), and a schema-
    # evolved old snapshot would fail with an unresolved-column error
    # deep in the join. Diffing across schema evolution needs a policy
    # decision (null-fill vs common-columns); callers must make it
    # explicitly, so we raise with the actual column sets.
    if not val_cols:
        raise ValueError(
            f"snapshot_changes needs >=1 non-key column to diff; "
            f"table columns {new.columns} are all keys {key_cols}"
        )
    if set(old.columns) != set(new.columns):
        raise ValueError(
            "snapshot schemas differ between versions "
            f"{from_version} ({sorted(old.columns)}) and "
            f"{to_version} ({sorted(new.columns)}); align schemas "
            "(or project to common columns) before diffing"
        )
    o = old.select(
        *key_cols, F.struct(*val_cols).alias("_old"), F.lit(True).alias("_in_old")
    )
    n = new.select(
        *key_cols, F.struct(*val_cols).alias("_new"), F.lit(True).alias("_in_new")
    )
    j = o.join(n, key_cols, "full_outer")
    change = (
        F.when(F.col("_in_old").isNull(), F.lit("insert"))
        .when(F.col("_in_new").isNull(), F.lit("delete"))
        .when(F.col("_old") != F.col("_new"), F.lit("update_postimage"))
    )
    img = F.when(F.col("_in_new").isNull(), F.col("_old")).otherwise(
        F.col("_new")
    )
    return (
        j.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(
            "change_type",
            *key_cols,
            *[img.getField(c).alias(c) for c in val_cols],
        )
    )
