"""Declarative parquet sources for the test corpus.

The reference pipeline's sources are a remote API queried with pushed
predicates (``my_dag.py:28-29``, ``:69-70``). The Spark-native equivalent
is a parquet scan whose filters/projections Catalyst pushes into the
reader — callers express scans declaratively (``load_table(...).filter``)
and the optimizer produces ``PushedFilters`` / pruned ``ReadSchema``
automatically (verified in tests/test_plans.py).

Schema-on-read costs a footer-reading Spark job per read. The corpus
files do not change within a session, so :func:`parquet_schema` infers
each file's schema once and every later read of it (``load_table``, the
stream replays) passes the schema and plans without a job.

At the 100 TB design point each "table" would be a partitioned parquet
dataset (or an Iceberg/Delta table); a single ``spark.read.parquet`` on
the root directory keeps that swap a one-liner.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType

#: The driver-generated corpus (TESTDATA.md): TPC-H-ish star schema plus
#: event-stream / document / embedding tables.
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


_PACKAGE_ZIP: str | None = None


def _package_zip() -> str:
    """Zip this package's sources (content-addressed; hashed once per
    process — sources cannot change mid-run)."""
    global _PACKAGE_ZIP
    if _PACKAGE_ZIP is not None:
        return _PACKAGE_ZIP
    pkg_dir = Path(__file__).resolve().parent.parent
    files = sorted(pkg_dir.rglob("*.py"))
    digest = hashlib.md5()
    for f in files:
        digest.update(str(f.relative_to(pkg_dir)).encode())
        digest.update(f.read_bytes())
    out = Path(tempfile.gettempdir()) / f"echem_pkg_{digest.hexdigest()[:12]}.zip"
    if not out.exists():
        # per-process unique temp name: concurrent builders (parallel
        # pytest/bench drivers) each write their own file, and the
        # rename publishes an always-complete archive under the
        # content-addressed name
        fd, tmp = tempfile.mkstemp(suffix=".zip", dir=out.parent)
        os.close(fd)
        with zipfile.ZipFile(tmp, "w") as z:
            for f in files:
                z.write(f, arcname=f"{pkg_dir.name}/{f.relative_to(pkg_dir)}")
        Path(tmp).replace(out)
    _PACKAGE_ZIP = str(out)
    return _PACKAGE_ZIP


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    UDF closures that call module-level helpers (the multimodal
    decoders, pipe parsers, pandas kernels) are cloudpickled BY
    REFERENCE — workers re-import ``echem_dft_etl_spark``. The driver
    process found the package through sys.path manipulation in
    ``__spark_entry__``, but executors inherit neither the driver's
    sys.path nor its cwd, so under an externally-launched session the
    import fails on the worker. ``addPyFile`` of the package zip is the
    supported fix: Spark distributes it and prepends it to every
    worker's sys.path. Content-addressed name → re-adding after a code
    change is a fresh file, re-adding the same build is a no-op.
    """
    sc = spark.sparkContext
    path = _package_zip()
    shipped = getattr(sc, "_echem_shipped", None)
    if shipped != path:
        sc.addPyFile(path)
        sc._echem_shipped = path


def prepare_session(spark: SparkSession) -> SparkSession:
    """Pin the runtime confs the engine's semantics depend on.

    Idempotent and cheap; called from every loader so the engine behaves
    identically under an externally-created (vanilla) SparkSession — the
    driver contract hands us its own session, not ours.
    """
    # Timestamps must compare equal to microsecond-native naive readers.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # events.ts is parquet TIMESTAMP(NANOS); Spark must not refuse it.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # UDF closures referencing package modules must import on workers.
    _ship_package(spark)
    return spark


#: Parquet reader confs that change the types schema inference yields.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema Spark infers for one parquet file, inferred once per
    SparkContext and file version.

    Inference reads the file's footer in a Spark job of its own (about
    70 ms of wall time on a warm local[4] session on a 4-CPU host); a
    read given the schema plans with no job. The result is cached on
    the SparkContext, one entry per real path, under the file's length
    and modification time and the values of the reader confs that
    change inferred types, so a rewritten file or a changed conf is
    inferred again. A path that is not a local regular file (missing, a
    directory, another filesystem) is inferred on every call and fails
    exactly where a plain ``spark.read.parquet`` does.
    """
    real = os.path.realpath(path)
    if not os.path.isfile(real):
        return spark.read.parquet(path).schema
    st = os.stat(real)
    version = (st.st_size, st.st_mtime_ns) + tuple(
        spark.conf.get(k) for k in _INFERENCE_CONFS
    )
    cache = spark.sparkContext.__dict__.setdefault("_echem_parquet_schemas", {})
    cached = cache.get(real)
    if cached is None or cached[0] != version:
        cached = cache[real] = (version, spark.read.parquet(path).schema)
    # a copy: StructType.add mutates, and the cached value is shared
    return StructType.fromJson(cached[1].jsonValue())


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one corpus table. Schema-on-read from the parquet footer,
    inferred once per file version (:func:`parquet_schema`)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    prepare_session(spark)
    path = f"{sf_dir}/{name}.parquet"
    schema = parquet_schema(spark, path)
    df = spark.read.schema(schema).parquet(path)
    if name == "events":
        ts_type = schema["ts"].dataType
        if isinstance(ts_type, LongType):
            # Parquet TIMESTAMP(NANOS) arrives as int64 nanos (see
            # session.py nanosAsLong); truncate to microseconds exactly
            # as microsecond-native readers (DuckDB, Spark µs) do.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, TimestampNTZType):
            # Parquet TIMESTAMP(µs, no tz) arrives as TIMESTAMP_NTZ.
            # Normalize to the session type (UTC-pinned, so the wall
            # clock is unchanged): watermarks/event-time ops accept only
            # TIMESTAMP, and it keeps one ts type across corpus vintages
            # (the fixture generator has shipped both encodings).
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every corpus table as a temp view for ``spark.sql``.

    Mirrors the reference's third-party SQL surface (direct SQL against
    ``dft_echem``, SURVEY.md §3 entry point 3): any SQL client of the
    session can query the same tables the DataFrame API sees.
    """
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
