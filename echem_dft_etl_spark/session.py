"""SparkSession factory with scale-oriented defaults.

The engine targets large clusters (the design point is ~100 TB on ~1000
executors); tests run on ``local[N]``. The session config is therefore
expressed as *ratios and toggles* that hold at any scale rather than
absolute sizes tuned to the laptop:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  broadcast-join demotion/promotion) so the same logical plans survive a
  100x scale-up without re-tuning.
- Arrow on for every Python<->JVM boundary (pandas UDFs, toPandas).
- Session timezone pinned to UTC so timestamp semantics are identical to
  the DuckDB oracle used by the correctness harness.
- Nested-schema pruning on so struct-heavy tables (the materials model,
  SURVEY.md §1.2) only read the accessed subfields off parquet.
- ``file://`` without child processes. A JVM without ``libhadoop``
  (Spark's own distributions ship none) runs Hadoop's local filesystem
  through ``chmod`` and ``readlink`` processes: one ``chmod`` per file
  created and per directory made, one ``readlink`` per FileContext
  status lookup (every streaming offset, commit and state-delta file).
  A warm ``run_reference_pipeline`` call spawned about 400 of them, a
  stateful ``x10_*`` stream 150-250. ``jvm/NioLocalFileSystem.java``
  overrides just those two calls with java.nio; checksums, permission
  bits and the checkpoint manager's atomic rename are Hadoop's own, and
  ``rename`` keeps the rule of the class it replaces (Hive's
  ``ProxyLocalFileSystem``: never over an existing file).
  It is wired in only for a local master (``local`` / ``local[...]``),
  where the driver JVM also runs every task; executors of any other
  master would not have the class. The source is compiled with Spark's
  bundled Janino, once per source hash, into ``jvm/build/<hash>/``
  (gitignored), so only the first session of a checkout pays for it
  (about a second). If it cannot be compiled, or the JVM was already
  launched without it, ``file://`` stays Hadoop's default.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import tempfile
import warnings
from pathlib import Path

from pyspark import SparkContext
from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

_JVM_DIR = Path(__file__).resolve().parent / "jvm"
_NIO_FS_SOURCE = _JVM_DIR / "NioLocalFileSystem.java"
_NIO_FS_CLASS = "echem_dft_etl_spark.jvm.NioLocalFileSystem"


def _spark_jar(jars: Path, prefix: str) -> str:
    """Path of the one ``<prefix><version>.jar`` in Spark's jars dir."""
    (jar,) = jars.glob(f"{prefix}[0-9]*.jar")
    return str(jar)


def nio_fs_classes() -> str | None:
    """Class directory of ``NioLocalFileSystem``, compiled on first use.

    The directory is named after the source's hash, so an edited source
    gets a fresh build and an unchanged one is never rebuilt. The build
    goes to a temporary directory that is renamed into place, so
    concurrent first sessions cannot see a half-written one. Returns
    None, with a warning, if the compile fails."""
    out = (
        _JVM_DIR / "build"
        / hashlib.sha256(_NIO_FS_SOURCE.read_bytes()).hexdigest()[:16]
    )
    if out.is_dir():
        return str(out)
    from pyspark.find_spark_home import _find_spark_home

    jars = Path(_find_spark_home()) / "jars"
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else "java"
    out.parent.mkdir(exist_ok=True)
    tmp = tempfile.mkdtemp(dir=out.parent, prefix=".tmp-")
    try:
        cmd = [
            java, "-XX:TieredStopAtLevel=1",
            "-cp", os.pathsep.join(
                _spark_jar(jars, p) for p in ("janino-", "commons-compiler-")
            ),
            "org.codehaus.commons.compiler.samples.CompilerDemo",
            "-classpath", os.pathsep.join(
                _spark_jar(jars, p) for p in ("hadoop-client-api-", "slf4j-api-")
            ),
            "-d", tmp, str(_NIO_FS_SOURCE),
        ]
        proc = subprocess.run(cmd, capture_output=True, text=True)
        if proc.returncode != 0:
            raise RuntimeError(proc.stderr.strip() or proc.stdout.strip())
        try:
            os.rename(tmp, out)
        except OSError:  # a concurrent session renamed its build first
            if not out.is_dir():
                raise
    except (OSError, RuntimeError, ValueError) as exc:
        warnings.warn(
            f"could not compile {_NIO_FS_SOURCE.name} ({exc}); "
            "file:// stays Hadoop's forking local filesystem",
            stacklevel=3,
        )
        return None
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return str(out)


def _nio_fs_conf(master: str) -> dict[str, str]:
    """Confs that route ``file://`` through ``NioLocalFileSystem``, or
    none: for a non-local master, or when this process's JVM is already
    running without the class on its classpath."""
    if master != "local" and not master.startswith("local["):
        return {}
    classes = nio_fs_classes()
    if classes is None:
        return {}
    jvm = SparkContext._jvm
    if jvm is not None and classes not in jvm.java.lang.System.getProperty(
        "java.class.path"
    ).split(os.pathsep):
        return {}
    return {
        "spark.driver.extraClassPath": classes,
        "spark.hadoop.fs.file.impl": _NIO_FS_CLASS,
        "spark.hadoop.fs.AbstractFileSystem.file.impl": f"{_NIO_FS_CLASS}$Fs",
    }


def get_session(
    app_name: str = "echem-dft-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, falling back
    to ``local[*]``) so tests and bench share one entry point; on a real
    cluster the caller passes its own master / lets spark-submit set it.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # AQE: coalesce post-shuffle partitions, split skewed ones, and
        # switch join strategies at runtime — the knobs that make one
        # logical plan work from sf0.001 to 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # NOTE (r13): the r12 session set
        # spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold=64m
        # (AQE SMJ→SHJ runtime conversion) on a 3-query interleaved
        # win. The r13 suite-wide validation (VERDICT r12 item 2)
        # REMOVED it: a full-registry interleaved A/B (246 queries × 2
        # samples/arm, plans/r13/ab_shj_suite.json) measured 64m-vs-0
        # flat (sum-of-mins ratio 0.987, median 0.990 — the r12 wins
        # were host noise), and post-AQE FINAL plans captured for the
        # motivating queries (x05_pagerank, d16_semdedup,
        # d25_entity_resolution, plus d29/d14/s15/bfs;
        # plans/r13/*_final_shj*.txt, isFinalPlan=true) contain ZERO
        # ShuffledHashJoin under 64m and even under a 1g threshold —
        # the conversion never fires in this deployment, so the conf
        # was a placebo. Spark's default (0 = never) returns.
        # Runtime Bloom-filter join pruning (off by default in Spark):
        # for selective joins the build side's keys prune the probe-side
        # scan before the shuffle. The size thresholds (scan >= 10 GB)
        # keep it dormant on test-scale data and make it kick in exactly
        # where it pays — the 100 TB fact-table joins.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        # The corpus stores TIMESTAMP(NANOS) (events.ts); Spark has no
        # nanosecond timestamp type, so read nanos as int64 and let the
        # source layer truncate to microseconds (matching how
        # microsecond-native engines, incl. the DuckDB oracle, read it).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Keep driver results bounded; operators never collect big data.
        .config("spark.driver.maxResultSize", "2g")
        # In local mode the driver JVM IS the executor; Spark's 1g
        # default heap starves 32 task threads (observed: GCLocker
        # retry OOMs on scale probes). Only effective before the JVM
        # launches — an externally created session keeps its own value.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"),
        )
        .config("spark.ui.enabled", "false")
    )
    conf = _nio_fs_conf(master)
    for k, v in (extra_conf or {}).items():
        if k == "spark.driver.extraClassPath" and k in conf:
            v = os.pathsep.join((conf[k], v))
        conf[k] = v
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
