"""Custom Python data source for solver output files (S2, the `.out`
text family the reference consumes at my_dag.py:152-158).

``spark.read.text`` + ``input_file_name()`` (the q05 path) treats the
solver corpus as opaque lines. This module instead exposes it through
the Spark 4 **Python Data Source API** (`pyspark.sql.datasource`) — a
real connector with the three capabilities a production source needs at
scale:

- **Partition planning**: one ``InputPartition`` per ``.out`` file, so
  a 10 M-file corpus fans out across the cluster with per-file task
  granularity (and locality metadata could ride on the partition
  value).
- **Filter pushdown** (``pushFilters``, Spark ≥ 4.1): equality / IN /
  range predicates on ``run_id`` are consumed by the connector and
  applied to the FILE LISTING — pruned files are never opened, the
  exact mechanism (scan I/O proportional to the predicate, not the
  corpus) that parquet gets from row-group stats, re-created for a
  directory-of-text-files layout.
- **Typed projection**: the connector emits ``(run_id, line_no,
  value)`` rows — ``run_id`` is the file name without ``.out``,
  ``line_no`` counts from 0 — so downstream operators never re-derive
  file identity from paths. The batch reader ships each file as one
  Arrow RecordBatch. ``operators/echem.py::parse_fillings_lines`` turns
  these rows into the solver metrics.

A streaming twin (:func:`make_solver_out_stream_datasource`) reads the
same corpus as a file-drop stream; both readers share one sorted
listing and one file read (:func:`_corpus_io`).

The classes are built by FACTORIES (closure-defined) rather than at
module level: Spark pickles the reader to executor workers, and a
module-level class or function would serialize by reference —
importable only if every worker has the repo on PYTHONPATH. The
closure-defined classes and helpers serialize by value (cloudpickle),
making the connector self-contained exactly like the engine's other
executor-side closures.

Registration is per-session and idempotent:
``spark.dataSource.register(make_solver_out_datasource())``.
"""

from __future__ import annotations


FORMAT_NAME = "solverout"
SCHEMA = "run_id string, line_no int, value string"
#: The solver-output file suffix; a run's id is its file name without it.
SUFFIX = ".out"


def _corpus_io():
    """``(runs, read_lines)``, the listing and the file read both
    readers use. Built per call, like the reader classes, so they
    pickle by value with them (see module docstring)."""
    import os

    def runs(path: str) -> list[tuple[str, str]]:
        """[(run_id, file path)] of the ``.out`` files under ``path``,
        sorted by file name."""
        return [
            (n[: -len(SUFFIX)], os.path.join(path, n))
            for n in sorted(os.listdir(path))
            if n.endswith(SUFFIX)
        ]

    def read_lines(path: str) -> list[str]:
        """The lines of one file, without their newlines."""
        with open(path, "r", encoding="utf-8") as fh:
            lines = fh.read().split("\n")
        if lines and lines[-1] == "":  # trailing newline
            lines.pop()
        return lines

    return runs, read_lines


def make_solver_out_datasource():
    """Build the connector class (closure-defined so it pickles by
    value to executor workers — see module docstring)."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        In,
        InputPartition,
        IsNotNull,
        LessThan,
        LessThanOrEqual,
    )

    runs, read_lines = _corpus_io()

    class SolverOutReader(DataSourceReader):
        """One partition per file; run_id predicates prune the listing."""

        def __init__(self, options):
            self.path = options.get("path")
            if not self.path:
                raise ValueError("solverout source requires option 'path'")
            # run_id predicates consumed by pushFilters; applied to the
            # file listing in partitions().
            self._pushed = []

        # -- pushdown ------------------------------------------------
        def pushFilters(self, filters):
            supported = (
                EqualTo,
                In,
                LessThan,
                LessThanOrEqual,
                GreaterThan,
                GreaterThanOrEqual,
                IsNotNull,
            )
            for f in filters:
                col = getattr(f, "attribute", None)
                if isinstance(f, supported) and col == ("run_id",):
                    self._pushed.append(f)
                else:
                    # unsupported (or non-run_id): Spark evaluates it
                    yield f

        def _keep(self, run_id: str) -> bool:
            for f in self._pushed:
                if isinstance(f, EqualTo) and run_id != f.value:
                    return False
                if isinstance(f, In) and run_id not in f.value:
                    return False
                if isinstance(f, LessThan) and not run_id < f.value:
                    return False
                if isinstance(f, LessThanOrEqual) and not run_id <= f.value:
                    return False
                if isinstance(f, GreaterThan) and not run_id > f.value:
                    return False
                if isinstance(f, GreaterThanOrEqual) and not run_id >= f.value:
                    return False
                # IsNotNull: file-derived run_ids are never null
            return True

        # -- planning ------------------------------------------------
        def partitions(self):
            parts = [
                InputPartition(run) for run in runs(self.path) if self._keep(run[0])
            ]
            # Spark requires >= 1 partition; an empty listing yields an
            # empty sentinel partition that read() skips.
            return parts or [InputPartition(None)]

        # -- execution -----------------------------------------------
        def read(self, partition):
            # One RecordBatch per file crosses the Python->JVM boundary
            # as columnar buffers instead of per-row pickled tuples —
            # the same ~10-100x batch-vs-row economics as pandas UDFs
            # vs plain UDFs.
            if partition.value is None:
                return
            import pyarrow as pa

            run_id, path = partition.value
            lines = read_lines(path)
            yield pa.record_batch(
                {
                    "run_id": pa.array([run_id] * len(lines), pa.string()),
                    "line_no": pa.array(range(len(lines)), pa.int32()),
                    "value": pa.array(lines, pa.string()),
                }
            )

    class SolverOutDataSource(DataSource):
        @classmethod
        def name(cls):
            return FORMAT_NAME

        def schema(self):
            return SCHEMA

        def reader(self, schema):
            return SolverOutReader(self.options)

    return SolverOutDataSource


# ---------------------------------------------------------------------
# Deterministic solver-output fixture (one .out file per nation)
# ---------------------------------------------------------------------


def solver_lines(nationkey: int) -> list[str]:
    """The file body for one run: ``(k % 3) + 2`` FillingsUpdate lines
    (so only the LAST one survives Q5/Q6 parsing) interleaved with
    solver noise, arithmetic chosen to be printf-replayable in the
    DuckDB oracle (cf. pipe_external_solver)."""
    k = int(nationkey)
    n_fill = (k % 3) + 2
    out: list[str] = [f"*************** JDFTx run {k} ***************"]
    for i in range(n_fill):
        out.append(f"IonicMinimize: Iter {i}: step 0.{i}")
        mu = -0.2 + 0.01 * (k + i)
        ne = float(250 + k + 2 * i)
        out.append(f"FillingsUpdate:  mu: {mu:.6f}  nElectrons: {ne:.3f}")
    out.append("End date and time: deterministic")
    return out


def build_solver_out_fixture(spark, sf_dir: str) -> str:
    """Write-once fixture: ``<n_name>.out`` per nation under the shared
    tmp root, built from the executors (mapInPandas — no driver
    collect), promoted atomically with a ``_SUCCESS`` marker; vintage
    key = nation.parquet (size, mtime), mirroring the multimodal
    payload fixtures."""
    import os
    import shutil
    import tempfile
    from pathlib import Path

    import pandas as pd

    from .tables import load_table

    src = Path(sf_dir) / "nation.parquet"
    st = src.stat()
    root = Path(os.environ.get("SPARK_GRAFT_SHARED_TMP", tempfile.gettempdir()))
    base = root / (
        f"echem_solver_out_{Path(sf_dir).name}_{st.st_size}_{st.st_mtime_ns}"
    )
    if (base / "_SUCCESS").exists():
        return str(base)
    if base.exists():  # crashed prior build: discard and rebuild
        shutil.rmtree(base, ignore_errors=True)
    staging = Path(tempfile.mkdtemp(prefix="echem_solver_out_staging_", dir=root))

    gen_lines = solver_lines  # bind for closure pickling

    def write_files(batches):
        for pdf in batches:
            for name, key in zip(pdf["n_name"], pdf["n_nationkey"]):
                body = "\n".join(gen_lines(int(key))) + "\n"
                with open(staging / f"{name}.out", "w", encoding="utf-8") as f:
                    f.write(body)
            yield pd.DataFrame({"n": [len(pdf)]})

    nation = load_table(spark, sf_dir, "nation").select("n_name", "n_nationkey")
    nation.mapInPandas(write_files, "n bigint").write.format("noop").mode(
        "overwrite"
    ).save()
    try:
        os.rename(staging, base)
        (base / "_SUCCESS").touch()
    except OSError:  # concurrent builder promoted first; use theirs
        shutil.rmtree(staging, ignore_errors=True)
    return str(base)


def make_solver_out_stream_datasource():
    """Streaming variant of the connector: the same file corpus
    consumed as a Structured Streaming SOURCE via
    ``SimpleDataSourceStreamReader`` — the file-drop-directory shape
    (solver runs appearing over time) with exactly-once micro-batch
    semantics.

    Offsets are ``{"files_done": n}`` over the SORTED listing: each
    ``read`` ingests the next ``batch_files`` files and advances the
    offset; ``readBetweenOffsets`` replays any committed range
    deterministically (failure recovery re-reads the exact slice).
    Contract: the directory must be append-only with sort-stable names
    (time-ordered prefixes in production; the fixture's fixed 25 names
    trivially qualify) — the same monotonicity every offset-addressed
    log source (Kafka, file source) assumes. Returned as a SEPARATE
    class from the batch connector so each pickles only what it uses;
    both register under their own format name.
    """
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    runs, read_lines = _corpus_io()

    class SolverOutStreamReader(SimpleDataSourceStreamReader):
        def __init__(self, options):
            self.path = options.get("path")
            if not self.path:
                raise ValueError("solverout_stream requires option 'path'")
            self.batch_files = int(options.get("batch_files", "5"))

        @staticmethod
        def _rows(listed):
            for run_id, path in listed:
                for i, line in enumerate(read_lines(path)):
                    yield (run_id, i, line)

        def initialOffset(self):
            return {"files_done": 0}

        def read(self, start):
            done = int(start["files_done"])
            take = runs(self.path)[done : done + self.batch_files]
            # a materialized list_iterator, not a generator: the
            # simple-reader prefetch cache copy.copy()s the returned
            # iterator (generators are uncopyable) and later next()s
            # it (bare lists fail). batch_files therefore bounds
            # DRIVER memory per micro-batch — the documented trade of
            # the Simple API (the partition-planning stream API is the
            # executor-side alternative once batches outgrow the
            # driver).
            return iter(list(self._rows(take))), {"files_done": done + len(take)}

        def readBetweenOffsets(self, start, end):
            return self._rows(
                runs(self.path)[int(start["files_done"]) : int(end["files_done"])]
            )

        def commit(self, end):
            pass  # offsets live in the checkpoint; nothing source-side

    class SolverOutStreamDataSource(DataSource):
        @classmethod
        def name(cls):
            return "solverout_stream"

        def schema(self):
            return SCHEMA

        def simpleStreamReader(self, schema):
            return SolverOutStreamReader(self.options)

    return SolverOutStreamDataSource
