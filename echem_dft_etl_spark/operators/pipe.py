"""External-process map stage (SURVEY §4 custom-work item 2).

The reference shells out to the ``jdftx`` solver with a 3-hour timeout
(``subprocess.run(f"jdftx -i {f}.in | tee {f}.out", shell=True)``,
``my_dag.py:135``, timeout ``my_dag.py:114``). The Spark-native
generalization is a partition-parallel pipe: each partition serializes
its rows to a subprocess's stdin and parses stdout back into rows —
``N`` concurrent solver instances for ``N`` partitions, scheduled and
retried by Spark instead of Airflow.

Implemented over ``mapInPandas`` (Arrow batches in/out, no per-row
Python overhead); per-invocation timeout mirrors the reference's
``execution_timeout``. The subprocess runs once per batch — batch size
(arrow maxRecordsPerBatch) is the latency/throughput knob.
"""

from __future__ import annotations

import subprocess
from typing import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame


def pipe_map(
    df: DataFrame,
    command: list[str],
    output_schema: str,
    serialize: Callable[[pd.DataFrame], str],
    parse: Callable[[str, pd.DataFrame], pd.DataFrame],
    timeout_s: float = 3 * 3600.0,
) -> DataFrame:
    """Run each Arrow batch through an external command.

    ``serialize`` renders a batch to the child's stdin text; ``parse``
    turns the child's stdout (plus the originating batch, for keys)
    into the output batch. The protocol is one output line per input
    row: a child that answers with another line count fails the task
    instead of silently dropping or inventing rows. Timeout kills the
    child and fails the task — Spark's retry/blacklist machinery then
    re-schedules, replacing the reference's Airflow-level retry
    handling.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            proc = subprocess.run(
                command,
                input=serialize(pdf),
                capture_output=True,
                text=True,
                timeout=timeout_s,
            )
            if proc.returncode != 0:
                raise RuntimeError(
                    f"pipe command {command!r} failed "
                    f"(rc={proc.returncode}): {proc.stderr[:500]}"
                )
            lines = proc.stdout.split("\n")
            n_out = len(lines) - (lines[-1] == "")
            if n_out != len(pdf):
                raise RuntimeError(
                    f"pipe command {command!r} returned {n_out} lines "
                    f"for a batch of {len(pdf)} rows"
                )
            yield parse(proc.stdout, pdf)

    return df.mapInPandas(run, output_schema)


def pipe_solver_stub(runs: DataFrame, timeout_s: float = 60.0) -> DataFrame:
    """The jdftx stage with a stand-in solver (awk) — demonstrates the
    full serialize → subprocess → parse loop with real processes.

    Input: (run_id string, charge double). The stub 'solver' computes a
    fake chemical potential mu = -0.2 + 0.05*charge per run, emitted in
    the reference's 'FillingsUpdate: mu: ... nElectrons: ...' line
    format (cf. output/gc_dft/*.out) so the downstream Q5/Q6 parser
    consumes it unchanged.

    Rows cross the pipe tab-delimited (``run_id<TAB>charge`` in,
    ``run_id<TAB>FillingsUpdate: ...`` out) so a run id may hold
    spaces; a run id with a tab or a newline is refused.
    """
    awk = (
        '{ printf "%s\\tFillingsUpdate:  mu: %.6f  nElectrons: %.3f\\n",'
        " $1, -0.2 + 0.05 * $2, 250 + 10 * $2 }"
    )

    def serialize(pdf: pd.DataFrame) -> str:
        lines = []
        for r in pdf.itertuples(index=False):
            if "\t" in r.run_id or "\n" in r.run_id:
                raise ValueError(f"run_id {r.run_id!r} holds a tab or a newline")
            lines.append(f"{r.run_id}\t{r.charge}\n")
        return "".join(lines)

    def parse(stdout: str, pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        for line in stdout.split("\n")[:-1]:
            run_id, fillings = line.split("\t", 1)
            parts = fillings.split()
            rows.append(
                {
                    "run_id": run_id,
                    "mu": float(parts[2]),
                    "ne": float(parts[4]),
                }
            )
        return pd.DataFrame(rows, columns=["run_id", "mu", "ne"])

    return pipe_map(
        runs,
        ["awk", "-F\t", awk],
        "run_id string, mu double, ne double",
        serialize,
        parse,
        timeout_s=timeout_s,
    )
