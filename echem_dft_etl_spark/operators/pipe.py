"""External-process map stage (SURVEY §4 custom-work item 2).

The reference shells out to the ``jdftx`` solver with a 3-hour timeout
(``subprocess.run(f"jdftx -i {f}.in | tee {f}.out", shell=True)``,
``my_dag.py:135``, timeout ``my_dag.py:114``). The Spark-native
generalization is a partition-parallel pipe: each partition streams its
rows to a child process's stdin and reads its stdout back as rows —
``N`` concurrent solver instances for ``N`` partitions, scheduled and
retried by Spark instead of Airflow.

Implemented as Spark SQL's script transform (``SELECT TRANSFORM ...
USING``): the executor JVM starts the child and converts rows on both
sides (plan node ``SparkScriptTransformation``), so the stage needs no
Hive and no Python worker. The child runs once per partition, so the
partition count is the latency/throughput knob.
"""

from __future__ import annotations

import shlex

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import echem

#: Seconds each child may run (coreutils ``timeout``); the reference's
#: ``execution_timeout`` role, sized for the stand-in solver.
CALL_TIMEOUT_S = 60

#: Runs in the child (``/bin/bash -c``): buffer the partition's rows, run
#: the command on them under the time limit, and pass its stdout on only
#: when it holds one line per row. An empty partition runs nothing.
_GUARD = """d=$(mktemp -d) || exit 1; trap 'rm -rf "$d"' EXIT; trap 'exit 143' TERM
cat > "$d/in"; n=$(awk 'END { print NR }' "$d/in"); [ "$n" -eq 0 ] && exit 0
timeout %(timeout)d %(cmd)s < "$d/in" > "$d/out" || {
  rc=$?; printf 'pipe command %%s failed (rc=%%d)\\n' %(name)s $rc >&2; exit $rc; }
m=$(awk 'END { print NR }' "$d/out"); [ "$m" -eq "$n" ] || {
  printf 'pipe command %%s returned %%d lines for a batch of %%d rows\\n' \\
    %(name)s $m $n >&2; exit 3; }
cat "$d/out"
"""

_ROW_FORMAT = "ROW FORMAT DELIMITED FIELDS TERMINATED BY '\\t'"


def _sql_literal(text: str) -> str:
    """``text`` as a SQL string literal in a ``spark.sql`` format string."""
    escaped = text.replace("\\", "\\\\").replace("'", "\\'")
    return "'" + escaped.replace("{", "{{").replace("}", "}}") + "'"


def _no_breaks(c: str, t: str) -> Column:
    """Column ``c``; a string holding a tab or a line break, which would
    split its row on the wire, fails the query."""
    col = F.col(c)
    if t != "string":
        return col
    bad = F.concat(F.lit(f"{c} "), col, F.lit(" holds a tab or a newline"))
    return F.when(col.rlike("[\\t\\n\\r]"), F.raise_error(bad)).otherwise(col).alias(c)


def pipe_map(df: DataFrame, command: list[str], output_schema: str) -> DataFrame:
    """Run each partition's rows through an external command.

    Rows cross the pipe tab-delimited, one line per row, in ``df``'s
    column order; the child answers one tab-delimited line per input
    row, read back as ``output_schema`` (``"name type, ..."``). A child
    that fails, overruns :data:`CALL_TIMEOUT_S` or answers with another
    line count fails the task with the reason in the message instead of
    silently dropping or inventing rows — Spark's retry machinery then
    re-schedules, replacing the reference's Airflow-level retry handling.
    """
    script = _GUARD % {
        "timeout": CALL_TIMEOUT_S,
        "cmd": shlex.join(command),
        "name": shlex.quote(command[0]),
    }
    cols = ", ".join(f"`{c}`" for c in df.columns)
    return df.sparkSession.sql(
        f"SELECT TRANSFORM({cols}) {_ROW_FORMAT} USING {_sql_literal(script)}"
        f" AS ({output_schema}) {_ROW_FORMAT} FROM {{df}}",
        df=df.select(*[_no_breaks(c, t) for c, t in df.dtypes]),
    )


def pipe_solver_stub(runs: DataFrame) -> DataFrame:
    """The jdftx stage with a stand-in solver (awk) — the full rows →
    child process → rows loop with real processes.

    Input: (run_id string, charge double). The stub 'solver' computes a
    fake chemical potential mu = -0.2 + 0.05*charge per run, emitted in
    the reference's 'FillingsUpdate: mu: ... nElectrons: ...' line
    format (cf. output/gc_dft/*.out), which
    :func:`echem.parse_fillings` turns into (run_id, mu, ne).
    """
    awk = (
        '{ printf "%s\\tFillingsUpdate:  mu: %.6f  nElectrons: %.3f\\n",'
        " $1, -0.2 + 0.05 * $2, 250 + 10 * $2 }"
    )
    solved = pipe_map(runs, ["awk", "-F\\t", awk], "run_id string, fillings string")
    return echem.parse_fillings(solved)
