"""Tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded from the benchmark's side of each layer boundary:
one span per op, with child spans for the registry call (``build``),
the final action, each sink call the pipeline makes and each stream
micro-batch. All spans of an op share its op id. They are kept in
memory and written out once, when the run ends.

Per-op counters come from Spark's own status stores, read after the
listener bus has drained, so they work with the UI disabled:

- jobs, stages, tasks and task-time totals from the core status store;
- Python-worker boot/init/run times from the SQL status store;
- query-planning phases from the final action's QueryExecution tracker;
- micro-batch phases from a ``StreamingQueryListener``.

Stream queries run their jobs on the stream's own thread, under the
stream's job group, not the op's. A job is therefore attributed to an
op if it carries the op's job group OR was submitted inside the op's
time window (:func:`attribute_jobs`); with one client in a closed loop
nothing else submits jobs during an op.
"""

from __future__ import annotations

import datetime as dt
import os
import re
import time
from contextlib import contextmanager

#: Per-layer metrics of one op, in the order they are reported.
LAYER_KEYS = (
    "registry.build_s",
    "registry.build_jobs",
    "spark.action_s",
    "spark.catalyst_s",
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.gc_s",
    "spark.shuffle_read_mb",
    "spark.shuffle_write_mb",
    "spark.spill_mb",
    "sinks.write_partitioned_s",
    "sinks.upsert_s",
    "sinks.report_s",
    "sinks.files_written",
    "sinks.bytes_written",
    "operators.python_boot_s",
    "operators.python_init_s",
    "operators.python_run_s",
    "storage.checkpoints",
    "streaming.batches",
    "streaming.trigger_s",
    "streaming.add_batch_s",
    "streaming.commit_s",
    "streaming.planning_s",
    "streaming.idle_s",
)

#: pipeline-module sink functions and the layer metric each one feeds.
SINKS = {
    "write_partitioned": "sinks.write_partitioned_s",
    "upsert_parquet": "sinks.upsert_s",
    "append_report": "sinks.report_s",
}

#: SQL metric names of Python exec nodes (MapInPandas and kin).
PYTHON_METRICS = {
    "time to start Python workers": "operators.python_boot_s",
    "time to initialize Python workers": "operators.python_init_s",
    "time to run Python workers": "operators.python_run_s",
}

_MB = 1024.0 * 1024.0
_DURATION = re.compile(r"([\d.,]+)\s*(ms|s|m|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def attribute_jobs(jobs, op_id: str, t0_ms: float, t1_ms: float) -> list[int]:
    """Ids of the jobs that belong to an op.

    ``jobs``: iterable of ``(job_id, job_group or None, submitted_ms)``.
    A job belongs to the op if it carries the op's job group, or if it
    was submitted within ``[t0_ms, t1_ms]`` — the path by which jobs of
    stream queries (run under the stream's own group) are counted."""
    return [
        jid
        for jid, group, submitted in jobs
        if group == op_id or (submitted is not None and t0_ms <= submitted <= t1_ms)
    ]


def duration_s(formatted: str) -> float:
    """Total of a formatted SQL timing metric (``"1.2 s"``, or the
    ``"total (min, med, max ...)\\n1.2 s (...)"`` summary form)."""
    text = formatted.split("\n", 1)[-1]
    m = _DURATION.search(text)
    if m is None:
        raise ValueError(f"unparsed SQL timing metric {formatted!r}")
    return float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)]


class Tracer:
    """Records spans and per-op layer metrics for one run."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.spans: list[dict] = []
        self.skipped_stages = 0
        self.unparsed_metrics: list[str] = []
        self._stack: list[dict] = []
        self._progress: list[tuple[dict, str]] = []
        self._checkpoints = 0
        self._sink_s: dict[str, float] = {}
        self._drain()
        self._next_job = self._scan_jobs(0)[1]
        self._next_exec = self._scan_execs(0)[1]
        self._install()

    # ------------------------------------------------------------ hooks

    def _install(self) -> None:
        from pyspark.sql.streaming.listener import StreamingQueryListener

        import echem_dft_etl_spark.pipeline as pipeline

        progress = self._progress

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                return None

            def onQueryProgress(self, event):
                p = event.progress
                progress.append((dict(p.durationMs), p.timestamp))

            def onQueryIdle(self, event):
                return None

            def onQueryTerminated(self, event):
                return None

        self.spark.streams.addListener(_Progress())

        for fn_name, key in SINKS.items():
            setattr(pipeline, fn_name, self._timed_sink(getattr(pipeline, fn_name), key))

        # Persistent RDDs are created through these methods of the
        # session's concrete DataFrame class.
        frame_cls = type(self.spark.range(0))
        for meth in ("localCheckpoint", "checkpoint", "persist", "cache"):
            setattr(frame_cls, meth, self._counted(getattr(frame_cls, meth)))

    def _timed_sink(self, fn, key: str):
        def wrapper(*args, **kwargs):
            with self.span(f"sink.{fn.__name__}"):
                t0 = time.perf_counter()
                try:
                    return fn(*args, **kwargs)
                finally:
                    self._sink_s[key] = self._sink_s.get(key, 0.0) + (
                        time.perf_counter() - t0
                    )

        return wrapper

    def _counted(self, meth):
        def wrapper(*args, **kwargs):
            self._checkpoints += 1
            return meth(*args, **kwargs)

        return wrapper

    # ------------------------------------------------------------ spans

    @contextmanager
    def span(self, name: str, op_id: str | None = None):
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "op": op_id if op_id is not None else (parent["op"] if parent else None),
            "name": name,
            "t0": time.time(),
            "t1": None,
        }
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["t1"] = time.time()
            self._stack.pop()

    @contextmanager
    def op(self, op_id: str, name: str):
        """Span of one op; yields a dict the caller fills with ``df``
        (the frame of the final action) and ``build_t1``."""
        self.sc.setJobGroup(op_id, name)
        self._checkpoints = 0
        self._sink_s = {}
        t_progress = len(self._progress)
        rec: dict = {}
        with self.span(name, op_id) as s:
            yield rec
        rec["metrics"] = self._op_metrics(s, rec, t_progress)

    # ------------------------------------------------------------ counters

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def _scan_jobs(self, start: int):
        """Job records (id, group, submitted_ms) from ``start`` upward,
        and the next unseen id. Job ids are consecutive."""
        from py4j.protocol import Py4JJavaError

        out, k = [], start
        while True:
            try:
                j = self._store.job(k)
            except Py4JJavaError:
                return out, k
            group = j.jobGroup()
            sub = j.submissionTime()
            out.append(
                (
                    k,
                    group.get() if group.isDefined() else None,
                    sub.get().getTime() if sub.isDefined() else None,
                    j.stageIds().mkString(","),
                )
            )
            k += 1

    def _scan_execs(self, start: int):
        """SQL executions (id, record) with id >= ``start``, and the next
        unseen id. Ids have gaps (a QueryExecution that never runs still
        takes one), so the store's list is read newest first instead of
        probing consecutive ids."""
        execs = self._sql.executionsList()
        out = []
        for i in range(execs.size() - 1, -1, -1):
            e = execs.apply(i)
            k = e.executionId()
            if k < start:
                break
            out.append((k, e))
        out.reverse()
        return out, (out[-1][0] + 1 if out else start)

    def _stage_totals(self, stage_ids: set[int]) -> dict:
        from py4j.protocol import Py4JJavaError

        t = dict.fromkeys(
            ("stages", "tasks", "run_ms", "cpu_ns", "gc_ms", "sr", "sw", "spill"), 0
        )
        for sid in sorted(stage_ids):
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:
                self.skipped_stages += 1
                continue
            if st.status().toString() == "SKIPPED":
                self.skipped_stages += 1
                continue
            t["stages"] += 1
            t["tasks"] += st.numTasks()
            t["run_ms"] += st.executorRunTime()
            t["cpu_ns"] += st.executorCpuTime()
            t["gc_ms"] += st.jvmGcTime()
            t["sr"] += st.shuffleReadBytes()
            t["sw"] += st.shuffleWriteBytes()
            t["spill"] += st.diskBytesSpilled()
        return t

    def _python_times(self, execs) -> dict:
        out = dict.fromkeys(PYTHON_METRICS.values(), 0.0)
        for k, e in execs:
            plan = e.physicalPlanDescription()
            if "Python" not in plan and "Pandas" not in plan and "Arrow" not in plan:
                continue
            values = {}
            for item in self._sql.executionMetrics(k).mkString("\x01").split("\x01"):
                acc, _, val = item.partition(" -> ")
                values[acc] = val
            nodes = self._sql.planGraph(k).allNodes()
            it = nodes.iterator()
            while it.hasNext():
                mit = it.next().metrics().iterator()
                while mit.hasNext():
                    m = mit.next()
                    key = PYTHON_METRICS.get(m.name())
                    val = values.get(str(m.accumulatorId()))
                    if key is None or val is None:
                        continue
                    try:
                        out[key] += duration_s(val)
                    except ValueError as exc:
                        self.unparsed_metrics.append(str(exc))
        return out

    def _streaming(self, s: dict, t_progress: int, build_s: float) -> dict:
        batches = self._progress[t_progress:]
        d = {
            "streaming.batches": len(batches),
            "streaming.trigger_s": 0.0,
            "streaming.add_batch_s": 0.0,
            "streaming.commit_s": 0.0,
            "streaming.planning_s": 0.0,
        }
        for ms, ts in batches:
            trig = ms.get("triggerExecution", 0) / 1e3
            d["streaming.trigger_s"] += trig
            d["streaming.add_batch_s"] += ms.get("addBatch", 0) / 1e3
            d["streaming.commit_s"] += (
                ms.get("walCommit", 0) + ms.get("commitOffsets", 0)
            ) / 1e3
            d["streaming.planning_s"] += ms.get("queryPlanning", 0) / 1e3
            start = dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()
            self.spans.append(
                {
                    "id": len(self.spans),
                    "parent": s["id"],
                    "op": s["op"],
                    "name": "stream.batch",
                    "t0": start,
                    "t1": start + trig,
                }
            )
        # Streams run inside the registry call: the part of it outside
        # any trigger is runner overhead (start-up, waiting for
        # termination, the drain watch).
        d["streaming.idle_s"] = build_s - d["streaming.trigger_s"] if batches else 0.0
        return d

    def _op_metrics(self, s: dict, rec: dict, t_progress: int) -> dict:
        self._drain()
        jobs, self._next_job = self._scan_jobs(self._next_job)
        execs, self._next_exec = self._scan_execs(self._next_exec)
        t0_ms, t1_ms = s["t0"] * 1e3, s["t1"] * 1e3
        mine = set(attribute_jobs([j[:3] for j in jobs], s["op"], t0_ms, t1_ms))
        build_t1_ms = rec.get("build_t1", s["t1"]) * 1e3
        build_jobs = {
            j[0] for j in jobs if j[2] is not None and t0_ms <= j[2] <= build_t1_ms
        }
        stage_ids = {
            int(x) for j in jobs if j[0] in mine for x in j[3].split(",") if x
        }
        st = self._stage_totals(stage_ids)
        op_wall = s["t1"] - s["t0"]
        build_t1 = rec.get("build_t1", s["t1"])
        for name, a, b in (("build", s["t0"], build_t1), ("action", build_t1, s["t1"])):
            self.spans.append(
                {"id": len(self.spans), "parent": s["id"], "op": s["op"],
                 "name": name, "t0": a, "t1": b}
            )
        build_s = build_t1 - s["t0"]
        action_s = op_wall - build_s
        m = {
            "registry.build_s": build_s,
            "registry.build_jobs": len(build_jobs & mine),
            "spark.action_s": action_s,
            "spark.catalyst_s": self._catalyst_s(rec.get("df")),
            "spark.jobs": len(mine),
            "spark.stages": st["stages"],
            "spark.tasks": st["tasks"],
            "spark.executor_run_s": st["run_ms"] / 1e3,
            "spark.executor_cpu_s": st["cpu_ns"] / 1e9,
            "spark.gc_s": st["gc_ms"] / 1e3,
            "spark.shuffle_read_mb": st["sr"] / _MB,
            "spark.shuffle_write_mb": st["sw"] / _MB,
            "spark.spill_mb": st["spill"] / _MB,
            "storage.checkpoints": self._checkpoints,
            "op_wall_s": op_wall,
        }
        for key in SINKS.values():
            m[key] = self._sink_s.get(key, 0.0)
        files, nbytes = written_since(rec.get("out_dir"), s["t0"])
        m["sinks.files_written"] = files
        m["sinks.bytes_written"] = nbytes
        m.update(self._python_times(execs))
        m.update(self._streaming(s, t_progress, build_s))
        return m

    @staticmethod
    def _catalyst_s(df) -> float:
        """Analysis + optimization + planning time of the final action."""
        if df is None:
            return 0.0
        phases = df._jdf.queryExecution().tracker().phases()
        total, it = 0, phases.values().iterator()
        while it.hasNext():
            total += it.next().durationMs()
        return total / 1e3


def written_since(root, t0: float) -> tuple[int, int]:
    """Files under ``root`` modified at or after ``t0``, and their bytes."""
    if root is None:
        return 0, 0
    files = nbytes = 0
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            st = os.stat(os.path.join(dirpath, n))
            if st.st_mtime >= t0:
                files += 1
                nbytes += st.st_size
    return files, nbytes
