#!/usr/bin/env python3
"""Benchmark of the echem_dft_etl_spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One run measures one workload with one
client in a closed loop (the next op starts when the previous one has
finished) on ``local[4]``, in this one process:

1. set-up: JVM launch, ``session.get_session`` and one trivial action
   (``setup_s``); then, untimed, the op list and the oracle results;
2. warm-up: a fixed number of untimed rounds (passes over the op
   list, in list order; ``workloads.WARMUP_ROUNDS``);
3. measurement: whole rounds, each in a seeded order; as many as take
   about ``--seconds`` on the reference host (``workloads.REF_ROUND_S``),
   cut short only if they take 1.5 times that. Every op's output is checked.

The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics of a traced run with ``--trace 1``.
The line before it carries the host fingerprint. A record of every op
(and with ``--trace 1`` every span) goes to ``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from contextlib import nullcontext
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DATA_DIR = HERE / "data" / "sf0.001"
SF = 0.001
#: Scratch for Spark, Python temp files and pipeline output; emptied per run.
WORK = HERE / ".work"
#: Run records and traces.
OUT = HERE / "out"
CORES = 4
#: Driver heap, fixed and pre-touched (-Xms, AlwaysPreTouch). The engine's
#: 24g default exceeds the RAM of small hosts. With a heap that grows on
#: demand, or one that is touched lazily, ops ran 25-50 % slower and
#: their times spread more (page faults and GC while the heap grows).
#: Because the whole heap is resident from the start, peak_rss_mb cannot
#: show heap use; the traced run's jvm.heap_live_mb does.
DRIVER_MEMORY = "2g"
#: JIT: the C1 compiler only. With C2 as well, compilation went on for
#: the whole minute of a run: op times kept falling for 20 rounds and
#: more, and a measured round of stream_replay used 6.2-6.9 CPU-seconds
#: against 4.2-4.9 with C1 alone. With C1 alone op times are flat from
#: the second round.
JIT_OPTS = "-XX:TieredStopAtLevel=1"
#: The ``*_tail_s`` metrics are this nearest-rank percentile of op times.
TAIL_PCT = 90
CLK_TCK = os.sysconf("SC_CLK_TCK")


def unit_of(metric: str) -> str:
    """Unit of a reported metric, from its name."""
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_mb"):
        return "MB"
    if metric.endswith(("_share", "_ratio")):
        return "ratio"
    if metric.endswith("bytes_written"):
        return "bytes"
    return "count"


def parse_args(argv=None):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_dirs() -> None:
    """Keep every file a run writes inside the checkout."""
    shutil.rmtree(WORK, ignore_errors=True)
    (WORK / "tmp").mkdir(parents=True)
    OUT.mkdir(exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TZ"] = "UTC"
    time.tzset()


def start_session():
    """JVM launch + session + one trivial action; returns (spark, seconds)."""
    from echem_dft_etl_spark.session import get_session

    t0 = time.perf_counter()
    spark = get_session(
        app_name="perfbench",
        master=f"local[{CORES}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(WORK / "spark-local"),
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch {JIT_OPTS} "
                f"-Djava.io.tmpdir={WORK / 'tmp'}"
            ),
        },
    )
    spark.range(1).collect()
    setup_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, setup_s


# ----------------------------------------------------------------- processes


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            stat = Path(f"/proc/{d}/stat").read_text()
        except OSError:  # exited while listing
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, stack = _children(), [], [pid]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, []))
    return out


def peak_rss_mb(pids) -> float:
    """Sum of the peak resident set (VmHWM) of the given processes."""
    kb = 0
    for pid in pids:
        try:
            status = Path(f"/proc/{pid}/status").read_text()
        except OSError:  # exited since it was listed
            continue
        for line in status.splitlines():
            if line.startswith("VmHWM:"):
                kb += int(line.split()[1])
    return kb / 1024.0


def tree_cpu_s(jvm_pid: int) -> float:
    """CPU seconds (user + system) used so far by this process, the JVM
    and every process under it, reaped children included.

    On a shared host the hypervisor takes CPU time away from the VM
    (steal); op wall times then grow with the host's load, CPU seconds
    about half as much (see the README)."""
    t = os.times()
    ticks = 0
    for pid in descendants(jvm_pid):
        try:
            stat = Path(f"/proc/{pid}/stat").read_text()
        except OSError:  # exited since it was listed; its parent has it
            continue
        # utime, stime, cutime, cstime: fields 14-17 of proc(5)
        ticks += sum(int(x) for x in stat.rsplit(")", 1)[1].split()[11:15])
    return t.user + t.system + ticks / CLK_TCK


def _gone(pid: int) -> bool:
    try:
        stat = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return True
    return stat.rsplit(")", 1)[1].split()[0] == "Z"


def shutdown(spark) -> None:
    """Stop Spark, end the JVM and every process under it, and wait."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    jvm = gateway.proc
    procs = descendants(jvm.pid)[1:]
    spark.stop()
    gateway.shutdown()
    jvm.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        jvm.wait(timeout=60)
    except subprocess.TimeoutExpired:
        print("JVM did not exit within 60 s; killing it", file=sys.stderr)
        jvm.kill()
        jvm.wait()
    deadline = time.monotonic() + 10
    for pid in procs:
        while not _gone(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if not _gone(pid):
            print(f"process {pid} outlived the JVM; killing it", file=sys.stderr)
            os.kill(pid, signal.SIGKILL)


def live_heap_mb(spark) -> float:
    """Driver heap in use after full GCs: what the engine retains (cached
    and checkpointed blocks, status stores, leaks).

    A GC only queues unreachable RDDs for Spark's ContextCleaner, which
    drops their blocks on its own thread; their memory is freed by a
    later GC. So collect until the heap stops shrinking (one read after
    a single GC varied between 100 and 250 MB on a checkpointing
    workload)."""
    gc.collect()  # drop Python-side handles (py4j) to JVM objects first
    mem = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = math.inf
    for _ in range(8):
        mem.gc()
        now = mem.getHeapMemoryUsage().getUsed() / (1024.0 * 1024.0)
        if now > used * 0.99:
            return min(now, used)
        used = now
        time.sleep(0.25)
    return used


# ----------------------------------------------------------------- measuring


def run_op(op, serial: int, round_no: int, tracer, out_dir, cpu_clock) -> dict:
    op_id = f"{round_no}.{serial}.{op.name}"
    problem, op_s, cpu_s, metrics = None, 0.0, 0.0, None
    try:
        inp = op.prepare(serial)
        with tracer.op(op_id, op.name) if tracer else nullcontext({}) as rec:
            rec["out_dir"] = out_dir
            c0 = cpu_clock()
            t0 = time.perf_counter()
            try:
                df = op.build(inp)
                rec["build_t1"] = time.time()
                rows = df.collect()
                rec["df"] = df
            finally:
                op_s = time.perf_counter() - t0
                cpu_s = cpu_clock() - c0
        metrics = rec.get("metrics")
        problem = op.check(inp, df.columns, rows)
    except Exception as exc:  # any failure of an op is counted, not raised
        problem = f"{type(exc).__name__}: {exc}"
    if problem is not None:
        print(f"op {op_id} FAILED: {problem[:2000]}", file=sys.stderr)
    return {
        "op": op_id, "op_s": op_s, "cpu_s": cpu_s, "problem": problem, "metrics": metrics
    }


def measure(
    ops, warm_rounds: int, n_rounds: int, max_s: float, seed: int, tracer, out_dir, cpu_clock
) -> dict:
    """``warm_rounds`` untimed rounds in list order, then ``n_rounds``
    timed rounds in seeded orders, or fewer if the timed rounds have
    taken ``max_s`` (a guard for a badly slowed host, not the rule).
    A round's times (wall and CPU) include the untimed input preparation
    and output checks of its ops."""
    from workloads import round_order

    serial = 0
    round_no = 0

    def one_round(into: list, order) -> tuple[float, float]:
        nonlocal serial, round_no
        c0, t0 = cpu_clock(), time.perf_counter()
        for i in order:
            into.append(run_op(ops[i], serial, round_no, tracer, out_dir, cpu_clock))
            serial += 1
        round_no += 1
        return time.perf_counter() - t0, cpu_clock() - c0

    warm: list[dict] = []
    warm_s = 0.0
    while round_no < warm_rounds:
        warm_s += one_round(warm, range(len(ops)))[0]
    timed: list[dict] = []
    rounds: list[float] = []
    round_cpu: list[float] = []
    while len(rounds) < n_rounds and sum(rounds) < max_s:
        wall, cpu = one_round(timed, round_order(len(ops), seed, round_no))
        rounds.append(wall)
        round_cpu.append(cpu)
    return {
        "warm": warm, "timed": timed, "rounds": rounds, "round_cpu": round_cpu,
        "warm_s": warm_s,
    }


def nearest_rank(values, pct: float) -> float:
    s = sorted(values)
    return s[max(1, math.ceil(pct / 100.0 * len(s))) - 1]


def time_metrics(res: dict) -> dict:
    """Wall and CPU times of the measured rounds and ops."""
    walls = [r["op_s"] for r in res["timed"]]
    cpus = [r["cpu_s"] for r in res["timed"]]
    return {
        "round_s": statistics.median(res["rounds"]),
        "op_p50_s": statistics.median(walls),
        "op_tail_s": nearest_rank(walls, TAIL_PCT),
        "round_cpu_s": statistics.median(res["round_cpu"]),
        "op_cpu_p50_s": statistics.median(cpus),
        "op_cpu_tail_s": nearest_rank(cpus, TAIL_PCT),
    }


def layer_metrics(res: dict, setup_s: float, heap_mb: float) -> dict:
    """Per-layer metrics of a traced run: each is the mean per op."""
    from tracing import LAYER_KEYS

    recs = [r["metrics"] for r in res["timed"] if r["metrics"] is not None]
    n = max(1, len(recs))
    out = {k: sum(m[k] for m in recs) / n for k in LAYER_KEYS}
    wall = sum(m["op_wall_s"] for m in recs)
    run_s = sum(m["spark.executor_run_s"] for m in recs)
    out["spark.overhead_share"] = 1.0 - run_s / (wall * CORES)
    out["session.start_s"] = setup_s
    out["jvm.heap_live_mb"] = heap_mb
    times = time_metrics(res)
    out["trace.round_s"] = times["round_s"]
    out["trace.round_cpu_s"] = times["round_cpu_s"]
    return out


def cpu_ticks() -> list[int]:
    """The host's cumulative CPU time counters (first line of /proc/stat)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the host's CPU time the hypervisor took (steal) between
    two ``cpu_ticks`` readings."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def fingerprint(spark, seed: int, load_before) -> dict:
    conf = spark.sparkContext.getConf()
    mem_kb = next(
        int(line.split()[1])
        for line in Path("/proc/meminfo").read_text().splitlines()
        if line.startswith("MemTotal:")
    )
    return {
        "nproc": os.cpu_count(),
        "cpus_usable": len(os.sched_getaffinity(0)),
        "mem_total_gib": round(mem_kb / 1024**2, 2),
        "master": spark.sparkContext.master,
        "driver_memory": conf.get("spark.driver.memory"),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "sf": SF,
        "seed": seed,
        "loadavg_before": list(load_before),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    load_before, ticks_before = os.getloadavg(), cpu_ticks()
    prepare_dirs()
    sys.path.insert(0, str(ROOT))
    import echem_dft_etl_spark  # noqa: F401  (fails in a tree without the engine)

    from workloads import WARMUP_ROUNDS, make_ops, measured_rounds

    spark, setup_s = start_session()
    jvm_pid = spark.sparkContext._gateway.proc.pid
    try:
        t0 = time.perf_counter()
        out_dir = WORK / "echem_out" if args.workload == "echem_ingest" else None
        ops = make_ops(args.workload, spark, DATA_DIR, out_dir, args.seed)
        inputs_s = time.perf_counter() - t0
        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark)
        n_rounds = measured_rounds(args.workload, args.seconds)
        warm_rounds = WARMUP_ROUNDS[args.workload]
        res = measure(
            ops, warm_rounds, n_rounds, 1.5 * args.seconds, args.seed, tracer, out_dir,
            lambda: tree_cpu_s(jvm_pid),
        )
        heap_mb = live_heap_mb(spark) if tracer else None
        procs = descendants(jvm_pid)
        rss = peak_rss_mb(procs)
        rss_parts = {"jvm_mb": peak_rss_mb(procs[:1]), "processes": len(procs)}
        fp = fingerprint(spark, args.seed, load_before)
    finally:
        t0 = time.perf_counter()
        shutdown(spark)
        shutdown_s = time.perf_counter() - t0
    fp["loadavg_after"] = list(os.getloadavg())
    fp["steal_share"] = steal_share(ticks_before, cpu_ticks())

    timed, rounds = res["timed"], res["rounds"]
    failed = sum(r["problem"] is not None for r in timed)
    warm_failed = sum(r["problem"] is not None for r in res["warm"])
    times = time_metrics(res)
    if tracer:
        metrics = layer_metrics(res, setup_s, heap_mb)
    else:
        metrics = {
            "setup_s": setup_s,
            "round_cpu_s": times["round_cpu_s"],
            "op_cpu_p50_s": times["op_cpu_p50_s"],
            "op_cpu_tail_s": times["op_cpu_tail_s"],
            "ok_ratio": (len(timed) - failed) / len(timed),
            "peak_rss_mb": rss,
        }
    record = {
        "workload": args.workload,
        "trace": args.trace,
        "fingerprint": fp,
        "warmup_rule": f"{warm_rounds} untimed rounds in list order",
        "measured_rounds": n_rounds,
        "phases_s": {
            "setup": setup_s,
            "inputs_and_oracles": inputs_s,
            "warmup": res["warm_s"],
            "measured_rounds": sum(rounds),
            "shutdown": shutdown_s,
        },
        "rounds": rounds,
        "round_cpu": res["round_cpu"],
        "times": times,
        "peak_rss_parts": rss_parts,
        "heap_live_mb": heap_mb,
        "warmup_failed": warm_failed,
        "metrics": metrics,
        "ops": res["warm"] + timed,
    }
    if tracer:
        record["spans"] = tracer.spans
        record["skipped_stages"] = tracer.skipped_stages
        record["unparsed_metrics"] = tracer.unparsed_metrics
    path = OUT / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    path.write_text(json.dumps(record) + "\n")
    shutil.rmtree(WORK, ignore_errors=True)

    summary = {"fingerprint": fp, "phases_s": record["phases_s"], "times": times}
    print(json.dumps({**summary, "record": str(path.relative_to(ROOT))}))
    print(
        json.dumps(
            {
                "correct": failed == 0 and warm_failed == 0,
                "attempted": len(timed),
                "failed": failed,
                "metrics": {
                    k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
