#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --master 'local[2]' --shuffle-partitions 4 --driver-memory 2g \
        --workload match_corpus --seed 1 --seconds 20 --trace 0

A run starts its own Spark session (``--master``, fixed below ``nproc``),
makes the workload's inputs from ``--seed`` (outside every timing), runs
one cold op (ending ``setup_s``), a fixed count of untimed warm-up ops (the
first replays the cold op's input), then a closed loop of ops with one
client until the ops' summed wall time reaches ``--seconds``.  Outputs are checked after the loop.  The last
stdout line is one JSON object: end-to-end metrics with ``--trace 0``,
per-layer metrics from the Spark event log with ``--trace 1``.
See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench_out")
TRACED_OPS = 2  # ops recomposed layer by layer in a traced run

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "rows_per_s": "1/s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "spark.jobs": "count",
    "spark.driver_only_s": "s",
    "spark.scheduler_delay_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "sources.csv.wall_s": "s",
    "sources.csv.jobs": "count",
    "matching.prepare.wall_s": "s",
    "matching.prepare.u_texts": "count",
    "matching.prepare.e_texts": "count",
    "blocking.wall_s": "s",
    "blocking.candidate_pairs": "count",
    "blocking.recall_sample": "ratio",
    "scoring.wall_s": "s",
    "scoring.pairs_scored": "count",
    "scoring.pairs_per_s": "1/s",
    "matching.total.wall_s": "s",
    "matching.rest.wall_s": "s",
    "matching.output_rows": "count",
    "matching.useful_ratio": "ratio",
    "matching.not_found": "count",
    "sinks.wall_s": "s",
    "dedup.wall_s": "s",
    "dedup.output_pairs": "count",
    "tracing.overhead_ratio": "ratio",
}


def process_start_time() -> float:
    """Wall-clock time this process started, from ``/proc/self/stat``."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + int(fields[19]) / os.sysconf("SC_CLK_TCK")


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests (all CPUs, from
    ``/proc/stat``): the share of the host that op times cannot control."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


_SYS_KCMP = {"x86_64": 312, "aarch64": 272}.get(platform.machine())
_KCMP_VM = 1
_libc = ctypes.CDLL(None, use_errno=True)


def _shares_parent_vm(pid: int) -> bool:
    """True for a child that still runs in its parent's address space (a
    ``vfork``/``posix_spawn`` child before ``exec``, as when the JVM
    launches a Python worker): its RSS is the parent's, counted already."""
    if _SYS_KCMP is None:
        return False
    try:
        with open(f"/proc/{pid}/stat") as f:
            ppid = int(f.read().rsplit(")", 1)[1].split()[1])
    except (OSError, ValueError, IndexError):
        return False
    return _libc.syscall(_SYS_KCMP, pid, ppid, _KCMP_VM, 0, 0) == 0


def tree_rss_mb(root: int) -> float:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in [root, *descendants(root)]:
        if pid != root and _shares_parent_vm(pid):
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, ValueError, IndexError):
            continue
    return total / 1e6


class PeakRss(threading.Thread):
    """Samples the resident memory of this process and all its descendants
    (driver, JVM, Python workers) and keeps the peak of the sum."""

    def __init__(self, interval: float = 0.1):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0.0
        self._done = threading.Event()

    def run(self) -> None:
        while not self._done.wait(self.interval):
            self.peak = max(self.peak, tree_rss_mb(os.getpid()))

    def stop(self) -> float:
        self._done.set()
        if self.is_alive():
            self.join()
        return self.peak


def start_spark(args, run_dir: str, event_dir: str | None):
    from pyspark.sql import SparkSession

    tmp = os.path.join(run_dir, "tmp")
    b = (
        SparkSession.builder.master(args.master)
        .appName(f"perfbench-{args.workload}")
        .config("spark.driver.memory", args.driver_memory)
        .config("spark.sql.shuffle.partitions", str(args.shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(run_dir, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
        # A fixed-size heap (-Xms = driver memory), touched in full at start:
        # a resizing or lazily touched heap made the JVM's resident memory
        # swing by ~400 MB with GC timing from run to run.
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{args.driver_memory} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        )
    )
    if event_dir:
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + event_dir)
            .config("spark.eventLog.compress", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM and every Python worker ended."""
    procs = descendants(os.getpid())  # before the JVM exits and orphans its workers
    gateway = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.stdin.close()  # the JVM exits on EOF from its parent
        try:
            gateway.wait(timeout=60)
        except Exception:
            gateway.kill()
            gateway.wait()
    deadline = time.time() + 30
    while True:
        alive = [pid for pid in procs if _alive(pid)]
        if not alive:
            return
        if time.time() > deadline:
            for pid in alive:
                os.kill(pid, signal.SIGKILL)
            deadline = float("inf")
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        os.waitpid(pid, os.WNOHANG)  # reap it if it is our child
    except ChildProcessError:
        pass
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


class Run:
    def __init__(self, args):
        import workloads

        self.run_dir = os.path.join(OUT, f"{args.workload}-{args.seed}-{os.getpid()}")
        os.makedirs(self.run_dir, exist_ok=True)
        self.gen_s = 0.0
        t = time.time()
        self.wl = workloads.make(args.workload, args.seed, self.run_dir)
        self.gen_s += time.time() - t
        self.ops: list[tuple] = []  # (input, output or None, error or None)

    def inputs(self, i: int):
        t = time.time()
        inp = self.wl.inputs(i)
        self.gen_s += time.time() - t
        return inp

    def op(self, spark, inp, fn=None) -> float:
        """Run one op, record its output, return its wall time."""
        t = time.perf_counter()
        try:
            out, err = (fn or self.wl.op)(spark, inp), None
        except Exception:
            traceback.print_exc()
            out, err = None, "raised"
        dt = time.perf_counter() - t
        self.ops.append((inp, out, err))
        return dt

    def check(self) -> int:
        """Check every op's output; return failures.  Run-level checks
        (``finish``) count against the cold op."""
        problems = [[err] if err else self.wl.check(inp, out) for inp, out, err in self.ops]
        problems[0] += self.wl.finish()
        for (inp, _, _), found in zip(self.ops, problems):
            for p in found[:5]:
                print(f"op {inp.index}: {p}", file=sys.stderr)
        return sum(bool(found) for found in problems)


def loop(run: Run, spark, first: int, seconds: float, tracers=None) -> list[float]:
    """Closed loop, one client: the next op starts when the previous ends,
    until the ops' summed wall time reaches ``seconds``.  With ``tracers``,
    each op runs under its own job group and its tracer is appended."""
    from eventlog import Tracer

    times: list[float] = []
    i = first
    while sum(times) < seconds:
        inp = run.inputs(i)
        if tracers is not None:
            tr = Tracer(spark, f"op{i}")
            with tr.span("op"):
                times.append(run.op(spark, inp))
            tracers.append(tr)
        else:
            times.append(run.op(spark, inp))
        i += 1
    return times


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # The Spark settings have no defaults: BENCHMARK.json's command is the
    # one place they are stated.
    p.add_argument("--master", required=True)
    p.add_argument("--shuffle-partitions", type=int, required=True)
    p.add_argument("--driver-memory", required=True)
    args = p.parse_args(argv)

    started = process_start_time()
    if not os.path.isfile(os.path.join(ROOT, "name_match_ml_spark", "__init__.py")):
        print(f"perfbench: no name_match_ml_spark package under {ROOT}", file=sys.stderr)
        return 2
    # The driver and the Python workers the JVM forks both import the
    # package from this checkout (workers inherit PYTHONPATH).
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE, os.environ.get("PYTHONPATH", "")])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.pop("SPARK_LOCAL_DIRS", None)  # would override spark.local.dir
    import workloads

    if args.workload not in workloads.NAMES:
        print(f"perfbench: unknown workload {args.workload!r}; one of {workloads.NAMES}", file=sys.stderr)
        return 2

    run = Run(args)
    try:
        metrics, units, n_timed = measure(run, args, started)
        failed = run.check()
    finally:
        shutil.rmtree(run.run_dir, ignore_errors=True)
    print(
        f"{args.workload} seed={args.seed}: {n_timed} timed ops, {len(run.ops)} attempted, {failed} failed; "
        + ", ".join(f"{k}={v:.6g} {units[k]}" for k, v in metrics.items())
    )
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(run.ops),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


def measure(run: Run, args, started: float):
    """Set up, run the ops, stop Spark; return ``(metrics, units, timed ops)``."""
    for d in ("tmp", "local", "events"):
        os.makedirs(os.path.join(run.run_dir, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run.run_dir, "tmp")
    event_dir = os.path.join(run.run_dir, "events")
    rss = PeakRss()
    rss.start()
    spark = start_spark(args, run.run_dir, event_dir if args.trace else None)
    try:
        cold = run.inputs(0)
        run.op(spark, cold)
        setup_s = time.time() - started - run.gen_s
        # The first warm-up op replays the cold op's input; the checks
        # require the same output from both.
        run.op(spark, cold)
        for i in range(1, run.wl.warmup_ops):
            run.op(spark, run.inputs(i))
        first = run.wl.warmup_ops
        if args.trace:
            finish = traced(run, spark, first, args)
        else:
            steal = host_steal_s()
            times = loop(run, spark, first, args.seconds)
            steal = host_steal_s() - steal
            peak = rss.stop()
    finally:
        rss.stop()
        stop_spark(spark)
    if args.trace:
        return finish(event_dir)
    print("op wall times (s): " + " ".join(f"{t:.3f}" for t in times))
    print(f"host CPU time stolen during the timed ops: {steal:.2f} s over {sum(times):.2f} s")
    metrics = {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(times),
        "rows_per_s": run.wl.rows_per_op * len(times) / sum(times),
        "peak_rss_mb": peak,
    }
    return metrics, END_TO_END, len(times)


def traced(run: Run, spark, first: int, args):
    """The traced run: plain ops under per-op job groups (Spark engine
    metrics), then ``TRACED_OPS`` ops recomposed layer by layer.  Returns
    a function that turns the event log into per-layer metrics once the
    session has stopped."""
    import workloads
    from eventlog import Tracer, read_event_log

    # Traced ops take fixed op indices, so their counts repeat per seed.
    trace_inputs = [run.inputs(i) for i in range(first, first + TRACED_OPS)]
    plain: list = []
    times = loop(run, spark, first + TRACED_OPS, args.seconds, plain)
    layer_tr, traced_s = [], []
    for inp in trace_inputs:
        tr = Tracer(spark, f"traced{inp.index}")
        traced_s.append(run.op(spark, inp, lambda s, i, tr=tr: run.wl.traced_op(s, i, tr)))
        layer_tr.append(tr)
    recall = 0.0
    if isinstance(run.wl, workloads.MatchCorpus):
        recall = run.wl.recall(spark, trace_inputs[0], Tracer(spark, "recall"))

    def finish(event_dir: str):
        log = read_event_log(event_dir)
        med = statistics.median
        per_op = [(log.get(tr.group("op")), t) for tr, t in zip(plain, times)]
        m = {
            "spark.jobs": med(g.jobs for g, _ in per_op),
            "spark.driver_only_s": med(t - g.busy_s() for g, t in per_op),
            "spark.scheduler_delay_s": med(g.scheduler_delay_s for g, _ in per_op),
            "spark.shuffle_write_mb": med(g.shuffle_write_mb for g, _ in per_op),
            "spark.spill_mb": med(g.spill_mb for g, _ in per_op),
            "spark.executor_run_s": med(g.executor_run_s for g, _ in per_op),
            "spark.executor_cpu_s": med(g.executor_cpu_s for g, _ in per_op),
        }

        def wall(layer):
            return med(tr.walls.get(layer, 0.0) for tr in layer_tr)

        def count(name):
            return med(tr.counts.get(name, 0) for tr in layer_tr)

        m["sources.csv.wall_s"] = wall(workloads.SOURCES)
        m["sources.csv.jobs"] = med(log.get(tr.group(workloads.SOURCES)).jobs for tr in layer_tr)
        m["matching.prepare.wall_s"] = wall(workloads.PREPARE)
        m["matching.prepare.u_texts"] = count("matching.prepare.u_texts")
        m["matching.prepare.e_texts"] = count("matching.prepare.e_texts")
        m["blocking.wall_s"] = wall(workloads.BLOCKING)
        m["blocking.candidate_pairs"] = count("blocking.candidate_pairs")
        m["blocking.recall_sample"] = recall
        m["scoring.wall_s"] = wall(workloads.SCORING)
        m["scoring.pairs_scored"] = count("scoring.pairs_scored")
        m["scoring.pairs_per_s"] = (
            m["scoring.pairs_scored"] / m["scoring.wall_s"] if m["scoring.wall_s"] else 0.0
        )
        m["matching.total.wall_s"] = wall(workloads.TOTAL)
        parts = (workloads.PREPARE, workloads.BLOCKING, workloads.SCORING)
        m["matching.rest.wall_s"] = med(
            tr.walls.get(workloads.TOTAL, 0.0) - sum(tr.walls.get(p, 0.0) for p in parts)
            for tr in layer_tr
        )
        m["matching.output_rows"] = count("matching.output_rows")
        m["matching.useful_ratio"] = (
            m["matching.output_rows"] / m["scoring.pairs_scored"] if m["scoring.pairs_scored"] else 0.0
        )
        m["matching.not_found"] = count("matching.not_found")
        m["sinks.wall_s"] = wall(workloads.SINKS)
        m["dedup.wall_s"] = wall(workloads.DEDUP)
        m["dedup.output_pairs"] = count("dedup.output_pairs")
        m["tracing.overhead_ratio"] = med(traced_s) / med(times)
        return m, PER_LAYER, len(times)

    return finish


if __name__ == "__main__":
    sys.exit(main())
