"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload extract_fanout --seed 1 --seconds 15 --trace 0

Run from the repository root.  The run starts a Spark session the way
the program's CLI does, writes its seeded inputs, runs a fixed number of
untimed warm-up operations, then runs operations back to back for
``--seconds``, one client, closed loop.  Every time it reports has the
hypervisor's steal taken out (``Stopwatch``).  Every file it
writes lives under ``.perfbench/`` in the repository root.  The last
line of standard output is the result; progress goes to standard error.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` makes a
separate traced run (spans around each layer plus Spark's event log) and
reports the per-layer metrics, keeping its spans under
``.perfbench/trace/``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path
from typing import NamedTuple

ROOT = Path(__file__).resolve().parent.parent
#: Spark task slots, pinned for every run and printed on standard error.
#: Two of the box's four vCPUs: the JVM's JIT compiler threads spend
#: 1-3 CPU s per op even after warm-up, and with local[4] they, GC and
#: the Python driver compete with the tasks for the same cores.
CPUS = str(min(2, os.cpu_count() or 1))
DRIVER_MEM = "3g"
GEN_REPEATS = 3
#: untimed warm-up ops.  Fixed, so every run starts timing from the same
#: state (JIT, CDC source size).  On a 4-vCPU box the first op costs
#: 2-4x a settled one and op time settles from the fourth op on
#: (README.md).
WARMUP_OPS = 4
#: the timed window runs at least this many ops
MIN_TIMED_OPS = 4
#: samples required beyond the reported tail percentile.  A run holds
#: ~5 timed ops, too few for the usual 10 (see README.md).
TAIL_BEYOND = 1

END_TO_END = {"setup_s": "s", "run_s": "s", "op_p50_s": "s", "op_tail_s": "s", "rows_per_s": "1/s"}
SPAN_METRICS = {
    "catalog.read": "catalog.read_s",
    "spec.build": "spec.build_s",
    "tablespecs.apply": "tablespecs.apply_s",
    "hwm.capture": "hwm.capture_s",
    "hwm.commit": "hwm.commit_s",
    "fanout": "fanout.write_s",
    "sink.jsonl": "sink.jsonl.write_s",
    "sink.kafka": "sink.kafka.write_s",
    "sink.s3": "sink.s3.write_s",
    "sink.cdc": "cdc.apply_s",
}
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s", "jvm.peak_rss_mb": "MB",
    "catalog.read_s": "s", "scan.tasks": "count",
    "spec.build_s": "s", "spec.build_jobs": "count", "tablespecs.apply_s": "s",
    "hwm.capture_s": "s", "hwm.commit_s": "s", "hwm.scan_ratio": "ratio",
    "fanout.write_s": "s",
    **{f"sink.{s}.{m}": u for s in ("jsonl", "kafka", "s3")
       for m, u in (("write_s", "s"), ("bytes", "B"), ("files", "count"))},
    "cdc.apply_s": "s", "cdc.touched_ratio": "ratio", "cdc.write_amp": "ratio",
    "cdc.store_bytes": "B",
    "exec.cpu_s": "s", "exec.gc_s": "s", "exec.shuffle_bytes": "B", "exec.spill_bytes": "B",
    "exec.tasks": "count", "exec.idle_s": "s", "spark.jobs": "count",
    "trace.run_s": "s",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fmt(t) -> str:
    return f"{t.seconds:.3f}s ({t.wall:.3f}s wall, {t.steal:.1%} stolen)"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(work: Path) -> None:
    """Cores, driver heap and scratch location; nothing else."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": CPUS,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(tmp),
    })


def session_conf(work: Path, trace: bool) -> dict[str, str]:
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        (work / "eventlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def cpu_ticks() -> tuple[int, int]:
    """(stolen, busy + stolen) ticks of all the VM's CPUs since boot,
    from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(int, f.readline().split()[1:9])
    return steal, user + nice + system + irq + softirq + steal


class Timed(NamedTuple):
    wall: float
    steal: float  # share of the CPU time the VM asked for that went to other guests
    seconds: float  # ``wall`` with that share taken out; what the metrics report


class Stopwatch:
    """Times an interval by the wall clock and by /proc/stat's steal.
    Other guests on the host take the VM's vCPUs in bursts of seconds
    to minutes; without the correction one such burst slows a whole run
    up to 2x (README.md, "Host steal")."""

    def __init__(self):
        self.start, self.ticks = time.perf_counter(), cpu_ticks()

    def stop(self) -> Timed:
        from perfbench.stats import steal_free

        wall = time.perf_counter() - self.start
        stolen, wanted = (b - a for a, b in zip(self.ticks, cpu_ticks()))
        return Timed(wall, stolen / wanted if wanted else 0.0, steal_free(wall, stolen, wanted))


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


class Op(NamedTuple):
    k: int
    op: Timed
    rows: int
    cycle: Timed  # the whole cycle: untimed preamble, op and checks


class Runner:
    """One workload run: warm-up, timed window, checks."""

    def __init__(self, spark, tracer, wl):
        self.spark, self.tracer, self.wl = spark, tracer, wl
        self.errors: list[str] = []
        self.failed_ops: set[int] = set()
        self.k = 0  # ops attempted so far; the next op's index
        self.bounds: dict[int, tuple[float, float]] = {}

    def cycle(self) -> Op:
        """One op with its untimed preamble and checks."""
        k = self.k
        self.k += 1
        cycle = Stopwatch()
        self.spark.sparkContext._jvm.java.lang.System.gc()
        gc.collect()
        if k:
            self.wl.cleanup(k - 1)
        self.wl.before_op(k)
        self.tracer.begin_op(f"op-{k}")
        wall0, clock = time.time(), Stopwatch()
        try:
            rows = self.wl.op(k)
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, the run goes on
            log(traceback.format_exc())
            self.fail(k, [repr(exc)[:2000]])
            rows = 0
        op = clock.stop()
        if k not in self.failed_ops:
            self.bounds[k] = (wall0, time.time())
            self.fail(k, self.wl.after_op(k, rows))
        return Op(k, op, rows, cycle.stop())

    def fail(self, k: int, errors: list[str]) -> None:
        """Record errors against op ``k``; a failed check fails its op."""
        if errors:
            self.failed_ops.add(k)
            self.errors += [f"op {k}: {e}" for e in errors]

    def warm_up(self) -> list[Timed]:
        times = []
        for i in range(WARMUP_OPS):
            times.append(self.cycle().op)
            log(f"warm-up op {i}: {fmt(times[-1])}")
        return times

    def timed(self, seconds: float) -> list[Op]:
        """Ops back to back until ``seconds`` have passed and at least
        ``MIN_TIMED_OPS`` ran."""
        ops: list[Op] = []
        start = time.perf_counter()
        while True:
            ops.append(self.cycle())
            elapsed = time.perf_counter() - start
            log(f"op {ops[-1].k}: {fmt(ops[-1].op)}, {ops[-1].rows} rows")
            if elapsed >= seconds and len(ops) >= MIN_TIMED_OPS:
                return ops


def per_layer(work: Path, tracer, runner: Runner, wl, timed: list[int], fixed: dict,
              out: Path) -> dict[str, float]:
    """Each per-layer metric's median over the timed ops that succeeded,
    from the spans and the event log; ``fixed`` holds the run-level ones.
    Spans and per-op values are written under ``out``."""
    from perfbench.tracing import (executor_metrics, parse_event_log, span_jobs, span_seconds,
                                   span_tasks)

    (log_file,) = (work / "eventlog").iterdir()
    with open(log_file, encoding="utf-8") as f:
        event_log = parse_event_log(f)
    per_op = {}
    for k in (k for k in timed if k in runner.bounds):
        op = f"op-{k}"
        spans = tracer.op_spans(op)
        m = {metric: span_seconds(spans, name) for name, metric in SPAN_METRICS.items()}
        m.update(executor_metrics(event_log, op, *runner.bounds[k]))
        # the first sink materializes the fan-out frame: its tasks that
        # read input records are the source scan
        m["scan.tasks"] = float(sum(1 for t in span_tasks(event_log, op, "sink.jsonl")
                                    if t.records_read))
        m["spec.build_jobs"] = float(span_jobs(event_log, op, "spec.build"))
        m.update(wl.layer_metrics(k, event_log))
        per_op[k] = m
    out.mkdir(parents=True, exist_ok=True)
    tracer.write(str(out / "spans.jsonl"))
    (out / "per_op.json").write_text(json.dumps(per_op, indent=1))
    return {name: fixed[name] if name in fixed else
            statistics.median(m.get(name, 0.0) for m in per_op.values()) for name in PER_LAYER}


def run(args, work: Path) -> dict:
    pin_environment(work)
    sys.path.insert(0, str(ROOT))
    from cassandra_extractor_spark.session import get_spark
    from perfbench import stats
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    log(f"pinned SPARK_GRAFT_CPUS={CPUS} SPARK_GRAFT_DRIVER_MEM={DRIVER_MEM}, scratch {work}")
    clock = Stopwatch()
    spark = get_spark("perfbench", extra_conf=session_conf(work, bool(args.trace)))
    session = clock.stop()
    try:
        tracer = Tracer(spark.sparkContext, bool(args.trace))
        wl = WORKLOADS[args.workload](spark, tracer, str(work), args.seed)
        gen = []
        for _ in range(GEN_REPEATS):
            clock = Stopwatch()
            wl.generate()
            gen.append(clock.stop().seconds)
        clock = Stopwatch()
        wl.prepare()
        prepare = clock.stop()
        runner = Runner(spark, tracer, wl)
        warm_s = sum(t.seconds for t in runner.warm_up())
        setup_s = session.seconds + statistics.median(gen) + prepare.seconds + warm_s
        log(f"setup {setup_s:.3f}s: session {fmt(session)}, inputs {statistics.median(gen):.3f}s, "
            f"prepare {fmt(prepare)}, {WARMUP_OPS} warm-up ops {warm_s:.3f}s")
        ops = runner.timed(args.seconds)
        last = ops[-1].k
        tracer.begin_op("final-check")  # keep the checks' jobs out of the last op
        runner.fail(last, wl.final_check(last))
        wl.cleanup(last)
        times = [op.op.seconds for op in ops]
        pct, tail = stats.tail(times, TAIL_BEYOND)
        log(f"{len(ops)} timed ops; op_tail_s is p{pct:.1f} of {len(ops)} ({TAIL_BEYOND} beyond)")
        cycles_s = sum(op.cycle.seconds for op in ops)
        metrics = {
            "setup_s": setup_s,
            "run_s": cycles_s / len(ops),
            "op_p50_s": statistics.median(times),
            "op_tail_s": tail,
            "rows_per_s": sum(op.rows for op in ops) / cycles_s,
        }
        units = END_TO_END
        if args.trace:
            layers = {"session.start_s": session.seconds, "session.warmup_s": warm_s,
                      "jvm.peak_rss_mb": jvm_peak_rss_mb(spark), "trace.run_s": metrics["run_s"]}
    finally:
        if args.trace:
            tracer.unpatch()
        stop_session(spark)
    if args.trace:
        metrics = per_layer(work, tracer, runner, wl, [op.k for op in ops], layers,
                            ROOT / ".perfbench" / "trace" / f"{args.workload}-seed{args.seed}")
        units = PER_LAYER
    for e in runner.errors:
        log(f"FAILED {e}")
    return {
        "correct": not runner.errors,
        "attempted": runner.k,
        "failed": len(runner.failed_ops),
        "metrics": {n: {"value": float(metrics[n]), "unit": u} for n, u in units.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "cassandra_extractor_spark" / "__init__.py").is_file():
        log(f"the program's sources (cassandra_extractor_spark/) are not under {ROOT}")
        return 2
    work = ROOT / ".perfbench" / f"run-{args.workload}-seed{args.seed}-{os.getpid()}"
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
