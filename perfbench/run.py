#!/usr/bin/env python3
"""Benchmark of the pedestrian-flow engine.

    python3 perfbench/run.py --workload assign|flow \\
        --seed N --seconds S --trace 0|1

Run from the repository root. One client runs a closed loop on one
Spark session with local[nproc] slots: each operation starts when the
previous one ends, and every result is checked against an independent
reference (check.py). Inputs come from the seeded generator (gen.py)
before the engine starts.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs a
third of the time untraced and the rest traced (workloads.py
``op_traced``) and prints the per-layer metrics, writing the spans to
``perfbench/.traces/``. The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}; the line before it holds
the run's full record (input sizes and shares, sample counts, raw
times). Exit code 0 only when every result was correct; 2 when the
engine cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import spans
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
TRACES = os.path.join(HERE, ".traces")

# Set-up repeats in one run; setup_s is their median. The first also
# launches the JVM; the others stop the session and start a new one in
# the same JVM, then repeat the workload's engine set-up calls.
SETUP_REPS = 3
# Untimed operations before the loop. The first operation in a JVM
# pays class loading, code generation and most JIT compilation (about
# 1.4x a later one).
WARMUP_OPS = 1
# The timed loop runs at least MIN_OPS operations, so that the median
# latency of a run passes over one operation slowed by the host. Past
# that it stops where its operation time comes nearest to --seconds.
# Operations take 6-8 s on a 4-vCPU host, so with --seconds 20 a run
# times three of them, the same three (inputs and JIT state) in every
# run, until the engine gets faster and more fit.
MIN_OPS = 3
# ... unless the run has used RUN_WALL_S of wall time since it started
# (JVM launch, set-ups and warm-up included) and has timed two: then it
# starts no operation that would end past it. On a host slow enough
# for this to bind, a run's median is that of two operations.
RUN_WALL_S = 64.0

END_TO_END = {"setup_s": "s", "rows_per_s": "1/s", "op_p50_ms": "ms"}
PER_LAYER = {
    "session.start_s": "s",
    "session.jvm_peak_rss_mb": "MiB",
    "session.gc_ms_per_op": "ms",
    "sources.read_build_ms": "ms",
    "sources.read_exec_ms": "ms",
    "sources.write_ms": "ms",
    "sources.bytes_written_per_row": "B/row",
    "region_build.build_ms": "ms",
    "region_build.exec_ms": "ms",
    "region_build.jobs_per_op": "count",
    "region_build.hit_ratio": "ratio",
    "geohash.encode_ms_per_mrow": "ms/Mrow",
    "trajectory.positions_ms": "ms",
    "trajectory.gapfill_ms": "ms",
    "od.exec_ms": "ms",
    "occupancy.exec_ms": "ms",
    "home.exec_ms": "ms",
    "trajectory.collapse_ratio": "ratio",
    "trajectory.expansion_ratio": "ratio",
    "trajectory.jobs_per_op": "count",
    "incremental.jobs_per_op": "count",
    "incremental.merge_ms": "ms",
    "incremental.read_ms": "ms",
    "incremental.partitions_touched_per_merge": "count",
    "incremental.bulk_share": "ratio",
    "incremental.bytes_written_per_delta_row": "B/row",
    "incremental.table_files": "count",
    "incremental.bytes_per_live_row": "B/row",
    "trace.overhead_ms": "ms",
}


def fresh_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


def isolate_environment() -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    the wiped work dir, and use the engine's own session defaults
    otherwise (job/stage retention included)."""
    local = os.path.join(WORK, "spark-local")
    jtmp = os.path.join(WORK, "java-tmp")
    ptmp = os.path.join(WORK, "tmp")
    for d in (local, jtmp, ptmp):
        os.makedirs(d)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = ptmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            f"--driver-java-options -Djava.io.tmpdir={jtmp}",
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
            "pyspark-shell",
        ]
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SHFLOW_DRIVER_MEM", "2g")


def stop_engine(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Runner:
    def __init__(self, wl, spark, t_start):
        self.wl = wl
        self.deadline = t_start + RUN_WALL_S
        self.spark = spark
        self.next_op = 0
        self.attempted = 0
        self.failed = 0
        self.check_s = 0.0

    def run_op(self, traced: bool = False, tr=None) -> float | None:
        """One checked operation; its latency in seconds, None if it
        failed (raised, or its result failed the check)."""
        i = self.next_op
        self.next_op += 1
        self.attempted += 1
        if tr is not None:
            tr.begin_op(i)
        t0 = time.perf_counter()
        try:
            if traced:
                res = self.wl.op_traced(self.spark, i, tr)
            else:
                res = self.wl.op(self.spark, i, tr)
            elapsed = time.perf_counter() - t0
            bad = self.wl.check(i, res)
            self.check_s += time.perf_counter() - t0 - elapsed
        except Exception:
            traceback.print_exc()
            bad = ["operation raised"]
        if bad:
            self.failed += 1
            print(f"op {i} FAILED: {bad}", file=sys.stderr)
            return None
        return elapsed

    def warm_up(self) -> list[float | None]:
        return [self.run_op() for _ in range(WARMUP_OPS)]

    def loop(
        self, seconds: float, traced: bool = False, tr=None, min_ops: int = MIN_OPS
    ) -> tuple[list[float], list[int], list[int]]:
        """Closed loop of at least ``min_ops`` successful operations,
        then on while one more would bring the operation time nearer to
        ``seconds`` (see RUN_WALL_S for the exception, and it stops at
        three times ``seconds`` plus a minute of wall time when
        operations keep failing). Returns successful latencies, their
        input rows, and the ids of all operations."""
        times: list[float] = []
        rows: list[int] = []
        ops: list[int] = []
        start = time.perf_counter()
        while (
            (len(times) < min_ops or sum(times) + median(times) / 2 < seconds)
            and (len(times) < 2 or time.perf_counter() + median(times) < self.deadline)
            and time.perf_counter() - start < 3 * seconds + 60
        ):
            i = self.next_op
            t = self.run_op(traced, tr)
            ops.append(i)
            if t is not None:
                times.append(t)
                rows.append(self.wl.rows(i))
        return times, rows, ops


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.perf_counter()

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    fresh_dir(WORK)
    isolate_environment()
    sys.path.insert(0, ROOT)
    try:
        eng = workloads.engine()
    except ImportError as exc:
        shutil.rmtree(WORK, ignore_errors=True)
        print(f"cannot import the engine next to the benchmark: {exc}", file=sys.stderr)
        return 2

    wl = workloads.WORKLOADS[args.workload](eng, WORK)
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    t0 = time.perf_counter()
    record["inputs"] = wl.prepare(args.seed)
    record["prepare_s"] = time.perf_counter() - t0

    spark = None
    setup_times = []
    session_start = None
    try:
        for rep in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = eng["session"].get_spark(f"perfbench-{args.workload}")
            if session_start is None:
                session_start = time.perf_counter() - t0
            spark.sparkContext.setLogLevel("ERROR")
            wl.setup(spark, rep)
            setup_times.append(time.perf_counter() - t0)
        r = Runner(wl, spark, t_start)
        record["warmup_ms"] = [t and t * 1e3 for t in r.warm_up()]
        wl.phases.clear()
        if args.trace == 0:
            gc0 = spans.jvm_gc_ms(spark)
            times, rows, _ = r.loop(args.seconds)
            record["gc_ms_per_op"] = (spans.jvm_gc_ms(spark) - gc0) / max(1, len(times))
            metrics = {
                "setup_s": median(setup_times),
                "rows_per_s": median([n / t for n, t in zip(rows, times)]),
                "op_p50_ms": median(times) * 1e3,
            }
            units = END_TO_END
            record["op_samples"] = len(times)
            record["op_ms"] = [t * 1e3 for t in times]
        else:
            metrics = traced_metrics(r, wl, spark, args, session_start, record)
            units = PER_LAYER
        for name, ts in wl.phases.items():
            record[f"{name}_p50_ms"] = median(ts) * 1e3
    finally:
        if spark is not None:
            stop_engine(spark)
        shutil.rmtree(WORK, ignore_errors=True)

    record["setup_s"] = setup_times
    record["attempted"] = r.attempted
    record["failed"] = r.failed
    record["fail_ratio"] = r.failed / r.attempted
    record["check_s"] = r.check_s
    record["wall_s"] = time.perf_counter() - t_start
    print(json.dumps({"record": record}))
    print(
        json.dumps(
            {
                "correct": r.failed == 0,
                "attempted": r.attempted,
                "failed": r.failed,
                "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
            }
        )
    )
    return 0 if r.failed == 0 else 1


# per-layer metric -> (span layer, span phase or None for all phases);
# the value is the median over traced operations of the layer's time
SPAN_METRICS = {
    "sources.read_build_ms": ("sources", "read_build"),
    "sources.read_exec_ms": ("sources", "read_exec"),
    "sources.write_ms": ("sources", "write"),
    "region_build.build_ms": ("region_build", "build"),
    "region_build.exec_ms": ("region_build", "exec"),
    "trajectory.positions_ms": ("trajectory.positions", None),
    "trajectory.gapfill_ms": ("trajectory.gapfill", None),
    "od.exec_ms": ("od", "exec"),
    "occupancy.exec_ms": ("occupancy", "exec"),
    "home.exec_ms": ("home", "exec"),
    "incremental.merge_ms": ("incremental.merge", None),
    "incremental.read_ms": ("incremental.read", None),
}
# per-layer metric -> observation the workload notes per operation
NOTE_MEDIANS = {
    "sources.bytes_written_per_row": "bytes_written_per_row",
    "region_build.hit_ratio": "hit_ratio",
    "trajectory.collapse_ratio": "collapse_ratio",
    "trajectory.expansion_ratio": "expansion_ratio",
    "incremental.bytes_written_per_delta_row": "bytes_written_per_delta_row",
}
NOTE_MEANS = {
    "incremental.partitions_touched_per_merge": "partitions_touched_per_merge",
    "incremental.bulk_share": "bulk_share",
}


def traced_metrics(r, wl, spark, args, session_start, record) -> dict:
    """A third of the time untraced under per-operation job groups
    (exact job counts and the untraced latency), the rest traced;
    per-layer metrics from the traced part. Layers the workload does
    not run read 0."""
    tr = spans.Tracer(spark)
    gc0 = spans.jvm_gc_ms(spark)
    base, _, base_ops = r.loop(args.seconds / 3, tr=tr, min_ops=1)
    gc_per_op = (spans.jvm_gc_ms(spark) - gc0) / max(1, len(base))
    # the traced part replays the untraced part's inputs
    r.next_op += (base_ops[0] - r.next_op) % wl.period
    traced, _, _ = r.loop(args.seconds * 2 / 3, traced=True, tr=tr, min_ops=2)
    record["untraced_ms"] = [t * 1e3 for t in base]
    record["traced_ms"] = [t * 1e3 for t in traced]
    record["op_samples"] = len(traced)
    os.makedirs(TRACES, exist_ok=True)
    tr.dump(os.path.join(TRACES, f"{args.workload}-seed{args.seed}.jsonl"))

    m = {k: 0.0 for k in PER_LAYER}
    m["session.start_s"] = session_start
    m["session.jvm_peak_rss_mb"] = spans.peak_rss_mb(spans.jvm_pid(spark))
    m["session.gc_ms_per_op"] = gc_per_op
    m["trace.overhead_ms"] = (median(traced) - median(base)) * 1e3
    for part, name in wl.jobs_metrics.items():
        counts = [tr.jobs_and_tasks(i, part) for i in base_ops]
        record[f"{name}_jobs_tasks"] = counts
        m[name] = median([jobs for jobs, _ in counts])
    for name, (layer, phase) in SPAN_METRICS.items():
        m[name] = median(tr.self_ms(layer, phase))
    for name, key in NOTE_MEDIANS.items():
        m[name] = median(wl.layer.get(key, []))
    for name, key in NOTE_MEANS.items():
        if wl.layer.get(key):
            m[name] = statistics.mean(wl.layer[key])
    geohash_ms = tr.self_ms("geohash")
    if geohash_ms:
        # one encode per precision the cascade probes (5..8)
        m["geohash.encode_ms_per_mrow"] = median(geohash_ms) / 4 / (wl.rows(0) / 1e6)
    if hasattr(wl, "table_space"):
        m["incremental.table_files"], m["incremental.bytes_per_live_row"] = wl.table_space()
    return m


if __name__ == "__main__":
    sys.exit(main())
