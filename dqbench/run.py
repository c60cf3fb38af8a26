"""deequ_spark benchmark: one workload, one seed, one JSON result line.

    python3 dqbench/run.py --workload verify_nightly --seed 1 \
        --seconds 10 --trace 0

Runs from any working directory. It starts one Spark driver on
local[min(nproc, 4)], generates the workload's inputs from the seed,
warms up with the workload's untimed operations, then runs rounds of
operations back to back (a closed loop with one caller). It stops before
a round that would, at the pace of the last one, end after ``--seconds``;
the first round always runs. Every output is checked against an
oracle outside the timed region. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics of a traced run with
``--trace 1``. README.md in this directory describes every metric.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
CORES = min(os.cpu_count() or 1, 4)
HEAP = "1g"
SETUP_REPEATS = 3
FLOOR_SAMPLES = 10
HARNESS_GROUP = "dqbench-harness"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_spark(work):
    """A local session whose scratch files stay under ``work``. Python
    workers find deequ_spark through PYTHONPATH (the KLL pass unpickles
    deequ_spark objects in them)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master(f"local[{CORES}]")
             .appName("dqbench")
             .config("spark.driver.memory", HEAP)
             # a heap of fixed size sizes the collector's generations the
             # same way in every run; its pages become resident only as
             # they are used. Without perf data the JVM writes nothing
             # to /tmp
             .config("spark.driver.extraJavaOptions",
                     f"-Djava.io.tmpdir={tmp} -Xms{HEAP} -XX:-UsePerfData")
             .config("spark.local.dir", os.path.join(work, "spark-local"))
             .config("spark.sql.warehouse.dir", os.path.join(work, "wh"))
             .config("spark.sql.shuffle.partitions", str(CORES))
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def job_floor_s(spark):
    """Median latency of a trivial one-task action."""
    samples = []
    for _ in range(FLOOR_SAMPLES):
        t = time.perf_counter()
        spark.range(1).collect()
        samples.append(time.perf_counter() - t)
    return statistics.median(samples)


class Run:
    def __init__(self, args, work):
        self.args = args
        self.work = work
        self.ops = []          # untraced operations
        self.traced = []       # traced operations
        self.retained = (0, 0.0)
        self.layer_sizes = (0.0, 0.0)

    def setup(self):
        from workloads import WORKLOADS
        t = time.perf_counter()
        self.spark = start_spark(self.work)
        self.sc = self.spark.sparkContext
        session_s = time.perf_counter() - t
        self.job_floor_s = job_floor_s(self.spark)

        from counters import SparkCounters
        self.counters = SparkCounters(self.spark)
        self.wl = WORKLOADS[self.args.workload](
            self.spark, self.args.seed, os.path.join(self.work, "state"))
        prep = []
        for k in range(SETUP_REPEATS):
            root = os.path.join(self.work, f"inputs-{k}")
            t = time.perf_counter()
            self.wl.prepare(root)
            self.wl.load(root)
            prep.append(time.perf_counter() - t)
            if k:
                shutil.rmtree(os.path.join(self.work, f"inputs-{k - 1}"))

        t = time.perf_counter()
        outs = [self.wl.op(i) for i in range(self.wl.warmup_ops)]
        warm_s = time.perf_counter() - t
        self.setup_s = session_s + statistics.median(prep) + warm_s
        self.sc.setLocalProperty("spark.jobGroup.id", HARNESS_GROUP)
        for i, (_, out) in enumerate(outs):
            problems = self.wl.check(i, out)
            self.wl.release(out)
            if problems:
                raise RuntimeError(f"warm-up operation {i}: {problems}")
        self.counters.collect_garbage()
        print(f"setup: session {session_s:.2f} s, inputs median "
              f"{statistics.median(prep):.2f} s of {prep}, warm-up "
              f"{warm_s:.2f} s", flush=True)

    def one(self, i, tracer=None):
        """Run operation i and record wall time, counters and problems."""
        from counters import python_worker_cpu_s, tree_peak_rss_mb
        first_stage = self.counters.next_stage_id()
        rec = {"i": i, "problems": []}
        worker_cpu = 0.0
        try:
            if tracer is None:
                group = f"dqbench-op-{i}"
                self.sc.setJobGroup(group, f"{self.args.workload} op {i}")
                cpu = python_worker_cpu_s(os.getpid())
                t = time.perf_counter()
                rows, out = self.wl.op(i)
                rec["wall"] = time.perf_counter() - t
                worker_cpu = python_worker_cpu_s(os.getpid()) - cpu
            else:
                with tracer.span("op") as root:
                    rows, out = self.wl.traced_op(tracer, i)
                rec["wall"] = root["end"] - root["start"]
        except Exception:  # noqa: BLE001 — a failed operation is counted
            rec["problems"].append(traceback.format_exc(limit=3))
            rec["wall"], rows, out = math.nan, 0, None
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", HARNESS_GROUP)
        rec["rows"] = rows
        if tracer is None:
            rec["counts"] = self.counters.read([group], first_stage)[group]
            rec["cpu"] = worker_cpu + rec["counts"].exec_cpu_s
        else:
            spans = tracer.subtree(root["id"])
            tracer.attach_counts(self.counters, first_stage, spans)
            rec["layers"] = tracer.totals(root["id"])
        if out is not None:
            try:
                rec["problems"] += self.wl.check(i, out)
            except Exception:  # noqa: BLE001 — a failed check is a failure
                rec["problems"].append(traceback.format_exc(limit=3))
            self.wl.release(out)
        rec["rss_mb"] = tree_peak_rss_mb(os.getpid())
        # the next operation starts on a collected heap; what this one
        # left in use is its live_heap_mb
        rec["live_heap_mb"] = self.counters.collect_garbage()
        if self.args.trace:
            self.retained = max(self.retained,
                                self.counters.retained_storage())
            if hasattr(self.wl, "layer_sizes") and out is not None:
                self.layer_sizes = tuple(map(max, self.layer_sizes,
                                             self.wl.layer_sizes(i)))
        for p in rec["problems"]:
            print(f"op {i}: {p}", file=sys.stderr, flush=True)
        return rec

    def measure(self):
        from spans import Tracer
        tracer = Tracer(self.sc) if self.args.trace else None
        self.tracer = tracer
        per_round = self.wl.ops_per_round
        # measured rounds start after the round the warm-up ran in
        i = -(-self.wl.warmup_ops // per_round) * per_round
        rounds = 0
        start = time.perf_counter()
        while True:
            round_start = time.perf_counter()
            if hasattr(self.wl, "start_round"):
                self.wl.start_round(i)
            traced_round = tracer is not None and rounds % 2 == 1
            for _ in range(per_round):
                rec = self.one(i, tracer if traced_round else None)
                rec["round"] = rounds
                (self.traced if traced_round else self.ops).append(rec)
                i += 1
            rounds += 1
            now = time.perf_counter()
            # stop before a round that would end after --seconds; a traced
            # run puts a traced round between two untraced ones, so the
            # operations still speeding up early in a run do not bias
            # the tracing overhead
            over = now - start + (now - round_start) > self.args.seconds
            if over and (tracer is None or rounds >= 3):
                break
        self.finish_problems = self.wl.finish()
        for p in self.finish_problems:
            print(f"oracle: {p}", file=sys.stderr, flush=True)

    def end_to_end(self):
        """Per-operation metrics are medians over rounds of the round's
        mean operation: the operations of one round differ (the days of
        a chain), those of different rounds repeat."""
        rounds = {}
        for r in self.ops:
            rounds.setdefault(r["round"], []).append(r)
        whole = [ops for ops in rounds.values()
                 if not any(math.isnan(r["wall"]) for r in ops)]
        print(timing_line("op_s", [r["wall"] for ops in whole for r in ops]),
              flush=True)

        def per_round(value):
            return statistics.median(value(ops) for ops in whole)

        def total(ops, key):
            return sum(key(r) for r in ops)

        values = {
            "setup_s": self.setup_s,
            "op_s": per_round(lambda ops: total(ops, lambda r: r["wall"])
                              / len(ops)),
            "rows_per_s": per_round(lambda ops: total(ops, lambda r: r["rows"])
                                    / total(ops, lambda r: r["wall"])),
            "cpu_s": per_round(lambda ops: total(ops, lambda r: r["cpu"])
                               / len(ops)),
            "input_passes": per_round(
                lambda ops: total(ops, lambda r: r["counts"].input_records)
                / total(ops, lambda r: r["rows"])),
            "shuffle_mb": per_round(
                lambda ops: total(ops, lambda r: r["counts"].shuffle_mb)
                / len(ops)),
            "peak_rss_mb": max(r["rss_mb"] for r in self.ops),
        }
        from layers import END_TO_END
        return {name: (values[name], unit) for name, unit in END_TO_END}

    def per_layer(self):
        from layers import layer_metrics
        return layer_metrics(self, CORES)


def timing_line(name, walls):
    """Median, sample count and the highest percentile that has at least
    ten samples beyond it (none below eleven samples)."""
    n = len(walls)
    line = (f"{name}: median {statistics.median(walls):.4f} s over {n} ops "
            f"{[round(w, 3) for w in walls]}")
    if n >= 11:
        pct = math.floor(100 * (1 - 10 / n))
        q = statistics.quantiles(walls, n=100, method="inclusive")[pct - 1]
        line += f", p{pct} {q:.4f} s"
    else:
        line += ", no percentile has ten samples beyond it"
    return line


def stop_processes(spark):
    """Stop Spark, then the JVM and every process it started, and wait
    for each to end."""
    from counters import descendants
    from pyspark import SparkContext
    kids = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=20)
            except Exception:  # noqa: BLE001 — escalate below
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.time() + 20
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def main(argv=None):
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(REPO, "deequ_spark", "__init__.py")):
        print(f"dqbench: no deequ_spark package in {REPO}", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"dqbench: unknown workload {args.workload}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(REPO, ".dqbench", f"work-{os.getpid()}")
    run = Run(args, work)
    try:
        run.setup()
        run.measure()
        metrics = run.per_layer() if args.trace else run.end_to_end()
        if args.trace:
            out = os.path.join(REPO, ".dqbench", "traces")
            os.makedirs(out, exist_ok=True)
            run.tracer.dump(os.path.join(
                out, f"{args.workload}-seed{args.seed}.jsonl"))
    finally:
        if getattr(run, "spark", None) is not None:
            stop_processes(run.spark)
        shutil.rmtree(work, ignore_errors=True)
    recs = run.ops + run.traced
    failed = sum(bool(r["problems"]) for r in recs)
    result = {
        "correct": failed == 0 and not run.finish_problems,
        "attempted": len(recs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }
    print(f"failed_ratio: {failed / len(recs):.4f} "
          f"({failed} of {len(recs)} operations)", flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
