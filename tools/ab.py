"""Interleaved A/B of bench.py workloads between two sides, with exact
Spark counters per call.

A *side* is a code tree plus optional Spark confs; a conf flip is the
same tree on both sides with different confs. Each side runs as its own
long-lived process whose cwd and first ``PYTHONPATH`` entry are its
tree, so its driver AND the Python workers its JVM forks import that
tree's ``deequ_spark``. (Swapping modules inside one process does not
do this: cloudpickle ships a UDF closure by value but the module-level
helpers it calls by reference, so the workers would run whatever copy
is on their own path.) At start-up each side checks that its driver and
one Python worker both resolve ``deequ_spark`` under its tree, and
refuses to run otherwise.

The workloads are bench.py's table, loaded by file path from this
tool's own checkout, so a side's own bench.py never runs. Each call
runs in its own job group and is read with ``dqbench/counters.py``'s
``SparkCounters``: jobs, stages, tasks, input records, shuffle MB and
executor CPU, plus the RDDs and MB still held in executor storage
after the call (and the RDD count before it). Rounds alternate which
side goes first.

Usage:
    python tools/ab.py --a TREE --b TREE [--a-conf K=V ...]
        [--b-conf K=V ...] [--only b4_histogram_entropy,...] [--rounds 6]

Prints one line per workload, then one JSON object as the last stdout
line: per workload and side the median and IQR of wall time, the pair
wins, every round's counters, and the counters that differ between
sides in any round.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TAG = "@@ab "
# counters that must not move when the code under test does the same work
EXACT = ("jobs", "stages", "tasks", "input_records", "shuffle_mb")


def load(name, path):
    """Import the file at ``path`` as module ``name``."""
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[name] = mod
    spec.loader.exec_module(mod)
    return mod


def side_env(tree, base):
    """(cwd, environment) of the process for the side at ``tree``: the
    tree is its cwd and the first entry of its PYTHONPATH."""
    tree = os.path.realpath(tree)
    env = dict(base)
    rest = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    env["PYTHONPATH"] = os.pathsep.join([tree] + rest)
    return tree, env


def under(path, tree):
    return os.path.realpath(path).startswith(
        os.path.join(os.path.realpath(tree), ""))


def spread(xs):
    """(median, IQR) with inclusive quartiles; IQR 0 for one sample."""
    if len(xs) < 2:
        return (xs[0] if xs else None), 0.0
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return round(q2, 4), round(q3 - q1, 4)


def pair_wins(a, b):
    """Rounds each side was faster in; a tie counts for neither."""
    return {"a": sum(x < y for x, y in zip(a, b)),
            "b": sum(y < x for x, y in zip(a, b))}


def deltas(a, b):
    """B minus A for every numeric counter both rounds recorded."""
    return {k: round(b[k] - v, 6) for k, v in a.items()
            if k != "wall_s" and isinstance(v, (int, float)) and k in b}


def summarize(ra, rb):
    """Per-workload result from each side's list of round records."""
    ok = [(x, y) for x, y in zip(ra, rb) if "error" not in x
          and "error" not in y]
    wa, wb = [x["wall_s"] for x, _ in ok], [y["wall_s"] for _, y in ok]
    delta = [deltas(x, y) for x, y in ok]
    out = {"wins": pair_wins(wa, wb), "delta": delta,
           "differs": sorted({k for d in delta for k in EXACT if d.get(k)})}
    for side, rs, w in (("a", ra, wa), ("b", rb, wb)):
        med, iqr = spread(w)
        out[side] = {"median_s": med, "iqr_s": iqr, "rounds": rs}
    return out


# ---- side process ---------------------------------------------------

def _worker_file(_):
    import deequ_spark
    return deequ_spark.__file__


def serve(tree, confs, only):
    def say(msg):
        print(TAG + json.dumps(msg), flush=True)

    import deequ_spark
    from pyspark import cloudpickle
    bench = load("ab_bench", os.path.join(HERE, "bench.py"))
    # bench.py is not importable on the workers: ship its code by value
    cloudpickle.register_pickle_by_value(bench)
    counters = load("ab_counters", os.path.join(HERE, "dqbench",
                                                "counters.py"))
    spark = bench.session(f"ab-{os.path.basename(tree)}")
    for kv in confs:
        spark.conf.set(*kv.split("=", 1))
    sc = spark.sparkContext
    files = {"driver": deequ_spark.__file__,
             "worker": sc.parallelize([0], 1).map(_worker_file).first()}
    if not all(under(f, tree) for f in files.values()):
        say({"refused": files})
        spark.stop()
        return 1
    fns, cleanup = bench.workloads(spark, only)
    c = counters.SparkCounters(spark)
    say({"ready": files})
    for line in sys.stdin:
        cmd = json.loads(line)
        if "run" not in cmd:
            break
        name, group = cmd["run"], cmd["group"]
        c.collect_garbage()
        rdds0, _ = c.retained_storage()
        first = c.next_stage_id()
        sc.setJobGroup(group, group)
        rec = {}
        t0 = time.perf_counter()
        try:
            fns[name]()
            rec["wall_s"] = round(time.perf_counter() - t0, 3)
        except Exception as exc:  # noqa: BLE001 — reported, not fatal
            traceback.print_exc()
            rec["error"] = repr(exc)[:500]
        finally:
            sc.setJobGroup(None, None)
        n = c.read([group], first)[group]
        c.collect_garbage()
        rdds, mb = c.retained_storage()
        rec.update(jobs=n.jobs, stages=n.stages, tasks=n.tasks,
                   input_records=n.input_records,
                   shuffle_mb=round(n.shuffle_mb, 6),
                   exec_cpu_s=round(n.exec_cpu_s, 3),
                   retained_rdds_before=rdds0, retained_rdds=rdds,
                   retained_mb=round(mb, 3))
        say(rec)
    cleanup()
    spark.stop()
    return 0


# ---- coordinator ----------------------------------------------------

class Side:
    def __init__(self, label, tree, confs, only):
        cwd, env = side_env(tree, os.environ)
        self.label = label
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "--serve", cwd,
             "--only", ",".join(only)]
            + [f"--side-conf={kv}" for kv in confs],
            cwd=cwd, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            text=True)

    def recv(self):
        for line in self.proc.stdout:
            if line.startswith(TAG):
                return json.loads(line[len(TAG):])
        raise RuntimeError(f"side {self.label} exited "
                           f"({self.proc.wait()}) without a reply")

    def send(self, msg):
        self.proc.stdin.write(json.dumps(msg) + "\n")
        self.proc.stdin.flush()

    def close(self):
        if self.proc.poll() is None:
            try:
                self.send({"stop": True})
                self.proc.wait(timeout=120)
            except (OSError, subprocess.TimeoutExpired):
                self.proc.kill()


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--a", help="side A's code tree")
    ap.add_argument("--b", help="side B's code tree")
    ap.add_argument("--a-conf", action="append", default=[])
    ap.add_argument("--b-conf", action="append", default=[])
    ap.add_argument("--only", help="comma-separated bench.py workloads")
    ap.add_argument("--rounds", type=int, default=6)
    ap.add_argument("--serve", help=argparse.SUPPRESS)
    ap.add_argument("--side-conf", action="append", default=[],
                    help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    only = [w for w in (args.only or "").split(",") if w] or None
    if args.serve:
        return serve(args.serve, args.side_conf, only)
    if not (args.a and args.b):
        ap.error("--a and --b are required")
    if only is None:
        only = list(load("ab_bench", os.path.join(HERE, "bench.py"))
                    .WORKLOADS)
    sides = {}
    try:
        for label, tree, confs in (("a", args.a, args.a_conf),
                                   ("b", args.b, args.b_conf)):
            sides[label] = Side(label, tree, confs, only)
        for s in sides.values():
            msg = s.recv()
            if "ready" not in msg:
                print(f"side {s.label} refused: {msg}", file=sys.stderr)
                return 2
            print(f"side {s.label}: {msg['ready']}", file=sys.stderr)
        recs = {w: {"a": [], "b": []} for w in only}
        for r in range(args.rounds):
            order = "ab" if r % 2 == 0 else "ba"
            for w in only:
                for label in order:
                    sides[label].send({"run": w, "group": f"ab-{w}-{r}"})
                    rec = sides[label].recv()
                    recs[w][label].append(rec)
                    print(f"round {r} {w} {label}: {rec}", file=sys.stderr)
    finally:
        for s in sides.values():
            s.close()
    out = {w: summarize(v["a"], v["b"]) for w, v in recs.items()}
    for w, o in out.items():
        print(f"{w}: a {o['a']['median_s']} s (IQR {o['a']['iqr_s']}) "
              f"b {o['b']['median_s']} s (IQR {o['b']['iqr_s']}) "
              f"wins {o['wins']} differs {o['differs']}")
    print(json.dumps({"a": {"tree": os.path.realpath(args.a),
                            "conf": args.a_conf},
                      "b": {"tree": os.path.realpath(args.b),
                            "conf": args.b_conf},
                      "rounds": args.rounds, "workloads": out}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
