"""Self-tests of the benchmark harness: ``python3 -m pytest dqbench -q``."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path[:0] = [HERE, REPO]

import data  # noqa: E402
import layers  # noqa: E402
from counters import SparkCounters, python_worker_cpu_s  # noqa: E402
from oracle import DuckOracle  # noqa: E402


def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] \
        == list(layers.END_TO_END)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] \
        == [(m, u) for m, _, _, u in layers.SPAN_METRICS] \
        + list(layers.OTHER_METRICS)


def test_inputs_are_a_function_of_the_seed():
    assert data.lineitem(5, 200).equals(data.lineitem(5, 200))
    assert not data.lineitem(5, 200).equals(data.lineitem(6, 200))
    docs, emb = data.corpus(5)
    docs2, emb2 = data.corpus(5)
    assert docs.equals(docs2) and emb.equals(emb2)
    # a vector keeps the (renamed) id of its document
    text = dict(zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()))
    assert set(emb["vec_id"].to_pylist()) <= text.keys()


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from run import start_spark
    session = start_spark(str(tmp_path_factory.mktemp("work")))
    yield session
    session.stop()


@pytest.fixture(scope="module")
def lineitem(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("lineitem"))
    data.write_files(data.lineitem(3, 100), root, 4, 3)
    return root


def test_counters_repeat_exactly(spark, lineitem):
    """Drained status-store counters of identical operations are equal.
    Which stages a job skips depends on the timing of the runner's
    concurrent jobs, so ``stage_slots`` is left out."""
    from deequ_spark import VerificationSuite
    from workloads import nightly_check
    df = spark.read.parquet(lineitem)
    check = nightly_check()
    counters = SparkCounters(spark)
    seen = []
    for i in range(3):
        group = f"repeat-{i}"
        first = counters.next_stage_id()
        spark.sparkContext.setJobGroup(group, group)
        VerificationSuite().on_data(df).add_check(check).run()
        c = counters.read([group], first)[group]
        seen.append((c.jobs, c.stages, c.tasks,
                     c.input_records, c.shuffle_bytes))
    assert seen[0][0] > 0 and seen[0][3] > 0
    assert seen[1] == seen[0] and seen[2] == seen[0]


def test_python_worker_cpu_counts_udfs(spark):
    """A Python UDF's CPU shows in the Python workers' CPU, not in
    Spark's executor CPU time, which covers only the JVM's task
    threads."""
    from pyspark.sql.functions import udf

    @udf("long")
    def spin(x):
        t = time.process_time()
        while time.process_time() - t < 0.4:
            pass
        return x

    counters = SparkCounters(spark)
    first = counters.next_stage_id()
    spark.sparkContext.setJobGroup("spin", "spin")
    cpu = python_worker_cpu_s(os.getpid())
    spark.range(0, 4, 1, 4).select(spin("id")).collect()
    cpu = python_worker_cpu_s(os.getpid()) - cpu
    exec_cpu = counters.read(["spin"], first)["spin"].exec_cpu_s
    assert cpu >= 1.4 and exec_cpu < 0.5 * cpu


def test_oracle_accepts_engine_and_rejects_a_wrong_value(spark, lineitem):
    from deequ_spark import Mean, VerificationSuite
    from deequ_spark.metrics import DoubleMetric
    from workloads import nightly_check
    check = nightly_check()
    result = (VerificationSuite().on_data(spark.read.parquet(lineitem))
              .add_check(check).run())
    oracle = DuckOracle(os.path.join(lineitem, "*.parquet"))
    expected = {a: oracle.expected(a) for a in check.required_analyzers()}
    metrics = dict(result.metrics.metric_map)
    assert oracle.mismatches(metrics, expected) == []
    mean = Mean("l_extendedprice")
    good = metrics[mean]
    metrics[mean] = DoubleMetric(good.entity, good.name, good.instance,
                                 good.value * (1 + 1e-6))
    assert len(oracle.mismatches(metrics, expected)) == 1


def test_fails_without_deequ_spark(tmp_path):
    shutil.copytree(HERE, tmp_path / "dqbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "dqbench/run.py", "--workload", "verify_nightly",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
