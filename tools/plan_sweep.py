"""Plan-lint sweep over the bench suite (round-11 judge ask #5).

Runs every bench workload's central DataFrame through
``deequ_spark.diagnostics.plan_report(execute=True)`` — the FINAL
adaptive plan, not the initial one — and asserts the do-not-ship
invariants across the whole suite:

* ``cartesian == 0`` (no CartesianProduct anywhere),
* ``nested_loop_joins == 0`` (no BroadcastNestedLoopJoin),
* ``python_row_udfs == 0`` (no row-at-a-time BatchEvalPython).

Workload coverage: each entry below reuses bench.py's fixture builders
and calls the same library entry points with the same arguments, so the
linted plan is the plan the bench times.  Workloads with no single
lintable DataFrame are listed in ``NON_PLAN_WORKLOADS`` with the test
that pins their structure instead:

* b1/b2/b3/b5/b13/b14 run through the analysis runner whose fused plans
  are already plan- and job-count-asserted (tests/test_runner_fusion.py,
  tests/test_plan_shape.py) — b1's fused agg and b2's grouping stage are
  reconstructed here anyway via the public analyzer API so the sweep
  also sees them;
* b10 (KLL) is one Arrow pass (tests/test_plan_shape.py);
* b12 (streaming) runs foreachBatch micro-batch plans —
  tests/test_streaming.py pins batch counts and state merge.

Usage: python tools/plan_sweep.py [sf_dir]
Writes tools/PLAN_SWEEP_r13.json and exits non-zero on any violation.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import bench  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

if len(sys.argv) > 1:
    bench.SF_DIR = sys.argv[1]
SF_DIR = bench.SF_DIR

NON_PLAN_WORKLOADS = {
    "b3_verification": "tests/test_runner_fusion.py (same fused scan+grouping as b1/b2)",
    "b10_kll": "tests/test_plan_shape.py (single Arrow pass)",
    "b12_streaming": "tests/test_streaming.py (foreachBatch micro-batch)",
    "b13_profile": "tests/test_plan_shape.py (3-pass profiler structure)",
    "b14_incremental": "driver-side state merge, no plan",
}


def build_plans(spark):
    """(name -> DataFrame, cleanup), mirroring bench.py's workload
    expressions over bench.py's fixtures."""
    fx, cleanup = bench.fixtures(spark, {"dedup_index", "images",
                                         "warc_dir"})
    lineitem, orders, cust = fx["lineitem"], fx["orders"], fx["cust"]
    docs, emb = fx["docs"], fx["emb"]
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")

    plans = {}

    # --- b1: the fused single-pass scan agg (public analyzer API) ---
    from deequ_spark import (ApproxCountDistinct, ApproxQuantile,
                             Completeness, Compliance, Maximum, Mean,
                             Minimum, PatternMatch, Size,
                             StandardDeviation, Sum)
    analyzers = [
        Size(), Completeness("l_orderkey"), Completeness("l_partkey"),
        Completeness("l_shipdate"),
        Mean("l_extendedprice"), Sum("l_extendedprice"),
        Minimum("l_extendedprice"), Maximum("l_extendedprice"),
        StandardDeviation("l_extendedprice"),
        Compliance("qty_pos", "l_quantity > 0"),
        Compliance("disc", "l_discount BETWEEN 0.0 AND 0.1"),
        ApproxCountDistinct("l_orderkey"),
        ApproxQuantile("l_extendedprice", 0.5),
        PatternMatch("l_returnflag", "^[ANR]$"),
    ]
    aggs = []
    for a in analyzers:
        aggs.extend(a.aggregation_functions())
    plans["b1_scan_fused"] = lineitem.agg(*aggs)

    # --- b2: grouping frequencies + fused second stage ---
    from deequ_spark import (CountDistinct, Distinctness, Entropy,
                             Uniqueness)
    from deequ_spark.analyzers.grouping import (COUNT_COL,
                                                exclude_all_null_groups,
                                                frequencies_plan_all)
    freq = exclude_all_null_groups(
        frequencies_plan_all(orders, ["o_custkey"]), ["o_custkey"])
    aggs2 = [F.sum(F.col(COUNT_COL)).cast("long")]
    for a in [Uniqueness(("o_custkey",)), Entropy("o_custkey"),
              Distinctness(("o_custkey",)), CountDistinct(("o_custkey",))]:
        aggs2.extend(a.aggregation_functions())
    plans["b2_grouping"] = freq.agg(*aggs2)

    # --- b5: row-level annotation projection ---
    from deequ_spark import Check, CheckLevel, VerificationSuite
    check = (Check(CheckLevel.ERROR, "rows")
             .satisfies("l_quantity > 0", "qty_pos", lambda v: True)
             .is_complete("l_orderkey"))
    result = VerificationSuite().on_data(lineitem).add_check(check).run()
    plans["b5_row_level"] = result.row_level_results_as_dataframe(lineitem)

    # --- DataFrame-shaped workloads: same calls as bench.py ---
    from deequ_spark.llm import (attach_binary_payload, bm25_topk,
                                 brute_force_topk, dedup_against_index,
                                 duplicate_span_removal,
                                 embedding_near_duplicates,
                                 extract_binary_features,
                                 image_near_duplicates, knn_join,
                                 language_id, minhash_lsh_pairs,
                                 pack_sequences, prepare_training_corpus,
                                 semantic_duplicate_pairs, text_quality,
                                 token_count_whitespace)
    from deequ_spark.llm.warc import crawl_to_corpus
    from deequ_spark import asof_join, interval_join
    from deequ_spark.joins import rolling_stats
    from deequ_spark.layout import cluster_by_zorder
    from deequ_spark.linkage import edit_distance_join

    plans["b6_dedup_lsh"] = minhash_lsh_pairs(
        docs, "doc_id", "text", threshold=0.8, num_hashes=64, bands=32,
        shingle_n=3)

    qvec = emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    plans["b7a_brute_topk"] = brute_force_topk(
        emb, "vec_id", "embedding", [float(v) for v in qvec], k=10)
    plans["b7b_knn_join"] = knn_join(
        emb.where(F.col("vec_id") < 10), emb, "vec_id", "vec_id",
        "embedding", k=5)

    plans["b8_text"] = text_quality(language_id(docs, "text"), "text")
    plans["b9_multimodal"] = extract_binary_features(
        attach_binary_payload(docs, "text", "doc_id"))
    plans["b11_embedding_near_dup"] = embedding_near_duplicates(
        emb, "vec_id", "embedding", threshold=0.9, auto_tune=True)
    plans["b15_sequence_packing"] = pack_sequences(
        docs, "doc_id", token_count_whitespace(F.col("text")),
        budget=256, n_groups=32)
    plans["b16_bm25"] = bm25_topk(docs, "doc_id", "text",
                                  "hash join merge table", k=10)
    plans["b17_span_dedup"] = duplicate_span_removal(
        docs, "doc_id", "text", n=4)
    cents = [[1.0 if i == j else 0.0 for i in range(64)] for j in range(8)]
    plans["b18_semantic_dedup"] = semantic_duplicate_pairs(
        emb, "vec_id", "embedding", threshold=0.8, centroids=cents)

    clicks = ev.where(F.col("event_type") == "click") \
        .select("event_id", "user_id", "ts")
    views = ev.where(F.col("event_type") == "view") \
        .select("user_id", "ts", F.col("value").alias("vval"))
    plans["b19_asof_join"] = asof_join(clicks, views, on="ts", by="user_id")
    views_iv = ev.where(F.col("event_type") == "view") \
        .select("user_id", F.col("ts").alias("ws"),
                (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("we"))
    plans["b20_interval_join"] = interval_join(
        clicks, views_iv, on="ts", start="ws", end="we", by="user_id")
    plans["b21_rolling_stats"] = rolling_stats(
        ev.select("event_id", "user_id", "ts", "value"), "ts", "value",
        window_seconds=3600.0, by="user_id", stats=("sum", "count"))

    idx_path, idx_batch = fx["dedup_index"]
    _, dups = dedup_against_index(idx_batch, "doc_id", "text",
                                  idx_path, threshold=0.5)
    plans["b22_incremental_dedup"] = dups

    plans["b23_image_phash"] = image_near_duplicates(
        fx["images"], "img_id", "payload", max_hamming=3)

    chunks, _ = crawl_to_corpus(spark, fx["warc_dir"], source="wet",
                                min_words=20, quality_filter=False,
                                collect_stats=False)
    plans["b24_crawl_ingest"] = chunks

    plans["b25_fuzzy_join"] = edit_distance_join(cust, "c_name", 1,
                                                 "c_custkey")
    plans["b26_zorder_cluster"] = cluster_by_zorder(
        orders, ["o_custkey", "o_totalprice"], bits=16, num_partitions=32)

    from deequ_spark import bloom_semi_join
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT") \
        .select("o_orderkey")
    plans["b28_bloom_join"] = bloom_semi_join(
        lineitem, urgent, "l_orderkey", small_on="o_orderkey")

    out, _ = prepare_training_corpus(
        docs, "doc_id", "text", min_words=20, boilerplate_min_docs=2,
        near_dup_threshold=0.5, unicode_normalize=True,
        embeddings=emb.select("vec_id", "embedding"),
        embedding_cols=("vec_id", "embedding"),
        semantic_threshold=0.97, semantic_clusters=8, pack_budget=256,
        collect_stats=False, gopher_kwargs={"min_stopword_hits": 1})
    plans["b27_pipeline_chain"] = out

    return plans, cleanup


def main():
    from deequ_spark.diagnostics import plan_report

    spark = bench.session("deequ-spark-plan-sweep")
    plans, cleanup = build_plans(spark)
    reports, violations = {}, []
    for name, df in plans.items():
        rep = plan_report(df, execute=True)
        reports[name] = rep
        for key in ("cartesian", "nested_loop_joins", "python_row_udfs"):
            if rep[key]:
                violations.append(f"{name}: {key}={rep[key]}")
        print(f"{name}: exchanges={rep['exchanges']} "
              f"bcast={rep['broadcast_joins']} smj={rep['sortmerge_joins']} "
              f"arrow={rep['arrow_python']} "
              f"codegen={rep['wholestage_codegen_spans']} "
              f"{'VIOLATION' if any(v.startswith(name) for v in violations) else 'ok'}",
              flush=True)

    out = {
        "sf_dir": SF_DIR,
        "workloads": reports,
        "not_plan_lintable": NON_PLAN_WORKLOADS,
        "violations": violations,
    }
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "PLAN_SWEEP_r13.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)

    cleanup()
    spark.stop()

    if violations:
        print("VIOLATIONS:", violations)
        sys.exit(1)
    print(f"plan sweep clean: {len(reports)} workloads, 0 violations")


if __name__ == "__main__":
    main()
