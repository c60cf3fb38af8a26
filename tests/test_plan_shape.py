"""Plan-shape regression tests — the scale contract, asserted on
`.explain` output (BASELINE.md structural invariants).

These complement the job-count tests in test_runner_fusion.py: job counts
prove fusion happened; plan shapes prove the scan stays narrow, shuffles
stay minimal, and joins pick the intended strategy.
"""

import pytest
from py4j.protocol import Py4JJavaError

from deequ_spark import (Completeness, Maximum, Mean, Minimum, Size,
                         do_analysis_run)


def explain_str(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))


def count_nodes(plan: str, name: str) -> int:
    """Count physical nodes in 'formatted' output (each node appears once
    as a numbered detail header '(N) <Name>')."""
    import re
    return len(re.findall(rf"^\(\d+\) {name}", plan, re.MULTILINE))


@pytest.fixture(scope="module")
def lineitem(spark):
    return spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")


def test_fused_scan_prunes_columns(lineitem):
    """The fused agg over 5 analyzers referencing 3 columns must push a
    3-column ReadSchema to the parquet scan."""
    analyzers = [Size(), Completeness("l_orderkey"), Mean("l_extendedprice"),
                 Minimum("l_quantity"), Maximum("l_quantity")]
    referenced = set()
    for a in analyzers:
        cols = a.columns_referenced()
        if cols:
            referenced.update(cols)
    pruned = lineitem.select(*sorted(referenced))
    aggs = []
    for a in analyzers:
        aggs.extend(a.aggregation_functions())
    plan = explain_str(pruned.agg(*aggs))
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" in read_schema
    assert "l_quantity" in read_schema
    assert "l_extendedprice" in read_schema
    # the 8 unreferenced lineitem columns must NOT be read
    for col in ("l_partkey", "l_suppkey", "l_tax", "l_returnflag",
                "l_shipdate", "l_discount"):
        assert col not in read_schema, f"{col} leaked into ReadSchema"


def test_fused_scan_single_exchange(lineitem):
    """One fused aggregation = partial agg -> ONE exchange -> final agg."""
    aggs = []
    for a in [Size(), Mean("l_extendedprice"), Minimum("l_quantity")]:
        aggs.extend(a.aggregation_functions())
    plan = explain_str(lineitem.agg(*aggs))
    assert count_nodes(plan, "Exchange") == 1
    assert count_nodes(plan, "HashAggregate") == 2   # partial + final


def test_grouping_plan_single_shuffle(spark, lineitem):
    """The shared frequency table = ONE shuffle on the grouping columns."""
    from deequ_spark.analyzers.grouping import (exclude_all_null_groups,
                                                frequencies_plan_all)
    freq = exclude_all_null_groups(
        frequencies_plan_all(lineitem, ["l_returnflag"]), ["l_returnflag"])
    plan = explain_str(freq)
    assert count_nodes(plan, "Exchange") == 1


def _executed_stages(spark, run):
    """Run ``run()`` in its own job group; return the completed stages of
    its jobs as (id, reads the parquet scan, shuffle bytes written)."""
    import uuid
    sc = spark.sparkContext
    group = f"plan-shape-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store, tracker = sc._jsc.sc().statusStore(), sc.statusTracker()

    def items(seq):            # a Scala collection, through py4j
        it = seq.iterator()
        while it.hasNext():
            yield it.next()

    def node_names(cluster):
        names = [n.name() for n in items(cluster.childNodes())]
        for child in items(cluster.childClusters()):
            names += node_names(child)
        return names
    stages = {}
    for job in tracker.getJobIdsForGroup(group):
        for s in tracker.getJobInfo(job).stageIds:
            try:
                stage = store.lastStageAttempt(s)
            except Py4JJavaError:
                continue        # listed by the job, skipped: never attempted
            if stage.status().toString() == "COMPLETE":
                stages[s] = ("FileScanRDD" in node_names(
                    store.operationGraphForStage(s).rootCluster()),
                    stage.shuffleWriteBytes())
    return [(s, *stages[s]) for s in sorted(stages)]


@pytest.mark.parametrize("save", [False, True])
def test_frequency_group_single_exchange_over_scan(spark, lineitem, save):
    """[Histogram, Entropy, Uniqueness] on one column share one GROUP BY:
    across every job of the run, exactly one executed stage reads the
    parquet scan, and it writes the one shuffle — with and without a
    state provider."""
    from deequ_spark import (Entropy, Histogram, InMemoryStateProvider,
                             Uniqueness)
    out = {}
    stages = _executed_stages(spark, lambda: out.setdefault(
        "ctx", do_analysis_run(
            lineitem, [Histogram("l_returnflag"), Entropy("l_returnflag"),
                       Uniqueness(("l_returnflag",))],
            save_states_with=InMemoryStateProvider() if save else None)))
    assert all(m.is_success for m in out["ctx"].metric_map.values())
    scans = [(s, written) for s, scan, written in stages if scan]
    assert len(scans) == 1 and scans[0][1] > 0, stages


def test_lone_histogram_runs_its_standalone_shuffles(spark, lineitem):
    """A Histogram with no grouping analyzer on its column runs the
    shuffles of its own string GROUP BY, no more: the runner does not
    regroup a raw frequency table for it."""
    from deequ_spark import Histogram
    h = Histogram("l_returnflag")

    def shuffles(run):
        return sum(1 for _, _, written in _executed_stages(spark, run)
                   if written > 0)
    alone = shuffles(lambda: h.calculate(lineitem))
    assert alone >= 1
    assert shuffles(lambda: do_analysis_run(lineitem, [h])) == alone


def test_knn_join_never_shuffles_scored_cross_product(spark):
    """knn_join's final ranking window must see only per-task top-k
    CANDIDATES, never the |corpus|×|queries| scored cross product: no
    cartesian/nested-loop join anywhere, no join at all — one corpus
    pass emits candidates with exact cosines already attached."""
    from deequ_spark.llm import knn_join
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = explain_str(knn_join(emb.limit(3), emb, "vec_id", "vec_id",
                                "embedding", k=2))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" not in plan        # single corpus pass, no rescore join
    # the window ranks only the per-task top-k candidate rows emitted by
    # the Arrow stage — its Exchange is over ~k·tasks·queries rows
    assert "Window" in plan
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan or \
        "PythonMapInArrow" in plan or "FlatMapGroupsInPandas" in plan or \
        "mapInPandas" in plan.lower()


def test_row_level_annotation_is_projection_only(spark, lineitem):
    """Row-level results must compile to a projection over the scan — no
    aggregation in the annotated plan."""
    from deequ_spark import Check, CheckLevel, VerificationSuite
    check = (Check(CheckLevel.ERROR, "rl")
             .is_complete("l_orderkey")
             .satisfies("l_quantity > 0", "pos", lambda v: True))
    result = VerificationSuite().on_data(lineitem).add_check(check).run()
    annotated = result.row_level_results_as_dataframe(lineitem)
    plan = explain_str(annotated)
    assert "HashAggregate" not in plan
    assert "Exchange" not in plan


def test_minhash_signatures_single_shingle_eval(spark):
    """The minhash plan must contain exactly ONE shingling expression
    (regression: CollapseProject re-inlining it k times)."""
    from deequ_spark.llm import minhash_signatures
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sigs = minhash_signatures(docs, "doc_id", "text", num_hashes=16)
    plan = sigs._jdf.queryExecution().optimizedPlan().toString()
    # ONE min-reduce aggregate over the shingles — not 16 array_min
    # columns each re-inlining the shingling (CollapseProject regression)
    assert plan.count("array_min") == 0
    assert plan.count("aggregate(transform(") == 1
    # intra-expression repeats of the token split are fine (codegen CSE),
    # but the count must not scale with num_hashes
    assert plan.count("split(lower") < 16


def test_knn_candidates_two_stage_task_level_topk(spark):
    """The candidate stream must emit ONE task-level top-(k+buffer) per
    query — O(queries·kb·tasks) rows — not one per Arrow batch
    (regression: per-batch emission made the final window shuffle scale
    with ·batches)."""
    from pyspark.sql import functions as F

    from deequ_spark.llm import knn_candidates, knn_join

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "10")
    try:
        corpus = (spark.range(100)
                  .select(F.col("id"),
                          F.array(F.col("id").cast("double"),
                                  F.lit(1.0)).alias("vec")))
        queries = corpus.where(F.col("id") < 2)
        k, buffer = 3, 2
        per_task = k + buffer
        n_tasks = spark.sparkContext.defaultParallelism
        cand = knn_candidates(queries, corpus, "id", "id", "vec",
                              k=k, batch_buffer=buffer)
        # each TASK emits at most kb rows per query, regardless of how
        # many Arrow batches it consumed — per-batch emission with
        # 10-row batches would exceed this bound
        for r in cand.groupBy("qid").count().collect():
            assert r["count"] <= per_task * n_tasks, (
                f"qid {r['qid']} emitted {r['count']} candidates — "
                "per-batch (not per-task) emission")
        # and knn_join still agrees with the exact answer
        out = {(r["qid"], r["rank"]): r["cid"]
               for r in knn_join(queries, corpus, "id", "id", "vec",
                                 k=k).collect()}
        assert out[(0, 1)] == 0 and out[(1, 1)] == 1
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_ivf_disk_index_probe_is_partition_pruned(spark, tmp_path):
    """An nprobe filter over the read-back partitionBy(ivf_list) index
    must reach the scan as PartitionFilters (file pruning — the on-disk
    IVF contract: a probe touches nprobe/n_centroids of a 100 TB index)."""
    from pyspark.sql import functions as F

    from deequ_spark.llm import ivf_topk, ivf_write_index

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "ivf_index")
    cents = ivf_write_index(emb, path, "embedding", n_centroids=4)
    index = spark.read.parquet(path)
    probe = ivf_topk(index, "vec_id", "embedding",
                     [float(v) for v in
                      emb.select("embedding").limit(1).collect()[0][0]],
                     k=5, centroids=cents, nprobe=2)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    import re
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "ivf_list" in m.group(1), (
        "probe filter did not reach the scan as a partition filter:\n"
        + plan[:2000])


def test_bucketed_join_skips_shuffle(spark, tmp_path):
    """Two tables bucketed identically on the join key must join with NO
    Exchange on either side — the co-located layout replaces the shuffle
    (the 100 TB fact-to-fact join preparation)."""
    from pyspark.sql import functions as F

    from deequ_spark.sources import write_bucketed

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    lineitem = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    for t in ("b_orders", "b_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    write_bucketed(orders, "b_orders", "o_orderkey", 8,
                   path=str(tmp_path / "bo"))
    write_bucketed(lineitem, "b_lineitem", "l_orderkey", 8,
                   path=str(tmp_path / "bl"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = (spark.table("b_orders").alias("o")
                  .join(spark.table("b_lineitem").alias("l"),
                        F.col("o.o_orderkey") == F.col("l.l_orderkey"))
                  .groupBy("o.o_orderkey")
                  .agg(F.sum("l.l_quantity").alias("q")))
        plan = explain_str(joined)
        assert count_nodes(plan, "Exchange") == 0, plan[:1500]
        assert "SortMergeJoin" in plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        for t in ("b_orders", "b_lineitem"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_row_level_boolean_path_stays_jvm(spark):
    """Completeness/Compliance/PatternMatch row-level truth tables are pure
    expressions — the annotated projection must contain NO Python eval
    nodes; min/max assertion constraints may add ArrowEvalPython (never
    row-at-a-time BatchEvalPython)."""
    from deequ_spark import Check, CheckLevel, VerificationSuite
    df = spark.createDataFrame([(1, "a"), (2, None)], "v int, s string")
    check = (Check(CheckLevel.ERROR, "bools")
             .is_complete("s")
             .satisfies("v > 0", "pos", lambda r: True)
             .has_pattern("s", "[a-z]"))
    result = VerificationSuite().on_data(df).add_check(check).run()
    plan = (result.row_level_results_as_dataframe(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "EvalPython" not in plan

    check2 = (Check(CheckLevel.ERROR, "asserted")
              .has_min("v", lambda x: x >= 0))
    result2 = VerificationSuite().on_data(df).add_check(check2).run()
    plan2 = (result2.row_level_results_as_dataframe(df)
             ._jdf.queryExecution().executedPlan().toString())
    assert "BatchEvalPython" not in plan2   # Arrow-batched, never pickled


def test_write_corpus_partitioned_pruned_and_bounded(spark, tmp_path):
    """sources.write_corpus: hive partitioning reaches the reader as
    partition pruning, maxRecordsPerFile bounds file size, and
    sortWithinPartitions avoids any global Exchange in the write plan."""
    from deequ_spark.sources import write_corpus
    df = spark.range(1000).selectExpr(
        "id", "CAST(id % 3 AS STRING) AS lang", "id * 2 AS payload")
    out = str(tmp_path / "corpus")
    write_corpus(df, out, partition_by="lang",
                 max_records_per_file=100,
                 sort_within_partitions="id")
    back = spark.read.parquet(out)
    assert back.count() == 1000
    # partition pruning: a lang filter reads one directory, not three
    pruned = back.where(back.lang == "1")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(lang" in plan
    assert pruned.count() == 333
    # bounded file sizes: no parquet part-file exceeds the record cap
    import glob
    import os
    files = glob.glob(os.path.join(out, "lang=*", "*.parquet"))
    assert files
    for f in files:
        n = spark.read.parquet(f).count()
        assert n <= 100


def test_manifest_prunes_files_and_stays_exact(spark, tmp_path):
    """r8: write_corpus(manifest_cols=...) persists per-file min/max +
    row counts under _manifest; read_corpus range predicates must skip
    whole FILES (inputFiles() strictly smaller) while returning exactly
    the rows a full-scan filter returns — and partition pruning still
    composes on top."""
    from pyspark.sql import functions as F

    from deequ_spark.sources import read_corpus, write_corpus
    df = spark.range(1000).selectExpr(
        "id", "CAST(id % 2 AS STRING) AS lang", "id * 2 AS payload")
    out = str(tmp_path / "corpus")
    # sort so files have tight id ranges -> manifest pruning can bite
    write_corpus(df.repartition(1), out, partition_by="lang",
                 max_records_per_file=100,
                 sort_within_partitions="id", manifest_cols="id")
    man = spark.read.parquet(f"{out}/_manifest")
    assert {"file", "n_rows", "min_id", "max_id"} <= set(man.columns)
    n_files_total = len(spark.read.parquet(out).inputFiles())
    assert man.count() == n_files_total
    # the _manifest dir is invisible to plain corpus readers
    assert spark.read.parquet(out).count() == 1000

    pruned = read_corpus(spark, out, prune={"id": (100, 199)})
    assert len(pruned.inputFiles()) < n_files_total
    got = sorted(r["id"] for r in pruned.collect())
    assert got == list(range(100, 200))
    # partition columns survive the explicit-file read (basePath)
    assert "lang" in pruned.columns
    both = read_corpus(spark, out, prune={"id": (100, 199)}) \
        .where(F.col("lang") == "1")
    assert sorted(r["id"] for r in both.collect()) == \
        [i for i in range(100, 200) if i % 2 == 1]
    # open bounds + no matching range
    assert read_corpus(spark, out, prune={"id": (900, None)}).count() == 100
    assert read_corpus(spark, out, prune={"id": (5000, None)}).count() == 0


def test_manifest_unknown_files_always_read(spark, tmp_path):
    """Review r8: files appended AFTER the manifest was written must
    still be read under prune — pruning may only drop files the
    manifest positively excludes, never lose rows."""
    from pyspark.sql import functions as F

    from deequ_spark.sources import read_corpus, write_corpus
    out = str(tmp_path / "corpus2")
    df1 = spark.range(100).selectExpr("id", "id * 2 AS payload")
    write_corpus(df1.repartition(1), out, max_records_per_file=50,
                 sort_within_partitions="id", manifest_cols="id")
    # append WITHOUT refreshing the manifest
    df2 = spark.range(100, 200).selectExpr("id", "id * 2 AS payload")
    write_corpus(df2.repartition(1), out, mode="append")
    got = sorted(r["id"] for r in
                 read_corpus(spark, out, prune={"id": (40, 160)})
                 .collect())
    assert got == list(range(40, 161))
    # manifest-known pruning still bites: a range inside df1 skips
    # df1's other file but must still scan the unknown df2 files
    pruned = read_corpus(spark, out, prune={"id": (0, 10)})
    n_all = len(spark.read.parquet(out).inputFiles())
    assert len(pruned.inputFiles()) < n_all
    assert sorted(r["id"] for r in pruned.collect()) == list(range(0, 11))


def test_mixture_sample_broadcast_quota_single_window_exchange(spark):
    """llm/packing.py mixture_sample: the quota table must BROADCAST
    (it is one row per domain — shuffling the corpus against it would
    add a second full exchange) and the per-domain window must be the
    ONLY corpus shuffle."""
    from deequ_spark.llm import mixture_sample
    df = spark.range(2000).selectExpr(
        "id AS doc_id", "CAST(id % 4 AS STRING) AS lang")
    out = mixture_sample(df, "lang", "doc_id",
                         {"0": 2, "1": 1, "2": 1}, total=100)
    plan = explain_str(out)
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert "SortMergeJoin" not in plan
    # corpus-side shuffles: the window's hashpartitioning on lang is the
    # ONLY shuffle Exchange; the broadcast side adds a BroadcastExchange
    import re
    shuffles = re.findall(r"(?<!Broadcast)Exchange \(\d+\)", plan)
    assert len(shuffles) == 1, plan[:1500]


def test_paragraph_dedup_shuffle_budget(spark):
    """llm/text.py paragraph_dedup: winner selection is a text-keyed
    groupBy (partial+final = map-side combinable), the keep-decision
    joins back on the same key, and reassembly regroups by id — no
    corpus-wide window, no cartesian, and the winner aggregate carries
    a partial stage (map-side combine on the exploded paragraphs)."""
    from deequ_spark.llm import paragraph_dedup
    df = spark.range(200).selectExpr(
        "id", "concat('p', CAST(id % 7 AS STRING), "
        "'\n\nshared passage body') AS text")
    out = paragraph_dedup(df, "id", "text")
    plan = explain_str(out)
    assert "CartesianProduct" not in plan
    assert count_nodes(plan, "Window") == 0
    # winner groupBy is partial->final (HashAggregate or the
    # struct-min ObjectHashAggregate), i.e. map-side combined
    import re
    assert len(re.findall(r"^\(\d+\) \w*HashAggregate", plan,
                          re.MULTILINE)) >= 2, plan[:1500]


def test_semdedup_pair_stage_single_group_shuffle(spark):
    """llm/semdedup.py: the within-cluster pair search must be ONE
    applyInPandas group exchange over (cluster, band, subkey) — the
    candidate generation never self-joins or sorts the corpus."""
    import numpy as np

    from deequ_spark.llm import semantic_duplicate_pairs
    rng = np.random.default_rng(2)
    base = rng.standard_normal(8)
    base = base / np.linalg.norm(base)
    rows = [(i, [float(x) for x in base + 0.3 * rng.standard_normal(8)])
            for i in range(100)]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    pairs = semantic_duplicate_pairs(
        df, "id", "vec", threshold=0.95,
        centroids=[[float(x) for x in base]])
    plan = explain_str(pairs)
    assert "FlatMapGroupsInPandas" in plan or "FlatMapGroupsIn" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # exactly one shuffle: the group-key exchange feeding applyInPandas
    # (dropDuplicates on its output adds aggregates but AQE coalesces
    # onto the same key space); allow <= 2 for the dedup stage
    assert count_nodes(plan, "Exchange") <= 2, plan[:2000]


def test_bm25_corpus_pass_no_shuffle(spark):
    """llm/search.py bm25 scoring pass: stats collapse to one partial
    aggregate row; the scored projection + top-k must stay map-only
    (TakeOrderedAndProject, no hash-partition exchange, no sort)."""
    from deequ_spark.llm import bm25_topk
    df = spark.range(500).selectExpr(
        "id", "concat('hash join words body ', CAST(id AS STRING)) AS text")
    top = bm25_topk(df, "id", "text", "hash join", k=10)
    plan = explain_str(top)
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan


def test_span_dedup_shuffle_budget(spark):
    """llm/dedup.py duplicate_span_removal (r9 shape): winner/count as
    window functions over ONE hash-partitioning of the window rows —
    exactly one Window node PARTITIONED BY the gram key (never a
    global/empty-partition window, which would single-task the corpus),
    no cartesian, no second shuffle of the window rows (the r8
    groupBy+join-back executed the rolling-hash subplan twice), and
    with key='hash' the shuffled window key is the 8-byte xxhash64,
    never the n-gram string."""
    from deequ_spark.llm import duplicate_span_removal
    df = spark.range(300).selectExpr(
        "id", "concat('alpha beta gamma delta epsilon zeta ', "
        "CAST(id % 9 AS STRING)) AS text")
    plan = explain_str(duplicate_span_removal(df, "id", "text", n=4))
    assert "CartesianProduct" not in plan
    assert count_nodes(plan, "Window") == 1
    # the window must be KEY-partitioned: a global window serializes
    # the whole corpus through one task
    assert "windowspecdefinition(__gram" in plan
    assert "xxhash64" in plan          # hash key reached the plan


def test_edit_distance_join_shuffle_budget(spark):
    """linkage.py edit_distance_join (deletions scheme): map-only
    signature explode on both sides, ONE signature equi-join, one
    pair-distinct — so at most 3 hash-partition exchanges (two join
    inputs + the distinct; AQE may convert some to broadcast), and
    NEVER a cartesian/nested-loop node or a Python eval."""
    from deequ_spark.linkage import edit_distance_join
    df = spark.range(200).selectExpr(
        "id", "concat('name', CAST(id AS STRING)) AS s")
    plan = explain_str(edit_distance_join(df, "s", 1, "id",
                                          method="deletions"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert count_nodes(plan, "Exchange") <= 3
    assert "levenshtein" in plan  # verify stayed in the JVM expression


def test_token_jaccard_join_prefix_not_full_index(spark):
    """linkage.py token_jaccard_join: the pair join must be fed by the
    SLICED prefix (slice node present in the plan), not the full token
    explode — the prefix filter is the operator's whole point — and no
    Python eval or cartesian anywhere."""
    from deequ_spark.linkage import token_jaccard_join
    df = spark.range(100).selectExpr(
        "id", "concat('alpha beta gamma doc ', CAST(id % 7 AS STRING))"
        " AS text")
    plan = explain_str(token_jaccard_join(df, "id", "text", 0.8))
    assert "slice(" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_zorder_cluster_single_range_shuffle(spark):
    """layout.py cluster_by_zorder: exactly one rangepartitioning
    exchange (the re-layout shuffle) and a task-local sort — never a
    global sort's second exchange."""
    from deequ_spark.layout import cluster_by_zorder
    df = spark.range(1000).selectExpr(
        "CAST(id % 50 AS DOUBLE) AS x", "CAST(id % 31 AS DOUBLE) AS y")
    out = cluster_by_zorder(df, ["x", "y"], bits=8, num_partitions=8)
    plan = explain_str(out)
    assert count_nodes(plan, "Exchange") == 1
    assert "rangepartitioning" in plan
    assert "hashpartitioning" not in plan


def test_media_frame_profilers_map_only(spark):
    """mp3_frame_profile / gif_frame_features are pure per-blob parsers:
    ONE Arrow-vectorized MapInPandas stage straight off the source — no
    exchange, no join, no row-at-a-time Python (at 100 TB of media the
    only cost is IO + decode, never a shuffle of blob bytes)."""
    import numpy as np
    from deequ_spark.llm import (encode_gif_animation, encode_mp3_vbr,
                                 encode_mp4_samples, gif_frame_features,
                                 mp3_frame_profile, mp4_sample_profile)
    mp3 = spark.createDataFrame(
        [(1, bytearray(encode_mp3_vbr([64, 96])))],
        "media_id long, payload binary")
    mp4 = spark.createDataFrame(
        [(1, bytearray(encode_mp4_samples([64, 64], [100, 100])))],
        "media_id long, payload binary")
    gif = spark.createDataFrame(
        [(1, bytearray(encode_gif_animation(
            (4, 4), [{"patch": np.full((2, 2, 3), 9, np.uint8),
                      "left": 0, "top": 0, "disposal": 1,
                      "delay_cs": 1}])))],
        "media_id long, payload binary")
    for out in (mp3_frame_profile(mp3), gif_frame_features(gif),
                mp4_sample_profile(mp4)):
        plan = explain_str(out)
        assert count_nodes(plan, "MapInPandas") == 1
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan


def test_pipeline_chain_final_plan_truncated(spark):
    """prepare_training_corpus with stage checkpoints (the b27 default):
    the returned frame's plan must be TRUNCATED at the last cut — no
    upstream exchanges survive into the final plan, so no stage can be
    silently recomputed by a downstream reference (tools/AB_B27_NOTE.md:
    uncut chain = 29 exchanges, 0 reused, 6.2x slower)."""
    from deequ_spark.llm import prepare_training_corpus
    df = spark.createDataFrame(
        [(i, "some words repeated enough to pass the gate the the a of "
          + str(i % 7)) for i in range(60)],
        "doc_id long, text string")
    out, _ = prepare_training_corpus(
        df, "doc_id", "text", min_words=3, boilerplate_min_docs=50,
        near_dedup=True, near_dup_threshold=0.9, pack_budget=16,
        collect_stats=False, gopher_kwargs={"min_stopword_hits": 1})
    plan = explain_str(out)
    assert "Exchange" not in plan, plan[:1500]
    assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan
    out.unpersist()
