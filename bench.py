"""Benchmark harness: headline engine workloads at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: median_sec}, "spread": {name: {"min", "max"}},
"runs": N, "sf": ...}.

Each workload runs $SPARK_GRAFT_BENCH_RUNS times (default 3) in the same
JVM, INTERLEAVED round-robin (r1: all workloads, r2: all, ...), and
"queries" reports the per-workload MEDIAN. A single sample per round
manufactured a phantom +124% regression in r5 (session noise is ±30%);
medians with min/max spread make round-over-round comparison trustworthy.

Workloads mirror BASELINE.md §2 (B1 scan-fused suite, B2 grouping suite,
B5 row-level) plus the e2e verification path. ``session(app)`` and
``workloads(spark)`` (over ``fixtures``) are the one session and
workload table that ``main()``, ``tools/ab.py`` and
``tools/plan_sweep.py`` share.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import statistics
import tempfile
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def b1_scan_fused(spark, df):
    """B1: 15 scan-shareable analyzers → ONE job."""
    from deequ_spark import (ApproxCountDistinct, ApproxQuantile,
                             Completeness, Compliance, Maximum, Mean, Minimum,
                             PatternMatch, Size, StandardDeviation, Sum,
                             do_analysis_run)
    analyzers = [
        Size(),
        Completeness("l_orderkey"), Completeness("l_comment")
        if "l_comment" in df.columns else Completeness("l_partkey"),
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
    ctx = do_analysis_run(df, analyzers)
    assert all(m.is_success for m in ctx.metric_map.values())
    return len(ctx.metric_map)


def b2_grouping(spark, orders):
    """B2: 4 grouping analyzers sharing one GROUP BY → one shuffle."""
    from deequ_spark import (CountDistinct, Distinctness, Entropy, Uniqueness,
                             do_analysis_run)
    ctx = do_analysis_run(orders, [
        Uniqueness(("o_custkey",)), Entropy("o_custkey"),
        Distinctness(("o_custkey",)), CountDistinct(("o_custkey",))])
    assert all(m.is_success for m in ctx.metric_map.values())
    return len(ctx.metric_map)


def b3_verification(spark, df):
    """E2E VerificationSuite (scan + grouping + evaluation)."""
    from deequ_spark import Check, CheckLevel, CheckStatus, VerificationSuite
    check = (Check(CheckLevel.ERROR, "bench")
             .has_size(lambda n: n > 0)
             .is_complete("l_orderkey")
             .has_min("l_quantity", lambda v: v >= 0)
             .has_max("l_discount", lambda v: v <= 1.0)
             .has_mean("l_extendedprice", lambda v: v > 0)
             .is_non_negative("l_tax")
             .is_contained_in("l_returnflag", ["A", "N", "R"])
             .has_uniqueness(("l_orderkey", "l_linenumber"), lambda v: v > 0.5))
    result = VerificationSuite().on_data(df).add_check(check).run()
    assert result.status == CheckStatus.SUCCESS
    return 1


def b4_histogram_entropy(spark, df):
    from deequ_spark import Entropy, Histogram, MutualInformation, do_analysis_run
    ctx = do_analysis_run(df, [
        Histogram("l_returnflag"), Entropy("l_returnflag"),
        MutualInformation(("l_returnflag", "l_linestatus"))])
    assert all(m.is_success for m in ctx.metric_map.values())
    return len(ctx.metric_map)


def b5_row_level(spark, df):
    """B5: row-level annotation — one projection, no extra aggregation."""
    from deequ_spark import Check, CheckLevel, VerificationSuite
    check = (Check(CheckLevel.ERROR, "rows")
             .satisfies("l_quantity > 0", "qty_pos", lambda v: True)
             .is_complete("l_orderkey"))
    result = VerificationSuite().on_data(df).add_check(check).run()
    annotated = result.row_level_results_as_dataframe(df)
    return annotated.where(F.col("rows")).count()


def b6_dedup_lsh(spark, docs):
    """MinHash-LSH near-dup pairs, exact-verified."""
    from deequ_spark.llm import minhash_lsh_pairs
    return minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.8,
                             num_hashes=64, bands=32, shingle_n=3).count()


def b7_ann(spark, emb):
    """Brute-force cosine top-10 + 10-query knn join."""
    from deequ_spark.llm import brute_force_topk, knn_join
    from pyspark.sql import functions as F
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    n1 = brute_force_topk(emb, "vec_id", "embedding",
                          [float(v) for v in qvec], k=10).count()
    queries = emb.where(F.col("vec_id") < 10)
    n2 = knn_join(queries, emb, "vec_id", "vec_id", "embedding", k=5).count()
    return n1 + n2


def b8_text_analysis(spark, docs):
    from deequ_spark.llm import language_id, text_quality, token_count_regex
    from pyspark.sql import functions as F
    quality = text_quality(language_id(docs, "text"), "text")
    row = quality.agg(
        F.sum("q_n_tokens"), F.avg("q_punct_ratio"),
        F.sum(token_count_regex(F.col("text"))),
        F.count(F.when(F.col("lang_pred") == F.col("lang"), 1))).collect()[0]
    return int(row[0])


def b9_multimodal(spark, docs):
    from deequ_spark.llm import attach_binary_payload, extract_binary_features
    from pyspark.sql import functions as F
    media = attach_binary_payload(docs, "text", "doc_id")
    feats = extract_binary_features(media)
    return feats.agg(F.sum("n_bytes")).collect()[0][0]


def b10_kll(spark, df):
    """KLL sketch: one extra Arrow pass for the column."""
    from deequ_spark import KLLSketch
    m = KLLSketch("l_extendedprice").calculate(df)
    assert m.is_success
    return len(m.value.buckets)


def b11_embedding_near_dup(spark, emb):
    """Banded hyperplane-LSH near-dup pairs, exact-verified; auto-tuned
    band shape (planes ≈ log₂ n) keeps random candidates linear in corpus
    size instead of quadratic."""
    from deequ_spark.llm import embedding_near_duplicates
    return embedding_near_duplicates(emb, "vec_id", "embedding",
                                     threshold=0.9, auto_tune=True).count()


def prepare_stream_source(spark, sf_dir):
    """One-time source-data layout for b12 — file IO, not the workload."""
    src = tempfile.mkdtemp(prefix="deequ_bench_stream_")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    orders.repartition(4).write.mode("overwrite").parquet(src)
    return src


def b12_streaming(spark, sf_dir, src=None):
    """4-batch incremental verification over orders (cumulative states)."""
    from deequ_spark import Completeness, Mean, Size, Uniqueness
    from deequ_spark.streaming import StreamingVerification
    if src is None:
        src = prepare_stream_source(spark, sf_dir)
    static = spark.read.parquet(src)
    sv = StreamingVerification(analyzers=[
        Size(), Completeness("o_custkey"), Mean("o_totalprice"),
        Uniqueness(("o_orderkey",))])
    q = (spark.readStream.schema(static.schema)
         .option("maxFilesPerTrigger", 1).parquet(src)
         .writeStream.foreachBatch(sv.foreach_batch)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    assert len(sv.results) == 4
    return sv.results[-1].rows_in_batch


def b13_profile(spark, sf_dir):
    """B3: 3-pass column profile of customer (all columns)."""
    from deequ_spark import profile_columns
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    profiles = profile_columns(customer)
    assert len(profiles) == len(customer.columns)
    return len(profiles)


def b14_incremental(spark, df):
    """B4: states on two halves merged vs recompute — merge is scan-free."""
    from deequ_spark import (Completeness, InMemoryStateProvider, Mean, Size,
                             StandardDeviation, Sum, do_analysis_run,
                             run_on_aggregated_states)
    analyzers = [Size(), Completeness("l_orderkey"), Mean("l_extendedprice"),
                 Sum("l_quantity"), StandardDeviation("l_extendedprice")]
    pa, pb = InMemoryStateProvider(), InMemoryStateProvider()
    do_analysis_run(df.where("l_orderkey % 2 = 0"), analyzers, save_states_with=pa)
    do_analysis_run(df.where("l_orderkey % 2 = 1"), analyzers, save_states_with=pb)
    t0 = time.perf_counter()
    ctx = run_on_aggregated_states(df, analyzers, [pa, pb])
    merge_time = time.perf_counter() - t0
    assert merge_time < 1.0, f"state merge took {merge_time}s (should be ~0)"
    assert all(m.is_success for m in ctx.metric_map.values())
    return len(ctx.metric_map)


def b15_sequence_packing(spark, docs):
    """B15: salt-grouped prefix-sum packing window (llm/packing.py)."""
    from deequ_spark.llm import pack_sequences, token_count_whitespace
    packed = pack_sequences(docs, "doc_id",
                            token_count_whitespace(F.col("text")),
                            budget=256, n_groups=32)
    return packed.agg(F.count(F.lit(1))).collect()[0][0]


def b16_bm25_search(spark, docs):
    """B16: BM25 ranked retrieval — two map-only passes + top-k."""
    from deequ_spark.llm import bm25_topk
    return bm25_topk(docs, "doc_id", "text",
                     "hash join merge table", k=10).count()


def b17_span_dedup(spark, docs):
    """B17: exact-substring dedup (rolling-hash window keys, r8)."""
    from deequ_spark.llm import duplicate_span_removal
    out = duplicate_span_removal(docs, "doc_id", "text", n=4)
    return out.agg(F.sum("n_removed_tokens")).collect()[0][0]


def b18_semantic_dedup(spark, emb):
    """B18: SemDeDup — Arrow assignment pass + blocked matmul pairs."""
    from deequ_spark.llm import semantic_duplicate_pairs
    cents = [[1.0 if i == j else 0.0 for i in range(64)]
             for j in range(8)]
    return semantic_duplicate_pairs(emb, "vec_id", "embedding",
                                    threshold=0.8, centroids=cents).count()


def b19_asof_join(spark, ev):
    """B19: as-of join — union + ONE window shuffle on the by key."""
    from deequ_spark import asof_join
    clicks = ev.where(F.col("event_type") == "click") \
        .select("event_id", "user_id", "ts")
    views = ev.where(F.col("event_type") == "view") \
        .select("user_id", "ts", F.col("value").alias("vval"))
    return asof_join(clicks, views, on="ts", by="user_id").count()


def b20_interval_join(spark, ev):
    """B20: point-in-interval join — bucketized equi-join, no cross."""
    from deequ_spark import interval_join
    clicks = ev.where(F.col("event_type") == "click") \
        .select("event_id", "user_id", "ts")
    views = ev.where(F.col("event_type") == "view") \
        .select("user_id", F.col("ts").alias("ws"),
                (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("we"))
    return interval_join(clicks, views, on="ts", start="ws", end="we",
                         by="user_id").count()


def b21_rolling_stats(spark, ev):
    """B21: trailing-window rolling stats — one range-frame window."""
    from deequ_spark.joins import rolling_stats
    rolled = rolling_stats(ev.select("event_id", "user_id", "ts", "value"),
                           "ts", "value", window_seconds=3600.0,
                           by="user_id", stats=("sum", "count"))
    return rolled.agg(F.sum("value_roll_count")).collect()[0][0]


def prepare_dedup_index(spark, docs):
    """One-time setup for B22 (index build is the write path, measured
    separately by tools/scale_check.py; B22 times CLASSIFY only)."""
    from deequ_spark.llm import write_dedup_index
    path = tempfile.mkdtemp(prefix="deequ_bench_idx_")
    write_dedup_index(docs, "doc_id", "text", path)
    batch = (docs.limit(2_000)
             .select((F.col("doc_id") + 10_000_000).alias("doc_id"), "text")
             .cache())
    batch.count()
    return path, batch


def b22_incremental_dedup(spark, pair):
    """B22: classify a fixed batch against the persisted bucket-layout
    index (r8) — cost must track the BATCH, not the index."""
    from deequ_spark.llm import dedup_against_index
    path, batch = pair
    fresh, dups = dedup_against_index(batch, "doc_id", "text", path,
                                      threshold=0.5)
    return dups.count()


def prepare_images(spark, n=2_000):
    """One-time setup for B23: n near-duplicate BMP payloads."""
    import numpy as np

    from deequ_spark.llm.multimodal import encode_bmp
    rng = np.random.default_rng(12)
    bases = [rng.integers(0, 256, (16, 16, 3)).astype("uint8")
             for _ in range(64)]
    rows = []
    for i in range(n):
        px = bases[i % 64].copy()
        px[0, 0] = (i // 64) % 256
        rows.append((i, bytearray(encode_bmp(px))))
    imgs = spark.createDataFrame(rows, "img_id long, payload binary") \
        .repartition(32).cache()
    imgs.count()
    return imgs


def b23_image_phash(spark, imgs):
    """B23: perceptual hash + pigeonhole Hamming pair join."""
    from deequ_spark.llm import image_near_duplicates
    return image_near_duplicates(imgs, "img_id", "payload",
                                 max_hamming=3).count()


def prepare_warc_dir(spark, docs, n_files=32):
    """One-time setup for B24: export `docs` as WET-style conversion
    records into `n_files` member-gzipped .warc.gz files, written in
    parallel (one applyInPandas group per file — the shards.py writer
    pattern). This is the fixture a crawl-ingest bench reads back; the
    build itself is not timed."""
    from deequ_spark.llm.warc import build_warc_file, build_warc_record
    path = tempfile.mkdtemp(prefix="deequ_bench_warc_")

    def build(pdf):
        import pandas as pd
        fid = int(pdf["__f"].iloc[0])
        pdf = pdf.sort_values("doc_id")
        recs = [build_warc_record(
                    "conversion", t.encode("utf-8"),
                    target_uri=f"http://bench.example.com/doc/{d}",
                    record_id=f"urn:uuid:bench-{d}",
                    content_type="text/plain")
                for d, t in zip(pdf["doc_id"], pdf["text"])]
        with open(f"{path}/part-{fid:05d}.warc.gz", "wb") as fh:
            fh.write(build_warc_file(recs, gzip_members=True))
        return pd.DataFrame({"f": [fid], "n": [len(pdf)]})

    man = (docs.select("doc_id", "text",
                       F.pmod(F.xxhash64("doc_id"), F.lit(n_files))
                       .cast("int").alias("__f"))
           .groupBy("__f").applyInPandas(build, "f int, n long"))
    assert man.agg(F.sum("n")).collect()[0][0] == docs.count()
    return path


def b24_crawl_ingest(spark, warc_dir):
    """B24: end-to-end crawl ingest — WARC/WET files → text → the
    standard cleanup pipeline (quality, boilerplate, exact + near
    dedup, chunking) in ONE action. Ingest is where a real 100 TB run
    spends its first day; the WARC read itself is map-only, so the
    first shuffle this pays is the pipeline's own exact-dedup."""
    from deequ_spark.llm.warc import crawl_to_corpus
    from deequ_spark.storage import release_checkpoint
    # quality_filter off: the synthetic corpus is stopword-free word
    # salad and the Gopher heuristics would (correctly) drop all of it;
    # ingest + boilerplate + exact/near dedup + chunking is the path
    # under measurement
    chunks, _ = crawl_to_corpus(spark, warc_dir, source="wet",
                                min_words=20, quality_filter=False,
                                collect_stats=False)
    n = chunks.count()
    # the returned corpus is a localCheckpoint: unpersist() cannot free it
    release_checkpoint(chunks)
    return n


def b25_fuzzy_join(spark, cust):
    """B25: PassJoin edit-distance self-join (linkage.py) — bounded
    per-row signature explode, ONE equi-join on (seg, i, len), pair
    distinct, thresholded-levenshtein verify. The exact pair set a
    cross join would compute, without the cross join."""
    from deequ_spark.linkage import edit_distance_join
    return edit_distance_join(cust, "c_name", 1, "c_custkey").count()


def b26_zorder_cluster(spark, orders):
    """B26: Z-order re-layout (layout.py) — one min/max agg + one
    repartitionByRange shuffle + task-local sort, written out (the
    write IS the workload: clustering is a layout job whose payoff is
    every later pruned scan)."""
    from deequ_spark.layout import cluster_by_zorder
    out = cluster_by_zorder(orders, ["o_custkey", "o_totalprice"],
                            bits=16, num_partitions=32)
    d = tempfile.mkdtemp(prefix="bench_zorder_")
    try:
        out.write.mode("overwrite").parquet(f"{d}/c")
        return 1
    finally:
        shutil.rmtree(d, ignore_errors=True)


def b27_pipeline_chain(spark, docs, emb):
    """B27: the FULL corpus build chained in one run (llm/pipeline.py
    prepare_training_corpus) — unicode normalize → Gopher quality →
    boilerplate removal → exact dedup → MinHash near-dedup → SemDeDup
    over embeddings → sequence packing. This is the job graph a real
    100 TB run executes end-to-end; per-operator benches can't see
    cross-stage effects (plan-tree blowup from self-referencing stages,
    accidental recomputation when exchange reuse doesn't fire). Stage
    boundaries are localCheckpoint-ed — materialize once, truncate the
    plan — so each dedup stage's multiple self-references hit
    materialized rows instead of re-deriving the upstream subtree
    (tools/AB_B27_NOTE.md has the with/without measurements)."""
    from deequ_spark.llm import prepare_training_corpus
    from deequ_spark.storage import release_checkpoint
    out, _ = prepare_training_corpus(
        docs, "doc_id", "text",
        min_words=20, boilerplate_min_docs=2,
        near_dup_threshold=0.5,
        unicode_normalize=True,
        embeddings=emb.select("vec_id", "embedding"),
        embedding_cols=("vec_id", "embedding"),
        semantic_threshold=0.97, semantic_clusters=8,
        pack_budget=256,
        collect_stats=False,
        gopher_kwargs={"min_stopword_hits": 1})
    n = out.count()
    release_checkpoint(out)
    return n


def b28_bloom_join(spark, lineitem, orders):
    """B28: Bloom-pruned semi join — the fact side is filtered by the
    dim key-set's Bloom bits BEFORE its exchange, so the shuffle
    carries only probable matches. Measured with auto-broadcast OFF:
    the operator's regime is a dim too big to broadcast as rows
    (tools/AB_B28_NOTE.md has the bloom-vs-plain AB)."""
    from deequ_spark import bloom_semi_join
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT") \
        .select("o_orderkey")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        return bloom_semi_join(lineitem, urgent, "l_orderkey",
                               small_on="o_orderkey").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def session(app):
    """The bench's Spark session: local[$SPARK_GRAFT_CPUS], AQE on, no UI
    or progress bars, $SPARK_GRAFT_DRIVER_MEM (default 8g) of heap."""
    spark = (SparkSession.builder
             .master(f"local[{CPUS}]")
             .appName(app)
             .config("spark.sql.shuffle.partitions", CPUS)
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.driver.memory",
                     os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
             .config("spark.sql.legacy.parquet.nanosAsLong", "true")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# name -> (workload, the fixtures it takes after `spark`), in run order
WORKLOADS = {
    "b1_scan_fused": (b1_scan_fused, ("lineitem",)),
    "b2_grouping": (b2_grouping, ("orders",)),
    "b3_verification": (b3_verification, ("lineitem",)),
    "b4_histogram_entropy": (b4_histogram_entropy, ("lineitem",)),
    "b5_row_level": (b5_row_level, ("lineitem",)),
    "b6_dedup_lsh": (b6_dedup_lsh, ("docs",)),
    "b7_ann": (b7_ann, ("emb",)),
    "b8_text_analysis": (b8_text_analysis, ("docs",)),
    "b9_multimodal": (b9_multimodal, ("docs",)),
    "b10_kll": (b10_kll, ("lineitem",)),
    "b11_embedding_near_dup": (b11_embedding_near_dup, ("emb",)),
    "b12_streaming": (b12_streaming, ("sf_dir", "stream_src")),
    "b13_profile": (b13_profile, ("sf_dir",)),
    "b14_incremental": (b14_incremental, ("lineitem",)),
    "b15_sequence_packing": (b15_sequence_packing, ("docs",)),
    "b16_bm25_search": (b16_bm25_search, ("docs",)),
    "b17_span_dedup": (b17_span_dedup, ("docs",)),
    "b18_semantic_dedup": (b18_semantic_dedup, ("emb",)),
    "b19_asof_join": (b19_asof_join, ("events",)),
    "b20_interval_join": (b20_interval_join, ("events",)),
    "b21_rolling_stats": (b21_rolling_stats, ("events",)),
    "b22_incremental_dedup": (b22_incremental_dedup, ("dedup_index",)),
    "b23_image_phash": (b23_image_phash, ("images",)),
    "b24_crawl_ingest": (b24_crawl_ingest, ("warc_dir",)),
    "b25_fuzzy_join": (b25_fuzzy_join, ("cust",)),
    "b26_zorder_cluster": (b26_zorder_cluster, ("orders",)),
    "b27_pipeline_chain": (b27_pipeline_chain, ("docs", "emb")),
    "b28_bloom_join": (b28_bloom_join, ("lineitem", "orders")),
}

_TABLES = {"lineitem": "lineitem", "orders": "orders", "cust": "customer",
           "docs": "documents", "emb": "embeddings"}


def fixtures(spark, needed):
    """``(fixtures, cleanup)``: the tables, read and counted once (JVM and
    file listing warm), with the Python/Arrow worker pool warmed, plus
    each written fixture named in ``needed`` (stream source, events,
    dedup index, images, WARC files). ``cleanup()`` frees the cached
    fixtures and deletes the written ones."""
    fx = {"sf_dir": SF_DIR}
    for key, table in _TABLES.items():
        fx[key] = spark.read.parquet(f"{SF_DIR}/{table}.parquet")
    for key in ("lineitem", "orders", "docs", "emb"):
        fx[key].count()
    # warm the Python/Arrow worker pool once (first pandas_udf stage pays
    # ~1-2s of worker spawn — startup cost, not workload cost)
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _warm(v):  # pragma: no cover — trivial identity
        # importing numpy here pulls BLAS init into the (startup-cost)
        # warmup instead of the first mapInPandas bench query
        import numpy  # noqa: F401
        return v
    n_workers = int(CPUS) if str(CPUS).isdigit() else 32
    spark.range(0, n_workers * 100, 1, n_workers) \
        .select(_warm(F.col("id").cast("double"))).count()

    dirs, cached = [], []
    if "stream_src" in needed:
        fx["stream_src"] = prepare_stream_source(spark, SF_DIR)
        dirs.append(fx["stream_src"])
    if "events" in needed:
        from deequ_spark.sources import load_table
        fx["events"] = load_table(spark, SF_DIR, "events").cache()
        fx["events"].count()
        cached.append(fx["events"])
    if "dedup_index" in needed:
        fx["dedup_index"] = prepare_dedup_index(spark, fx["docs"])
        dirs.append(fx["dedup_index"][0])
        cached.append(fx["dedup_index"][1])
    if "images" in needed:
        fx["images"] = prepare_images(spark)
        cached.append(fx["images"])
    if "warc_dir" in needed:
        fx["warc_dir"] = prepare_warc_dir(spark, fx["docs"])
        dirs.append(fx["warc_dir"])

    def cleanup():
        for df in cached:
            df.unpersist()
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)

    return fx, cleanup


def workloads(spark, only=None):
    """``({name: zero-argument callable}, cleanup)`` for the workloads
    named in ``only`` (default: all, in table order), over the untimed
    ``fixtures`` they take; ``cleanup()`` is that of the fixtures."""
    names = list(WORKLOADS) if only is None else list(only)
    unknown = sorted(set(names) - set(WORKLOADS))
    if unknown:
        raise ValueError(f"unknown workloads: {unknown}")
    fx, cleanup = fixtures(spark, {f for n in names for f in WORKLOADS[n][1]})
    return {n: functools.partial(WORKLOADS[n][0], spark,
                                 *(fx[f] for f in WORKLOADS[n][1]))
            for n in names}, cleanup


def main():
    spark = session("deequ-spark-bench")
    benches, cleanup = workloads(spark)
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    samples = {name: [] for name in benches}
    for _ in range(n_runs):
        for name, fn in benches.items():
            t0 = time.perf_counter()
            fn()
            samples[name].append(round(time.perf_counter() - t0, 3))

    timings = {n: round(statistics.median(s), 3) for n, s in samples.items()}
    spread = {n: {"min": min(s), "max": max(s)} for n, s in samples.items()}

    total = round(sum(timings.values()), 3)
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    # stop/cleanup FIRST so nothing (JVM shutdown chatter, progress
    # bars) can print after the result line: the round driver keeps
    # only the TAIL of stdout, so the one-line compact JSON must be
    # the LAST bytes written (r10 lost the b1-b3 medians to this).
    cleanup()
    spark.stop()
    # per-sample spread on its own earlier line keeps the final
    # contract line short enough to survive any tail window
    print("SPREAD " + json.dumps({"spread": spread, "runs": n_runs}),
          flush=True)
    print(json.dumps({
        "metric": "deequ_spark_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }), flush=True)


if __name__ == "__main__":
    main()
