"""Similarity search over embedding columns (``array<float>``).

Brute-force cosine top-k is the exactness baseline; random-hyperplane LSH
bucketing is the scale path (prunes the candidate set before scoring).
Dot products are pure ``zip_with``/``aggregate`` expressions — JVM-side,
no Python. Vectors are cast to double before multiplication so results
are deterministic and match a DOUBLE[] oracle bit-for-bit.

Scale notes (100 TB): brute-force against a single query is a scan +
top-k (no shuffle — TakeOrdered). knn_join broadcasts the (small) query
side. LSH top-k shuffles once on bucket signature.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

import pandas

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import storage


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x))


def cosine_similarity_expr(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(df: DataFrame, id_col: str, vec_col: str,
                     query_vector: Sequence[float], k: int = 10) -> DataFrame:
    """Exact top-k by cosine against one literal query vector.
    Plan: scan → projection → TakeOrdered(k) — no shuffle."""
    q = F.array(*[F.lit(float(v)) for v in query_vector])
    return (df.select(F.col(id_col).alias("id"),
                      cosine_similarity_expr(F.col(vec_col), q).alias("cosine"))
            .orderBy(F.desc("cosine"), F.asc("id"))
            .limit(k))


def knn_candidates(queries: DataFrame, corpus: DataFrame, query_id: str,
                   corpus_id: str, vec_col: str, k: int = 10,
                   batch_buffer: int = 8,
                   max_queries: int = 100_000) -> DataFrame:
    """The pre-rank candidate stream of :func:`knn_join` — per TASK, the
    top-(k+batch_buffer) corpus rows per query with exact cosines
    (unranked). ``knn_join`` = this + a per-query rank window; exposed so
    callers (and the two-stage plan test) can consume scores without the
    final shuffle.

    Scale plan (100 TB corpus): the query side is small by contract — it is
    collected once and shipped in the Arrow UDF closure. The corpus is
    scanned exactly ONCE through ``mapInPandas``, two-stage:

    * stage 1 (per Arrow batch): score the batch against ALL queries with
      one BLAS matmul, keep the batch-local top-(k+batch_buffer) per query
      (pruning scores + raw vectors only — no exact recompute yet);
    * stage 2 (per TASK, at iterator end): merge every batch's survivors
      into one task-level top-(k+buffer) per query and emit only those —
      so the final shuffle carries O(queries·(k+buffer)·tasks) rows, not
      ·batches, and never the |corpus|×|queries| scored cross product.

    The matmul score is only used for PRUNING; each task-level winner's
    cosine is then recomputed with sequential-order float64 arithmetic
    (cumsum = the same left-fold the JVM ``aggregate`` expression
    performs), so emitted cosines match brute_force_topk bit-for-bit.
    Each per-batch/per-task top-k is a superset of the global top-k
    restricted to its rows, and the buffer absorbs float ties at the
    pruning boundary.
    """
    import math

    import numpy as np

    qrows = queries.select(query_id, vec_col).limit(max_queries + 1).collect()
    if not qrows:
        raise ValueError("knn_join: query side is empty")
    null_q = [r[0] for r in qrows if r[1] is None]
    if null_q:
        raise ValueError(
            f"knn_join: query vectors are NULL for ids {null_q[:5]} — a "
            "NULL query cannot be scored; filter the query side first")
    if len(qrows) > max_queries:
        raise ValueError(
            f"knn_join: query side exceeds max_queries={max_queries}; the "
            "query set is collected to the driver and shipped to every "
            "task — for query sets this large use an index (ivf_topk per "
            "query list, or embedding_near_duplicates for all-pairs)")
    qids = [r[0] for r in qrows]
    Q = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    Qn = (Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)).T
    # query norms with the SAME sequential fold the JVM expression uses
    qnorms = [math.sqrt(float(np.cumsum(q * q)[-1])) for q in Q]
    kb = k + batch_buffer

    qid_type = queries.schema[query_id].dataType.simpleString()
    cid_type = corpus.schema[corpus_id].dataType.simpleString()
    cand_schema = f"qid {qid_type}, cid {cid_type}, cosine double"

    def local_topk(batches):
        import pandas as pd
        # stage 1: a BOUNDED running top-kb per query — each batch's local
        # survivors merge into the running set and truncate back to kb, so
        # task memory is O(queries·kb·dims) REGARDLESS of how many Arrow
        # batches the task consumes (an append-per-batch buffer holding
        # raw vectors would grow ~queries·kb·dims per batch and OOM long
        # tasks at the 100k-query contract)
        buf_score = [None] * len(qids)
        buf_cid = [None] * len(qids)
        buf_vec = [None] * len(qids)
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True),
                                1e-12)
            S = Xn @ Qn                                  # rows × queries
            n = len(pdf)
            take = min(kb, n)
            cids = pdf[corpus_id].to_numpy()
            for j in range(len(qids)):
                # argpartition: O(n) per query instead of a full sort
                idx = (np.argpartition(-S[:, j], take - 1)[:take]
                       if take < n else np.arange(n))
                if buf_score[j] is None:
                    merged_s = S[idx, j]
                    merged_c = cids[idx]
                    merged_v = X[idx]
                else:
                    merged_s = np.concatenate([buf_score[j], S[idx, j]])
                    merged_c = np.concatenate([buf_cid[j], cids[idx]])
                    merged_v = np.concatenate([buf_vec[j], X[idx]])
                if len(merged_s) > kb:
                    keep = np.argpartition(-merged_s, kb - 1)[:kb]
                    merged_s, merged_c, merged_v = (
                        merged_s[keep], merged_c[keep], merged_v[keep])
                buf_score[j], buf_cid[j], buf_vec[j] = (
                    merged_s, merged_c, merged_v)
        # stage 2: the running sets ARE the task-level top-kb; only these
        # winners get the exact recompute and leave the task
        out_qid, out_cid, out_cos = [], [], []
        for j, qid in enumerate(qids):
            if buf_score[j] is None:
                continue
            cids = buf_cid[j]
            vecs = buf_vec[j]
            for i in range(len(buf_score[j])):
                x = vecs[i]
                # exact left-fold order: 0.0 + Σ xᵢ·qᵢ, matching the
                # JVM aggregate(zip_with(...)) evaluation bit-for-bit
                dot = float(np.cumsum(x * Q[j])[-1])
                nx = math.sqrt(float(np.cumsum(x * x)[-1]))
                out_qid.append(qid)
                out_cid.append(cids[i])
                # zero-norm vectors: JVM x/0.0 yields NULL/NaN, never a
                # ZeroDivisionError — mirror that instead of crashing
                denom = nx * qnorms[j]
                out_cos.append(dot / denom if denom else float("nan"))
        if out_qid:
            yield pd.DataFrame({"qid": out_qid, "cid": out_cid,
                                "cosine": out_cos})

    # no forced repartition: parquet scans already split large files by
    # spark.sql.files.maxPartitionBytes, so a single-task input implies a
    # small corpus where one BLAS matmul beats paying a full-corpus
    # shuffle of the vector payloads + per-partition Python worker spawn
    # (measured: repartition(32) on a 2k-row corpus was ~2x slower).
    # NULL or dimension-mismatched corpus vectors are unscorable — drop
    # them scan-side (SQL comparison-with-NULL semantics) instead of
    # crashing the matmul on a ragged batch
    dims = Q.shape[1]
    return (corpus.select(corpus_id, vec_col)
            .where(F.col(vec_col).isNotNull()
                   & (F.size(F.col(vec_col)) == dims))
            .mapInPandas(local_topk, cand_schema))


def knn_join(queries: DataFrame, corpus: DataFrame, query_id: str,
             corpus_id: str, vec_col: str, k: int = 10,
             batch_buffer: int = 8, max_queries: int = 100_000) -> DataFrame:
    """Exact k-NN of every query against the corpus. Returns (qid, cid,
    cosine, rank). See :func:`knn_candidates` for the scale plan — the
    window here ranks only O(queries·(k+buffer)·tasks) candidate rows."""
    cand = knn_candidates(queries, corpus, query_id, corpus_id, vec_col,
                          k, batch_buffer, max_queries)
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("cid"))
    return (cand.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def kmeans_centroids(df: DataFrame, vec_col: str, n_centroids: int = 16,
                     sample_rows: int = 20000, iters: int = 10,
                     seed: int = 42,
                     distributed_threshold: int = 256) -> List[List[float]]:
    """k-means centroids for IVF list training, auto-routed by size.

    * ``n_centroids <= distributed_threshold``: driver-side Lloyd's (numpy)
      over a bounded RANDOM sample — O(sample_rows·dims), constant wrt
      table size; the centroids are tiny and shipped as literals/broadcast.
    * ``n_centroids > distributed_threshold``: ``pyspark.ml`` KMeans over
      the FULL table. A 100 TB index wants ~√n lists (tens of thousands) —
      a 20k-row driver sample cannot train that many distinct centroids
      (most lists would be empty or duplicated), and the driver matmul is
      O(sample·k·dims). The ML path is the same Lloyd's, distributed, with
      L2-normalized features so Euclidean == spherical (cosine) k-means on
      the unit sphere — matching ivf_assign's cosine assignment.

    The driver sample must be unbiased: ``limit(n)`` would take the first
    rows of the first partitions, so on sorted/clustered data the
    centroids would be trained on one region and nprobe recall would
    degrade silently at scale. A seeded ``sample(fraction)`` (one extra
    count to size the fraction) touches every partition uniformly; the
    whole oversampled set (~1.2·sample_rows rows — driver-trivial) is
    collected and truncated driver-side with the seeded rng, because a
    distributed ``limit()`` after the sample would again prefer the first
    partitions.
    """
    import numpy as np
    df = df.where(F.col(vec_col).isNotNull())   # NULLs are untrainable
    if n_centroids > distributed_threshold:
        return _kmeans_centroids_ml(df, vec_col, n_centroids, iters, seed)
    total = df.count()
    if total == 0:
        raise ValueError("kmeans_centroids: input is empty")
    if total <= sample_rows:
        sample = df.select(vec_col).collect()
    else:
        # 1.2× oversampling so the driver-side truncation rarely undershoots
        fraction = min(1.0, 1.2 * sample_rows / total)
        sample = df.select(vec_col).sample(fraction=fraction, seed=seed).collect()
        if len(sample) > sample_rows:
            pick = np.random.default_rng(seed).choice(
                len(sample), size=sample_rows, replace=False)
            sample = [sample[i] for i in pick]
    X = np.array([row[0] for row in sample], dtype=np.float64)
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    cent = X[rng.choice(len(X), size=min(n_centroids, len(X)), replace=False)]
    for _ in range(iters):
        sims = X @ cent.T                    # cosine on normalized rows
        assign = sims.argmax(axis=1)
        for c in range(cent.shape[0]):
            members = X[assign == c]
            if len(members):
                m = members.mean(axis=0)
                cent[c] = m / max(float(np.linalg.norm(m)), 1e-12)
    return [[float(v) for v in c] for c in cent]


def _kmeans_centroids_ml(df: DataFrame, vec_col: str, n_centroids: int,
                         iters: int, seed: int) -> List[List[float]]:
    """Distributed spherical k-means via ``pyspark.ml`` KMeans: the
    training set never leaves the executors, so list counts can scale to
    the ~√n a large index needs. Features are L2-normalized JVM-side
    (ml.feature.Normalizer — no Python in the loop); returned centers are
    re-normalized so downstream cosine assignment sees unit centroids."""
    import numpy as np
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.feature import Normalizer
    from pyspark.ml.functions import array_to_vector

    feats = df.select(array_to_vector(
        F.col(vec_col).cast("array<double>")).alias("__raw"))
    unit = Normalizer(inputCol="__raw", outputCol="features",
                      p=2.0).transform(feats).select("features")
    # KMeans iterates over the features — persist across iterations
    with storage.scope() as s:
        model = KMeans(k=n_centroids, maxIter=iters, seed=seed,
                       featuresCol="features").fit(s.persist(unit))
    out = []
    for c in model.clusterCenters():
        arr = np.asarray(c, dtype=np.float64)
        arr = arr / max(float(np.linalg.norm(arr)), 1e-12)
        out.append([float(v) for v in arr])
    return out


def ivf_assign(df: DataFrame, vec_col: str,
               centroids: Sequence[Sequence[float]],
               list_col: str = "ivf_list") -> DataFrame:
    """Assign every vector to its nearest (cosine) centroid with ONE
    vectorized Arrow-batched pandas UDF — the IVF build step. At scale,
    write the result partitioned by ``list_col`` so probes prune files.
    Rows with NULL vectors are dropped — they cannot be indexed."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    cent = np.array(centroids, dtype=np.float64)
    df = df.where(F.col(vec_col).isNotNull()
                  & (F.size(F.col(vec_col)) == cent.shape[1]))

    @pandas_udf("int")
    def nearest(vecs: "pandas.Series") -> "pandas.Series":
        import pandas as pd
        X = np.array(vecs.tolist(), dtype=np.float64)
        X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        return pd.Series((X @ cent.T).argmax(axis=1).astype("int32"))

    return df.withColumn(list_col, nearest(F.col(vec_col)))


def ivf_write_index(df: DataFrame, path: str, vec_col: str,
                    centroids: Optional[Sequence[Sequence[float]]] = None,
                    n_centroids: int = 16, list_col: str = "ivf_list",
                    seed: int = 42) -> List[List[float]]:
    """Build an IVF index ON DISK: assign every vector to its nearest
    centroid and write the table ``partitionBy(list_col)``, so an
    ``ivf_topk`` probe filter over the read-back table becomes PARTITION
    PRUNING — a 100 TB corpus probe touches nprobe/n_centroids of the
    files instead of scanning everything. Returns the centroids; keep
    them with the index (fresh k-means would not match the stored list
    assignments)."""
    if centroids is None:
        centroids = kmeans_centroids(df, vec_col, n_centroids, seed=seed)
    assigned = ivf_assign(df, vec_col, centroids, list_col)
    assigned.write.partitionBy(list_col).mode("overwrite").parquet(path)
    return [[float(v) for v in c] for c in centroids]


def ivf_topk(df: DataFrame, id_col: str, vec_col: str,
             query_vector: Sequence[float], k: int = 10,
             centroids: Optional[Sequence[Sequence[float]]] = None,
             n_centroids: int = 16, nprobe: int = 4,
             list_col: str = "ivf_list", seed: int = 42) -> DataFrame:
    """IVF approximate top-k: score only the ``nprobe`` inverted lists
    whose centroids are closest to the query. If ``df`` already carries
    ``list_col`` (pre-built index, ideally a table partitioned by it, so
    the filter becomes partition pruning), the build step is skipped."""
    import numpy as np

    if list_col in df.columns and centroids is None:
        raise ValueError(
            f"df already carries '{list_col}' but no centroids were given — "
            "fresh k-means centroids would not match the stored list "
            "assignments; pass the centroids the index was built with")
    if centroids is None:
        centroids = kmeans_centroids(df, vec_col, n_centroids, seed=seed)
    if list_col not in df.columns:
        df = ivf_assign(df, vec_col, centroids, list_col)

    cent = np.array(centroids, dtype=np.float64)
    q = np.array(query_vector, dtype=np.float64)
    qn = q / max(float(np.linalg.norm(q)), 1e-12)
    sims = cent @ qn
    probe = [int(i) for i in np.argsort(-sims)[:nprobe]]

    qlit = F.array(*[F.lit(float(v)) for v in query_vector])
    return (df.where(F.col(list_col).isin(probe))
            .select(F.col(id_col).alias("id"),
                    cosine_similarity_expr(F.col(vec_col), qlit).alias("cosine"))
            .orderBy(F.desc("cosine"), F.asc("id"))
            .limit(k))


def _hyperplane_matrix(dims: int, planes: int, seed: int):
    """Deterministic Gaussian hyperplanes — seeded numpy, identical across
    processes/Python versions (builtin hash() is randomized per process and
    implementation-defined; the previous implementation used it and was not
    reproducible across interpreters). Same machinery as
    dedup.embedding_near_duplicates."""
    import numpy as np
    return np.random.default_rng(seed).standard_normal((planes, dims))


def _hyperplane_signature(vec: Column, W) -> Column:
    """Integer bit-packed signature: bit p = [vec·W[p] ≥ 0].

    ONE expression subtree regardless of plane count (r4 advice item): the
    plane matrix is a single array-of-arrays literal, the per-plane dots a
    ``transform`` over it, and the bit-packing a single fold carrying
    (signature, power-of-two) — vs the previous per-plane
    ``aggregate(zip_with(...))`` subtrees whose codegen size (and
    re-materialization of the zipped array) grew linearly with ``planes``.
    The planes·dims multiply-adds are inherent; the tree no longer is."""
    wlit = F.array(*[F.array(*[F.lit(float(w)) for w in row]) for row in W])
    dots = F.transform(wlit, lambda wrow: F.aggregate(
        F.zip_with(vec, wrow, lambda x, w: x.cast("double") * w),
        F.lit(0.0), lambda acc, x: acc + x))
    init = F.struct(F.lit(0).cast("long").alias("sig"),
                    F.lit(1).cast("long").alias("pw"))
    return F.aggregate(
        dots, init,
        lambda acc, d: F.struct(
            (acc["sig"] + F.when(d >= 0, acc["pw"])
             .otherwise(F.lit(0).cast("long"))).alias("sig"),
            (acc["pw"] * F.lit(2).cast("long")).alias("pw")),
        lambda acc: acc["sig"])


def hyperplane_lsh_topk(df: DataFrame, id_col: str, vec_col: str,
                        query_vector: Sequence[float], k: int = 10,
                        planes: int = 8, seed: int = 42,
                        dims: Optional[int] = None) -> DataFrame:
    """Approximate top-k: score only vectors whose hyperplane signature
    matches the query's (expected candidate fraction ≈ 2^-planes +
    near-boundary neighbors). The scale path: the signature predicate
    prunes the scan before any scoring."""
    import numpy as np
    if dims is None:
        dims = len(query_vector)
    W = _hyperplane_matrix(dims, planes, seed)
    sig = _hyperplane_signature(F.col(vec_col), W)
    # query signature computed driver-side from the SAME plane matrix
    qbits = (W @ np.array(query_vector, dtype=np.float64)) >= 0
    qsig = int((qbits.astype("int64") << np.arange(planes)).sum())
    q = F.array(*[F.lit(float(v)) for v in query_vector])
    return (df.where(sig == F.lit(qsig))
            .select(F.col(id_col).alias("id"),
                    cosine_similarity_expr(F.col(vec_col), q).alias("cosine"))
            .orderBy(F.desc("cosine"), F.asc("id"))
            .limit(k))


def semantic_decontaminate(corpus: DataFrame, id_col: str, vec_col: str,
                           benchmark: DataFrame, bench_vec_col: str,
                           threshold: float = 0.95,
                           bench_limit: int = 200_000):
    """Embedding-space benchmark decontamination: drop corpus documents
    whose embedding is within cosine ``threshold`` of ANY benchmark/eval
    embedding — the semantic complement of the 13-gram lexical rule
    (``text.decontaminate``); paraphrased eval items defeat exact n-gram
    collision but not embedding proximity.

    Returns ``(clean_corpus, contaminated)`` where ``contaminated``
    carries ``(id, max_bench_sim)``.

    Scale plan: eval sets are small (MBs), the corpus is not — so the
    benchmark matrix BROADCASTS (guarded by ``bench_limit`` rows) and
    each Arrow batch of corpus vectors does ONE numpy matmul against
    it. Map-only over the corpus: no shuffle, no pairwise explosion,
    100 TB-safe. NULL / wrong-length corpus vectors are unjudgeable and
    pass through as clean (same contract as embedding_near_duplicates).
    """
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    n = benchmark.count()
    if n == 0:
        return corpus, corpus.select(F.col(id_col)).limit(0).withColumn(
            "max_bench_sim", F.lit(None).cast("double"))
    if n > bench_limit:
        raise ValueError(
            f"benchmark has {n} rows > bench_limit={bench_limit}; the "
            "benchmark side must broadcast — sample it or raise the limit")
    B = np.array([r[0] for r in
                  benchmark.select(bench_vec_col).collect()],
                 dtype=np.float64)
    B = B / np.maximum(np.linalg.norm(B, axis=1, keepdims=True), 1e-12)
    dims = B.shape[1]

    @pandas_udf("double")
    def max_sim(vecs: pandas.Series) -> pandas.Series:
        out = np.full(len(vecs), np.nan)
        ok = [i for i, v in enumerate(vecs)
              if v is not None and len(v) == dims]
        if ok:
            X = np.array([vecs.iloc[i] for i in ok], dtype=np.float64)
            X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True),
                               1e-12)
            out[ok] = (X @ B.T).max(axis=1)
        return pandas.Series(out)

    scored = corpus.withColumn("max_bench_sim", max_sim(F.col(vec_col)))
    contaminated = (scored.where(F.col("max_bench_sim") >= threshold)
                    .select(id_col, "max_bench_sim"))
    clean = (scored.where(F.col("max_bench_sim").isNull()
                          | (F.col("max_bench_sim") < threshold))
             .drop("max_bench_sim"))
    return clean, contaminated
