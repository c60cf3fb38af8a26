"""SemDeDup-style cluster-scoped semantic deduplication.

Pattern from Abbas et al., "SemDeDup: Data-efficient learning at
web-scale through semantic deduplication" (arXiv:2303.09540): cluster
the embedding space, search for high-cosine pairs WITHIN clusters
only, and keep one representative per duplicate group — by the paper's
convention the member LEAST similar to its cluster centroid (the most
peripheral example carries the most marginal information).

This complements the other near-dup families: MinHash/Jaccard are
lexical, ``embedding_near_duplicates`` is pairwise LSH over the whole
space; SemDeDup trades the LSH's per-pair probabilistic recall for
exact all-pairs search inside semantically-coherent regions.

Scale design (100 TB lens):
- Clustering bounds the pair search: candidates exist only inside a
  cluster, so the global O(n²) never materializes. Choose
  ``n_clusters ≈ n / target_cluster_size`` (the paper uses ~0.1%·n).
- Assignment + centroid similarity is ONE Arrow-batched pandas
  projection against a broadcast centroid matrix.
- Within-cluster pairing is ``applyInPandas`` per cluster with a
  BLOCKED matmul — peak task memory is O(block_rows · m), never
  O(m²) — and only pairs ≥ threshold leave the task.
- Hot clusters above ``max_cluster_rows`` are REFINED, not exploded:
  their group key gains hyperplane-signature bits until subgroups fit,
  and ``n_bands`` independent refinements are unioned so a true pair
  split by one refinement is usually recovered by another (the same
  recall mechanism as banded LSH). A duplicate mega-cluster therefore
  bounds every task; it cannot OOM the job.
- The per-cluster size probe collects n_clusters rows — bounded by a
  user parameter, never by data.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

import pandas  # noqa: F401 — pandas_udf type hints resolve at module scope
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import storage
from .similarity import _hyperplane_matrix, _hyperplane_signature, \
    kmeans_centroids

__all__ = ["assign_clusters", "semantic_duplicate_pairs",
           "semantic_deduplicate"]


def assign_clusters(df: DataFrame, vec_col: str,
                    centroids: Sequence[Sequence[float]],
                    cluster_col: str = "cluster",
                    sim_col: str = "centroid_sim") -> DataFrame:
    """Nearest-centroid (cosine) assignment plus the similarity to that
    centroid, in ONE vectorized Arrow batch per task (the centroid
    matrix is a tiny broadcast literal). Rows with NULL or
    wrong-dimension vectors are dropped — they cannot be clustered.
    Ties go to the LOWEST centroid index (numpy argmax), mirrored by
    the SQL oracle's (sim DESC, idx ASC) ordering."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    cent = np.array(centroids, dtype=np.float64)
    cent = cent / np.maximum(
        np.linalg.norm(cent, axis=1, keepdims=True), 1e-12)
    df = df.where(F.col(vec_col).isNotNull()
                  & (F.size(F.col(vec_col)) == cent.shape[1]))

    @pandas_udf("struct<cluster:int, centroid_sim:double>")
    def nearest(vecs: pandas.Series) -> pandas.DataFrame:
        import pandas as pd
        X = np.array(vecs.tolist(), dtype=np.float64)
        X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        S = X @ cent.T
        a = S.argmax(axis=1)
        return pd.DataFrame({
            "cluster": a.astype("int32"),
            "centroid_sim": S[np.arange(len(a)), a]})

    assigned = df.withColumn("__a", nearest(F.col(vec_col)))
    return (assigned
            .withColumn(cluster_col, F.col("__a.cluster"))
            .withColumn(sim_col, F.col("__a.centroid_sim"))
            .drop("__a"))


def _refinement_plan(sizes: List[tuple], max_cluster_rows: int) -> dict:
    """cluster → number of signature bits needed so every refined
    subgroup is expected under ``max_cluster_rows`` (hyperplane bits
    halve a cluster per bit in expectation)."""
    plan = {}
    for cluster, cnt in sizes:
        bits = 0
        while cnt > max_cluster_rows:
            cnt /= 2.0
            bits += 1
        plan[int(cluster)] = bits
    return plan


def semantic_duplicate_pairs(df: DataFrame, id_col: str, vec_col: str,
                             threshold: float = 0.95,
                             centroids: Optional[Sequence[Sequence[float]]]
                             = None,
                             n_clusters: int = 16,
                             max_cluster_rows: int = 8192,
                             n_bands: int = 2,
                             block_rows: int = 1024,
                             hot_group_cap: int = 4096,
                             seed: int = 42,
                             assigned: Optional[DataFrame]
                             = None) -> DataFrame:
    """Within-cluster semantic duplicate pairs ``(id_a, id_b, cosine)``
    with ``id_a < id_b`` and cosine ≥ ``threshold`` (exact float64, no
    approximation inside a group). See the module docstring for the
    bounded-task strategy; recall across a refined hot cluster is
    ``1 − (split probability)^n_bands`` per pair, and near-identical
    vectors (the SemDeDup regime, cosine ≥ ~0.95) almost never split —
    their hyperplane signatures agree with probability
    ``(1 − θ/π)^bits``.

    Groups that end up over ``hot_group_cap`` even AFTER refinement are
    duplicate mega-clusters refinement provably cannot split (identical
    vectors share every signature). Those emit MIN-PARTNER edges —
    each row linked to its smallest threshold-matching partner — which
    preserves connected components exactly with O(m) output instead of
    O(m²); below the cap the full pair set is emitted so pair-level
    inspection keeps complete fidelity.

    ``assigned`` (internal): a pre-computed ``assign_clusters`` result
    — lets ``semantic_deduplicate`` reuse ONE assignment pass for both
    the pair search and the keep rule instead of re-scoring the corpus
    twice."""
    cents = (centroids if centroids is not None
             else kmeans_centroids(df, vec_col, n_clusters, seed=seed))
    dims = len(cents[0])
    if assigned is None:
        assigned = assign_clusters(df.select(id_col, vec_col),
                                   vec_col, cents)

    # bounded driver probe: one row per cluster
    sizes = [(r["cluster"], r["cnt"]) for r in
             assigned.groupBy("cluster")
             .agg(F.count(F.lit(1)).alias("cnt")).collect()]
    plan = _refinement_plan(sizes, max_cluster_rows)
    max_bits = max(plan.values(), default=0)

    if max_bits == 0:
        keyed = assigned.select(
            id_col, vec_col, "cluster",
            F.lit(0).alias("band"), F.lit(0).cast("long").alias("subkey"))
    else:
        nbits_map = F.create_map(*[
            F.lit(x) for c, b in plan.items() for x in (c, b)])
        nbits = nbits_map[F.col("cluster")]
        sigs = [_hyperplane_signature(
                    F.col(vec_col), _hyperplane_matrix(dims, max_bits,
                                                       seed + 1000 + b))
                for b in range(n_bands)]
        # cold clusters (nbits=0): ONE group key; hot: n_bands refined keys
        keys = F.when(nbits == 0, F.array(F.struct(
            F.lit(0).alias("band"), F.lit(0).cast("long").alias("subkey")))
        ).otherwise(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     (sig % F.pow(F.lit(2.0), nbits).cast("long"))
                     .alias("subkey"))
            for b, sig in enumerate(sigs)]))
        keyed = (assigned
                 .select(id_col, vec_col, "cluster",
                         F.explode(keys).alias("__k"))
                 .select(id_col, vec_col, "cluster",
                         F.col("__k.band").alias("band"),
                         F.col("__k.subkey").alias("subkey")))

    id_type = dict(df.dtypes)[id_col]
    out_schema = f"id_a {id_type}, id_b {id_type}, cosine double"

    def find_pairs(pdf):
        import numpy as np
        import pandas as pd
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        X = np.array(pdf[vec_col].to_numpy()[order].tolist(),
                     dtype=np.float64)
        X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        m = len(ids)
        if m <= hot_group_cap:
            # full C(m,2) expansion — pair-level fidelity where it fits
            a_out, b_out, c_out = [], [], []
            for s in range(0, m, block_rows):
                S = X[s:s + block_rows] @ X.T  # block × m, never m × m
                ii, jj = np.nonzero(S >= threshold)
                keep = (ii + s) < jj           # strict upper triangle
                a_out.append(ids[ii[keep] + s])
                b_out.append(ids[jj[keep]])
                c_out.append(S[ii[keep], jj[keep]])
            if not a_out:
                return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
            return pd.DataFrame({
                "id_a": np.concatenate(a_out),
                "id_b": np.concatenate(b_out),
                "cosine": np.concatenate(c_out)})
        # MIN-PARTNER reduction for groups refinement cannot split
        # (near-identical vectors share every hyperplane signature):
        # each row links to its SMALLEST matching partner — a forest
        # whose trees are exactly the threshold-graph components, so
        # connected-components dedup is unchanged while the output
        # stays O(m) instead of O(m²). Same reasoning as the MinHash
        # hot-bucket star expansion (capped_pair_expr).
        parent = np.full(m, -1, dtype=np.int64)
        pcos = np.zeros(m)
        for s in range(0, m, block_rows):
            if (parent[s + 1:] >= 0).all() and s > 0:
                break                          # every later row linked
            S = X[s:s + block_rows] @ X.T
            rows_here = S.shape[0]
            jcols = np.arange(m)
            tri = jcols[None, :] > (np.arange(rows_here) + s)[:, None]
            mask = (S >= threshold) & tri
            hit = mask.any(axis=0)
            first = mask.argmax(axis=0)        # smallest row in this block
            newly = hit & (parent < 0)
            parent[newly] = first[newly] + s   # blocks ascend → global min
            pcos[newly] = S[first[newly], jcols[newly]]
        linked = np.nonzero(parent >= 0)[0]
        return pd.DataFrame({
            "id_a": ids[parent[linked]],
            "id_b": ids[linked],
            "cosine": pcos[linked]})

    pairs = (keyed.groupBy("cluster", "band", "subkey")
             .applyInPandas(find_pairs, out_schema))
    # a hot-cluster pair can surface in several bands — same exact cosine
    return pairs.dropDuplicates(["id_a", "id_b"])


def semantic_deduplicate(df: DataFrame, id_col: str, vec_col: str,
                         threshold: float = 0.95,
                         centroids: Optional[Sequence[Sequence[float]]]
                         = None,
                         n_clusters: int = 16,
                         max_cluster_rows: int = 8192,
                         n_bands: int = 2,
                         seed: int = 42) -> DataFrame:
    """Full SemDeDup pass: pairs → connected components → keep, per
    component, the member LEAST similar to its cluster centroid
    (ties: min id) — the paper's "keep the outlier" rule. Returns
    ``df`` minus the dropped rows; rows in no duplicate pair pass
    through untouched. The anti-join side is unhinted for the same
    reason as ``deduplicate_near`` — the loser set is corpus-scaled on
    duplicate-heavy data, AQE picks broadcast only when it fits.

    The assignment runs ONCE (persisted) and feeds both the pair
    search and the keep rule — a second full-corpus scoring pass would
    double the dominant cost at scale."""
    from .dedup import near_duplicate_components

    if centroids is None:
        centroids = kmeans_centroids(df, vec_col, n_clusters, seed=seed)
    with storage.scope() as s:
        assigned = s.persist(assign_clusters(df.select(id_col, vec_col),
                                             vec_col, centroids))
        pairs = semantic_duplicate_pairs(
            df, id_col, vec_col, threshold, centroids,
            max_cluster_rows=max_cluster_rows, n_bands=n_bands, seed=seed,
            assigned=assigned)
        comps = near_duplicate_components(pairs)
        sims = assigned.select(F.col(id_col).alias("id"), "centroid_sim")
        ranked = (comps.join(sims, "id")
                  .withColumn("__rk", F.row_number().over(
                      Window.partitionBy("component")
                      .orderBy(F.col("centroid_sim").asc(),
                               F.col("id").asc()))))
        # materialize the loser set before the scope releases the
        # assignment (and the component labels) — the lazy anti-join
        # below must not re-score the corpus
        losers = s.keep(s.checkpoint(
            ranked.where(F.col("__rk") > 1).select("id"), eager=True))
    return df.join(losers, df[id_col] == losers["id"], "left_anti")
