"""Scale diagnostics — pre-flight skew and layout measurement.

The reference has no equivalent subsystem (its AnalysisRunner trusts
Spark to schedule the fused scan); at 100 TB the *user's* question before
a big groupBy/join is "will this key skew kill a task?". These operators
answer it with bounded-output aggregations so the answer itself is cheap:

- :func:`key_skew_report` — per-key frequency distribution summary
  (max/avg/percentiles, heavy-hitter mass) from ONE groupBy + one small
  agg over the counts. Output is O(top_n), never O(keys) at the driver.
- :func:`suggest_skew_mitigation` — the decision rule (broadcast /
  salt / AQE / nothing) derived from a report, as data not prose.
- :func:`partition_report` — physical partition balance via
  ``spark_partition_id()``: one map-side-combined groupBy over at most
  ``rdd.getNumPartitions()`` keys.

All math is engine-portable (exact counts, exact percentiles over the
counts table) so a DuckDB oracle can replay every number.
"""

from __future__ import annotations

from typing import Optional, Sequence, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import storage


def key_skew_report(df: DataFrame, key_cols: Union[str, Sequence[str]],
                    top_n: int = 10) -> dict:
    """Frequency-skew summary for a prospective groupBy/join key.

    Two jobs: (1) ``groupBy(key).count()`` — the same shuffle the real
    query would do, but reduced map-side so the shuffled data is one row
    per key; (2) one aggregate over the counts table producing a
    FIXED-SIZE summary (plus a ``top_n`` heavy-hitter slice via
    TakeOrdered). Nothing O(keys) ever reaches the driver.

    Returns a dict with:
      ``n_rows, n_keys, null_key_rows`` — totals (null keys called out
        because null-heavy join keys are the classic silent skew),
      ``max_count, avg_count, skew_ratio`` — max/avg, the salting signal,
      ``p50_count, p90_count, p99_count`` — exact percentiles of the
        per-key counts,
      ``top_keys`` — list of (key-string, count) for the ``top_n``
        heaviest keys (count desc, key asc — deterministic),
      ``top_mass`` — fraction of ALL rows owned by those top keys.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    # NULL-sentinel per component: concat_ws SKIPS nulls, which would
    # collapse distinct null patterns like ('a', NULL) and (NULL, 'a')
    # into one key and misreport its count
    key_str = F.concat_ws("|", *[
        F.coalesce(F.col(k).cast("string"), F.lit("␀")) for k in keys])
    null_any = None
    for k in keys:
        c = F.col(k).isNull()
        null_any = c if null_any is None else (null_any | c)

    counts = (df.select(key_str.alias("__key"),
                        null_any.cast("long").alias("__null"))
              .groupBy("__key", "__null").count())
    with storage.scope() as s:
        counts = s.persist(counts)
        summary = counts.agg(
            F.sum("count").alias("n_rows"),
            F.count("*").alias("n_keys"),
            F.sum(F.col("count") * F.col("__null")).alias("null_key_rows"),
            F.max("count").alias("max_count"),
            F.avg("count").alias("avg_count"),
            F.expr("percentile(count, array(0.5, 0.9, 0.99))").alias("pct"),
        ).collect()[0]
        top = (counts.orderBy(F.desc("count"), F.asc("__key"))
               .limit(top_n).collect())

    n_rows = int(summary["n_rows"] or 0)
    if int(summary["n_keys"]) == 0:
        # Empty input (or everything filtered out): every aggregate is
        # NULL — return a zeroed report instead of crashing a pre-flight
        # diagnostic with a TypeError.
        return {
            "n_rows": 0, "n_keys": 0, "null_key_rows": 0,
            "max_count": 0, "avg_count": 0.0, "skew_ratio": 0.0,
            "p50_count": 0.0, "p90_count": 0.0, "p99_count": 0.0,
            "top_keys": [], "top_mass": 0.0,
        }
    top_keys = [(r["__key"], int(r["count"])) for r in top]
    return {
        "n_rows": n_rows,
        "n_keys": int(summary["n_keys"]),
        "null_key_rows": int(summary["null_key_rows"] or 0),
        "max_count": int(summary["max_count"]),
        "avg_count": float(summary["avg_count"]),
        "skew_ratio": float(summary["max_count"]) / float(summary["avg_count"]),
        "p50_count": float(summary["pct"][0]),
        "p90_count": float(summary["pct"][1]),
        "p99_count": float(summary["pct"][2]),
        "top_keys": top_keys,
        "top_mass": (sum(c for _, c in top_keys) / n_rows) if n_rows else 0.0,
    }


def suggest_skew_mitigation(report: dict,
                            broadcast_threshold_keys: int = 1_000_000,
                            skew_ratio_threshold: float = 10.0,
                            target_rows_per_task: int = 5_000_000) -> dict:
    """Decision rule from a :func:`key_skew_report`, as data.

    - every key fits a broadcast table → ``broadcast`` the dim side;
    - ``max_count`` alone exceeds a task budget → ``salt`` with the
      computed factor (AQE splits skewed *partitions*, but a single KEY
      larger than a task cannot be split without salting);
    - moderate skew → ``aqe`` (enable skew-join handling and move on);
    - otherwise → ``none``.
    """
    salt = -(-report["max_count"] // target_rows_per_task)  # ceil
    if report["n_keys"] <= broadcast_threshold_keys \
            and report["n_rows"] <= broadcast_threshold_keys:
        strategy = "broadcast"
    elif report["max_count"] > target_rows_per_task:
        strategy = "salt"
    elif report["skew_ratio"] > skew_ratio_threshold:
        strategy = "aqe"
    else:
        strategy = "none"
    return {"strategy": strategy,
            "salt_factor": int(salt) if strategy == "salt" else 1,
            "null_heavy": report["null_key_rows"] > 0.1 * report["n_rows"]}


def partition_report(df: DataFrame) -> DataFrame:
    """Physical partition balance: one row per non-empty partition with
    its row count. Map-side combined groupBy over ≤ numPartitions keys —
    O(partitions) output regardless of data size. Use after a repartition
    / before a wide write to confirm the layout is balanced."""
    return (df.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count("*").alias("rows"))
            .orderBy("partition_id"))


def salted_agg(df: DataFrame, key_cols: Union[str, Sequence[str]],
               aggs: dict, salt: int = 16) -> DataFrame:
    """Two-stage skew-proof aggregation: groupBy(keys + salt) partial,
    then groupBy(keys) final merge — the fix :func:`suggest_skew_mitigation`
    recommends when a single key exceeds a task budget (AQE can split
    skewed *partitions* but not one giant KEY).

    ``aggs`` maps output column name → ("sum"|"count"|"min"|"max"|"avg",
    input column). All are algebraic, so partial per-salt results merge
    exactly: sum→sum, count→sum, min→min, max→max, avg→(sum,count) pair
    carried through the partial stage. The salt is
    ``pmod(hash(monotonically_increasing_id()), salt)`` — per-row-slot,
    not per-content, so IDENTICAL rows still spread across salts (a
    content hash would send a mega-cluster of equal rows to one salt
    and defeat the whole point)."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    supported = {"sum", "count", "min", "max", "avg"}
    for name, (fn, _c) in aggs.items():
        if fn not in supported:
            raise ValueError(f"unsupported agg {fn!r} for {name}; "
                             f"supported: {sorted(supported)}")
    salted = df.withColumn(
        "__salt", F.pmod(F.hash(F.monotonically_increasing_id()),
                         F.lit(salt)))
    partial_exprs, final_exprs = [], []
    for name, (fn, c) in aggs.items():
        if fn == "sum":
            partial_exprs.append(F.sum(c).alias(f"__p_{name}"))
            final_exprs.append(F.sum(f"__p_{name}").alias(name))
        elif fn == "count":
            partial_exprs.append(F.count(c).alias(f"__p_{name}"))
            final_exprs.append(F.sum(f"__p_{name}").alias(name))
        elif fn == "min":
            partial_exprs.append(F.min(c).alias(f"__p_{name}"))
            final_exprs.append(F.min(f"__p_{name}").alias(name))
        elif fn == "max":
            partial_exprs.append(F.max(c).alias(f"__p_{name}"))
            final_exprs.append(F.max(f"__p_{name}").alias(name))
        else:  # avg = exact merge via (sum, count)
            partial_exprs.append(F.sum(c).alias(f"__ps_{name}"))
            partial_exprs.append(F.count(c).alias(f"__pc_{name}"))
            final_exprs.append(
                (F.sum(f"__ps_{name}") / F.sum(f"__pc_{name}"))
                .alias(name))
    partial = salted.groupBy(*keys, "__salt").agg(*partial_exprs)
    return partial.groupBy(*keys).agg(*final_exprs)


def file_report(spark, path: str,
                small_file_bytes: int = 32 * 1024 * 1024,
                target_file_bytes: int = 256 * 1024 * 1024) -> dict:
    """Physical-layout report for a table directory: the small-files
    check every 100 TB lake needs before a scan fleet hits it (each
    file costs a task + open/seek overhead; thousands of KB-size files
    turn a scan into scheduler churn).

    Walks the path via the Hadoop FileSystem API (so s3a://, hdfs://,
    file:// all work), counts data files (hidden/_SUCCESS skipped) and
    returns totals, size distribution, the small-file fraction, and
    ``suggested_partitions`` = ceil(total_bytes / target_file_bytes) —
    the repartition()/maxRecordsPerFile input that would compact the
    layout. Listing is driver-side and O(files) — cheap next to any
    read of the data itself."""
    sc = spark.sparkContext
    jvm = sc._jvm
    conf = sc._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    sizes = []
    it = fs.listFiles(p, True)
    while it.hasNext():
        f = it.next()
        name = f.getPath().getName()
        if name.startswith("_") or name.startswith("."):
            continue
        sizes.append(int(f.getLen()))
    if not sizes:
        return {"n_files": 0, "total_bytes": 0, "small_files": 0,
                "small_fraction": 0.0, "max_bytes": 0, "min_bytes": 0,
                "avg_bytes": 0.0, "suggested_partitions": 0}
    total = sum(sizes)
    small = sum(1 for s in sizes if s < small_file_bytes)
    return {
        "n_files": len(sizes),
        "total_bytes": total,
        "small_files": small,
        "small_fraction": small / len(sizes),
        "max_bytes": max(sizes),
        "min_bytes": min(sizes),
        "avg_bytes": total / len(sizes),
        "suggested_partitions": -(-total // target_file_bytes),
    }


def missingness_patterns(df: DataFrame, cols: Optional[Sequence[str]] = None,
                         top_n: int = 20) -> DataFrame:
    """Co-missingness analysis: counts of NULL-PATTERNS across columns —
    per-column Completeness says how much is missing; this says which
    columns go missing TOGETHER (one upstream join failing typically
    nulls a whole column group, which per-column metrics can't see).

    One map-side-combined groupBy over a computed pattern string
    ("colA,colB" = exactly those columns null; "" = complete row), then
    a TakeOrdered top-N — output bounded by min(distinct patterns,
    top_n), never row-shaped. Column count is capped at 32 (patterns
    grow 2^C; pass an explicit subset for wider tables)."""
    use = list(cols) if cols is not None else list(df.columns)
    if len(use) > 32:
        raise ValueError(
            f"{len(use)} columns would allow 2^{len(use)} patterns; "
            "pass an explicit subset (<= 32 columns)")
    pattern = F.concat_ws(",", *[
        F.when(F.col(c).isNull(), F.lit(c)) for c in use])
    return (df.groupBy(pattern.alias("null_pattern"))
            .agg(F.count(F.lit(1)).alias("rows"))
            .orderBy(F.desc("rows"), F.asc("null_pattern"))
            .limit(top_n))


def join_cardinality(left: DataFrame, left_keys,
                     right: DataFrame, right_keys,
                     top_n: int = 5) -> dict:
    """Pre-flight size of an inner equi-join WITHOUT running it:
    |A ⋈ B| = Σ_k cA(k)·cB(k) over the per-key count tables — two
    reduced-map-side groupBys plus a join of COUNT TABLES (one row per
    key, not per row), so the answer costs ~distinct-keys even when the
    join itself would explode. The classic pre-flight for fan-out
    surprises: a 'harmless' join on a low-cardinality key producing
    10¹² rows shows up here as a number, not an OOM three hours in.

    Returns ``rows`` (exact inner-join output count), ``matching_keys``,
    and ``top_keys`` — the ``top_n`` heaviest (key, contribution)
    pairs, i.e. where the blow-up lives."""
    lk = [left_keys] if isinstance(left_keys, str) else list(left_keys)
    rk = [right_keys] if isinstance(right_keys, str) else list(right_keys)
    if len(lk) != len(rk):
        raise ValueError("left_keys and right_keys must align")
    lkey = F.concat_ws("|", *[
        F.coalesce(F.col(k).cast("string"), F.lit("␀")) for k in lk])
    rkey = F.concat_ws("|", *[
        F.coalesce(F.col(k).cast("string"), F.lit("␀")) for k in rk])
    # NULL join keys never match in an equi-join: drop them first
    lnull, rnull = [F.col(k).isNull() for k in lk], \
        [F.col(k).isNull() for k in rk]
    la = left.where(~F.greatest(*lnull, F.lit(False))) if len(lnull) > 1 \
        else left.where(~lnull[0])
    ra = right.where(~F.greatest(*rnull, F.lit(False))) if len(rnull) > 1 \
        else right.where(~rnull[0])
    lc = la.groupBy(lkey.alias("__k")).count() \
        .withColumnRenamed("count", "__cl")
    rc = ra.groupBy(rkey.alias("__k")).count() \
        .withColumnRenamed("count", "__cr")
    prod = lc.join(rc, "__k").withColumn(
        "__contrib", F.col("__cl") * F.col("__cr"))
    with storage.scope() as s:
        prod = s.persist(prod)
        tot = prod.agg(F.sum("__contrib").alias("rows"),
                       F.count(F.lit(1)).alias("keys")).collect()[0]
        top = (prod.orderBy(F.desc("__contrib"), F.asc("__k"))
               .limit(top_n).collect())
    return {"rows": int(tot["rows"] or 0),
            "matching_keys": int(tot["keys"]),
            "top_keys": [(r["__k"], int(r["__contrib"])) for r in top]}


def fd_violations(df: DataFrame, determinant, dependent,
                  top_n: int = 10) -> dict:
    """Functional-dependency check: does ``determinant`` (column or
    list) uniquely determine ``dependent``? Classic schema-quality
    probe — 'order_id → customer_id should never disagree' — that
    per-column analyzers can't express.

    One groupBy(determinant) with countDistinct(dependent): a key
    VIOLATES when its group holds >1 distinct dependent value (NULL
    counts as a value of its own via a sentinel). Returns violating-key
    count, the rows they cover, the compliance ratio, and the top
    offending keys — all from bounded aggregates."""
    det = [determinant] if isinstance(determinant, str) \
        else list(determinant)
    dep_val = F.coalesce(F.col(dependent).cast("string"), F.lit("␀"))
    key_str = F.concat_ws("|", *[
        F.coalesce(F.col(k).cast("string"), F.lit("␀")) for k in det])
    per_key = (df.groupBy(key_str.alias("__k"))
               .agg(F.countDistinct(dep_val).alias("__d"),
                    F.count(F.lit(1)).alias("__n")))
    with storage.scope() as s:
        per_key = s.persist(per_key)
        tot = per_key.agg(
            F.count(F.lit(1)).alias("keys"),
            F.sum((F.col("__d") > 1).cast("long")).alias("bad_keys"),
            F.sum(F.when(F.col("__d") > 1, F.col("__n"))
                  .otherwise(F.lit(0))).alias("bad_rows"),
            F.sum("__n").alias("rows")).collect()[0]
        top = (per_key.where(F.col("__d") > 1)
               .orderBy(F.desc("__d"), F.desc("__n"), F.asc("__k"))
               .limit(top_n).collect())
    rows = int(tot["rows"] or 0)
    bad_rows = int(tot["bad_rows"] or 0)
    return {"keys": int(tot["keys"]),
            "violating_keys": int(tot["bad_keys"] or 0),
            "violating_rows": bad_rows,
            "compliance": (rows - bad_rows) / rows if rows else 1.0,
            "top_violations": [(r["__k"], int(r["__d"]), int(r["__n"]))
                               for r in top]}


def benford_deviation(df: DataFrame, column: str) -> dict:
    """First-significant-digit distribution vs Benford's law — the
    classic screen for fabricated or unit-mangled numeric data (genuine
    multi-scale positive measurements follow P(d) = log10(1 + 1/d);
    hand-entered or truncated data usually doesn't).

    One aggregation over ``floor(x / 10^floor(log10(x)))`` for positive
    values (zero/negative/NULL excluded — Benford applies to positive
    magnitudes). Returns per-digit observed proportions, the expected
    law, the chi-square statistic, and the mean absolute deviation of
    proportions (Nigrini's MAD; < 0.006 conforming, > 0.015 suspect)."""
    import math
    x = F.col(column).cast("double")
    digit = F.floor(x / F.pow(F.lit(10.0), F.floor(F.log10(x))))
    counts = (df.where(x > 0)
              .groupBy(digit.cast("int").alias("d"))
              .agg(F.count(F.lit(1)).alias("n")).collect())
    obs = {int(r["d"]): int(r["n"]) for r in counts}
    total = sum(obs.values())
    expected = {d: math.log10(1 + 1 / d) for d in range(1, 10)}
    if total == 0:
        return {"n": 0, "observed": {}, "expected": expected,
                "chi_square": None, "mad": None}
    props = {d: obs.get(d, 0) / total for d in range(1, 10)}
    chi2 = sum((obs.get(d, 0) - expected[d] * total) ** 2
               / (expected[d] * total) for d in range(1, 10))
    mad = sum(abs(props[d] - expected[d]) for d in range(1, 10)) / 9
    return {"n": total, "observed": props, "expected": expected,
            "chi_square": chi2, "mad": mad}


def grouped_topk(df: DataFrame, keys: Union[str, Sequence[str]],
                 order_col: str, k: int, descending: bool = True,
                 rank_col: str = "rank") -> DataFrame:
    """Top-``k`` rows per group by ``order_col`` — the everyday slice
    ("3 biggest orders per customer") expressed so Spark 3.5's
    WindowGroupLimit kicks in: the rank filter pushes INTO the window
    exec, which then keeps only k rows per group during the sort instead
    of ranking everything and filtering after (visible as
    WindowGroupLimit in the plan; one shuffle either way, but per-group
    state drops from group size to k).

    Ties broken deterministically by the remaining column order is NOT
    guaranteed — pass a unique tiebreaker in ``order_col`` via a struct
    upstream if exact tie behavior matters."""
    if k <= 0:
        raise ValueError("k must be positive")
    from pyspark.sql import Window
    key_list = [keys] if isinstance(keys, str) else list(keys)
    order = F.col(order_col).desc() if descending \
        else F.col(order_col).asc()
    w = Window.partitionBy(*key_list).orderBy(order)
    return (df.withColumn(rank_col, F.row_number().over(w))
            .where(F.col(rank_col) <= k))


def misra_gries_fold(counters: dict, weighted_items, cap: int) -> dict:
    """Fold ``(value, count)`` pairs into a Misra-Gries summary of at
    most ``cap`` counters.  Batched decrement: inserting past capacity
    strips the minimum from every counter — that removes >= (cap+1)*m
    total mass while charging any single counter only m, so the classic
    undercount bound (true_count - mg_count <= total_mass/(cap+1))
    survives batching, and with it the soundness guarantee both the
    batch (:func:`exact_heavy_hitters`) and streaming
    (``streaming.frequent``) consumers rely on: every value with mass
    above total/(cap+1) keeps a positive counter."""
    for v, c in weighted_items:
        c = int(c)
        if v in counters:
            counters[v] += c
        elif len(counters) < cap:
            counters[v] = c
        else:
            counters[v] = c
            m = min(counters.values())
            counters = {k2: c2 - m for k2, c2 in counters.items()
                        if c2 > m}
    return counters


def exact_heavy_hitters(df: DataFrame, column: str, min_fraction: float,
                        capacity: Optional[int] = None) -> DataFrame:
    """EXACT frequent items: every value of ``column`` occurring in at
    least ``min_fraction`` of the non-null rows, with its exact count.

    Two passes, both bounded-memory — the point at 100 TB is that the
    obvious plan (``groupBy(col).count()`` then filter) keeps hash-agg
    state proportional to the column's CARDINALITY, which for a URL or
    user-id column is corpus-sized.  Here:

    1. **Candidates** — one map-only pass running a Misra-Gries summary
       (Misra & Gries 1982, "Finding repeated elements") per partition
       with ``capacity = ceil(1/min_fraction) + 1`` counters.  MG
       undercounts any value by at most ``n_p/(capacity+1) <
       min_fraction * n_p``, and a globally frequent value must reach
       ``min_fraction * n_p`` in at least one partition (pigeonhole), so
       the union of per-partition survivors is a SUPERSET of the true
       heavy hitters: the filter is sound, never lossy.  At most
       ``capacity`` candidates per partition regardless of cardinality.
    2. **Verify** — broadcast the candidate set (tiny: capacity x
       n_partitions values), semi-join, exact count of the survivors
       only, filter ``count >= min_fraction * total``.

    Output: ``value, count, fraction`` (exact).  NULLs are ignored;
    float NaN is a COUNTED value (Spark's groupBy/join treat NaN as
    equal to itself, so the verify pass groups it like any other key —
    dropping it in pass 1 only would break the superset guarantee).
    One extra cheap job computes the non-null total (count-only scan).
    ``min_fraction`` is quantized to 1e-6 so the threshold comparison is
    pure integer arithmetic — no float-boundary flakiness between this
    and an ANSI-SQL replay of the same filter.
    """
    if not (0.0 < min_fraction <= 1.0):
        raise ValueError("min_fraction must be in (0, 1]")
    import math
    cap = capacity if capacity is not None \
        else int(math.ceil(1.0 / min_fraction)) + 1
    # soundness needs undercount bound n_p/(cap+1) < min_fraction*n_p,
    # i.e. (cap+1)*min_fraction > 1 — an explicit capacity below that
    # would silently DROP true heavy hitters
    if (cap + 1) * min_fraction <= 1.0:
        raise ValueError(
            f"capacity={cap} cannot guarantee exactness at "
            f"min_fraction={min_fraction}: need capacity+1 > "
            f"{1.0 / min_fraction:.1f}")

    values = df.select(F.col(column).alias("value")) \
               .where(F.col("value").isNotNull())
    schema = values.schema

    def mg_partition(batches):
        import pandas as pd
        # one canonical NaN object: distinct NaN floats hash apart in
        # the fold's dict, but Spark's groupBy treats NaN as one value —
        # canonicalize so pass 1 sees the domain pass 2 will count
        canon_nan = float("nan")

        def canon_items(vc):
            for v, c in vc.items():
                # self-inequality is THE NaN test that works across
                # Python float and every numpy float width (float32
                # keys are np.float32 — not a Python float subclass)
                yield (canon_nan if v != v else v), c

        counters: dict = {}
        for pdf in batches:
            counters = misra_gries_fold(
                counters,
                canon_items(pdf["value"].value_counts(dropna=False)),
                cap)
        yield pd.DataFrame({"value": list(counters.keys())})

    candidates = values.mapInPandas(mg_partition, schema)
    # pandas->Arrow nullifies float NaN on the way OUT of mapInPandas;
    # inputs were null-filtered, so a NULL candidate can only be NaN —
    # restore it so the semi-join (NaN = NaN in Spark) can match
    vtype = schema["value"].dataType.simpleString()
    if vtype in ("double", "float"):
        candidates = candidates.select(
            F.coalesce(F.col("value"),
                       F.lit(float("nan")).cast(vtype)).alias("value"))
    candidates = candidates.distinct()
    return verify_hitter_candidates(values, candidates, min_fraction)


def verify_hitter_candidates(values: DataFrame, candidates: DataFrame,
                             min_fraction: float) -> DataFrame:
    """Exact pass 2 shared by the batch and streaming heavy-hitter
    operators: broadcast the (tiny) candidate ``value`` set, semi-join,
    exact count, keep values with ``count/total >= min_fraction``
    (compared in integer micro-units — min_fraction quantized to 1e-6 —
    so the boundary case is bit-stable and replayable in ANSI SQL).
    ``values`` must be a single-column frame named ``value`` with NULLs
    already removed."""
    total = values.count()
    if total == 0:
        return (values.groupBy("value").agg(F.count("*").alias("count"))
                .withColumn("fraction", F.lit(0.0)).limit(0))
    frac_micro = int(round(min_fraction * 1_000_000))
    if frac_micro <= 0:
        # a fraction that quantizes to zero would keep EVERY candidate
        raise ValueError(
            f"min_fraction={min_fraction} is below the 1e-6 threshold "
            f"resolution")
    cand = candidates.select("value").distinct()
    # long arithmetic: frac_micro * total exceeds int32 at ~2k rows and
    # ANSI mode makes that a constant-folding crash, not a wrap
    threshold = F.lit(frac_micro).cast("long") * F.lit(total).cast("long")
    return (values.join(F.broadcast(cand), "value", "leftsemi")
            .groupBy("value").agg(F.count("*").alias("count"))
            .where(F.col("count") * F.lit(1_000_000).cast("long")
                   >= threshold)
            .withColumn("fraction",
                        (F.col("count") / F.lit(total)).cast("double")))


def plan_report(df: DataFrame, execute: bool = False) -> dict:
    """Static lint of a DataFrame's EXECUTED plan — the pre-flight
    answer to "will this plan survive a 100x scale-up?" as data, not a
    wall of explain() text.  Counts the plan nodes that matter at scale:

    - ``exchanges`` — SHUFFLE exchanges only (each is a full network
      rewrite of the data; the first thing to minimize);
      ``broadcast_exchanges`` counted separately
    - ``broadcast_joins`` vs ``sortmerge_joins`` / ``shuffled_hash_joins``
    - ``cartesian`` / ``nested_loop_joins`` — the do-not-ship nodes
    - ``python_row_udfs`` (BatchEvalPython: row-at-a-time Python — the
      slow path) vs ``arrow_python`` (ArrowEvalPython / MapInPandas /
      FlatMapGroupsInPandas: vectorized)
    - ``wholestage_codegen_spans`` — fused JVM pipelines (more/wider
      is better)
    - ``scans_with_pushed_filters`` — file scans whose PushedFilters
      list is non-empty (predicates reached the format reader)

    Pure string analysis of the physical plan; by default triggers
    planning but never runs a job.  Under AQE the initial plan carries
    no codegen annotations and join/exchange choices may still change —
    pass ``execute=True`` to run the plan once (driving the physical
    RDD directly, rows never collected) and lint the FINAL adaptive
    plan instead; ``adaptive_final`` records which one you got.
    """
    qe = df._jdf.queryExecution()
    if execute:
        # executes THIS query execution (count on the InternalRow RDD),
        # which is what finalizes an AdaptiveSparkPlan — a df.count()
        # would plan and run a different (aggregated) query instead
        qe.executedPlan().execute().count()
    plan = qe.executedPlan().toString()
    # an executed AdaptiveSparkPlan prints BOTH its final and initial
    # plans — count nodes in the final section only or everything
    # doubles
    marker = "== Initial Plan =="
    if marker in plan:
        plan = plan.split(marker, 1)[0]
    import re as _re
    return {
        "adaptive_final": ("isFinalPlan=true" in plan
                           or "AdaptiveSparkPlan" not in plan),
        # shuffle exchanges ONLY — a bare .count("Exchange") would also
        # match BroadcastExchange/ReusedExchange and flag shuffle-free
        # broadcast plans as shuffling
        "exchanges": len(_re.findall(
            r"(?<![A-Za-z])Exchange (hashpartitioning|rangepartitioning|"
            r"SinglePartition|RoundRobinPartitioning)", plan)),
        "broadcast_exchanges": plan.count("BroadcastExchange"),
        "reused_exchanges": plan.count("ReusedExchange"),
        "broadcast_joins": plan.count("BroadcastHashJoin"),
        "sortmerge_joins": plan.count("SortMergeJoin"),
        "shuffled_hash_joins": plan.count("ShuffledHashJoin"),
        "nested_loop_joins": plan.count("BroadcastNestedLoopJoin"),
        "cartesian": plan.count("CartesianProduct"),
        "python_row_udfs": plan.count("BatchEvalPython"),
        "arrow_python": (plan.count("ArrowEvalPython")
                         + plan.count("MapInPandas")
                         + plan.count("FlatMapGroupsInPandas")),
        "wholestage_codegen_spans": len(
            set(_re.findall(r"\*\((\d+)\)", plan))),
        "scans_with_pushed_filters": len(_re.findall(
            r"PushedFilters: \[([^\]]+)\]", plan)),
    }
