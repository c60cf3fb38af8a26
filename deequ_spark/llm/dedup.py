"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

All hot paths are pure Spark SQL expressions (no Python UDFs):
  * shingling via ``transform``/``sequence``/``slice`` array exprs
  * minhash via ``array_min(transform(shingles, xxhash64(…, seed)))``
  * LSH banding via ``explode`` + self-join on (band, hash) — the join is
    a shuffle on band-hash keys, which is the scalable alternative to the
    O(n²) cross join at 100 TB
  * exact Jaccard verification via inverted-index token join (explode +
    join on token) — linear in total postings, not quadratic in documents

Scale notes: every self-join here keys on content-derived hashes, so skew
only arises from degenerate content (e.g. empty docs) — filter those
first. At 1000 executors the band join partitions by (band_idx, hash),
giving uniform fan-out for ~uniform shingle distributions.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

import pandas

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def ensure_parallelism(df: DataFrame, min_ratio: float = 0.5) -> DataFrame:
    """Spread heavy per-row work across the cluster when the input arrives
    under-partitioned (e.g. one small parquet file → one task hogging all
    the hash/UDF work). At real scale inputs already have many splits and
    this is a no-op — the repartition only fires when the partition count
    is far below the cluster's parallelism."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(1, int(target * min_ratio)):
        return df.repartition(target)
    return df


def exact_duplicates(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """Groups occurring more than once: hash-groupBy, one shuffle."""
    return (df.groupBy(*columns)
            .agg(F.count(F.lit(1)).alias("dup_count"))
            .where(F.col("dup_count") > 1))


def deduplicate_exact(df: DataFrame, columns: Optional[Sequence[str]] = None
                      ) -> DataFrame:
    """Keep one row per key — Spark's dropDuplicates (map-side partial
    aggregation, no window shuffle)."""
    return df.dropDuplicates(list(columns) if columns else None)


def _tokens(text: Column) -> Column:
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")


def word_ngrams(text: Column, n: int = 3) -> Column:
    """ALL word n-grams in order (duplicates kept) as an array<string> —
    pure array exprs.

    Built by zip_with-ing the token array against its own shifted copies
    (n−1 zips of O(tokens) each) instead of a per-index slice+array_join
    (O(tokens·n) with an array allocation per shingle) — measured 3.4×
    faster at 50k documents, byte-identical output."""
    toks = _tokens(text)
    if n <= 1:
        return toks
    sz = F.size(toks)
    grams = toks
    for j in range(1, n):
        keep = F.greatest(sz - j, F.lit(0))
        grams = F.zip_with(F.slice(grams, 1, keep),
                           F.slice(toks, j + 1, keep),
                           lambda a, b: F.concat(a, F.lit(" "), b))
    # 0 tokens → NO shingles ([] — an empty-string shingle would make
    # all blank documents pairwise Jaccard-1.0 near-duplicates); 1..n-1
    # tokens → one whole-text shingle; NULL stays NULL (sz is -1 for
    # NULL input under legacy sizeOfNull, NULL under ANSI — both route
    # to the empty/NULL branches, never to a [NULL] array)
    return F.when(sz >= n, grams) \
        .when(sz > 0, F.array(F.array_join(toks, " "))) \
        .when(sz == 0, F.array().cast("array<string>"))


def word_shingles(text: Column, n: int = 3) -> Column:
    """DISTINCT word n-grams (the shingle SET for Jaccard/MinHash)."""
    return F.array_distinct(word_ngrams(text, n))


def char_shingles(text: Column, n: int = 5) -> Column:
    """DISTINCT character n-grams — the shingle set for UNSEGMENTED
    scripts (CJK, Thai, ...) where whitespace tokenization sees one
    giant word and word shingles degenerate to whole-document equality.
    Lowercased and whitespace-run-collapsed first (the same
    normalization word shingles apply via their tokenizer — the mode
    flag must not silently change CASE semantics); NON-EMPTY texts
    shorter than ``n`` yield one whole-text shingle, while empty /
    whitespace-only texts yield [] exactly like word mode (an
    empty-string shingle would make all blank documents pairwise
    Jaccard-1.0 near-duplicates). O(chars) substrings via one
    ``sequence`` + ``substr`` transform — pure expressions, same cost
    class per character as word shingling per token."""
    # regex edge-trim, not F.trim (which strips only SPACES — a
    # tab/newline-only text would survive as one " " shingle)
    t = F.regexp_replace(
        F.regexp_replace(F.lower(text), r"^\s+|\s+$", ""), r"\s+", " ")
    ln = F.length(t)
    subs = F.transform(
        F.sequence(F.lit(1), F.greatest(ln - n + 1, F.lit(1))),
        lambda i: t.substr(i, F.lit(n)))
    # greatest() skips NULLs, so a NULL text would otherwise yield [NULL]
    # instead of NULL (word_shingles' NULL-in-NULL-out contract)
    return F.when(text.isNull(), F.lit(None).cast("array<string>")) \
        .when(ln == 0, F.array().cast("array<string>")) \
        .otherwise(F.array_distinct(subs))


def _shingle_fn(shingles: str):
    if shingles == "word":
        return word_shingles
    if shingles == "char":
        return char_shingles
    raise ValueError(f"shingles must be 'word' or 'char', got {shingles!r}")


def _default_shingle_n(shingle_n, shingles: str) -> int:
    """None → the mode's natural default: 3 words, 5 characters (char
    trigrams on unsegmented text are dense enough to inflate Jaccard
    between unrelated documents)."""
    if shingle_n is not None:
        return int(shingle_n)
    return 5 if shingles == "char" else 3


def _nonblank(df: DataFrame, text_col: str) -> DataFrame:
    """Rows whose text yields a NON-EMPTY shingle set (either mode):
    non-NULL with at least one non-whitespace char. This is the cheap
    scan-side equivalent of ``signature IS NOT NULL`` — filtering on
    the computed signature re-inlines the whole minhash aggregate into
    the predicate (filter + project each evaluate it: 2x compute,
    measured 1.9x on b6/b22)."""
    c = F.col(text_col)
    return df.where(c.isNotNull() & c.rlike(r"\S"))


_LAMBDA_SEGMENT = 16


def _lambda_barrier(base: DataFrame, expr, step: int,
                    col: str = "__seg"):
    """Break a long nested-lambda chain with a projection barrier every
    ``_LAMBDA_SEGMENT`` steps. The analyzer binds ONE lambda nesting
    level per resolution iteration, so a 49-deep zip_with chain sits at
    the Max-iterations(100) cliff; stacked projections resolve their
    (shallow) segments level-by-level in parallel. CollapseProject may
    merge the projections back at optimization time — harmless, each
    segment is referenced exactly once (no recompute duplication) and
    lambdas are already resolved by then."""
    if step % _LAMBDA_SEGMENT:
        return base, expr
    return base.withColumn(col, expr), F.col(col)


def duplicate_span_removal(df: DataFrame, id_col: str, text_col: str,
                           n: int = 50, key: str = "hash",
                           out_col: str = "deduped") -> DataFrame:
    """Exact substring deduplication (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better", arXiv:2107.06499
    ExactSubstr): any n-token window occurring MORE THAN ONCE in the
    corpus keeps exactly its first occurrence (minimum ``(id, pos)``)
    and every other occurrence's token span is cut from its document.
    Overlapping cut spans merge naturally (a token survives iff no
    removed window covers it). Case-sensitive, whitespace-tokenized;
    the rebuilt text is single-space joined (whitespace-normalizing).

    Returns the input plus ``out_col``, ``n_tokens`` and
    ``n_removed_tokens``.

    Scale design — the reference algorithm builds a corpus-wide suffix
    array; the Spark-first equivalent is a window-keyed shuffle:

    * windows are built with the shifted-``zip_with`` trick (O(tokens)
      per shift, no per-window slicing); docs under n tokens emit none.
    * ``key='hash'`` (default) never materializes window TEXT at all:
      tokens hash once (xxhash64), then two parallel Horner chains
      (mod two 31-bit primes, packed into one long so the zip_with
      chain stays single) roll over the token-hash array — O(1) longs
      per token per shift instead of the O(n·token_bytes) intermediate
      the concatenated n-gram strings cost at n=50. Only
      ``(62-bit window key, id, pos)`` ~24 bytes per token reach the
      shuffle. A collision needs BOTH chains to collide (~m²/2⁶³
      corpus-wide) and costs at most one spurious n-token cut;
      ``key='text'`` keys on the window text for exactness when the
      corpus is small enough to pay for it.
    * the winner per window is one map-side-combinable ``min(struct)``
      aggregate; loser spans flow back as ``(id, pos)`` pairs and the
      rebuild is a per-document index filter (O(tokens · loser spans)
      inside one row — bounded by document length, never corpus-wide).
    """
    if key not in ("hash", "text"):
        raise ValueError("key must be 'hash' or 'text'")
    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
    # carry df's columns THROUGH the rebuild (r13): the rebuild used to
    # re-attach them with a third corpus scan + a second join
    # (df ⋈ rebuilt on id) — plans/r13/b17_span_dedup_before.txt shows 3
    # parquet scans / 2 joins. The loser spans travel by id either way,
    # so keeping the original columns alongside __toks removes that
    # scan+join outright (guide §2.4). The null-id filter preserves the
    # old inner join's behavior (a NULL id never equals itself).
    base = (df.where(F.col(id_col).isNotNull())
            .withColumn("__did", F.col(id_col))
            .withColumn("__toks", toks)
            .withColumn("__sz", F.size("__toks")))

    # all n-token window keys in order; NONE for docs shorter than n
    sz = F.col("__sz")
    if key == "hash":
        # Rolling 62-bit window key over TOKEN hashes — no window text
        # is ever built. Two independent Horner chains over the low/high
        # 31 bits of xxhash64(token), each mod a 31-bit prime, packed
        # into one long (state = a1·2³¹ + a2 < 2⁶²) so the shifted-
        # zip_with recurrence stays a single array chain. All arithmetic
        # stays under 2⁶³ (a·B ≤ 2³¹·2²⁰ + 2³¹), safe under ANSI mode.
        m1, b1 = 2147483647, 1000003        # 2³¹−1 (Mersenne), B < 2²⁰
        m2, b2 = 2147483629, 524287         # prev 31-bit prime, 2¹⁹−1
        mask = 2147483647                   # low-31 extractor

        def _pack(a1, a2):
            return F.shiftleft(a1, 31) + a2

        def _step(s, t):
            a1 = F.shiftright(s, 31)
            a2 = s.bitwiseAND(F.lit(mask))
            x1 = t.bitwiseAND(F.lit(mask)) % F.lit(m1)
            x2 = F.shiftright(t, 31).bitwiseAND(F.lit(mask)) % F.lit(m2)
            return _pack((a1 * F.lit(b1) + x1) % F.lit(m1),
                         (a2 * F.lit(b2) + x2) % F.lit(m2))

        # __th lives in its OWN projection: embedding the transform
        # expression inside every per-shift slice would cost the
        # analyzer one resolution round per copy — an attribute
        # reference resolves once
        base = base.withColumn(
            "__th", F.transform(F.col("__toks"), lambda t: F.xxhash64(t)))
        th = F.col("__th")
        grams = F.transform(
            th, lambda t: _pack(t.bitwiseAND(F.lit(mask)) % F.lit(m1),
                                F.shiftright(t, 31)
                                .bitwiseAND(F.lit(mask)) % F.lit(m2)))
        for j in range(1, n):
            keep = F.greatest(sz - j, F.lit(0))
            grams = F.zip_with(F.slice(grams, 1, keep),
                               F.slice(th, j + 1, keep), _step)
            base, grams = _lambda_barrier(base, grams, j)
        grams = F.when(sz >= n, grams).otherwise(
            F.array().cast("array<bigint>"))
    else:
        grams = F.col("__toks")
        for j in range(1, n):
            keep = F.greatest(sz - j, F.lit(0))
            grams = F.zip_with(F.slice(grams, 1, keep),
                               F.slice(F.col("__toks"), j + 1, keep),
                               lambda a, b: F.concat(a, F.lit(" "), b))
            base, grams = _lambda_barrier(base, grams, j)
        grams = F.when(sz >= n, grams).otherwise(
            F.array().cast("array<string>"))

    w = base.select("__did", F.posexplode(grams).alias("__pos", "__gram"))
    # winner + occurrence count as WINDOW functions over the key, not
    # groupBy + join-back: the join's probe side would shuffle `w` a
    # second time AND re-run the whole rolling-hash/explode subplan (the
    # two exchanges differ — partial-agg below one of them — so
    # ReuseExchange never fires; measured 2.2s -> 1.4s at sf0.1).
    # Window keys are near-unique, so map-side combine bought nothing;
    # ONE hash-partition + sort replaces both shuffles.
    from pyspark.sql import Window
    per_key = Window.partitionBy("__gram")
    marked = w.select(
        "__did", "__pos",
        F.min(F.struct(F.col("__did"), F.col("__pos")))
         .over(per_key).alias("__win"),
        F.count(F.lit(1)).over(per_key).alias("__c"))
    losers = (marked
              .where((F.col("__c") >= 2)
                     & ~((F.col("__win.__did") == F.col("__did"))
                         & (F.col("__win.__pos") == F.col("__pos"))))
              .select("__did", "__pos"))
    spans = (losers.groupBy("__did")
             .agg(F.sort_array(F.collect_list("__pos")).alias("__starts")))

    return (base.join(spans, "__did", "left")
            .withColumn("__starts",
                        F.coalesce(F.col("__starts"),
                                   F.array().cast("array<int>")))
            .select(
                *[F.col(f"`{c}`") for c in df.columns],
                F.array_join(
                    F.filter(
                        F.col("__toks"),
                        lambda t, i: ~F.exists(
                            F.col("__starts"),
                            lambda s: (s <= i) & (i < s + F.lit(n)))),
                    " ").alias(out_col),
                F.col("__sz").cast("long").alias("n_tokens"),
                F.size(F.filter(
                    F.sequence(F.lit(0), F.greatest(sz - 1, F.lit(0))),
                    lambda i: (sz > 0) & F.exists(
                        F.col("__starts"),
                        lambda s: (s <= i) & (i < s + F.lit(n)))))
                .cast("long").alias("n_removed_tokens")))


def jaccard_similarity_pairs(df: DataFrame, id_col: str, text_col: str,
                             threshold: float,
                             shingle_n: Optional[int] = None,
                             max_shingle_df: Optional[int] = None,
                             shingles: str = "word") -> DataFrame:
    """EXACT all-pairs Jaccard ≥ threshold via an inverted-index join —
    the scalable sparse-similarity plan (explode shingles → join on
    shingle → count intersections → filter). Returns (id_a, id_b, jaccard)
    with id_a < id_b.

    ``max_shingle_df`` caps the hot-bucket blow-up: a shingle shared by m
    documents produces m² join rows, so one boilerplate shingle (licence
    headers, navigation chrome) can dominate the whole join. Setting a cap
    drops shingles whose document frequency exceeds it BEFORE the
    self-join (the standard prefix-filter trick) — the join cost becomes
    Σ min(df, cap)² instead of Σ df². Capped shingles no longer count
    toward intersections (sizes keep the full shingle sets), so the
    computed Jaccard is a lower bound for pairs sharing hot shingles —
    exactly the boilerplate you don't want driving near-dup decisions. At
    corpus scale ALWAYS set a cap; None keeps the result exact.
    """
    df = ensure_parallelism(df)
    shingle_n = _default_shingle_n(shingle_n, shingles)
    base = df.select(F.col(id_col).alias("id"),
                     _shingle_fn(shingles)(F.col(text_col), shingle_n)
                     .alias("sh"))
    sizes = base.select("id", F.size("sh").alias("sz"))
    postings = base.select("id", F.explode("sh").alias("s"))
    if max_shingle_df is not None:
        # the hot set is small by definition (df > cap) → broadcast anti-join
        hot = (postings.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
               .where(F.col("df") > max_shingle_df).select("s"))
        postings = postings.join(F.broadcast(hot), "s", "left_anti")
    a, b = postings.alias("a"), postings.alias("b")
    inter = (a.join(b, (F.col("a.s") == F.col("b.s"))
                    & (F.col("a.id") < F.col("b.id")))
             .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
             .agg(F.count(F.lit(1)).alias("inter")))
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    # no broadcast hint: the sizes table is one row per DOCUMENT — huge at
    # corpus scale; AQE picks broadcast automatically when it is small
    return (inter.join(sa, "id_a").join(sb, "id_b")
            .withColumn("jaccard", F.col("inter") /
                        (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
            .where(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       num_hashes: int = 64,
                       shingle_n: Optional[int] = None,
                       shingles: str = "word") -> DataFrame:
    """(id, signature array<long>) — k independent minhashes per doc,
    each ``array_min`` over seeded xxhash64 of the shingles. One scan,
    no shuffle, entirely whole-stage codegen. ``shingles='char'``
    switches to character n-grams for unsegmented scripts."""
    # The shingle array must be evaluated ONCE per row. k separate
    # array_min(transform(...)) expressions would each reference it, and
    # Catalyst's CollapseProject then re-inlines the (expensive) shingling
    # into every one of the k minhash expressions (measured 6× slowdown).
    # Instead: one pass over the shingles producing all k hashes per
    # shingle, min-reduced with aggregate + zip_with(least) — the shingle
    # expression appears exactly once in the plan.
    df = ensure_parallelism(df)
    shingle_n = _default_shingle_n(shingle_n, shingles)
    MAX_LONG = (1 << 63) - 1
    # universal-hashing trick: ONE string hash per shingle, k Carter-Wegman
    # affine transforms (a·h + b mod p, p = 2³¹−1) derive the k independent
    # hash families — k× fewer xxhash64 calls. 31-bit h × 31-bit a stays
    # under 2⁶² so the arithmetic never overflows (ANSI-mode safe).
    import random as _random
    P31 = (1 << 31) - 1  # Mersenne prime
    rng = _random.Random(0x5EED)
    coeffs = [(rng.randrange(1, P31), rng.randrange(P31))
              for _ in range(num_hashes)]

    # the coefficients ride as LITERAL ARRAYS and one zip_with lambda —
    # k separate pmod subtrees (each duplicating h) made the analyzed plan
    # ~k× larger and dominated first-call latency with Catalyst analysis
    a_arr = F.array(*[F.lit(a) for a, _ in coeffs])
    b_arr = F.array(*[F.lit(b) for _, b in coeffs])

    def per_shingle(s: Column) -> Column:
        h = F.pmod(F.xxhash64(s), F.lit(P31))
        return F.zip_with(a_arr, b_arr,
                          lambda a, b: F.pmod(h * a + b, F.lit(P31)))

    # finish lambda: an EMPTY shingle set (blank document) leaves the
    # accumulator at its all-MAX_LONG init — surface that as a NULL
    # signature (per-shingle hashes are < 2³¹, so MAX_LONG in slot 1 can
    # only mean "no shingles"). A sentinel array instead of NULL would
    # make every blank document collide in every LSH band — and
    # xxhash64 SKIPS null inputs, so a NULL signature reaching a
    # banding site hashes to a CONSTANT bucket. The contract: banding
    # callers pre-filter their input with _nonblank (cheap text
    # predicate; filtering on this computed column instead re-inlines
    # the aggregate into the predicate, 2x compute) or filter a STORED
    # signature column (_bucket_rows).
    sig = F.aggregate(
        F.transform(_shingle_fn(shingles)(F.col(text_col), shingle_n),
                    per_shingle),
        F.array_repeat(F.lit(MAX_LONG), num_hashes),
        lambda acc, x: F.zip_with(acc, x, lambda p, q: F.least(p, q)),
        lambda acc: F.when(F.element_at(acc, 1) == MAX_LONG,
                           F.lit(None).cast("array<bigint>"))
                     .otherwise(acc))
    return df.select(F.col(id_col).alias("id"), sig.alias("signature"))


def capped_pair_expr(ids: Column, hot_bucket_cap: int) -> Column:
    """In-bucket candidate-pair expansion with a HOT-BUCKET CAP.

    Buckets of m ≤ ``hot_bucket_cap`` expand all C(m,2) pairs (so
    pair-level verification sees every in-bucket pair where full
    precision matters). Buckets ABOVE the cap — duplicate mega-clusters:
    boilerplate pages, empty docs, 10⁶ copies of one press release —
    emit STAR pairs ``(min_id, other)`` instead: O(m) pairs, not O(m²).

    Star expansion is lossless for connected-components dedup
    (``near_duplicate_components``): within a true duplicate cluster
    every star edge passes verification, so the component is identical
    to the full-expansion one. A *distinct* duplicate cluster that
    merely co-collided into the hot bucket in this band loses its
    in-bucket edges here, but its members still collide in their OWN
    bucket in the other bands (banding miss probability ≈ (1−j^r)^b,
    e.g. 7e-15 at the minhash defaults), so pair recall is preserved by
    band redundancy rather than by in-bucket completeness.

    Without the cap, one bucket of m ids materializes m²/2 pairs inside
    a single task — at 100 TB a 10⁶-doc duplicate cluster means 5·10¹¹
    structs in one task → job death. ``ids`` must be sorted ascending
    (``sort_array``) so ``ids[0]`` is the min id.
    """
    all_pairs = F.flatten(F.transform(
        ids,
        lambda x, i: F.transform(
            F.slice(ids, i + F.lit(2), F.size(ids)),
            lambda y: F.struct(x.alias("id_a"), y.alias("id_b")))))
    star_pairs = F.transform(
        F.slice(ids, 2, F.size(ids)),
        lambda y: F.struct(F.element_at(ids, 1).alias("id_a"),
                           y.alias("id_b")))
    return F.when(F.size(ids) > F.lit(hot_bucket_cap),
                  star_pairs).otherwise(all_pairs)


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str,
                      threshold: float = 0.8, num_hashes: int = 64,
                      bands: int = 32, shingle_n: Optional[int] = None,
                      verify_exact: bool = True,
                      hot_bucket_cap: int = 256,
                      shingles: str = "word") -> DataFrame:
    """Near-duplicate pairs via MinHash banding.

    bands=32 × rows=2 (num_hashes=64) gives miss probability
    (1 − j²)³² ≈ 7e-15 at j=0.8 — effectively exact recall — while
    pruning the candidate space to colliding band buckets.

    ``hot_bucket_cap`` bounds the in-bucket pair expansion: buckets
    above the cap emit O(m) star pairs instead of O(m²) all-pairs (see
    ``capped_pair_expr``) so duplicate mega-clusters cannot blow up a
    single task — candidate count stays linear in corpus size even on
    duplicate-heavy web corpora.

    With ``verify_exact=True`` the returned DataFrame is EAGERLY
    materialized (localCheckpoint) at call time — the full
    signature/banding/verify job runs here, not at the caller's first
    action — so the candidate cache can be released before returning
    (repeated calls must not accumulate CacheManager entries).
    localCheckpoint blocks live unreplicated on executors: under dynamic
    allocation, losing an executor makes the checkpointed pair set
    unrecoverable — callers in decommission-prone clusters should persist
    the (small) result to durable storage, or manage their own
    persist/unpersist around a lazy variant.
    """
    rows = num_hashes // bands
    df = ensure_parallelism(df)
    shingle_n = _default_shingle_n(shingle_n, shingles)
    # blank docs (no shingles → NULL signature) must never band:
    # xxhash64 skips NULL inputs, so they would share one constant
    # bucket per band. Filter INPUT-side (cheap text predicate) — a
    # signature-IS-NOT-NULL filter re-inlines the minhash aggregate
    # into the predicate and doubles the signature compute.
    sigs = minhash_signatures(_nonblank(df, text_col), id_col, text_col,
                              num_hashes, shingle_n, shingles=shingles)
    # one lambda over a band-index sequence instead of `bands` separate
    # struct subtrees — same banding, ~bands× smaller analyzed plan;
    # the bucket hash is xxhash64 of the band's signature slice (hashing
    # the array is equivalent to hashing its elements for bucketing)
    band_cols = F.explode(F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda i: F.struct(
            i.alias("band"),
            F.xxhash64(F.slice(F.col("signature"), i * rows + 1, rows))
            .alias("bh"))))
    buckets = sigs.select("id", band_cols.alias("band_struct")).select(
        "id", F.col("band_struct.band").alias("band"),
        F.col("band_struct.bh").alias("bh"))
    # ONE shuffle: group ids per (band, bucket) and expand in-bucket pairs
    # JVM-side — beats a bucket self-join (two shuffled sides) and keeps
    # the quadratic blow-up confined to each bucket
    groups = (buckets.groupBy("band", "bh")
              .agg(F.sort_array(F.collect_list("id")).alias("ids"))
              .where(F.size("ids") > 1))
    candidates = (groups.select(
                      F.explode(capped_pair_expr(F.col("ids"),
                                                 hot_bucket_cap))
                      .alias("p"))
                  .select("p.id_a", "p.id_b")
                  .distinct())
    if not verify_exact:
        return candidates
    # verify ONLY the candidate pairs: semi-join the corpus down to docs
    # that appear in some candidate pair, shingle just those rows, then
    # join the (small) shingled set to the pairs — the second shingling
    # pass is O(candidate docs), never a full-corpus pass.
    # candidates feeds BOTH the semi-join filter and the pair join;
    # persist so the signature+banding subplan runs once, not twice
    # (the pair set is tiny — ids only)
    candidates = candidates.persist()
    # no .distinct() on the id list: left_semi matches on EXISTENCE, so
    # duplicate probe ids cost nothing — the distinct was a pure extra
    # shuffle (r12, guide §2.4)
    cand_ids = (candidates.select(F.col("id_a").alias("id"))
                .union(candidates.select(F.col("id_b").alias("id"))))
    # `shingled` feeds BOTH pair sides (sh_a by id_a, sh_b by id_b);
    # unpersisted, the semi-join + shingle pass planned and EXECUTED
    # twice (plans/r12/b6_lsh_verify_cached_before.txt: two full copies
    # of the docs-scan + shingle subtree, ReusedExchange 0 — the two
    # joins key on different attributes so exchange reuse never
    # matches). Persist halves the candidate-doc shingle pass and the
    # cand_ids broadcast build (after-capture: one docs shingle scan +
    # one broadcast; r12 wave 2, guide §2.4: measured 3.07 -> 2.32 s
    # interleaved medians at sf0.1, row-identical; at 100 TB this
    # halves the verify stage's dominant pass). Released below with
    # `candidates`.
    shingled = (df.join(cand_ids, df[id_col] == cand_ids["id"], "left_semi")
                .select(F.col(id_col).alias("id"),
                        _shingle_fn(shingles)(F.col(text_col), shingle_n)
                        .alias("sh"))
                .persist())
    sa = shingled.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sb = shingled.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    verified = (candidates.join(sa, "id_a").join(sb, "id_b")
                .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
                .withColumn("jaccard", F.col("inter") /
                            (F.size("sh_a") + F.size("sh_b") - F.col("inter")))
                .where(F.col("jaccard") >= threshold)
                .select("id_a", "id_b", "jaccard"))
    # the cache-manager entries for `candidates`/`shingled` are never
    # GC-reclaimed, so a long-lived session calling this repeatedly
    # would accumulate cached blocks; materialize the (tiny) verified
    # pair set eagerly — its localCheckpoint blocks ARE
    # ContextCleaner-managed — and release both caches before returning
    verified = verified.localCheckpoint(eager=True)
    candidates.unpersist()
    shingled.unpersist()
    return verified


P31 = (1 << 31) - 1  # Mersenne prime 2³¹−1


def portable_shingle_hash(s: Column) -> Column:
    """31-bit polynomial rolling hash h = fold(h·131 + codepoint) mod 2³¹−1.

    Unlike xxhash64 this is expressible identically in any ANSI-SQL engine
    (DuckDB: ``list_reduce(... (acc,x) -> (acc*131+x) % 2147483647)``), so
    simhash fingerprints built from it are engine-independent — the oracle
    for the simhash near-dup query recomputes them in DuckDB and brute-
    forces the pair set with ``bit_count(xor(a,b))``. All arithmetic stays
    below 2³⁸, safe under ANSI-mode LONG overflow checks.
    """
    return F.aggregate(
        F.split(s, ""), F.lit(0).cast("long"),
        lambda acc, ch: F.pmod(acc * 131 + F.ascii(ch), F.lit(P31)))


def simhash(df: DataFrame, id_col: str, text_col: str,
            shingle_n: int = 2, bits: int = 64,
            hash_fn=None) -> DataFrame:
    """SimHash per document — per-bit weighted majority over shingle
    hashes, expressed with aggregate/zip_with (no UDF).

    ``hash_fn`` maps a shingle Column to a LONG hash Column; the default is
    ``xxhash64`` (fast JVM path). Pass ``portable_shingle_hash`` for
    engine-independent fingerprints (used by the correctness oracle). With
    ``bits`` < 64 only the low bits of the hash feed the fingerprint.

    Shift amounts must be Python ints for shiftright/shiftleft, so the
    per-bit expressions are generated in a Python loop; the data-dependent
    part stays in one array-aggregate pass. Each shingle is hashed exactly
    ONCE (explicit transform) — never once per bit.
    """
    df = ensure_parallelism(df)
    hash_fn = hash_fn or F.xxhash64
    sh = word_shingles(F.col(text_col), shingle_n)
    hashes = F.transform(sh, lambda s: hash_fn(s))
    zero = F.array(*[F.lit(0).cast("long") for _ in range(bits)])
    # fold shingle hashes into per-bit ±1 counters
    counters = F.aggregate(
        hashes, zero,
        lambda acc, h: F.zip_with(
            acc,
            F.array(*[
                F.when(F.shiftright(h, b)
                       .bitwiseAND(F.lit(1)) == 1, F.lit(1).cast("long"))
                .otherwise(F.lit(-1).cast("long"))
                for b in range(bits)]),
            lambda x, y: x + y))
    # materialize the counter array in its own projection so the (large)
    # aggregate expression appears once, not 64× in the bit-packing
    staged = df.select(F.col(id_col).alias("id"), counters.alias("__ctr"))
    fingerprint = None
    for b in range(bits):
        bit = F.when(F.element_at(F.col("__ctr"), b + 1) > 0,
                     F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, b)
        fingerprint = term if fingerprint is None else fingerprint.bitwiseOR(term)
    return staged.select("id", fingerprint.alias("simhash"))


def simhash_near_duplicates(df: DataFrame, id_col: str, text_col: str,
                            max_hamming: int = 3, shingle_n: int = 2,
                            bits: int = 64, hash_fn=None,
                            hot_bucket_cap: int = 256) -> DataFrame:
    """Pairs with Hamming distance ≤ k via the block trick: split the
    fingerprint into k+1 blocks — any pair within distance k must share one
    block exactly (pigeonhole); group per block value, then verify with
    bit_count(xor). Bits beyond blocks·width don't block (slightly more
    candidates) but still count in the verified Hamming distance.

    Same hot-bucket treatment as minhash: identical documents share an
    identical fingerprint, so a duplicate mega-cluster collides in EVERY
    block — buckets above ``hot_bucket_cap`` star-expand to O(m) pairs
    (``capped_pair_expr``; the ids ride with their simhash in a struct so
    the Hamming verification still sees both fingerprints)."""
    hashes = simhash(df, id_col, text_col, shingle_n, bits, hash_fn)
    return hamming_pairs(hashes.withColumnRenamed("simhash", "fp"),
                         bits=bits, max_hamming=max_hamming,
                         hot_bucket_cap=hot_bucket_cap)


def hamming_pairs(hashes: DataFrame, bits: int, max_hamming: int,
                  hot_bucket_cap: int = 256) -> DataFrame:
    """Pairs of ``(id, fp)`` rows with Hamming distance ≤ ``max_hamming``
    via the pigeonhole block trick — shared by text simhash and image
    perceptual hashes (any 64-bit-or-less fingerprint column ``fp``)."""
    blocks = max_hamming + 1
    width = max(1, bits // blocks)
    block_cols = F.explode(F.array(*[
        F.struct(F.lit(i).alias("blk"),
                 F.shiftright(F.col("fp"), i * width)
                 .bitwiseAND(F.lit((1 << width) - 1)).alias("bv"))
        for i in range(blocks)]))
    keyed = hashes.select("id", "fp", block_cols.alias("b")).select(
        "id", "fp", F.col("b.blk").alias("blk"), F.col("b.bv").alias("bv"))
    # ONE groupBy shuffle (vs two shuffled self-join sides); members are
    # (id, fp) structs sorted by id, so pair expansion keeps both
    # fingerprints for the JVM-side xor verification
    groups = (keyed.groupBy("blk", "bv")
              .agg(F.sort_array(F.collect_list(
                  F.struct(F.col("id"), F.col("fp")))).alias("ids"))
              .where(F.size("ids") > 1))
    pairs = (groups.select(
                 F.explode(capped_pair_expr(F.col("ids"), hot_bucket_cap))
                 .alias("p"))
             .select(F.col("p.id_a.id").alias("id_a"),
                     F.col("p.id_b.id").alias("id_b"),
                     F.bit_count(F.col("p.id_a.fp").bitwiseXOR(
                         F.col("p.id_b.fp"))).alias("hamming"))
             .where(F.col("id_a") < F.col("id_b")))
    return (pairs.distinct()
            .where(F.col("hamming") <= max_hamming))


def tune_band_shape(n_rows: int, threshold: float,
                    miss_prob: float = 1e-3,
                    max_planes: int = 26, max_bands: int = 256
                    ) -> "tuple[int, int]":
    """Size-aware LSH band shape: with FIXED planes the expected number of
    RANDOM band collisions is C(n,2)·bands/2^planes — quadratic in corpus
    size, and candidate verification dominates the runtime (measured 5×
    slowdown at 20k vectors with the fixed default shape). Growing planes
    ≈ log₂(n)+1 keeps random candidates ~linear in n; bands =
    ln(1/miss)/p^planes restores recall (p = 1 − θ/π). Verified pairs are
    exact either way; ``miss_prob`` is the per-TRUE-pair miss budget —
    tighten it for exactness-critical runs, loosen to 1e-2 for speed."""
    import math
    p = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    planes = min(max_planes,
                 max(4, math.ceil(math.log2(max(n_rows, 2))) + 1))
    # honor the recall budget within the band cap: if ln(1/miss)/p^planes
    # would exceed max_bands, shallower bands (fewer planes) restore it at
    # the cost of more random candidates — recall beats pruning
    need = math.log(1.0 / miss_prob)
    if 0.0 < p < 1.0:
        planes_cap = math.floor(math.log(need / max_bands) / math.log(p))
        planes = max(4, min(planes, planes_cap))
    bands = min(max_bands, math.ceil(need / max(p ** planes, 1e-12)))
    return planes, max(bands, 1)


def _local_components(rows, id_a: str, id_b: str) -> dict:
    """Union-find (min-id roots, path-halving) over collected edge rows
    → {id: min reachable id}. The labeling is EXACTLY the fixpoint the
    distributed loop converges to."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            parent[r] = parent[parent[r]]
            r = parent[r]
        return r

    for row in rows:
        a, b = row[id_a], row[id_b]
        for v in (a, b):
            if v not in parent:
                parent[v] = v
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by MIN root: the root of every tree is the smallest
            # id of its component, so find() IS the component label
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {v: find(v) for v in parent}


def near_duplicate_components(pairs: DataFrame, id_a: str = "id_a",
                              id_b: str = "id_b",
                              max_iterations: int = 20,
                              local_max_edges: Optional[int] = None
                              ) -> DataFrame:
    """Connected components over a near-duplicate pair graph → (id,
    component) where component = MIN id reachable from the node.

    Iterative min-label propagation in pure DataFrame ops: each round
    (1) takes the min label across edges, then (2) shortcuts through the
    label's own label (pointer doubling), so even path graphs converge in
    O(log diameter) rounds — real near-dup clusters (dense, diameter
    ≤ 2-3) converge in 2-3. Per round: two join shuffles + one groupBy,
    lineage cut with localCheckpoint so plans stay bounded. The pair graph
    is |pairs| edges — tiny next to the corpus at any scale.

    SIZE-ADAPTIVE fast path (r12, guide §1.2: the distributed loop costs
    2 joins + a groupBy + a convergence count PER ROUND — ~6-9 jobs of
    pure scheduling overhead on a graph of a few hundred edges): when
    the pair graph has at most ``local_max_edges`` edges (default from
    Spark conf ``spark.deequ.dedup.ccLocalMaxEdges``, 200k — a few MB
    of driver memory, milliseconds of union-find), the components are
    computed driver-side with the IDENTICAL min-label result. The
    probe is a bounded ``limit(n+1).collect()`` — never an unbounded
    collect — and past the bound the distributed loop runs as before
    (a 100 TB duplicate graph has billions of edges and stays out of
    the driver)."""
    edges_in = pairs.select(F.col(id_a).alias(id_a), F.col(id_b).alias(id_b))
    spark = pairs.sparkSession
    if local_max_edges is None:
        local_max_edges = int(spark.conf.get(
            "spark.deequ.dedup.ccLocalMaxEdges", str(200_000)))
    if local_max_edges > 0:
        probe = edges_in.limit(local_max_edges + 1).collect()
        if len(probe) <= local_max_edges:
            labels = _local_components(probe, id_a, id_b)
            from pyspark.sql import types as T
            id_type = pairs.schema[id_a].dataType
            schema = T.StructType([T.StructField("id", id_type),
                                   T.StructField("component", id_type)])
            return spark.createDataFrame(
                sorted(labels.items()), schema)
    edges = edges_in.select(F.col(id_a).alias("src"),
                            F.col(id_b).alias("dst"))
    edges = (edges.union(edges.select(F.col("dst").alias("src"),
                                      F.col("src").alias("dst")))
             .distinct().localCheckpoint(eager=False))
    labels = (edges.select(F.col("src").alias("id")).distinct()
              .withColumn("component", F.col("id")))
    from ..storage import release_checkpoint
    for it in range(max_iterations):
        neighbor_min = (edges.join(labels, edges["dst"] == labels["id"])
                        .groupBy("src")
                        .agg(F.min("component").alias("nbr_component")))
        stepped = (labels.join(neighbor_min,
                               labels["id"] == neighbor_min["src"], "left")
                   .select(labels["id"],
                           F.least(F.col("component"),
                                   F.coalesce(F.col("nbr_component"),
                                              F.col("component")))
                           .alias("component")))
        # pointer doubling: component := min(component, label[component])
        parent = stepped.select(F.col("id").alias("pid"),
                                F.col("component").alias("pcomponent"))
        updated = (stepped.join(parent,
                                stepped["component"] == parent["pid"], "left")
                   .select(stepped["id"],
                           F.least(stepped["component"],
                                   F.coalesce(F.col("pcomponent"),
                                              stepped["component"]))
                           .alias("component"))
                   .localCheckpoint(eager=True))
        changed = (updated.alias("u")
                   .join(labels.alias("l"), "id")
                   .where(F.col("u.component") != F.col("l.component"))
                   .count())
        # the convergence count above was the last reader of the
        # superseded label checkpoint — free its blocks now (round 0's
        # `labels` is the lazy seed plan, nothing to free) so executor
        # storage holds ONE label table, not one per iteration (guide
        # §5; release_checkpoint because unpersist() cannot reach
        # checkpoint blocks)
        if it > 0:
            release_checkpoint(labels)
        labels = updated
        if changed == 0:
            break
    # once any iteration ran, the returned labels table is an eager
    # checkpoint and the symmetrized edge checkpoint has no further
    # reader — free it (max_iterations=0 leaves labels a lazy plan
    # OVER edges, so it must stay)
    if max_iterations > 0:
        release_checkpoint(edges)
    return labels


def deduplicate_near(df: DataFrame, id_col: str, pairs: DataFrame,
                     id_a: str = "id_a", id_b: str = "id_b",
                     keep_by: Optional[str] = None,
                     descending: bool = True) -> DataFrame:
    """Drop near-duplicates: keep ONE representative per connected
    component of the pair graph; rows in no pair pass through untouched.

    The representative is the min id by default; ``keep_by`` names a
    column to rank on instead — keep the component's best row by that
    score (``descending=True``: highest wins; ties break on min id).
    'Keep the longest / highest-quality copy' is the standard corpus
    policy, and min-id would systematically prefer earlier crawl
    snapshots. Cost: one extra shuffle of the COMPONENT MEMBERS (ids in
    some pair — not the corpus) on the component key for the ranking
    window, plus the score join for those ids.

    The anti-join side is deliberately NOT hinted: a web-scale corpus
    routinely carries 30-50% near-duplicates, so the loser id set is
    corpus-sized and a forced ``F.broadcast`` would OOM the driver. A
    plain left_anti lets AQE pick the strategy at runtime — it still
    broadcasts when the loser set turns out small, and falls back to a
    shuffled join when it does not."""
    components = near_duplicate_components(pairs, id_a, id_b)
    if keep_by is None:
        losers = (components.where(F.col("id") != F.col("component"))
                  .select("id"))
    else:
        from pyspark.sql import Window
        scored = components.join(
            df.select(F.col(id_col).alias("id"),
                      F.col(keep_by).alias("__dq_score")), "id")
        # nulls LAST in both directions: a NULL-scored member must
        # never outrank a real score (plain asc() is nulls-first)
        order = (F.col("__dq_score").desc_nulls_last() if descending
                 else F.col("__dq_score").asc_nulls_last())
        w = Window.partitionBy("component").orderBy(order,
                                                    F.col("id").asc())
        losers = (scored.withColumn("__dq_rn", F.row_number().over(w))
                  .where(F.col("__dq_rn") > 1).select("id"))
    return df.join(losers, df[id_col] == losers["id"], "left_anti")


def embedding_near_duplicates(df: DataFrame, id_col: str, vec_col: str,
                              threshold: float = 0.95,
                              planes: Optional[int] = None,
                              bands: Optional[int] = None,
                              seed: int = 42,
                              auto_tune: bool = False,
                              miss_prob: float = 1e-3,
                              hot_bucket_cap: int = 256) -> DataFrame:
    """Embedding near-dup pairs: BANDED random-hyperplane LSH prunes
    candidates (a pair is a candidate if ALL ``planes`` bits agree in ANY
    band), exact cosine verifies — precision 1, recall 1−(1−p^r)^b where
    p = 1−θ/π. ``hot_bucket_cap`` star-expands (band, sig) buckets above
    the cap — O(m) pairs per mega-bucket instead of O(m²). Star edges
    are still exact-verified, so capping is lossless for
    connected-components dedup ONLY when the hot bucket is a duplicate
    mega-cluster (mutually near-identical members — the regime the cap
    exists for); a bucket made hot by an UNDER-PRUNED shape (threshold
    below ~0.6, shallow planes at 10x the tuned corpus size) gets a
    truncated pair list, because non-anchor pairs are never emitted.
    When the full pair list is the contract, auto-tune the shape or
    lift the cap. Band shape defaults adapt to the threshold: tight
    thresholds get deep bands (strong pruning, recall ≥ 0.999), loose
    thresholds get shallow bands (hyperplane LSH cannot prune much below
    ~0.6 cosine — the candidate set approaches all-pairs by nature).
    Scale path: signatures come from ONE Arrow-batched matrix multiply;
    only (band, sig, id) rides the candidate shuffle; vectors re-join by
    id for the verified set. With ``auto_tune`` the band shape scales with
    corpus size (one count job): planes ≈ log₂(n) keeps RANDOM band
    collisions — which grow as C(n,2)·bands/2^planes with any fixed shape
    — approximately linear in n; set it for any corpus beyond ~10⁴
    vectors."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from .similarity import cosine_similarity_expr

    # ONE probe job (r12: this used to be TWO — an auto_tune df.count()
    # plus a separate majority-dimension groupBy): the size histogram is
    # a handful of rows, so collect it whole; n (ALL rows, null vectors
    # included — the auto_tune input must not depend on null handling)
    # is its count sum and the corpus dimension is the MAJORITY vector
    # length among non-null rows (a limit(1) probe is partition-order-
    # dependent and a single corrupt short row could silently select
    # the wrong dimension and filter out the entire valid corpus).
    size_hist = (df.groupBy(F.size(F.col(vec_col)).alias("d"))
                 .count().collect())
    n = sum(r["count"] for r in size_hist)
    # size(NULL) is NULL; a NULL/negative d row is a null vector group
    nonnull = [r for r in size_hist
               if r["d"] is not None and r["d"] >= 0]
    if auto_tune and (planes is None or bands is None):
        # below ~16k rows the quadratic random-collision term is negligible
        # and per-stage fixed costs dominate — static defaults win there
        # (measured: tuned shape 7.5s vs default 3.1s at n=2000, but
        # default 26s vs tuned 13s at n=20000)
        if n >= 16384:
            planes, bands = tune_band_shape(n, threshold, miss_prob)
    if planes is None or bands is None:
        if threshold >= 0.85:
            planes, bands = planes or 10, bands or 32
        elif threshold >= 0.65:
            planes, bands = planes or 6, bands or 24
        else:
            planes, bands = planes or 2, bands or 16

    # NULL vectors are unscorable — drop scan-side instead of crashing
    # the signature matmul
    df = df.where(F.col(vec_col).isNotNull())
    if not nonnull:
        # empty (or all-NULL) corpus: no pairs, typed like the real output
        id_type = df.schema[id_col].dataType.simpleString()
        return df.sparkSession.createDataFrame(
            [], f"id_a {id_type}, id_b {id_type}, cosine double")
    dims = max(nonnull, key=lambda r: (r["count"], -r["d"]))["d"]
    # rows with a different vector length would make the batch ragged
    df = df.where(F.size(F.col(vec_col)) == dims)
    # deterministic Gaussian hyperplanes; tiny (dims × planes·bands) matrix
    # captured in the UDF closure
    W = np.random.default_rng(seed).standard_normal((dims, planes * bands))
    mult = 1 << np.arange(planes)

    @pandas_udf("array<long>")
    def band_sigs(vecs: pandas.Series) -> pandas.Series:
        X = np.array(vecs.tolist(), dtype=np.float64)
        bits = (X @ W) >= 0.0                       # n × (planes·bands)
        sigs = bits.reshape(len(X), bands, planes) @ mult
        return pandas.Series(sigs.astype("int64").tolist())

    # candidates shuffle ONLY (band, sig, id) — vectors never ride the
    # explode/grouping; they re-join by id for the (small) verified set.
    # ONE groupBy shuffle (vs a bucket self-join's two shuffled sides)
    # with capped in-bucket expansion: auto_tune keeps RANDOM collisions
    # linear, but a duplicate mega-cluster (m copies of one embedding)
    # collides deterministically in EVERY band — the hot-bucket cap turns
    # that O(m²)-per-bucket term into O(m) star pairs (lossless for
    # connected-components dedup; see capped_pair_expr).
    keyed = df.select(F.col(id_col).alias("id"),
                      band_sigs(F.col(vec_col)).alias("sigs"))
    exploded = keyed.select(
        "id", F.posexplode("sigs").alias("band", "sig"))
    groups = (exploded.groupBy("band", "sig")
              .agg(F.sort_array(F.collect_list("id")).alias("ids"))
              .where(F.size("ids") > 1))
    candidates = (groups.select(
                      F.explode(capped_pair_expr(F.col("ids"),
                                                 hot_bucket_cap))
                      .alias("p"))
                  .select("p.id_a", "p.id_b")
                  .where(F.col("id_a") < F.col("id_b"))
                  .distinct())
    # NOTE (r13, examined and REJECTED): an eager empty-candidate early
    # exit — localCheckpoint(candidates) + take(1), skip the verify
    # joins when nothing survived — was implemented and AB-measured
    # (OPTIMIZATION_r13.md, same-JVM conf flip, 8 warm rounds): every
    # eager sample was SLOWER (median 2.37 vs 2.16 s, 1.10×); the
    # candidate materialization + probe job cost more than the two
    # small broadcast builds it skips, and at 100 TB the candidate set
    # is never empty, so the probe had no scale story either. The
    # verify plan stays fully lazy.
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (candidates.join(va, "id_a").join(vb, "id_b")
            .select("id_a", "id_b",
                    cosine_similarity_expr(F.col("va"), F.col("vb"))
                    .alias("cosine"))
            .where(F.col("cosine") >= threshold))


def winnowing_fingerprints(df: DataFrame, id_col: str, text_col: str,
                           k: int = 8, window: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD'03 §3 — the local fingerprinting algorithm behind MOSS): hash
    every character k-gram of the whitespace-normalized text, slide a
    window of ``window`` consecutive hashes, keep each window's MINIMUM.
    Guarantee: any shared substring of length ≥ k+window−1 between two
    documents yields at least one shared fingerprint, with ~2/(window+1)
    of positions selected — a compact sketch for substring-level overlap
    (plagiarism/quotation detection), complementary to MinHash's
    bag-of-shingles similarity.

    Returns (id, fingerprint) — per-doc DISTINCT fingerprints, exploded.
    Pure expressions: the k-gram hash is the portable 31-bit polynomial
    (engine-independent, SQL-replayable); window minima are one transform
    over one hash array per row — map-only, no shuffle, no UDF.
    """
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)),
                                   r"\s+", " "))
    n = F.length(norm)
    g = F.greatest(n - F.lit(k - 1), F.lit(1))   # k-gram count (min 1)
    grams = F.transform(F.sequence(F.lit(1), g),
                        lambda i: F.substring(norm, i, k))
    hashes = F.transform(grams, portable_shingle_hash)
    # sliding-window minima as ONE fold over the hash array: the state
    # carries a (window−1)-element ring buffer, the emitted minima, and a
    # running global min (the n < window fallback). The hash array is the
    # fold's input, so it is evaluated exactly ONCE per row — a
    # transform(sequence, j -> array_min(slice(hashes, j, w))) variant
    # re-inlines the whole k-gram hashing per WINDOW (CollapseProject),
    # turning an O(n·w) row into O(n²·k) — measured as a multi-minute
    # hang on 300-char docs.
    init = F.struct(
        F.array().cast("array<bigint>").alias("buf"),
        F.array().cast("array<bigint>").alias("out"),
        F.lit(None).cast("bigint").alias("mn"))

    def step(acc, x):
        full = F.concat(acc["buf"], F.array(x))
        is_full = F.size(full) >= window
        return F.struct(
            F.when(is_full, F.slice(full, 2, window - 1))
            .otherwise(full).alias("buf"),
            F.when(is_full,
                   F.concat(acc["out"], F.array(F.array_min(full))))
            .otherwise(acc["out"]).alias("out"),
            F.least(acc["mn"], x).alias("mn"))

    folded = F.aggregate(hashes, init, step)
    mins = F.when(F.size(folded["out"]) > 0, folded["out"]) \
        .otherwise(F.array(folded["mn"]))
    return (df.where(F.col(text_col).isNotNull())
            .select(F.col(id_col).alias("id"),
                    F.explode(F.array_distinct(mins)).alias("fingerprint")))


def winnowing_candidates(df: DataFrame, id_col: str, text_col: str,
                         k: int = 8, window: int = 4,
                         max_fp_df: int = 1000) -> DataFrame:
    """Candidate pairs of documents sharing ≥ 1 winnowing fingerprint —
    grouped per fingerprint with JVM-side in-bucket pair expansion (the
    MinHash-bucket pattern: one bucketing shuffle on fingerprint, plus one
    small pair-aggregation shuffle over candidate pairs only to count
    shared fingerprints). ``max_fp_df`` drops degenerate
    fingerprints shared by more than that many docs (stop-phrase
    buckets), capping the quadratic in-bucket blow-up like
    ``max_shingle_df`` does for Jaccard."""
    fps = winnowing_fingerprints(df, id_col, text_col, k, window)
    groups = (fps.groupBy("fingerprint")
              .agg(F.sort_array(F.collect_list("id")).alias("ids"))
              .where((F.size("ids") > 1) & (F.size("ids") <= max_fp_df)))
    pairs_expr = F.flatten(F.transform(
        F.col("ids"),
        lambda x, i: F.transform(
            F.slice(F.col("ids"), i + F.lit(2), F.size(F.col("ids"))),
            lambda y: F.struct(x.alias("id_a"), y.alias("id_b")))))
    return (groups.select(F.explode(pairs_expr).alias("p"))
            .select("p.id_a", "p.id_b")
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("shared_fingerprints")))
