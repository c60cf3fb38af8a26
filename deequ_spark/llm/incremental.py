"""Incremental deduplication against a persisted index — the production
shape: a daily crawl batch dedupes against the WHOLE historical corpus
without recomputing (or even storing) the history's text.

The index is a small directory of derived tables (all fixed-width keys,
a few hundred GB for 100 TB of history):

- ``docs``    — one row per historical document: ``(id, fingerprint,
  signature)`` (8-byte exact-content hash + MinHash signature of
  ``num_hashes`` longs); the only table that grows with the corpus.
- ``fps``     — ``(fingerprint, matched_id)`` pre-aggregated to ONE row
  per distinct fingerprint and BUCKETED by fingerprint, so the exact
  lookup is a join in which only the (small) new batch shuffles.
- ``buckets`` — ``(band, bh, partner_ids)``: the banded LSH bucket
  table, partner ids capped and sorted per bucket, BUCKETED by
  ``(band, bh)``. This is the table that kills the r7 weakness: the
  banding posexplode + groupBy of the WHOLE index used to re-run on
  every classify call; now it runs once at write time, and classify is
  new-batch-bands ⋈ pre-bucketed-table.
- ``meta``    — one row pinning ``(num_hashes, shingle_n, bands,
  partner_cap, n_buckets)``. Classify reads its LSH geometry from here;
  a batch banded with different parameters than the stored buckets
  would silently miss every collision, so the parameters live WITH the
  data, not in call sites.

Bucketed layout note: Spark keeps bucket metadata in the session
catalog, so the zero-shuffle join applies within the writing session
(or any deployment with a shared metastore). When the catalog entry is
absent the tables still read as plain parquet — the precomputation win
(no re-band, no full-index groupBy) holds either way, and AQE
broadcasts the small batch side.

Lookup paths at classify time:

- **exact**: new-batch fingerprints ⋈ ``fps`` (one shuffle of the new
  batch onto the bucketed fingerprint layout);
- **near**: new-batch band hashes ⋈ ``buckets``, explode the (capped)
  partner ids, re-join ``docs`` for the bounded survivors' signatures,
  then similarity = fraction of agreeing signature positions (an
  unbiased Jaccard estimator, ±1/√k) — no text needed anywhere.

Continuous-crawl recipe (:func:`crawl_dedup_stream`): the production
loop is a Structured Streaming ``foreachBatch`` over a filling crawl
segment directory —

    WARC files land → ``read_warc_stream`` → ``wet_documents`` →
    per micro-batch: classify against the index
    (``dedup_against_index``) → hand FRESH rows to the caller's sink →
    ``write_dedup_index(mode='append')`` so the NEXT batch dedupes
    against them → ``compact_dedup_index`` every k batches to re-merge
    the per-append ``fps``/``buckets`` rows.

Each piece is independently tested; ``crawl_dedup_stream`` is the
wired composition with the two easy-to-miss details handled: the
fresh rows are eagerly materialized (localCheckpoint) BEFORE the
append so the classify plan never re-executes against the directory
it is appending to, and the first batch bootstraps the index with an
``overwrite`` write.
"""

from __future__ import annotations

import hashlib
from typing import Optional, Tuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import storage
from .dedup import _nonblank, minhash_signatures
from .text import fingerprint

__all__ = ["write_dedup_index", "dedup_against_index", "band_hashes",
           "compact_dedup_index", "crawl_dedup_stream"]


def band_hashes(signature: Column, bands: int) -> Column:
    """array<long> of ``bands`` hashes, each over one contiguous
    signature slice — the LSH banding, computed from a STORED signature
    (no text required)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.xxhash64(F.slice(
            signature,
            b * (F.size(signature) / bands).cast("int") + 1,
            (F.size(signature) / bands).cast("int")), b))


def _path_exists(spark: SparkSession, path: str) -> bool:
    """Existence check through the Hadoop FileSystem API so it works on
    any scheme the cluster can read (file://, hdfs://, s3a://...)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def _bucket_table_name(path: str, table: str) -> str:
    """Deterministic catalog name per (index path, table) so append mode
    in the same session finds the bucketed table it created."""
    digest = hashlib.md5(path.encode("utf-8")).hexdigest()[:12]
    return f"dedup_idx_{digest}_{table}"


def _marker_path(path: str, table: str) -> str:
    # underscore prefix: parquet readers ignore _-prefixed files
    return f"{path}/{table}/_not_bucket_clean"


def _touch(spark: SparkSession, path: str) -> None:
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.create(hpath, True).close()


def _delete(spark: SparkSession, path: str) -> None:
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(hpath, False)


# design floor for the fps bloom capacity (so early appends don't
# saturate a batch-sized bitmap): 128k keys ≈ 200 KB of bitmap. Sizing
# is 4x the current key count on every (re)build, so capacity renews
# at each compaction; past capacity the bloom saturates toward
# prune-nothing but stays CORRECT (no false negatives). Ceiling math:
# the 2^24-bit plan-literal cap holds ~1.3M keys at the nominal 1% fpp
# and still prunes ~half of a fresh batch at ~10M keys (m/n ≈ 1.7,
# k >= 1) — beyond that the pre-filter fades gracefully while the
# exact join keeps results identical.
_BLOOM_FLOOR_KEYS = 1 << 17


def _bloom_shape_for(n: int) -> "tuple[int, int]":
    from ..bloom import _MAX_BITS_HARD, bloom_shape
    return bloom_shape(max(int(n) * 4, _BLOOM_FLOOR_KEYS),
                       fpp=0.01, max_bits=_MAX_BITS_HARD)


def _write_fps_bloom(spark: SparkSession, path: str, bloom: dict) -> None:
    row = [(bytearray(bloom["raw"]), int(bloom["k"]), int(bloom["m"]),
            int(bloom["n"]), bloom.get("type"))]
    spark.createDataFrame(
        row, "raw binary, k int, m long, n long, type string") \
        .coalesce(1).write.mode("overwrite") \
        .parquet(f"{path}/fps_bloom")


def _read_fps_bloom(spark: SparkSession, path: str):
    """The index's fingerprint Bloom dict, or None (legacy index — the
    classify join simply runs unfiltered; compact_dedup_index builds
    the bloom on its next run)."""
    if not _path_exists(spark, f"{path}/fps_bloom"):
        return None
    r = spark.read.parquet(f"{path}/fps_bloom").collect()[0]
    return {"raw": bytes(r["raw"]), "k": int(r["k"]), "m": int(r["m"]),
            "n": int(r["n"]), "type": r["type"]}


def _dir_state(spark: SparkSession, path: str):
    """Content fingerprint of one table directory — (name, mtime, len)
    per file via a single FileSystem listStatus — or None when absent.
    Keys the metadata caches below: re-reading an unchanged 1-row
    meta/bloom table cost ~0.1 s of parquet-read latency PER CLASSIFY
    CALL (guide §1: measured), where a listStatus is sub-millisecond."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return None
    return tuple(sorted(
        (st.getPath().getName(), st.getModificationTime(), st.getLen())
        for st in fs.listStatus(hpath)))


_META_CACHE: dict = {}


def _cached_row(spark: SparkSession, path: str, reader):
    """Read-through cache for tiny single-row index tables, keyed by
    the directory's file listing (any append/overwrite changes it).
    Never caches data rows — only the driver-side dict/tuple derived
    from a ≤1-row metadata table."""
    state = _dir_state(spark, path)
    if state is None:
        return None
    key = (path, state)
    if key not in _META_CACHE:
        if len(_META_CACHE) > 256:       # bound driver memory
            _META_CACHE.clear()
        _META_CACHE[key] = reader()
    return _META_CACHE[key]


def _fps_bloom_geometry(spark: SparkSession, path: str):
    """(m, k, n) of the index's fingerprint Bloom WITHOUT pulling the
    bitmap to the driver, or None. The classify pre-filter needs only
    the geometry (n gates it adaptively); the bits themselves stay in
    the fps_bloom table and reach the probe through a scalar
    subquery."""
    def read():
        r = spark.read.parquet(f"{path}/fps_bloom") \
            .select("m", "k", "n").collect()[0]
        return int(r["m"]), int(r["k"]), int(r["n"])
    return _cached_row(spark, f"{path}/fps_bloom", read)


def _write_index_table(df: DataFrame, path: str, table: str,
                       bucket_cols, n_buckets: int, mode: str) -> None:
    """Write one index table bucketed by its join keys; on append,
    bucket-append only if this session owns the catalog entry (bucket
    metadata does not survive an in-memory catalog) AND the directory
    is still bucket-clean, else plain-parquet append — readers treat
    both identically through :func:`_read_index_table`.

    Plain-appending into a directory that some catalog (e.g. a shared
    Hive metastore another session registered) believes is bucketed
    would make a later ``spark.table()`` bucketed scan fail on
    non-bucket file names — or worse, silently keep a bucketing
    guarantee the files no longer honor. So the plain-append path
    (1) drops any same-name catalog entry it can see and (2) leaves a
    ``_not_bucket_clean`` marker file in the table directory, which
    routes ALL readers (any session, any catalog) to the plain-parquet
    path until :func:`compact_dedup_index` rewrites the table bucketed
    and clears the marker."""
    from ..sources import write_bucketed
    name = _bucket_table_name(path, table)
    tpath = f"{path}/{table}"
    spark = df.sparkSession
    dirty = _path_exists(spark, _marker_path(path, table))
    if mode == "append" and (dirty or not spark.catalog.tableExists(name)):
        if spark.catalog.tableExists(name):
            # entry predates the marker (or another writer raced it):
            # drop it so no session-local bucketed scan survives the mix
            spark.sql(f"DROP TABLE IF EXISTS {name}")
        df.write.mode("append").parquet(tpath)
        _touch(spark, _marker_path(path, table))
        return
    write_bucketed(df, name, bucket_cols, n_buckets=n_buckets,
                   path=tpath, mode=mode)
    if mode == "overwrite" and dirty:
        # freshly rewritten bucketed files — bucket-clean again
        _delete(spark, _marker_path(path, table))


def _read_index_table(spark: SparkSession, path: str,
                      table: str) -> DataFrame:
    """Prefer the catalog entry (bucketed scan → join without shuffling
    the index side); fall back to the parquet files. A
    ``_not_bucket_clean`` marker (plain files appended after the
    bucketed write, possibly by another session) overrides the catalog:
    the bucketing guarantee is gone until compaction."""
    name = _bucket_table_name(path, table)
    if not _path_exists(spark, _marker_path(path, table)) \
            and spark.catalog.tableExists(name):
        return spark.table(name)
    return spark.read.parquet(f"{path}/{table}")


def _bucket_rows(docs: DataFrame, bands: int, partner_cap: int) -> DataFrame:
    """(band, bh, partner_ids) from a docs table. Collect ONLY the
    8-byte ids — collecting (id, signature) structs would hold
    m·(8 + 8·num_hashes) bytes in one task for an m-copy mega-cluster
    bucket (~0.5 GB at m=10⁶) before the cap could drop them;
    signatures re-join later for the bounded survivors only. The cap is
    sorted → deterministic, and ONE partner suffices to witness a new
    doc's duplication."""
    # NULL signature = blank document (no shingles). Filter BEFORE
    # banding: xxhash64 skips NULL inputs, so band_hashes(NULL) is a
    # per-band CONSTANT and every blank doc would share one bucket.
    return (docs.where(F.col("signature").isNotNull())
            .select(F.col("id").alias("matched_id"),
                    F.posexplode(band_hashes(F.col("signature"), bands))
                    .alias("band", "bh"))
            .groupBy("band", "bh")
            .agg(F.slice(F.sort_array(F.collect_list("matched_id")),
                         1, partner_cap).alias("partner_ids")))


def write_dedup_index(df: DataFrame, id_col: str, text_col: str,
                      path: str, num_hashes: int = 64, shingle_n: int = 3,
                      mode: str = "overwrite", bands: int = 32,
                      partner_cap: int = 8, n_buckets: int = 32,
                      shingles: str = "word") -> None:
    """Persist the dedup index for ``df`` (layout in the module doc).

    ``mode='append'`` grows the index batch-over-batch — the write path
    of the incremental loop (classify against the index, then append
    the batch's OWN fresh rows). Append validates the stored LSH
    geometry and appends per-batch ``fps``/``buckets`` rows; a bucket
    key present in k appends carries up to k·partner_cap partners until
    :func:`compact_dedup_index` re-merges them.
    """
    if bands > num_hashes:
        raise ValueError(
            f"bands={bands} > num_hashes={num_hashes}: band slices would "
            "be empty and EVERY document would collide in every band")
    spark = df.sparkSession
    if mode == "append" and _path_exists(spark, path) \
            and not _path_exists(spark, f"{path}/meta"):
        # a legacy single-table index lives at the path ROOT; appending
        # the directory layout next to it would make the root unreadable
        # (subdirs would parse as partition dirs with a foreign schema)
        raise ValueError(
            f"{path} holds a legacy single-table dedup index; rebuild it "
            "with write_dedup_index(mode='overwrite') before appending")
    if mode == "append" and _path_exists(spark, f"{path}/meta"):
        stored = _read_meta(spark, path)
        mine = {"num_hashes": num_hashes, "shingle_n": shingle_n,
                "bands": bands, "partner_cap": partner_cap,
                "shingles": shingles}
        # meta written before the shingles field existed means word
        defaults = {"shingles": "word"}
        diff = {k: (v, stored.get(k, defaults.get(k)))
                for k, v in mine.items()
                if stored.get(k, defaults.get(k)) != v}
        if diff:
            raise ValueError(
                f"append with incompatible index parameters {diff}: rows "
                "banded with different geometry would silently never "
                "collide with the stored buckets")

    sigs = minhash_signatures(df, id_col, text_col,
                              num_hashes=num_hashes, shingle_n=shingle_n,
                              shingles=shingles)
    fps = df.select(F.col(id_col).alias("id"),
                    fingerprint(F.col(text_col)).alias("fingerprint"))
    docs = fps.join(sigs, "id").select("id", "fingerprint", "signature")
    # docs feeds four derived writes — compute signatures once
    with storage.scope() as s:
        docs = s.persist(docs)
        # fingerprint Bloom (the classify pre-filter's bits): built
        # FIRST, before any index write. The batch `df` is often a
        # lazy classify plan over this very index (crawl loop); the
        # appends below modify the directories/catalog entries that
        # plan reads, and Spark's recache-by-path would then RE-RUN it
        # against the grown index — the batch matches itself, the
        # bloom gets built over zero rows, and every one of the
        # batch's fingerprints becomes a future FALSE NEGATIVE (a
        # later identical doc would be bloom-certified fresh and
        # re-ingested). Counting here materializes the persisted docs
        # so everything below reads the cache. Overwrite sizes from
        # this batch (with a capacity floor); append builds a
        # same-shape bloom over just the batch's keys and ORs it in —
        # per-batch cost stays proportional to the batch, never the
        # index (merge_blooms docstring).
        from ..bloom import build_bloom, merge_blooms
        existing = (_read_fps_bloom(spark, path)
                    if mode == "append" else None)
        if mode == "overwrite" or existing is not None:
            n_batch = docs.where(
                F.col("fingerprint").isNotNull()).count()
            shape = ((existing["m"], existing["k"]) if existing
                     else _bloom_shape_for(n_batch))
            batch_bloom = build_bloom(docs.select("fingerprint"),
                                      "fingerprint",
                                      expected_items=n_batch,
                                      shape=shape)
        else:
            batch_bloom = None
        docs.write.mode(mode).parquet(f"{path}/docs")
        _write_index_table(
            docs.groupBy("fingerprint").agg(F.min("id").alias("matched_id")),
            path, "fps", "fingerprint", n_buckets, mode)
        _write_index_table(_bucket_rows(docs, bands, partner_cap),
                           path, "buckets", ["band", "bh"], n_buckets, mode)
        if batch_bloom is not None:
            _write_fps_bloom(spark, path,
                             merge_blooms(existing, batch_bloom)
                             if existing else batch_bloom)
    meta = df.sparkSession.createDataFrame(
        [(num_hashes, shingle_n, bands, partner_cap, n_buckets,
          shingles)],
        "num_hashes int, shingle_n int, bands int, partner_cap int, "
        "n_buckets int, shingles string")
    meta.coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")


def _read_meta(spark: SparkSession, path: str) -> dict:
    out = _cached_row(
        spark, f"{path}/meta",
        lambda: spark.read.parquet(f"{path}/meta").collect()[0].asDict())
    if out is None:
        raise FileNotFoundError(f"{path}/meta")
    return out


def compact_dedup_index(spark: SparkSession, path: str) -> None:
    """Re-merge an append-grown index: re-aggregate ``fps`` to one row
    per fingerprint and ``buckets`` to one capped partner list per
    (band, bh). Run periodically (e.g. nightly after a week of hourly
    appends) — appends stay cheap, reads stay bounded."""
    meta = _read_meta(spark, path)
    fps = (spark.read.parquet(f"{path}/fps")
           .groupBy("fingerprint").agg(F.min("matched_id")
                                       .alias("matched_id")))
    buckets = (spark.read.parquet(f"{path}/buckets")
               .select("band", "bh", F.explode("partner_ids")
                       .alias("matched_id"))
               .groupBy("band", "bh")
               .agg(F.slice(F.sort_array(F.collect_set("matched_id")),
                            1, meta["partner_cap"]).alias("partner_ids")))
    from ..bloom import build_bloom
    with storage.scope() as s:
        # materialize BEFORE overwriting the inputs they read from
        fps = s.checkpoint(fps)
        buckets = s.checkpoint(buckets)
        _write_index_table(fps, path, "fps", "fingerprint",
                           meta["n_buckets"], "overwrite")
        _write_index_table(buckets, path, "buckets", ["band", "bh"],
                           meta["n_buckets"], "overwrite")
        # re-size the fingerprint Bloom from the ACTUAL compacted key
        # count (appends OR into a fixed-shape bitmap, drifting toward
        # saturation past its design capacity; compaction is the
        # re-sizing point) — this also retrofits the bloom onto a
        # pre-r12 index
        n = fps.count()
        _write_fps_bloom(spark, path,
                         build_bloom(fps.select("fingerprint"),
                                     "fingerprint", expected_items=n,
                                     shape=_bloom_shape_for(n)))


def dedup_against_index(new_df: DataFrame, id_col: str, text_col: str,
                        index_path: str, threshold: float = 0.8,
                        num_hashes: int = 64, bands: int = 32,
                        shingle_n: int = 3,
                        partner_cap: int = 8,
                        shingles: str = "word",
                        use_bloom: "Optional[bool]" = None,
                        bloom_min_index_keys: "Optional[int]" = None
                        ) -> Tuple[DataFrame, DataFrame]:
    """Classify a new batch against a persisted index.

    Returns ``(fresh, duplicates)``: ``fresh`` = new rows with no exact
    or near match in history (the rows to keep and append to the
    index); ``duplicates`` = ``(id, match_kind, matched_id,
    similarity)`` with ``match_kind ∈ {'exact', 'near'}`` (exact wins
    when both hold; similarity is 1.0 for exact, the signature-agreement
    Jaccard estimate for near).

    LSH geometry (``num_hashes``/``bands``/``shingle_n``/
    ``partner_cap``) is read from the index's ``meta`` table when
    present — the stored buckets were banded with it, and classifying
    with anything else would silently miss collisions; the keyword
    arguments apply only to a legacy single-table index (pre-bucket
    layout), which is re-banded on the fly as before.

    Per-batch cost is dominated by the NEW batch: its fingerprints and
    band hashes shuffle onto the index's bucketed layout; the index
    side is scanned but neither re-banded nor re-aggregated.

    ``use_bloom`` controls the fps Bloom pre-filter. Default ``None`` =
    adaptive: apply it only when the index's key count (fps_bloom ``n``)
    is at least ``bloom_min_index_keys`` (default 2²⁰, overridable per
    call or via the Spark conf ``spark.deequ.dedup.bloomMinIndexKeys``).
    The pre-filter is a SCALE lever — its payoff is batch rows pruned
    before the fps join's exchange (measured 10× at a 10%-dup crawl
    batch, tools/AB_BLOOM_DEDUP_NOTE.md) — but it carries a fixed
    ~1-2 s/call cost (bloom-table read, scalar-subquery execution,
    probe-sliver materialization) that DWARFS the join it prunes on a
    small index, so below the floor the exact join simply runs
    unfiltered (bit-identical results either way; the bloom is a pure
    pre-filter). Pass ``use_bloom=True/False`` to force.
    """
    if bands > num_hashes:
        raise ValueError(
            f"bands={bands} > num_hashes={num_hashes}: band slices would "
            "be empty and EVERY document would collide in every band")
    spark = new_df.sparkSession

    legacy = not _path_exists(spark, f"{index_path}/meta")
    if legacy:
        docs = spark.read.parquet(index_path)
        fps_index = docs.groupBy("fingerprint").agg(
            F.min("id").alias("matched_id"))
        buckets = _bucket_rows(docs, bands, partner_cap)
    else:
        meta = _read_meta(spark, index_path)
        num_hashes = meta["num_hashes"]
        bands = meta["bands"]
        shingle_n = meta["shingle_n"]
        # pre-r8.2 indexes have no shingles field: default word
        shingles = meta.get("shingles") or "word"
        docs = spark.read.parquet(f"{index_path}/docs")
        fps_index = _read_index_table(spark, index_path, "fps")
        buckets = _read_index_table(spark, index_path, "buckets")

    new_fp = new_df.select(F.col(id_col).alias("id"),
                           fingerprint(F.col(text_col)).alias("fingerprint"))
    # Bloom pre-filter (r12): the index's fingerprint bloom answers
    # "could this batch row match history" map-side, BEFORE the join's
    # exchange — a mostly-fresh crawl batch ships only its bloom-
    # positive sliver into the fps join (and when that sliver is
    # empty, AQE's empty-relation propagation skips the index scan
    # entirely). A Bloom no is a certain no, so the join result is
    # unchanged; false positives are removed by the exact join.
    geom = None if legacy else _fps_bloom_geometry(spark, index_path)
    if use_bloom is None:
        # adaptive gate (guide §1/§2: scale-dependent knobs must adapt,
        # not be tuned to one scale): the pre-filter's fixed cost only
        # pays off once the index side is big enough that pruning the
        # batch's join input matters
        floor = bloom_min_index_keys if bloom_min_index_keys is not None \
            else int(spark.conf.get("spark.deequ.dedup.bloomMinIndexKeys",
                                    str(1 << 20)))
        use_bloom = geom is not None and geom[2] >= floor
    if use_bloom and geom is not None:
        from ..bloom import bloom_probe_expr
        # the bitmap reaches the probe through a SCALAR SUBQUERY over
        # the persisted 1-row fps_bloom table, never as a plan
        # literal: a megabyte bitmap literal replicated across the
        # classify's stages measured ~2.5s extra per action at a
        # 10x index and OOMed plan-description rendering outright; the
        # subquery executes once, the plan carries bytes of subquery
        # node
        view = f"dedup_fps_bloom_{hashlib.md5(index_path.encode('utf-8')).hexdigest()[:12]}"
        spark.read.parquet(f"{index_path}/fps_bloom") \
            .createOrReplaceTempView(view)
        m, k, _n = geom
        new_fp = new_fp.where(F.coalesce(
            bloom_probe_expr(F.expr(f"(SELECT first(raw) FROM {view})"),
                             m, k, F.col("fingerprint")),
            F.lit(False)))
        # materialize the bloom-positive SLIVER once (it is small by
        # construction — that is the point of the filter). Two reasons,
        # both measured (r12 AB, tools/ab_b22_b27_r12.py): (1) `exact`
        # below is referenced twice (duplicates union + near-path
        # anti-join) and the probed subtree defeated exchange reuse —
        # the whole probe+join+groupBy executed TWICE (13 exchanges vs
        # 9, +1.2 s/call); the checkpoint runs the probe and its scalar
        # subquery exactly once. (2) Downstream sees a LogicalRDD with
        # no predicate, so InferFiltersFromConstraints can no longer
        # copy the probe across the join equality onto the fps INDEX
        # scan — the hazard that previously required a
        # nondeterministic rand() no-op in the probed key (now
        # unnecessary: no probe expression survives into the join
        # plan at all). The returned plans read it, so it is kept.
        with storage.scope() as s:
            new_fp = s.keep(s.checkpoint(new_fp, eager=True))
    # fps is pre-aggregated to one row per fingerprint at write time;
    # an append-grown index may hold one row per appended batch — the
    # fan-out is bounded by the append count, and min-of-mins below
    # restores the global minimum matched_id
    exact = (new_fp.join(fps_index, "fingerprint")
             .groupBy("id")
             .agg(F.min("matched_id").alias("matched_id"))
             .select("id", F.lit("exact").alias("match_kind"),
                     "matched_id", F.lit(1.0).alias("similarity")))

    # blank docs (no shingles → NULL signature) band to constants under
    # xxhash64's NULL-skip — exclude them INPUT-side (cheap text
    # predicate; a signature-IS-NOT-NULL filter would re-inline the
    # minhash aggregate into the predicate and double the compute).
    # They can still match EXACTLY above via their fingerprint.
    new_sigs = minhash_signatures(_nonblank(new_df, text_col),
                                  id_col, text_col,
                                  num_hashes=num_hashes,
                                  shingle_n=shingle_n, shingles=shingles)
    # candidates only needed for docs not already exact-matched
    remaining = new_sigs.join(exact.select("id"), "id", "left_anti")
    nb = remaining.select(
        "id", "signature",
        F.posexplode(band_hashes(F.col("signature"), bands))
        .alias("band", "bh"))
    isigs = docs.select(F.col("id").alias("matched_id"),
                        F.col("signature").alias("isig"))
    cand = (nb.join(buckets, ["band", "bh"])
            .select("id", "signature",
                    F.explode("partner_ids").alias("matched_id"))
            .distinct()
            .join(isigs, "matched_id"))
    agree = (F.aggregate(
        F.zip_with("signature", "isig",
                   lambda a, b: (a == b).cast("int")),
        F.lit(0), lambda acc, x: acc + x) / F.lit(float(num_hashes)))
    near = (cand.withColumn("similarity", agree)
            .where(F.col("similarity") >= F.lit(float(threshold)))
            .groupBy("id")
            .agg(F.max(F.struct("similarity", "matched_id")).alias("m"))
            .select("id", F.lit("near").alias("match_kind"),
                    F.col("m.matched_id").alias("matched_id"),
                    F.col("m.similarity").alias("similarity")))

    duplicates = exact.unionByName(near)
    fresh = new_df.join(
        duplicates.select(F.col("id").alias(id_col)), id_col, "left_anti")
    return fresh, duplicates


def crawl_dedup_stream(spark: SparkSession, warc_path: str,
                       index_path: str, on_fresh,
                       checkpoint: str,
                       threshold: float = 0.8,
                       num_hashes: int = 64, bands: int = 32,
                       shingle_n: int = 3, partner_cap: int = 8,
                       n_buckets: int = 32, shingles: str = "word",
                       compact_every: int = 0,
                       max_files_per_trigger=None,
                       available_now: bool = False,
                       on_duplicates=None,
                       within_batch_near: bool = True):
    """The continuous-crawl production loop (module doc): stream WARC
    files landing under ``warc_path``, classify every micro-batch
    against the persisted index at ``index_path``, hand the FRESH rows
    ``(doc_id, url, text)`` to ``on_fresh(fresh_df, batch_id)``, append
    them to the index (the NEXT batch dedupes against them), and
    compact every ``compact_every`` batches (0 = never — run it from a
    maintenance job instead).

    Returns the started ``StreamingQuery``; ``available_now=True``
    drains the current directory and stops (the deterministic test /
    backfill mode). Doc ids are ``xxhash64(url, text)`` — stable across
    re-fetches, distinct for changed content (``crawl_to_corpus``'s
    convention). ``on_duplicates(dups_df, batch_id)`` optionally
    receives each batch's ``(id, match_kind, matched_id, similarity)``
    — e.g. to log dedup rates per crawl segment.

    Each micro-batch also dedupes WITHIN itself before classifying
    against history — a crawl segment re-fetches URLs and mirrors
    pages inside one batch too: re-fetches collapse on ``doc_id``
    (same (url, text) → same hash), byte-identical text under
    different URLs collapses on the content fingerprint (min doc_id
    survives), and near-duplicates within the batch collapse through
    the same banded LSH machinery (``within_batch_near``, on by
    default; intra-batch losers are not reported to
    ``on_duplicates`` — they never reach the index, so there is no
    surviving ``matched_id`` contract for them).

    Scale notes: per batch, only the NEW files' records are parsed
    (map-only); classify shuffles the batch onto the bucketed index
    layout; the append writes the batch's own rows; intra-batch
    near-dedup is batch × batch through capped LSH, not batch ×
    history. Nothing in the loop re-reads or re-bands history, so
    steady-state cost tracks the BATCH size (SCALE b22). Both the
    duplicates and the fresh rows are eagerly materialized
    (localCheckpoint) before the append — a lazy plan held by a
    callback, or the fresh rows themselves, must never re-execute
    the classify against the directory being appended to."""
    from .dedup import deduplicate_near, minhash_lsh_pairs
    from .warc import read_warc_stream, wet_documents

    geometry = dict(num_hashes=num_hashes, bands=bands,
                    shingle_n=shingle_n, partner_cap=partner_cap,
                    shingles=shingles)

    def handle(batch_df, batch_id):
        # the batch's internal checkpoints (the intra-batch docs, the
        # LSH pairs, the classify's bloom sliver) are freed when the
        # batch ends; the two frames the callbacks receive are kept
        with storage.scope() as s:
            docs = batch_df.select(
                F.xxhash64(F.col("url"), F.col("text")).alias("doc_id"),
                "url", "text")
            # intra-batch dedup: re-fetches (same id), then exact
            # content (same fingerprint, min id), then near (LSH over
            # the batch)
            docs = docs.dropDuplicates(["doc_id"])
            fp_win = (docs
                      .groupBy(fingerprint(F.col("text")).alias("__fp"))
                      .agg(F.min("doc_id").alias("doc_id")))
            docs = docs.join(fp_win.select("doc_id"), "doc_id", "semi")
            if within_batch_near:
                pairs = minhash_lsh_pairs(
                    docs, "doc_id", "text", threshold=threshold,
                    num_hashes=num_hashes, bands=bands,
                    shingle_n=shingle_n, shingles=shingles)
                docs = deduplicate_near(docs, "doc_id", pairs)
            docs = s.checkpoint(docs, eager=True)

            if not _path_exists(spark, f"{index_path}/meta"):
                fresh, dups = s.keep(docs), None
            else:
                _, dups = dedup_against_index(
                    docs, "doc_id", "text", index_path,
                    threshold=threshold)
                # classify runs ONCE (here); fresh re-derives from the
                # checkpointed dups so neither it nor a deferred
                # on_duplicates callback can replay the classify against
                # the directory the append below is about to grow
                dups = s.keep(s.checkpoint(dups, eager=True))
                fresh = s.keep(s.checkpoint(docs.join(
                    dups.select(F.col("id").alias("doc_id")),
                    "doc_id", "left_anti"), eager=True))
            if on_duplicates is not None and dups is not None:
                on_duplicates(dups, batch_id)
            on_fresh(fresh, batch_id)
            if fresh.limit(1).count():
                mode = ("append"
                        if _path_exists(spark, f"{index_path}/meta")
                        else "overwrite")
                write_dedup_index(fresh, "doc_id", "text", index_path,
                                  n_buckets=n_buckets, mode=mode,
                                  **geometry)
            if compact_every and (batch_id + 1) % compact_every == 0:
                compact_dedup_index(spark, index_path)

    stream = wet_documents(read_warc_stream(
        spark, warc_path, warc_types={"conversion"},
        max_files_per_trigger=max_files_per_trigger))
    writer = (stream.writeStream.foreachBatch(handle)
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
