"""WebDataset-style tar shard export/import — how prepared corpora
actually reach a training job: fixed-size ``.tar`` shards, each sample
a group of same-stem files (``{key}.txt``, ``{key}.json``,
``{key}.jpg``, ...) so a loader can stream samples sequentially with
no index.

Spark-first shape: shard assignment is a pure expression, shard
construction is one ``applyInPandas`` over the shard groups (one tar
built in memory per task — bounded by the shard size you chose, the
same bound the READER needs), and the manifest (shard, samples, bytes)
comes back as the result DataFrame. Import is ``binaryFile`` +
``mapInPandas`` tar parsing — the exact mirror of the WARC reader, one
non-splittable file per task.

Writes land through Python ``open()`` for bare POSIX paths (local
disk, NFS, fuse mounts) and through ``pyarrow.fs`` for ``scheme://``
URIs (``file://`` always; ``s3://``/``gs://``/``hdfs://`` wherever the
Arrow build provides the filesystem) — shards stream straight to
object storage from each executor, no driver round-trip, no
write-local-then-sync step.
"""

from __future__ import annotations

import io
import sys
import tarfile
from typing import Dict, Optional

import pandas  # noqa: F401 — mapInPandas type hints resolve at module scope
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import storage

__all__ = ["write_webdataset", "read_webdataset", "derive_n_shards",
           "tar_members", "update_webdataset_index",
           "webdataset_index"]

# tar framing constants (USTAR): per-member 512-byte header + content
# padded to 512; 1024-byte end-of-archive; whole file padded to the
# GNU-default 10240-byte record size
_BLK = 512
_RECORD = 10240


def _ensure_dir(path: str) -> None:
    if "://" in path:
        from pyarrow import fs as pafs
        filesystem, p = pafs.FileSystem.from_uri(path)
        filesystem.create_dir(p, recursive=True)
    else:
        import os
        os.makedirs(path, exist_ok=True)


def _open_output(path: str):
    """Writable byte stream for a POSIX path or a pyarrow.fs URI —
    runs on EXECUTORS, where the JVM Hadoop FileSystem handle is not
    reachable from Python; pyarrow.fs is the Arrow-native equivalent
    and shares its URI scheme registry."""
    if "://" in path:
        from pyarrow import fs as pafs
        filesystem, p = pafs.FileSystem.from_uri(path)
        return filesystem.open_output_stream(p)
    return open(path, "wb")


def derive_n_shards(df: DataFrame, cols, target_shard_bytes: int) -> int:
    """``ceil(total_tar_bytes / target)`` from ONE column-pruned
    aggregate — exact per-row USTAR framing: 512-byte header + content
    padded to 512 per non-null member (end-marker/record padding are
    per-shard constants, immaterial next to a ~1 GB target). This is
    the size-targeted writer's pre-pass, exposed so callers (and the
    driver oracle) can pin the derived count independently."""
    member = [
        F.when(F.col(c).isNotNull(),
               _BLK + F.ceil(F.octet_length(F.col(c)) /
                             float(_BLK)).cast("long") * _BLK)
        .otherwise(F.lit(0)) for c in cols]
    total = df.agg(F.coalesce(
        F.sum(sum(member[1:], member[0])), F.lit(0)).alias("b")) \
        .collect()[0]["b"]
    return max(1, -(-int(total) // int(target_shard_bytes)))


def write_webdataset(df: DataFrame, path: str, key_col: str,
                     columns: Dict[str, str],
                     n_shards: Optional[int] = None,
                     shard_expr=None,
                     target_shard_bytes: int = 1 << 30) -> DataFrame:
    """Write ``df`` as ``{path}/shard-{id:05d}.tar``; one tar entry per
    (row, column): ``{key}.{ext}`` with ``columns`` mapping column →
    extension. String columns encode UTF-8; binary columns pass
    through. Samples inside a shard are sorted by key and the tar is
    written with GNU-default 10240-byte blocking — byte-deterministic
    output for a given (data, sharding). ``path`` may be a POSIX
    directory or a ``scheme://`` URI (see module doc).

    Sharding is SIZE-TARGETED by default: each shard group is
    assembled in one task's memory (pandas frame + tar buffer ≈ 2×
    shard bytes — the same bound a WebDataset READER needs), so the
    shard count must scale with the corpus or per-task memory becomes
    corpus-shaped. One cheap pre-pass sums the exact USTAR framing
    bytes per row (column-pruned scan, one aggregate row) and derives
    ``n_shards = ceil(total_tar_bytes / target_shard_bytes)`` — the
    WebDataset-conventional ~1 GB default holds per-task memory flat
    no matter how large ``df`` is. Passing ``n_shards`` explicitly
    skips the pre-pass; ``shard_expr`` overrides the assignment
    entirely (e.g. ``pmod(key, k)`` for contiguous numeric keys —
    then size-bounding is the caller's contract). A shard whose tar
    exceeds 2× ``target_shard_bytes`` (skewed hash or oversized
    single samples) logs a warning to the executor's stderr; the
    returned manifest ``(shard, n_samples, n_bytes)`` is the
    driver-side place to assert on skew. The write happens as the
    manifest evaluates (one action).
    """
    _ensure_dir(path)
    cols = list(columns)
    if shard_expr is None and n_shards is None:
        n_shards = derive_n_shards(df, cols, target_shard_bytes)
    if shard_expr is None:
        shard_expr = F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_shards))
    data = df.select(F.col(key_col).cast("string").alias("__key"),
                     shard_expr.cast("int").alias("__shard"), *cols)
    warn_bytes = 2 * int(target_shard_bytes)

    def build(pdf):
        import pandas as pd
        shard = int(pdf["__shard"].iloc[0])
        pdf = pdf.sort_values("__key")
        buf = io.BytesIO()
        # uname/uid/mtime pinned so shard bytes are reproducible
        with tarfile.open(fileobj=buf, mode="w",
                          format=tarfile.USTAR_FORMAT) as tar:
            # zip over column arrays, not iterrows(): per-row Series
            # construction is 10-50x slower in this per-shard hot loop
            for key, *vals in zip(pdf["__key"],
                                  *(pdf[c] for c in cols)):
                for c, v in zip(cols, vals):
                    if v is None:
                        continue
                    blob = (v.encode("utf-8") if isinstance(v, str)
                            else bytes(v))
                    info = tarfile.TarInfo(f"{key}.{columns[c]}")
                    info.size = len(blob)
                    info.mtime = 0
                    tar.addfile(info, io.BytesIO(blob))
        payload = buf.getvalue()
        if len(payload) > warn_bytes:
            sys.stderr.write(
                f"write_webdataset: shard {shard} is {len(payload)} "
                f"bytes > 2x target_shard_bytes={target_shard_bytes} "
                "- skewed shard keys or oversized samples\n")
        with _open_output(f"{path}/shard-{shard:05d}.tar") as fh:
            fh.write(payload)
        return pd.DataFrame({"shard": [shard],
                             "n_samples": [len(pdf)],
                             "n_bytes": [len(payload)]})

    return (data.groupBy("__shard")
            .applyInPandas(build, "shard int, n_samples long, n_bytes long"))


def read_webdataset(spark: SparkSession, path: str,
                    columns: Dict[str, str],
                    binary_cols=(),
                    min_partitions: Optional[int] = None) -> DataFrame:
    """Read shards back into one row per sample: ``columns`` maps output
    column → extension (the inverse of :func:`write_webdataset`);
    extensions in ``binary_cols`` stay ``binary``, everything else
    decodes UTF-8. Map-only — a shard is the unit of parallelism."""
    # accept either column NAMES or extensions in binary_cols (the
    # docstring promises extensions; both now work)
    binset = {c for c in columns
              if c in set(binary_cols) or columns[c] in set(binary_cols)}
    schema = "__key string, " + ", ".join(
        f"{c} {'binary' if c in binset else 'string'}" for c in columns)

    def parse(batches):
        import pandas as pd
        for pdf in batches:
            rows = {"__key": []}
            for c in columns:
                rows[c] = []
            for blob in pdf["content"]:
                with tarfile.open(fileobj=io.BytesIO(bytes(blob))) as tar:
                    samples = {}
                    for m in tar.getmembers():
                        # externally produced tars carry directories /
                        # links / pax entries (extractfile -> None) and
                        # extension-less names — skip, don't crash
                        if not m.isfile():
                            continue
                        stem, dot, ext = m.name.rpartition(".")
                        if not dot or not stem:
                            continue
                        samples.setdefault(stem, {})[ext] = \
                            tar.extractfile(m).read()
                    for key in sorted(samples):
                        rows["__key"].append(key)
                        for c, ext in columns.items():
                            raw = samples[key].get(ext)
                            if raw is None:
                                rows[c].append(None)
                            elif c in binset:
                                rows[c].append(raw)
                            else:
                                rows[c].append(raw.decode("utf-8"))
            yield pd.DataFrame(rows)

    files = spark.read.format("binaryFile").load(f"{path}/*.tar")
    if min_partitions:
        files = files.repartition(min_partitions)
    return (files.select("content").mapInPandas(parse, schema)
            .withColumnRenamed("__key", "key"))


def tar_members(data: bytes):
    """Walk one tar file's USTAR headers WITHOUT extracting (the
    per-blob unit of :func:`webdataset_index`): yields
    ``(member_name, data_offset, size)`` per regular-file member —
    header blocks are 512-aligned, content padded to 512, two zero
    blocks end the archive. Members longer than the 100-byte name
    field resolve through the POSIX ustar ``prefix`` field (bytes
    345-500, joined with ``/``) or a GNU ``L`` longname entry (whose
    data block names the NEXT member), so long paths index under their
    full names instead of silently truncated ones. A truncated or
    corrupt header stops the walk (never raises on partial shards)."""
    at, n = 0, len(data)
    longname = None                             # pending GNU 'L' name
    while at + _BLK <= n:
        hdr = data[at:at + _BLK]
        if hdr == b"\0" * _BLK:                 # end-of-archive
            return
        name = hdr[:100].split(b"\0", 1)[0]
        size_field = hdr[124:136].replace(b"\0", b" ").strip()
        try:
            size = int(size_field or b"0", 8)
        except ValueError:
            return
        typeflag = hdr[156:157]
        if typeflag == b"L" and at + _BLK + size <= n:
            # GNU longname: data block holds the next member's name
            longname = data[at + _BLK:at + _BLK + size] \
                .split(b"\0", 1)[0].decode("utf-8", "replace")
        elif typeflag in (b"0", b"\0") and name \
                and at + _BLK + size <= n:      # data fully present
            if longname is not None:
                full = longname
            else:
                full = name.decode("utf-8", "replace")
                # exact POSIX magic only ("ustar\0"): GNU tar's magic is
                # "ustar  \0" and GNU headers never use the prefix field
                # — oldgnu stores atime/ctime at offset 345, which a
                # loose prefix gate would misread as a path prefix
                if hdr[257:263] == b"ustar\0":
                    prefix = hdr[345:500].split(b"\0", 1)[0]
                    if prefix:
                        full = prefix.decode("utf-8", "replace") \
                            + "/" + full
            yield full, at + _BLK, size
            longname = None
        else:
            longname = None
        at += _BLK + -(-size // _BLK) * _BLK


WDS_INDEX_SCHEMA = ("path string, key string, ext string, "
                    "member string, offset long, size long")


def webdataset_index(files: DataFrame, path_col: str = "path",
                     content_col: str = "content") -> DataFrame:
    """Member index over WebDataset tar shards: one row per (sample
    key, extension) with the member's DATA byte span — the random-
    access companion of :func:`read_webdataset` (a training loader
    range-reads ``size`` bytes at ``offset`` instead of scanning the
    tar; the same build-once/seek-forever role warc.warc_cdx_index
    plays for WARC archives). Pure USTAR header arithmetic
    (:func:`tar_members`) — no extraction, no decompression; one Arrow
    ``mapInPandas`` pass, map-only. ``key``/``ext`` split follows the
    WebDataset ``{key}.{ext}`` member convention (extension-less
    members index with ext NULL)."""
    import pandas as pd

    def index(batches):
        for pdf in batches:
            cols = {k: [] for k in ("path", "key", "ext", "member",
                                    "offset", "size")}
            for path, content in zip(pdf[path_col], pdf[content_col]):
                data = b"" if content is None else bytes(content)
                for name, off, size in tar_members(data):
                    stem, dot, ext = name.rpartition(".")
                    cols["path"].append(path)
                    cols["key"].append(stem if dot else name)
                    cols["ext"].append(ext if dot and stem else None)
                    cols["member"].append(name)
                    cols["offset"].append(off)
                    cols["size"].append(size)
            yield pd.DataFrame(cols)

    return files.select(F.col(path_col).alias(path_col),
                        F.col(content_col).alias(content_col)) \
        .mapInPandas(index, WDS_INDEX_SCHEMA)


def update_webdataset_index(spark, index_path: str,
                            shard_glob: str) -> dict:
    """Incrementally maintain a member index over a GROWING shard store:
    index ONLY tar files the parquet index at ``index_path`` does not
    know yet and append their rows — the same immutable-file contract
    as ``warc.update_cdx_index`` (shards are write-once; a training-data
    store grows by whole shards). Rows of deleted shards are dropped;
    first call bootstraps. Returns ``{"known_files": n,
    "scanned_files": n, "removed_rows": n}``."""
    return _update_file_index(spark, index_path, shard_glob,
                              webdataset_index)


def _update_file_index(spark, index_path: str, file_glob: str,
                       build_index) -> dict:
    """The incremental contract of ``update_webdataset_index`` and
    ``warc.update_cdx_index``: ``build_index`` maps ``(path, content)``
    binaryFile rows of the files the parquet index does not know yet to
    the rows appended; rows of files no longer matched are dropped."""
    from pyspark.errors import AnalysisException
    files = spark.read.format("binaryFile").load(file_glob)
    current = {r["path"] for r in files.select("path").collect()}
    try:
        idx = spark.read.parquet(index_path)
        known_paths = {r["path"] for r in
                       idx.select("path").distinct().collect()}
    except AnalysisException:
        idx, known_paths = None, set()
    new_paths = sorted(current - known_paths)
    ghosts = known_paths - current
    removed = 0
    if ghosts:
        # join against the (small, file-count-sized) current-path set —
        # isin() over a 100k-file archive would inline a plan-sized
        # literal list; a broadcast semi/anti join stays O(1) plan
        cur_df = spark.createDataFrame(
            [(p,) for p in sorted(current)], "path string")
        removed = idx.join(F.broadcast(cur_df), "path",
                           "left_anti").count()
        # materialized: the overwrite must never lazily read the
        # directory it is replacing
        with storage.scope() as s:
            kept = s.checkpoint(
                idx.join(F.broadcast(cur_df), "path", "left_semi"))
            kept.write.mode("overwrite").parquet(index_path)
    if new_paths:
        rows = build_index(
            spark.read.format("binaryFile").load(new_paths)
            .select("path", "content"))
        rows.write.mode("append").parquet(index_path)
    return {"known_files": len(known_paths) - len(ghosts),
            "scanned_files": len(new_paths),
            "removed_rows": removed}
