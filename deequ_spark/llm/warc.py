"""WARC / WET ingest — the first stage of a crawl-scale corpus pipeline.

Common Crawl (and every ISO 28500 producer) ships the web as WARC
files: a concatenation of records, each a version line + CRLF headers +
``Content-Length`` bytes of payload. WET files are WARCs whose
``conversion`` records carry extracted plain text — the input a
training-data pipeline actually wants.

Spark-first shape: one WARC file is gzip-member-compressed and NOT
splittable, so the natural unit of parallelism is the FILE — exactly
how Common Crawl publishes (segments of ~1 GB files, tens of thousands
per crawl). ``read_warc`` lists the files with the ``binaryFile``
source (a distributed file scan; no driver-side listing of record
contents) and splits records inside ``mapInPandas`` with a pure-Python
parser — a map-only plan, no shuffle anywhere, that scales linearly
with the file count on a 1000-executor cluster. Downstream operators
(canonicalize_url, normalize_text, dedup, quality) consume the output
columns directly.

Format notes (ISO 28500 / WARC 1.0-1.1):
- record = ``WARC/1.x\\r\\n`` + headers + ``\\r\\n`` + payload +
  ``\\r\\n\\r\\n``; payload length comes from ``Content-Length`` (byte-
  exact, so payloads may contain anything, including record markers);
- ``.warc.gz`` files are CONCATENATED gzip members (commonly one per
  record) — decompressed member-wise with zlib so a truncated tail
  member loses only itself;
- header names are case-insensitive; a malformed record body skips
  forward to the next ``WARC/`` magic instead of poisoning the file.
"""

from __future__ import annotations

import io
import zlib
from typing import Iterator, Optional, Tuple

import pandas  # noqa: F401 — pandas_udf/mapInPandas hints resolve at module scope
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["read_warc", "parse_warc_files", "wet_documents",
           "http_responses", "iter_warc_records", "split_gzip_members",
           "build_warc_record", "build_warc_file",
           "surt_key", "update_cdx_index", "warc_cdx_index"]

_MAGIC = b"WARC/"

RECORD_SCHEMA = ("warc_file string, record_id string, warc_type string, "
                 "target_uri string, warc_date string, "
                 "content_type string, content_length long, "
                 "headers map<string,string>, payload binary")


def split_gzip_members(data: bytes) -> bytes:
    """Decompress a (possibly multi-member) gzip byte string; plain
    bytes pass through. Member-wise: each member is inflated with its
    own decompressobj so trailing garbage / a truncated final member
    drops only that member, not the file."""
    if data[:2] != b"\x1f\x8b":
        return data
    out = io.BytesIO()
    pos = 0
    while pos < len(data) and data[pos:pos + 2] == b"\x1f\x8b":
        d = zlib.decompressobj(wbits=31)
        try:
            out.write(d.decompress(data[pos:]))
        except zlib.error:
            break
        consumed = len(data) - pos - len(d.unused_data)
        if consumed <= 0:
            break
        pos += consumed
    return out.getvalue()


def build_warc_record(warc_type: str, payload: bytes,
                      target_uri: Optional[str] = None,
                      record_id: Optional[str] = None,
                      warc_date: str = "2024-01-01T00:00:00Z",
                      content_type: Optional[str] = None,
                      extra_headers: Optional[dict] = None) -> bytes:
    """Serialize one ISO 28500 record — the fixture builder for tests
    and synthetic-corpus oracles (there is no WARC writer requirement in
    a read-side pipeline, but a byte-exact builder keeps parser tests
    honest without binary blobs in the repo)."""
    lines = [b"WARC/1.0",
             f"WARC-Type: {warc_type}".encode(),
             f"WARC-Date: {warc_date}".encode()]
    if record_id:
        lines.append(f"WARC-Record-ID: <{record_id}>".encode())
    if target_uri:
        lines.append(f"WARC-Target-URI: {target_uri}".encode())
    if content_type:
        lines.append(f"Content-Type: {content_type}".encode())
    for k, v in (extra_headers or {}).items():
        lines.append(f"{k}: {v}".encode())
    lines.append(f"Content-Length: {len(payload)}".encode())
    return b"\r\n".join(lines) + b"\r\n\r\n" + payload + b"\r\n\r\n"


def build_warc_file(records, gzip_members: bool = False) -> bytes:
    """Concatenate serialized records into one file's bytes; with
    ``gzip_members`` each record becomes its own gzip member (the
    Common Crawl ``.warc.gz`` convention, which lets a reader skip to
    any record boundary without inflating the prefix)."""
    import gzip as _gzip
    if not gzip_members:
        return b"".join(records)
    # mtime=0: the gzip header embeds a timestamp by default, which
    # would make otherwise-identical shards differ between runs
    return b"".join(_gzip.compress(r, mtime=0) for r in records)


def _parse_headers(block: bytes) -> dict:
    headers = {}
    for line in block.split(b"\r\n"):
        if b":" not in line:
            continue
        k, v = line.split(b":", 1)
        headers[k.strip().decode("latin-1")] = v.strip().decode(
            "latin-1", "replace")
    return headers


def _hget(headers: dict, name: str) -> Optional[str]:
    low = name.lower()
    for k, v in headers.items():
        if k.lower() == low:
            return v
    return None


def iter_warc_records(data: bytes) -> Iterator[Tuple[dict, bytes]]:
    """Yield ``(headers, payload)`` per WARC record in ``data``
    (decompressing gzip members first). Pure Python, sequential over one
    file's bytes — the per-task work unit."""
    data = split_gzip_members(data)
    pos = data.find(_MAGIC)
    n = len(data)
    while pos != -1 and pos < n:
        head_end = data.find(b"\r\n\r\n", pos)
        if head_end == -1:
            return
        headers = _parse_headers(data[pos:head_end])
        length_s = _hget(headers, "Content-Length")
        if length_s is None or not length_s.isdigit():
            pos = data.find(_MAGIC, pos + len(_MAGIC))
            continue
        body_start = head_end + 4
        body_end = body_start + int(length_s)
        if body_end > n:
            return  # truncated final record
        yield headers, data[body_start:body_end]
        nxt = data.find(_MAGIC, body_end)
        pos = nxt


def parse_warc_files(files: DataFrame, path_col: str = "path",
                     content_col: str = "content",
                     warc_types=None) -> DataFrame:
    """Split each file row's bytes into one row per WARC record.

    ``warc_types`` (e.g. ``{'conversion'}``) filters record types
    INSIDE the parser, before anything is emitted into Spark — the
    usual 10× row reduction when only WET text records matter.
    Map-only: no shuffle, output partitioning = input file partitioning.
    """
    wanted = {t.lower() for t in warc_types} if warc_types else None

    def parse(batches):
        import pandas as pd
        for pdf in batches:
            rows = {"warc_file": [], "record_id": [], "warc_type": [],
                    "target_uri": [], "warc_date": [], "content_type": [],
                    "content_length": [], "headers": [], "payload": []}
            for path, blob in zip(pdf[path_col], pdf[content_col]):
                for headers, payload in iter_warc_records(bytes(blob)):
                    rtype = (_hget(headers, "WARC-Type") or "").lower()
                    if wanted is not None and rtype not in wanted:
                        continue
                    rows["warc_file"].append(path)
                    rows["record_id"].append(
                        _hget(headers, "WARC-Record-ID"))
                    rows["warc_type"].append(rtype)
                    rows["target_uri"].append(
                        _hget(headers, "WARC-Target-URI"))
                    rows["warc_date"].append(_hget(headers, "WARC-Date"))
                    rows["content_type"].append(
                        _hget(headers, "Content-Type"))
                    rows["content_length"].append(len(payload))
                    rows["headers"].append(headers)
                    rows["payload"].append(payload)
            yield pd.DataFrame(rows)

    return files.select(path_col, content_col).mapInPandas(
        parse, RECORD_SCHEMA)


def read_warc(spark: SparkSession, path: str, warc_types=None,
              min_partitions: Optional[int] = None) -> DataFrame:
    """Read a directory/glob of ``.warc`` / ``.warc.gz`` / ``.wet.gz``
    files into one row per record (schema: ``RECORD_SCHEMA``).

    ``min_partitions`` repartitions the FILE list before parsing — a
    directory with fewer files than cores would otherwise idle the
    cluster (binaryFile keeps each non-splittable file whole)."""
    files = spark.read.format("binaryFile").load(path)
    if min_partitions:
        files = files.repartition(min_partitions)
    return parse_warc_files(files, warc_types=warc_types)


def read_warc_stream(spark: SparkSession, path: str,
                     warc_types=None,
                     max_files_per_trigger: Optional[int] = None
                     ) -> DataFrame:
    """STREAMING WARC ingest: new crawl files landing under ``path``
    stream out as record rows — the continuous shape of a production
    crawl pipeline (a segment directory fills over hours; each file is
    processed exactly once, checkpoint-tracked by the file-source log).
    Same splitter and schema as :func:`read_warc`; compose with
    ``wet_documents`` and the streaming dedup/drift operators.
    ``max_files_per_trigger`` bounds per-batch work (and makes batch
    counts deterministic in tests)."""
    # streaming file sources need an explicit schema; binaryFile's is
    # fixed (DataSource binaryFile docs)
    schema = ("path string, modificationTime timestamp, "
              "length long, content binary")
    reader = spark.readStream.format("binaryFile").schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger",
                               int(max_files_per_trigger))
    files = reader.load(path)
    return parse_warc_files(files, warc_types=warc_types)


def wet_documents(records: DataFrame) -> DataFrame:
    """WET extraction: ``conversion`` records as ``(url, text)`` — the
    entry point into normalize_text / dedup / quality scoring. Pure
    projection + filter on the record frame (map-only)."""
    return (records.where(F.col("warc_type") == "conversion")
            .select(F.col("target_uri").alias("url"),
                    F.col("payload").cast("string").alias("text")))


def crawl_to_corpus(spark: SparkSession, path: str,
                    min_partitions: Optional[int] = None,
                    source: str = "wet",
                    main_content: bool = False,
                    **pipeline_kwargs):
    """Crawl files → training corpus, end to end: ``read_warc`` →
    text extraction → URL-keyed doc ids →
    :func:`~deequ_spark.llm.pipeline.prepare_training_corpus` with this
    package's standard cleanup sequence. ``source='wet'`` consumes
    pre-extracted ``conversion`` records; ``source='responses'``
    consumes raw HTTP ``response`` records through
    :func:`~deequ_spark.llm.html.html_documents` (status/content-type
    gate + HTML→text) — the two halves of a real crawl feed.
    ``main_content=True`` (responses source only) swaps the extractor
    for the link-density block scorer — nav/footer chrome never
    reaches the pipeline instead of half-falling to the C4 line rules.
    Returns ``(chunks, stats)`` exactly like
    ``prepare_training_corpus``; all its stage toggles pass through.
    The ingest stages are map-only, so the first shuffle a crawl pays
    is the pipeline's own exact-dedup groupBy."""
    from .pipeline import prepare_training_corpus
    if source == "wet":
        if main_content:
            raise ValueError(
                "main_content applies to source='responses' only: WET "
                "records are already extracted text with no markup "
                "left to score")
        docs = wet_documents(read_warc(spark, path,
                                       warc_types={"conversion"},
                                       min_partitions=min_partitions))
    elif source == "responses":
        from .html import html_documents
        docs = html_documents(
            http_responses(
                read_warc(spark, path, warc_types={"response"},
                          min_partitions=min_partitions)),
            main_content=main_content)
        if main_content:
            docs = docs.drop("content_score")
    else:
        raise ValueError("source must be 'wet' or 'responses'")
    # stable 64-bit doc id from (url, text): crawls re-fetch a URL
    # across snapshots, so the url alone is not unique
    docs = docs.select(
        F.xxhash64(F.col("url"), F.col("text")).alias("doc_id"),
        "url", "text")
    # the extraction above is an opaque gunzip+parse, NOT a re-scannable
    # projection: let the pipeline's first multi-referencing stage cut
    # it (checkpoint_input) instead of re-executing the parse once per
    # reference — measured 0.74x on the whole ingest chain (r12 wave 3)
    pipeline_kwargs.setdefault("checkpoint_input", True)
    return prepare_training_corpus(docs, "doc_id", "text",
                                   **pipeline_kwargs)


def http_responses(records: DataFrame) -> DataFrame:
    """Parse ``response`` records' HTTP payloads into ``(url, status,
    http_content_type, body)``. The status line and headers are split
    with built-in expressions (JVM-side); only the header/body split
    point needs a byte search, done on the binary with ``instr``-style
    expressions over a latin-1 cast — no Python in the plan."""
    resp = records.where(F.col("warc_type") == "response")
    # Decode the payload as ISO-8859-1 for the header search: latin-1
    # is one byte per char, so instr's CHARACTER position equals the
    # BYTE position regardless of non-ASCII header bytes (a UTF-8 cast
    # would shift the split left by one per multibyte sequence and
    # corrupt the byte-exact body)
    s = F.decode(F.col("payload"), "ISO-8859-1")
    head_end = F.instr(s, "\r\n\r\n")
    # a payload with NO \r\n\r\n terminator has no header/body split:
    # instr()=0 would otherwise make head empty AND body a garbage
    # substring(payload, 4) missing its first 3 bytes — surface the
    # whole row's HTTP fields as NULL instead (the record is not a
    # parseable HTTP message)
    head = F.when(head_end > 0, F.substring(s, F.lit(1), head_end - 1))
    status_raw = F.regexp_extract(head, r"^HTTP/[0-9.]+ (\d{3})", 1)
    status = F.when(status_raw != "", status_raw).cast("int")
    ctype_raw = F.regexp_extract(head,
                                 r"(?im)^content-type:\s*([^\r\n]+)", 1)
    # regexp_extract yields '' on no match — surface ABSENT as NULL so
    # downstream missing-type handling (html_documents) actually fires
    ctype = F.when(ctype_raw == "", F.lit(None)).otherwise(ctype_raw)
    body = F.when(head_end > 0, F.expr(
        "substring(payload, "
        "instr(decode(payload, 'ISO-8859-1'), '\r\n\r\n') + 4, "
        "octet_length(payload))"))
    return resp.select(F.col("target_uri").alias("url"),
                       status.alias("status"),
                       ctype.alias("http_content_type"),
                       body.alias("body"))


def write_wet(df: DataFrame, path: str, url_col: str = "url",
              text_col: str = "text",
              n_shards: Optional[int] = None,
              target_shard_bytes: int = 1 << 30,
              gzip_members: bool = True,
              warc_date: str = "2024-01-01T00:00:00Z") -> DataFrame:
    """Distributed WET export — the interchange mirror of
    :func:`read_warc`: write a (url, text) corpus as
    ``{path}/part-{id:05d}.warc.wet.gz`` files of ISO 28500
    ``conversion`` records, readable by this module and any WET
    consumer (the Common Crawl WET layout).

    Same scale design as ``shards.write_webdataset``: shard assignment
    is a hash expression, the shard COUNT is derived from one cheap
    byte-sum pre-pass (``ceil(total_record_bytes / target)``, pre-
    compression) so per-task memory stays target-shaped while the count
    absorbs corpus growth; each shard is assembled in one applyInPandas
    task, records sorted by URL and stamped with a fixed ``warc_date``
    and a URL-derived record id — byte-deterministic output for a given
    (data, sharding).  ``gzip_members=True`` writes one gzip member PER
    RECORD (the ``.warc.gz`` convention), which is precisely what the
    reader's member splitter exploits.  Paths may be POSIX or
    ``scheme://`` URIs (pyarrow.fs on executors).  Returns the manifest
    ``(shard, n_records, n_bytes)``; the write runs as it evaluates.
    """
    from .shards import _ensure_dir, _open_output
    _ensure_dir(path)
    if n_shards is None:
        # ~record framing: headers (type/date/id/uri/length + blank
        # lines) ≈ 220 bytes + URL + UTF-8 text
        total = df.agg(F.coalesce(F.sum(
            F.octet_length(F.col(text_col))
            + F.octet_length(F.col(url_col)) + F.lit(220)),
            F.lit(0))).collect()[0][0]
        n_shards = max(1, -(-int(total) // int(target_shard_bytes)))
    data = (df.where(F.col(url_col).isNotNull()
                     & F.col(text_col).isNotNull())
            .select(F.col(url_col).cast("string").alias("__url"),
                    F.col(text_col).cast("string").alias("__text"))
            .withColumn("__shard",
                        F.pmod(F.xxhash64("__url"),
                               F.lit(int(n_shards))).cast("int")))

    def build(pdf):
        import hashlib
        import pandas as pd
        shard = int(pdf["__shard"].iloc[0])
        pdf = pdf.sort_values("__url")
        records = []
        for url, text in zip(pdf["__url"], pdf["__text"]):
            payload = text.encode("utf-8")
            rid = ("urn:sha1:"
                   + hashlib.sha1(url.encode("utf-8")).hexdigest())
            records.append(build_warc_record(
                "conversion", payload, target_uri=url, record_id=rid,
                warc_date=warc_date, content_type="text/plain"))
        blob = build_warc_file(records, gzip_members=gzip_members)
        suffix = ".warc.wet.gz" if gzip_members else ".warc.wet"
        with _open_output(f"{path}/part-{shard:05d}{suffix}") as fh:
            fh.write(blob)
        return pd.DataFrame({"shard": [shard],
                             "n_records": [len(records)],
                             "n_bytes": [len(blob)]})

    return (data.groupBy("__shard")
            .applyInPandas(build, "shard int, n_records long, n_bytes long"))


def surt_key(url: Optional[str]) -> Optional[str]:
    """SURT-style sort key for a URL (the CDX ``urlkey`` convention —
    Sort-friendly URI Reordering Transform): lowercase, scheme and a
    leading ``www.`` dropped, host labels REVERSED and comma-joined,
    then ``)`` + path?query — so every page of a host (and of its
    subdomains) sorts contiguously, which is what makes a flat sorted
    CDX file binary-searchable by domain prefix. Simplified vs full
    SURT: query parameters are kept in document order (not re-sorted)
    and ports are kept verbatim. Plain Python (used inside the Arrow
    index pass); returns None for None/schemeless garbage."""
    if not url:
        return None
    u = url.strip().lower()
    for scheme in ("http://", "https://"):
        if u.startswith(scheme):
            u = u[len(scheme):]
            break
    else:
        return None
    host, sep, rest = u.partition("/")
    if not host:
        return None
    if host.startswith("www."):
        host = host[4:]
    host, _, port = host.partition(":")
    return (",".join(reversed(host.split(".")))
            + (f":{port}" if port else "") + ")/" + rest)


def _iter_record_spans(data: bytes):
    """Yield ``(offset, length, headers, payload)`` per record with
    ON-DISK spans: for a member-per-record ``.warc.gz`` file the span is
    the COMPRESSED gzip member (seek + inflate one member = one record —
    the random-access property the CDX exists for); for a plain file it
    is the record's framing bytes. Truncated tails stop the walk."""
    if data[:2] == b"\x1f\x8b":
        pos = 0
        while pos < len(data) and data[pos:pos + 2] == b"\x1f\x8b":
            d = zlib.decompressobj(wbits=31)
            try:
                plain = d.decompress(data[pos:])
            except zlib.error:
                return
            consumed = len(data) - pos - len(d.unused_data)
            if consumed <= 0:
                return
            for off, ln, h, p in _iter_record_spans(plain):
                # one member may carry several records (non-member-per-
                # record writers); span then covers the whole member
                yield pos, consumed, h, p
            pos += consumed
        return
    at = data.find(_MAGIC)
    n = len(data)
    while at != -1 and at < n:
        head_end = data.find(b"\r\n\r\n", at)
        if head_end == -1:
            return
        headers = _parse_headers(data[at:head_end])
        length_s = _hget(headers, "Content-Length")
        if length_s is None or not length_s.isdigit():
            at = data.find(_MAGIC, at + len(_MAGIC))
            continue
        body_end = head_end + 4 + int(length_s)
        if body_end > n:
            return
        # the record's on-disk span includes its trailing CRLF CRLF
        rec_end = body_end + 4 \
            if data[body_end:body_end + 4] == b"\r\n\r\n" else body_end
        yield at, rec_end - at, headers, data[head_end + 4:body_end]
        at = data.find(_MAGIC, body_end)


CDX_SCHEMA = ("path string, urlkey string, timestamp string, url string, "
              "warc_type string, offset long, length long, digest string")


def warc_cdx_index(files: DataFrame, path_col: str = "path",
                   content_col: str = "content") -> DataFrame:
    """Build a CDX(J)-style capture index over WARC file bytes: one row
    per record with the SURT ``urlkey``, the 14-digit CDX timestamp
    (from WARC-Date), the on-disk ``(offset, length)`` span — the
    COMPRESSED gzip-member span for member-per-record ``.warc.gz``
    files, so a consumer can range-read + inflate exactly one record —
    and a sha256 payload digest (CDX classically uses sha1-base32; the
    digest FIELD is consumer-defined in CDXJ and sha256 is replayable
    by any SQL engine, which keeps this operator oracle-checkable).

    This is the random-access companion of :func:`read_warc`: at 100 TB
    the archive is scanned ONCE to build this index, and every later
    re-fetch / sample / dedup-lookup seeks straight to its record
    instead of re-scanning shards. One Arrow ``mapInPandas`` pass over
    (path, content) rows — map-only, no shuffle; sorting/bucketing the
    OUTPUT by urlkey (e.g. layout.cluster_by_zorder or a plain
    repartitionByRange) is the consumer's layout decision."""
    import hashlib

    import pandas as pd

    def index(batches):
        for pdf in batches:
            cols = {k: [] for k in ("path", "urlkey", "timestamp", "url",
                                    "warc_type", "offset", "length",
                                    "digest")}
            for path, content in zip(pdf[path_col], pdf[content_col]):
                data = b"" if content is None else bytes(content)
                for off, ln, h, payload in _iter_record_spans(data):
                    url = _hget(h, "WARC-Target-URI")
                    date = _hget(h, "WARC-Date") or ""
                    ts = "".join(c for c in date if c.isdigit())[:14]
                    cols["path"].append(path)
                    cols["urlkey"].append(surt_key(url))
                    cols["timestamp"].append(ts or None)
                    cols["url"].append(url)
                    cols["warc_type"].append(
                        _hget(h, "WARC-Type") or "unknown")
                    cols["offset"].append(off)
                    cols["length"].append(ln)
                    cols["digest"].append(
                        hashlib.sha256(payload).hexdigest())
            yield pd.DataFrame(cols)

    return files.select(F.col(path_col).alias(path_col),
                        F.col(content_col).alias(content_col)) \
        .mapInPandas(index, CDX_SCHEMA)


def update_cdx_index(spark: SparkSession, index_path: str,
                     warc_glob: str) -> dict:
    """Incrementally maintain a CDX index over a GROWING archive: index
    ONLY WARC files the parquet index at ``index_path`` does not know
    yet and append their rows — the daily-crawl companion of
    :func:`warc_cdx_index` (a full re-index after every crawl round is
    absurd at 100 TB; WARC files are immutable once written, so rows of
    known files cannot change — the same incremental contract
    ``sources.update_manifest`` relies on for parquet). Files deleted
    since the last build have their rows dropped (dangling spans).
    First call bootstraps a full build. Only NEW file bytes are read (a
    binaryFile scan over exactly those paths); the ghost rewrite is
    O(index) and happens only when files actually disappeared. Returns
    ``{"known_files": n, "scanned_files": n, "removed_rows": n}``."""
    from .shards import _update_file_index
    return _update_file_index(spark, index_path, warc_glob, warc_cdx_index)
