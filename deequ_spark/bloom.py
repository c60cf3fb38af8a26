"""Expression-native Bloom-filter join pruning.

The 100 TB problem this solves: a fact-side shuffle is the single most
expensive step of a big join, and most of what it ships are rows that
will never match. When the dimension side is too large to BROADCAST as
rows (Spark then picks a sort-merge join and shuffles BOTH sides), its
KEY SET still compresses into a few megabytes of Bloom bits — small
enough to evaluate map-side on every fact row before the exchange, so
the shuffle carries only probable matches. Spark's own runtime bloom
join (``spark.sql.optimizer.runtime.bloomFilter.enabled``) injects the
same idea opportunistically but only under planner thresholds and only
inside a join; this module makes the filter an explicit, plan-assertable
operator, and the standalone ``bloom_might_contain`` expression also
serves NON-join probes — e.g. classifying a crawl batch against a
persisted dedup index without touching the index rows
(cf. llm/incremental.py, whose classify step is a join today).

Everything is pure Catalyst expressions — no UDF, no Python on the hot
path, ANSI-safe arithmetic:

* build: k hash positions per key (Kirsch-Mitzenmacher double hashing
  off two ``xxhash64`` seeds — position_i = (h1 + i·h2) mod m computed
  in residue space so no intermediate exceeds 2^40), one
  ``groupBy(word)``/``bit_or`` over at most m/64 rows, collected as a
  dense bitmap (m ≤ 2^24 bits → ≤ 2 MB raw).
* probe: SPLIT-BLOCK layout (the design parquet's own bloom filters
  use): h1 picks the key's single 56-bit block, read ONCE per row with
  one byte-addressed ``substring``+``hex``+``conv`` off a raw BINARY
  literal; the k bit tests are integer shifts inside that block —
  measured ~0.9us/row/core at k=7 (tools/AB_B28_NOTE.md). The
  representation matters enormously: an ``array<long>`` literal
  converts element-wise through py4j (seconds to build, a CreateArray
  with thousands of children in the plan); a StringType literal makes
  substring count CODE POINTS, walking the bitmap to the offset at
  ~65us/row; per-position byte reads cost 7 allocation-heavy calls a
  row. One block read is 24x the string version's throughput.

Both joins return EXACT results: the Bloom filter only prunes.
``bloom_semi_join`` verifies bloom-positives with a real left-semi
join; ``bloom_anti_join`` passes bloom-NEGATIVES through directly
(a Bloom no is a certain no) and left-anti-verifies only the positives,
so at high selectivity the expensive join sees a small fraction of the
fact side either way.

No reference-repo counterpart: this is a Spark-first scale utility in
the spirit of deequ's ReferentialIntegrity (comparison.py) — and
composes with it: referential-integrity checking over a 100 TB fact
table is ``bloom_anti_join(fact, dim, key)`` counting survivors.
"""

from __future__ import annotations

import math
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import storage

# residue-space double hashing keeps every intermediate far below 2^62
# (ANSI mode throws on long overflow): terms are < m ≤ 2^24, i ≤ 64
_MAX_BITS_DEFAULT = 1 << 23          # 1 MB of plan literal
_MAX_BITS_HARD = 1 << 24             # 2 MB — beyond this, rethink the dim
_MAX_HASHES = 10
# 56-bit (7-byte) blocks: the whole block parses as ONE conv() of 14
# hex chars (a 64-bit block needs two, because conv of 16 hex chars
# exceeds the signed-long range ANSI mode enforces)
_BLOCK_BITS = 56

# xxhash64 is TYPE-sensitive: Spark hashes an IntegerType value through
# hashInt and the same value as LongType through hashLong — different
# bits. A bloom built over an int column but probed with a long (or by
# the driver-side Python replica, which treats ints as longs) returns
# false "certain miss"es and silently DROPS matching rows. Every build
# and probe therefore goes through ONE canonical type per key: integral
# columns cast to long; string/binary pass through; anything else is
# rejected at build time (point-equality pruning on float/date/decimal
# keys is better served by the min/max zone maps).
_INTEGRAL_TYPES = {"tinyint", "smallint", "int", "bigint"}


def _canon_key(df: DataFrame, col_name: str) -> "tuple[Column, str]":
    """(canonical key Column, canonical type name) for ``col_name`` of
    ``df``: integral → cast long, string/binary → unchanged; raises
    TypeError on anything else so an inconsistent hash can never be
    built silently."""
    dtype = dict(df.dtypes).get(col_name)
    if dtype is None:
        raise ValueError(f"column {col_name!r} not in {df.columns}")
    if dtype in _INTEGRAL_TYPES:
        return F.col(col_name).cast("long"), "long"
    if dtype in ("string", "binary"):
        return F.col(col_name), dtype
    raise TypeError(
        f"bloom key column {col_name!r} has unsupported type {dtype}; "
        "cast it to a long/string/binary key first (min/max zone maps "
        "already prune range predicates on other types)")


def _word_and_bits(key: Column, k: int, n_words
                   ) -> "tuple[Column, list[Column]]":
    """Split-block addressing: ONE 56-bit block per key (h1 selects it),
    k bit indices within that block from disjoint 6-bit fields of a
    second xxhash64 stream — the split-block Bloom design parquet's
    own bloom filters use (one cache-line-local block per key, so the
    probe reads ONE word however large k is). ``n_words`` may be a
    Column for per-row-sized bitmaps (the manifest path, where every
    file's bloom is sized to its own row count). All arithmetic stays
    in [0, 2^60): ANSI mode can never overflow."""
    if not isinstance(n_words, Column):
        n_words = F.lit(int(n_words)).cast("long")
    w = F.pmod(F.xxhash64(key), n_words)
    h2 = F.pmod(F.xxhash64(key, F.lit(0x9E3779B9)),
                F.lit(1 << 60).cast("long"))
    # each bit index: a 6-bit hash field scaled into [0, 56) by
    # multiply-shift (a plain mod-56 would double-weight bits 0-7)
    bits = [F.shiftright(
                F.pmod(F.shiftright(h2, 6 * i), F.lit(64)) * _BLOCK_BITS,
                6).cast("int")
            for i in range(k)]
    return w, bits


def bloom_shape(expected_items: int, fpp: float = 0.01,
                max_bits: int = _MAX_BITS_DEFAULT) -> "tuple[int, int]":
    """(m bits, k hashes) for a target false-positive rate: the classic
    m = -n ln p / ln²2, k = (m/n) ln 2, m rounded up to whole 64-bit
    words and capped (a cap RAISES the effective fpp — callers that
    need the nominal rate at huge n should shard the dim instead)."""
    if max_bits > _MAX_BITS_HARD:
        raise ValueError(f"max_bits {max_bits} exceeds the "
                         f"{_MAX_BITS_HARD}-bit plan-literal bound")
    n = max(int(expected_items), 1)
    p = min(max(fpp, 1e-9), 0.5)
    m = int(math.ceil(-n * math.log(p) / (math.log(2) ** 2)))
    # +30% for the split-block penalty: confining a key's k bits to one
    # 64-bit word crowds them, costing roughly a third more bits for
    # the same rate (Putze/Sanders/Singler 2007; parquet sizes its SBBF
    # the same way)
    m = int(math.ceil(m * 1.3))
    m = max(_BLOCK_BITS,
            ((m + _BLOCK_BITS - 1) // _BLOCK_BITS) * _BLOCK_BITS)
    if m > max_bits:
        m = (max_bits // _BLOCK_BITS) * _BLOCK_BITS
    k = max(1, min(_MAX_HASHES, round(m / 1.3 / n * math.log(2))))
    return m, k


def build_bloom(df: DataFrame, key_col: str,
                expected_items: Optional[int] = None,
                fpp: float = 0.01,
                max_bits: int = _MAX_BITS_DEFAULT,
                shape: "Optional[tuple[int, int]]" = None) -> dict:
    """Build a Bloom filter over a key column, DISTRIBUTED: the corpus
    never funnels through the driver — k positions per row explode
    map-side, ONE ``groupBy(word)``/``bit_or`` shuffle of at most m/64
    rows builds the words, and only the ≤ m/56 (block, bits) rows are
    collected and densified. Returns ``{"bits": list[int], "raw":
    bytes, "m": int, "k": int, "n": int}`` — a plain dict so it pickles
    into closures and serializes into repositories. Pass
    ``expected_items`` to skip the sizing count job.

    The key column is CANONICALIZED before hashing (integral → long,
    see :func:`_canon_key`) and the canonical type is recorded as
    ``"type"`` in the returned dict, so probes — expression-side
    (:func:`bloom_might_contain` casts the same way through the join
    helpers) and driver-side (:func:`bloom_contains_py` dispatches on
    it) — always hash the bits the build wrote.

    Pass ``shape=(m, k)`` to PIN the bitmap geometry instead of sizing
    it from ``expected_items`` — required when the result will be
    OR-merged into an existing bloom (:func:`merge_blooms`): two
    bitmaps only union bitwise if they were built with identical m, k
    and key type. ``m`` must be a whole number of 56-bit blocks."""
    canon, ktype = _canon_key(df, key_col)
    df = df.select(canon.alias(key_col)).where(F.col(key_col).isNotNull())
    # validate the pinned geometry BEFORE any job runs: rejecting an
    # invalid shape must not first pay a sizing count or leak a
    # persisted frame
    if shape is not None:
        m, k = shape
        if m % _BLOCK_BITS or m <= 0:
            raise ValueError(f"pinned m={m} is not a positive multiple "
                             f"of {_BLOCK_BITS}")
    with storage.scope() as s:
        if expected_items is None:
            # the sizing count must run before the geometry is known, so
            # an unknown n costs a second pass over the key column (guide
            # §3.2: "the small side is scanned twice"); persist the
            # projected keys across count + build so the source subtree
            # (scan, filters, upstream joins) executes once — released
            # with the scope even if a build job fails
            df = s.persist(df)
            expected_items = df.count()
        if shape is None:
            m, k = bloom_shape(expected_items, fpp, max_bits)
        n_words = m // _BLOCK_BITS
        w, bits = _word_and_bits(F.col(key_col), k, n_words)
        words = (df
                 .select(w.alias("w"),
                         F.explode(F.array(*bits)).alias("b"))
                 # pyspark's shiftleft() insists on a Python-int shift;
                 # call_function reaches the SQL overload that shifts by
                 # a column
                 .select("w", F.call_function(
                     "shiftleft", F.lit(1).cast("long"), F.col("b"))
                     .alias("mask"))
                 .groupBy("w").agg(F.bit_or("mask").alias("bits"))
                 .collect())
    dense = [0] * n_words
    for r in words:
        dense[int(r["w"])] = int(r["bits"])
    # raw big-endian 7-byte blocks: block w occupies raw[7w:7w+7]; the
    # probe reads it with ONE byte-addressed substring + conv
    raw = b"".join(x.to_bytes(7, "big") for x in dense)
    return {"bits": dense, "raw": raw,
            "m": m, "k": k, "n": int(expected_items), "type": ktype}


def merge_blooms(a: dict, b: dict) -> dict:
    """Union two blooms built with IDENTICAL geometry (same m, k, key
    type — :func:`build_bloom` with a pinned ``shape``): the bitwise OR
    of the bitmaps represents the union of the key sets exactly (still
    no false negatives; fpp rises with total n, toward useless-but-
    never-wrong saturation past the design capacity). This is what
    makes a bloom maintainable INCREMENTALLY: an append builds a
    same-shape bloom over just its own keys and ORs it in — no rescan
    of history."""
    if (a["m"], a["k"]) != (b["m"], b["k"]) \
            or a.get("type") != b.get("type"):
        raise ValueError(
            f"bloom geometries differ: ({a['m']}, {a['k']}, "
            f"{a.get('type')}) vs ({b['m']}, {b['k']}, "
            f"{b.get('type')}); only same-shape blooms union bitwise")
    raw = bytes(x | y for x, y in zip(a["raw"], b["raw"]))
    n_words = a["m"] // _BLOCK_BITS
    dense = [int.from_bytes(raw[i * 7:i * 7 + 7], "big")
             for i in range(n_words)]
    return {"bits": dense, "raw": raw, "m": a["m"], "k": a["k"],
            "n": a["n"] + b["n"], "type": a.get("type")}


def bloom_probe_expr(raw: Column, m: int, k: int, key: Column) -> Column:
    """Membership probe against a bitmap COLUMN (raw 7-byte blocks as
    produced by :func:`build_bloom`): true when every one of the k
    positions is set. No false negatives; false positives at the built
    fpp. NULL keys probe NULL (three-valued, like SQL IN).

    Taking the bitmap as a Column (not baked-in bytes) lets callers
    keep MEGABYTE bitmaps out of the plan: reference a persisted 1-row
    bloom table through a scalar subquery (``F.expr("(SELECT
    first(raw) FROM v)")``) and the plan carries a subquery node
    instead of a literal that every plan-description render hex-prints
    (llm/incremental.py's classify pre-filter does exactly this)."""
    w, bits = _word_and_bits(key, k, m // _BLOCK_BITS)
    # the key's single 56-bit block, read ONCE per row: 7 bytes -> 14
    # hex chars -> one conv(), always < 2^56 so ANSI long math is safe
    word_val = F.conv(
        F.hex(F.substring(raw, (w * 7).cast("int") + F.lit(1), 7)),
        16, 10).cast("long")
    # ONE reference to the block (and so to the bitmap literal): the k
    # bit tests fold into a mask — all bits set iff block & mask ==
    # mask. k separate shiftright tests would each duplicate word_val,
    # putting k copies of the (up to 2 MB) literal in the plan; plan
    # RENDERING (AQE execution-update descriptions hex-print binary
    # literals) then multiplies that by every operator the probe
    # appears under — measured OOMing a 1 GB driver on a 1.6 MB bloom.
    mask = None
    for b in bits:
        one = F.call_function("shiftleft", F.lit(1).cast("long"), b)
        mask = one if mask is None else mask.bitwiseOR(one)
    out = word_val.bitwiseAND(mask) == mask
    return F.when(key.isNull(), F.lit(None).cast("boolean")).otherwise(out)


def bloom_might_contain(bloom: dict, key: Column) -> Column:
    """:func:`bloom_probe_expr` with the bitmap embedded as a BINARY
    literal — the right form for bitmaps up to a few hundred KB (one
    py4j transfer, one plan node; substring on BinaryType is
    BYTE-addressed O(1), where a StringType literal counts code points
    and WALKS the bitmap to the offset — measured ~65us/row on a 72KB
    bitmap — and an array<long> literal converts element-wise through
    py4j and plans as a CreateArray with thousands of children). For
    megabyte bitmaps prefer the scalar-subquery form in
    :func:`bloom_probe_expr` — plan renders hex-print binary literals,
    and a large literal replicated across stages measurably drags (or
    at worst OOMs) the driver."""
    return bloom_probe_expr(F.lit(bloom["raw"]), bloom["m"], bloom["k"],
                            key)


def _probe_hash_value(value, ktype):
    """Normalize a Python probe value to the bloom's canonical build
    type (:func:`_canon_key`): the value Spark's ``col = lit(value)``
    comparison would hash after coercion, or ``None`` when the pair is
    un-probeable (unknown — the caller must NOT prune)."""
    if ktype in (None, "long"):
        # built over a long-cast column (or a legacy bloom, which only
        # ever built correctly over longs): Python ints hash as longs;
        # an integral-valued float coerces like Spark's long = double
        # comparison does; anything else is not provably absent
        if isinstance(value, bool):
            return None
        if isinstance(value, int):
            return value
        if isinstance(value, float) and value.is_integer():
            return int(value)
        return None if ktype == "long" else value
    if ktype == "string":
        return value if isinstance(value, str) else None
    if ktype == "binary":
        return bytes(value) if isinstance(value, (bytes, bytearray)) \
            else None
    return None


def bloom_contains_py(bloom: dict, value) -> bool:
    """DRIVER-side membership probe: the same split-block math as
    :func:`bloom_might_contain`, computed in plain Python via the
    bit-for-bit xxhash64 replica (:mod:`deequ_spark.xxh64`). This is
    what makes Bloom bits useful as MANIFEST metadata — the reader
    prunes files per key without launching a job (sources.py
    ``file_misses_key``). NULL follows SQL: returns None. No false
    negatives: ``False`` is a certain miss; ``None`` means the probe
    value cannot be hashed consistently with the build type
    (``bloom["type"]``) — unknown, never pruned."""
    from .xxh64 import spark_xxhash64
    if value is None:
        return None
    value = _probe_hash_value(value, bloom.get("type"))
    if value is None:
        return None
    if not isinstance(value, (int, str, bytes)):
        return None
    raw, k = bloom["raw"], bloom["k"]
    n_words = len(raw) // 7
    if n_words == 0:
        return False
    w = spark_xxhash64(value) % n_words
    h2 = spark_xxhash64(value, 0x9E3779B9) % (1 << 60)
    word = int.from_bytes(raw[w * 7:w * 7 + 7], "big")
    for i in range(k):
        b = (((h2 >> (6 * i)) % 64) * _BLOCK_BITS) >> 6
        if not (word >> b) & 1:
            return False
    return True


def bloom_semi_join(big: DataFrame, small: DataFrame, on: str,
                    small_on: Optional[str] = None,
                    fpp: float = 0.01,
                    expected_items: Optional[int] = None,
                    max_bits: int = _MAX_BITS_DEFAULT) -> DataFrame:
    """EXACT left-semi join with a Bloom pre-filter on the big side:
    rows whose key is bloom-negative are dropped BEFORE the join's
    exchange (the filter is a map-side expression the scan can evaluate
    under whole-stage codegen), and only the surviving sliver pays the
    shuffle + exact semi join. Result rows are identical to
    ``big.join(small, on, "left_semi")`` — the Bloom stage cannot drop
    a true match (no false negatives) and the exact join removes the
    false positives. Both key columns canonicalize to ONE hash type
    (integral → long) before build and probe — an int fact key against
    a long dim key prunes correctly, exactly as the plain join's type
    coercion matches them; a long-vs-string mismatch raises instead of
    silently dropping every row."""
    key = small_on or on
    bloom, probe_col = _build_join_bloom(
        big, small, on, key, fpp, expected_items, max_bits)
    pre = big.where(bloom_might_contain(bloom, probe_col))
    rhs = small.select(F.col(key).alias(on)).distinct()
    return pre.join(rhs, on, "left_semi")


def _build_join_bloom(big: DataFrame, small: DataFrame, on: str,
                      key: str, fpp, expected_items, max_bits
                      ) -> "tuple[dict, Column]":
    """Shared build step of the bloom joins: canonicalize BOTH key
    columns (build side inside :func:`build_bloom`, probe side here),
    assert they land on the same hash type, and return the bloom plus
    the probe Column. xxhash64 hashes int and long values of the same
    number differently — without the shared cast an int-vs-long key
    pair would bloom-drop true matches the exact join then never
    sees."""
    probe_col, big_type = _canon_key(big, on)
    bloom = build_bloom(small.select(key), key,
                        expected_items=expected_items,
                        fpp=fpp, max_bits=max_bits)
    if bloom["type"] != big_type:
        raise TypeError(
            f"bloom join key types diverge: big[{on!r}] canonicalizes "
            f"to {big_type}, small[{key!r}] to {bloom['type']}; cast "
            "one side so the join compares (and hashes) one type")
    return bloom, probe_col


def bloom_anti_join(big: DataFrame, small: DataFrame, on: str,
                    small_on: Optional[str] = None,
                    fpp: float = 0.01,
                    expected_items: Optional[int] = None,
                    max_bits: int = _MAX_BITS_DEFAULT) -> DataFrame:
    """EXACT left-anti join where only bloom-POSITIVE rows pay the join:
    a Bloom no is a certain no, so bloom-negative rows (and NULL keys,
    which never equal anything) bypass the exchange entirely and union
    back in; bloom-positives — the small fraction at high selectivity —
    are verified with a real left-anti join. Row set identical to
    ``big.join(small, on, "left_anti")``. This is the 100 TB shape of a
    referential-integrity scan: survivors are the orphans. Key types
    canonicalize exactly as in :func:`bloom_semi_join` — essential
    here, where a type-skewed false "certain miss" would route a
    MATCHING row around the verify join straight into the output."""
    key = small_on or on
    bloom, probe_col = _build_join_bloom(
        big, small, on, key, fpp, expected_items, max_bits)
    probe = bloom_might_contain(bloom, probe_col)
    certain_miss = big.where(F.col(on).isNull() | ~F.coalesce(probe, F.lit(False)))
    candidates = big.where(F.coalesce(probe, F.lit(False)))
    rhs = small.select(F.col(key).alias(on)).distinct()
    verified = candidates.join(rhs, on, "left_anti")
    return certain_miss.unionByName(verified)
