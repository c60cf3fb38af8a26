"""Host-level link-graph analytics — the crawl-quality half the text
operators can't see: which HOSTS does the web point at?  Production
crawl pipelines rank hosts by link centrality (Common Crawl publishes
harmonic-centrality host ranks; CCNet/RefinedWeb-style corpora use
such ranks as a quality prior or crawl-frontier policy), and a
training-data engine that ingests raw WARC responses already holds
the edges: every ``<a href>`` on every fetched page.

Spark-first design:

- :func:`extract_links` — hrefs via one ``regexp_extract_all``; pure
  expressions, whole-stage codegen, composes with the same raw-HTML
  frame :func:`~deequ_spark.llm.html.html_documents` consumes.
- :func:`link_edges` — page rows → DISTINCT ``(src_host, dst_host)``
  host edges. The host graph is ~10⁶-10⁷ nodes for a full crawl —
  five orders of magnitude smaller than the corpus — so everything
  downstream of this projection is cheap relative to ingest. One
  shuffle (the distinct).
- :func:`pagerank` — fixed-iteration PageRank in INTEGER micro-units
  with integer division everywhere. Floating-point PageRank sums
  neighbor contributions in partition order, so two runs (or two
  engines) disagree in the last ulps; the integer variant is
  bit-identical on any engine and any partitioning, which makes host
  ranks REPRODUCIBLE corpus metadata (and lets the DuckDB oracle
  replay it exactly). Each iteration is one join + one aggregate on
  the (small) edge table; ranks are localCheckpoint-ed per iteration
  so the lineage (and plan) stays flat across iterations.

Semantics notes (documented, deliberate):

- Dangling nodes (no out-links) leak their rank mass instead of
  redistributing it — the classic simplification; it dampens absolute
  values uniformly and preserves the ordering signal a quality prior
  needs, while keeping every step a local join (no global dangling-sum
  broadcast dependency in the loop).
- Edges are UNWEIGHTED and deduplicated per (src, dst): one host
  linking another 10⁶ times counts once — link farms shouldn't buy
  rank linearly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import storage
from .robots import url_host

__all__ = ["extract_links", "link_edges", "pagerank",
           "anchor_texts", "anchor_term_profile"]

# href value up to a quote/space/fragment; both quote styles and bare
HREF_RE = r"""(?i)<a\b[^>]*?href\s*=\s*["']?([^"'#\s>]+)"""


def extract_links(html) -> Column:
    """All ``<a href>`` values of an HTML string as ``array<string>``
    — one ``regexp_extract_all``, JVM-side. Values are returned raw
    (relative links, mailto:, javascript: included); callers filter
    for the scheme they want (``link_edges`` keeps http/https)."""
    h = html if isinstance(html, Column) else F.col(html)
    return F.regexp_extract_all(h, F.lit(HREF_RE), 1)


def link_edges(pages: DataFrame, url_col: str, html_col: str) -> DataFrame:
    """DISTINCT ``(src_host, dst_host)`` edges from raw pages: explode
    the extracted hrefs, keep absolute http(s) targets, drop
    self-links (intra-host navigation is not an endorsement). Relative
    links resolve to the SAME host by definition, so skipping them
    loses no inter-host edge. One shuffle (the distinct) over the
    host-level projection — the full page bytes never shuffle."""
    u = F.col(url_col)
    links = pages.select(
        url_host(u).alias("src_host"),
        F.explode(extract_links(F.col(html_col))).alias("__l"))
    abs_links = links.where(F.col("__l").rlike(r"(?i)^https?://"))
    return (abs_links
            .select("src_host",
                    url_host(F.col("__l")).alias("dst_host"))
            .where((F.col("dst_host") != F.col("src_host"))
                   & (F.length("dst_host") > 0))
            .distinct())


def pagerank(edges: DataFrame, iterations: int = 3,
             damping_pct: int = 85,
             src_col: str = "src_host", dst_col: str = "dst_host",
             micro: int = 1_000_000) -> DataFrame:
    """Fixed-iteration integer PageRank over a (src, dst) edge table.

    Returns ``(node, rank_micro)`` with every node that appears as a
    source or target. Ranks live in micro-units (initial rank =
    ``micro``); per iteration each node sends ``rank DIV out_degree``
    along every out-edge and collects

        rank' = ((100 − d)·micro) DIV 100  +  (d · Σ incoming) DIV 100

    with ``d = damping_pct``. All arithmetic is 64-bit integer —
    contributions are exact and their SUM is order-independent, so the
    result is bit-identical across partitionings and engines (the
    floor-truncation bias is a few micro-units per hop, irrelevant to
    a quality prior and the price of reproducibility).

    Scale: the host graph is tiny next to the corpus; each iteration
    is one equi-join onto the static ``(edge, out_degree)`` table plus
    one map-side-combinable sum — AQE broadcasts the rank side when it
    fits. Ranks are eagerly localCheckpoint-ed every iteration so plan
    depth and lineage stay O(1) in ``iterations``; each iteration frees
    the previous one's ranks, and only the returned ranks stay stored.
    """
    if not 0 <= damping_pct <= 100:
        raise ValueError(f"damping_pct must be 0..100, got {damping_pct}")
    e = edges.select(F.col(src_col).alias("src"),
                     F.col(dst_col).alias("dst")).distinct()
    nodes = (e.select(F.col("src").alias("node"))
             .union(e.select(F.col("dst").alias("node")))
             .distinct())
    # static per-iteration join input: every edge with its source's
    # out-degree attached (computed once, reused k times)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    base = ((100 - damping_pct) * micro) // 100
    with storage.scope() as s:
        ed = s.checkpoint(e.join(deg, "src"), eager=True)
        nodes = s.checkpoint(nodes, eager=True)
        ranks = nodes.select("node", F.lit(int(micro)).alias("rank_micro"))
        for _ in range(int(iterations)):
            contrib = (ed.join(ranks, ed["src"] == ranks["node"])
                       .select(F.col("dst").alias("node"),
                               F.expr("rank_micro div out_deg")
                               .alias("__c")))
            incoming = contrib.groupBy("node").agg(
                F.sum("__c").alias("__s"))
            stepped = s.checkpoint(
                nodes.join(incoming, "node", "left")
                .select("node",
                        (F.lit(base)
                         + F.expr(f"({damping_pct} * coalesce(__s, 0))"
                                  " div 100")).alias("rank_micro")),
                eager=True)
            # the eager step read the previous ranks for the last time
            s.release(ranks)
            ranks = stepped
        # with no iteration the returned plan still reads `nodes`
        if int(iterations) <= 0:
            s.keep(nodes)
        return s.keep(ranks)


# a whole <a> element (href + inner markup); inner text captured lazily
ANCHOR_ELEM_RE = r"(?is)(<a\b[^>]*?href[^>]*>.*?</a>)"
_ANCHOR_TEXT_RE = r"(?is)<a\b[^>]*>(.*)</a>"


def anchor_texts(pages: DataFrame, url_col: str,
                 html_col: str) -> DataFrame:
    """(src_host, dst_host, anchor) rows — what the web CALLS each
    host.  Anchor text is the classic relevance/quality signal the bare
    link graph drops: a host described by thousands of independent
    anchors as "official documentation" reads very differently from one
    described as "cheap pills".

    Extraction is pure expressions (whole-stage codegen): one
    ``regexp_extract_all`` pulls whole ``<a ...>...</a>`` elements,
    then per-element ``regexp_extract`` splits href and inner text;
    inner markup (``<b>``, spans) is tag-stripped and whitespace
    collapsed.  Only absolute http(s) targets with non-empty anchors
    survive; self-links are dropped like :func:`link_edges` does.
    Everything is a map-only projection — host strings and short
    anchors, never page bytes, feed whatever aggregation follows.
    """
    u = F.col(url_col)
    elems = F.explode(F.regexp_extract_all(
        F.col(html_col), F.lit(ANCHOR_ELEM_RE), 1)).alias("__a")
    rows = pages.select(url_host(u).alias("src_host"), elems)
    from .html import _decode_entities
    href = F.regexp_extract(F.col("__a"), HREF_RE, 1)
    inner = F.regexp_extract(F.col("__a"), _ANCHOR_TEXT_RE, 1)
    # entity decode BEFORE term splitting — 'Tips &amp; Tricks' must
    # not leak an 'amp' term into the anchor vocabulary
    anchor = F.trim(F.regexp_replace(_decode_entities(
        F.regexp_replace(inner, r"<[^>]*>", " ")), r"\s+", " "))
    out = (rows.withColumn("__href", href).withColumn("anchor", anchor)
           .where(F.col("__href").rlike(r"(?i)^https?://"))
           .select("src_host",
                   url_host(F.col("__href")).alias("dst_host"),
                   "anchor")
           .where((F.col("dst_host") != F.col("src_host"))
                  & (F.length("dst_host") > 0)
                  & (F.length("anchor") > 0)))
    return out


def anchor_term_profile(anchors: DataFrame, top_k: int = 10) -> DataFrame:
    """Per-destination-host anchor vocabulary: lowercase alphanumeric
    terms of every anchor pointing AT the host, counted and ranked,
    top ``top_k`` per host kept (``dst_host, term, n, rank``).  One
    groupBy on (host, term) + one WindowGroupLimit-eligible rank — the
    profile table is O(hosts x top_k), tiny next to the corpus."""
    from deequ_spark.diagnostics import grouped_topk
    terms = (anchors.select(
        "dst_host",
        F.explode(F.filter(F.split(F.lower("anchor"), "[^a-z0-9]+"),
                           lambda x: x != "")).alias("term")))
    counts = terms.groupBy("dst_host", "term").agg(
        F.count("*").alias("n"))
    # deterministic rank: count desc then term asc, encoded as ONE
    # ascending struct key so grouped_topk's WindowGroupLimit applies
    keyed = counts.withColumn(
        "__ord", F.struct((-F.col("n")).alias("neg_n"),
                          F.col("term").alias("term")))
    ranked = grouped_topk(keyed, "dst_host", "__ord", top_k,
                          descending=False)
    return ranked.select("dst_host", "term", "n", "rank")
