"""End-to-end training-corpus preparation: the standard RefinedWeb/Gopher
cleanup sequence composed from this package's operators, each stage a
DataFrame → DataFrame transform so Catalyst sees one lazy plan per stage.

Stage order follows the published pipelines (cheap row-local filters
before corpus-wide shuffles):

1. quality gate   — :func:`gopher_quality_flags` (map-only projection)
2. boilerplate    — :func:`remove_boilerplate_lines` (corpus-level)
3. exact dedup    — fingerprint hash-groupBy (one shuffle)
4. near dedup     — MinHash-LSH pairs → connected components → drop
                    losers (bucketed, never all-pairs)
5. LM filter      — :func:`lm_quality_score` cross-entropy gate
                    (model trained on the survivors, broadcast join)
6. sampling       — :func:`hash_sample` deterministic md5 split
7. chunking       — :func:`chunk_text` fixed token windows (map-only)
   OR packing     — :func:`pack_sequences` concat-and-chunk into fixed
                    token budgets (salt-grouped window)

Each stage can be toggled; ``prepare_training_corpus`` returns the final
chunk table plus a small stats dict. The INPUT of every multi-
referencing stage (and the returned frame) is localCheckpoint-ed:
materialized once, logical plan truncated — the self-referencing stages
would otherwise multiply the upstream plan tree per reference; single-
reference map-only stages fuse into the next materialization instead of
paying their own (``collect_stats=False`` only skips the count jobs).
"""

from __future__ import annotations

from typing import Dict, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import storage
from .dedup import (deduplicate_near, duplicate_span_removal,
                    minhash_lsh_pairs)
from .packing import hash_sample, pack_sequences
from .semdedup import semantic_deduplicate
from .text import (c4_line_clean, c4_page_flags, char_trigram_model,
                   chunk_text, decontaminate,
                   fingerprint, gopher_quality_flags, lm_quality_score,
                   normalize_text, paragraph_dedup,
                   remove_boilerplate_lines, token_count_whitespace)
from .urls import url_deduplicate


def prepare_training_corpus(df: DataFrame, id_col: str, text_col: str,
                            min_words: int = 50,
                            boilerplate_min_docs: int = 10,
                            near_dup_threshold: float = 0.8,
                            chunk_tokens: int = 512,
                            chunk_overlap: int = 64,
                            quality_filter: bool = True,
                            boilerplate: bool = True,
                            exact_dedup: bool = True,
                            near_dedup: bool = True,
                            chunk: bool = True,
                            lm_filter_quantile: Optional[float] = None,
                            sample_fraction: Optional[float] = None,
                            pack_budget: Optional[int] = None,
                            collect_stats: bool = True,
                            checkpoint_input: bool = False,
                            gopher_kwargs: Optional[dict] = None,
                            paragraph_dedup_sep: Optional[str] = None,
                            span_dedup_n: Optional[int] = None,
                            embeddings: Optional[DataFrame] = None,
                            embedding_cols: Tuple[str, str]
                            = ("doc_id", "embedding"),
                            semantic_threshold: float = 0.95,
                            semantic_clusters: int = 16,
                            dsir_target: Optional[DataFrame] = None,
                            dsir_k: Optional[int] = None,
                            dsir_temperature: float = 2.0,
                            url_col: Optional[str] = None,
                            unicode_normalize: bool = False,
                            c4_clean: bool = False,
                            c4_page_filter: bool = False,
                            c4_min_words_per_line: int = 5,
                            benchmark: Optional[DataFrame] = None,
                            bench_text_col: str = "text",
                            decontaminate_ngram: int = 13,
                            benchmark_embeddings: Optional[DataFrame] = None,
                            bench_embedding_cols: Tuple[str, str]
                            = ("doc_id", "embedding"),
                            semantic_decon_threshold: float = 0.95
                            ) -> Tuple[DataFrame, Dict[str, int]]:
    """Run the full cleanup pipeline; returns (result, stage_stats).

    The result carries (id, text[, chunk columns]); ``stage_stats`` maps
    stage name → surviving row count (empty when ``collect_stats`` is
    off). Disabled stages pass through untouched.

    Optional post-dedup stages (all off by default, preserving the
    established contract): ``lm_filter_quantile=q`` drops documents
    whose char-trigram cross-entropy (model trained on the dedup
    survivors) exceeds the corpus q-quantile — the CCNet perplexity
    gate; ``sample_fraction=f`` takes a deterministic md5 Bernoulli
    sample (reproducible on any cluster size); ``pack_budget=B``
    replaces overlap-chunking with concat-and-chunk sequence packing
    into B-token packs (``chunk`` is ignored when set);
    ``paragraph_dedup_sep=s`` runs keep-first duplicate-span removal on
    s-separated paragraphs between boilerplate and doc-level dedup (the
    RefinedWeb line-then-document order); ``span_dedup_n=n`` runs
    Lee-et-al exact substring dedup over duplicated n-token windows at
    the same point (note it whitespace-normalizes surviving text);
    ``embeddings=df`` (with
    ``embedding_cols`` naming its id/vector columns) adds a SemDeDup
    semantic-dedup stage after MinHash — lexical near-dup first, so the
    costlier embedding pass only sees lexical survivors;
    ``dsir_target=df`` + ``dsir_k=k`` replaces uniform sampling with
    DSIR importance resampling toward the target corpus (runs after
    the quality/dedup stages so weights are fit on clean text).

    ``checkpoint_input=True`` additionally lets the FIRST
    multi-referencing stage cut even when no transform has run yet.
    Default off: for a re-scannable source (parquet) the extra
    re-scans are cheaper than copying the raw corpus into executor
    storage. Set it when ``df`` is EXPENSIVE to recompute — an opaque
    parse, a Python stage, a remote read — because an uncut first
    stage re-executes that source subtree once per reference
    (crawl_to_corpus sets it: its WARC gunzip+parse ran 3-4x under the
    boilerplate stage's references — r12 wave 3 measured the cut at
    0.74x whole-chain, tools/AB_R12_WAVE3.json).

    Pre-filter hygiene stages (before the quality gate, cheapest first):
    ``url_col='url'`` dedupes by canonical URL (the CCNet/RefinedWeb
    first pass — one projection + one hash-groupBy, removes crawl
    re-fetches before any content work); ``unicode_normalize=True``
    runs mojibake repair + NFC + control-strip + whitespace collapse
    (map-only) so later fingerprints/shingles see canonical bytes.

    Decontamination stages (after dedup, before the LM/sampling
    stages — the eval set must be kept out of whatever trains on the
    output): ``benchmark=df`` drops documents sharing any
    ``decontaminate_ngram``-gram with the eval texts (broadcast
    semi-join, corpus never shuffled); ``benchmark_embeddings=df``
    (small, broadcast) additionally drops documents whose embedding —
    joined from ``embeddings`` via ``embedding_cols`` — is within
    cosine ``semantic_decon_threshold`` of any eval embedding, the
    paraphrase-robust complement (requires ``embeddings``)."""
    stats: Dict[str, int] = {}
    # every cut, and every checkpoint a stage keeps (minhash verified
    # pairs, semantic-dedup losers, the boilerplate set), belongs to
    # this scope, which frees them on exit — all but the returned cut.
    with storage.scope() as s:
        # localCheckpoint placement (r12, guide §2.4/§1.2): cuts happen at
        # the INPUT of every stage that references the running frame more
        # than once (boilerplate, paragraph/span dedup, exact/near/semantic
        # dedup, decontamination, LM filter, DSIR) — a multi-referencing
        # stage over an uncut plan would duplicate the whole upstream
        # subtree per reference (plan growth is multiplicative; every
        # reference RECOMPUTES) — and NOT after single-reference map-only
        # stages (normalize, c4_clean, quality, sample, pack, chunk), which
        # now fuse into the next materialization instead of paying their
        # own. Measured on the bench chain: 7 cuts → 5, ~1.5 s less
        # materialization per run, byte-identical output
        # (OPTIMIZATION_r12.md, "b27 / b24"). `dirty` tracks whether any
        # transform has been applied since the last cut, so the FIRST
        # multi-ref stage straight off the raw source skips the cut — the
        # raw input is usually a cheap re-scannable projection, and
        # checkpointing it would copy the whole corpus into executor
        # storage for nothing. checkpoint_input=True pre-marks the source
        # dirty for inputs that are NOT cheap to re-derive (an opaque
        # parse — see the docstring).
        state = {"dirty": bool(checkpoint_input)}

        def sweep_cuts() -> None:
            """Release the longest prefix of superseded cuts whose successor
            has materialized (a stage's own actions materialize its input
            cut lazily; the predecessor becomes garbage the moment that
            happens)."""
            cuts = state.get("cuts", [])
            while len(cuts) >= 2 and storage.checkpoint_materialized(cuts[1]):
                s.release(cuts.pop(0))

        def note(stage: str, frame: DataFrame) -> DataFrame:
            state["dirty"] = True
            if collect_stats:
                stats[stage] = frame.count()
            sweep_cuts()
            return frame

        def cut_in(frame: DataFrame, eager: bool = False) -> DataFrame:
            """Truncate (and eventually materialize) before a
            multi-referencing stage.

            Intermediate cuts are LAZY (r13, guide §2.4/§1.2): the plan
            is truncated now, and the materialization fuses into the
            stage's first action instead of a dedicated full-corpus job
            per cut. Only the FINAL cut is eager — the RETURNED frame is
            materialized. A superseded cut is released once its
            successor has materialized (``checkpoint_materialized``:
            the successor's first job still reads the old blocks); the
            chain's scope frees the rest on exit."""
            if state["dirty"]:
                frame = s.checkpoint(frame, eager=eager)
                state.setdefault("cuts", []).append(frame)
                sweep_cuts()
                state["dirty"] = False
            return frame

        in_cols = [id_col, text_col] + ([url_col] if url_col else [])
        out = df.select(*in_cols)
        if collect_stats:
            stats["input"] = out.count()

        if url_col is not None:
            out = note("url_dedup",
                       url_deduplicate(out, id_col, url_col)
                       .select(id_col, text_col))

        if unicode_normalize:
            out = note("normalize", normalize_text(out, text_col)
                       .select(id_col, F.col(f"{text_col}_clean")
                               .alias(text_col))
                       .where(F.length(text_col) > 0))

        if c4_clean:
            # C4 line filtering runs BEFORE the page-level quality gate:
            # boilerplate lines it removes should not count toward Gopher's
            # word/line statistics
            c4 = c4_line_clean(out, text_col,
                               min_words_per_line=c4_min_words_per_line)
            out = note("c4_clean",
                       c4.select(id_col, F.col(f"{text_col}_c4")
                                 .alias(text_col))
                       .where(F.length(text_col) > 0))

        if quality_filter:
            # gopher_kwargs: extra thresholds forwarded to
            # gopher_quality_flags (corpora differ — e.g. code corpora
            # rarely hit 2 English stopwords)
            flagged = gopher_quality_flags(out, text_col, min_words=min_words,
                                           **(gopher_kwargs or {}))
            if c4_page_filter:
                flagged = c4_page_flags(flagged, text_col)
                flagged = flagged.where(F.col("gq_keep") & F.col("c4_keep"))
            else:
                flagged = flagged.where(F.col("gq_keep"))
            out = note("quality", flagged.select(id_col, text_col))
        elif c4_page_filter:
            out = note("quality",
                       c4_page_flags(out, text_col).where(F.col("c4_keep"))
                       .select(id_col, text_col))

        if boilerplate:
            out = cut_in(out)
            cleaned = remove_boilerplate_lines(out, id_col, text_col,
                                               min_docs=boilerplate_min_docs)
            out = note("boilerplate", cleaned
                       .select(id_col, F.col("cleaned").alias(text_col))
                       .where(F.length(text_col) > 0))

        if paragraph_dedup_sep is not None:
            out = cut_in(out)
            span = paragraph_dedup(out, id_col, text_col,
                                   sep=paragraph_dedup_sep)
            out = note("paragraph_dedup",
                       span.select(id_col, F.col("deduped").alias(text_col))
                       .where(F.length(text_col) > 0))

        if span_dedup_n is not None:
            out = cut_in(out)
            span2 = duplicate_span_removal(out, id_col, text_col,
                                           n=span_dedup_n)
            out = note("span_dedup",
                       span2.select(id_col, F.col("deduped").alias(text_col))
                       .where(F.length(text_col) > 0))

        if exact_dedup:
            # keep one representative (min id) per identical normalized text
            out = cut_in(out)
            w_fp = out.withColumn("__fp", fingerprint(F.col(text_col)))
            keep = (w_fp.groupBy("__fp")
                    .agg(F.min(id_col).alias(id_col)).select(id_col))
            out = note("exact_dedup",
                       out.join(keep, id_col, "left_semi"))

        if near_dedup:
            out = cut_in(out)
            pairs = minhash_lsh_pairs(out, id_col, text_col,
                                      threshold=near_dup_threshold)
            out = note("near_dedup", deduplicate_near(out, id_col, pairs))

        if embeddings is not None:
            emb_id, emb_vec = embedding_cols
            # restrict the (costlier) embedding pass to lexical survivors
            out = cut_in(out)
            surv = embeddings.join(
                out.select(F.col(id_col).alias(emb_id)), emb_id, "left_semi")
            kept = semantic_deduplicate(surv, emb_id, emb_vec,
                                        threshold=semantic_threshold,
                                        n_clusters=semantic_clusters)
            # drop the LOSERS rather than keep the winners: documents with
            # no embedding row cannot be judged and must pass through
            losers = (surv.select(emb_id)
                      .join(kept.select(emb_id), emb_id, "left_anti"))
            out = note("semantic_dedup", out.join(
                losers.select(F.col(emb_id).alias(id_col)),
                id_col, "left_anti"))

        if benchmark is not None:
            out = cut_in(out)
            clean, _contaminated = decontaminate(
                out, id_col, text_col, benchmark, bench_text_col,
                n=decontaminate_ngram)
            out = note("decontaminate", clean)

        if benchmark_embeddings is not None:
            if embeddings is None:
                raise ValueError(
                    "benchmark_embeddings requires `embeddings` (the corpus "
                    "side's embedding table)")
            from .similarity import semantic_decontaminate
            emb_id, emb_vec = embedding_cols
            out = cut_in(out)
            surv = embeddings.join(
                out.select(F.col(id_col).alias(emb_id)), emb_id, "left_semi")
            _c, contam = semantic_decontaminate(
                surv, emb_id, emb_vec, benchmark_embeddings,
                bench_embedding_cols[1],
                threshold=semantic_decon_threshold)
            # drop flagged ids; unembedded docs are unjudgeable → pass
            out = note("semantic_decontaminate", out.join(
                contam.select(F.col(emb_id).alias(id_col)), id_col,
                "left_anti"))

        if lm_filter_quantile is not None:
            if not 0.0 < lm_filter_quantile <= 1.0:
                raise ValueError("lm_filter_quantile must be in (0, 1]")
            out = cut_in(out)
            model = char_trigram_model(out, text_col)
            scored = lm_quality_score(out, id_col, text_col, model)
            # exact quantile of the (per-doc, small) score column; docs too
            # short to score pass the gate (nothing to judge)
            cut = scored.agg(F.expr(
                f"percentile(cross_entropy, {lm_filter_quantile})")
            ).collect()[0][0]
            out = note("lm_filter", scored.where(
                F.col("cross_entropy").isNull()
                | (F.col("cross_entropy") <= F.lit(cut)))
                .select(id_col, text_col))

        if dsir_target is not None:
            if dsir_k is None:
                raise ValueError("dsir_k is required with dsir_target")
            from .packing import importance_sample
            out = cut_in(out)
            out = note("dsir", importance_sample(
                out, id_col, text_col, dsir_target, k=dsir_k,
                temperature=dsir_temperature)
                .select(id_col, text_col))

        if sample_fraction is not None:
            out = note("sample", hash_sample(out, id_col, sample_fraction))

        if pack_budget is not None:
            out = note("packs", pack_sequences(
                out, id_col, token_count_whitespace(F.col(text_col)),
                budget=pack_budget))
        elif chunk:
            out = note("chunks", chunk_text(out, id_col, text_col,
                                            chunk_tokens=chunk_tokens,
                                            overlap=chunk_overlap))
        # contract: the RETURNED frame is materialized (localCheckpoint-ed)
        # whenever any transform ran — callers re-read it freely without
        # recomputing the chain. The eager final cut forces every pending
        # lazy cut in the chain to materialize; the scope then frees the
        # superseded cuts and the stages' checkpoints — executor storage
        # ends the call holding ONE corpus copy, the returned frame.
        out = cut_in(out, eager=True)
        return s.keep(out), stats
