"""Text analysis operators: language-ID heuristic, quality scoring, token
counting, document fingerprinting — all single-pass column expressions.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence, Tuple

import pandas  # noqa: F401 — pandas_udf type hints resolve at module scope
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import storage

# marker stopwords per language for the n-gram-free heuristic; chosen to be
# expressible as one word-boundary regex per language in both Spark and
# ANSI SQL engines
LANGUAGE_MARKERS: Dict[str, str] = {
    "de": r"\b(der|die|das|und|ist|nicht|mit|ein|eine)\b",
    "en": r"\b(the|and|of|to|is|in|that|it|for)\b",
    "es": r"\b(el|la|los|las|de|que|y|en|es|un|una)\b",
    "fr": r"\b(le|la|les|et|de|des|que|est|un|une)\b",
    "zh": r"[一-鿿]",
}


# Character n-gram profiles for 20 languages — the Cavnar–Trenkle-style
# "top n-grams" idea reduced to literal arrays of each language's most
# frequent character sequences (public corpus frequency knowledge; mixed
# lengths — CJK/Hangul single characters count as 1-grams). Scoring uses
# only length/replace arithmetic, so any ANSI-SQL engine replays it
# bit-for-bit: count(t) = (len(x) − len(replace(x, t, ''))) / len(t).
TRIGRAM_PROFILES: Dict[str, List[str]] = {
    "en": ["the", "he ", " th", "ing", "and", " an", "nd ", " of", "of ", "ed "],
    "de": ["er ", "en ", "ch ", "der", " de", "ie ", "ein", "sch", "die", "und"],
    "es": [" de", "de ", "os ", " la", "la ", "ión", "ar ", "es ", " es", "que"],
    "fr": [" de", "es ", "de ", "le ", " le", "ent", "la ", " la", "ait", "oir"],
    "it": [" di", "re ", "la ", "to ", " co", "che", " ch", "no ", "di ", "ion"],
    "pt": [" de", "de ", "os ", " co", "ão ", "ção", "da ", " da", "ar ", "em "],
    "nl": ["en ", "de ", " de", "an ", "er ", " ve", "van", "het", " he", "aar"],
    "sv": ["en ", "et ", "ar ", " oc", "och", "ch ", "för", " fö", "att", " at"],
    "da": ["er ", "en ", " og", "og ", "det", " de", "at ", " at", "ger", "til"],
    "fi": ["en ", "in ", " on", "on ", "ssa", "aan", "än ", "tä ", "sta", "lla"],
    "pl": ["ie ", "nie", " ni", "na ", " na", "ego", " po", "ch ", "em ", "rze"],
    "cs": [" po", "ou ", " na", "na ", "ní ", "se ", " se", "je ", " je", "ho "],
    "hu": [" az", "az ", " me", "gy ", "egy", "ek ", "et ", "tt ", " el", "en "],
    "tr": ["lar", "an ", "ın ", " bi", "bir", "ir ", "da ", "de ", " ka", "en "],
    "ro": ["ă", "ș", "ț", " în", "în ", "ul ", "ii ", " de", "de ", "are"],
    "ru": [" по", "го ", " на", "на ", "ть ", "ого", " пр", "ние", "ет ", "ов "],
    "ar": ["ال", " ال", "في", " في", " من", "ة ", "ين", "ان", "ها", "ات"],
    "zh": ["的", "是", "在", "一", "了", "我", "很", "有", "大", "不"],
    "ja": ["の", "に", "は", "を", "た", "が", "する", "した", "です", "って"],
    "ko": ["의", "이", "는", "을", "가", "하", "에 ", "다", "고 ", "한"],
}


def _padded_lower(text: Column) -> Column:
    """' ' || lower(text) || ' ' so word-boundary n-grams match at the
    edges — same padding the SQL oracle applies."""
    return F.concat(F.lit(" "), F.lower(text), F.lit(" "))


def trigram_score(text: Column, lang: str) -> Column:
    """Occurrences of every profile n-gram of ``lang`` in the padded
    lowered text — pure length/replace arithmetic (no regex), identical
    in Spark and any ANSI-SQL oracle."""
    padded = _padded_lower(text)
    score: Optional[Column] = None
    for t in TRIGRAM_PROFILES[lang]:
        cnt = (F.length(padded) - F.length(F.replace(padded, F.lit(t)))) \
            / F.lit(len(t))
        score = cnt if score is None else score + cnt
    return score


def _argmax_lang(scores: Dict[str, Column]) -> Column:
    """Argmax with alphabetical tie-break and ``unknown`` at score 0, as
    ONE ``array_max`` over (score, −rank, lang) structs — each score
    expression appears exactly once in the plan. (A chained
    when/otherwise argmax embeds every previous score twice per step:
    exponential expression growth that OOMs codegen around ~20 branches.)
    """
    entries = [F.struct(scores[lang].alias("s"),
                        F.lit(-i).alias("r"),      # earlier lang wins ties
                        F.lit(lang).alias("l"))
               for i, lang in enumerate(sorted(scores))]
    best = F.array_max(F.array(*entries))
    return F.when(best["s"] > 0, best["l"]).otherwise(F.lit("unknown"))


def language_id_trigrams(df: DataFrame, text_col: str,
                         output_col: str = "lang_pred") -> DataFrame:
    """20-language ID by char-n-gram profile scoring: argmax of
    :func:`trigram_score` with alphabetical tie-break, ``unknown`` when no
    profile matches at all. One projection, whole-stage codegen — no UDF,
    no shuffle; at 100 TB this is a map-only pass."""
    scores = {lang: trigram_score(F.col(text_col), lang)
              for lang in TRIGRAM_PROFILES}
    return df.withColumn(output_col, _argmax_lang(scores))


def token_count_whitespace(text: Column) -> Column:
    """Whitespace tokens (empty strings dropped)."""
    return F.size(F.filter(F.split(text, r"\s+"), lambda t: t != ""))


def token_count_regex(text: Column, pattern: str = r"\w+|[^\w\s]") -> Column:
    """BPE-ish pre-tokenizer count: words plus standalone punctuation."""
    return F.regexp_count(text, F.lit(pattern))


def char_trigrams(text: Column) -> Column:
    """Array of lowercase character trigrams (positions 1..len-2) —
    expression-only (transform over a position sequence)."""
    low = F.lower(text)
    n = F.length(low)
    return F.when(n >= 3, F.transform(
        F.sequence(F.lit(1), n - 2),
        lambda i: F.substring(low, i, 3))).otherwise(
        F.array().cast("array<string>"))


def char_trigram_model(df: DataFrame, text_col: str) -> DataFrame:
    """Add-one-smoothed character-trigram frequency model over a corpus
    (CCNet-style: train on the corpus you trust, score candidates):
    one explode + one groupBy → ``(trigram, log_prob)`` where
    ``log_prob = ln((count + 1) / (total + vocab))``.

    The model is BOUNDED by the charset (|charset|³ worst case, tens of
    thousands of rows on real text) — it broadcasts, which is what makes
    scoring at 100 TB a map-side join."""
    tris = df.select(F.explode(char_trigrams(F.col(text_col)))
                     .alias("trigram"))
    counts = tris.groupBy("trigram").agg(F.count(F.lit(1)).alias("c"))
    tot = counts.agg(F.sum("c").alias("total"),
                     F.count(F.lit(1)).alias("vocab")).collect()[0]
    total, vocab = tot["total"] or 0, tot["vocab"] or 0
    return counts.select(
        "trigram",
        F.log((F.col("c") + 1) / F.lit(float(total + vocab)))
        .alias("log_prob")).withColumn(
            "unseen_log_prob",
            F.log(F.lit(1.0 / (total + vocab))))


def lm_quality_score(df: DataFrame, id_col: str, text_col: str,
                     model: DataFrame) -> DataFrame:
    """Cross-entropy of each document under a ``char_trigram_model`` —
    the standard perplexity-proxy quality filter for LLM training
    corpora (gibberish / boilerplate / wrong-language text scores high;
    fluent text near the corpus distribution scores low).

    Plan: explode doc trigrams → BROADCAST join the (small) model →
    per-doc avg with map-side partial aggregation. Linear in corpus
    characters, no Python in the hot path; docs shorter than 3 chars
    get a NULL score (no trigrams to judge)."""
    from pyspark.sql.functions import broadcast
    unseen = model.select("unseen_log_prob").first()["unseen_log_prob"]
    tris = df.select(F.col(id_col).alias("__id"),
                     F.explode(char_trigrams(F.col(text_col)))
                     .alias("trigram"))
    scored = (tris.join(broadcast(model.select("trigram", "log_prob")),
                        "trigram", "left")
              .select("__id", F.coalesce("log_prob",
                                         F.lit(unseen)).alias("lp")))
    per_doc = scored.groupBy("__id").agg(
        (-F.avg("lp")).alias("cross_entropy"),
        F.count(F.lit(1)).alias("n_trigrams"))
    return (df.join(per_doc, df[id_col] == per_doc["__id"], "left")
            .drop("__id"))


def language_id(df: DataFrame, text_col: str,
                output_col: str = "lang_pred") -> DataFrame:
    """Deterministic marker-count argmax with alphabetical tie-break."""
    counts = {lang: F.regexp_count(F.col(text_col), F.lit(pat))
              for lang, pat in LANGUAGE_MARKERS.items()}
    return df.withColumn(output_col, _argmax_lang(counts))


def text_quality(df: DataFrame, text_col: str) -> DataFrame:
    """Quality-signal columns: length, token counts, punctuation ratio,
    stopword ratio, mean token length, distinct-token ratio — one
    projection, no UDFs."""
    text = F.col(text_col)
    toks = F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")
    n_tokens = F.size(toks)
    n_chars = F.length(text)
    n_punct = F.regexp_count(text, F.lit(r"[^\w\s]"))
    n_stop = F.regexp_count(F.lower(text), F.lit(LANGUAGE_MARKERS["en"]))
    distinct_ratio = (F.size(F.array_distinct(toks)) /
                      F.greatest(n_tokens, F.lit(1)))
    mean_token_len = ((n_chars - (n_tokens - 1)) /
                      F.greatest(n_tokens, F.lit(1)))
    return (df
            .withColumn("q_n_chars", n_chars)
            .withColumn("q_n_tokens", n_tokens)
            .withColumn("q_punct_ratio",
                        n_punct / F.greatest(n_chars, F.lit(1)))
            .withColumn("q_stopword_ratio",
                        n_stop / F.greatest(n_tokens, F.lit(1)))
            .withColumn("q_mean_token_len", mean_token_len)
            .withColumn("q_distinct_ratio", distinct_ratio))


def readability_scores(df: DataFrame, text_col: str) -> DataFrame:
    """Flesch reading ease + Flesch-Kincaid grade level as pure
    expressions — the classic educational-value signals (Flesch 1948;
    Kincaid et al. 1975) that curation pipelines bucket corpora by.
    Syllables use the standard automatable proxy: VOWEL GROUPS
    (``[aeiouy]+`` runs, lowercased) — the convention every readability
    library uses when no pronunciation dictionary ships with the job,
    off by a near-constant factor that the formula's calibration
    absorbs. Sentences = runs ending in ``.!?`` (min 1); words =
    whitespace tokens (min 1). One projection, no shuffle, no UDF:

    - ``r_words``, ``r_sentences``, ``r_syllables`` — the raw counts
    - ``r_flesch`` = 206.835 − 1.015·(words/sentences)
      − 84.6·(syllables/words)
    - ``r_fk_grade`` = 0.39·(words/sentences)
      + 11.8·(syllables/words) − 15.59
    """
    text = F.col(text_col)
    words = F.greatest(
        F.size(F.filter(F.split(text, r"\s+"), lambda t: t != "")),
        F.lit(1)).cast("double")
    sentences = F.greatest(
        F.regexp_count(text, F.lit(r"[.!?]+")), F.lit(1)).cast("double")
    syllables = F.greatest(
        F.regexp_count(F.lower(text), F.lit(r"[aeiouy]+")),
        F.lit(1)).cast("double")
    return (df
            .withColumn("r_words", words.cast("long"))
            .withColumn("r_sentences", sentences.cast("long"))
            .withColumn("r_syllables", syllables.cast("long"))
            .withColumn("r_flesch",
                        F.lit(206.835) - F.lit(1.015) * words / sentences
                        - F.lit(84.6) * syllables / words)
            .withColumn("r_fk_grade",
                        F.lit(0.39) * words / sentences
                        + F.lit(11.8) * syllables / words
                        - F.lit(15.59)))


# PII patterns for training-data scrubbing — ordered so that broader
# patterns (email, card) are redacted before their substrings could match
# narrower ones; every pattern is valid in both Java regex and RE2, so
# DuckDB oracles replay them verbatim
PII_PATTERNS: "Dict[str, str]" = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "credit_card": r"\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    "phone": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}


def pii_counts(df: DataFrame, text_col: str,
               kinds: Optional[Sequence[str]] = None,
               prefix: str = "pii_") -> DataFrame:
    """One count column per PII kind (``pii_email``, ``pii_ssn``, …) in a
    single projection — regexp_count stays JVM-side, no shuffle."""
    out = df
    for kind in (kinds or PII_PATTERNS):
        out = out.withColumn(prefix + kind,
                             F.regexp_count(F.col(text_col),
                                            F.lit(PII_PATTERNS[kind])))
    return out


def redact_pii(text: Column, replacement: str = "[PII]",
               kinds: Optional[Sequence[str]] = None) -> Column:
    """Replace every PII match with ``replacement`` — a chained
    regexp_replace projection (Spark replaces globally by default; a
    DuckDB oracle needs the 'g' flag). Order follows PII_PATTERNS so
    emails/cards are consumed before their digit-substrings can match
    narrower patterns."""
    out = text
    for kind in (kinds or PII_PATTERNS):
        out = F.regexp_replace(out, F.lit(PII_PATTERNS[kind]),
                               F.lit(replacement))
    return out


def fingerprint(text: Column, normalize: bool = True) -> Column:
    """64-bit content fingerprint (xxhash64 of the normalized text) —
    the exact-dedup key at scale (hash-groupBy instead of comparing
    full documents)."""
    norm = text
    if normalize:
        norm = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    return F.xxhash64(norm)


# Gopher-style document quality rules (public heuristics from "Scaling
# Language Models: Methods, Analysis & Insights from Training Gopher",
# Rae et al. 2021, §A1.1). Thresholds are the published defaults; every
# rule is a pure column expression (split/filter/aggregate + one regexp
# per rule), so the whole filter set is a map-only projection and any
# ANSI-SQL engine can replay it.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality_flags(df: DataFrame, text_col: str,
                         min_words: int = 50, max_words: int = 100_000,
                         min_mean_word_len: float = 3.0,
                         max_mean_word_len: float = 10.0,
                         max_symbol_word_ratio: float = 0.1,
                         max_bullet_line_ratio: float = 0.9,
                         max_ellipsis_line_ratio: float = 0.3,
                         min_alpha_word_ratio: float = 0.8,
                         min_stopword_hits: int = 2,
                         max_dup_line_ratio: float = 0.3,
                         prefix: str = "gq_") -> DataFrame:
    """One boolean column per Gopher quality rule plus ``gq_keep`` (the
    conjunction). NULL text fails every rule (NULL-in → not kept)."""
    text = F.col(text_col)
    words = F.filter(F.split(text, r"\s+"), lambda w: w != "")
    n_words = F.size(words)
    safe_n = F.greatest(n_words, F.lit(1))
    mean_word_len = (F.aggregate(words, F.lit(0).cast("long"),
                                 lambda acc, w: acc + F.length(w))
                     / safe_n)
    # "contains a letter" as a single-pass char translate instead of a
    # per-word regex Matcher (r12 guide §1.2 per-task work: measured
    # 0.25 -> 0.21 s on the sf0.1 corpus, value-identical — translate
    # deletes every ASCII letter, so length drops iff >= 1 matched)
    _letters = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
    alpha_ratio = (F.size(F.filter(
        words, lambda w: F.length(F.translate(w, _letters, "")) < F.length(w)))
        / safe_n)
    # distinct-stopword hits via ONE lowered split + array_intersect —
    # the previous filter-over-stopword-array form re-evaluated
    # split(lower(text)) INSIDE the lambda, once per stopword (8 full
    # splits/row; subexpression elimination does not hoist into HOF
    # lambda bodies). Measured 0.42 -> 0.10 s on the sf0.1 corpus,
    # value-identical (only the size of the intersection is used; the
    # NULL-text guard pins the old filter semantics of "0 hits")
    stop_hits = F.when(text.isNull(), F.lit(0)).otherwise(
        F.size(F.array_intersect(
            F.split(F.lower(text), r"\s+"),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]))))
    # '#' and ellipsis occurrences per word (symbol-to-word ratio)
    n_symbols = (F.regexp_count(text, F.lit("#"))
                 + F.regexp_count(text, F.lit(r"\.\.\.|…")))
    lines = F.split(text, "\n")
    n_lines = F.greatest(F.size(lines), F.lit(1))
    bullet_ratio = (F.size(F.filter(
        lines, lambda l: l.rlike(r"^\s*[-*•]"))) / n_lines)
    ellipsis_ratio = (F.size(F.filter(
        lines, lambda l: l.rlike(r"(\.\.\.|…)\s*$"))) / n_lines)
    dup_line_ratio = (F.lit(1.0)
                      - F.size(F.array_distinct(lines)) / n_lines)

    flags = {
        "word_count": (n_words >= min_words) & (n_words <= max_words),
        "mean_word_len": ((mean_word_len >= min_mean_word_len)
                          & (mean_word_len <= max_mean_word_len)),
        "symbol_ratio": (n_symbols / safe_n) <= max_symbol_word_ratio,
        "bullet_lines": bullet_ratio <= max_bullet_line_ratio,
        "ellipsis_lines": ellipsis_ratio <= max_ellipsis_line_ratio,
        "alpha_words": alpha_ratio >= min_alpha_word_ratio,
        "stopwords": stop_hits >= min_stopword_hits,
        "dup_lines": dup_line_ratio <= max_dup_line_ratio,
    }
    out = df
    keep = F.lit(True)
    for name, cond in flags.items():
        cond = F.coalesce(cond, F.lit(False))   # NULL text fails the rule
        out = out.withColumn(prefix + name, cond)
        keep = keep & cond
    return out.withColumn(prefix + "keep", keep)


C4_POLICY_RE = (r"(?i)(terms of use|terms of service|privacy policy|"
                r"cookie policy|uses cookies|use of cookies)")


def c4_line_clean(df: DataFrame, text_col: str,
                  min_words_per_line: int = 5,
                  require_terminal_punct: bool = True,
                  policy_re: str = C4_POLICY_RE,
                  output_col: Optional[str] = None) -> DataFrame:
    """C4-style LINE filtering (Raffel et al. 2020 §2.2, arXiv:
    1910.10683): keep only lines that end in terminal punctuation
    (``.!?"'``), have at least ``min_words_per_line`` words, do not
    mention javascript (the "enable javascript" boilerplate), and do
    not match the cookie/policy notice patterns. Complements the
    page-level Gopher rules — C4 cleans inside pages, Gopher drops
    whole pages.

    Adds ``<text_col>_c4`` (or ``output_col``) plus
    ``c4_lines_kept`` / ``c4_lines_removed``. Pure array expressions —
    split, filter, join — map-only and whole-stage-codegen'd."""
    out_col = output_col or f"{text_col}_c4"
    lines = F.split(F.col(text_col), "\n")

    def keep_line(ln):
        t = F.trim(ln)
        ok = F.size(F.filter(F.split(t, r"\s+"), lambda w: w != "")) \
            >= min_words_per_line
        if require_terminal_punct:
            ok = ok & t.rlike(r"""[.!?"']$""")
        ok = ok & ~F.lower(t).contains("javascript")
        ok = ok & ~t.rlike(policy_re)
        return ok

    kept = F.filter(lines, keep_line)
    is_null = F.col(text_col).isNull()
    null_int = F.lit(None).cast("int")
    # size(NULL) is -1 in non-ANSI contexts — NULL text must yield NULL
    # stats, never negative line counts that skew downstream sums
    return (df.withColumn(out_col,
                          F.when(is_null, F.lit(None))
                          .otherwise(F.array_join(kept, "\n")))
            .withColumn("c4_lines_kept",
                        F.when(is_null, null_int).otherwise(F.size(kept)))
            .withColumn("c4_lines_removed",
                        F.when(is_null, null_int)
                        .otherwise(F.size(lines) - F.size(kept))))


def c4_page_flags(df: DataFrame, text_col: str,
                  prefix: str = "c4_") -> DataFrame:
    """C4-style PAGE drop rules as boolean flags (+ conjunction
    ``<prefix>keep``): no "lorem ipsum" placeholder text, no curly brace
    (source code leaked into prose). NULL text fails every rule."""
    t = F.lower(F.col(text_col))
    flags = {
        "no_lorem_ipsum": ~t.contains("lorem ipsum"),
        "no_curly_brace": ~t.contains("{"),
    }
    out = df
    keep = F.lit(True)
    for name, cond in flags.items():
        cond = F.coalesce(cond, F.lit(False))
        out = out.withColumn(prefix + name, cond)
        keep = keep & cond
    return out.withColumn(prefix + "keep", keep)


def top_ngram_char_fraction(text: Column, n: int = 2) -> Column:
    """Fraction of document characters covered by occurrences of the most
    frequent word n-gram — Gopher's repetition signal (rule: fraction ≤
    threshold for n=2..4). Pure expressions: shingle → array_sort → ONE
    fold tracking the longest equal-run (struct accumulator), so the most
    frequent shingle of a sorted array falls out without any shuffle; on
    count ties the lexicographically smallest shingle wins (sorted order).
    Returns 0.0 for docs with no n-grams; NULL for NULL text.
    """
    from .dedup import word_ngrams

    sh = F.array_sort(word_ngrams(text, n))
    init = F.struct(F.lit("").alias("prev"),
                    F.lit(0).cast("long").alias("run"),
                    F.lit("").alias("best"),
                    F.lit(0).cast("long").alias("best_run"))

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long"))
        better = run > acc["best_run"]
        return F.struct(
            x.alias("prev"), run.alias("run"),
            F.when(better, x).otherwise(acc["best"]).alias("best"),
            F.when(better, run).otherwise(acc["best_run"]).alias("best_run"))

    folded = F.aggregate(sh, init, step)
    covered = folded["best_run"] * F.length(folded["best"])
    # explicit NULL guard: for NULL text the shingle array is NULL, so
    # size(sh) > 0 is NULL and the when() would fall through to 0.0
    return (F.when(text.isNull(), F.lit(None).cast("double"))
            .when(F.size(sh) > 0,
                  covered / F.greatest(F.length(text), F.lit(1)))
            .otherwise(F.lit(0.0)))


def chunk_text(df: DataFrame, id_col: str, text_col: str,
               chunk_tokens: int = 512, overlap: int = 64,
               chunk_id_col: str = "chunk_id",
               chunk_col: str = "chunk") -> DataFrame:
    """Split documents into fixed-size token windows with overlap — the
    standard training-data chunking step. Returns one row per chunk:
    (id, chunk_id, chunk, n_chunk_tokens).

    Pure expressions: tokenize once, build the window-start sequence, and
    ``posexplode`` the slices — a map-only pass (the explode multiplies
    rows but moves no data across the cluster). Stride = chunk_tokens −
    overlap; the last window keeps the tail (may be shorter); documents
    with no tokens produce no rows (NULL text included).
    """
    if overlap >= chunk_tokens:
        raise ValueError("chunk_text: overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
    n = F.size(toks)
    # windows: 0, stride, 2*stride, … — only starts that contribute NEW
    # tokens (a window whose span is entirely inside the previous one's
    # overlap is redundant): ceil((n − overlap)/stride), min 1 for
    # non-empty docs; integer ceil division, no floats
    n_windows = F.greatest(
        ((n - F.lit(overlap) + F.lit(stride - 1)).cast("long")
         / F.lit(stride)).cast("long"),
        F.lit(1).cast("long"))
    starts = F.sequence(F.lit(0).cast("long"), n_windows - 1)
    chunks = F.transform(
        starts,
        lambda i: F.struct(
            i.alias("cid"),
            F.array_join(F.slice(toks, i * stride + 1, chunk_tokens),
                         " ").alias("txt"),
            F.least(n - i * stride, F.lit(chunk_tokens)).alias("ntok")))
    exploded = (df.where(n > 0)
                .select(F.col(id_col),
                        F.explode(chunks).alias("c"))
                .select(F.col(id_col),
                        F.col("c.cid").alias(chunk_id_col),
                        F.col("c.txt").alias(chunk_col),
                        F.col("c.ntok").alias("n_chunk_tokens")))
    # drop pure-overlap tail windows that start past the end (possible
    # when n <= overlap of the previous window never happens with ceil
    # division, but keep the guard cheap and explicit)
    return exploded.where(F.col("n_chunk_tokens") > 0)


def remove_boilerplate_lines(df: DataFrame, id_col: str, text_col: str,
                             min_docs: int = 10,
                             min_line_chars: int = 4,
                             cleaned_col: str = "cleaned",
                             local_max_lines: Optional[int] = None
                             ) -> DataFrame:
    """Corpus-level boilerplate removal: a line occurring in at least
    ``min_docs`` DISTINCT documents (headers, nav bars, terms-of-service
    blocks) is deleted from every document. Returns the input plus
    ``cleaned`` (the text with boilerplate lines removed, line order
    preserved) and ``n_removed_lines``.

    Scale plan: explode lines → one groupBy(line) with a distinct-doc
    count (map-side partial aggregation) → that boilerplate set is
    almost always TINY (real corpora have thousands of boilerplate
    lines, not millions), so the default rebuild is a map-only
    per-row ``filter`` of each document's line array against the set,
    delivered executor-side through a scalar subquery — no second
    explode, no corpus-wide reassembly shuffle, no join back (r12
    wave 3: the join rebuild re-shuffled EVERY line of the corpus
    through a groupBy(id) just to reassemble text the filter form
    rewrites in place; measured 2x on the rebuild leg at sf0.1
    — 0.88 s -> 0.44 s median, tools/profile_wave3_r12.py — and the
    plan drops from 3 scans + 2 joins + 5 exchanges to 1 scan + 1
    project, value-identical). When the set exceeds ``local_max_lines``
    (argument, or ``spark.deequ.text.boilerplateLocalMaxLines``,
    default 4096 — a per-line linear array scan stops being sane), the
    original join path runs instead: anti-join the exploded lines,
    groupBy(id) reassembly, join back — unbounded but heavier. Both
    paths: lines shorter than ``min_line_chars`` are never treated as
    boilerplate (blank lines and separators stay); deciding the path
    costs one bounded ``limit(n+1)`` count on the (checkpointed)
    boilerplate set, never an unbounded collect.

    NOTE this default gate makes the call EAGER: two Spark jobs (the
    boilerplate-set localCheckpoint and the gate count) run at CALL
    time, not at the caller's first action — callers that need a fully
    lazy transformation (building plans before data exists, streaming
    frames) must pass ``local_max_lines=0``, which restores the
    original all-lazy join rebuild."""
    spark = df.sparkSession
    lines = (df.select(F.col(id_col).alias("__bid"),
                       F.posexplode(F.split(F.col(text_col), "\n"))
                       .alias("__pos", "__line")))
    boiler = (lines
              .where(F.length(F.trim(F.col("__line"))) >= min_line_chars)
              .groupBy("__line")
              .agg(F.countDistinct("__bid").alias("__docs"))
              .where(F.col("__docs") >= min_docs)
              .select("__line"))
    if local_max_lines is None:
        local_max_lines = int(spark.conf.get(
            "spark.deequ.text.boilerplateLocalMaxLines", "4096"))
    if local_max_lines > 0:
        # one pass computes the set either way; checkpoint so the gate
        # probe and the chosen rebuild both read the materialized rows.
        # The returned plan reads it, so it is kept: an enclosing
        # storage scope frees it, else the ContextCleaner
        with storage.scope() as s:
            boiler = s.keep(s.checkpoint(boiler, eager=True))
        if boiler.limit(local_max_lines + 1).count() <= local_max_lines:
            import uuid
            uid = uuid.uuid4().hex[:12]
            view = f"deequ_boiler_{uid}"
            # uniquified temp column: a plain "__blset" would silently
            # overwrite (and then drop) a caller's same-named column
            tmp = f"__blset_{uid}"
            boiler.createOrReplaceTempView(view)
            # the set reaches every row ONCE via a scalar subquery (a
            # literal array would plan as a CreateArray with one child
            # per line); subqueries cannot appear inside HOF lambdas,
            # so it lands in its own projected column first
            blines = F.expr(
                f"(SELECT coalesce(collect_list(__line), array()) "
                f"FROM {view})")
            parts = F.split(F.col(text_col), "\n")
            kept_arr = F.filter(
                parts, lambda l: ~F.array_contains(F.col(tmp), l))
            out = (df.withColumn(tmp, blines)
                   .withColumn(cleaned_col,
                               F.coalesce(F.array_join(kept_arr, "\n"),
                                          F.lit("")))
                   .withColumn("n_removed_lines",
                               F.coalesce(
                                   (F.size(parts) - F.size(kept_arr))
                                   .cast("long"),
                                   F.lit(0).cast("long")))
                   .drop(tmp))
            spark.catalog.dropTempView(view)
            return out
    kept = lines.join(boiler, "__line", "left_anti")
    removed = (lines.join(boiler, "__line", "left_semi")
               .groupBy("__bid").agg(F.count(F.lit(1)).alias("__nrm")))
    rebuilt = (kept.groupBy("__bid")
               .agg(F.array_join(
                   F.transform(
                       F.array_sort(F.collect_list(
                           F.struct(F.col("__pos"), F.col("__line")))),
                       lambda s: s["__line"]),
                   "\n").alias(cleaned_col)))
    out = (df.join(rebuilt, df[id_col] == rebuilt["__bid"], "left")
           .drop("__bid")
           .join(removed, df[id_col] == removed["__bid"], "left")
           .drop("__bid"))
    return (out
            .withColumn(cleaned_col, F.coalesce(F.col(cleaned_col),
                                                F.lit("")))
            .withColumn("n_removed_lines",
                        F.coalesce(F.col("__nrm"), F.lit(0).cast("long")))
            .drop("__nrm"))


def paragraph_dedup(df: DataFrame, id_col: str, text_col: str,
                    sep: str = "\n\n", min_chars: int = 1,
                    out_col: str = "deduped") -> DataFrame:
    """Corpus-level duplicate-span removal with KEEP-FIRST semantics —
    the C4 repeated-span / RefinedWeb duplicated-passage treatment:
    every paragraph that occurs more than once in the corpus keeps
    exactly its first occurrence (minimum ``(id, position)``) and every
    later occurrence is cut from its document. Complements
    ``remove_boilerplate_lines``, which deletes ALL occurrences of
    high-frequency lines; here even a twice-occurring passage loses its
    second copy but never its first.

    Returns the input plus ``out_col`` (the rebuilt text, paragraph
    order preserved), ``n_paragraphs`` and ``n_removed``.

    Scale plan: paragraphs explode to one row each; the winner per
    distinct paragraph is a hash-groupBy ``min(struct(id, pos))`` —
    map-side combinable, ONE shuffle, keyed on the paragraph text
    itself so the decision is EXACT (no hash-collision false merges;
    same cost class as exact_duplicates' value-keyed groupBy). The
    keep-decision joins back on the same key (AQE broadcasts the winner
    set when duplicates are rare) and reassembly is one groupBy(id)
    sorted fold. No corpus-wide window, no driver materialization.
    Paragraphs shorter than ``min_chars`` are never dedup candidates
    (blank separators survive). ``sep`` is treated LITERALLY on both
    sides (the split quotes it with \\Q…\\E), so a separator containing
    regex metacharacters (". ", "|", "***") splits and rejoins
    symmetrically."""
    parts = (df.select(F.col(id_col).alias("__pid"),
                       F.posexplode(F.split(F.col(text_col),
                                            "\\Q" + sep + "\\E"))
                       .alias("__pos", "__para")))
    winners = (parts
               .where(F.length("__para") >= min_chars)
               .groupBy("__para")
               .agg(F.min(F.struct(F.col("__pid"), F.col("__pos")))
                    .alias("__win")))
    marked = (parts.join(winners, "__para", "left")
              .withColumn("__keep",
                          F.col("__win").isNull()
                          | ((F.col("__win.__pid") == F.col("__pid"))
                             & (F.col("__win.__pos") == F.col("__pos")))))
    rebuilt = (marked.groupBy("__pid")
               .agg(F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.when(F.col("__keep"),
                                       F.struct(F.col("__pos"),
                                                F.col("__para"))))),
                            lambda s: s["__para"]),
                        sep).alias(out_col),
                    F.count(F.lit(1)).alias("n_paragraphs"),
                    F.sum((~F.col("__keep")).cast("long"))
                    .alias("n_removed")))
    return (df.join(rebuilt, df[id_col] == rebuilt["__pid"])
            .drop("__pid"))


def decontaminate(corpus: DataFrame, id_col: str, text_col: str,
                  benchmark: DataFrame, bench_text_col: str,
                  n: int = 13) -> Tuple[DataFrame, DataFrame]:
    """Benchmark decontamination: drop corpus documents sharing ANY word
    ``n``-gram with an evaluation/benchmark set — the standard 13-gram
    exact-collision rule used to keep test sets out of training corpora
    (GPT-3 appendix C / PaLM-style decontamination; public methodology).
    Returns ``(clean_corpus, contaminated_ids)``.

    Scale plan for a 100 TB corpus vs a small benchmark: the benchmark's
    distinct n-gram set is tiny (eval sets are MBs), so it BROADCASTS —
    the corpus side is one map-only explode followed by a broadcast
    semi-join (no corpus shuffle), then one id anti-join. Normalization
    (lowercase, whitespace collapse) is applied on both sides so cosmetic
    edits don't defeat the filter."""
    from .dedup import word_shingles

    def norm_grams(col):
        return word_shingles(
            F.regexp_replace(F.lower(F.trim(col)), r"\s+", " "), n)

    bench_grams = (benchmark
                   .select(F.explode(norm_grams(F.col(bench_text_col)))
                           .alias("__gram"))
                   .distinct())
    corpus_grams = (corpus.select(
        F.col(id_col), F.explode(norm_grams(F.col(text_col)))
        .alias("__gram")))
    contaminated = (corpus_grams
                    .join(F.broadcast(bench_grams), "__gram", "left_semi")
                    .select(id_col).distinct())
    clean = corpus.join(contaminated, id_col, "left_anti")
    return clean, contaminated


# ---------------------------------------------------------------------------
# Unicode hygiene: normalization + mojibake repair
# ---------------------------------------------------------------------------

# characters removed outright: C0/C1 controls except \t \n \r, DEL, and
# zero-width/joiner/BOM codepoints that survive scraping
CONTROL_CHAR_RE = ("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F"
                   "\u200B\u200C\u200D\uFEFF]")
# mojibake tell: UTF-8 multibyte lead bytes decoded as Latin-1/cp1252 —
# 'Ã'/'Â' followed by a continuation-range char (or its cp1252-remapped
# equivalent), or the 'â€¦'-family three-byte shapes
MOJIBAKE_MARKER_RE = ("(\u00C3[\u0080-\u00BF\u0152\u0153\u0160\u0161"
                      "\u0178\u017D\u017E\u0192\u02C6\u02DC\u2013-\u2122]"
                      "|\u00C2[\u0080-\u00BF]|\u00E2\u20AC.)")


def mojibake_marker_count(text: Column) -> Column:
    """Count of mojibake marker hits — expression-only, usable as a
    corpus-quality metric without running the (Python) repair."""
    return F.when(text.isNull(), None).otherwise(
        F.coalesce(F.regexp_count(text, F.lit(MOJIBAKE_MARKER_RE)),
                   F.lit(0)))


def _repair_mojibake_str(s: str, marker_re) -> str:
    """One cp1252/latin-1 → UTF-8 re-decode pass, accepted only when it
    strictly reduces marker count (never makes text worse). Doubly-encoded
    text repairs on the next call; normalize_text runs 2 fixed passes."""
    try:
        fixed = s.encode("cp1252", errors="strict").decode("utf-8",
                                                           errors="strict")
    except (UnicodeEncodeError, UnicodeDecodeError):
        try:
            fixed = s.encode("latin-1", errors="strict").decode(
                "utf-8", errors="strict")
        except (UnicodeEncodeError, UnicodeDecodeError):
            return s
    if len(marker_re.findall(fixed)) < len(marker_re.findall(s)):
        return fixed
    return s


def normalize_text(df: DataFrame, text_col: str, *,
                   form: str = "NFC",
                   fix_mojibake: bool = True,
                   strip_control: bool = True,
                   collapse_whitespace: bool = True,
                   output_col: Optional[str] = None) -> DataFrame:
    """Unicode hygiene for scraped text: mojibake repair → unicode
    normalization (NFC/NFKC/NFD/NFKD) → control/zero-width strip →
    whitespace collapse. Adds ``<text_col>_clean`` (or ``output_col``)
    plus ``mojibake_markers`` (pre-repair marker count, expression-side).

    Spark shape: everything except the unicode normalization itself is
    JVM expressions (regexp_replace / regexp_count, whole-stage codegen).
    Spark has no unicode-normalize builtin, so NFC + mojibake repair run
    in ONE Arrow-batched pandas UDF (``unicodedata.normalize`` is a
    C-level table lookup; this is a character-level op where the Python
    boundary is paid once per Arrow batch, not per row). Map-only — no
    shuffle at any size. ASCII fast path: pure-ASCII strings skip per-row
    Python work entirely (NFC/NFKC are identity on ASCII and mojibake
    markers are non-ASCII).
    """
    import re as _re
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")
    out = output_col or f"{text_col}_clean"
    marker_re = _re.compile(MOJIBAKE_MARKER_RE)

    @pandas_udf("string")
    def _nfc_repair(s: pandas.Series) -> pandas.Series:
        def one(x):
            if x is None:
                return None
            if x.isascii():            # NFC/NFKC identity, no markers
                return x
            if fix_mojibake and marker_re.search(x):
                x = _repair_mojibake_str(x, marker_re)
                x = _repair_mojibake_str(x, marker_re)  # doubly-encoded
            return unicodedata.normalize(form, x)
        return s.map(one)

    result = df.withColumn(
        "mojibake_markers", mojibake_marker_count(F.col(text_col))
        if fix_mojibake else F.lit(0))
    # control/zero-width strip runs BEFORE the repair UDF: a literal
    # zero-width (or other non-cp1252 char) embedded in otherwise
    # mojibaked text would make the whole-string cp1252 re-encode throw
    # and silently skip an otherwise clean repair
    cleaned = F.col(text_col)
    if strip_control:
        cleaned = F.regexp_replace(cleaned, CONTROL_CHAR_RE, "")
    cleaned = _nfc_repair(cleaned)
    if collapse_whitespace:
        # NBSP → space, runs of non-newline whitespace → one space,
        # trim around newlines; newlines themselves are structure — kept
        # NBSP handling and run-collapse fused into ONE regex scan
        # (r12: a maximal run of {non-newline whitespace, NBSP}
        # collapses to a single space either way — the old NBSP->space
        # pass only widened the run the collapse pass then ate)
        cleaned = F.regexp_replace(cleaned, "(?:[^\\S\\n]| )+", " ")
        cleaned = F.regexp_replace(cleaned, r" ?\n ?", "\n")
        cleaned = F.trim(cleaned)
    return result.withColumn(out, cleaned)


def ngram_novelty(df: DataFrame, id_col: str, text_col: str,
                  n: int = 3, max_gram_df: int = 10_000) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's
    distinct word n-grams that appear in NO other document — low
    novelty flags template/boilerplate-heavy text that per-doc
    repetition metrics miss (the repetition is ACROSS documents), and
    high duplication mass invisible to exact/near dedup thresholds.

    Plan: one explode of distinct shingles → one map-side-combined
    groupBy(gram) document-frequency count (``max_gram_df`` caps the
    count per gram — beyond 'shared' the exact df doesn't matter, so
    ANSI-safe and skew-bounded) → broadcast-eligible join back → per-doc
    ratio. Adds ``novel_grams``, ``total_grams``, ``novelty`` (NULL for
    docs with no n-grams).
    """
    from .dedup import word_shingles
    # blank docs yield [] shingles since r9 (no "" gram to guard
    # against); the filter stays as defense against grams that are
    # whitespace-only after tokenizer changes — it is a no-op today
    grams = df.select(F.col(id_col),
                      F.explode(F.filter(
                          word_shingles(F.col(text_col), n),
                          lambda g: F.length(F.trim(g)) > 0))
                      .alias("__g"))
    gram_df = (grams.groupBy("__g")
               .agg(F.least(F.count(F.lit(1)),
                            F.lit(max_gram_df)).alias("__df")))
    per_doc = (grams.join(gram_df, "__g")
               .groupBy(id_col)
               .agg(F.count(F.lit(1)).alias("total_grams"),
                    F.sum((F.col("__df") == 1).cast("long"))
                    .alias("novel_grams")))
    return (df.join(per_doc, id_col, "left")
            .withColumn("total_grams",
                        F.coalesce(F.col("total_grams"), F.lit(0)))
            .withColumn("novel_grams",
                        F.coalesce(F.col("novel_grams"), F.lit(0)))
            .withColumn("novelty",
                        F.when(F.col("total_grams") > 0,
                               F.col("novel_grams")
                               / F.col("total_grams"))))
