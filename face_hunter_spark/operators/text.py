"""Text-analysis operators for large-scale training-data pipelines:
language id, quality scoring, token counting, fingerprinting.

All pure built-in pyspark.sql.functions (whole-stage codegen; no
Python workers) so they survive a 100x scale-up — at 100 TB these run
inside the parquet scan stage with zero shuffle.

These extend the engine beyond the reference's operator set (which is
vision-centric); they operate on any string column, canonically the
``documents`` corpus text.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

# tiny per-language stopword lists for the n-gram/stopword heuristic
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "nicht", "ist", "ein", "zu", "mit"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "los"],
    "fr": ["le", "la", "les", "et", "des", "un", "une", "que", "pour"],
}
LANG_PRIORITY = ["en", "de", "es", "fr"]  # deterministic tie-break order


def tokens(col) -> Column:
    """Lowercased whitespace/punctuation tokenization (the BPE-ish
    regex split: words and digit runs)."""
    return F.filter(
        F.split(F.lower(col), r"[^a-z0-9]+"), lambda t: t != F.lit("")
    )


def _bind(expr: Column, fn) -> Column:
    """Evaluate ``expr`` ONCE per row and hand it to ``fn`` as a bound
    lambda variable.  A column captured in a HOF lambda closure is
    inlined by Catalyst and re-evaluated per array element — quadratic
    when the capture is itself array-valued (e.g. a tokenization
    referenced inside a per-index ``transform``).  Routing it through a
    single-element ``transform`` turns every use into a lambda-variable
    reference: one evaluation per row, O(1) per reference.  Measured
    22x on word-shingling at 54 tokens/doc (5.6s -> 0.25s, sf0.1)."""
    return F.element_at(F.transform(F.array(expr), fn), 1)


def token_count(col) -> Column:
    return F.size(tokens(col))


def _stopword_ratio_of(toks, lang: str) -> Column:
    hits = F.size(
        F.filter(
            toks,
            lambda t: t.isin(*STOPWORDS[lang]),
        )
    )
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))


def punct_ratio(col) -> Column:
    n = F.length(col)
    non_alnum = F.length(F.regexp_replace(col, r"[a-zA-Z0-9\s]", ""))
    return F.when(n > 0, non_alnum / n).otherwise(F.lit(0.0))


def _mean_token_len_of(toks) -> Column:
    total = F.aggregate(
        F.transform(toks, F.length), F.lit(0), lambda acc, x: acc + x
    )
    return F.when(F.size(toks) > 0, total / F.size(toks)).otherwise(F.lit(0.0))


def quality_score(col) -> Column:
    """Composite quality heuristic in [0,1]: rewards stopword presence
    and sane token lengths, penalizes punctuation soup and very short
    docs.  Weights are arbitrary but fixed (deterministic).  All
    token-derived terms share ONE ``_bind``-bound tokenization (a naive
    composition re-runs the split ~12x per row inside the scan)."""
    length_ok = F.least(F.length(col) / F.lit(200.0), F.lit(1.0))
    punct_ok = F.lit(1.0) - F.least(punct_ratio(col) * 4.0, F.lit(1.0))

    def tok_terms(toks):
        sw_ok = F.least(_stopword_ratio_of(toks, "en") * 5.0, F.lit(1.0))
        tl = _mean_token_len_of(toks)
        tl_ok = F.when((tl >= 2.5) & (tl <= 9.0), F.lit(1.0)) \
            .otherwise(F.lit(0.4))
        return 0.3 * sw_ok + 0.2 * tl_ok

    return 0.3 * length_ok + 0.2 * punct_ok + _bind(tokens(col), tok_terms)


def _lang_scores_of(toks) -> dict[str, Column]:
    def hit(sw: list[str]):
        # closure, not a default arg: a 2-param lambda would be treated
        # as an (elem, index) HOF lambda by pyspark
        return lambda t: t.isin(*sw)

    return {
        lang: F.size(F.filter(toks, hit(sw)))
        for lang, sw in STOPWORDS.items()
    }


def lang_id(col) -> Column:
    """argmax of stopword hits; ties resolved by LANG_PRIORITY order;
    zero hits everywhere -> 'und' (undetermined).  One ``_bind``-bound
    tokenization feeds all four language filters and the when-chain."""

    def pick(toks):
        scores = _lang_scores_of(toks)
        best = scores[LANG_PRIORITY[0]]
        best_lang = F.lit(LANG_PRIORITY[0])
        for lang in LANG_PRIORITY[1:]:
            cond = scores[lang] > best
            best_lang = F.when(cond, F.lit(lang)).otherwise(best_lang)
            best = F.when(cond, scores[lang]).otherwise(best)
        return F.when(best > 0, best_lang).otherwise(F.lit("und"))

    return _bind(tokens(col), pick)


def doc_fingerprint(col) -> Column:
    """Whole-document content fingerprint: md5 over the normalized
    token stream (whitespace/case/punct-insensitive)."""
    return F.md5(F.concat_ws(" ", tokens(col)))


def shingles(col, n: int = 3) -> Column:
    """Word n-gram shingles (distinct), the unit for minhash/jaccard.
    Built entirely from higher-order functions: slide an index window
    over the token array.  The token array is ``_bind``-bound so the
    sliding window references it O(1) — a direct closure capture would
    re-run the tokenizing split per window (quadratic per doc)."""

    def windows(toks):
        idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
        return F.when(F.size(toks) >= n, F.array_distinct(
            F.transform(
                idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))
            )
        )).otherwise(
            F.when(F.size(toks) > 0,
                   F.array(F.concat_ws(" ", toks))).otherwise(F.array())
        )

    return _bind(tokens(col), windows)


def rolling_fingerprint(col, n: int = 8) -> Column:
    """Winnowing-style document fingerprint: min md5 over character
    n-gram windows of the normalized text — robust to local edits
    (an edit changes only the windows it overlaps).  The normalized
    text is ``_bind``-bound: each character window slices a bound
    variable instead of re-normalizing the document (quadratic)."""

    def fp(norm):
        length = F.length(norm)
        return F.array_min(
            F.transform(
                F.sequence(F.lit(1), F.greatest(length - n + 1, F.lit(1))),
                lambda i: F.md5(norm.substr(i, F.lit(n))),
            )
        )

    return _bind(F.concat_ws(" ", tokens(col)), fp)


def ngram_repetition_ratio(col, n: int = 2) -> Column:
    """Fraction of word n-gram occurrences that are repeats of an
    earlier one: 1 - distinct/total (0.0 for docs with < n tokens).
    The Gopher-style repetition filter signal — templated/spun text
    scores high, natural prose low.  Scan-stage HOFs over one bound
    tokenization; no shuffle."""

    def ratio(toks):
        idx = F.sequence(F.lit(0), F.size(toks) - n)  # only when size>=n
        grams = F.transform(
            idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))
        )
        return F.when(
            F.size(toks) >= n,
            F.lit(1.0) - F.size(F.array_distinct(grams)) / F.size(grams),
        ).otherwise(F.lit(0.0))

    return _bind(tokens(col), ratio)


# PII patterns: portable across Java regex (Spark) and RE2 (DuckDB).
# Order matters: emails first (contain digits/dots), then IPs (digit
# runs a phone pattern would swallow), then phones.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d[\d\s().-]{7,}\d", "<PHONE>"),
)


def redact_pii(col) -> Column:
    """Replace emails, IPv4 addresses, and phone-number-shaped digit
    runs with typed placeholder tokens, in a fixed order so the
    patterns never shadow each other.  Pure regexp_replace chain —
    stays inside whole-stage codegen."""
    out = col
    for _, pat, token in PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return out


def pii_counts(col) -> dict[str, Column]:
    """Per-kind match counts, applying the same order/shadowing as
    redact_pii (each count runs on the text with the PRIOR patterns
    already redacted, so an IP inside a matched email counts once)."""
    counts = {}
    cur = col
    for kind, pat, token in PII_PATTERNS:
        counts[kind] = F.regexp_count(cur, F.lit(pat))
        cur = F.regexp_replace(cur, pat, token)
    return counts
