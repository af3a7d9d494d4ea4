"""Text analysis operators: counting, quality scoring, language ID,
document fingerprinting.

Generalizes the reference's estimation surface (byte/token accounting,
reference internal/cli/estimation.go:13-36) into the column-level text
statistics a training-data pipeline filters on. Everything except the
tokenizer parity path is pure JVM expression — these run inside
whole-stage codegen over 100 TB with zero Python.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# tiny per-language stopword lists for the n-gram/stopword heuristic
# language detector (public common words; deliberately small — the
# detector is a deterministic heuristic, not a model)
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "as"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "del", "se", "por"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "du", "une"],
    "de": ["der", "die", "und", "in", "den", "von", "zu", "das", "mit", "sich"],
}


def words_col(text: Column) -> Column:
    """Whitespace words with empties removed."""
    return F.filter(F.split(F.trim(text), r"\s+"), lambda w: w != "")


def token_count_col(text: Column) -> Column:
    """The engine's deterministic tokenizer as a JVM expression:
    sum over words of max(1, ceil(len/4)) — the exact logic of
    functions/tokens.py:_heuristic_count (the counter when no exact
    encoder is active), kept expression-level so it's both
    codegen-fast and oracle-expressible.
    """
    return F.aggregate(
        words_col(text),
        F.lit(0).cast("long"),
        lambda acc, w: acc
        + F.greatest(F.lit(1).cast("long"), F.ceil(F.length(w) / 4.0).cast("long")),
    )


def word_count_col(text: Column) -> Column:
    return F.size(words_col(text)).cast("long")


def punct_ratio_col(text: Column) -> Column:
    """Fraction of characters that are punctuation."""
    n = F.length(text)
    n_punct = n - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    return F.when(n > 0, n_punct / n).otherwise(F.lit(0.0))


def stopword_ratio_col(text: Column, lang: str = "en") -> Column:
    """Fraction of words that are (lang) stopwords."""
    sw = F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])
    words = words_col(F.lower(text))
    n = F.size(words)
    hits = F.size(F.filter(words, lambda w: F.array_contains(sw, w)))
    return F.when(n > 0, hits / n).otherwise(F.lit(0.0))


def quality_score_col(text: Column) -> Column:
    """Deterministic [0,1] quality score: rewards mid-length documents
    and mostly-alphabetic content, penalizes punctuation soup — the
    shape of public pretraining-corpus quality filters."""
    wc = word_count_col(text)
    length_score = F.least(wc / 50.0, F.lit(1.0))
    punct_penalty = punct_ratio_col(text)
    avg_wlen = F.when(wc > 0, F.length(text) / wc).otherwise(F.lit(0.0))
    wlen_score = F.when((avg_wlen >= 3) & (avg_wlen <= 9), 1.0).otherwise(0.5)
    return F.round(
        F.greatest(
            F.lit(0.0),
            F.least(F.lit(1.0), 0.5 * length_score + 0.5 * wlen_score - punct_penalty),
        ),
        4,
    )


def detect_lang_col(text: Column) -> Column:
    """Stopword-vote language ID: the language whose stopword list hits
    the most words; 'und' (undetermined) when nothing hits."""
    words = words_col(F.lower(text))
    best_lang = F.lit("und")
    best_hits = F.lit(0)
    for lang, sws in LANG_STOPWORDS.items():
        sw = F.array(*[F.lit(w) for w in sws])
        hits = F.size(F.filter(words, lambda w: F.array_contains(sw, w)))
        is_better = hits > best_hits
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_hits = F.when(is_better, hits).otherwise(best_hits)
    return best_lang


FP_MOD = 1_000_000_007
FP_BASE = 131


def word_hash_col(w: Column) -> Column:
    """40-bit md5 word hash reduced mod FP_MOD — the house cross-engine
    hashing idiom (CLAUDE.md): DuckDB recomputes it exactly as
    CAST('0x'||substr(md5(w),1,10) AS BIGINT) % FP_MOD, which xxhash64
    (the round-1..6 word hash here) never could. Switched in round 7 so
    the rolling fingerprint gains a DuckDB oracle twin — for a
    fingerprint, independent recomputability IS the feature."""
    return F.conv(F.substring(F.md5(w), 1, 10), 16, 10).cast("long") % FP_MOD


def fingerprint_col(text: Column) -> Column:
    """Polynomial rolling hash of the normalized word sequence:
    h = Σ h·131 + md5_40(word) mod 1e9+7 — an order-sensitive
    document fingerprint (two docs with the same words in different
    order get different prints, unlike a bag-of-words hash). Exact
    int64 arithmetic: acc < 1e9+7 keeps acc·131 + term < 2^38."""
    words = words_col(F.lower(text))
    return F.aggregate(
        words,
        F.lit(0).cast("long"),
        lambda acc, w: (acc * FP_BASE + word_hash_col(w)) % FP_MOD,
    )
