"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token counting, fingerprinting.

Everything is native Spark SQL expressions (regexp_count / split /
aggregate) — one narrow pass, codegen'd, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# small per-language stopword kernels for the n-gram/stopword heuristic
_LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein"],
    "fr": ["le", "la", "les", "et", "est", "dans", "que", "une"],
    "es": ["el", "la", "los", "que", "de", "es", "con", "una"],
}


def token_count(text: Column) -> Column:
    """Whitespace token count (0 for empty/blank)."""
    trimmed = F.trim(text)
    return F.when(F.length(trimmed) == 0, F.lit(0)) \
            .otherwise(F.size(F.split(trimmed, r"\s+")))


def stopword_hits(text: Column, words: list[str]) -> Column:
    pattern = r"(?i)\b(" + "|".join(words) + r")\b"
    return F.coalesce(F.regexp_count(text, F.lit(pattern)), F.lit(0))


def language_scores(text: Column) -> Column:
    """Struct of per-language stopword-hit rates."""
    toks = F.greatest(token_count(text), F.lit(1))
    return F.struct(*[
        (stopword_hits(text, ws) / toks).alias(lang)
        for lang, ws in _LANG_STOPWORDS.items()
    ])


def detect_language(text: Column, min_rate: float = 0.05) -> Column:
    """Argmax language by stopword rate; 'und' (undetermined) when no
    language clears `min_rate`."""
    scores = language_scores(text)
    langs = list(_LANG_STOPWORDS)
    best = F.lit("und")
    best_rate = F.lit(float(min_rate))
    for lang in langs:
        rate = scores.getField(lang)
        is_better = rate > best_rate
        best = F.when(is_better, F.lit(lang)).otherwise(best)
        best_rate = F.when(is_better, rate).otherwise(best_rate)
    return best


def quality_features(text: Column) -> Column:
    """Struct of cheap quality signals: n_chars, n_tokens, mean token
    length, punctuation ratio, uppercase ratio, digit ratio, stopword
    rate (en), max word repetition ratio proxy."""
    n_chars = F.length(text)
    n_tokens = token_count(text)
    safe_chars = F.greatest(n_chars, F.lit(1)).cast("double")
    safe_tokens = F.greatest(n_tokens, F.lit(1)).cast("double")
    n_punct = F.coalesce(F.regexp_count(text, F.lit(r"[^\w\s]")), F.lit(0))
    n_upper = F.coalesce(F.regexp_count(text, F.lit(r"[A-Z]")), F.lit(0))
    n_digit = F.coalesce(F.regexp_count(text, F.lit(r"[0-9]")), F.lit(0))
    n_stop = stopword_hits(text, _LANG_STOPWORDS["en"])
    words = F.split(F.trim(text), r"\s+")
    distinct_ratio = (F.size(F.array_distinct(words)) / safe_tokens)
    return F.struct(
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        (safe_chars / safe_tokens).alias("mean_token_len"),
        (n_punct / safe_chars).alias("punct_ratio"),
        (n_upper / safe_chars).alias("upper_ratio"),
        (n_digit / safe_chars).alias("digit_ratio"),
        (n_stop / safe_tokens).alias("stopword_rate"),
        distinct_ratio.alias("distinct_token_ratio"),
    )


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality score: length sweet spot, low punct/digit
    noise, some stopwords (fluency), lexical diversity."""
    f = quality_features(text)
    length_ok = F.when((f.getField("n_tokens") >= 5)
                       & (f.getField("n_tokens") <= 5000), 1.0).otherwise(0.3)
    noise = (1.0 - F.least(f.getField("punct_ratio") * 3
                           + f.getField("digit_ratio") * 2, F.lit(1.0)))
    fluency = F.least(f.getField("stopword_rate") * 4, F.lit(1.0))
    diversity = f.getField("distinct_token_ratio")
    return F.round((length_ok * 0.3 + noise * 0.3 + fluency * 0.2
                    + diversity * 0.2), 6)


def content_fingerprint(text: Column) -> Column:
    """Order-insensitive normalized fingerprint: md5 of the sorted
    distinct token set (classic near-dup blocking key)."""
    words = F.sort_array(F.array_distinct(
        F.split(F.lower(F.trim(text)), r"\W+")))
    return F.md5(F.array_join(words, " "))

