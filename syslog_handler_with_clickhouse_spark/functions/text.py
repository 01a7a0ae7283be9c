"""Text-analysis column builders (tier X, SURVEY §2.3 UDF surface).

All native column expressions — language ID, quality scoring, token
counting, and fingerprinting run JVM-side in whole-stage codegen; no
Python in the hot path.  Each has an exact ANSI-SQL twin used by the
DuckDB oracle (see queries.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# BPE-ish tokenizer: letter runs, digit runs, single punctuation marks.
# Same pattern semantics in Java regex (Spark) and RE2 (DuckDB).
TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# Tiny per-language function-word lists for the n-gram/stopword language
# heuristic.  Deliberately small + deterministic; the oracle embeds the
# same lists.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it", "for", "on"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es", "por", "con"),
    "fr": ("le", "la", "de", "et", "un", "en", "est", "que", "pour", "sur"),
    "de": ("der", "die", "das", "und", "in", "ist", "zu", "den", "mit", "von"),
}


def words(text: Column) -> Column:
    """Whitespace tokenization (single-space fixture texts)."""
    return F.split(text, " ")


def norm_text(text: Column) -> Column:
    """Normalization for fingerprinting: lowercase, collapse whitespace."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint = md5 of normalized text."""
    return F.md5(norm_text(text))


def token_count_ws(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(words(text))


def token_count_bpe(text: Column) -> Column:
    """BPE-ish token count via regex matches."""
    return F.regexp_count(text, F.lit(TOKEN_RE))


def stopword_hits(text: Column, lang: str) -> Column:
    """How many tokens of ``text`` are in ``lang``'s stopword list."""
    stop = list(LANG_STOPWORDS[lang])
    return F.size(F.filter(words(text), lambda w: w.isin(stop)))


def quality_columns(text: Column) -> dict[str, Column]:
    """Quality-scoring metrics: lengths, ratios — all integer-derived so
    the double divisions match the oracle bit-for-bit."""
    n_chars = F.length(text)
    wlist = words(text)
    n_words = F.size(wlist)
    alpha_chars = F.length(F.regexp_replace(text, r"[^a-zA-Z]", ""))
    stop_en = stopword_hits(text, "en")
    return {
        "n_chars": n_chars.cast("bigint"),
        "n_words": n_words.cast("bigint"),
        "alpha_ratio": (alpha_chars.cast("double") / n_chars.cast("double")),
        "avg_word_len": (
            (n_chars - (n_words - F.lit(1))).cast("double") / n_words.cast("double")
        ),
        "stopword_ratio": (stop_en.cast("double") / n_words.cast("double")),
    }


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word-level n-gram shingles.

    transform over sequence keeps it codegen-native; empty array when the
    doc has fewer than n words.
    """
    w = words(text)
    count = F.size(w) - F.lit(n - 1)
    return F.when(
        count > 0,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), count),
                lambda i: F.concat_ws(" ", F.slice(w, i, n)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def gopher_rules(text: Column, *, min_words: int = 30,
                 max_words: int = 100000) -> dict[str, Column]:
    """Gopher-style document quality rules (Rae et al. 2021 §A1.1) as
    native boolean columns over a space-tokenized text column — the
    standard pre-training corpus gate, all integer arithmetic (the
    mean-word-length band is cross-multiplied, never divided):

    - ``r_word_count``: word count within [min_words, max_words]
    - ``r_mean_word_len``: mean word length within [3, 10]
    - ``r_symbol_ratio``: '#' chars per word < 0.1
    - ``r_alpha_words``: >= 80 % of words contain an alphabetic char
      (here: are not '##' symbol tokens — the corpus's only non-alpha
      form; a general corpus would regex-count instead)
    - ``r_stop_words``: carries the corpus's function words 'the'/'a'
      (standing in for Gopher's 2-of-8 English stop-word rule)

    Row-local: composing these adds ZERO exchanges to a plan."""
    n_words = F.size(F.split(text, " ")).cast("bigint")
    wl_sum = F.length(F.regexp_replace(text, " ", "")).cast("bigint")
    hc = (F.length(text) - F.length(F.regexp_replace(text, "#", ""))).cast(
        "bigint"
    )
    pad = F.concat(F.lit(" "), text, F.lit(" "))
    non_alpha = ((hc - hc % 2) / 2).cast("bigint")  # '##' token count
    return {
        "r_word_count": (n_words >= min_words) & (n_words <= max_words),
        "r_mean_word_len": (3 * n_words <= wl_sum) & (wl_sum <= 10 * n_words),
        "r_symbol_ratio": 10 * hc < n_words,
        "r_alpha_words": 10 * (n_words - non_alpha) >= 8 * n_words,
        "r_stop_words": pad.like("% the %") & pad.like("% a %"),
    }


def shred_lines(df, text_col: str = "text", words_per_line: int = 7,
                keys: tuple = ("doc_id", "source")):
    """Shred documents into fixed-width word lines: posexplode the
    space-split words, bucket by ``pos DIV words_per_line``, and rebuild
    each line's text with array_sort over collected (pos, word) structs
    — an aggregate, never a window, so there is no per-document sort
    barrier and every exchange keys on (keys..., line_id).

    Returns (keys..., line_id, line, nw).  Shared by the C4 line
    filters (q431), the CCNet line dedup (q433), and the quality scale
    bench."""
    w = df.select(
        *keys, F.posexplode(F.split(text_col, " ")).alias("pos", "word")
    )
    return w.groupBy(
        *keys, F.expr(f"pos DIV {words_per_line}").alias("line_id")
    ).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "word"))),
                lambda x: x["word"],
            ),
            " ",
        ).alias("line"),
        F.count(F.lit(1)).cast("bigint").alias("nw"),
    )
