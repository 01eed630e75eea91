"""Text-analysis functions for training-data pipelines — pure Column exprs.

Language-ID (stopword-hit heuristic), quality scoring (length/punct/stopword
ratios), token counting (whitespace + BPE-ish regex), and document
fingerprinting.  All JVM-side; each has a DuckDB twin in the oracle SQL.
These generalize the reference's single-purpose string gates into the
corpus-hygiene operators a 100 TB web pipeline needs (task brief: first-class
components alongside SURVEY.md §2).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# BPE-ish pre-tokenizer: word pieces, numbers, or single non-space symbols
# (GPT-2-style contraction/word/number/symbol split, simplified to the
# Java/RE2-portable subset).
BPE_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# tiny per-language stopword marker sets (deterministic heuristic, not a model)
LANG_MARKERS = {
    "en": ("the", "and", "of"),
    "de": ("der", "und", "nicht"),
    "fr": ("le", "et", "les"),
    "es": ("el", "que", "los"),
}


def word_count(col: Column) -> Column:
    """Whitespace token count; 0 for empty/blank strings."""
    trimmed = F.trim(col)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def token_count_bpe(col: Column) -> Column:
    """BPE-ish token count via regexp_count of the piece pattern."""
    return F.regexp_count(col, F.lit(BPE_REGEX))


def punct_ratio(col: Column) -> Column:
    """Non-alphanumeric-non-space chars / total chars."""
    puncts = F.length(F.regexp_replace(col, r"[A-Za-z0-9\s]", ""))
    return F.when(F.length(col) == 0, F.lit(0.0)).otherwise(
        puncts / F.length(col)
    )


def _marker_hits(col: Column, markers: tuple[str, ...]) -> Column:
    padded = F.concat(F.lit(" "), F.lower(col), F.lit(" "))
    hits = None
    for m in markers:
        h = (
            F.length(padded)
            - F.length(F.replace(padded, F.lit(f" {m} "), F.lit("")))
        ) / F.lit(len(m) + 2)
        hits = h if hits is None else hits + h
    return hits.cast("long")


def stopword_ratio(col: Column, markers: tuple[str, ...] = LANG_MARKERS["en"]) -> Column:
    """Stopword hits / word count (length/replace trick — no explode)."""
    wc = word_count(col)
    return F.when(wc == 0, F.lit(0.0)).otherwise(_marker_hits(col, markers) / wc)


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality score: enough words, sane punctuation, some
    stopwords — the standard web-corpus heuristics (C4/Gopher-style rules)."""
    wc = word_count(col)
    len_ok = F.when(wc >= 20, F.lit(1.0)).otherwise(wc / F.lit(20.0))
    punct_ok = F.when(punct_ratio(col) <= 0.2, F.lit(1.0)).otherwise(
        F.greatest(F.lit(0.0), F.lit(1.0) - (punct_ratio(col) - 0.2) * 5)
    )
    stop_ok = F.when(stopword_ratio(col) >= 0.05, F.lit(1.0)).otherwise(
        stopword_ratio(col) / F.lit(0.05)
    )
    return F.round((len_ok + punct_ok + stop_ok) / F.lit(3.0), 4)


def lang_guess(col: Column) -> Column:
    """Pick the language whose marker-hit count is highest (ties → priority
    order en, de, fr, es; zero hits → 'und')."""
    hits = {lang: _marker_hits(col, m) for lang, m in LANG_MARKERS.items()}
    best = F.greatest(*hits.values())
    expr = F.lit("und")
    # reversed priority so that earlier languages win ties via later .when
    for lang in reversed(list(LANG_MARKERS)):
        expr = F.when((hits[lang] > 0) & (hits[lang] == best), F.lit(lang)).otherwise(expr)
    return expr


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercase text."""
    return F.md5(
        F.encode(F.lower(F.trim(F.regexp_replace(col, r"\s+", " "))), "utf-8")
    )


def kgram_hashes(col: Column, k: int = 8) -> Column:
    """md5 of every character k-gram of the whitespace-normalized lowercase
    text — stage 1 of winnowing.  Materialize this column (post-exchange)
    before applying ``winnow_minima``, or Catalyst inlines the whole hash
    array into every window's min."""
    s = F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))
    n_grams = F.length(s) - F.lit(k - 1)
    # Guard: sequence(1, 0) evaluates DESCENDING to [1, 0] in Spark, which
    # would emit two spurious hashes for text shorter than k; the DuckDB twin's
    # generate_series(1, 0) is empty, so short texts must yield [] here too.
    return F.when(n_grams < 1, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), n_grams),
            lambda i: F.md5(F.encode(F.substring(s, i, F.lit(k)), "utf-8")),
        )
    )


def winnow_minima(hashes: Column, w: int = 6) -> Column:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the MOSS
    scheme): the minimum hash of each sliding window of *w* consecutive k-gram
    hashes, deduplicated and sorted.

    Guarantees at least one shared fingerprint for any match of length
    >= w + k - 1 with ~2/(w+1) sampling density — the standard local
    document-fingerprint set for plagiarism/near-dup detection at corpus
    scale.  Returns ARRAY<STRING>, empty when there are fewer than w k-grams.
    """
    n_windows = F.size(hashes) - F.lit(w - 1)
    mins = F.transform(
        F.sequence(F.lit(1), F.greatest(n_windows, F.lit(0))),
        lambda i: F.array_min(F.slice(hashes, i, w)),
    )
    return F.when(n_windows >= 1, F.array_sort(F.array_distinct(mins))).otherwise(
        F.array().cast("array<string>")
    )
