"""Text-analysis column functions for the training-data pipeline
(north-star extensions, SURVEY.md §2.9 / BASELINE.json).

Everything is built-in `pyspark.sql.functions` expressions (JVM-side,
whole-stage codegen) — no Python UDFs in any hot path. Each helper has
an exact DuckDB-SQL equivalent used by the oracle queries, so the regex
dialect is restricted to the portable subset (``\\w \\s`` classes,
alternation, quantifiers — valid in both Java regex and RE2).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

#: "BPE-ish" pre-tokenizer: word pieces OR single non-space symbols —
#: the standard coarse token estimator for LLM corpus accounting.
BPE_TOKEN_RE = r"\w+|[^\w \t\n\x0B\f\r]"

#: Tiny per-language stopword anchors for the n-gram/stopword language
#: heuristic. Deliberately small + public-knowledge words.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "de": ("der", "und", "die", "das", "ist"),
    "fr": ("le", "la", "et", "les", "est"),
    "es": ("el", "la", "los", "que", "es"),
}

#: Words used for the stopword-ratio quality signal (English-biased on
#: purpose — the quality score is a heuristic, not a classifier).
QUALITY_STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and", "to", "in", "is")


#: PII patterns — the portable Java-regex/RE2 subset (no lookaround).
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\b[0-9]{3}-[0-9]{4}\b"


def pii_counts(col: Column) -> dict[str, Column]:
    """Match counts per PII class (emails, NANP-style phone tails)."""
    return {
        "n_emails": F.size(F.regexp_extract_all(
            col, F.lit(PII_EMAIL_RE), F.lit(0))).cast("long"),
        "n_phones": F.size(F.regexp_extract_all(
            col, F.lit(PII_PHONE_RE), F.lit(0))).cast("long"),
    }


def pii_redact(col: Column) -> Column:
    """Replace every email then phone match with a typed placeholder —
    the standard scrub pass before corpus release. Spark's
    regexp_replace is global by default (DuckDB needs the 'g' flag);
    redaction order (emails first) is part of the contract since the
    second pattern runs over the first pass's output."""
    scrubbed = F.regexp_replace(col, PII_EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(scrubbed, PII_PHONE_RE, "<PHONE>")


def words(col: Column) -> Column:
    """Whitespace tokenization of trimmed text (empty string → [''])."""
    return F.split(F.trim(col), r"[ \t\n\x0B\f\r]+")


def word_count(col: Column) -> Column:
    return F.size(words(col))


def bpe_token_count(col: Column) -> Column:
    """Coarse LLM-token estimate: count of BPE_TOKEN_RE matches."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_TOKEN_RE), F.lit(0)))


def stopword_hits(col: Column, stopwords: tuple[str, ...]) -> Column:
    """Number of tokens that are in `stopwords` (case-insensitive)."""
    return F.size(F.filter(words(F.lower(col)),
                           lambda w: w.isin(*stopwords)))


def lang_scores(col: Column) -> dict[str, Column]:
    """Per-language stopword-hit counts (the n-gram-heuristic family:
    score each candidate language by anchor-token frequency)."""
    return {lang: stopword_hits(col, sws) for lang, sws in LANG_STOPWORDS.items()}


def lang_guess(col: Column) -> Column:
    """argmax over lang_scores with deterministic tie-break (alphabetic
    language order wins ties; all-zero → 'und')."""
    scores = lang_scores(col)
    best = None
    for lang in sorted(scores):  # alphabetic: earlier wins ties via >
        s = scores[lang]
        if best is None:
            best = (s, F.lit(lang))
        else:
            best_s, best_l = best
            best = (F.greatest(best_s, s),
                    F.when(s > best_s, F.lit(lang)).otherwise(best_l))
    score, lang = best
    return F.when(score > 0, lang).otherwise(F.lit("und"))


def punct_count(col: Column) -> Column:
    return F.size(F.regexp_extract_all(col, F.lit(r"[^\w \t\n\x0B\f\r]"), F.lit(0)))


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of case/whitespace-normalized text —
    the exact-dedup key. md5 renders identically in Spark and DuckDB."""
    normalized = F.regexp_replace(F.lower(F.trim(col)), r"[ \t\n\x0B\f\r]+", " ")
    return F.md5(normalized)


def sliding(arr: Column, n: int,
            combine: Callable[[list[Column]], Column]) -> Column:
    """``combine([arr[i], ..., arr[i+n-1]])`` for every run of n consecutive
    elements of ``arr``, in order; shorter than n gives an empty array.

    Built as ``arrays_zip`` of n shifted ``slice``s of ``arr``, then one
    transform that touches only its element. The obvious formulation
    — indexing the array from inside the lambda
    (``transform(sequence(...), i -> f(a[i], a[i+1], ...))``) —
    re-evaluates the array's whole definition (for words, the
    ``split``) per element per index and measured ~10× slower over the
    corpus."""
    m = F.greatest(F.size(arr) - F.lit(n - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice(arr, j + 1, m) for j in range(n)])
    return F.transform(zipped,
                       lambda s: combine([s[str(j)] for j in range(n)]))


def word_ngrams(w: Column, n: int, hashed: bool = False) -> Column:
    """Ordered word n-grams of the words array ``w`` (repeats kept):
    'w1 w2 w3' strings, or with ``hashed`` xxhash64(w1, ..., wn) longs
    hashed straight from the n-tuple, so no gram string is ever
    concatenated (that concatenation dominates the string form's
    cost)."""
    if hashed:
        return sliding(w, n, lambda fs: F.xxhash64(*fs))
    return sliding(w, n, lambda fs: F.concat_ws(" ", *fs))


def _shingles(col: Column, n: int, distinct: bool, hashed: bool) -> Column:
    w = words(col)
    grams = word_ngrams(w, n, hashed)
    if distinct:
        grams = F.array_distinct(grams)
    empty = "array<bigint>" if hashed else "array<string>"
    return F.when(F.size(w) >= n, grams).otherwise(F.array().cast(empty))


def word_shingles(col: Column, n: int = 3, distinct: bool = True) -> Column:
    """Word n-gram shingles (array of 'w1 w2 w3' strings) — the unit
    set for Jaccard/MinHash near-dup detection (distinct=True) or for
    n-gram counting (distinct=False)."""
    return _shingles(col, n, distinct, hashed=False)


def hashed_word_shingles(col: Column, n: int = 3,
                         distinct: bool = True) -> Column:
    """xxhash64 word n-gram shingles (array<bigint>) — the Spark-only
    fast lane of :func:`word_shingles`: downstream joins/set ops move
    fixed 8-byte keys. Two distinct grams collide with probability
    2⁻⁶⁴; not SQL-reproducible (no DuckDB xxhash64), so use only in
    rows-only-checked queries."""
    return _shingles(col, n, distinct, hashed=True)
