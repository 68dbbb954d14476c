"""Text-analysis functions for training-data pipelines: tokenization,
language ID, quality scoring, fingerprinting.

All pure Column expressions (JVM-side, inside whole-stage codegen) — no
Python UDFs in any hot path. The reference has no text functions at all
(scalar logic is opaque Python lambdas, `stupidb/typehints.py:28-31`).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from stupidb_spark.verbs import ColumnLike, _col

# Tiny per-language stopword lists for the n-gram/stopword language
# heuristic. Deliberately small and public-knowledge; the heuristic's value
# is its *shape* (vectorized token-set scoring), not linguistic accuracy.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "of", "and", "to", "in", "is", "it", "you", "that", "was"),
    "fr": ("le", "la", "de", "et", "un", "une", "est", "les", "des", "que"),
    "de": ("der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "von"),
    "es": ("el", "los", "y", "que", "en", "se", "no", "por", "con", "para"),
}

# Punctuation class shared verbatim with the DuckDB oracle regexes.
PUNCT_CLASS = r"""[.,;:!?'"()\[\]-]"""


def words(c: ColumnLike) -> Column:
    """Lowercased alphabetic tokens (split on non-letters, empties dropped)."""
    toks = F.split(F.lower(_col(c)), "[^a-z]+")
    return F.filter(toks, lambda t: t != "")


def word_ngrams(w: ColumnLike, n: int) -> Column:
    """The ``n``-token windows of a token array, in order: an array of
    structs whose fields ``"0"`` .. ``"n-1"`` are the window's tokens.
    Empty when the array has fewer than ``n`` tokens (or is NULL).

    ``arrays_zip`` of ``n`` shifted slices, so extraction is map-only: no
    shuffle and no per-document window buffering one document's token rows
    in one task. Every n-gram construction in the package (shingles, LM
    n-grams, backoff trigrams, duplicated spans) goes through here.

    Pass a column the previous projection materialized, not an inline
    ``words(text)``: each slice and size re-evaluates an inline expression
    (no common-subexpression elimination inside a generator): for
    ``n=3`` the tokenizer ran 7× per document, and exploding the sf0.1
    ``documents`` trigrams took 0.83–0.94 s instead of 0.25–0.30 s on
    4 cores.
    """
    w = _col(w)
    length = F.size(w) - (n - 1)
    zipped = F.arrays_zip(*[F.slice(w, 1 + j, length) for j in range(n)])
    return F.when(length >= 1, zipped).otherwise(F.array())


def ngram_text(g: Column, n: int) -> Column:
    """One :func:`word_ngrams` window as text: its ``n`` tokens joined
    with single spaces."""
    return F.concat_ws(" ", *[g[str(j)] for j in range(n)])


def token_count(c: ColumnLike) -> Column:
    """Whitespace token count — the BPE-ish proxy used for budget math."""
    toks = F.split(F.trim(_col(c)), r"\s+")
    return F.size(F.filter(toks, lambda t: t != ""))


def punct_count(c: ColumnLike) -> Column:
    return F.length(_col(c)) - F.length(F.regexp_replace(_col(c), PUNCT_CLASS, ""))


def _stopword_pattern(lang: str) -> str:
    """Regex matching a token of :func:`words` that IS a stopword: the
    alternation must cover a maximal [a-z] run (lookarounds), which is
    exactly token equality under the ``[^a-z]+`` split."""
    return f"(?<![a-z])(?:{'|'.join(STOPWORDS[lang])})(?![a-z])"


def stopword_count(c: ColumnLike, lang: str = "en") -> Column:
    """Number of tokens that are stopwords of ``lang``.

    Counted with a codegen'd ``regexp_count`` over the lowercased raw
    string — one pass, no array materialization. Count-equivalent to
    filtering :func:`words` through the stopword list (the interpreted HOF
    form this replaces, measured slower in bulk), and the DuckDB oracles
    keep using the list form: both count the same tokens.
    """
    return F.regexp_count(F.lower(_col(c)), F.lit(_stopword_pattern(lang)))


def lang_scores(c: ColumnLike) -> dict[str, Column]:
    """Stopword-hit count per candidate language."""
    return {lang: stopword_count(c, lang) for lang in STOPWORDS}


def lang_id(c: ColumnLike) -> Column:
    """Pick the language with the highest stopword score, fixed priority
    en > fr > de > es on ties, 'und' (undetermined) when all scores are 0."""
    s = lang_scores(c)
    return (
        F.when(
            (s["en"] + s["fr"] + s["de"] + s["es"]) == 0, F.lit("und")
        )
        .when((s["en"] >= s["fr"]) & (s["en"] >= s["de"]) & (s["en"] >= s["es"]), "en")
        .when((s["fr"] >= s["de"]) & (s["fr"] >= s["es"]), "fr")
        .when(s["de"] >= s["es"], "de")
        .otherwise("es")
    )


def normalized(c: ColumnLike) -> Column:
    """Canonical text form for fingerprinting: lowercase, collapse
    whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(_col(c)), r"\s+", " "))


def fingerprint_md5(c: ColumnLike) -> Column:
    """Content fingerprint: md5 hex of the normalized text. Stable across
    engines (DuckDB md5 produces the identical hex)."""
    return F.md5(F.encode(normalized(c), "UTF-8"))


# 2^31 - 1; keeps acc*31 + char < 2^36 so 64-bit arithmetic never wraps and
# the Python cross-check in tests can reproduce values exactly.
_ROLLING_MOD = 2147483647


def fingerprint_rolling(c: ColumnLike) -> Column:
    """Polynomial rolling hash over the normalized character stream —
    a document fingerprint computed as a pure Catalyst fold (F.aggregate),
    no UDF."""
    chars = F.filter(F.split(normalized(c), ""), lambda t: t != "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: F.pmod(acc * 31 + F.coalesce(F.ascii(ch), F.lit(0)), F.lit(_ROLLING_MOD)),
    )


# PII regexes — deliberately the common Java-regex/RE2 subset so the Spark
# expression and the DuckDB oracle compile the same pattern text. Redaction
# order matters: emails first (their domains contain dots that the IPv4
# pattern must never see pre-masked).
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def pii_counts(c: ColumnLike) -> tuple[Column, Column]:
    """(email_count, ipv4_count) over the raw text — counted BEFORE any
    redaction so audits see the true incidence."""
    return (
        F.regexp_count(_col(c), F.lit(EMAIL_RE)),
        F.regexp_count(_col(c), F.lit(IPV4_RE)),
    )


def redact_pii(c: ColumnLike) -> Column:
    """Mask emails then IPv4 addresses — a pure codegen'd expression pair
    (regexp_replace), zero-shuffle at any scale."""
    masked = F.regexp_replace(_col(c), EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(masked, IPV4_RE, "<IP>")


def gopher_signals(c: ColumnLike) -> dict[str, Column]:
    """The Gopher-rule quality signals (Rae et al. 2021, §A1.1) as named
    Column expressions — shared by the oracled batch query
    (``queryset/text.py::text_gopher_rules``) and the ingest-time
    streaming twin. Every PASS/FAIL gate is exact integer arithmetic
    (cross-multiplied ratios), so the booleans are engine-identical; the
    ratio columns use the deterministic rounding grid. Stateless per-row
    expressions: attach to a batch scan or a stream unchanged."""
    from stupidb_spark.functions import exact as X

    text = _col(c)
    toks = F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != "")
    n_words = F.size(toks)
    sum_wlen = F.aggregate(
        toks, F.lit(0), lambda acc, t: acc + F.length(t)
    ).cast("long")
    n_alpha = F.size(F.filter(toks, lambda t: F.lower(t).rlike("[a-z]")))
    w = words(text)
    n_aw = F.size(w)
    n_dw = F.size(F.array_distinct(w))
    n_stop = stopword_count(text, "en")
    n_sym = F.regexp_count(text, F.lit("#")) + F.regexp_count(
        text, F.lit(r"\.\.\.")
    )
    g1 = F.greatest(n_words, F.lit(1))
    ok_n_words = (n_words >= 50) & (n_words <= 100000)
    ok_mean_len = (3 * n_words <= sum_wlen) & (sum_wlen <= 10 * n_words)
    ok_alpha = 5 * n_alpha >= 4 * n_words
    ok_symbols = 10 * n_sym < n_words
    ok_stopwords = n_stop >= 2
    ok_distinct = 5 * n_dw >= n_aw
    return {
        "n_words": n_words,
        "mean_word_len": X.dround(sum_wlen.cast("double") / g1, 4),
        "alpha_frac": X.dround(n_alpha.cast("double") / g1, 4),
        "distinct_ratio": X.dround(
            n_dw.cast("double") / F.greatest(n_aw, F.lit(1)), 4
        ),
        "n_stop": n_stop,
        "ok_n_words": ok_n_words,
        "ok_mean_len": ok_mean_len,
        "ok_alpha": ok_alpha,
        "ok_symbols": ok_symbols,
        "ok_stopwords": ok_stopwords,
        "ok_distinct": ok_distinct,
        "passes_gopher": ok_n_words
        & ok_mean_len
        & ok_alpha
        & ok_symbols
        & ok_stopwords
        & ok_distinct,
    }
