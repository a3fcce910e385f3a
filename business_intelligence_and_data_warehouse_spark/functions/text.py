"""Text-analysis column functions for large-scale document pipelines.

All pure Catalyst expressions (split/regexp/slice/md5) — no Python in
the row path, so every operator here runs inside whole-stage codegen
and scales linearly with document bytes.

Engine-parity note: hashing uses md5 (identical hex output in Spark
and DuckDB) instead of xxhash64/murmur (engine-specific), so the dedup
and fingerprint operators built on these are oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Minimal per-language stopword marker sets for the n-gram/stopword
# language-ID heuristic (public common-word lists, truncated).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "a", "for"),
    "pt": ("de", "que", "e", "o", "os", "do", "da", "um"),
    "es": ("el", "la", "los", "que", "y", "en", "un", "por"),
    "de": ("der", "die", "und", "das", "ist", "ein", "nicht"),
    "fr": ("le", "la", "et", "les", "des", "un", "est", "que"),
}

EN_STOPWORDS = LANG_MARKERS["en"]


def tokens_ws(col: Column) -> Column:
    """Whitespace tokenization."""
    return F.split(F.trim(col), r"\s+")


def lang_marker_hits(toks: Column, lang: str) -> Column:
    """Occurrences of `lang`'s marker words in a BOUND token-array
    column (one array traversal, map-side)."""
    words = LANG_MARKERS[lang]
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def lang_pred_from_hits(hit_cols: dict[str, Column]) -> tuple[Column, Column]:
    """(lang_pred, marker_hits) from per-language hit-count columns.

    Argmax with ties broken by language code ascending (same rule as
    the `ORDER BY hits DESC, lang` oracle); 'und' when nothing hit.
    Pass BOUND columns (project the hit counts first) so the marker
    scans run once, not once per CASE branch.
    """
    langs = sorted(hit_cols)
    max_hits = F.greatest(*[hit_cols[lang] for lang in langs])
    chain = None
    for lang in langs:
        branch = F.when(hit_cols[lang] == max_hits, F.lit(lang))
        chain = branch if chain is None else chain.when(
            hit_cols[lang] == max_hits, F.lit(lang)
        )
    # <= 0 with a NULL coalesce, not == 0: NULL text yields NULL (or
    # legacy -1) hit counts, and the == 0 guard then fell through to
    # the CASE chain, labelling NULL documents as the first sorted
    # language instead of 'und' (r10 review finding)
    pred = F.when(
        F.coalesce(max_hits, F.lit(0)) <= 0, F.lit("und")
    ).otherwise(chain)
    return pred, max_hits


# word-ish / number / single punctuation — a BPE-style pre-tokenizer
# upper bound on token count
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_count_bpe_ish(col: Column) -> Column:
    return F.regexp_count(col, F.lit(BPE_ISH_PATTERN))


def shingles_of_tokens(toks: Column, k: int) -> Column:
    """Array of k-word shingles (space-joined) from a token-array
    column; empty if < k tokens.

    Pass a MATERIALIZED token column (projected in a prior select):
    the window lambda references the array once per shingle, so an
    unbound normalize+split expression here would be re-evaluated
    O(tokens) times per document.
    """
    return F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - k + 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def char_ngrams(col: Column, n: int, max_chars: int | None = None) -> Column:
    """Array of character n-grams (optionally over a length-capped
    prefix, to bound cost on very long documents)."""
    s = F.substring(col, 1, max_chars) if max_chars else col
    return F.when(
        F.length(s) >= n,
        F.transform(
            F.sequence(F.lit(1), F.length(s) - n + 1),
            lambda i: s.substr(i, F.lit(n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def normalize_text(col: Column) -> Column:
    """Canonical form for exact-dup detection: lowercase, collapsed
    whitespace, trimmed."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def fingerprint_md5(col: Column) -> Column:
    """Whole-document fingerprint over the normalized text."""
    return F.md5(normalize_text(col))


def rolling_min_fingerprint(col: Column, n: int = 8, max_chars: int = 200) -> Column:
    """Winnowing-style content fingerprint: minimum md5 over the
    char-n-gram window set of the document prefix. Equal prefixes give
    equal fingerprints regardless of surrounding formatting.

    IMPORTANT: pass a MATERIALIZED column (project the normalized text
    into its own column in a prior select), not a normalization
    expression — a lambda over an unbound expression re-evaluates it
    once per n-gram (~200× per document for the regex-heavy
    normalizer). This function therefore does NOT normalize its input.
    """
    return F.array_min(F.transform(char_ngrams(col, n, max_chars), F.md5))


def punct_ratio(col: Column) -> Column:
    """Non-alphanumeric-non-space chars / total chars."""
    return F.regexp_count(col, F.lit(r"[^A-Za-z0-9\s]")) / F.greatest(
        F.length(col), F.lit(1)
    )


# ---------------------------------------------------------------------------
# PII redaction (training-data hygiene)
# ---------------------------------------------------------------------------

# Patterns are deliberately restricted to syntax shared verbatim by
# Java regex (Spark) and RE2 (DuckDB/many scanners): char classes,
# bounded repetition, \b — no lookaround, no backrefs.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"


def pii_counts(col: Column) -> tuple[Column, Column]:
    """(n_emails, n_phones) match counts for a text column."""
    return (
        F.size(F.regexp_extract_all(col, F.lit(EMAIL_RE), 0)).cast("int"),
        F.size(F.regexp_extract_all(col, F.lit(PHONE_RE), 0)).cast("int"),
    )


def redact_pii(col: Column) -> Column:
    """Replace every email / phone match with a typed placeholder.
    Pure native expression — runs inside whole-stage codegen, no UDF."""
    red = F.regexp_replace(col, EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(red, PHONE_RE, "<PHONE>")
