"""Text analysis column expressions (documents table surface).

Everything is built from ``pyspark.sql.functions`` so the plan stays in
whole-stage codegen; each expression has an exact DuckDB twin used by the
SQL oracles (token hashing goes through md5, which both engines implement
identically).

At 100 TB: all of these are per-row projections or explode+agg shapes;
the only shuffles are the aggregations after explode (token histograms),
which combine map-side first.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# a small multilingual stopword table for the language-ID heuristic
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "fr": ("le", "la", "de", "et", "un", "une", "est"),
    "es": ("el", "la", "de", "y", "un", "una", "es"),
    "de": ("der", "die", "das", "und", "ein", "ist", "zu"),
}

MOD = 1_000_000_007


def tokens(text: Column) -> Column:
    """Whitespace tokenization (documents are pre-normalized word streams)."""
    return F.split(text, " ")


def bpe_ish_tokens(text: Column) -> Column:
    """A BPE-ish regex tokenizer: words, numbers, or single non-space
    symbols — the usual pre-tokenization split of BPE vocabularies."""
    return F.regexp_extract_all(text, F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"), F.lit(0))


def normalize(text: Column) -> Column:
    """Dedup normalization: lowercase, non-alphanumerics to spaces,
    collapse runs, trim."""
    out = F.lower(text)
    out = F.regexp_replace(out, "[^a-z0-9]+", " ")
    return F.trim(out)


def shingle_stream_from_tokens(toks: Column, n: int = 3) -> Column:
    """ALL n-word shingles (in order, duplicates kept) from a token-array
    column. Built as n-1 ``zip_with`` concatenations over n shifted
    ``slice`` views of the array: every reference to ``toks`` is a
    once-per-row child expression. The previous formulation —
    ``transform(sequence(1, size-n+1), i -> concat_ws(element_at(toks,
    i+off)...))`` — re-evaluated ``toks`` (a ``split`` over the whole
    text) on EVERY ``element_at`` call inside the lambda, ~3n evaluations
    per document; with the split's array allocation that was ~95% of the
    shingle stage's CPU and a GC storm (measured r13: 4.2s -> 0.19s for
    the sf0.1 corpus shingle pass, identical output)."""
    k = F.size(toks) - (n - 1)
    acc = F.slice(toks, 1, k)
    for off in range(1, n):
        acc = F.zip_with(
            acc, F.slice(toks, 1 + off, k), lambda x, y: F.concat_ws(" ", x, y)
        )
    # guard: slice with length < 1 is invalid; short docs -> empty set
    # (CaseWhen evaluates branches lazily per row, so the slices are
    # never computed for short docs)
    return F.when(F.size(toks) >= n, acc).otherwise(
        F.array().cast("array<string>")
    )


def shingle_stream(text: Column, n: int = 3) -> Column:
    """ALL n-word shingles in document order (duplicates kept — the raw
    stream repetition analysis needs)."""
    return shingle_stream_from_tokens(tokens(text), n)


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct n-word shingles of a token stream (the unit for
    Jaccard/MinHash near-dup detection)."""
    return F.array_distinct(shingle_stream(text, n))


def repetition_ratio(text: Column, n: int = 3) -> Column:
    """Within-document repetition: 1 - distinct/total n-gram shingles.
    0.0 for fresh text, approaching 1.0 for boilerplate loops — the
    standard 'duplicate n-gram fraction' quality signal. Per-row array
    math only (no explode, no shuffle)."""
    stream = shingle_stream(text, n)
    total = F.size(stream)
    return F.when(
        total > 0, F.lit(1.0) - F.size(F.array_distinct(stream)) / total
    ).otherwise(F.lit(0.0))


def token_hash(tok: Column, hex_digits: int = 8) -> Column:
    """Deterministic 32-bit-ish integer hash of a token via md5 — identical
    in DuckDB: CAST('0x' || substr(md5(t), 1, 8) AS BIGINT)."""
    return F.conv(F.substring(F.md5(tok), 1, hex_digits), 16, 10).cast("long")


def fingerprint(text: Column) -> Column:
    """Rolling polynomial hash over token hashes (document fingerprint):
    acc = (acc * 31 + h(tok)) mod 1e9+7. DuckDB twin:
    list_reduce(list_prepend(0, hashes), (acc, x) -> (acc*31+x) % MOD)."""
    hashes = F.transform(tokens(text), lambda t: token_hash(t))
    return F.aggregate(
        hashes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % MOD,
    )


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("long")


def char_count(text: Column) -> Column:
    return F.length(text).cast("long")


def stopword_ratio(text: Column, stopwords: tuple[str, ...] = LANG_STOPWORDS["en"]) -> Column:
    toks = tokens(text)
    hits = F.size(F.filter(toks, lambda t: t.isin(*stopwords)))
    return hits / F.size(toks)


def punct_ratio(text: Column) -> Column:
    stripped = F.regexp_replace(text, r"[a-zA-Z0-9\s]+", "")
    return F.length(stripped) / F.length(text)


def quality_score(text: Column) -> Column:
    """A composite document-quality heuristic in [0, 1]: favors texts with
    reasonable length, low punctuation density and some stopword mass.
    Fixed operation order so the SQL twin is bit-identical."""
    len_score = F.least(char_count(text) / F.lit(500.0), F.lit(1.0))
    stop_score = F.least(stopword_ratio(text) * 4, F.lit(1.0))
    punct_pen = F.least(punct_ratio(text) * 5, F.lit(1.0))
    return (len_score * 0.4 + stop_score * 0.4) + (1.0 - punct_pen) * 0.2


# PII patterns kept to the regex subset Java (Spark) and RE2 (DuckDB)
# implement identically: no backreferences, no lookaround, [0-9] over \d.
# Replacement order matters: emails first (their local part may contain
# digits), then phones, then bare long digit runs (which would otherwise
# match inside an un-redacted phone).
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("phone", r"\+?[0-9]{3}[- .][0-9]{3}[- .][0-9]{4}", "[PHONE]"),
    ("id_number", r"[0-9]{9,}", "[ID]"),
)


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-category PII match counts (counted on the ORIGINAL text, before
    any replacement interferes)."""
    return {
        kind: F.size(F.regexp_extract_all(text, F.lit(pat), F.lit(0))).cast("long")
        for kind, pat, _ in PII_PATTERNS
    }


def redact_pii(text: Column) -> Column:
    """Replace every PII match with its category placeholder, applying the
    patterns in PII_PATTERNS order. Pure per-row projection — at 100 TB
    this runs inside the scan's codegen stage, no shuffle."""
    out = text
    for _, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def lang_id(text: Column) -> Column:
    """Stopword-vote language ID. Scores each language by distinct-stopword
    hits in the token stream; highest count wins, alphabetical tie-break,
    'und' (undetermined) when nothing matches."""
    toks = tokens(text)
    scores = {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words])))
        for lang, words in LANG_STOPWORDS.items()
    }
    best_lang, best_score = None, None
    for lang in sorted(scores):  # alphabetical priority on ties
        s = scores[lang]
        if best_lang is None:
            best_lang, best_score = F.lit(lang), s
        else:
            cond = s > best_score
            best_lang = F.when(cond, F.lit(lang)).otherwise(best_lang)
            best_score = F.when(cond, s).otherwise(best_score)
    return F.when(best_score > 0, best_lang).otherwise(F.lit("und"))
