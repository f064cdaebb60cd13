"""Text-analysis column expressions. Everything here is a pure
Catalyst Column (JVM-side, whole-stage-codegen'd) — no Python UDFs —
so these run at full scan throughput on 100 TB of documents.

The deterministic contract: every function has an exact DuckDB-SQL
equivalent (used by the oracle gate), so semantics are pinned, not
implementation-defined.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small English stopword profile used by lang-id and quality scoring.
STOPWORDS_EN = ["the", "a", "of", "and", "to", "in", "is", "it"]
PUNCT_CLASS = r"[.,!?;:]"


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization of trimmed text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), r"\s+")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def punct_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(c) - F.length(F.regexp_replace(c, PUNCT_CLASS, ""))


def stopword_count(col: Column | str) -> Column:
    toks = tokens(col)
    return F.size(F.filter(toks, lambda t: t.isin(STOPWORDS_EN)))


def quality_score(col: Column | str) -> Column:
    """Heuristic document quality in [0,1]: rewards moderate length,
    low punctuation density, presence of stopwords (prose-likeness).
    score = 0.4*min(1, tokens/100) + 0.3*(1 - min(1, 10*punct/chars))
          + 0.3*min(1, 5*stop/tokens), rounded to 6dp.
    """
    c = F.col(col) if isinstance(col, str) else col
    nt = token_count(c).cast("double")
    nc = F.length(c).cast("double")
    npunct = punct_count(c).cast("double")
    nstop = stopword_count(c).cast("double")
    # nc can be 0 for an empty document and Spark 4 runs ANSI mode by
    # default (DIVIDE_BY_ZERO raises instead of yielding NULL) — guard
    # the denominator; npunct is 0 whenever nc is, so the ratio is 0
    # either way. nt is always >= 1 (split of '' yields ['']).
    score = (
        0.4 * F.least(F.lit(1.0), nt / 100.0)
        + 0.3 * (1.0 - F.least(F.lit(1.0), 10.0 * npunct / F.greatest(nc, F.lit(1.0))))
        + 0.3 * F.least(F.lit(1.0), 5.0 * nstop / nt)
    )
    return F.round(score, 6)


def lang_guess(col: Column | str) -> Column:
    """Stopword-profile language guess: 'en' when English stopwords
    cover ≥ 3% of tokens, else 'other'. (The synthetic corpus carries
    a ground-truth `lang` column; this is the n-gram-heuristic
    operator itself, graded against its own SQL oracle.)"""
    nt = token_count(col).cast("double")
    nstop = stopword_count(col).cast("double")
    return F.when(nstop / nt >= 0.03, F.lit("en")).otherwise(F.lit("other"))


# BPE-ish pre-tokenization pattern (GPT-2-style, simplified to the
# RE2-compatible subset so the DuckDB oracle matches: no lookahead):
# runs of letters / digits / other-symbols, each optionally preceded
# by one space.
BPE_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


def bpe_token_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_PATTERN), F.lit(0)))


def normalize_text(col: Column | str) -> Column:
    """Normalization for fingerprinting: lowercase, strip punctuation,
    collapse whitespace."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.regexp_replace(F.lower(c), PUNCT_CLASS, ""), r"\s+", " "))


def fingerprint(col: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of normalized text."""
    return F.md5(normalize_text(col).cast("binary"))
