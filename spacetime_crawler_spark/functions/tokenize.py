"""Tokenization + stopwords (SURVEY.md §2 rows A3/A4, and the text-analysis
operators).  The split regex and stopword list are PINNED because the DuckDB
oracle SQL embeds the identical regex/list — Spark and DuckDB must tokenize
byte-identically for the value-hash comparison to hold.
"""

from __future__ import annotations

import re

# Lowercase, then split on runs of anything outside [a-z0-9].
TOKEN_SPLIT_REGEX = "[^a-z0-9]+"
_TOKEN_RE = re.compile(TOKEN_SPLIT_REGEX)

# Non-empty lowercase tokens of a `text` column as a SQL expression, one per
# engine — identical semantics (Spark `split` and DuckDB
# `regexp_split_to_array` both keep empty strings at separators; both sides
# filter them).
SPARK_TOKENS = f"filter(split(lower(text), '{TOKEN_SPLIT_REGEX}'), x -> x != '')"
DUCK_TOKENS = (
    f"list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_REGEX}'),"
    " x -> x <> '')"
)

# Fixed English stopword list (the reference's common-word report excluded a
# standard stopword list; this is ours, pinned).  Kept sorted for stable
# embedding into SQL.
STOPWORDS: tuple[str, ...] = tuple(sorted({
    "a", "about", "all", "also", "an", "and", "any", "are", "as", "at",
    "be", "been", "but", "by", "can", "do", "for", "from", "had", "has",
    "have", "he", "her", "his", "i", "if", "in", "into", "is", "it",
    "its", "more", "my", "no", "not", "of", "on", "one", "or", "our",
    "she", "so", "that", "the", "their", "them", "then", "there", "they",
    "this", "to", "up", "was", "we", "were", "what", "when", "which",
    "who", "will", "with", "you", "your",
}))


def tokenize(text: str | None) -> list[str]:
    """lower → split on TOKEN_SPLIT_REGEX → drop empty tokens.

    Mirrors exactly ``split(lower(text), '[^a-z0-9]+')`` + empty filter in
    both Spark SQL and DuckDB."""
    if not text:
        return []
    return [t for t in _TOKEN_RE.split(text.lower()) if t]


def sql_stopword_list() -> str:
    """The stopword list as a SQL IN-list literal, shared verbatim by the
    Spark and DuckDB sides of the a4_common_words oracle pair."""
    return ", ".join(f"'{w}'" for w in STOPWORDS)
