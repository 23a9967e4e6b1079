"""Intent re-rank as native Column expressions (reference ``search_service.py:174-222``).

The reference re-ranks candidates row-by-row in Python. Query words are
plan-time literals, so every component compiles to whole-stage-codegen'd
Columns over the <=2000-row candidate DataFrame — zero Python in the loop:

    score = log1p(max(token_score,0)) * 12
          + coverage*25 (+40 if all terms matched)
          + 140/70/25 phrase-in-title/url/description bonuses
          + 90 compact-query-in-compact-url
          + 22*title_hits + 16*url_hits + 12*compact_url_hits
          + 80/55/45 full-coverage bonuses

Hit counting tokenizes the target with the same regex as the reference
(``TOKEN_RE.findall(lower(text))`` -> set membership), expressed as
``array_contains(regexp_extract_all(lower(col), '[a-z0-9]{2,}'), word)``.

``intent_score_fields`` is the same score in plain Python, for an engine
that holds its documents in driver memory: the same components, added in the
same order (an ordered fold, CLAUDE.md invariant 4), over the same token runs
and normalize/compact rules. What it reads of a document is computed once by
``doc_fields``; ``intent_score`` scores one raw row through both.
"""

from __future__ import annotations

import math
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .analysis import QueryContext, compact_text, normalize_text

# On lowercased text the reference token regex \b[a-zA-Z0-9]{2,}\b reduces to
# maximal alnum runs of length >= 2.
_TOKEN_RUN = r"[a-z0-9]{2,}"


def _normalize(col: F.Column) -> F.Column:
    """regexp-replace twin of analysis.normalize_text."""
    return F.trim(F.regexp_replace(F.lower(col), r"[^a-z0-9]+", " "))


def _compact(col: F.Column) -> F.Column:
    return F.regexp_replace(F.lower(col), r"[^a-z0-9]+", "")


def _hits(col: F.Column, words: tuple[str, ...]) -> F.Column:
    """count of query words present in the column's token set."""
    if not words:
        return F.lit(0)
    token_set = F.array_distinct(
        F.regexp_extract_all(F.lower(F.coalesce(col, F.lit(""))), F.lit(_TOKEN_RUN), F.lit(0))
    )
    return sum(
        (F.when(F.array_contains(token_set, w), 1).otherwise(0) for w in words),
        F.lit(0),
    )


def _compact_hits(compact_col: F.Column, words: tuple[str, ...]) -> F.Column:
    if not words:
        return F.lit(0)
    return F.when(compact_col == "", F.lit(0)).otherwise(
        sum(
            (F.when(compact_col.contains(w), 1).otherwise(0) for w in words),
            F.lit(0),
        )
    )


def intent_score_col(ctx: QueryContext) -> F.Column:
    """Build the full intent score as one Column over columns
    (token_score, matched_terms, title, description, url)."""
    score = F.log1p(F.greatest(F.col("token_score").cast("double"), F.lit(0.0))) * 12.0

    if ctx.total_terms:
        coverage = F.col("matched_terms").cast("double") / F.lit(float(ctx.total_terms))
        score = score + coverage * 25.0
        score = score + F.when(
            F.col("matched_terms") == ctx.total_terms, F.lit(40.0)
        ).otherwise(F.lit(0.0))

    norm_title = _normalize(F.coalesce(F.col("title"), F.lit("")))
    norm_desc = _normalize(F.coalesce(F.col("description"), F.lit("")))
    norm_url = _normalize(F.col("url"))
    compact_url = _compact(F.col("url"))

    if ctx.query_phrase:
        score = score + F.when(norm_title.contains(ctx.query_phrase), 140.0).otherwise(0.0)
        score = score + F.when(norm_url.contains(ctx.query_phrase), 70.0).otherwise(0.0)
        score = score + F.when(norm_desc.contains(ctx.query_phrase), 25.0).otherwise(0.0)
    if ctx.query_compact:
        score = score + F.when(compact_url.contains(ctx.query_compact), 90.0).otherwise(0.0)

    words = ctx.query_words
    title_hits = _hits(F.col("title"), words)
    url_hits = _hits(F.col("url"), words)
    c_hits = _compact_hits(compact_url, words)
    score = score + title_hits.cast("double") * 22.0
    score = score + url_hits.cast("double") * 16.0
    score = score + c_hits.cast("double") * 12.0

    if words:
        n = len(words)
        score = score + F.when(title_hits == n, 80.0).otherwise(0.0)
        score = score + F.when(url_hits == n, 55.0).otherwise(0.0)
        score = score + F.when(c_hits == n, 45.0).otherwise(0.0)

    return score


def rerank(candidates: DataFrame, ctx: QueryContext) -> DataFrame:
    """candidates -> (title, description, url, score) ordered by
    (score DESC, url ASC) (``search_service.py:261``)."""
    return (
        candidates.withColumn("score", intent_score_col(ctx))
        .select("title", "description", "url", "score")
        .orderBy(F.desc("score"), F.asc("url"))
    )


class DocFields(NamedTuple):
    """What the intent score reads of one document, computed once.

    A token set is held as the normalized text with a space at each end:
    normalizing leaves a text's maximal ``[a-z0-9]`` runs joined by single
    spaces, so a query word (always ``[a-z0-9]{2,}``) is one of the text's
    ``_hits`` tokens iff ``" word "`` occurs in it, and a phrase occurs in
    it iff it occurs in the normalized text. Two frozensets per document
    would hold ~1.8 KB more per document on the serve corpus, more than the
    document fields and these forms together."""

    title: str
    url: str
    description: str
    compact_url: str


def doc_fields(title: str | None, description: str | None, url: str | None) -> DocFields:
    """The normalized and compacted forms of one document."""
    return DocFields(
        title=f" {normalize_text(title)} ",
        url=f" {normalize_text(url)} ",
        description=normalize_text(description),
        compact_url=compact_text(url),
    )


def intent_score_fields(
    ctx: QueryContext, token_score: float, matched_terms: int, doc: DocFields
) -> float:
    """``intent_score_col`` for one candidate, term by term in the Column's
    order of additions (a component the Column adds as 0.0 is skipped:
    adding 0.0 leaves the sum unchanged)."""
    score = math.log1p(max(float(token_score), 0.0)) * 12.0

    if ctx.total_terms:
        score = score + matched_terms / ctx.total_terms * 25.0
        if matched_terms == ctx.total_terms:
            score = score + 40.0

    if ctx.query_phrase:
        if ctx.query_phrase in doc.title:
            score = score + 140.0
        if ctx.query_phrase in doc.url:
            score = score + 70.0
        if ctx.query_phrase in doc.description:
            score = score + 25.0
    compact_url = doc.compact_url
    if ctx.query_compact and ctx.query_compact in compact_url:
        score = score + 90.0

    words = ctx.query_words
    tokens = [f" {w} " for w in words]
    title_hits = sum(1 for t in tokens if t in doc.title)
    url_hits = sum(1 for t in tokens if t in doc.url)
    c_hits = sum(1 for w in words if w in compact_url) if compact_url else 0
    score = score + title_hits * 22.0
    score = score + url_hits * 16.0
    score = score + c_hits * 12.0

    if words:
        n = len(words)
        if title_hits == n:
            score = score + 80.0
        if url_hits == n:
            score = score + 55.0
        if c_hits == n:
            score = score + 45.0

    return score


def intent_score(
    ctx: QueryContext,
    token_score: float,
    matched_terms: int,
    title: str | None,
    description: str | None,
    url: str | None,
) -> float:
    """``intent_score_fields`` over one raw candidate row."""
    return intent_score_fields(ctx, token_score, matched_terms, doc_fields(title, description, url))
