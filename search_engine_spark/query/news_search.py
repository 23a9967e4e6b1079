"""News search: the reference's ``/search/news`` lifecycle
(``NEWS_SEARCH_SQL``, search_service.py:68-100 + ``_rank_news_rows``
:281-309) over the news-domain tables.

1. driver-side query analysis (shared with web search)
2. candidate retrieval: FLAT tf*idf — ``SUM(frequency * COALESCE(idf, 1.0))``,
   folded over each article's rows in term order, with NO field weights (the news query scores only field-4 article text),
   idf from the SHARED web-corpus term_statistics, top candidate_limit by
   (token_score DESC, url ASC)
3. intent re-rank (same native-Column formula as web) **plus the flat
   +8.0 news bonus** (:296)
4. pagination with the reference count formula.

Scale shape mirrors web retrieval: IN-list term filter pushed to the
token scan, broadcast per-query idf slice, map-side partial agg, and a
TakeOrderedAndProject top-k; the articles metadata join runs on the
winners only.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .analysis import search_context
from .intent import intent_score_col

NEWS_SCORE_BONUS = 8.0  # search_service.py:296


@dataclass
class NewsSearchItem:
    title: str
    description: str
    url: str
    score: float
    author: str | None
    published_at_s: int | None


@dataclass
class NewsSearchResponse:
    results: list
    count: int


class NewsSearchEngine:
    """Search over (articles, article_tokens, shared term_statistics)."""

    def __init__(
        self,
        articles: DataFrame,
        article_tokens: DataFrame,
        term_statistics: DataFrame,
    ) -> None:
        self.articles = articles
        self.article_tokens = article_tokens
        self.term_statistics = term_statistics

    def candidates_df(self, q: str, limit: int = 20, offset: int = 0) -> DataFrame | None:
        ctx = search_context(q, limit, offset)
        if ctx is None:
            return None
        terms = list(ctx.query_terms)
        query_stats = F.broadcast(
            self.term_statistics.filter(F.col("term").isin(terms)).select(
                "term", "idf"
            )
        )
        contribution = F.col("frequency").cast("double") * F.coalesce(
            "idf", F.lit(1.0)
        )
        # an article's score folds its rows in term order, never an
        # order-unspecified sum (CLAUDE.md invariant 4), so articles with
        # equal frequencies tie to the last bit and url decides the cut
        scored = (
            self.article_tokens.filter(F.col("term").isin(terms))
            .join(query_stats, "term", "left")
            .groupBy("article_url")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("term", contribution.alias("c")))
                ).alias("rows")
            )
            .select(
                "article_url",
                F.aggregate("rows", F.lit(0.0), lambda acc, r: acc + r["c"]).alias(
                    "token_score"
                ),
                # one token row per (article, term, field=4): count == distinct
                F.size("rows").cast("long").alias("matched_terms"),
            )
        )
        meta = self.articles.select(
            F.col("url").alias("article_url"),
            "title",
            "description",
            "author",
            "published_at_s",
        )
        return (
            scored.join(meta, "article_url")
            .select(
                "title",
                "description",
                F.col("article_url").alias("url"),
                "token_score",
                "matched_terms",
                "author",
                "published_at_s",
            )
            .orderBy(F.desc("token_score"), F.asc("url"))
            .limit(ctx.candidate_limit)
        )

    def search(self, q: str, limit: int = 20, offset: int = 0) -> NewsSearchResponse:
        ctx = search_context(q, limit, offset)
        if ctx is None:
            return NewsSearchResponse(results=[], count=0)
        candidates = self.candidates_df(q, limit, offset)
        ranked = (
            candidates.withColumn(
                "score", intent_score_col(ctx) + F.lit(NEWS_SCORE_BONUS)
            )
            .select(
                "title", "description", "url", "score", "author", "published_at_s"
            )
            .orderBy(F.desc("score"), F.asc("url"))
            .collect()
        )
        page = [
            NewsSearchItem(
                title=r["title"] or "",
                description=r["description"] or "",
                url=r["url"],
                score=float(r["score"]),
                author=r["author"],
                published_at_s=r["published_at_s"],
            )
            for r in ranked[offset : offset + limit]
        ]
        count = max(len(ranked), offset + len(page))
        return NewsSearchResponse(results=page, count=count)
