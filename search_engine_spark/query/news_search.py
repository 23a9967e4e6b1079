"""News search: the reference's ``/search/news`` lifecycle
(``NEWS_SEARCH_SQL``, search_service.py:68-100 + ``_rank_news_rows``
:281-309) over the news-domain tables, served from driver memory.

Construction collects the three tables once (three ``toArrow()`` collects)
and builds the same arrays the pinned web engine serves from:

- each article's dense ordinal: its rank in url order (``articles`` is
  url-keyed, so a duplicate url is an error, never collapsed);
- per term, the ordinals of the articles holding it and each one's baked
  FLAT tf*idf ``frequency * COALESCE(idf, 1.0)``, with NO field weights (the
  news query scores only field-4 article text) and idf from the SHARED
  web-corpus term_statistics; a token row whose article is missing from
  ``articles`` is dropped, as the reference's inner join drops it;
- per ordinal, the fields the intent re-rank reads (``intent.doc_fields``).

A search then runs no Spark job. It ranks through the web engine's
``postings_search.rank_in_memory``, so the two searches share one fold
(in term order: the ordered-fold invariant), candidate cut and intent
re-rank; news adds the flat +8.0 bonus (:296) before the final (score
DESC, url ASC) order, then pages with the reference count formula.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame

from . import postings_search
from .analysis import search_context
from .intent import doc_fields
from .postings_search import check_serving_budget, rank_in_memory, term_runs

NEWS_SCORE_BONUS = 8.0  # search_service.py:296
_ARTICLE_COLUMNS = ("title", "description", "url", "author", "published_at_s")


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
    """Search over (articles, article_tokens, shared term_statistics),
    collected into driver memory once (module docstring)."""

    def __init__(
        self,
        articles: DataFrame,
        article_tokens: DataFrame,
        term_statistics: DataFrame,
    ) -> None:
        budget = postings_search.MAX_SERVING_DOCUMENTS
        meta = articles.select(*_ARTICLE_COLUMNS).limit(budget + 1).toArrow()
        check_serving_budget(meta.num_rows)
        meta = meta.sort_by("url")
        urls = meta.column("url")
        if pc.count_distinct(urls).as_py() != meta.num_rows:
            raise ValueError("articles must hold one row per url, with no null url")
        self._articles = list(zip(*(meta.column(c).to_pylist() for c in _ARTICLE_COLUMNS)))
        self._fields = [doc_fields(t, d, u) for t, d, u, *_ in self._articles]

        tokens = article_tokens.select("article_url", "term", "frequency").toArrow()
        stats = term_statistics.select("term", "idf").toArrow()
        stats_terms = stats.column("term").combine_chunks()
        idf = pc.take(stats.column("idf"), pc.index_in(tokens.column("term"), stats_terms))
        rows = pa.table(
            {
                "term": tokens.column("term"),
                "ord": pc.index_in(tokens.column("article_url"), urls.combine_chunks()),
                "contrib": pc.multiply(
                    pc.cast(tokens.column("frequency"), pa.float64()), pc.fill_null(idf, 1.0)
                ),
            }
        ).drop_null()
        if rows.group_by(["term", "ord"]).aggregate([]).num_rows != rows.num_rows:
            raise ValueError("article_tokens must hold one row per (article_url, term)")
        rows = rows.sort_by([("term", "ascending"), ("ord", "ascending")])
        self._ords = rows.column("ord").to_numpy()
        self._contrib = rows.column("contrib").to_numpy()
        self._by_term = term_runs(rows.column("term"))

    def search(self, q: str, limit: int = 20, offset: int = 0) -> NewsSearchResponse:
        ctx = search_context(q, limit, offset)
        if ctx is None:
            return NewsSearchResponse(results=[], count=0)
        ranges = [r for t in sorted(ctx.query_terms) if (r := self._by_term.get(t)) is not None]
        ranked = rank_in_memory(
            self._ords, self._contrib, ranges, self._fields, ctx, NEWS_SCORE_BONUS
        )
        page = []
        for score, o in ranked[offset : offset + limit]:
            title, description, url, author, published_at_s = self._articles[o]
            page.append(
                NewsSearchItem(title or "", description or "", url, score, author, published_at_s)
            )
        count = max(len(ranked), offset + len(page))
        return NewsSearchResponse(results=page, count=count)
