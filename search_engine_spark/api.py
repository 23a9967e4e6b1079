"""Driver-side API facade: the reference's HTTP/MCP surface minus HTTP.

Mirrors ``app/api/main.py`` (route validation bounds) and
``app/mcp/server.py`` (tool wrappers + the ``[url](title)`` markdown block
format, reproduced verbatim including its reversed link order,
``server.py:38-46``). No FastAPI/FastMCP dependency: the functions are the
engine surface those frameworks would mount, so parity is in the data paths
and formatting, not the transport.
"""

from __future__ import annotations

from dataclasses import dataclass

from .query.news_search import NewsSearchEngine
from .query.search import SearchEngine, SearchResponse
from .spellcheck.service import SpellcheckService

SERVER_TITLE = "OpenGoogle"
SERVER_INSTRUCTIONS = (
    "Use search_web for general web pages and search_news for news content. "
    "Set limit and offset for pagination."
)


def bounded(limit: int, offset: int) -> tuple[int, int]:
    """Clamp to the reference's route bounds: limit in [1, 100], offset >= 0
    (main.py:210-212, server.py:27-28)."""
    return max(1, min(limit, 100)), max(0, offset)


def format_results_markdown(response: SearchResponse) -> str:
    """``[url](title)\\ndescription\\n\\n`` per result (server.py:36-46)."""
    out = ""
    for r in response.results:
        out += f"[{r.url}]({r.title})"
        out += "\n"
        out += r.description
        out += "\n"
        out += "\n"
    return out.strip()


@dataclass
class SearchAPI:
    """search_web / search_news / spellcheck tools over opened engines."""

    engine: SearchEngine
    spellcheck: SpellcheckService | None = None
    news: NewsSearchEngine | None = None

    def search_web(self, query: str, limit: int = 10, offset: int = 0) -> str:
        """MCP tool: markdown block of web results (server.py:31-46)."""
        lim, off = bounded(limit, offset)
        return format_results_markdown(self.engine.search(query, lim, off))

    def search_news(self, query: str, limit: int = 20, offset: int = 0) -> str:
        """MCP tool: markdown block of news results (server.py:49-56);
        same block format, items from the news engine (+8.0 re-rank)."""
        if self.news is None:
            return ""
        lim, off = bounded(limit, offset)
        return format_results_markdown(self.news.search(query, lim, off))

    def news_search(self, q: str, limit: int = 20, offset: int = 0) -> dict:
        """JSON-shaped NewsSearchResponse (main.py news route); feed
        metadata join is the caller's option — items carry author +
        published_at epoch-seconds."""
        if self.news is None:
            return {"results": [], "count": 0}
        lim, off = bounded(limit, offset)
        resp = self.news.search(q, lim, off)
        return {
            "results": [
                {
                    "title": r.title,
                    "description": r.description,
                    "url": r.url,
                    "score": r.score,
                    "author": r.author,
                    "published_at_s": r.published_at_s,
                }
                for r in resp.results
            ],
            "count": resp.count,
        }

    def web_search(self, q: str, limit: int = 20, offset: int = 0) -> dict:
        """JSON-shaped WebSearchResponse (main.py:139-141)."""
        lim, off = bounded(limit, offset)
        resp = self.engine.search(q, lim, off)
        return {
            "results": [
                {
                    "title": r.title,
                    "description": r.description,
                    "url": r.url,
                    "score": r.score,
                }
                for r in resp.results
            ],
            "count": resp.count,
        }

    def spellcheck_suggest(self, q: str) -> dict:
        """JSON-shaped SpellcheckResponse (main.py:26-27, 226-230)."""
        if self.spellcheck is None:
            return {"suggestion": None}
        return {"suggestion": self.spellcheck.suggest(q)}
