"""Pure-Python / NumPy oracle for the reference engine's semantics.

Stands in for the reference's Postgres + Python stack in tests (SURVEY.md §5):
given the corpus generator's rich PageRecords it computes documents, tokens,
term statistics, candidate scores, intent re-rank, pagination and PageRank
with the formulas cited from the reference, so the Spark pipeline can be
asserted rank-identical. Deliberately simple and single-threaded — this is a
correctness spec, not an engine.

Formula sources (reference file:line):
- tokens / fields 1,2,4: ``worker.py:229-234``
- idf: ``bm25_stats.py:21`` — LN((N - df + 0.5)/(df + 0.5) + 1)
- candidate score + field weights 3.2/1.7/1.0 + COALESCE(idf,1):
  ``search_service.py:13-40``
- top-k tie-break (token_score DESC, url ASC): ``search_service.py:38``
- candidate_limit: ``search_service.py:236-240``
- intent score: ``search_service.py:174-222``; final sort ``:261``
- pagination + count: ``search_service.py:341-342``
- PageRank d=0.85, 20 iters, dangling mass dropped: ``pagerank.py:6-38``
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass
from datetime import datetime
from urllib.parse import urljoin

import numpy as np

from .corpus import PageRecord
from .extract import compute_freshness, compute_quality, is_valid_document
from .normalization import normalize_url
from .tokenizer import extract_query_words, tokenize

CANDIDATE_BUFFER = 200
MAX_CANDIDATES = 2000
FIELD_WEIGHTS = {1: 3.2, 2: 1.7}  # else 1.0
DAMPING = 0.85
PR_ITERATIONS = 20


@dataclass
class OracleDoc:
    url: str
    title: str
    description: str
    content: str
    published_at: datetime | None
    updated_at: datetime | None
    word_count: int
    quality_score: float
    freshness_score: float
    links: list  # normalized outgoing urls, first-seen order


class OracleIndex:
    """In-memory index over generator records with reference semantics."""

    def __init__(self, records: list[PageRecord], now: datetime) -> None:
        self.now = now
        self.docs: dict[str, OracleDoc] = {}
        # tokens: url -> list of (term, field, freq), in (term, field) order
        self.tokens: dict[str, list[tuple[str, int, int]]] = {}

        for r in records:
            if not is_valid_document(r.title, r.description, r.text):
                continue
            links = _normalized_links(r.url, r.raw_links)
            pub = _parse_meta_ts(r.published_at_meta, now)
            upd = _parse_meta_ts(r.updated_at_meta, now)
            doc = OracleDoc(
                url=r.url,
                title=r.title,
                description=r.description,
                content=r.text,
                published_at=pub,
                updated_at=upd,
                word_count=len(r.text.split()),
                quality_score=compute_quality(r.text, len(links)),
                freshness_score=compute_freshness(upd, pub, now),
                links=links,
            )
            self.docs[r.url] = doc
            rows: list[tuple[str, int, int]] = []
            for fld, source in ((1, r.title), (2, r.description), (4, r.text)):
                for term, freq in tokenize(source).items():
                    rows.append((term, fld, freq))
            self.tokens[r.url] = sorted(rows)

        # term statistics (bm25_stats.py:9-27)
        n = len(self.docs)
        self.doc_total = n or 1
        self.avg_doc_len = (
            sum(d.word_count for d in self.docs.values()) / n if n else 0.0
        )
        df: dict[str, set] = {}
        ctf: dict[str, int] = {}
        for url, rows in self.tokens.items():
            for term, _fld, freq in rows:
                df.setdefault(term, set()).add(url)
                ctf[term] = ctf.get(term, 0) + freq
        self.doc_frequency = {t: len(s) for t, s in df.items()}
        self.ctf = ctf
        self.idf = {
            t: math.log((self.doc_total - dfv + 0.5) / (dfv + 0.5) + 1)
            for t, dfv in self.doc_frequency.items()
        }

    # -- retrieval ----------------------------------------------------------
    def candidates(self, query_terms: list[str], limit: int):
        """SEARCH_SQL semantics: per-doc weighted tf-idf sum + matched terms,
        ordered by (score desc, url asc), LIMIT ``limit``. The sum runs over
        the doc's token rows in (term, field) order, not text order: two docs
        with the same frequencies per (term, field) then score the same to
        the last bit, so a tie at the LIMIT is decided by url alone."""
        qset = set(query_terms)
        scored = []
        for url, rows in self.tokens.items():
            token_score = 0.0
            matched: set[str] = set()
            for term, fld, freq in rows:
                if term not in qset:
                    continue
                idf = self.idf.get(term, 1.0)
                token_score += freq * idf * FIELD_WEIGHTS.get(fld, 1.0)
                matched.add(term)
            if matched:
                d = self.docs[url]
                scored.append((d.title, d.description, url, token_score, len(matched)))
        scored.sort(key=lambda row: (-row[3], row[2]))
        return scored[:limit]

    def search(self, q: str, limit: int = 20, offset: int = 0):
        """Full /search lifecycle -> (page rows, count)."""
        ctx = search_context(q, limit, offset)
        if ctx is None:
            return [], 0
        rows = self.candidates(ctx["query_terms"], ctx["candidate_limit"])
        ranked = []
        for title, description, url, token_score, matched_terms in rows:
            s = intent_score(
                token_score=token_score,
                matched_terms=matched_terms,
                total_terms=ctx["total_terms"],
                query_phrase=ctx["query_phrase"],
                query_compact=ctx["query_compact"],
                query_words=ctx["query_words"],
                title=title or "",
                description=description or "",
                url=url,
            )
            ranked.append({"title": title, "description": description, "url": url, "score": s})
        ranked.sort(key=lambda item: (-item["score"], item["url"]))
        page = ranked[offset : offset + limit]
        return page, max(len(ranked), offset + len(page))

    # -- link graph + pagerank ------------------------------------------------
    def resolved_edges(self) -> set[tuple[str, str]]:
        """links_resolved semantics (J4): distinct (src_url, dst_url) where
        dst is an indexed document."""
        edges: set[tuple[str, str]] = set()
        for url, d in self.docs.items():
            for target in d.links:
                if target in self.docs:
                    edges.add((url, target))
        return edges

    def pagerank(self) -> dict[str, tuple[float, int]]:
        """url -> (pagerank, inlink_count); reference constants + dangling
        mass dropped (``pagerank.py:29-38``). NumPy matrix-free iteration."""
        nodes = list(self.docs.keys())
        n = len(nodes)
        if n == 0:
            return {}
        idx = {u: i for i, u in enumerate(nodes)}
        edges = self.resolved_edges()
        src = np.array([idx[s] for s, _ in edges], dtype=np.int64)
        dst = np.array([idx[t] for _, t in edges], dtype=np.int64)
        outdeg = np.zeros(n, dtype=np.float64)
        inlink = np.zeros(n, dtype=np.int64)
        for s in src:
            outdeg[s] += 1
        for t in dst:
            inlink[t] += 1

        pr = np.full(n, 1.0 / n)
        for _ in range(PR_ITERATIONS):
            contrib = np.zeros(n)
            if len(src):
                np.add.at(contrib, dst, DAMPING * pr[src] / outdeg[src])
            pr = (1.0 - DAMPING) / n + contrib
        return {u: (float(pr[idx[u]]), int(inlink[idx[u]])) for u in nodes}


def _normalized_links(base_url: str, raw_links: list) -> list:
    seen: set[str] = set()
    out: list[str] = []
    for href in raw_links:
        try:
            normalized = normalize_url(urljoin(base_url, href))
        except Exception:
            continue
        if normalized not in seen:
            seen.add(normalized)
            out.append(normalized)
    return out


def _parse_meta_ts(value: str | None, now: datetime) -> datetime | None:
    if not value:
        return None
    from .extract import _parse_ts

    return _parse_ts(value, now)


# ---- query-side functions (driver-side in both oracle and engine) -----------

_NON_ALNUM_RUN = re.compile(r"[^a-z0-9]+")


def normalize_text(text: str) -> str:
    """``search_service.py:150-151``."""
    return _NON_ALNUM_RUN.sub(" ", (text or "").lower()).strip()


def compact_text(text: str) -> str:
    return _NON_ALNUM_RUN.sub("", (text or "").lower())


def count_hits(text: str, query_words: list[str]) -> int:
    """``search_service.py:163-168``."""
    if not query_words:
        return 0
    from .tokenizer import TOKEN_RE

    word_set = set(TOKEN_RE.findall((text or "").lower()))
    return sum(1 for w in query_words if w in word_set)


def compact_word_hits(compact: str, query_words: list[str]) -> int:
    if not query_words or not compact:
        return 0
    return sum(1 for w in query_words if w in compact)


def intent_score(
    *,
    token_score: float,
    matched_terms: int,
    total_terms: int,
    query_phrase: str,
    query_compact: str,
    query_words: list[str],
    title: str,
    description: str,
    url: str,
) -> float:
    """Heuristic re-rank, constants from ``search_service.py:174-222``."""
    score = math.log1p(max(float(token_score), 0.0)) * 12.0
    if total_terms:
        coverage = matched_terms / total_terms
        score += coverage * 25.0
        if matched_terms == total_terms:
            score += 40.0

    normalized_title = normalize_text(title)
    normalized_description = normalize_text(description)
    normalized_url = normalize_text(url)
    compact_url = compact_text(url)

    if query_phrase and query_phrase in normalized_title:
        score += 140.0
    if query_phrase and query_phrase in normalized_url:
        score += 70.0
    if query_phrase and query_phrase in normalized_description:
        score += 25.0
    if query_compact and query_compact in compact_url:
        score += 90.0

    title_hits = count_hits(title, query_words)
    url_hits = count_hits(url, query_words)
    c_hits = compact_word_hits(compact_url, query_words)
    score += title_hits * 22.0 + url_hits * 16.0 + c_hits * 12.0

    if query_words and title_hits == len(query_words):
        score += 80.0
    if query_words and url_hits == len(query_words):
        score += 55.0
    if query_words and c_hits == len(query_words):
        score += 45.0

    return score


def search_context(q: str, limit: int, offset: int) -> dict | None:
    """``search_service.py:224-240`` — dual tokenization + candidate limit."""
    query_terms = list(tokenize(q).keys())
    if not query_terms:
        return None
    query_words = extract_query_words(q)
    return {
        "query_terms": query_terms,
        "query_phrase": normalize_text(q),
        "query_compact": "".join(query_words),
        "query_words": query_words,
        "total_terms": len(query_terms),
        "candidate_limit": min(
            MAX_CANDIDATES, max(offset + limit + CANDIDATE_BUFFER, limit * 10)
        ),
    }
