"""Output checks: every run compares what the library returned against an
independent reference computed from the same generated inputs."""

from __future__ import annotations

import math
import re

from search_engine_spark.corpus import FIXED_NOW
from search_engine_spark.extract import is_valid_document
from search_engine_spark.oracle import OracleIndex, intent_score, search_context
from search_engine_spark.spellcheck.engine import (
    TRUSTED_POPULARITY,
    WORD_RE,
    DictEntry,
    apply_case,
    choose_correction,
    normalize_word,
)
from search_engine_spark.spellcheck.service import (
    MAX_CANDIDATES_PER_WORD,
    MIN_CANDIDATE_POPULARITY,
)
from search_engine_spark.stopwords import STOPWORDS

from .gen import latest_by_url

TOL = 1e-6


def oracle_for(*batches: list) -> OracleIndex:
    """Oracle over what the index holds after ``batches`` are folded in one
    after another: per batch the latest record per url, which replaces the
    url's earlier document only if it is valid (an invalid re-crawl keeps
    the old document, as ``apply_batch`` upserts valid documents only);
    then one document per distinct content, smallest url kept. One batch is
    exactly what ``build_index`` indexes."""
    by_url: dict[str, object] = {}
    for batch in batches:
        for r in latest_by_url(batch):
            if is_valid_document(r.title, r.description, r.text):
                by_url[r.url] = r
    keep: dict[str, object] = {}
    for url in sorted(by_url):
        keep.setdefault(by_url[url].text, by_url[url])
    return OracleIndex(list(keep.values()), FIXED_NOW)


def oracle_token_rows(oracle: OracleIndex) -> int:
    return sum(len(rows) for rows in oracle.tokens.values())


def same_page(got: list[tuple], ranking: list[tuple], offset: int, limit: int, tol: float = TOL) -> bool:
    """``got``, a page of (url, score), is ``ranking[offset:offset + limit]``
    up to ties: equal scores rank by rank, and each url sits inside the
    ranking's group of scores equal within ``tol`` at its rank (summation
    order may permute exact ties). A group may run past either end of the
    page, so which of its members the page holds is free."""
    want = ranking[offset : offset + limit]
    if len(got) != len(want) or len({u for u, _ in got}) != len(got):
        return False
    for (_, gs), (_, ws) in zip(got, want):
        if not math.isclose(gs, ws, rel_tol=tol, abs_tol=tol):
            return False
    group: dict[int, int] = {}  # rank -> index of its tie group
    i = 0
    while i < len(ranking):
        j = i + 1
        while j < len(ranking) and abs(ranking[j][1] - ranking[i][1]) <= tol:
            j += 1
        group.update((k, i) for k in range(i, j))
        i = j
    members: dict[int, set] = {}
    for k, (u, _) in enumerate(ranking):
        members.setdefault(group[k], set()).add(u)
    return all(u in members[group[offset + k]] for k, (u, _) in enumerate(got))


def oracle_ranking(oracle: OracleIndex, q: str, limit: int, offset: int) -> list[dict]:
    """Every candidate ``OracleIndex.search(q, limit, offset)`` ranks, in
    rank order: the search's page is a slice of it."""
    ctx = search_context(q, limit, offset)
    if ctx is None:
        return []
    ranked = [
        {
            "url": url,
            "score": intent_score(
                token_score=token_score,
                matched_terms=matched,
                total_terms=ctx["total_terms"],
                query_phrase=ctx["query_phrase"],
                query_compact=ctx["query_compact"],
                query_words=ctx["query_words"],
                title=title or "",
                description=description or "",
                url=url,
            ),
        }
        for title, description, url, token_score, matched in oracle.candidates(
            ctx["query_terms"], ctx["candidate_limit"]
        )
    ]
    ranked.sort(key=lambda r: (-r["score"], r["url"]))
    return ranked


def search_matches(oracle: OracleIndex, q: str, limit: int, offset: int, response: dict) -> bool:
    _, want_count = oracle.search(q, limit=limit, offset=offset)
    if response["count"] != want_count:
        return False
    ranking = oracle_ranking(oracle, q, limit, offset)
    return same_page(
        [(r["url"], r["score"]) for r in response["results"]],
        [(r["url"], r["score"]) for r in ranking],
        offset,
        limit,
    )


_DICT_WORD = re.compile("[a-z]{2,32}")


def dictionary_counts(doc_rows: list) -> dict[str, tuple[int, int]]:
    """Python twin of ``spellcheck.service.build_dictionary``: per word of
    2-32 letters in the lower-cased title, description and content, its
    (document frequency, total frequency)."""
    df: dict[str, int] = {}
    tf: dict[str, int] = {}
    for r in doc_rows:
        blob = " ".join(r[c] for c in ("title", "description", "content") if r[c] is not None)
        words = _DICT_WORD.findall(blob.lower())
        for w in words:
            tf[w] = tf.get(w, 0) + 1
        for w in set(words):
            df[w] = df.get(w, 0) + 1
    return {w: (df[w], tf[w]) for w in df}


def _trigrams(word: str) -> set[str]:
    p = f"  {word} "
    return {p[i : i + 3] for i in range(len(p) - 2)}


class SuggestReference:
    """Pure-Python ``SpellcheckService.suggest``: pg_trgm candidates from the
    collected dictionary, then the library's ``choose_correction``."""

    def __init__(self, dictionary_rows: list) -> None:
        self.entries = {
            r["word"]: DictEntry(
                word=r["word"],
                doc_frequency=r["doc_frequency"],
                total_frequency=r["total_frequency"],
                external_frequency=r["external_frequency"],
                popularity_score=r["popularity_score"],
            )
            for r in dictionary_rows
        }
        self._grams = {w: _trigrams(w) for w in self.entries}

    def _candidates(self, word: str) -> list[DictEntry]:
        tg = _trigrams(word)
        lo, hi = max(2, len(word) - 2), len(word) + 2
        scored = []
        for w, e in self.entries.items():
            if e.popularity_score < MIN_CANDIDATE_POPULARITY or not lo <= len(w) <= hi:
                continue
            inter = len(tg & self._grams[w])
            if inter:
                sim = inter / (len(tg) + len(self._grams[w]) - inter)
                scored.append((-sim, -e.popularity_score, w))
        scored.sort()
        return [self.entries[w] for _, _, w in scored[:MAX_CANDIDATES_PER_WORD]]

    def suggest(self, q: str) -> str | None:
        words = [normalize_word(w) for w in WORD_RE.findall(q)]
        words = [w for w in words if w and w not in STOPWORDS]
        suspect = [
            w
            for w in words
            if not (w in self.entries and self.entries[w].popularity_score >= TRUSTED_POPULARITY)
        ]
        corrected = {}
        for w in suspect:
            best = choose_correction(w, self.entries.get(w), self._candidates(w))
            if best:
                corrected[w] = best
        if not corrected:
            return None

        def _replace(m) -> str:
            repl = corrected.get(m.group(0).lower())
            return apply_case(m.group(0), repl) if repl else m.group(0)

        out = WORD_RE.sub(_replace, q)
        return None if out == q else out
