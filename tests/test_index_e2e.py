"""Golden end-to-end: Spark pipeline vs pure-Python oracle (SURVEY.md §5.2).

Builds the full index from the synthetic corpus with Spark and asserts
document scores, token rows, term statistics and search results are
(rank-)identical to the reference-formula oracle.
"""

import math

import pytest

from search_engine_spark.corpus import FIXED_NOW, generate_pages, pages_dataframe
from search_engine_spark.operators.documents import build_documents
from search_engine_spark.operators.term_stats import build_term_statistics
from search_engine_spark.operators.tokens import build_tokens
from search_engine_spark.operators.postings import build_postings
from search_engine_spark.oracle import OracleIndex
from search_engine_spark.query.postings_search import PostingsSearchEngine
from search_engine_spark.query.search import SearchEngine

TOL = 1e-9


@pytest.fixture(scope="module")
def index(docs, tokens, term_stats):
    return docs, tokens, term_stats


@pytest.fixture(scope="module")
def engine(index):
    docs, tokens, stats = index
    return SearchEngine(docs, tokens, stats)


@pytest.fixture(scope="module", params=[False, True], ids=["unpinned", "pinned"])
def postings_engine(request, docs, postings3, term_stats):
    """Both query paths: Spark jobs (unpinned) and driver memory (pinned)."""
    return PostingsSearchEngine(
        docs, postings3, term_stats, pin_shard_layout=request.param
    )


def test_documents_match_oracle(index, oracle):
    docs, _, _ = index
    rows = {r["url"]: r for r in docs.collect()}
    assert set(rows) == set(oracle.docs)
    for url, od in oracle.docs.items():
        r = rows[url]
        assert r["title"] == od.title
        assert r["description"] == od.description
        assert r["content"] == od.content
        assert r["word_count"] == od.word_count
        assert abs(r["quality_score"] - od.quality_score) < TOL, url
        assert abs(r["freshness_score"] - od.freshness_score) < TOL, url


def test_tokens_match_oracle(index, oracle):
    docs, tokens, _ = index
    url_by_id = {r["doc_id"]: r["url"] for r in docs.select("doc_id", "url").collect()}
    got: dict = {}
    for r in tokens.collect():
        got.setdefault(url_by_id[r["doc_id"]], set()).add(
            (r["term"], r["field"], r["frequency"])
        )
    want = {url: set(rows) for url, rows in oracle.tokens.items() if rows}
    assert got == want


def test_term_statistics_match_oracle(index, oracle):
    _, _, stats = index
    rows = {r["term"]: r for r in stats.collect()}
    assert set(rows) == set(oracle.doc_frequency)
    for term, df in oracle.doc_frequency.items():
        r = rows[term]
        assert r["doc_frequency"] == df, term
        assert abs(r["idf"] - oracle.idf[term]) < TOL, term
        assert r["ctf"] == oracle.ctf[term], term
        assert abs(r["avg_doc_len"] - oracle.avg_doc_len) < TOL


def _assert_rank_identical(engine_rows, oracle_rows, tol=1e-6):
    """Ranks must match exactly, except inside groups of equal-within-tol
    scores, where membership (set of urls) must match — float summation
    order can permute exact ties."""
    assert len(engine_rows) == len(oracle_rows), (
        f"row counts differ: {len(engine_rows)} vs {len(oracle_rows)}"
    )
    for e, o in zip(engine_rows, oracle_rows):
        assert math.isclose(e["score"], o["score"], rel_tol=tol, abs_tol=tol), (
            f"score mismatch {e['url']}: {e['score']} vs {o['url']}: {o['score']}"
        )
    i = 0
    n = len(engine_rows)
    while i < n:
        j = i + 1
        base = oracle_rows[i]["score"]
        while j < n and abs(oracle_rows[j]["score"] - base) <= tol:
            j += 1
        assert {r["url"] for r in engine_rows[i:j]} == {
            r["url"] for r in oracle_rows[i:j]
        }, f"tie group [{i}:{j}] differs"
        i = j


def _queries(oracle):
    by_df = sorted(oracle.doc_frequency.items(), key=lambda kv: (-kv[1], kv[0]))
    head_term = by_df[0][0]
    mid_term = by_df[len(by_df) // 2][0]
    rare_terms = [t for t, d in by_df if d == 1]
    some_title = next(iter(oracle.docs.values())).title
    return [
        head_term,  # single head term
        mid_term,  # single mid-frequency term
        rare_terms[0] if rare_terms else mid_term,  # df == 1
        f"{head_term} {mid_term}",  # multi-term coverage
        some_title,  # verbatim title -> +140 phrase bonus
        head_term.upper(),  # mixed case
        "the and of to",  # stopword-only -> empty
        "zzzzqqqqxxxx",  # absent term -> empty
        f"{head_term} zzzzqqqqxxxx",  # present + absent (idf COALESCE path)
    ]


def test_oracle_token_score_ignores_text_order(corpus):
    """Two docs whose text holds the same words in another order get the
    same oracle token score to the last bit, so a tie at the candidate
    LIMIT is decided by url, as an index (which keeps no word order) can."""
    import dataclasses

    page = next(p for p in corpus if len(set(p.text.split())) > 20)
    words = page.text.split()
    pages = [
        page,
        dataclasses.replace(page, url=page.url + "-reversed", text=" ".join(reversed(words))),
    ]
    oracle = OracleIndex(pages, FIXED_NOW)
    terms = list(dict.fromkeys(t for t, fld, _ in oracle.tokens[page.url] if fld == 4))
    for i in range(0, len(terms) - 2):
        rows = oracle.candidates(terms[i : i + 3], 10)
        assert len(rows) == 2 and rows[0][3] == rows[1][3], terms[i : i + 3]


def test_search_rank_identical(engine, oracle):
    for q in _queries(oracle):
        resp = engine.search(q, limit=20, offset=0)
        want_page, want_count = oracle.search(q, limit=20, offset=0)
        assert resp.count == want_count, f"count mismatch for {q!r}"
        _assert_rank_identical(
            [{"url": r.url, "score": r.score} for r in resp.results],
            [{"url": r["url"], "score": r["score"]} for r in want_page],
        )


def test_postings_wand_search_rank_identical(postings_engine, oracle):
    """Compressed-postings + block-max WAND path: same rank identity."""
    for q in _queries(oracle):
        resp = postings_engine.search(q, limit=20, offset=0)
        want_page, want_count = oracle.search(q, limit=20, offset=0)
        assert resp.count == want_count, f"count mismatch for {q!r}"
        _assert_rank_identical(
            [{"url": r.url, "score": r.score} for r in resp.results],
            [{"url": r["url"], "score": r["score"]} for r in want_page],
        )


def test_postings_wand_pagination(postings_engine, oracle):
    by_df = sorted(oracle.doc_frequency.items(), key=lambda kv: (-kv[1], kv[0]))
    q = by_df[0][0]
    for limit, offset in [(5, 0), (20, 40)]:
        resp = postings_engine.search(q, limit=limit, offset=offset)
        want_page, want_count = oracle.search(q, limit=limit, offset=offset)
        assert resp.count == want_count, (limit, offset)
        _assert_rank_identical(
            [{"url": r.url, "score": r.score} for r in resp.results],
            [{"url": r["url"], "score": r["score"]} for r in want_page],
        )


def test_search_pagination(engine, oracle):
    by_df = sorted(oracle.doc_frequency.items(), key=lambda kv: (-kv[1], kv[0]))
    q = by_df[0][0]
    for limit, offset in [(5, 0), (5, 5), (20, 40), (100, 150)]:
        resp = engine.search(q, limit=limit, offset=offset)
        want_page, want_count = oracle.search(q, limit=limit, offset=offset)
        assert resp.count == want_count, (limit, offset)
        _assert_rank_identical(
            [{"url": r.url, "score": r.score} for r in resp.results],
            [{"url": r["url"], "score": r["score"]} for r in want_page],
        )


def test_empty_and_stopword_queries(engine):
    assert engine.search("", 20, 0).results == []
    assert engine.search("the and of", 20, 0).count == 0
