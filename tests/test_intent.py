"""The intent re-rank in Python (in-memory serving) equals the Column
expression (Spark serving) on the same candidate rows."""

import math
import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from search_engine_spark.query.analysis import compact_text, normalize_text, search_context
from search_engine_spark.query.intent import doc_fields, intent_score_col, intent_score_fields

ROWS = [
    # (token_score, matched_terms, title, description, url)
    (3.5, 2, None, None, "https://example.com/a"),  # null title and description
    (1.25, 1, "Other", "nothing", "https://example.com/spark-table/x"),  # phrase in url
    (0.75, 2, "Docs", "misc", "https://sparktable.io/"),  # compact-url hit
    (7.0, 2, "Spark Table guide", "a spark table, explained", "https://x.org/spark"),
    (0.0, 1, "TABLE of Spark!", "Spark-table tips", "https://x.org/tables?spark=1"),
    (-2.0, 0, "", "", "https://x.org/"),  # negative token score clamps at 0
]


@pytest.mark.parametrize("q", ["Spark table", "spark", "the spark tables"])
def test_python_intent_score_equals_column(spark, q):
    ctx = search_context(q, 20, 0)
    df = spark.createDataFrame(
        ROWS,
        "token_score double, matched_terms int, title string, description string, url string",
    )
    got = [
        r["score"]
        for r in df.withColumn("score", intent_score_col(ctx)).select("score").collect()
    ]
    precomputed = [intent_score_fields(ctx, s, m, doc_fields(t, d, u)) for s, m, t, d, u in ROWS]
    assert got == pytest.approx(precomputed, rel=1e-9, abs=1e-9)


def _set_based_intent_score(ctx, token_score, matched_terms, title, description, url):
    """The intent score with token sets built per row by the Column's
    ``[a-z0-9]{2,}`` runs: the reference for the padded-text fields."""
    title, description, url = title or "", description or "", url or ""
    score = math.log1p(max(float(token_score), 0.0)) * 12.0
    if ctx.total_terms:
        score = score + matched_terms / ctx.total_terms * 25.0
        if matched_terms == ctx.total_terms:
            score = score + 40.0
    compact_url = compact_text(url)
    if ctx.query_phrase:
        for text, bonus in ((title, 140.0), (url, 70.0), (description, 25.0)):
            if ctx.query_phrase in normalize_text(text):
                score = score + bonus
    if ctx.query_compact and ctx.query_compact in compact_url:
        score = score + 90.0
    words = ctx.query_words
    title_hits = sum(1 for w in words if w in set(re.findall("[a-z0-9]{2,}", title.lower())))
    url_hits = sum(1 for w in words if w in set(re.findall("[a-z0-9]{2,}", url.lower())))
    c_hits = sum(1 for w in words if w in compact_url) if compact_url else 0
    score = score + title_hits * 22.0
    score = score + url_hits * 16.0
    score = score + c_hits * 12.0
    if words:
        n = len(words)
        for hits, bonus in ((title_hits, 80.0), (url_hits, 55.0), (c_hits, 45.0)):
            if hits == n:
                score = score + bonus
    return score


# pieces that are, contain or straddle the query words, joined by
# separators that normalize to a space, to nothing or to a non-ASCII letter
_PIECES = ["ab", "aab", "ab1", "ba", "a", "1", "AB", "Éab", "ab\u212a", "_ab", "abab"]
_SEPS = [" ", "-", "/", "?", "=", "", "İ", ".", "é"]
_TEXT = st.one_of(
    st.none(),
    st.lists(st.tuples(st.sampled_from(_PIECES), st.sampled_from(_SEPS)), max_size=6).map(
        lambda parts: "".join(p + s for p, s in parts)
    ),
)


@given(
    q=st.lists(st.sampled_from(["ab", "ba", "aab", "ab1", "abab", "the"]), min_size=1, max_size=3).map(
        " ".join
    ),
    token_score=st.floats(min_value=-5, max_value=50),
    matched=st.integers(min_value=0, max_value=3),
    title=_TEXT,
    description=_TEXT,
    url=_TEXT,
)
@settings(max_examples=300, deadline=None)
def test_precomputed_fields_equal_set_based_score(q, token_score, matched, title, description, url):
    """Phrase and token hits read off the padded normalized text equal the
    per-row token sets, whatever the punctuation, case or non-ASCII text."""
    ctx = search_context(q, 20, 0)
    if ctx is None:
        return
    got = intent_score_fields(ctx, token_score, matched, doc_fields(title, description, url))
    assert got == _set_based_intent_score(ctx, token_score, matched, title, description, url)
