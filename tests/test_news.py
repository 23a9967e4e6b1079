"""News-ingest domain: RSS/Atom parse semantics vs the reference
(news_fetcher.py), the Spark plumbing, and the url-keyed upsert."""

from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from search_engine_spark.news.feeds import (
    MAX_ITEMS_PER_FEED,
    article_tokens,
    clean_html_text,
    dedup_articles,
    feed_last_published,
    parse_datetime_rfc2822,
    parse_feed,
    parse_feed_metadata,
    parse_feeds,
    upsert_articles,
)
from search_engine_spark.news.fixtures import (
    EPOCH0,
    feed_url_of,
    item_published,
    synth_feed_xml,
    synth_feeds,
)


# --------------------------------------------------------------------------
# E6 — RFC-2822 parsing (news_fetcher.py:26-35)
# --------------------------------------------------------------------------
def test_rfc2822_parse_known_values():
    assert parse_datetime_rfc2822("Mon, 15 Jan 2024 10:30:00 +0530") == datetime(
        2024, 1, 15, 5, 0, tzinfo=timezone.utc
    )
    # naive -> assumed UTC
    assert parse_datetime_rfc2822("15 Jan 2024 10:30:00") == datetime(
        2024, 1, 15, 10, 30, tzinfo=timezone.utc
    )
    # named zone
    assert parse_datetime_rfc2822("Mon, 15 Jan 2024 10:30:00 GMT") == datetime(
        2024, 1, 15, 10, 30, tzinfo=timezone.utc
    )
    assert parse_datetime_rfc2822(None) is None
    assert parse_datetime_rfc2822("") is None
    assert parse_datetime_rfc2822("not a date") is None


# --------------------------------------------------------------------------
# E21 — entity strip (news_fetcher.py:43-47)
# --------------------------------------------------------------------------
def test_clean_html_text():
    assert clean_html_text("a &amp; b") == "a & b"
    assert clean_html_text("x &#8212; y") == "x — y"
    assert clean_html_text("<p>Hello <b>world</b></p>") == "Hello world"
    assert clean_html_text("") == ""
    assert clean_html_text("  already   clean  ") == "already clean"


# --------------------------------------------------------------------------
# feed parsing: fields, fallbacks, caps, skips
# --------------------------------------------------------------------------
def test_parse_rss_feed_fields():
    fid = 2
    meta, items = parse_feed(feed_url_of(fid), synth_feed_xml(fid, 6))
    assert meta["name"] == f"Example feed {fid}"
    assert meta["link"] == f"https://news{fid}.example/"
    # linkless + oversized-url items are skipped
    assert len(items) == 6
    first = items[0]
    # relative link resolved against the feed url (urljoin keeps feed host)
    assert first["url"] == f"https://feeds.example/story/{fid}/0"
    assert first["title"] == f"Feed {fid} story 0"
    # entity-stripped description: &amp; -> &, <b> tag removed, &#8212; ->
    # em-dash; &lt;draft&gt; unescapes to a tag shape and is then dropped
    # (the reference's BeautifulSoup get_text does the same)
    assert first["description"] == "Lead & summary no. 0 — stats"
    assert first["author"] == "reporter0@example.com"
    assert items[1]["author"] == "Desk 1"  # dc:creator fallback
    # media:content image resolved + normalized against feed url
    assert first["image_url"].startswith("https://feeds.example/img/")
    assert items[1]["image_url"] == "https://cdn.example/e1.png"  # enclosure
    assert items[2]["image_url"] == ""  # none planted
    # pubDate with a non-utc offset round-trips to the exact instant
    assert first["published_at"] == item_published(fid, 0)
    assert items[3]["published_at"] == item_published(fid, 3)


def test_parse_atom_feed_fields():
    fid = 3
    meta, items = parse_feed(feed_url_of(fid), synth_feed_xml(fid, 4))
    assert meta["name"] == f"Atom feed {fid}"
    assert len(items) == 4
    e = items[0]
    assert e["url"] == f"https://news{fid}.example/a/0"
    assert e["author"] == "Writer 0"
    assert e["content"].startswith("Entry body 0")
    assert e["published_at"] == item_published(fid, 0)


def test_items_per_feed_cap():
    meta, items = parse_feed(feed_url_of(0), synth_feed_xml(0, 55))
    assert len(items) == MAX_ITEMS_PER_FEED


def test_malformed_xml_yields_empty():
    meta, items = parse_feed("https://x/f.xml", "<rss><channel>")
    assert items == [] and meta["last_published"] is None


# --------------------------------------------------------------------------
# A9 — last_published promotion (news_fetcher.py:190-195)
# --------------------------------------------------------------------------
def test_meta_promotes_max_item_date():
    fid = 2
    meta, items = parse_feed(feed_url_of(fid), synth_feed_xml(fid, 6))
    assert meta["declared_last_published"] < EPOCH0  # fixture plants it stale
    assert meta["last_published"] == max(i["published_at"] for i in items)


def test_declared_wins_when_newer():
    xml = """<?xml version="1.0"?>
<rss version="2.0"><channel>
  <title>t</title><link>https://h/</link>
  <lastBuildDate>Mon, 01 Jan 2029 00:00:00 +0000</lastBuildDate>
  <item><title>a</title><link>https://h/a</link>
    <pubDate>Mon, 01 Jan 2024 00:00:00 +0000</pubDate></item>
</channel></rss>"""
    meta, _ = parse_feed("https://h/rss", xml)
    assert meta["last_published"].year == 2029


# --------------------------------------------------------------------------
# Spark plumbing: parse_feeds / metadata / A9 aggregate / tokens / upsert
# --------------------------------------------------------------------------
@pytest.fixture(scope="module")
def feeds_df(spark):
    return spark.createDataFrame(synth_feeds(6, 6), "feed_url string, xml string")


def test_parse_feeds_df_matches_pure_parser(spark, feeds_df):
    got = {
        (r["url"], r["feed_url"], r["published_at_s"])
        for r in parse_feeds(feeds_df).collect()
    }
    want = set()
    for feed_url, xml in synth_feeds(6, 6):
        for it in parse_feed(feed_url, xml)[1]:
            p = it["published_at"]
            want.add((it["url"], feed_url, int(p.timestamp()) if p else None))
    assert got == want


def test_feed_last_published_aggregate_matches_parser_promotion(spark, feeds_df):
    meta = parse_feed_metadata(feeds_df)
    arts = parse_feeds(feeds_df)
    # the relational A9 (greatest over declared + max item) must equal the
    # sequential promotion the parser already applied
    agg = {
        r["feed_url"]: r["last_published_s"]
        for r in feed_last_published(meta, arts).collect()
    }
    seq = {
        r["feed_url"]: r["last_published_s"] for r in meta.collect()
    }
    assert agg == seq


def test_article_tokens_are_stemmed_field4(spark, feeds_df):
    toks = article_tokens(parse_feeds(feeds_df))
    rows = toks.filter(F.col("article_url").like("%/a/0")).collect()
    assert rows and all(r["field"] == 4 for r in rows)
    terms = {r["term"] for r in rows}
    # 'entry' stems to 'entri' (Porter) — proves the shared tokenizer runs
    assert "entri" in terms and "queri" in terms


def test_upsert_articles_coalesce_semantics(spark):
    cols = "url string, feed_url string, title string, description string, content string, author string, published_at_s long, image_url string"
    old = spark.createDataFrame(
        [
            ("u1", "f1", "Old title", "old desc", "old content", "A", 100, "img1"),
            ("u2", "f1", "Keep", "d", "c", "B", 200, ""),
        ],
        cols,
    )
    new = spark.createDataFrame(
        [
            # empty strings must NOT overwrite; null published falls back
            ("u1", "f1", "", "new desc", "", "", None, "img2"),
            ("u3", "f2", "Brand new", "", "", "C", 300, ""),
        ],
        cols,
    )
    got = {r["url"]: r for r in upsert_articles(old, new).collect()}
    assert set(got) == {"u1", "u2", "u3"}
    assert got["u1"]["title"] == "Old title"          # '' did not overwrite
    assert got["u1"]["description"] == "new desc"     # non-empty did
    assert got["u1"]["content"] == "old content"
    assert got["u1"]["author"] == "A"
    assert got["u1"]["published_at_s"] == 100         # null fell back
    assert got["u1"]["image_url"] == "img2"
    assert got["u2"]["title"] == "Keep"               # untouched row survives
    assert got["u3"]["title"] == "Brand new"          # insert path


_ARTICLE_COLS = (
    "url string, feed_url string, title string, description string, "
    "content string, author string, published_at_s long, image_url string"
)


def test_upsert_keeps_original_feed_attribution(spark):
    """The reference's ON CONFLICT update list omits feed_url
    (news_fetcher.py:269-283): a story re-fetched via a second feed stays
    credited to the feed that first carried it."""
    old = spark.createDataFrame(
        [("u1", "f-orig", "T", "d", "c", "A", 100, "i")], _ARTICLE_COLS
    )
    new = spark.createDataFrame(
        [
            ("u1", "f-other", "T2", "d2", "c2", "B", 200, "i2"),
            ("u9", "f-other", "New", "", "", "", 300, ""),
        ],
        _ARTICLE_COLS,
    )
    got = {r["url"]: r for r in upsert_articles(old, new).collect()}
    assert got["u1"]["feed_url"] == "f-orig"   # conflict: original kept
    assert got["u1"]["title"] == "T2"          # other columns still merge
    assert got["u9"]["feed_url"] == "f-other"  # insert: incoming attribution


def test_dedup_articles_merges_in_batch_duplicates(spark):
    """One batch carrying the same story twice (two feeds syndicating it)
    must collapse to ONE url-unique row with the ON CONFLICT column
    invariants: non-empty beats empty, null published falls back,
    deterministic under any row order."""
    rows = [
        # same url from two feeds: fa has title but empty desc, fb reverse
        ("u1", "fb", "", "desc-b", "cont-b", "", None, ""),
        ("u1", "fa", "title-a", "", "", "auth-a", 500, "img-a"),
        # repeated item inside one feed
        ("u2", "fa", "only", "", "", "", None, ""),
        ("u2", "fa", "only", "", "", "", None, ""),
        ("u3", "fc", "solo", "d", "c", "x", 9, "i"),
    ]
    for perm in (rows, list(reversed(rows))):
        out = dedup_articles(spark.createDataFrame(perm, _ARTICLE_COLS))
        got = {r["url"]: r for r in out.collect()}
        assert sorted(got) == ["u1", "u2", "u3"]
        assert got["u1"]["title"] == "title-a"       # non-empty wins
        assert got["u1"]["description"] == "desc-b"  # from the other dup
        assert got["u1"]["content"] == "cont-b"
        assert got["u1"]["author"] == "auth-a"
        assert got["u1"]["published_at_s"] == 500    # non-null wins
        assert got["u1"]["image_url"] == "img-a"
        # feed_url: first row in the canonical (full-row) order — fa < fb
        assert got["u1"]["feed_url"] == "fa"
        assert got["u2"]["title"] == "only"
        assert got["u2"]["published_at_s"] is None   # all-null stays null
        assert got["u3"]["title"] == "solo"          # unique rows untouched


def test_upsert_articles_dedups_incoming(spark):
    """A duplicated incoming url must not write duplicate rows (which would
    make the NEXT cycle's url join fan out and multiply articles)."""
    old = spark.createDataFrame(
        [("u1", "f1", "Old", "od", "oc", "A", 100, "oi")], _ARTICLE_COLS
    )
    new = spark.createDataFrame(
        [
            ("u1", "f2", "", "nd", "", "", None, ""),
            ("u1", "f3", "nt", "", "nc", "", 700, ""),
        ],
        _ARTICLE_COLS,
    )
    out = upsert_articles(old, new).collect()
    assert len(out) == 1                       # url stays unique
    r = out[0]
    assert r["feed_url"] == "f1"               # original attribution
    assert r["title"] == "nt" and r["description"] == "nd"
    assert r["content"] == "nc" and r["author"] == "A"
    assert r["published_at_s"] == 700


def test_build_news_tables_first_write_dedups(spark, tmp_path):
    """The initial replace path must be url-unique too: the same story in
    two fixture feeds collapses on first write."""
    from search_engine_spark.news.pipeline import ARTICLES, build_news_tables

    xml = synth_feed_xml(2, 2)
    # two different feed rows carrying byte-identical items -> same urls
    feeds = spark.createDataFrame(
        [(feed_url_of(2), xml), ("https://feeds.example/mirror", xml)],
        "feed_url string, xml string",
    )
    counts = build_news_tables(spark, feeds, str(tmp_path))
    arts = spark.read.parquet(str(tmp_path / ARTICLES))
    urls = [r["url"] for r in arts.select("url").collect()]
    assert len(urls) == len(set(urls)), "duplicate urls on first write"
    assert counts[ARTICLES] == len(set(urls))


# ---------------------------------------------------------------------------
# News search engine (/search/news lifecycle) + API tools
# ---------------------------------------------------------------------------
def test_news_search_end_to_end(spark, feeds_df, term_stats):
    from search_engine_spark.api import SearchAPI
    from search_engine_spark.query.news_search import NewsSearchEngine

    articles = parse_feeds(feeds_df).cache()
    toks = article_tokens(articles).cache()
    engine = NewsSearchEngine(articles, toks, term_stats)

    resp = engine.search("data query spark", limit=10)
    assert resp.results, "atom entries carry 'data query spark' vocabulary"
    scores = [r.score for r in resp.results]
    assert scores == sorted(scores, reverse=True)
    # every result earned the flat news bonus on top of a >= 0 intent score
    assert all(s >= 8.0 for s in scores)
    # all-terms-matched articles outrank partial matches
    assert resp.results[0].url.startswith("https://news")
    assert resp.results[0].published_at_s is not None

    # equal-score ties (if any) are url-ascending — and the markdown tool
    # renders the reference block format
    api = SearchAPI(engine=None, news=engine)
    md = api.search_news("data query spark", limit=3)
    assert md.startswith("[https://")
    assert md.count("[") == 3

    js = api.news_search("data query spark", limit=2)
    assert js["count"] >= len(js["results"]) == 2
    assert set(js["results"][0]) == {
        "title", "description", "url", "score", "author", "published_at_s"
    }
    articles.unpersist()
    toks.unpersist()


def test_news_search_empty_and_missing_engine(spark, term_stats, feeds_df):
    from search_engine_spark.api import SearchAPI
    from search_engine_spark.query.news_search import NewsSearchEngine

    articles = parse_feeds(feeds_df)
    engine = NewsSearchEngine(articles, article_tokens(articles), term_stats)
    assert engine.search("").results == []
    assert engine.search("zzzznotaword").results == []
    api = SearchAPI(engine=None)
    assert api.search_news("x") == ""
    assert api.news_search("x") == {"results": [], "count": 0}


def test_news_token_score_is_a_term_order_fold(spark):
    """Two articles with equal frequencies for three terms score == however
    their token rows arrive, and the tie goes to the smaller url."""
    import math

    from search_engine_spark.query.news_search import NewsSearchEngine
    from search_engine_spark.tokenizer import tokenize

    q = "data query spark"
    terms = sorted(tokenize(q))
    # (0.1 + 0.2) + 0.3 != (0.3 + 0.2) + 0.1: the sum depends on its order
    idf = dict(zip(terms, (0.1, 0.2, 0.3)))
    first, second = "https://news.example/a", "https://news.example/b"
    # one partition; the first url's rows arrive in reverse term order
    tokens = spark.createDataFrame(
        [(first, t, 4, 1) for t in reversed(terms)]
        + [(second, t, 4, 1) for t in terms],
        "article_url string, term string, field short, frequency int",
    ).coalesce(1)
    articles = spark.createDataFrame(
        [(u, "title", "", None, None) for u in (first, second)],
        "url string, title string, description string, author string, "
        "published_at_s long",
    )
    stats = spark.createDataFrame(list(idf.items()), "term string, idf double")
    fold = 0.0
    for t in terms:
        fold += idf[t]

    resp = NewsSearchEngine(articles, tokens, stats).search(q)
    assert [r.url for r in resp.results] == [first, second]
    # no query word is in a title or url, so past the fold's log1p the
    # intent score adds only full coverage (25 + 40), then the 8.0 bonus
    want = math.log1p(fold) * 12.0 + 25.0 + 40.0 + 8.0
    assert [r.score for r in resp.results] == [want, want]


def _news_frame(spark, articles, tokens, stats=()):
    from search_engine_spark.query.news_search import NewsSearchEngine

    return NewsSearchEngine(
        spark.createDataFrame(
            articles,
            "url string, title string, description string, author string, "
            "published_at_s long",
        ),
        spark.createDataFrame(
            tokens, "article_url string, term string, field short, frequency int"
        ),
        spark.createDataFrame(list(stats), "term string, idf double"),
    )


def test_news_search_runs_no_spark_job(spark, feeds_df, term_stats):
    """After construction a news search is driver-memory work only."""
    from search_engine_spark.query.news_search import NewsSearchEngine

    articles = parse_feeds(feeds_df)
    engine = NewsSearchEngine(articles, article_tokens(articles), term_stats)
    sc = spark.sparkContext
    group = "news-search-jobs"
    sc.setJobGroup(group, "a news search must not run a Spark job")
    try:
        for q, limit, offset in (("data query spark", 20, 0), ("story", 5, 3), ("zzzz", 5, 0)):
            engine.search(q, limit, offset)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def _reference_news_search(articles, tokens, idf, q, limit, offset):
    """/search/news by hand: flat tf*idf folded in term order over each
    article's token rows, the oracle's intent score + 8.0, (score desc, url
    asc), and the reference count formula."""
    from search_engine_spark import oracle

    ctx = oracle.search_context(q, limit, offset)
    if ctx is None:
        return [], 0
    wanted = set(ctx["query_terms"])
    rows_by_url = {}
    for url, term, frequency in tokens:
        if url in articles and term in wanted:
            rows_by_url.setdefault(url, []).append((term, frequency))
    candidates = []
    for url, rows in rows_by_url.items():
        token_score = 0.0
        for term, frequency in sorted(rows):
            weight = idf.get(term)
            token_score += frequency * (1.0 if weight is None else weight)
        candidates.append((token_score, len(rows), url))
    candidates.sort(key=lambda c: (-c[0], c[2]))
    ranked = []
    for token_score, matched, url in candidates[: ctx["candidate_limit"]]:
        title, description = articles[url]
        score = oracle.intent_score(
            token_score=token_score,
            matched_terms=matched,
            total_terms=ctx["total_terms"],
            query_phrase=ctx["query_phrase"],
            query_compact=ctx["query_compact"],
            query_words=ctx["query_words"],
            title=title or "",
            description=description or "",
            url=url,
        )
        ranked.append((score + 8.0, url))
    ranked.sort(key=lambda r: (-r[0], r[1]))
    page = ranked[offset : offset + limit]
    return page, max(len(ranked), offset + len(page))


def test_news_search_matches_a_pure_python_reference(spark, feeds_df, term_stats):
    import math

    from search_engine_spark.query.news_search import NewsSearchEngine

    articles_df = parse_feeds(feeds_df).cache()
    tokens_df = article_tokens(articles_df).cache()
    engine = NewsSearchEngine(articles_df, tokens_df, term_stats)
    articles = {
        r["url"]: (r["title"], r["description"])
        for r in articles_df.select("url", "title", "description").collect()
    }
    assert len(articles) == 80
    tokens = [
        (r["article_url"], r["term"], r["frequency"])
        for r in tokens_df.select("article_url", "term", "frequency").collect()
    ]
    idf = {r["term"]: r["idf"] for r in term_stats.select("term", "idf").collect()}
    df = {}
    for _, term, _ in tokens:
        df[term] = df.get(term, 0) + 1
    by_df = sorted(df, key=lambda t: (-df[t], t))
    some_title = next(iter(articles.values()))[0]
    queries = [
        by_df[0],  # the commonest term
        by_df[len(by_df) // 2],
        by_df[-1],  # a rare term
        f"{by_df[0]} {by_df[3]} {by_df[len(by_df) // 2]}",
        "data query spark",
        some_title,  # verbatim title: phrase bonus
        some_title.upper(),
        "the and of to",  # stopwords only: empty
        "zzzzqqqqxxxx",  # unknown word: empty
        f"{by_df[1]} zzzzqqqqxxxx",  # known + unknown (idf 1.0 path)
    ]
    hits = 0
    for q in queries:
        for limit, offset in ((20, 0), (5, 3), (3, 10), (100, 0)):
            resp = engine.search(q, limit, offset)
            want, want_count = _reference_news_search(articles, tokens, idf, q, limit, offset)
            assert resp.count == want_count, (q, limit, offset)
            assert [r.url for r in resp.results] == [u for _, u in want], (q, limit, offset)
            for r, (score, _) in zip(resp.results, want):
                assert math.isclose(r.score, score, rel_tol=1e-12), (q, r.url)
            hits += len(want)
    assert hits > 0
    articles_df.unpersist()
    tokens_df.unpersist()


def test_news_engine_joins_tokens_to_articles(spark):
    """A token row of a missing article is dropped and an article without
    token rows never matches; a duplicate article url is an error."""
    known = ("https://news.example/known", "Known story", "", None, 7)
    quiet = ("https://news.example/quiet", "Quiet data story", "", None, None)
    engine = _news_frame(
        spark,
        [known, quiet],
        [(known[0], "data", 4, 2), ("https://news.example/gone", "data", 4, 5)],
    )
    resp = engine.search("data", limit=10)
    assert [r.url for r in resp.results] == [known[0]]
    assert resp.count == 1
    assert resp.results[0].published_at_s == 7
    with pytest.raises(ValueError, match="one row per url"):
        _news_frame(spark, [known, known], [(known[0], "data", 4, 2)])
    with pytest.raises(ValueError, match="one row per"):
        _news_frame(spark, [known], [(known[0], "data", 4, 2), (known[0], "data", 4, 1)])


def test_news_engine_over_serving_budget_raises(spark, feeds_df, term_stats, monkeypatch):
    from search_engine_spark.query import postings_search
    from search_engine_spark.query.news_search import NewsSearchEngine

    articles = parse_feeds(feeds_df)
    monkeypatch.setattr(postings_search, "MAX_SERVING_DOCUMENTS", 79)
    with pytest.raises(ValueError, match="MAX_SERVING_DOCUMENTS = 79"):
        NewsSearchEngine(articles, article_tokens(articles), term_stats)


# ---------------------------------------------------------------------------
# Persisted news build + loader (batch analog of the fetch cycle)
# ---------------------------------------------------------------------------
def test_build_news_tables_and_reload(spark, tmp_path):
    from search_engine_spark.news.pipeline import build_news_tables, load_news_engine

    out = str(tmp_path / "news")
    feeds = spark.createDataFrame(synth_feeds(4, 5), "feed_url string, xml string")
    counts = build_news_tables(spark, feeds, out)
    assert counts["articles"] > 0
    assert counts["feed_metadata"] == 4
    assert counts["article_tokens"] > counts["articles"]

    engine = load_news_engine(spark, out)  # no web index: idf -> 1.0
    resp = engine.search("data query spark", limit=5)
    assert resp.results and all(r.score >= 8.0 for r in resp.results)

    # second cycle with an overlapping batch: upsert keeps table url-unique
    counts2 = build_news_tables(spark, feeds, out)
    assert counts2["articles"] == counts["articles"]
    arts = spark.read.parquet(f"{out}/articles")
    assert arts.count() == arts.select("url").distinct().count()


def test_load_news_engine_opens_term_statistics_through_its_marker(spark, tmp_path):
    """The shared idf table is read from the files its commit marker names;
    an index root without the table keeps idf 1.0, and a table whose marker
    was cleared for a rewrite is not opened."""
    from search_engine_spark.news.pipeline import build_news_tables, load_news_engine
    from search_engine_spark.pipeline.checkpoints import CheckpointLog

    out, index_root = str(tmp_path / "news"), str(tmp_path / "index")
    feeds = spark.createDataFrame(synth_feeds(2, 3), "feed_url string, xml string")
    build_news_tables(spark, feeds, out)
    q = "data query spark"
    plain = [(r.url, r.score) for r in load_news_engine(spark, out).search(q).results]
    assert plain
    assert [
        (r.url, r.score) for r in load_news_engine(spark, out, index_root).search(q).results
    ] == plain  # no term_statistics under the index root: idf 1.0

    stats_dir = str(tmp_path / "index" / "term_statistics")
    spark.createDataFrame(
        [("data", 1, 5.0, 1.0, 1), ("queri", 1, 3.0, 1.0, 1)],
        "term string, doc_frequency long, idf double, avg_doc_len double, ctf long",
    ).coalesce(1).write.parquet(stats_dir)
    log = CheckpointLog(index_root)
    log.record("term_statistics", "fp", stats_dir, 0)
    weighted = [(r.url, r.score) for r in load_news_engine(spark, out, index_root).search(q).results]
    assert sorted(u for u, _ in weighted) == sorted(u for u, _ in plain)
    pairs = list(zip(sorted(weighted), sorted(plain)))
    assert all(w >= p for (_, w), (_, p) in pairs) and any(w > p for (_, w), (_, p) in pairs)

    log.clear("term_statistics")
    with pytest.raises(ValueError, match="'term_statistics' has no commit marker"):
        load_news_engine(spark, out, index_root)


# ---------------------------------------------------------------------------
# Hostile-input hardening: at 100 TB the parser sees arbitrary broken web
# XML — it must never raise, only produce fewer items.
# ---------------------------------------------------------------------------
from hypothesis import given, settings
from hypothesis import strategies as st

_xmlish = st.text(
    alphabet=st.sampled_from(list("<>/&;=\"' \n\tabcdefP6rslitemnkudpv0123456789-:%")),
    max_size=400,
)


@settings(max_examples=300, deadline=None)
@given(_xmlish)
def test_parse_feed_never_raises_on_garbage(payload):
    meta, items = parse_feed("https://f.example/rss", payload)
    assert isinstance(items, list)
    assert meta["feed_url"] == "https://f.example/rss"


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=200))
def test_parse_feed_never_raises_on_binary_noise(payload):
    text = payload.decode("utf-8", errors="replace")
    meta, items = parse_feed("https://f.example/rss", text)
    assert isinstance(items, list)


@settings(max_examples=200, deadline=None)
@given(_xmlish, _xmlish)
def test_clean_html_and_rfc2822_never_raise(a, b):
    assert isinstance(clean_html_text(a), str)
    assert parse_datetime_rfc2822(b) is None or parse_datetime_rfc2822(b).tzinfo is not None


def test_parse_feed_item_level_damage_is_isolated():
    """One malformed item must not take down the siblings... within XML
    well-formedness: ElementTree rejects non-well-formed documents whole
    (unlike the reference's lenient BeautifulSoup — documented difference),
    so damage isolation is at the ITEM-CONTENT level: bad dates, bad urls,
    bad entities in one item leave the others parsed."""
    xml = """<?xml version="1.0"?>
<rss version="2.0"><channel><title>t</title><link>https://h/</link>
  <item><title>bad date</title><link>https://h/a</link>
    <pubDate>not a date at all</pubDate></item>
  <item><title>bad link</title><link>ht!tp://:::</link></item>
  <item><title>good</title><link>https://h/b</link>
    <pubDate>Mon, 01 Jan 2024 00:00:00 +0000</pubDate></item>
</channel></rss>"""
    _, items = parse_feed("https://h/rss", xml)
    urls = [i["url"] for i in items]
    assert "https://h/b" in urls
    bad_date = next(i for i in items if i["title"] == "bad date")
    assert bad_date["published_at"] is None  # unparseable date -> None, kept


def test_broken_envelope_salvages_wellformed_items():
    """Tag-soup recovery: a feed whose envelope is not well-formed (stray
    '&', unclosed channel) still yields its parseable items."""
    xml = """<?xml version="1.0"?>
<rss version="2.0"><channel><title>Busted & broken</title>
  <item><title>ok one</title><link>https://h/1</link>
    <pubDate>Mon, 01 Jan 2024 00:00:00 +0000</pubDate></item>
  <item><title>broken <b>inside</title><link>https://h/2</link></item>
  <item><title>ok two</title><link>https://h/3</link></item>
"""
    meta, items = parse_feed("https://h/rss", xml)
    urls = {i["url"] for i in items}
    assert urls == {"https://h/1", "https://h/3"}  # the broken item skipped
    assert meta["last_published"] is not None  # promoted from salvaged items


def test_run_news_stream_incremental(spark, tmp_path):
    """Two feed-XML drops -> two micro-batch cycles: the articles table
    ends url-unique with both batches' articles, and restarting from the
    checkpoint reprocesses nothing."""
    import os

    from search_engine_spark.news.pipeline import run_news_stream

    src = str(tmp_path / "feeds_src")
    out = str(tmp_path / "news")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)

    batch1 = spark.createDataFrame(synth_feeds(2, 4), "feed_url string, xml string")
    batch1.coalesce(1).write.mode("append").parquet(src)
    run_news_stream(spark, src, out, ckpt)
    n1 = spark.read.parquet(f"{out}/articles").count()
    assert n1 > 0

    # second drop: one overlapping feed (upsert) + one new feed (insert)
    rows = [(feed_url_of(1), synth_feed_xml(1, 4)), (feed_url_of(9), synth_feed_xml(9, 3))]
    spark.createDataFrame(rows, "feed_url string, xml string").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run_news_stream(spark, src, out, ckpt)
    arts = spark.read.parquet(f"{out}/articles")
    n2 = arts.count()
    assert n2 == n1 + 3  # only feed 9's articles are new urls
    assert arts.count() == arts.select("url").distinct().count()

    # replay with nothing new: checkpoint prevents reprocessing
    run_news_stream(spark, src, out, ckpt)
    assert spark.read.parquet(f"{out}/articles").count() == n2
