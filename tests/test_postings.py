"""Postings build: shards reconstruct the token matrix; skew invariants."""

import pytest
from pyspark.sql import functions as F

from search_engine_spark.codec import decode_postings
from search_engine_spark.corpus import FIXED_NOW, generate_pages, pages_dataframe
from search_engine_spark.operators.documents import build_documents
from search_engine_spark.operators.postings import build_postings
from search_engine_spark.operators.tokens import build_tokens


@pytest.fixture(scope="module")
def built(docs, tokens):
    return docs, tokens


def _expected_matrix(tokens):
    rows = tokens.groupBy("term", "doc_id").agg(
        F.sum(F.when(F.col("field") == 1, F.col("frequency")).otherwise(0)).alias("f1"),
        F.sum(F.when(F.col("field") == 2, F.col("frequency")).otherwise(0)).alias("f2"),
        F.sum(F.when(F.col("field") == 4, F.col("frequency")).otherwise(0)).alias("f4"),
    ).collect()
    want = {}
    for r in rows:
        want.setdefault(r["term"], {})[r["doc_id"]] = (r["f1"], r["f2"], r["f4"])
    return want


def _decode_table(postings_rows):
    got = {}
    order_ok = True
    for r in sorted(postings_rows, key=lambda r: (r["term"], r["shard"])):
        ids, f1, f2, f4 = decode_postings(bytes(r["postings"]))
        assert ids == sorted(ids)
        assert r["df"] == len(ids)
        assert len(r["block_max"]) == len(r["block_last"]) == len(r["block_offset"])
        term = got.setdefault(r["term"], {"ids": [], "vals": {}})
        if term["ids"] and ids and ids[0] <= term["ids"][-1]:
            order_ok = False
        term["ids"].extend(ids)
        for i, d in enumerate(ids):
            term["vals"][d] = (f1[i], f2[i], f4[i])
    return got, order_ok


def test_postings_reconstruct_tokens(built):
    _, tokens = built
    want = _expected_matrix(tokens)
    rows = build_postings(tokens, n_shards=1).collect()
    got, order_ok = _decode_table(rows)
    assert order_ok
    assert set(got) == set(want)
    for term, vals in want.items():
        assert got[term]["vals"] == vals, term
        assert got[term]["ids"] == sorted(vals)


def test_sharding_splits_head_terms_and_preserves_content(built):
    _, tokens = built
    rows = build_postings(tokens, n_shards=4).collect()
    shards_per_term = {}
    for r in rows:
        shards_per_term.setdefault(r["term"], []).append(r["shard"])
    multi = [t for t, s in shards_per_term.items() if len(s) > 1]
    assert multi, "head terms should span multiple shards"
    assert all(len(set(s)) == len(s) for s in shards_per_term.values())
    got, order_ok = _decode_table(rows)
    assert order_ok, "shard ranges must concatenate in global doc order"
    want = _expected_matrix(tokens)
    for term in want:
        assert got[term]["vals"] == want[term]


def test_ctf_matches_tokens(built):
    _, tokens = built
    want = {
        r["term"]: r["ctf"]
        for r in tokens.groupBy("term").agg(F.sum("frequency").alias("ctf")).collect()
    }
    rows = build_postings(tokens, n_shards=3).collect()
    got = {}
    for r in rows:
        got[r["term"]] = got.get(r["term"], 0) + r["ctf"]
    assert got == want


def _top_terms(term_stats, n):
    return [
        r["term"]
        for r in term_stats.orderBy(F.desc("doc_frequency"), "term").limit(n).collect()
    ]


def test_search_results_invariant_under_shard_count(spark, docs, tokens, term_stats, postings3):
    """Doc-range sharding is pure layout: top-k results (urls AND scores)
    must be identical whether the index is built as one shard or five —
    the distributed-correctness property that makes the per-shard WAND +
    global top-k reduce exact. Pinned engines (served from driver memory)
    return the same pages as the unpinned (Spark) ones."""
    from search_engine_spark.query.postings_search import PostingsSearchEngine

    p1 = build_postings(tokens, n_shards=1).cache()
    p5 = build_postings(tokens, n_shards=5).cache()
    p1.count(), p5.count()
    layouts = (p1, postings3, p5)
    unpinned = [PostingsSearchEngine(docs, p, term_stats) for p in layouts]
    pinned = [
        PostingsSearchEngine(docs, p, term_stats, pin_shard_layout=True) for p in layouts
    ]

    top = _top_terms(term_stats, 5)
    queries = [top[0], f"{top[1]} {top[2]}", f"{top[0]} {top[3]} {top[4]}"]
    for q in queries:
        results = [
            ([(x.url, round(x.score, 6)) for x in resp.results], resp.count)
            for resp in (eng.search(q, 20, 0) for eng in unpinned + pinned)
        ]
        assert all(r == results[0] for r in results), f"shard-variant results for {q!r}"
    p1.unpersist(), p5.unpersist()


@pytest.fixture(scope="module")
def pinned_engine(docs, postings3, term_stats):
    from search_engine_spark.query.postings_search import PostingsSearchEngine

    # opened as load_engines opens a serving index
    return PostingsSearchEngine(
        docs, postings3, term_stats, interactive=True, pin_shard_layout=True
    )


def test_pinned_web_search_runs_no_spark_job(spark, pinned_engine, term_stats):
    from search_engine_spark.api import SearchAPI

    api = SearchAPI(pinned_engine)
    q = " ".join(_top_terms(term_stats, 2))
    want = api.web_search(q, 10, 0)  # warm
    assert want["count"] > 0
    sc = spark.sparkContext
    group = "pinned-web-search-probe"
    sc.setJobGroup(group, "a pinned search must not run a Spark job")
    try:
        assert api.web_search(q, 10, 0) == want
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_pinned_concurrent_searches_match_serial(spark, pinned_engine, term_stats):
    """Two clients searching one pinned engine at once get their serial
    answers, and the session's serving configs never change meanwhile."""
    from concurrent.futures import ThreadPoolExecutor

    top = _top_terms(term_stats, 6)
    queries = [
        (top[0], 20, 0),
        (f"{top[1]} {top[2]}", 5, 5),
        (f"{top[0]} {top[3]} {top[4]}", 10, 0),
        (top[5], 20, 40),
    ]
    serial = {q: pinned_engine.search(*q) for q in queries}
    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    conf_before = tuple(spark.conf.get(k, None) for k in keys)

    def client(order):
        return [(q, pinned_engine.search(*q)) for _ in range(20) for q in order]

    seen_conf = set()
    with ThreadPoolExecutor(max_workers=2) as pool:
        futures = [pool.submit(client, queries), pool.submit(client, queries[::-1])]
        while True:
            seen_conf.add(tuple(spark.conf.get(k, None) for k in keys))
            if all(f.done() for f in futures):
                break
        answers = [a for f in futures for a in f.result()]
    assert len(answers) == 2 * 20 * len(queries)
    for q, resp in answers:
        assert resp == serial[q], q
    assert seen_conf == {conf_before}


def test_pinned_open_rejects_documents_over_budget(docs, postings3, term_stats, monkeypatch):
    from search_engine_spark.query import postings_search as PS

    monkeypatch.setattr(PS, "MAX_SERVING_DOCUMENTS", 3)
    with pytest.raises(ValueError, match="MAX_SERVING_DOCUMENTS = 3"):
        PS.PostingsSearchEngine(docs, postings3, term_stats, pin_shard_layout=True)


def test_interactive_conf_overlapping_scopes_restore_original(
    spark, docs, tokens, term_stats, postings3
):
    """interactive_conf is reference-counted per session: an inner scope
    (a second engine's concurrent search) must not record the already-
    applied serving profile as the 'original', and the originals are
    restored only at the LAST exit — the leak mode where two overlapping
    searches left the session permanently at AQE-off/8-partitions."""
    from search_engine_spark.query.postings_search import PostingsSearchEngine

    e_a = PostingsSearchEngine(docs, postings3, term_stats, interactive=True)
    e_b = PostingsSearchEngine(docs, postings3, term_stats, interactive=True)
    conf = spark.conf
    orig_aqe = conf.get("spark.sql.adaptive.enabled", None)
    orig_parts = conf.get("spark.sql.shuffle.partitions", None)
    with e_a.interactive_conf():
        assert conf.get("spark.sql.adaptive.enabled") == "false"
        with e_b.interactive_conf():
            assert conf.get("spark.sql.adaptive.enabled") == "false"
        # inner exit keeps the profile active (outer scope still open)...
        assert conf.get("spark.sql.adaptive.enabled") == "false"
        assert conf.get("spark.sql.shuffle.partitions") == str(
            e_a.interactive_shuffle_partitions
        )
    # ...and the outer exit restores the TRUE originals, not the profile
    assert conf.get("spark.sql.adaptive.enabled", None) == orig_aqe
    assert conf.get("spark.sql.shuffle.partitions", None) == orig_parts
