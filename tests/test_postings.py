"""Postings build: shards reconstruct the token matrix; skew invariants."""

import pytest
from pyspark.sql import functions as F

from search_engine_spark.codec import decode_postings, encode_postings
from search_engine_spark.corpus import FIXED_NOW, generate_pages, pages_dataframe
from search_engine_spark.operators.documents import build_documents
from search_engine_spark.operators.postings import (
    MAP_TERM,
    POSTINGS_SCHEMA,
    build_postings,
    map_ids,
    shard_col,
)
from search_engine_spark.operators.term_stats import idf_py
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


def _shard_maps(postings_rows):
    """shard -> its doc ids by ordinal, from the MAP_TERM rows."""
    return {
        r["shard"]: map_ids(bytes(r["postings"])).tolist()
        for r in postings_rows
        if r["term"] == MAP_TERM
    }


def _decode_table(postings_rows):
    """Every term's postings, ordinals mapped to doc ids through the map."""
    maps = _shard_maps(postings_rows)
    got = {}
    order_ok = True
    for r in sorted(postings_rows, key=lambda r: (r["term"], r["shard"])):
        if r["term"] == MAP_TERM:
            continue
        ordinals, f1, f2, f4 = decode_postings(bytes(r["postings"]))
        ids = [maps[r["shard"]][o] for o in ordinals]
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
        if r["term"] != MAP_TERM:
            got[r["term"]] = got.get(r["term"], 0) + r["ctf"]
    assert got == want


def test_one_ordinal_map_row_per_shard(built):
    """Each shard has one MAP_TERM row: df = ctf = 0, empty skip arrays, and
    the shard's token doc ids, each once, ascending (ordinal = rank)."""
    _, tokens = built
    want = {}
    for r in tokens.select(shard_col(3).alias("shard"), "doc_id").distinct().collect():
        want.setdefault(r["shard"], []).append(r["doc_id"])
    rows = [r for r in build_postings(tokens, n_shards=3).collect() if r["term"] == MAP_TERM]
    assert sorted(r["shard"] for r in rows) == sorted(want) == [0, 1, 2]
    for r in rows:
        assert (r["df"], r["ctf"]) == (0, 0)
        assert r["block_max"] == r["block_last"] == r["block_offset"] == []
        assert map_ids(bytes(r["postings"])).tolist() == sorted(want[r["shard"]])


def test_build_postings_rejects_the_map_term(spark):
    tokens = spark.createDataFrame(
        [(1, "alpha", 4, 1), (2, MAP_TERM, 4, 1)],
        "doc_id long, term string, field short, frequency int",
    )
    with pytest.raises(ValueError, match="reserved term"):
        build_postings(tokens, n_shards=1)


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


def _wand_search(postings_rows, docs_by_id, idf, q, limit, offset):
    """The pinned search as block-max WAND per shard plus the raw-row intent
    score: the reference the array scorer must equal to the bit."""
    from search_engine_spark.query.analysis import search_context
    from search_engine_spark.query.intent import intent_score
    from search_engine_spark.query.wand import TermPostings, score_shard_wand

    ctx = search_context(q, limit, offset)
    maps = _shard_maps(postings_rows)
    by_shard = {}
    for r in postings_rows:
        if r["term"] in ctx.query_terms:
            by_shard.setdefault(r["shard"], []).append(
                TermPostings(
                    r["term"],
                    idf.get(r["term"], 1.0),
                    bytes(r["postings"]),
                    list(r["block_max"]),
                    list(r["block_last"]),
                    list(r["block_offset"]),
                )
            )
    candidates = [
        (*docs_by_id[maps[shard][o]], s, m)
        for shard, entries in by_shard.items()
        for o, s, m in score_shard_wand(entries, ctx.candidate_limit)
        if maps[shard][o] in docs_by_id
    ]
    candidates.sort(key=lambda c: (-c[3], c[2]))
    ranked = sorted(
        (
            (t, d, u, intent_score(ctx, s, m, t, d, u))
            for t, d, u, s, m in candidates[: ctx.candidate_limit]
        ),
        key=lambda r: (-r[3], r[2]),
    )
    page = [(t or "", d or "", u, s) for t, d, u, s in ranked[offset : offset + limit]]
    return page, max(len(ranked), offset + len(page))


def _answer(resp):
    return [(r.title, r.description, r.url, r.score) for r in resp.results], resp.count


def _oracle_idf(docs, term_stats):
    """idf as the oracle computes it: idf_py of N documents and df."""
    n = docs.count() or 1
    return {
        r["term"]: idf_py(n, r["doc_frequency"])
        for r in term_stats.select("term", "doc_frequency").collect()
    }


def test_pinned_search_equals_wand_and_intent_score(
    docs, postings3, term_stats, pinned_engine, monkeypatch
):
    """Over 3 shards, the array scorer's pages, scores and counts are
    ==-identical to score_shard_wand + intent_score on the same rows, also
    when the open decodes the blobs in many small batches."""
    from search_engine_spark.query import postings_search as PS

    monkeypatch.setattr(PS, "_DECODE_BATCH_BYTES", 512)
    batched = PS.PostingsSearchEngine(docs, postings3, term_stats, pin_shard_layout=True)
    postings_rows = postings3.collect()
    idf = _oracle_idf(docs, term_stats)
    docs_by_id = {
        r[0]: (r[1], r[2], r[3])
        for r in docs.select("doc_id", "title", "description", "url").collect()
    }
    top = _top_terms(term_stats, 40)
    queries = [
        (top[0], 20, 0),
        (top[7], 10, 10),
        (f"{top[1]} {top[2]}", 20, 0),
        (f"{top[3]} {top[30]}", 5, 20),
        (f"{top[0]} {top[3]} {top[4]}", 10, 0),
        (f"{top[12]} {top[25]} {top[39]}", 10, 30),
    ]
    for q, limit, offset in queries:
        want = _wand_search(postings_rows, docs_by_id, idf, q, limit, offset)
        assert want[1] > 0, q
        assert _answer(pinned_engine.search(q, limit, offset)) == want, q
        assert _answer(batched.search(q, limit, offset)) == want, q


def test_pinned_idf_is_idf_py_of_doc_frequency(docs, postings3, term_stats, pinned_engine):
    """Every term's baked contributions are idf_py(N, df) * weighted_tf of
    its postings, in (shard, ordinal) order: the oracle's idf, not Spark's
    ``ln``, which is one ulp off it for some terms."""
    from search_engine_spark.codec import weighted_tf

    idf = _oracle_idf(docs, term_stats)
    doc_ids = {r[0] for r in docs.select("doc_id").collect()}
    rows = postings3.collect()
    maps = _shard_maps(rows)
    want = {}
    for r in sorted(rows, key=lambda r: (r["term"], r["shard"])):
        if r["term"] == MAP_TERM:
            continue
        ordinals, f1, f2, f4 = decode_postings(bytes(r["postings"]))
        want.setdefault(r["term"], []).extend(
            idf[r["term"]] * weighted_tf(f1[i], f2[i], f4[i])
            for i, o in enumerate(ordinals)
            if maps[r["shard"]][o] in doc_ids
        )
    index = pinned_engine._pinned
    assert index.by_term.keys() == want.keys()
    for term, contrib in want.items():
        lo, hi, _ = index.by_term[term]
        assert index.contrib[lo:hi].tolist() == contrib, term


def _tiny_pinned_engine(spark):
    """Four documents and two terms over two shards. ``alpha`` has orphan
    postings (map ids with no document): one between the documents' ids and
    one past all of them. ``omega`` has no term_statistics row. Documents 9
    and 11 hold the largest doc id and url and never contain ``alpha``."""
    import numpy as np

    from search_engine_spark.query.postings_search import PostingsSearchEngine

    docs = [
        (-7, None, None, "https://example.com/a"),
        (3, None, None, "https://example.com/0"),
        (9, "omega", "about omega", "https://example.com/o"),
        (11, "last", "no alpha here", "https://example.com/z"),
    ]
    lists = {
        ("alpha", 0): {-7: (0, 0, 2), 3: (0, 0, 2), 5: (4, 4, 4)},
        ("alpha", 1): {2**62: (9, 9, 9)},
        ("omega", 0): {3: (0, 0, 1)},
        ("omega", 1): {9: (1, 1, 3)},
    }
    maps = {0: [-7, 3, 5], 1: [9, 2**62]}
    rows = [
        (MAP_TERM, shard, [], [], [], np.array(ids, "<i8").tobytes())
        for shard, ids in maps.items()
    ]
    for (term, shard), postings in sorted(lists.items()):
        ids = sorted(postings)
        blob, block_max, block_last, block_offset = encode_postings(
            [maps[shard].index(d) for d in ids],
            *([postings[d][i] for d in ids] for i in range(3)),
        )
        rows.append((term, shard, block_max, block_last, block_offset, blob))
    postings = spark.createDataFrame(
        rows,
        "term string, shard int, block_max array<double>, block_last array<bigint>, "
        "block_offset array<int>, postings binary",
    )
    stats = spark.createDataFrame([("alpha", 2)], "term string, doc_frequency bigint")
    documents = spark.createDataFrame(
        docs, "doc_id bigint, title string, description string, url string"
    )
    engine = PostingsSearchEngine(documents, postings, stats, pin_shard_layout=True)
    return engine, postings.collect(), {d[0]: d[1:] for d in docs}


def test_pinned_drops_orphan_postings_and_defaults_idf(spark):
    """Orphan postings (a map id between the documents' ids, and one past
    every doc id, at searchsorted's end of array) are dropped, not mapped
    onto a neighbouring document; a term missing from term_statistics
    scores with idf 1.0, and alpha's idf is idf_py(4 documents, df 2)."""
    from search_engine_spark.codec import weighted_tf

    engine, postings_rows, docs_by_id = _tiny_pinned_engine(spark)
    alpha = engine.search("alpha", 10, 0)
    assert sorted(r.url for r in alpha.results) == [
        "https://example.com/0",
        "https://example.com/a",
    ]
    assert alpha.count == 2
    omega, _ = _wand_search(postings_rows, docs_by_id, {}, "omega", 10, 0)
    assert _answer(engine.search("omega", 10, 0)) == (omega, 2)
    # doc 9 matches omega alone: its token score is weighted_tf * idf 1.0
    lo, hi, _ = engine._pinned.by_term["omega"]
    assert engine._pinned.contrib[lo:hi].tolist() == [weighted_tf(0, 0, 1), weighted_tf(1, 1, 3)]
    for q in ("alpha", "alpha omega", "omega alpha"):
        want = _wand_search(postings_rows, docs_by_id, {"alpha": idf_py(4, 2)}, q, 10, 0)
        assert _answer(engine.search(q, 10, 0)) == want, q
    assert engine.scan_stats()["blocks_decoded"] == engine.scan_stats()["blocks_total"] > 0


def test_pinned_search_breaks_score_ties_by_url(spark):
    """Two documents with equal scores rank by url, whatever their doc ids."""
    engine, _, _ = _tiny_pinned_engine(spark)
    results = engine.search("alpha", 10, 0).results
    assert [r.url for r in results] == ["https://example.com/0", "https://example.com/a"]
    assert results[0].score == results[1].score


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


_INT64_MIN, _INT64_MAX = -(2**63), 2**63 - 1


def _reference_rows(tokens, n_shards, n_term_buckets):
    """Each (term, shard) group's row, pivoted, numbered (a doc's rank by
    doc id among its shard's docs) and encoded in pure Python by
    ``codec.encode_postings``, plus each shard's map row; shard and bucket
    from the Spark columns."""
    salted = tokens.select(
        "doc_id",
        "term",
        "field",
        "frequency",
        shard_col(n_shards).alias("shard"),
        F.pmod(F.xxhash64("term"), F.lit(n_term_buckets)).cast("int").alias("bucket"),
    ).collect()
    groups, shard_docs = {}, {}
    for r in salted:
        g = groups.setdefault((r["term"], r["bucket"], r["shard"]), {})
        fields = g.setdefault(r["doc_id"], {1: 0, 2: 0, 4: 0})
        fields[r["field"]] += r["frequency"]
        shard_docs.setdefault(r["shard"], set()).add(r["doc_id"])
    ordinal = {s: {d: i for i, d in enumerate(sorted(ids))} for s, ids in shard_docs.items()}
    rows = []
    for (term, bucket, shard), docs in groups.items():
        ids = sorted(docs)
        blob, bmax, blast, boff = encode_postings(
            [ordinal[shard][d] for d in ids], *([docs[d][f] for d in ids] for f in (1, 2, 4))
        )
        ctf = sum(sum(v.values()) for v in docs.values())
        rows.append((term, bucket, shard, len(ids), ctf, bmax, blast, boff, blob))
    map_bucket = (
        tokens.sparkSession.range(1)
        .select(F.pmod(F.xxhash64(F.lit(MAP_TERM)), F.lit(n_term_buckets)).cast("int"))
        .first()[0]
    )
    for shard, ids in shard_docs.items():
        blob = b"".join(d.to_bytes(8, "little", signed=True) for d in sorted(ids))
        rows.append((MAP_TERM, map_bucket, shard, 0, 0, [], [], [], blob))
    return sorted(rows)


def _postings_rows(postings):
    return sorted(
        (r["term"], r["term_bucket"], r["shard"], r["df"], r["ctf"],
         r["block_max"], r["block_last"], r["block_offset"], bytes(r["postings"]))
        for r in postings.collect()
    )


@pytest.mark.parametrize("n_shards", [1, 3])
def test_build_postings_bytes_equal_reference_encoder(spark, n_shards):
    """Runs of 1-257 postings (block edges at 128), the int64 extremes as
    doc ids, frequencies of 2^14 and more, docs missing fields, several
    shards, and 7-row Arrow batches so every long run crosses many batch
    edges."""
    import random

    rng = random.Random(5)
    rows = []
    for n in (1, 127, 128, 129, 256, 257):
        ids = {_INT64_MIN, _INT64_MAX} if n > 1 else {0}
        while len(ids) < n:
            ids.add(rng.randint(_INT64_MIN, _INT64_MAX))
        for doc in ids:
            rows.append((doc, f"t{n}", 4, rng.choice([1, 2, 2**14, 2**20])))
            for field in (1, 2):
                if rng.random() < 0.4:
                    rows.append((doc, f"t{n}", field, rng.choice([1, 3, 2**14 + 1])))
    rng.shuffle(rows)
    tokens = spark.createDataFrame(
        rows, "doc_id long, term string, field short, frequency int"
    ).repartition(3)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        got = _postings_rows(build_postings(tokens, n_shards=n_shards, n_term_buckets=8))
    finally:
        spark.conf.set(key, before)
    assert got == _reference_rows(tokens, n_shards, 8)
    assert {r[2] for r in got} == set(range(n_shards))


def test_build_postings_empty_tokens(spark):
    tokens = spark.createDataFrame([], "doc_id long, term string, field short, frequency int")
    postings = build_postings(tokens, n_shards=2)
    assert postings.schema == POSTINGS_SCHEMA
    assert postings.collect() == []
