"""Segment merge: merging per-segment postings must equal a single-shot
build, and newer segments must override older ones per doc."""

import pytest
from pyspark.sql import functions as F

from search_engine_spark.operators.postings import (
    MAP_TERM,
    build_postings,
    map_ids,
    merge_postings,
)


def _rows(df):
    def norm(v):
        if isinstance(v, bytearray):
            return bytes(v)
        if isinstance(v, list):
            return tuple(v)
        return v

    cols = sorted(df.columns)
    return sorted(tuple(norm(r[c]) for c in cols) for r in df.collect())


@pytest.fixture(scope="module")
def token_halves(tokens):
    t = tokens.cache()
    a = t.filter(F.col("doc_id") % 2 == 0)
    b = t.filter(F.col("doc_id") % 2 != 0)
    return t, a, b


def test_merge_equals_single_shot(token_halves):
    t, a, b = token_halves
    full = build_postings(t, n_shards=2)
    merged = merge_postings(
        [build_postings(a, n_shards=2), build_postings(b, n_shards=2)]
    )
    assert _rows(merged) == _rows(full)


@pytest.mark.parametrize("n_shards", [1, 3])
def test_merge_renumbers_each_shard(tokens, n_shards):
    """Three segments over interleaved doc ids: every segment numbers its
    docs 0.. on its own, so the merge must decode through each segment's
    map and renumber the union. Merged == single-shot, map rows included."""
    t = tokens.cache()
    parts = [t.filter(F.pmod("doc_id", F.lit(3)) == i) for i in range(3)]
    full = build_postings(t, n_shards=n_shards)
    merged = merge_postings([build_postings(p, n_shards=n_shards) for p in parts])
    assert _rows(merged) == _rows(full)
    assert merged.filter(F.col("term") == MAP_TERM).count() == n_shards


def test_merge_newer_segment_wins(spark):
    """A re-crawled doc is owned OUTRIGHT by its newest segment: postings
    it no longer has are dropped, not carried forward (doc-level LSM
    override, not per-(term, doc))."""
    old = spark.createDataFrame(
        [
            (1, "alpha", 4, 3),
            (2, "alpha", 4, 7),
            (1, "beta", 4, 2),
            (2, "beta", 4, 5),
            (3, "gamma", 4, 1),
        ],
        "doc_id long, term string, field short, frequency int",
    )
    new = spark.createDataFrame(
        # doc 1 re-crawled: alpha tf changes AND beta disappeared;
        # doc 3 re-crawled and now contains nothing but "delta"
        [(1, "alpha", 4, 99), (3, "delta", 4, 6)],
        "doc_id long, term string, field short, frequency int",
    )
    merged = merge_postings(
        [build_postings(old, n_shards=1), build_postings(new, n_shards=1)]
    )
    from search_engine_spark.codec import decode_postings

    rows = {r["term"]: r for r in merged.collect()}
    doc_of = map_ids(bytes(rows[MAP_TERM]["postings"])).tolist()
    assert doc_of == [1, 2, 3]  # one shard: the merged docs, by doc id

    def decode(term):
        ordinals, *fields = decode_postings(bytes(rows[term]["postings"]))
        return [doc_of[o] for o in ordinals], *fields

    ids, f1, f2, f4 = decode("alpha")
    assert ids == [1, 2]
    assert f4 == [99, 7]  # doc 1 overridden, doc 2 carried forward
    assert rows["alpha"]["df"] == 2 and rows["alpha"]["ctf"] == 106
    # doc 1's stale beta posting is gone; doc 2 (not re-crawled) keeps it
    idsb, *_ = decode("beta")
    assert idsb == [2]
    assert rows["beta"]["df"] == 1 and rows["beta"]["ctf"] == 5
    # gamma's only doc was re-crawled without it: the term row disappears
    assert "gamma" not in rows
    idsd, *_ = decode("delta")
    assert idsd == [3]


def test_merge_single_segment_identity(token_halves):
    t, a, _ = token_halves
    seg = build_postings(a, n_shards=2)
    assert _rows(merge_postings([seg])) == _rows(seg)
