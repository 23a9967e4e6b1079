"""Varint/delta postings codec: round-trip + skip-metadata properties.

A posting list holds ordinals: non-negative, below 2^63."""

import math
import random

import pytest

from hypothesis import given, settings
from hypothesis import strategies as st

from search_engine_spark.codec import (
    BLOCK_SIZE,
    block_length,
    decode_block,
    decode_postings,
    decode_postings_batch,
    encode_postings,
    encode_postings_batch,
    postings_count,
    weighted_tf,
)


def _random_case(rng, n):
    ids = set()
    while len(ids) < n:
        ids.add(rng.randint(0, 2**63 - 1))
    doc_ids = sorted(ids)
    f = lambda: [rng.randint(0, 5000) for _ in range(n)]  # noqa: E731
    return doc_ids, f(), f(), f()


@given(st.integers(min_value=0, max_value=100_000), st.integers(min_value=0, max_value=600))
@settings(max_examples=60, deadline=None)
def test_roundtrip(seed, n):
    rng = random.Random(seed)
    doc_ids, f1, f2, f4 = _random_case(rng, n)
    blob, block_max, block_last, block_offset = encode_postings(doc_ids, f1, f2, f4)
    assert postings_count(blob) == n
    assert decode_postings(blob) == (doc_ids, f1, f2, f4)

    want_blocks = math.ceil(n / BLOCK_SIZE) if n else 0
    assert len(block_max) == len(block_last) == len(block_offset) == want_blocks
    for i, d in enumerate(doc_ids):
        b = i // BLOCK_SIZE
        assert weighted_tf(f1[i], f2[i], f4[i]) <= block_max[b] + 1e-9
        assert d <= block_last[b]
    # every block independently decodable at its offset
    for b in range(want_blocks):
        ln = block_length(n, b, want_blocks)
        ids_b, f1_b, f2_b, f4_b = decode_block(blob, block_offset[b], ln)
        lo = b * BLOCK_SIZE
        assert ids_b == doc_ids[lo : lo + ln]
        assert f1_b == f1[lo : lo + ln]
        assert ids_b[-1] == block_last[b]


def test_empty():
    blob, bm, bl, bo = encode_postings([], [], [], [])
    assert decode_postings(blob) == ([], [], [], [])
    assert bm == bl == bo == []
    assert postings_count(blob) == 0


def test_extreme_doc_ids():
    """The ordinal range's ends: 0 and 2^63 - 1 (a 9-byte varint)."""
    ids = [0, 1, 2, 2**62, 2**63 - 1]
    one = [1] * 5
    blob, _, blast, _ = encode_postings(ids, one, one, one)
    assert decode_postings(blob)[0] == ids
    assert blast == [2**63 - 1]


def test_negative_values_raise():
    """A negative ordinal (or a list out of order, a negative delta) raises
    rather than looping in the varint writer."""
    one = [1]
    with pytest.raises(ValueError):
        encode_postings([-1], one, one, one)
    with pytest.raises(ValueError):
        encode_postings([5, 3], [1, 1], [1, 1], [1, 1])
    with pytest.raises(ValueError):
        encode_postings([3], one, one, [-2])
    with pytest.raises(ValueError):
        encode_postings_batch([2], [3, -1], [1, 1], [1, 1], [1, 1])


_ORD_MIN, _ORD_MAX = 0, 2**63 - 1


@st.composite
def _posting_blob(draw):
    """One encoded list: 0-257 postings across block boundaries, the
    ordinal extremes (a 9-byte varint) when drawn, zero frequencies among
    others."""
    n = draw(st.sampled_from([0, 1, 127, 128, 129, 257]))
    rng = random.Random(draw(st.integers(min_value=0, max_value=2**32)))
    ids = set(draw(st.sets(st.sampled_from([_ORD_MIN, _ORD_MAX]))))
    while len(ids) < n:
        ids.add(rng.randint(_ORD_MIN, _ORD_MAX))
    doc_ids = sorted(ids)[:n]
    f = lambda: [rng.choice([0, 0, 1, 127, 128, 5000, 2**35]) for _ in doc_ids]  # noqa: E731
    return encode_postings(doc_ids, f(), f(), f())[0]


def _decode_each(blobs):
    counts, columns = [], ([], [], [], [])
    for blob in blobs:
        decoded = decode_postings(blob)
        counts.append(len(decoded[0]))
        for col, part in zip(columns, decoded):
            col.extend(part)
    return counts, columns


@given(st.lists(_posting_blob(), max_size=6))
@settings(max_examples=60, deadline=None)
def test_batch_decode_equals_decode_postings(blobs):
    """Concatenated blobs, each with its own count header and block
    restarts, decode in one pass to what decode_postings gives per blob."""
    counts, columns = _decode_each(blobs)
    got_counts, *got = decode_postings_batch(blobs)
    assert got_counts.tolist() == counts
    assert [a.tolist() for a in got] == list(columns)


def test_batch_decode_sizes_and_extremes():
    rng = random.Random(7)
    blobs = []
    for n in (0, 1, 127, 128, 129, 257):
        ids = {_ORD_MIN, _ORD_MAX} if n > 1 else {_ORD_MAX} if n else set()
        while len(ids) < n:
            ids.add(rng.randint(_ORD_MIN, _ORD_MAX))
        ids = sorted(ids)
        zeros = [0] * n
        blobs.append(encode_postings(ids, zeros, [1] * n, zeros)[0])
    counts, columns = _decode_each(blobs)
    got_counts, *got = decode_postings_batch(blobs)
    assert got_counts.tolist() == [0, 1, 127, 128, 129, 257] == counts
    assert [a.tolist() for a in got] == list(columns)
    assert _ORD_MIN in columns[0] and _ORD_MAX in columns[0]


def _encode_each_batched(lists):
    """encode_postings_batch over the lists concatenated -> per-list
    (blob, block_max, block_last, block_offset), as encode_postings gives."""
    cat = lambda k: [v for lst in lists for v in lst[k]]  # noqa: E731
    df, blobs, bmax, blast, boff = encode_postings_batch(
        [len(lst[0]) for lst in lists], cat(0), cat(1), cat(2), cat(3)
    )
    assert df.tolist() == [len(set(lst[0])) for lst in lists]
    return [
        (blobs[i].as_py(), bmax[i].as_py(), blast[i].as_py(), boff[i].as_py())
        for i in range(len(lists))
    ]


def test_batch_encode_equals_encode_postings():
    """Runs across block edges, ordinals 0 and 2^63 - 1, frequencies that
    need multi-byte varints and zero field counts: each run's blob and skip
    arrays equal encode_postings' for it."""
    rng = random.Random(11)
    lists = []
    for n in (1, 127, 128, 129, 256, 257):
        ids = {_ORD_MIN, _ORD_MAX} if n > 1 else {_ORD_MAX}
        while len(ids) < n:
            ids.add(rng.randint(_ORD_MIN, _ORD_MAX))
        f = lambda: [rng.choice([0, 0, 1, 127, 2**14, 2**21, 2**40]) for _ in range(n)]  # noqa: E731
        lists.append((sorted(ids), f(), f(), f()))
    lists.append(([_ORD_MIN], [0], [0], [0]))
    assert _encode_each_batched(lists) == [encode_postings(*lst) for lst in lists]


@given(st.lists(st.integers(min_value=0, max_value=300), min_size=1, max_size=5), st.integers(0, 2**32))
@settings(max_examples=40, deadline=None)
def test_batch_encode_random_runs(sizes, seed):
    rng = random.Random(seed)
    lists = [_random_case(rng, n) for n in sizes if n]
    assert _encode_each_batched(lists) == [encode_postings(*lst) for lst in lists]


def test_batch_encode_sums_rows_of_one_doc():
    """Rows repeating a doc id inside a run are one posting (the field
    pivot); the same id at the next run's start opens a new posting."""
    df, blobs, *_ = encode_postings_batch(
        [3, 2], [5, 5, 9, 9, 12], [1, 0, 0, 0, 0], [0, 2, 0, 4, 0], [0, 3, 7, 0, 1]
    )
    assert df.tolist() == [2, 2]
    assert blobs[0].as_py() == encode_postings([5, 9], [1, 0], [2, 0], [3, 7])[0]
    assert blobs[1].as_py() == encode_postings([9, 12], [0, 0], [4, 0], [0, 1])[0]


def test_batch_encode_empty():
    df, blobs, bmax, blast, boff = encode_postings_batch([], [], [], [], [])
    assert df.size == len(blobs) == len(bmax) == len(blast) == len(boff) == 0


def test_compression_is_real():
    # dense ascending ids compress far below 8 bytes/doc
    ids = list(range(0, 100_000, 3))
    one = [1] * len(ids)
    blob, _, _, _ = encode_postings(ids, one, one, one)
    assert len(blob) < len(ids) * 8


# ---------------------------------------------------------------------------
# Byte-length formula parity: the postings_bytes pair's DuckDB oracle
# recomputes blob sizes from an integer varint-length ladder. Prove (a) the
# framing formula matches the real encoder for arbitrary ordinals and tf
# streams, and (b) the SQL ladder text itself is exact at every 2^(7k)
# boundary, up to the top of the uint64 range.
# ---------------------------------------------------------------------------
def _vlen(v: int) -> int:
    assert v >= 0
    return max(1, -(-v.bit_length() // 7))


def _formula_bytes(doc_ids, f1, f2, f4):
    total = _vlen(len(doc_ids))
    prev = 0
    for i, d in enumerate(doc_ids):
        total += _vlen(d) if i % BLOCK_SIZE == 0 else _vlen(d - prev)
        prev = d
        total += _vlen(f1[i]) + _vlen(f2[i]) + _vlen(f4[i])
    return total


@given(st.integers(min_value=0, max_value=100_000), st.integers(min_value=0, max_value=600))
@settings(max_examples=60, deadline=None)
def test_blob_length_matches_varint_formula(seed, n):
    rng = random.Random(seed)
    doc_ids, f1, f2, f4 = _random_case(rng, n)
    blob, _, _, _ = encode_postings(doc_ids, f1, f2, f4)
    assert len(blob) == _formula_bytes(doc_ids, f1, f2, f4)


def test_sql_varint_ladder_is_exact():
    import duckdb

    from search_engine_spark.driver_queries_td import _varint_len_sql

    vals = [0, 1]
    for k in range(1, 10):
        b = 1 << (7 * k)
        vals += [b - 1, b]
    vals += [2**63 - 1, 2**63, 2**64 - 1]  # block-restart unsigned range
    rows = ", ".join(f"(CAST('{v}' AS HUGEINT))" for v in vals)
    got = [
        r[0]
        for r in duckdb.sql(
            f"SELECT {_varint_len_sql('v')} FROM (VALUES {rows}) t(v)"
        ).fetchall()
    ]
    assert got == [_vlen(v) for v in vals]
