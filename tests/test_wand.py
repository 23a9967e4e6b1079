"""Block-max WAND correctness: exact agreement with exhaustive scoring."""

import random

from hypothesis import given, settings
from hypothesis import strategies as st

from search_engine_spark.codec import encode_postings
from search_engine_spark.query.wand import (
    TermPostings,
    score_shard_exhaustive,
    score_shard_wand,
)


def _make_tp(term, idf, postings):
    """postings: dict ordinal -> (f1, f2, f4)"""
    ids = sorted(postings)
    f1 = [postings[d][0] for d in ids]
    f2 = [postings[d][1] for d in ids]
    f4 = [postings[d][2] for d in ids]
    blob, bmax, blast, boff = encode_postings(ids, f1, f2, f4)
    return TermPostings(term, idf, blob, bmax, blast, boff)


def _topk_from_exhaustive(acc, k):
    rows = sorted(acc.items(), key=lambda kv: (-kv[1][0], kv[0]))
    if len(rows) <= k:
        return rows
    kth = rows[k - 1][1][0]
    return [r for r in rows if r[1][0] >= kth]


def _check(entries, k):
    acc = score_shard_exhaustive(entries)
    want = {d: (s, m) for d, (s, m) in _topk_from_exhaustive(acc, k)}
    got_rows = score_shard_wand(entries, k)
    got = {d: (s, m) for d, s, m in got_rows}
    assert len(got_rows) == len(got), "wand emitted a doc twice"
    # every must-have doc present with identical score/matched
    for d, (s, m) in want.items():
        assert d in got, f"doc {d} missing from wand results"
        assert abs(got[d][0] - s) < 1e-9
        assert got[d][1] == m
    # wand may return extras below the threshold only if <= k total docs
    for d, (s, m) in got.items():
        assert abs(acc[d][0] - s) < 1e-9
        assert acc[d][1] == m


def _random_case(rng, n_terms, n_docs, density, zipf_idf=True):
    entries = []
    for t in range(n_terms):
        postings = {}
        for d in range(n_docs):
            if rng.random() < density:
                postings[rng.randint(0, 2**63 - 1)] = (
                    rng.randint(0, 3),
                    rng.randint(0, 3),
                    rng.randint(1, 50),
                )
        if postings:
            idf = rng.uniform(0.05, 6.0) if zipf_idf else 1.0
            entries.append(_make_tp(f"t{t}", idf, postings))
    return entries


def test_single_term():
    rng = random.Random(1)
    entries = _random_case(rng, 1, 2000, 0.5)
    _check(entries, 10)


def test_multi_term_overlapping_docs():
    rng = random.Random(2)
    # shared doc space so docs match multiple terms
    docs = [rng.randint(0, 2**63 - 1) for _ in range(800)]
    entries = []
    for t in range(4):
        postings = {
            d: (rng.randint(0, 2), rng.randint(0, 2), rng.randint(1, 20))
            for d in docs
            if rng.random() < 0.4
        }
        entries.append(_make_tp(f"t{t}", rng.uniform(0.1, 4.0), postings))
    _check(entries, 25)


def test_k_larger_than_corpus():
    rng = random.Random(3)
    entries = _random_case(rng, 3, 50, 0.5)
    _check(entries, 5000)


def test_k_one():
    rng = random.Random(4)
    entries = _random_case(rng, 5, 500, 0.3)
    _check(entries, 1)


def test_exact_score_ties_survive_boundary():
    # many docs with IDENTICAL scores straddling k
    postings = {d: (0, 0, 7) for d in range(100)}
    entries = [_make_tp("t", 2.0, postings)]
    got = score_shard_wand(entries, 10)
    assert len(got) == 100  # all tie at the kth score -> all kept


def test_block_pruning_actually_skips():
    """A rare high-idf term + a huge low-value tail list: WAND must finish
    without decoding most of the tail's blocks (skipped = never
    deserialized), while still matching the exhaustive oracle."""
    rng = random.Random(99)
    # tail term: 20,000 docs, tf=1 body hits, tiny idf
    tail = {d: (0, 0, 1) for d in range(0, 200_000, 10)}
    # rare term: 40 docs with huge title tf, big idf; all co-occur with tail
    rare = {d: (3, 2, 40) for d in range(0, 4000, 100)}
    entries = [_make_tp("tail", 0.05, tail), _make_tp("rare", 6.0, rare)]
    stats: dict = {}
    got = score_shard_wand(entries, 10, stats)
    _check(entries, 10)
    assert stats["blocks_total"] > 100
    decoded_frac = stats["blocks_decoded"] / stats["blocks_total"]
    assert decoded_frac < 0.5, (
        f"expected majority of blocks skipped, decoded {decoded_frac:.0%} "
        f"({stats})"
    )
    assert len(got) >= 10


def test_single_term_blocks_skip_after_threshold_converges():
    """Single-list regression for the LAZY cursor (BMW shallow pointers):
    once the top-k threshold exceeds the remaining blocks' maxima, those
    blocks must never be DESERIALIZED. The pre-r03 cursor walked doc-by-doc
    through 'pruned' blocks and decoded every one of them."""
    # best docs first: 300 high-tf postings (3 blocks), then a long tf=1 tail
    postings = {d: (0, 0, 50) for d in range(300)}
    postings.update({d: (0, 0, 1) for d in range(300, 10_000)})
    entries = [_make_tp("t", 1.0, postings)]
    stats: dict = {}
    score_shard_wand(entries, 10, stats)
    _check(entries, 10)
    n_blocks = stats["blocks_total"]
    assert n_blocks > 70
    # heap fills inside the first high-tf blocks; theta=50 then dominates
    # every tail block max of 1 -> at most the high blocks plus a couple of
    # boundary blocks ever decode
    assert stats["blocks_decoded"] <= 6, stats


def test_shallow_seek_skips_between_clustered_candidates():
    """Two-term case: after early spikes converge the threshold, the
    common cursor must jump over the middle of its list without decoding
    it (shallow_seek over block_last), re-engaging only at the rare
    term's clustered tail. (A uniform-tf fixture would NOT prune: every
    doc ties at the threshold and boundary ties must be preserved.)"""
    common = {
        d: (0, 0, 40 if d < 4_000 and d % 200 == 0 else 1 + d % 3)
        for d in range(0, 60_000, 2)
    }  # ~235 blocks; 20 early spike docs put theta at 2.0 >> 0.15 tail max
    rare = {d: (3, 2, 30) for d in range(59_000, 60_000, 5)}  # clustered tail
    entries = [_make_tp("common", 0.05, common), _make_tp("rare", 6.0, rare)]
    stats: dict = {}
    score_shard_wand(entries, 10, stats)
    _check(entries, 10)
    frac = stats["blocks_decoded"] / stats["blocks_total"]
    assert frac < 0.3, f"expected the middle of the common list skipped: {stats}"


@given(st.integers(min_value=0, max_value=10_000))
@settings(max_examples=30, deadline=None)
def test_property_random_seeds(seed):
    rng = random.Random(seed)
    n_terms = rng.randint(1, 6)
    entries = _random_case(rng, n_terms, rng.randint(1, 600), rng.uniform(0.05, 0.8))
    if entries:
        _check(entries, rng.choice([1, 3, 10, 100]))


def test_score_is_an_ordered_fold_over_terms():
    """A doc's score sums its terms in term order, whatever order the
    posting rows arrive in: docs with the same per-term frequencies score
    the same to the last bit (0.1 + 0.2 + 0.3 depends on the order), and
    all 100 of them tie at the kth score, so all survive — even when the
    bound, summed in another order, rounds below the score."""
    postings = {d: (0, 0, 1) for d in range(0, 300, 3)}
    entries = [_make_tp(t, idf, postings) for t, idf in (("a", 0.1), ("b", 0.2), ("c", 0.3))]
    results = []
    for order in ([0, 1, 2], [2, 1, 0], [1, 2, 0], [0, 2, 1]):
        got = score_shard_wand([entries[i] for i in order], 10)
        results.append(sorted(got))
        assert len(got) == 100
        assert len({s for _, s, _ in got}) == 1
        exhaustive = score_shard_exhaustive([entries[i] for i in order])
        assert {s for s, _ in exhaustive.values()} == {s for _, s, _ in got}
    assert all(r == results[0] for r in results)
