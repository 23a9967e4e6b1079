"""Shard-local block-max WAND top-k over compressed posting lists.

Runs inside one executor task per shard (document-partitioned search): every
query term's posting list for the shard's doc range is available locally, so
classic DAAT WAND applies, with block-level skipping powered by the codec's
skip arrays (block_max / block_last / block_offset) — pruned blocks are never
deserialized. A doc is named by its shard ordinal, as the codec stores it;
the caller maps ordinals to doc ids through the shard's map row.

Scoring matches the reference exactly: contribution of term t to doc d is
``idf(t) * (3.2*f_title + 1.7*f_desc + 1.0*f_body)`` with idf defaulting to
1.0 for terms missing from term_statistics (search_service.py:13-40).

A doc's score sums its terms' contributions in ascending term order (an
ordered fold, CLAUDE.md invariant 4): float addition is not associative,
so a cursor-order sum could score two docs with the same per-term
frequencies differently in the last bit, and split a tie that the
candidate cut decides by url.

Tie safety for rank identity: the top-k threshold prunes strictly below
theta, and the final cut keeps every doc scoring >= the kth score — docs that
TIE at the boundary all survive to the global (score DESC, url ASC) reduce,
so the url tie-break is decided globally, never lost shard-side. Upper bounds
carry a relative slack of _BOUND_SLACK: a bound sums its cursors in doc
order, a score in term order, so a tied doc's bound can round one ulp below
theta and would otherwise be pruned.

An exhaustive scorer (decode everything, accumulate) provides the oracle for
tests and a fallback for tiny shards.
"""

from __future__ import annotations

import heapq
from bisect import bisect_left
from dataclasses import dataclass

from ..codec import (
    block_length,
    decode_block,
    postings_count,
    weighted_tf,
)


@dataclass
class TermPostings:
    """One (term, shard) row handed to the scorer."""

    term: str
    idf: float
    blob: bytes
    block_max: list
    block_last: list
    block_offset: list


_NEG_INF_DOC = -(1 << 63)
# covers the rounding of a sum of a few hundred non-negative terms in any order
_BOUND_SLACK = 1.0 + 1e-12


class _Cursor:
    """Posting-list cursor with LAZY block decoding (the BMW "shallow"
    pointer, Ding & Suel 2011): block moves use only the skip arrays, so a
    pruned block is never deserialized. While a block is undecoded,
    ``doc`` holds a LOWER BOUND on the true current doc (the pending seek
    target); ``_materialize`` decodes the block and resolves the exact
    position — the main loop re-pivots if the bound was loose."""

    __slots__ = (
        "term",
        "idf",
        "blob",
        "block_max",
        "block_last",
        "block_offset",
        "n",
        "n_blocks",
        "max_score",
        "bi",
        "ids",
        "f1",
        "f2",
        "f4",
        "i",
        "doc",
        "loaded",
        "pending",
        "exhausted",
        "stats",
    )

    def __init__(self, tp: TermPostings, stats: dict | None = None) -> None:
        self.term = tp.term
        self.idf = tp.idf
        self.blob = tp.blob
        self.block_max = tp.block_max
        self.block_last = tp.block_last
        self.block_offset = tp.block_offset
        self.n = postings_count(tp.blob)
        self.n_blocks = len(tp.block_offset)
        self.max_score = tp.idf * max(tp.block_max) * _BOUND_SLACK if tp.block_max else 0.0
        self.stats = stats
        self.exhausted = self.n == 0
        self.loaded = False
        self.bi = 0
        self.pending = _NEG_INF_DOC
        self.doc = _NEG_INF_DOC

    def _materialize(self) -> None:
        """Decode the current block and land on the first doc >= pending.

        Every shallow move keeps ``pending <= block_last[bi]``, so the
        bisect always lands inside the block."""
        if self.loaded:
            return
        if self.stats is not None:
            self.stats["blocks_decoded"] = self.stats.get("blocks_decoded", 0) + 1
        self.ids, self.f1, self.f2, self.f4 = decode_block(
            self.blob,
            self.block_offset[self.bi],
            block_length(self.n, self.bi, self.n_blocks),
        )
        self.i = bisect_left(self.ids, self.pending)
        self.doc = self.ids[self.i]
        self.loaded = True

    def block_upper(self) -> float:
        # skip-array read only — legal on an undecoded block
        return self.idf * self.block_max[self.bi] * _BOUND_SLACK

    def block_end(self) -> int:
        return self.block_last[self.bi]

    def contribution(self) -> float:
        i = self.i
        return self.idf * weighted_tf(self.f1[i], self.f2[i], self.f4[i])

    def advance(self) -> None:
        """Next posting (requires a materialized block). Crossing a block
        boundary moves SHALLOW: the next block stays undecoded until (and
        unless) it must be evaluated."""
        self.i += 1
        if self.i < len(self.ids):
            self.doc = self.ids[self.i]
        elif self.bi + 1 < self.n_blocks:
            self.pending = self.block_last[self.bi] + 1
            self.bi += 1
            self.loaded = False
            self.doc = self.pending  # lower bound on the block's first doc
        else:
            self.exhausted = True

    def shallow_seek(self, target: int) -> None:
        """Position at the first doc >= target WITHOUT decoding: the block
        pointer jumps via block_last; intervening blocks are never read."""
        if self.exhausted or self.doc >= target:
            return
        b = bisect_left(self.block_last, target, lo=self.bi)
        if b >= self.n_blocks:
            self.exhausted = True
            return
        if b == self.bi and self.loaded:
            self.i = bisect_left(self.ids, target, lo=self.i)
            # block_last[b] >= target guarantees i < len(ids)
            self.doc = self.ids[self.i]
        else:
            self.bi = b
            self.loaded = False
            self.pending = target
            self.doc = target  # lower bound


def score_shard_exhaustive(entries: list) -> dict:
    """Decode-everything scorer -> {ordinal: (score, matched_terms)}."""
    from ..codec import decode_postings

    acc: dict = {}
    for tp in sorted(entries, key=lambda tp: tp.term):
        ids, f1, f2, f4 = decode_postings(tp.blob)
        idf = tp.idf
        for j, d in enumerate(ids):
            c = idf * weighted_tf(f1[j], f2[j], f4[j])
            if d in acc:
                s, m = acc[d]
                acc[d] = (s + c, m + 1)
            else:
                acc[d] = (c, 1)
    return acc


def score_shard_wand(entries: list, k: int, stats: dict | None = None) -> list:
    """Block-max WAND top-k -> [(ordinal, score, matched_terms)], every doc
    scoring >= the kth score included (boundary ties preserved).

    ``stats`` (optional dict) accumulates ``blocks_decoded`` and
    ``blocks_total`` so pruning effectiveness is observable — a skipped
    block is one the codec never deserializes.
    """
    if stats is not None:
        stats["blocks_total"] = stats.get("blocks_total", 0) + sum(
            len(tp.block_offset) for tp in entries
        )
    cursors = [
        _Cursor(tp, stats) for tp in entries if postings_count(tp.blob)
    ]
    cursors = [c for c in cursors if not c.exhausted]
    if not cursors:
        return []

    heap: list = []  # min-heap of the top-k scores
    theta = float("-inf")
    evaluated: list = []

    active = cursors
    while active:
        active.sort(key=lambda c: c.doc)
        # pivot: first cursor where the cumulative upper bound reaches theta
        cum = 0.0
        pivot_idx = -1
        for idx, c in enumerate(active):
            cum += c.max_score
            if len(heap) < k or cum >= theta:
                pivot_idx = idx
                break
        if pivot_idx == -1:
            break  # total remaining upper bound below threshold
        pivot_doc = active[pivot_idx].doc

        if active[0].doc == pivot_doc:
            at_pivot = [c for c in active if c.doc == pivot_doc]
            # block-max refinement: per-block bound at the pivot, read off
            # the skip arrays — no decode needed to PRUNE
            block_ub = sum(c.block_upper() for c in at_pivot)
            if len(heap) >= k and block_ub < theta:
                # BMW skip: within [pivot_doc, d_next) the at-pivot cursors
                # stay in their current blocks and no other cursor can
                # contribute, so the bound holds for the whole range — jump
                # there with shallow moves (skipped blocks never decoded)
                d_next = min(c.block_end() for c in at_pivot) + 1
                for c in active:  # sorted: first doc beyond pivot caps it
                    if c.doc > pivot_doc:
                        d_next = min(d_next, c.doc)
                        break
                d_next = max(d_next, pivot_doc + 1)
                for c in at_pivot:
                    c.shallow_seek(d_next)
            else:
                # evaluation needs exact postings: materialize the at-pivot
                # cursors; a shallow bound may resolve PAST the pivot, in
                # which case re-sort and re-pivot
                moved = False
                for c in at_pivot:
                    if not c.loaded:
                        c._materialize()
                        if c.doc != pivot_doc:
                            moved = True
                if moved:
                    continue
                at_pivot.sort(key=lambda c: c.term)
                score = 0.0
                for c in at_pivot:
                    score += c.contribution()
                    c.advance()
                evaluated.append((pivot_doc, score, len(at_pivot)))
                if len(heap) < k:
                    heapq.heappush(heap, score)
                    if len(heap) == k:
                        theta = heap[0]
                elif score > heap[0]:
                    heapq.heapreplace(heap, score)
                    theta = heap[0]
        else:
            # advance the strongest lagging cursor to the pivot document
            lagging = max(
                (c for c in active[:pivot_idx] if c.doc < pivot_doc),
                key=lambda c: c.max_score,
            )
            lagging.shallow_seek(pivot_doc)
        active = [c for c in active if not c.exhausted]

    if not evaluated:
        return []
    if len(evaluated) <= k:
        return evaluated
    kth = heap[0] if len(heap) >= k else float("-inf")
    return [e for e in evaluated if e[1] >= kth]
