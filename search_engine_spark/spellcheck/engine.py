"""Spellcheck scoring engine — reference-identical constants and tie-breaks.

Parity sources (studied, re-implemented):
- OSA edit distance, banded early-exit: ``app/spellcheck/engine.py:54-101``
- popularity formula: ``engine.py:103-108``
- correction choice + acceptance thresholds: ``engine.py:110-162``
- case-preserving replacement: ``engine.py:164-169``

Everything here is driver-side Python: the word set of a query is tiny, and
the reference runs the same logic in-process. Candidate generation over the
dictionary lives in ``service.py``.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass
from collections.abc import Iterable

WORD_RE = re.compile(r"\b[a-zA-Z]{2,32}\b")
MAX_EDIT_DISTANCE = 2

# acceptance thresholds (engine.py:150-160): a correction must beat the
# known word's popularity by these multipliers, or clear an absolute floor
# when the word is unknown; distance-1 corrections need less evidence.
KNOWN_MULT_D1 = 1.8
KNOWN_MULT_D2 = 4.0
UNKNOWN_MIN_D1 = 0.5
UNKNOWN_MIN_D2 = 2.5

# a known word at or above this popularity is trusted and never corrected
# (main.py:120-125)
TRUSTED_POPULARITY = 3.0


@dataclass(frozen=True)
class DictEntry:
    word: str
    doc_frequency: int = 0
    total_frequency: int = 0
    external_frequency: int = 0
    popularity_score: float = 0.0


def normalize_word(word: str | None) -> str:
    return (word or "").strip().lower()


def popularity_score(
    doc_frequency: int, total_frequency: int, external_frequency: int
) -> float:
    """log1p(df)*4 + log1p(tf)*2 + log1p(ext)*3 (engine.py:103-108)."""
    return (
        math.log1p(max(doc_frequency, 0)) * 4.0
        + math.log1p(max(total_frequency, 0)) * 2.0
        + math.log1p(max(external_frequency, 0)) * 3.0
    )


def osa_distance(
    source: str, target: str, max_distance: int = MAX_EDIT_DISTANCE
) -> int | None:
    """Optimal string alignment distance, banded at ``max_distance``.

    OSA = Levenshtein + adjacent transposition counted as one edit (each
    substring may be transposed at most once — not full Damerau). Returns
    None when the distance exceeds ``max_distance`` (including the quick
    length-gap rejection) — matching engine.py:54-101, which Spark's
    built-in ``levenshtein`` cannot (no transpositions).
    """
    s, t = normalize_word(source), normalize_word(target)
    if s == t:
        return 0
    if not s or not t:
        d = max(len(s), len(t))
        return d if d <= max_distance else None
    if abs(len(s) - len(t)) > max_distance:
        return None

    # three-row rolling DP (prev2 enables the transposition case); early
    # exit when an entire row exceeds the band
    prev2: list[int] | None = None
    prev = list(range(len(t) + 1))
    for i in range(1, len(s) + 1):
        cur = [i] + [0] * len(t)
        row_min = cur[0]
        for j in range(1, len(t) + 1):
            cost = 0 if s[i - 1] == t[j - 1] else 1
            best = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
            if (
                prev2 is not None
                and i > 1
                and j > 1
                and s[i - 1] == t[j - 2]
                and s[i - 2] == t[j - 1]
            ):
                best = min(best, prev2[j - 2] + 1)
            cur[j] = best
            row_min = min(row_min, best)
        if row_min > max_distance:
            return None
        prev2, prev = prev, cur
    return prev[-1] if prev[-1] <= max_distance else None


def choose_correction(
    word: str,
    known: DictEntry | None,
    candidates: Iterable[DictEntry],
    max_distance: int = MAX_EDIT_DISTANCE,
) -> str | None:
    """Best acceptable correction or None (engine.py:110-162).

    Ranking tuple: (distance, -popularity, -doc_freq, -total_freq, word);
    short words (len <= 3) only accept distance-1 edits; the winner must
    clear the popularity thresholds relative to the known entry.
    """
    w = normalize_word(word)
    if not w:
        return None
    known_pop = known.popularity_score if known else 0.0

    best: DictEntry | None = None
    best_dist: int | None = None
    best_rank: tuple | None = None
    for cand in candidates:
        if cand.word == w:
            continue
        dist = osa_distance(w, cand.word, max_distance)
        if dist is None:
            continue
        if len(w) <= 3 and dist > 1:
            continue
        rank = (
            dist,
            -cand.popularity_score,
            -cand.doc_frequency,
            -cand.total_frequency,
            cand.word,
        )
        if best_rank is None or rank < best_rank:
            best_rank, best, best_dist = rank, cand, dist

    if best is None or best_dist is None:
        return None
    if known_pop > 0.0:
        mult = KNOWN_MULT_D1 if best_dist == 1 else KNOWN_MULT_D2
        if best.popularity_score < known_pop * mult:
            return None
    else:
        floor = UNKNOWN_MIN_D1 if best_dist == 1 else UNKNOWN_MIN_D2
        if best.popularity_score < floor:
            return None
    return best.word


def apply_case(original: str, replacement: str) -> str:
    """ALLCAPS / Capitalized / as-is (engine.py:164-169)."""
    if original.isupper():
        return replacement.upper()
    if original[:1].isupper() and original[1:].islower():
        return replacement.capitalize()
    return replacement
