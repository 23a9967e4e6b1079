"""64-bit SimHash (Charikar 2002), matching the de-facto-standard Python
``simhash`` package defaults the reference uses (``duplicate_detection.py:63``:
``Simhash(content.split()).value``): f=64 bits, md5 feature hashing, unit
weights, majority vote per bit. The signed two's-complement wrap mirrors
``duplicate_detection.py:11-14`` (Postgres BIGINT).

``simhash_text`` is the pure-Python reference, one document per call;
``simhash_batch`` computes the same values for a whole Arrow batch in NumPy
(udfs.simhash_udf).
"""

from __future__ import annotations

import hashlib
from collections import Counter
from itertools import chain

import numpy as np

_F = 64
_MASK = (1 << _F) - 1


def _hash_feature(feature: str) -> int:
    # simhash package default hashfunc: md5 of utf-8 bytes -> int, low 64 bits.
    h = int(hashlib.md5(feature.encode("utf-8")).hexdigest(), 16)
    return h & _MASK


def simhash64(features) -> int:
    """Unsigned 64-bit simhash of an iterable of string features.

    Duplicate features accumulate weight (Counter), matching
    ``Simhash(list)`` semantics in the reference's library.
    """
    v = [0] * _F
    counted = Counter(features)
    if not counted:
        return 0
    for feature, weight in counted.items():
        h = _hash_feature(feature)
        for i in range(_F):
            if h & (1 << i):
                v[i] += weight
            else:
                v[i] -= weight
    ans = 0
    for i in range(_F):
        if v[i] > 0:
            ans |= 1 << i
    return ans


def to_signed64(value: int) -> int:
    """uint64 -> int64 two's-complement wrap (``duplicate_detection.py:11-14``)."""
    if value >= (1 << 63):
        return value - (1 << 64)
    return value


def simhash_text(content: str) -> int:
    """Signed simhash of whitespace-split content (reference semantics)."""
    return to_signed64(simhash64((content or "").split()))


def simhash_batch(contents) -> np.ndarray:
    """``simhash_text`` of every content (None reads as empty), as int64.

    Each distinct feature of the batch is md5-hashed once. A document's bit
    ``i`` is set iff more than half of its features, repeats counted, have
    bit ``i`` set: the reference's majority vote. The votes are one
    ``bincount`` per bit over (document, feature) pairs weighted by their
    repeat counts; the sums are integers far below 2^53, so exact."""
    words = [(c or "").split() for c in contents]
    flat = list(chain.from_iterable(words))
    index = {w: i for i, w in enumerate(dict.fromkeys(flat))}
    n_features = max(len(index), 1)
    feature = np.fromiter(map(index.__getitem__, flat), dtype=np.int64, count=len(flat))
    doc = np.repeat(np.arange(len(words)), [len(w) for w in words])
    digests = b"".join(hashlib.md5(f.encode("utf-8")).digest() for f in index)
    # the low 64 bits of md5's big-endian value are its last 8 bytes
    hashes = np.frombuffer(digests, dtype=">u8")[1::2].astype(np.uint64)
    pair, weight = np.unique(doc * n_features + feature, return_counts=True)
    pair_doc, pair_hash = pair // n_features, hashes[pair % n_features]
    total = np.bincount(pair_doc, weights=weight, minlength=len(words))
    value = np.zeros(len(words), dtype=np.uint64)
    for i in range(_F):
        has_bit = ((pair_hash >> np.uint64(i)) & np.uint64(1)).astype(np.int64)
        ones = np.bincount(pair_doc, weights=weight * has_bit, minlength=len(words))
        value |= (2 * ones > total).astype(np.uint64) << np.uint64(i)
    return value.view(np.int64)


def hamming64(a: int, b: int) -> int:
    """Hamming distance between two (possibly signed) 64-bit fingerprints."""
    return ((a ^ b) & _MASK).bit_count()
