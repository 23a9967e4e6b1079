"""Posting-list codec: ordinal-delta + varint, block-independent, with
block-max / block-last / block-offset skip metadata.

The Spark-native inverted index stores one row per (term, shard) with a
binary posting list (north_rule). A posting names its document by ordinal:
the document's rank by doc id among its shard's documents
(``operators/postings.py`` numbers them and stores the ordinal -> doc id
map). Ordinals are dense, so the delta between two postings of a list is
small and its varint short; the sparse 64-bit doc ids took 8-9 bytes per
delta. Blocks of BLOCK_SIZE postings are independently decodable so
block-max WAND can skip whole blocks without touching their bytes:

    blob   := varint(n_postings) block*
    block  := varint(first_ordinal)               # absolute, restarts deltas
              [varint(ordinal_delta)] * (block_len - 1)   # interleaved with:
              per posting: varint(f_title) varint(f_desc) varint(f_body)

Every value is a non-negative integer below 2^63; encoding a negative one
raises ``ValueError``.

Alongside the blob, three skip arrays (one entry per block) ride in table
columns so pruning never deserializes the blob:

- ``block_max``  : max weighted tf (3.2*f1 + 1.7*f2 + 1.0*f4) in the block —
  times idf at query time this bounds any doc's contribution (WAND)
- ``block_last`` : last ordinal in the block — cursor seeks jump
  straight to the first block whose last >= target
- ``block_offset``: byte offset of the block in the blob — random access

Field frequencies stay separate (not pre-weighted) so query-time scoring can
apply the reference field weights (search_service.py:22-26) or true BM25
without rebuilding the index.

Closest reference analog: the B-tree ``idx_tokens_term``
(0001_initial_schema.py:72) — a lookup structure, not a compressed list; this
codec is a new capability required by BASELINE.json.

``encode_postings`` / ``decode_postings`` are the pure-Python reference over
``bytes``, one posting list per call. Their NumPy twins work on many lists
at once: ``encode_postings_batch`` encodes every posting list of an Arrow
batch (the postings build), ``decode_postings_batch`` decodes many blobs
(the merge, and a reader that holds a whole index in memory).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

BLOCK_SIZE = 128

# field weights, reference search_service.py:22-26
W_TITLE = 3.2
W_DESC = 1.7
W_BODY = 1.0


def _write_varint(buf: bytearray, value: int) -> None:
    if value < 0:
        raise ValueError(f"varint of a negative value {value}")
    while True:
        b = value & 0x7F
        value >>= 7
        if value:
            buf.append(b | 0x80)
        else:
            buf.append(b)
            return


def _read_varint(data: bytes, pos: int) -> tuple[int, int]:
    result = 0
    shift = 0
    while True:
        b = data[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not (b & 0x80):
            return result, pos
        shift += 7


def weighted_tf(ft: int, fd: int, fb: int) -> float:
    """Reference field-weighted frequency (search_service.py:18-27)."""
    return W_TITLE * ft + W_DESC * fd + W_BODY * fb


def encode_postings(
    ordinals: list[int], f_title: list[int], f_desc: list[int], f_body: list[int]
) -> tuple[bytes, list[float], list[int], list[int]]:
    """Encode one (term, shard) posting list: ``ordinals`` strictly
    ascending, each in [0, 2^63).

    Returns (blob, block_max, block_last, block_offset).
    """
    buf = bytearray()
    _write_varint(buf, len(ordinals))
    block_max: list[float] = []
    block_last: list[int] = []
    block_offset: list[int] = []
    cur_max = 0.0
    prev = 0
    for i, doc in enumerate(ordinals):
        if i % BLOCK_SIZE == 0:
            block_offset.append(len(buf))
            _write_varint(buf, doc)  # absolute restart
            cur_max = 0.0
        else:
            _write_varint(buf, doc - prev)
        prev = doc
        ft, fd, fb = f_title[i], f_desc[i], f_body[i]
        _write_varint(buf, ft)
        _write_varint(buf, fd)
        _write_varint(buf, fb)
        w = W_TITLE * ft + W_DESC * fd + W_BODY * fb
        if w > cur_max:
            cur_max = w
        if (i + 1) % BLOCK_SIZE == 0 or i + 1 == len(ordinals):
            block_max.append(cur_max)
            block_last.append(doc)
    return bytes(buf), block_max, block_last, block_offset


def decode_block(
    data: bytes, offset: int, n_in_block: int
) -> tuple[list[int], list[int], list[int], list[int]]:
    """Decode one block given its byte offset and posting count."""
    pos = offset
    ordinals: list[int] = []
    f_title: list[int] = []
    f_desc: list[int] = []
    f_body: list[int] = []
    prev = 0
    for i in range(n_in_block):
        v, pos = _read_varint(data, pos)
        prev = v if i == 0 else prev + v
        ordinals.append(prev)
        ft, pos = _read_varint(data, pos)
        fd, pos = _read_varint(data, pos)
        fb, pos = _read_varint(data, pos)
        f_title.append(ft)
        f_desc.append(fd)
        f_body.append(fb)
    return ordinals, f_title, f_desc, f_body


def postings_count(data: bytes) -> int:
    n, _ = _read_varint(data, 0)
    return n


def block_length(n_postings: int, block_idx: int, n_blocks: int) -> int:
    """Posting count of block ``block_idx``."""
    if block_idx < n_blocks - 1:
        return BLOCK_SIZE
    rem = n_postings - (n_blocks - 1) * BLOCK_SIZE
    return rem


def decode_postings(
    data: bytes,
) -> tuple[list[int], list[int], list[int], list[int]]:
    """Decode the whole list -> (ordinals, f_title, f_desc, f_body)."""
    n, pos = _read_varint(data, 0)
    ordinals: list[int] = []
    f_title: list[int] = []
    f_desc: list[int] = []
    f_body: list[int] = []
    prev = 0
    for i in range(n):
        v, pos = _read_varint(data, pos)
        prev = v if i % BLOCK_SIZE == 0 else prev + v
        ordinals.append(prev)
        ft, pos = _read_varint(data, pos)
        fd, pos = _read_varint(data, pos)
        fb, pos = _read_varint(data, pos)
        f_title.append(ft)
        f_desc.append(fd)
        f_body.append(fb)
    return ordinals, f_title, f_desc, f_body


def decode_postings_batch(
    blobs: list,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Decode many blobs in one vectorized pass -> (counts, ordinals, f_title,
    f_desc, f_body): ``counts[i]`` postings of ``blobs[i]``, and the blobs'
    postings concatenated in blob order (ordinals int64, frequencies uint64),
    equal to ``decode_postings`` of each blob in turn."""
    buf = np.frombuffer(b"".join(blobs), dtype=np.uint8)
    # a varint ends at its first byte without the continuation bit; byte k
    # of a varint carries bits 7k..7k+6 of its value
    ends = np.flatnonzero(buf < 0x80)
    starts = np.empty_like(ends)
    starts[:1] = 0
    starts[1:] = ends[:-1] + 1
    length = ends - starts + 1
    values = (buf[starts] & 0x7F).astype(np.uint64)
    longer = np.flatnonzero(length > 1)
    k = 1
    while longer.size:
        values[longer] |= (buf[starts[longer] + k] & 0x7F).astype(np.uint64) << np.uint64(7 * k)
        k += 1
        longer = longer[length[longer] > k]

    # each blob is varint(n) then 4 varints per posting
    blob_start = np.zeros(len(blobs), dtype=np.int64)
    np.cumsum([len(b) for b in blobs[:-1]], out=blob_start[1:])
    header = np.searchsorted(ends, blob_start)
    counts = values[header].astype(np.int64)
    is_posting = np.ones(values.size, dtype=bool)
    is_posting[header] = False
    fields = values[is_posting].reshape(-1, 4)

    # ordinals: an absolute value at each block restart, deltas after it;
    # the uint64 prefix sums wrap, but every difference of them is exact
    first = np.repeat(np.cumsum(counts) - counts, counts)
    restart = (np.arange(fields.shape[0]) - first) % BLOCK_SIZE == 0
    running = np.cumsum(fields[:, 0])
    block_base = (running - fields[:, 0])[restart]
    ordinals = (running - block_base[np.cumsum(restart) - 1]).view(np.int64)
    return counts, ordinals, fields[:, 1], fields[:, 2], fields[:, 3]


def _varints(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """uint64 values -> (their varints concatenated, each varint's start
    byte), byte for byte as ``_write_varint`` writes them."""
    # the byte-length ladder: a value >= 2^(7k) needs a (k+1)-th byte
    length = np.ones(values.size, dtype=np.int64)
    longer = np.flatnonzero(values >> np.uint64(7))
    k = 1
    while longer.size:
        length[longer] += 1
        k += 1
        longer = longer[(values[longer] >> np.uint64(7 * k)) != 0]
    start = np.cumsum(length) - length
    out = np.empty(int(length.sum()), dtype=np.uint8)
    # byte k carries bits 7k..7k+6; every byte but the last sets bit 7
    todo = np.arange(values.size)
    k = 0
    while todo.size:
        low = (values[todo] >> np.uint64(7 * k)) & np.uint64(0x7F)
        more = (length[todo] > k + 1).astype(np.uint8) << np.uint8(7)
        out[start[todo] + k] = low.astype(np.uint8) | more
        k += 1
        todo = todo[length[todo] > k]
    return out, start


def encode_postings_batch(
    run_lengths, ordinals, f_title, f_desc, f_body
) -> tuple[np.ndarray, pa.BinaryArray, pa.ListArray, pa.ListArray, pa.ListArray]:
    """Encode many posting lists in one vectorized pass, equal to
    ``encode_postings`` of each list in turn.

    List ``r`` is the next ``run_lengths[r]`` rows of ``ordinals``
    (non-negative int64) and the three frequency arrays (non-negative
    int64). A run's rows are sorted by ordinal; rows that repeat an ordinal
    are summed into one posting, which pivots one row per (doc, field) into
    one posting per doc.

    Returns ``(df, blobs, block_max, block_last, block_offset)``: ``df[r]``
    postings of list ``r``, the blobs as one ``BinaryArray`` over a single
    buffer, and the three skip arrays as ``ListArray``s, one list per run.
    """
    run_lengths = np.asarray(run_lengths, dtype=np.int64)
    ordinals = np.asarray(ordinals, dtype=np.int64)
    if ordinals.size and ordinals.min() < 0:
        raise ValueError(f"negative ordinal {ordinals.min()}")
    n_runs = run_lengths.size
    row_first = np.cumsum(run_lengths) - run_lengths

    # one posting per (run, doc): rows of a run are sorted by ordinal
    new_posting = np.ones(ordinals.size, dtype=bool)
    new_posting[1:] = ordinals[1:] != ordinals[:-1]
    new_posting[row_first] = True
    posting_row = np.flatnonzero(new_posting)
    docs = ordinals[posting_row]
    f1, f2, f4 = (
        np.add.reduceat(np.asarray(f, dtype=np.int64), posting_row)
        for f in (f_title, f_desc, f_body)
    )
    n_post = docs.size
    post_first = np.searchsorted(posting_row, row_first)
    df = np.diff(np.append(post_first, n_post))
    run_of = np.repeat(np.arange(n_runs), df)

    # the ordinal itself at each block start, the delta to the previous
    # posting elsewhere (ordinals ascend inside a block)
    restart = (np.arange(n_post) - post_first[run_of]) % BLOCK_SIZE == 0
    id_value = docs.copy()
    id_value[1:] -= docs[:-1]
    id_value[restart] = docs[restart]

    # blob r is varint(df[r]) then four varints per posting
    header = np.arange(n_runs) + 4 * post_first
    at = run_of + 1 + 4 * np.arange(n_post)
    values = np.empty(n_runs + 4 * n_post, dtype=np.uint64)
    values[header] = df
    values[at] = id_value.view(np.uint64)
    values[at + 1] = f1
    values[at + 2] = f2
    values[at + 3] = f4
    out, start = _varints(values)
    if out.size > np.iinfo(np.int32).max:
        raise ValueError(f"{out.size} blob bytes exceed one BinaryArray")
    offsets = np.append(start[header], out.size).astype(np.int32)
    blobs = pa.Array.from_buffers(
        pa.binary(), n_runs, [None, pa.py_buffer(offsets), pa.py_buffer(out)]
    )

    block_first = np.flatnonzero(restart)
    block_end = np.empty_like(block_first)
    block_end[:-1] = block_first[1:] - 1
    block_end[-1:] = n_post - 1
    weighted = W_TITLE * f1 + W_DESC * f2 + W_BODY * f4  # encode_postings' order
    list_offsets = pa.array(
        np.append(0, np.cumsum(-(-df // BLOCK_SIZE))).astype(np.int32)
    )

    def per_run(values: np.ndarray) -> pa.ListArray:
        return pa.ListArray.from_arrays(list_offsets, pa.array(values))

    return (
        df,
        blobs,
        per_run(np.maximum.reduceat(weighted, block_first)),
        per_run(docs[block_end]),
        per_run((start[at[block_first]] - start[header[run_of[block_first]]]).astype(np.int32)),
    )
