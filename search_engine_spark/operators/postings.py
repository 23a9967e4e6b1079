"""Document-sharded, term-keyed compressed postings build — the
scale-critical stage.

tokens(doc_id, term, field, frequency) -> postings(term, term_bucket, shard,
df, ctf, block_max, block_last, block_offset, postings) with per-(term, shard)
delta+varint binaries (codec.py).

Layout rationale (north_rule: explicit partitioning / shuffle / skew):

- ``shard`` is a GLOBAL doc-id-range bucket: ``floor(unsigned(doc_id) / 2^64
  * n_shards)`` — identical boundaries for every term. Two properties follow:
  (1) a Zipf head term's postings split into n_shards bounded runs, so no
  encode task ever holds more than one run of ~corpus/n_shards postings
  plus one Arrow batch — the skew cap; (2) within one shard, EVERY query
  term's list covers the same doc range, so a shard is a self-contained
  mini-index and query-time block-max WAND runs shard-local with a plain
  global top-k reduce after (document-partitioned search, the classic
  architecture).
- The mapping is monotone in doc_id, so shards concatenate in global doc
  order; rare terms fragment across shards (the standard doc-partitioned
  tradeoff — bounded by one row per (term, shard), and min/max file skipping
  still prunes them at scan time).
- ``term_bucket = pmod(xxhash64(term), n_buckets)`` is the storage partition
  key: ``partitionBy('term_bucket')`` lets query IN-list scans partition-prune
  (analog of the reference's ``idx_tokens_term`` B-tree, 0001:72).

Ordinals: a posting names its document by ordinal, the document's rank by
doc_id among the shard's documents that have tokens. Ordinals are dense, so
the codec's deltas take a byte or two where the sparse 64-bit ids took 8-9.
The numbering is monotone in doc_id, so every list's order, WAND's cursor
and ``block_last`` seeks and every tie-break are as over doc ids. Each
shard's ordinal -> doc_id map rides in the table as one more row under the
reserved term ``MAP_TERM`` (``""``; the tokenizer never emits it, and
``build_postings`` rejects it): its ``postings`` column holds the shard's
doc ids in ordinal order as little-endian int64, with ``df = ctf = 0`` and
empty skip arrays. A reader decodes a shard's ordinals through that row.

Sizing: ``n_shards = ceil(n_docs / DEFAULT_DOCS_PER_SHARD)``. At 2^22 (~4M)
each (head-term, shard) run stays ~4M postings ≈ tens of MB decoded —
executor-safe. The numbering collects the distinct doc ids to the driver
(12 B per document, also shipped to each encode task), the one part of the
stage that grows with the whole corpus.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..codec import decode_postings_batch, encode_postings_batch
from ..xxhash import term_bucket
from .tokens import FIELD_IDS

DEFAULT_DOCS_PER_SHARD = 4_194_304  # 2^22
# the term_bucket modulus every index writer uses; readers take it from the
# build's build_meta.json, never from here
TERM_BUCKETS = 16
# the term of each shard's ordinal -> doc_id map row (module docstring)
MAP_TERM = ""
_U64 = float(1 << 64)
_U63 = float(1 << 63)

POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("term_bucket", T.IntegerType(), False),
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("df", T.LongType(), False),
        T.StructField("ctf", T.LongType(), False),
        T.StructField("block_max", T.ArrayType(T.DoubleType()), False),
        T.StructField("block_last", T.ArrayType(T.LongType()), False),
        T.StructField("block_offset", T.ArrayType(T.IntegerType()), False),
        T.StructField("postings", T.BinaryType(), False),
    ]
)
_POSTINGS_ARROW = to_arrow_schema(POSTINGS_SCHEMA)
_RUN_KEY = ("term", "shard")


def shard_col(n_shards: int) -> F.Column:
    """Monotone doc_id -> shard bucket in [0, n_shards)."""
    unit = (F.col("doc_id").cast("double") + F.lit(_U63)) / F.lit(_U64)  # [0,1)
    return F.least(
        F.floor(unit * F.lit(n_shards)).cast("int"), F.lit(n_shards - 1)
    )


def n_shards_for(n_docs: int) -> int:
    return max(1, math.ceil(n_docs / DEFAULT_DOCS_PER_SHARD))


def map_ids(blob: bytes) -> np.ndarray:
    """A map row's ``postings`` -> the shard's doc ids, indexed by ordinal."""
    return np.frombuffer(blob, dtype="<i8")


def ordinal_maps(keys: list, blobs: list) -> tuple[dict, np.ndarray]:
    """Map rows -> (base, ids): ordinal ``o`` of the map keyed ``k`` names
    document ``ids[base[k] + o]``."""
    parts = [map_ids(b) for b in blobs]
    sizes = [p.size for p in parts]
    base = dict(zip(keys, np.cumsum([0, *sizes[:-1]]).tolist()))
    return base, np.concatenate([np.empty(0, np.int64), *parts])


class _Numbering:
    """Every document's ordinal, from the distinct (shard, doc_id) pairs.

    ``ids`` holds each doc id once, ascending; shards are doc-id ranges, so
    each shard's documents are a contiguous slice of it, starting at
    ``first[shard]``. A document's ordinal is its index in its shard's
    slice."""

    def __init__(self, shard: np.ndarray, doc_id: np.ndarray) -> None:
        self.ids, at = np.unique(doc_id, return_index=True)
        self.shard = shard[at].astype(np.int32)
        top = int(self.shard[-1]) + 1 if self.shard.size else 0
        self.first = np.searchsorted(self.shard, np.arange(top + 1))

    def ordinals(self, shard: np.ndarray, doc_id: np.ndarray) -> np.ndarray:
        at = np.searchsorted(self.ids, doc_id)
        if not np.array_equal(self.ids.take(at, mode="clip"), doc_id):
            raise ValueError("a posting's doc_id is missing from its numbering")
        return at - self.first[shard]

    def map_rows(self, spark, bucket: int) -> DataFrame:
        """One MAP_TERM row per shard, in POSTINGS_SCHEMA."""
        shards = np.unique(self.shard)
        n = shards.size
        zeros = pa.array(np.zeros(n, np.int64))
        empty = lambda t: pa.array([[]] * n, pa.list_(t))  # noqa: E731
        per_shard = np.split(self.ids.astype("<i8"), self.first[1:-1])
        rows = pa.Table.from_arrays(
            [
                pa.array([MAP_TERM] * n),
                pa.array(np.full(n, bucket, np.int32)),
                pa.array(shards),
                zeros,
                zeros,
                empty(pa.float64()),
                empty(pa.int64()),
                empty(pa.int32()),
                pa.array([per_shard[s].tobytes() for s in shards], pa.binary()),
            ],
            schema=_POSTINGS_ARROW,
        )
        return spark.createDataFrame(rows, schema=POSTINGS_SCHEMA)


_DECODED_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("term_bucket", T.IntegerType(), False),
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("f1", T.LongType(), False),
        T.StructField("f2", T.LongType(), False),
        T.StructField("f4", T.LongType(), False),
        T.StructField("_segment", T.IntegerType(), False),
    ]
)

_DECODED_ARROW = to_arrow_schema(_DECODED_SCHEMA)
_DECODE_CHUNK = 1 << 18  # rows per yielded batch: bounds what the JVM reads at once


def _decode_batches(batches, base: dict, ids: np.ndarray):
    """postings rows -> per-(term, doc) frequency rows (mapInArrow), every
    blob of a batch decoded in one ``decode_postings_batch`` pass and its
    ordinals mapped through its (segment, shard) map in ``ordinal_maps``
    form."""
    for batch in batches:
        if not batch.num_rows:
            continue
        counts, ordinals, f1, f2, f4 = decode_postings_batch(batch["postings"].to_pylist())
        row = np.repeat(np.arange(batch.num_rows), counts)
        keys = batch.select(["term", "term_bucket", "shard", "_segment"]).take(row)
        row_base = np.array(
            [
                base[k]
                for k in zip(
                    batch["_segment"].to_pylist(), batch["shard"].to_pylist()
                )
            ],
            dtype=np.int64,
        )
        out = pa.RecordBatch.from_arrays(
            [
                *keys.columns[:3],
                pa.array(ids[row_base[row] + ordinals]),
                *(pa.array(f.view(np.int64)) for f in (f1, f2, f4)),
                keys["_segment"],
            ],
            schema=_DECODED_ARROW,
        )
        for lo in range(0, out.num_rows, _DECODE_CHUNK):
            yield out.slice(lo, _DECODE_CHUNK)


def _run_starts(batch: pa.RecordBatch) -> np.ndarray:
    """Rows of a (term, shard)-sorted batch where a new run starts."""
    n = batch.num_rows
    term, shard = batch["term"], batch["shard"].to_numpy()
    start = np.ones(n, dtype=bool)
    start[1:] = pc.not_equal(term.slice(1), term.slice(0, n - 1)).to_numpy(
        zero_copy_only=False
    ) | (shard[1:] != shard[:-1])
    return np.flatnonzero(start)


def _continues(last: pa.RecordBatch, batch: pa.RecordBatch) -> bool:
    """Whether ``batch``'s first row is in the run of ``last``'s last row."""
    i = last.num_rows - 1
    return all(last[c][i].as_py() == batch[c][0].as_py() for c in _RUN_KEY)


def _whole_runs(batches):
    """(term, shard)-sorted Arrow batches -> (table, run lengths) holding
    whole runs only.

    The run that reaches a batch's end may go on in the next batch, so it
    is carried as a list of slices and concatenated once, when it ends: a
    head-term run spanning many batches costs time linear in its rows, and
    a task holds at most that one run plus one batch."""
    carry, carry_rows = [], 0
    for batch in batches:
        if not batch.num_rows:
            continue
        starts = _run_starts(batch)
        lengths = np.diff(starts, append=batch.num_rows)
        if carry and _continues(carry[-1], batch):
            carry.append(batch.slice(0, lengths[0]))
            carry_rows += int(lengths[0])
            starts, lengths = starts[1:], lengths[1:]
            if not starts.size:
                continue
        run_lengths = [carry_rows] * bool(carry) + lengths[:-1].tolist()
        if run_lengths:
            body = batch.slice(starts[0], starts[-1] - starts[0])
            yield pa.Table.from_batches([*carry, body]), run_lengths
        carry, carry_rows = [batch.slice(starts[-1])], int(lengths[-1])
    if carry:
        yield pa.Table.from_batches(carry), [carry_rows]


def _encode_runs(batches, fields, numbering: _Numbering):
    """(term, shard)-sorted rows -> one postings row per run (mapInArrow).

    ``fields(table)`` gives each row's (f1, f2, f4, ctf) contribution; the
    codec sums a doc's rows into its posting, named by its ordinal."""
    for table, run_lengths in _whole_runs(batches):
        f1, f2, f4, ctf_row = fields(table)
        first = np.cumsum(run_lengths) - run_lengths
        ordinals = numbering.ordinals(table["shard"].to_numpy(), table["doc_id"].to_numpy())
        df, blobs, block_max, block_last, block_offset = encode_postings_batch(
            run_lengths, ordinals, f1, f2, f4
        )
        keys = table.select(["term", "term_bucket", "shard"]).take(first)
        yield pa.RecordBatch.from_arrays(
            [
                *(c.combine_chunks() for c in keys.columns),
                pa.array(df),
                pa.array(np.add.reduceat(ctf_row, first)),
                block_max,
                block_last,
                block_offset,
                blobs,
            ],
            schema=_POSTINGS_ARROW,
        )


def _encode_numbered(rows: DataFrame, fields, numbering: _Numbering, bucket: int) -> DataFrame:
    """One shuffle onto (term, shard), a sort by doc id inside each run,
    and one encode call per Arrow batch; plus the shards' map rows, under
    term_bucket ``bucket``."""
    encoded = (
        rows.repartition(*_RUN_KEY)
        .sortWithinPartitions(*_RUN_KEY, "doc_id")
        .mapInArrow(
            lambda batches: _encode_runs(batches, fields, numbering), schema=POSTINGS_SCHEMA
        )
    )
    if not numbering.ids.size:
        return encoded
    return encoded.union(numbering.map_rows(rows.sparkSession, bucket))


def _token_fields(table: pa.Table):
    """Raw token rows, one per (doc, field): each adds its frequency to its
    field and to ctf."""
    field = table["field"].to_numpy()
    freq = table["frequency"].to_numpy().astype(np.int64)
    return (*(np.where(field == f, freq, 0) for f in FIELD_IDS), freq)


def _posting_fields(table: pa.Table):
    """Decoded posting rows, one per (doc, term)."""
    f1, f2, f4 = (table[c].to_numpy() for c in ("f1", "f2", "f4"))
    return f1, f2, f4, f1 + f2 + f4


def merge_postings(segments: list[DataFrame]) -> DataFrame:
    """Segment merge: N postings tables -> one (north_rule: "posting-list
    construction, MERGE, compression").

    Doc-LEVEL override semantics (LSM upsert): the newest segment that
    contains ANY posting for a doc owns that doc outright — so a
    re-crawled doc that no longer contains a term it had in an older
    segment stops matching that term (older segments' stale postings for
    the doc are dropped, not just overridden per (term, doc)).

    Plan: collect every segment's map rows; decode each segment's blobs to
    per-(term, doc) rows through its own maps (mapInArrow over
    ``codec.decode_postings_batch``, no shuffle), derive each doc's owning
    segment with a map-side-combined max over the uniformly distributed
    doc_id key, keep only rows from the owner, then renumber and re-encode
    through the build's sorted-run encoder on the same bounded (term,
    shard) runs. The owner always keeps a posting of its doc, so the merged
    shard's documents are the union of the segments' maps. Three shuffles —
    owner agg (doc_id), owner join (doc_id, exchange reused from the agg),
    re-encode repartition (term, shard) — all on uniform or doc-range-capped
    keys; a head term never funnels through one reducer.

    ``df``/``ctf`` are recomputed per (term, shard) row, consistent with
    build_postings' per-shard semantics. Merging disjoint-doc segments is
    bit-identical to a single-shot build of the union.
    """
    if not segments:
        raise ValueError("merge_postings needs at least one segment")
    tagged = segments[0].withColumn("_segment", F.lit(0))
    for i, seg in enumerate(segments[1:], start=1):
        tagged = tagged.unionByName(seg.withColumn("_segment", F.lit(i)))
    maps = (
        tagged.filter(F.col("term") == MAP_TERM)
        .select("_segment", "shard", "term_bucket", "postings")
        .collect()
    )
    base, ids = ordinal_maps([(r[0], r[1]) for r in maps], [r[3] for r in maps])
    shard = np.repeat(
        np.array([r[1] for r in maps], np.int32), [len(r[3]) // 8 for r in maps]
    )
    # decoded feeds BOTH the owner aggregate and the join probe side; without
    # a materialization barrier the blob decode — the most expensive stage —
    # executes twice per merge (same lineage-breaking pattern as
    # connected_components / build_news_tables)
    decoded = (
        tagged.filter(F.col("term") != MAP_TERM)
        .select("term", "term_bucket", "shard", "postings", "_segment")
        .mapInArrow(lambda b: _decode_batches(b, base, ids), schema=_DECODED_SCHEMA)
        .localCheckpoint(eager=True)
    )
    owner = decoded.groupBy("doc_id").agg(F.max("_segment").alias("_owner"))
    kept = decoded.join(owner, "doc_id").filter(F.col("_segment") == F.col("_owner"))
    return _encode_numbered(
        kept.select("term", "term_bucket", "shard", "doc_id", "f1", "f2", "f4"),
        _posting_fields,
        _Numbering(shard, ids),
        maps[0][2] if maps else 0,
    )


def build_postings(
    tokens: DataFrame,
    n_shards: int = 1,
    n_term_buckets: int = TERM_BUCKETS,
) -> DataFrame:
    """tokens -> compressed per-(term, shard) postings rows, plus one
    ordinal map row per shard (module docstring).

    ``df``/``ctf`` per row are per-shard; whole-term statistics live in
    term_statistics. The index writers (``pipeline.build._derive_tables``)
    size ``n_shards`` from the document count via :func:`n_shards_for` and
    pass the ``TERM_BUCKETS`` modulus.

    The numbering runs first, as its own Spark job: the distinct
    (shard, doc_id) pairs are collected and ranked on the driver. It also
    checks that no token has the reserved term ``MAP_TERM``, and raises
    ``ValueError`` if one does.

    Then ONE shuffle: raw token rows hash onto (term, shard), are sorted by
    (term, shard, doc_id) inside each partition, and reach Python one Arrow
    batch at a time (``mapInArrow``). ``codec.encode_postings_batch`` then
    encodes every (term, shard) run of the batch in NumPy, pivoting each
    doc's field rows into its posting, with one call per batch instead of
    one pandas call per group (1,978 groups on a 4k-page corpus). A run
    that crosses a batch edge is carried into the next batch. Skew stays
    bounded: the shard component caps every run at ~corpus/n_shards
    postings (invariant 6), and a task holds one run plus one batch."""
    salted = tokens.withColumn("shard", shard_col(n_shards)).withColumn(
        "term_bucket",
        F.pmod(F.xxhash64("term"), F.lit(n_term_buckets)).cast("int"),
    )
    pairs = (
        salted.select("shard", "doc_id", (F.col("term") == MAP_TERM).alias("reserved"))
        .distinct()
        .toArrow()
    )
    if pc.any(pairs["reserved"]).as_py():
        raise ValueError(f"a token has the reserved term {MAP_TERM!r}")
    return _encode_numbered(
        salted.select("term", "term_bucket", "shard", "doc_id", "field", "frequency"),
        _token_fields,
        _Numbering(pairs["shard"].to_numpy(), pairs["doc_id"].to_numpy()),
        term_bucket(MAP_TERM, n_term_buckets),
    )
