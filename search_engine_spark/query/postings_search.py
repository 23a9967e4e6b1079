"""Query execution over the compressed postings index.

A pinned engine (``pin_shard_layout=True``, how ``load_engines`` opens a
serving index) is served from driver memory. It is built from three Arrow
tables, the ``PINNED_SCHEMAS`` columns of documents, postings and
term_statistics. ``load_engines`` reads them with pyarrow from exactly the
files each table's commit marker names, so the open runs no Spark job; an
engine built on DataFrames collects the same selections with ``toArrow()``.
Either way one decoder, ``_PinnedIndex``, builds, once:

- each document's dense ordinal: its rank in url order, so comparing
  ordinals is comparing urls;
- per term, the ordinals of its postings and each posting's baked
  contribution ``idf * weighted_tf``, the blobs decoded in a few
  vectorized passes (``codec.decode_postings_batch``). idf is
  ``term_stats.idf_py`` of the documents collected and the term's
  ``doc_frequency``, as the oracle computes it (1.0 for a term missing from
  term_statistics). A blob holds shard ordinals: each shard's map row
  (``operators/postings.py``) turns them into url ordinals, with one lookup
  per document and one gather per posting; a posting whose doc is missing
  from documents is dropped;
- per ordinal, the document's (title, description, url) and the fields the
  intent re-rank reads (``intent.doc_fields``).

A search then runs no Spark job, and its array work releases the GIL to
concurrent searches:

1. analyze the query (``search_context``);
2. fold each query term's contributions into a per-request score vector,
   in ascending term order (the ordered fold of CLAUDE.md invariant 4, the
   same as WAND's, so scores match it to the bit), counting matched terms
   beside it;
3. order the matched documents by (token_score DESC, ordinal) and cut at
   candidate_limit;
4. intent re-rank in Python (``intent.intent_score_fields``), order by
   (score DESC, ordinal), page.

Steps 2-4 are ``rank_in_memory``, which the news engine
(``query/news_search.py``) runs over its own arrays too.

An unpinned engine plans the same steps as Spark jobs (SURVEY.md §3.1
"Spark rebuild"):

1. driver: collect the <= |terms| idf rows (broadcast-scale).
2. scan postings WHERE term IN (..., MAP_TERM) — the query terms' rows and
   each shard's ordinal map row; partition-prunes on term_bucket when the
   table is written partitioned, plus parquet min/max skipping on term.
3. groupBy(shard) -> applyInPandas: shard-local block-max WAND top-k over
   ordinals, mapped back to doc ids through the shard's map row.
   Each shard emits <= candidate_limit rows (+boundary ties).
4. join document metadata on the surviving <= k * n_shards rows only, then
   global TakeOrderedAndProject by (token_score DESC, url ASC).
5. intent re-rank Columns + pagination (shared with the row-index engine).

The per-shard k equals the final candidate_limit, so the global top-k is
exact (any doc in the global top-k is in its shard's top-k).
"""

from __future__ import annotations

import bisect
import threading
from contextlib import contextmanager

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..codec import BLOCK_SIZE, W_BODY, W_DESC, W_TITLE, decode_postings_batch
from ..operators.postings import MAP_TERM, map_ids, ordinal_maps
from ..operators.term_stats import idf_py
from .analysis import QueryContext, search_context
from .intent import doc_fields, intent_score_fields, rerank
from .search import SearchResponse, SearchResult
from .wand import TermPostings, score_shard_wand

# reference-counted interactive_conf state, keyed by session identity:
# outermost scope saves the true originals, last exit restores them
_INTERACTIVE_LOCK = threading.Lock()
_INTERACTIVE_DEPTH: dict[int, int] = {}
_INTERACTIVE_SAVED: dict[int, dict[str, str | None]] = {}

# Documents a pinned engine holds in driver memory; open fails above it.
# tracemalloc over one pinned open of the perfbench serve index (889
# documents, 1,979 posting rows, 73,767 postings) measured ~2.3 KB held per
# document: the document fields and their precomputed re-rank forms
# ~0.85 KB, the posting arrays (12 B per posting) ~1.0 KB, the per-term
# offsets and term strings ~0.45 KB. So this budget is ~1.2 GB.
MAX_SERVING_DOCUMENTS = 500_000
# what a pinned engine reads of each table: these columns, in these types
PINNED_SCHEMAS = {
    "documents": pa.schema(
        [
            ("doc_id", pa.int64()),
            ("title", pa.string()),
            ("description", pa.string()),
            ("url", pa.string()),
        ]
    ),
    "postings": pa.schema(
        [("term", pa.string()), ("shard", pa.int32()), ("postings", pa.binary())]
    ),
    "term_statistics": pa.schema([("term", pa.string()), ("doc_frequency", pa.int64())]),
}
# blob bytes the open decodes per NumPy pass: the decode's temporaries take
# ~18 B per blob byte, so this bounds them at ~300 MB whatever the index size
_DECODE_BATCH_BYTES = 16 << 20

_CANDIDATE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("token_score", T.DoubleType(), False),
        T.StructField("matched_terms", T.IntegerType(), False),
    ]
)


def check_serving_budget(n_documents: int) -> None:
    """``ValueError`` when ``n_documents`` exceed ``MAX_SERVING_DOCUMENTS``."""
    if n_documents > MAX_SERVING_DOCUMENTS:
        raise ValueError(
            "a pinned search engine holds at most MAX_SERVING_DOCUMENTS = "
            f"{MAX_SERVING_DOCUMENTS} documents in memory; this index has more"
        )


def _make_shard_scorer(idf_by_term: dict, k: int, acc_decoded=None, acc_total=None):
    """One shard's rows (its query terms' and its ordinal map row) ->
    WAND top-k candidates, their ordinals mapped back to doc ids."""

    def scorer(pdf: pd.DataFrame) -> pd.DataFrame:
        is_map = pdf["term"] == MAP_TERM
        doc_ids = map_ids(bytes(pdf["postings"][is_map].iloc[0]))
        entries = [
            TermPostings(
                term=r.term,
                idf=idf_by_term.get(r.term, 1.0),
                blob=bytes(r.postings),
                block_max=list(r.block_max),
                block_last=list(r.block_last),
                block_offset=list(r.block_offset),
            )
            for r in pdf[~is_map].itertuples()
        ]
        stats: dict = {}
        rows = score_shard_wand(entries, k, stats)
        if acc_decoded is not None:
            acc_decoded.add(stats.get("blocks_decoded", 0))
            acc_total.add(stats.get("blocks_total", 0))
        if not rows:
            return pd.DataFrame(
                {"doc_id": pd.Series(dtype="int64"),
                 "token_score": pd.Series(dtype="float64"),
                 "matched_terms": pd.Series(dtype="int32")}
            )
        ordinals, scores, matched = zip(*rows)
        return pd.DataFrame(
            {
                "doc_id": doc_ids[list(ordinals)],
                "token_score": scores,
                "matched_terms": matched,
            }
        )

    return scorer


class PostingsSearchEngine:
    """/search over (documents, postings, term_statistics) tables."""

    def __init__(
        self,
        documents: DataFrame,
        postings: DataFrame,
        term_statistics: DataFrame,
        n_term_buckets: int | None = None,
        interactive: bool = False,
        pin_shard_layout: bool = False,
        pinned_tables: tuple[pa.Table, pa.Table, pa.Table] | None = None,
    ) -> None:
        """``pinned_tables`` are the ``PINNED_SCHEMAS`` selections of
        (documents, postings, term_statistics) already in Arrow form, as
        ``load_engines`` reads them from the committed files; without them
        a pinned engine collects them from the DataFrames."""
        self.documents = documents
        self.postings = postings
        self.term_statistics = term_statistics
        # Interactive query-service tuning: AQE off — its adaptive stage
        # materialization adds one scheduling round-trip per exchange, worth
        # it for batch, pure overhead for a sub-second top-k over cached
        # tables — and few shuffle partitions, sized to the shard count
        # rather than the batch default. Applied SCOPED around each query
        # action (interactive_conf), never left set on the shared session:
        # a constructor that rewrites session-wide configs contaminates any
        # co-resident batch job (r02 verdict item 2).
        self.interactive = interactive
        # r03 sweep at 4k docs / local[32], interleaved best-of-4 to cancel
        # ambient drift: parts=8 10.0s < aqe-on-default 12.4s < parts=4
        # 16.1s < parts=16 19.4s for the 20-query set — 8 keeps the doc
        # join / top-k parallel without AQE's per-exchange round trips
        self.interactive_shuffle_partitions = 8
        # Served from driver memory: every search after this runs no
        # Spark job (module docstring).
        self._pinned: _PinnedIndex | None = None
        if pin_shard_layout:
            self._pinned = _PinnedIndex(
                *(pinned_tables or _collect_pinned(documents, postings, term_statistics))
            )
        # MUST match the modulus the postings were built with, or bucket
        # pruning silently drops valid partitions (CLAUDE.md invariant 7;
        # load_engines reads it from the build's meta file). When the
        # modulus is unknown (no build_meta.json — e.g. an engine built
        # directly on build_postings output), NEVER guess a default:
        # pruning is skipped entirely and the term IN-list still prunes
        # via parquet min/max statistics.
        self.n_term_buckets = n_term_buckets
        # idf per term is immutable for one index build; memoize lookups so
        # repeated query terms cost zero jobs (the reference's term_statistics
        # read is amortized by Postgres' buffer cache — this is our analog)
        self._idf_cache: dict[str, float | None] = {}
        # block telemetry: accumulators for the executor-side WAND scorers,
        # lock-guarded counters for the pinned path; read via scan_stats()
        sc = documents.sparkSession.sparkContext
        self._acc_decoded = sc.accumulator(0)
        self._acc_total = sc.accumulator(0)
        self._stats_lock = threading.Lock()
        self._blocks_decoded = 0
        self._blocks_total = 0

    @contextmanager
    def interactive_conf(self):
        """Scoped serving-profile configs (no-op unless ``interactive``).

        Saves the session's AQE / shuffle-partition settings, applies the
        low-latency profile for the duration of the block, and always
        restores the originals — so constructing or querying an engine
        never leaks configuration into co-resident batch jobs. Spark reads
        both configs at action time, so wrapping the ``.collect()`` is
        sufficient.

        Concurrent/nested scopes on the same session are REFERENCE-COUNTED
        under a lock: only the outermost entry saves (so an inner scope
        never records the already-overridden profile as "original") and
        only the last exit restores — without this, two overlapping
        searches leave the session permanently in the serving profile.
        Session-wide configs remain visible to a batch action that runs
        DURING a search's window; keep latency-critical serving on its own
        SparkSession if batch jobs share the process.
        """
        if not self.interactive:
            yield
            return
        spark = self.documents.sparkSession
        conf = spark.conf
        key = id(spark)
        with _INTERACTIVE_LOCK:
            depth = _INTERACTIVE_DEPTH.get(key, 0)
            if depth == 0:
                _INTERACTIVE_SAVED[key] = {
                    k: conf.get(k, None)
                    for k in (
                        "spark.sql.adaptive.enabled",
                        "spark.sql.shuffle.partitions",
                    )
                }
                conf.set("spark.sql.adaptive.enabled", "false")
                conf.set(
                    "spark.sql.shuffle.partitions",
                    str(self.interactive_shuffle_partitions),
                )
            _INTERACTIVE_DEPTH[key] = depth + 1
        try:
            yield
        finally:
            with _INTERACTIVE_LOCK:
                _INTERACTIVE_DEPTH[key] -= 1
                if _INTERACTIVE_DEPTH[key] == 0:
                    del _INTERACTIVE_DEPTH[key]
                    for k, v in _INTERACTIVE_SAVED.pop(key).items():
                        if v is None:
                            conf.unset(k)
                        else:
                            conf.set(k, v)

    def scan_stats(self) -> dict:
        """Cumulative block telemetry of both paths: blocks decoded vs total
        blocks in the scanned posting lists. WAND never deserializes a
        skipped block; the pinned path reads every block of the query
        terms' rows (decoded at open), so it counts each as both."""
        with self._stats_lock:
            total = self._acc_total.value + self._blocks_total
            decoded = self._acc_decoded.value + self._blocks_decoded
        return {
            "blocks_decoded": decoded,
            "blocks_total": total,
            "decoded_fraction": (decoded / total) if total else None,
        }

    def _query_buckets(self, terms: list[str]) -> list[int]:
        """term_bucket values for the query terms, via the pure-Python
        xxhash64 twin (bit-identical to the writer's Spark expression,
        tests/test_xxhash.py) — zero Spark jobs per query."""
        from ..xxhash import term_bucket

        return sorted({term_bucket(t, self.n_term_buckets) for t in terms})

    def _candidates(self, ctx: QueryContext) -> DataFrame:
        terms = list(ctx.query_terms)
        missing = [t for t in terms if t not in self._idf_cache]
        if missing:
            found = {
                r["term"]: float(r["idf"])
                for r in self.term_statistics.filter(
                    F.col("term").isin(missing)
                )
                .select("term", "idf")
                .collect()
            }
            for t in missing:
                self._idf_cache[t] = found.get(t)
        idf_by_term = {
            t: v for t in terms if (v := self._idf_cache[t]) is not None
        }

        # term_bucket is the storage partition key (pipeline writes
        # partitionBy('term_bucket')): filtering on it turns the IN-list
        # term filter into directory-level partition pruning; the term
        # filter itself then prunes row groups via parquet min/max. Only
        # applied when the build's modulus is known — a mismatched modulus
        # would silently drop valid partitions.
        # each shard's ordinal map row rides along with its query terms' rows
        scan_terms = [*terms, MAP_TERM]
        term_filter = F.col("term").isin(scan_terms)
        if self.n_term_buckets is not None:
            term_filter = (
                F.col("term_bucket").isin(self._query_buckets(scan_terms)) & term_filter
            )
        hits = self.postings.filter(term_filter).select(
            "shard", "term", "block_max", "block_last", "block_offset", "postings"
        )
        scored = hits.groupBy("shard").applyInPandas(
            _make_shard_scorer(
                idf_by_term,
                ctx.candidate_limit,
                acc_decoded=self._acc_decoded,
                acc_total=self._acc_total,
            ),
            schema=_CANDIDATE_SCHEMA,
        )
        docs_slim = self.documents.select("doc_id", "title", "description", "url")
        # the candidate side is <= candidate_limit rows per shard but comes
        # out of an Arrow grouped-map stage, so Catalyst has no stats and
        # would otherwise plan a SHUFFLE join — at 10^12 docs that shuffles
        # the documents table once per query. The explicit broadcast pins
        # the only sane plan at scale: stream/probe the (huge) documents
        # side, broadcast the tiny candidate set (plan-asserted in
        # tests/test_plans.py).
        return (
            F.broadcast(scored).join(docs_slim, "doc_id", "inner")
            .select("title", "description", "url", "token_score", "matched_terms")
            .orderBy(F.desc("token_score"), F.asc("url"))
            .limit(ctx.candidate_limit)
        )

    def candidates_df(self, q: str, limit: int = 20, offset: int = 0) -> DataFrame | None:
        ctx = search_context(q, limit, offset)
        if ctx is None:
            return None
        return self._candidates(ctx)

    def _ranked_in_memory(self, ctx: QueryContext) -> list:
        index = self._pinned
        ranges, blocks = [], 0
        for term in sorted(ctx.query_terms):
            postings = index.by_term.get(term)
            if postings is not None:
                lo, hi, n_blocks = postings
                ranges.append((lo, hi))
                blocks += n_blocks
        with self._stats_lock:
            self._blocks_decoded += blocks
            self._blocks_total += blocks
        ranked = rank_in_memory(index.ords, index.contrib, ranges, index.fields, ctx)
        return [(*index.docs[o], s) for s, o in ranked]

    def search(self, q: str, limit: int = 20, offset: int = 0) -> SearchResponse:
        ctx = search_context(q, limit, offset)
        if ctx is None:
            return SearchResponse(results=[], count=0)
        if self._pinned is not None:
            ranked = self._ranked_in_memory(ctx)
        else:
            with self.interactive_conf():
                ranked = rerank(self._candidates(ctx), ctx).collect()
        page = [
            SearchResult(
                title=title or "",
                description=description or "",
                url=url,
                score=float(score),
            )
            for title, description, url, score in ranked[offset : offset + limit]
        ]
        count = max(len(ranked), offset + len(page))
        return SearchResponse(results=page, count=count)


def rank_in_memory(
    ords: np.ndarray,
    contrib: np.ndarray,
    ranges: list[tuple[int, int]],
    fields: list,
    ctx: QueryContext,
    bonus: float = 0.0,
) -> list[tuple[float, int]]:
    """Steps 2-4 of a search served from driver memory -> (score, ordinal)
    pairs in rank order. ``ranges`` holds each query term's (lo, hi) into
    ``ords`` (distinct ordinals) and ``contrib``, in ascending term order;
    ``fields`` holds one ``intent.doc_fields`` per ordinal. ``bonus`` is added
    to each intent score before the final sort (``x + bonus`` can tie where
    ``x`` does not)."""
    score = np.zeros(len(fields))
    matched = np.zeros(len(fields), dtype=np.int32)
    for lo, hi in ranges:
        score[ords[lo:hi]] += contrib[lo:hi]
        matched[ords[lo:hi]] += 1
    hits = np.flatnonzero(matched)
    top = hits[np.lexsort((hits, -score[hits]))[: ctx.candidate_limit]]
    ranked = [
        (intent_score_fields(ctx, s, m, fields[o]) + bonus, o)
        for o, s, m in zip(top.tolist(), score[top].tolist(), matched[top].tolist())
    ]
    ranked.sort(key=lambda r: (-r[0], r[1]))
    return ranked


def term_runs(terms: pa.ChunkedArray) -> dict[str, tuple[int, int]]:
    """Each term's rows [lo, hi) in a term-sorted column."""
    codes = terms.combine_chunks().dictionary_encode()
    edges = np.flatnonzero(np.diff(codes.indices.to_numpy())) + 1
    bounds = np.concatenate(([0], edges, [len(terms)])).tolist()
    return dict(zip(codes.dictionary.to_pylist(), zip(bounds[:-1], bounds[1:])))


def _collect_pinned(
    documents: DataFrame, postings: DataFrame, term_statistics: DataFrame
) -> tuple[pa.Table, pa.Table, pa.Table]:
    """The ``PINNED_SCHEMAS`` selections of the three DataFrames, collected
    with ``toArrow()`` (documents stop one row past the budget)."""

    def collect(df: DataFrame, table: str) -> pa.Table:
        schema = PINNED_SCHEMAS[table]
        return df.select(*schema.names).toArrow().cast(schema)

    return (
        collect(documents.limit(MAX_SERVING_DOCUMENTS + 1), "documents"),
        collect(postings, "postings"),
        collect(term_statistics, "term_statistics"),
    )


class _PinnedIndex:
    """A serving index in driver memory, indexed by dense ordinal (a
    document's rank in url order). ``by_term`` maps a term to (lo, hi,
    blocks): its postings are ``ords[lo:hi]`` (their documents) and
    ``contrib[lo:hi]`` (each one's ``idf * weighted_tf``), and its rows
    hold ``blocks`` codec blocks. Built from the ``PINNED_SCHEMAS``
    selections of documents, postings and term_statistics."""

    def __init__(self, docs: pa.Table, lists: pa.Table, stats: pa.Table) -> None:
        check_serving_budget(docs.num_rows)
        docs = docs.sort_by([("url", "ascending"), ("doc_id", "ascending")])
        self.docs = list(
            zip(*(docs.column(c).to_pylist() for c in ("title", "description", "url")))
        )
        self.fields = [doc_fields(*d) for d in self.docs]
        ordinal_ids = docs.column("doc_id").to_numpy()

        # idf as the oracle computes it, from N and df (term_stats.idf_py)
        doc_total = len(self.docs) or 1
        idf = {
            t: idf_py(doc_total, df)
            for t, df in zip(
                stats.column("term").to_pylist(), stats.column("doc_frequency").to_pylist()
            )
        }
        lists = lists.sort_by([("term", "ascending"), ("shard", "ascending")])
        terms = lists.column("term").to_pylist()
        shards = lists.column("shard").to_numpy()
        blobs = lists.column("postings")
        # MAP_TERM sorts first: rows [0, n_maps) are the shards' ordinal maps.
        # Each shard ordinal maps to its document's url ordinal, or -1 for an
        # orphan (a map id missing from documents; one past every document's
        # id lands at searchsorted's end): one lookup per document
        n_maps = bisect.bisect_right(terms, MAP_TERM)
        base, map_doc_ids = ordinal_maps(
            shards[:n_maps].tolist(), blobs[:n_maps].to_pylist()
        )
        by_id = np.argsort(ordinal_ids)
        sorted_ids = ordinal_ids[by_id]
        pos = np.searchsorted(sorted_ids, map_doc_ids)
        found = pos < sorted_ids.size
        found[found] = sorted_ids[pos[found]] == map_doc_ids[found]
        url_ord = np.full(pos.size, -1, dtype=np.int64)
        url_ord[found] = by_id[pos[found]]

        terms, shards, blobs = terms[n_maps:], shards[n_maps:], blobs[n_maps:]
        missing = set(shards.tolist()) - base.keys()
        if missing:
            raise ValueError(f"postings shards {sorted(missing)} have no ordinal map row")
        row_base = np.array([base[s] for s in shards.tolist()], dtype=np.int64)
        row_idf = np.array([idf.get(t, 1.0) for t in terms], dtype=np.float64)
        sizes = pc.binary_length(blobs).to_numpy(zero_copy_only=False)
        ords, contrib = [np.empty(0, np.int32)], [np.empty(0)]
        kept, blocks = [np.empty(0, np.int64)], [np.empty(0, np.int64)]
        for a, b in _row_batches(sizes, _DECODE_BATCH_BYTES):
            counts, ordinals, f1, f2, f4 = decode_postings_batch(blobs[a:b].to_pylist())
            row = np.repeat(np.arange(b - a), counts)
            # shard ordinal -> url ordinal: one gather per posting
            doc = url_ord[row_base[a:b][row] + ordinals]
            found = doc >= 0
            weighted = W_TITLE * f1[found] + W_DESC * f2[found] + W_BODY * f4[found]
            row = row[found]
            ords.append(doc[found].astype(np.int32))
            contrib.append(row_idf[a:b][row] * weighted)
            kept.append(np.bincount(row, minlength=b - a))
            blocks.append(-(-counts // BLOCK_SIZE))
        self.ords = np.concatenate(ords)
        self.contrib = np.concatenate(contrib)
        start = np.concatenate(([0], np.cumsum(np.concatenate(kept))))  # each row's postings
        blocks = np.concatenate(blocks)
        self.by_term: dict[str, tuple] = {
            term: (int(start[a]), int(start[b]), int(blocks[a:b].sum()))
            for term, (a, b) in term_runs(lists.column("term")[n_maps:]).items()
        }


def _row_batches(sizes: np.ndarray, batch_bytes: int) -> list[tuple[int, int]]:
    """Consecutive row ranges [a, b), each holding at most ``batch_bytes``
    blob bytes past its first row."""
    ends = np.cumsum(sizes)
    cuts = np.searchsorted(ends, np.arange(batch_bytes, sizes.sum(), batch_bytes), side="right")
    edges = np.unique(np.concatenate(([0], cuts, [sizes.size]))).tolist()
    return list(zip(edges[:-1], edges[1:]))
