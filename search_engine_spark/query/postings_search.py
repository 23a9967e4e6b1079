"""Query execution over the compressed postings index.

A pinned engine (``pin_shard_layout=True``, how ``load_engines`` opens a
serving index) is served from driver memory. ``__init__`` collects, once:
the posting rows (term -> per-shard ``TermPostings`` with the term's idf,
1.0 for a term missing from term_statistics), and (title, description,
url) per doc_id. A search then runs no Spark job:

1. analyze the query (``search_context``);
2. block-max WAND top-k per shard (wand.py), pure Python;
3. merge the shards, join the document fields, order by
   (token_score DESC, url ASC) and cut at candidate_limit;
4. intent re-rank in Python (``intent.rerank_rows``), order by
   (score DESC, url ASC), page.

An unpinned engine plans the same steps as Spark jobs (SURVEY.md §3.1
"Spark rebuild"):

1. driver: collect the <= |terms| idf rows (broadcast-scale).
2. scan postings WHERE term IN (...) — partition-prunes on term_bucket when
   the table is written partitioned, plus parquet min/max skipping on term.
3. groupBy(shard) -> applyInPandas: shard-local block-max WAND top-k.
   Each shard emits <= candidate_limit rows (+boundary ties).
4. join document metadata on the surviving <= k * n_shards rows only, then
   global TakeOrderedAndProject by (token_score DESC, url ASC).
5. intent re-rank Columns + pagination (shared with the row-index engine).

On both paths the per-shard k equals the final candidate_limit, so the
global top-k is exact (any doc in the global top-k is in its shard's top-k).
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .analysis import QueryContext, search_context
from .intent import rerank, rerank_rows
from .search import SearchResponse, SearchResult
from .wand import TermPostings, score_shard_wand

# reference-counted interactive_conf state, keyed by session identity:
# outermost scope saves the true originals, last exit restores them
_INTERACTIVE_LOCK = threading.Lock()
_INTERACTIVE_DEPTH: dict[int, int] = {}
_INTERACTIVE_SAVED: dict[int, dict[str, str | None]] = {}

# Documents a pinned engine holds in driver memory; open fails above it.
# tracemalloc over one pinned open of the perfbench serve index (889
# documents, 1,979 posting rows) measured ~2.9 KB per document for the
# documents and posting structures together, so this budget is ~1.5 GB.
MAX_SERVING_DOCUMENTS = 500_000

_CANDIDATE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("token_score", T.DoubleType(), False),
        T.StructField("matched_terms", T.IntegerType(), False),
    ]
)


def _make_shard_scorer(idf_by_term: dict, k: int, acc_decoded=None, acc_total=None):
    def scorer(pdf: pd.DataFrame) -> pd.DataFrame:
        entries = [
            TermPostings(
                term=r.term,
                idf=idf_by_term.get(r.term, 1.0),
                blob=bytes(r.postings),
                block_max=list(r.block_max),
                block_last=list(r.block_last),
                block_offset=list(r.block_offset),
            )
            for r in pdf.itertuples()
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
        docs, scores, matched = zip(*rows)
        return pd.DataFrame(
            {"doc_id": docs, "token_score": scores, "matched_terms": matched}
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
    ) -> None:
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
        self._documents: dict | None = None
        self._postings_by_term: dict | None = None
        if pin_shard_layout:
            self._documents = _collect_documents(documents)
            self._postings_by_term = _collect_postings(postings, term_statistics)
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
        # pruning telemetry: accumulators for the executor-side WAND
        # scorers, lock-guarded counters for the in-memory ones; read via
        # scan_stats()
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
        """Cumulative WAND telemetry of both paths: blocks decoded vs total
        blocks in the scanned posting lists (skipped = never deserialized)."""
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
        term_filter = F.col("term").isin(terms)
        if self.n_term_buckets is not None:
            term_filter = (
                F.col("term_bucket").isin(self._query_buckets(terms)) & term_filter
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
        by_shard: dict[int, list] = {}
        for term in ctx.query_terms:
            for shard, tp in self._postings_by_term.get(term, ()):
                by_shard.setdefault(shard, []).append(tp)
        stats: dict = {}
        candidates = []
        for entries in by_shard.values():
            for doc_id, token_score, matched in score_shard_wand(
                entries, ctx.candidate_limit, stats
            ):
                doc = self._documents.get(doc_id)
                if doc is not None:
                    candidates.append((*doc, token_score, matched))
        with self._stats_lock:
            self._blocks_decoded += stats.get("blocks_decoded", 0)
            self._blocks_total += stats.get("blocks_total", 0)
        candidates.sort(key=lambda c: (-c[3], c[2]))
        return rerank_rows(candidates[: ctx.candidate_limit], ctx)

    def search(self, q: str, limit: int = 20, offset: int = 0) -> SearchResponse:
        ctx = search_context(q, limit, offset)
        if ctx is None:
            return SearchResponse(results=[], count=0)
        if self._documents is not None:
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


def _collect_documents(documents: DataFrame) -> dict:
    """doc_id -> (title, description, url), at most MAX_SERVING_DOCUMENTS."""
    rows = (
        documents.select("doc_id", "title", "description", "url")
        .limit(MAX_SERVING_DOCUMENTS + 1)
        .collect()
    )
    if len(rows) > MAX_SERVING_DOCUMENTS:
        raise ValueError(
            "a pinned search engine holds at most MAX_SERVING_DOCUMENTS = "
            f"{MAX_SERVING_DOCUMENTS} documents in memory; this index has more"
        )
    return {r[0]: (r[1], r[2], r[3]) for r in rows}


def _collect_postings(postings: DataFrame, term_statistics: DataFrame) -> dict:
    """term -> [(shard, TermPostings)], idf 1.0 for a term missing from
    term_statistics (as the Spark scorer)."""
    idf = {r[0]: float(r[1]) for r in term_statistics.select("term", "idf").collect()}
    by_term: dict[str, list] = {}
    for r in postings.select(
        "term", "shard", "postings", "block_max", "block_last", "block_offset"
    ).collect():
        by_term.setdefault(r[0], []).append(
            (
                r[1],
                TermPostings(
                    term=r[0],
                    idf=idf.get(r[0], 1.0),
                    blob=bytes(r[2]),
                    block_max=list(r[3]),
                    block_last=list(r[4]),
                    block_offset=list(r[5]),
                ),
            )
        )
    return by_term
