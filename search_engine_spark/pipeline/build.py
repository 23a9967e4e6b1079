"""The index-build DAG: documents -> every derived table, resumable.

This module is the one place the index tables are derived. ``build_index``
feeds the DAG from pages; ``streaming.incremental.apply_batch`` feeds it
from its merged raw tables. Both go through ``_derive_tables``, which is
also the only writer of ``build_meta.json``.

Stage graph (reference pipeline order preserved — runner.py:36-52: dedup,
then link graph BEFORE pagerank; bm25 stats independent):

    pages ──extract/validate/dedup──> documents ─┬─> tokens ─┬─> term_statistics
                                                 │           └─> postings
                                                 ├─> fingerprints
                                                 └─> links_resolved ──> document_authority

Each stage writes parquet under ``out_root/<table>``, then replaces its
commit marker ``out_root/_checkpoints/<stage>.json`` (lineage + per-file
metrics, checkpoints.py). A rerun after any interruption skips committed
stages whose fingerprints match — kill-and-resume converges to
byte-identical tables (tested).

Scale notes:
- postings are written ``partitionBy('term_bucket')`` so query IN-list scans
  partition-prune; at cluster scale this is an Iceberg table with a bucket
  transform — the parquet layout here is the same physical idea.
- ``n_shards`` defaults from corpus size (postings.n_shards_for).
- documents/tokens write through snappy parquet; all stage outputs are
  deterministic (no wall clock in data, stable doc ids), so resume at any
  parallelism yields identical bytes.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession

from ..operators.documents import build_documents, latest_by_url
from ..operators.fingerprints import build_fingerprints, exact_dedup
from ..operators.link_graph import build_links_resolved
from ..operators.pagerank import build_document_authority
from ..operators.postings import build_postings, n_shards_for
from ..operators.term_stats import build_term_statistics
from ..operators.tokens import build_tokens
from ..sources.tableio import ParquetIO
from .checkpoints import CheckpointLog, fingerprint, write_json_atomic


@dataclass
class BuildResult:
    out_root: str
    tables: dict = field(default_factory=dict)
    stages_run: list = field(default_factory=list)
    stages_skipped: list = field(default_factory=list)


def build_index(
    spark: SparkSession,
    pages: DataFrame,
    out_root: str,
    now: datetime,
    *,
    build_id: str = "default",
    dedup: bool = True,
    n_shards: int | None = None,
    n_term_buckets: int = 16,
    pagerank_iterations: int = 20,
) -> BuildResult:
    """Run (or resume) the full build. ``build_id`` + params + stage chain
    form the lineage fingerprints; rerunning with identical inputs is a no-op.
    """

    def make_documents() -> DataFrame:
        # upsert-by-url first (worker.py:200-214): re-crawled urls keep only
        # their latest snapshot
        d = build_documents(latest_by_url(pages), now)
        if dedup:
            d = exact_dedup(d)
        return d

    return _derive_tables(
        spark,
        out_root,
        {"build_id": build_id, "now": now.isoformat(), "dedup": dedup},
        make_documents,
        build_tokens,
        n_shards=n_shards,
        n_term_buckets=n_term_buckets,
        pagerank_iterations=pagerank_iterations,
    )


def _derive_tables(
    spark: SparkSession,
    out_root: str,
    lineage: dict,
    make_documents: Callable[[], DataFrame],
    make_tokens: Callable[[DataFrame], DataFrame],
    *,
    n_shards: int | None,
    n_term_buckets: int,
    pagerank_iterations: int,
) -> BuildResult:
    """The stage DAG every index writer runs: ``make_documents()`` is the
    documents table, ``make_tokens(documents)`` the tokens table, and the
    rest derive from those two. ``lineage`` is the root of every stage
    fingerprint, so it must change whenever the two producers' output can.
    """
    log = CheckpointLog(spark, out_root)
    result = BuildResult(out_root=out_root)
    # all stage writes go through the storage seam (sources/tableio.py):
    # ParquetIO here; an Iceberg deployment swaps in IcebergIO, whose
    # replace() is createOrReplace on the catalog table
    io = ParquetIO(out_root)

    # independent stages run CONCURRENTLY (r04: the DAG's sibling stages —
    # e.g. term_statistics and postings, both consumers of tokens — submit
    # their Spark jobs from separate threads, so one stage's scheduling /
    # commit tail overlaps the other's executor work; measured worth ~10%
    # wall at local[16] and more at wider parallelism, where idle waves at
    # stage boundaries cost proportionally more). Stage outputs and their
    # commit markers are disjoint paths, so no write needs a lock.
    def run_stage(name: str, fp: str, producer, partition_by=None) -> None:
        out_path = os.path.join(out_root, name)
        if log.is_complete(name, fp, out_path):
            result.stages_skipped.append(name)
        else:
            log.clear(name)
            t0 = time.perf_counter()
            io.replace(producer(), name, partition_by=partition_by)
            log.record(name, fp, out_path, int((time.perf_counter() - t0) * 1000))
            result.stages_run.append(name)
        result.tables[name] = out_path

    # -- documents (extract + validate + dedup + scores) ----------------------
    fp_docs = fingerprint("documents", lineage, [])
    run_stage("documents", fp_docs, make_documents)
    documents = io.read(spark, "documents")

    # -- wave 1 (all depend on documents only): fingerprints || tokens ||
    # links_resolved — reference order (runner.py:36-52: dedup, then link
    # graph BEFORE pagerank) concerns the dedup->links->pagerank chain,
    # which the DAG dependencies preserve; siblings may overlap
    fp_fprints = fingerprint("document_fingerprints", lineage, [fp_docs])
    fp_tokens = fingerprint("tokens", lineage, [fp_docs])
    fp_links = fingerprint("links_resolved", lineage, [fp_docs])
    with ThreadPoolExecutor(4) as pool:
        # the doc count is needed only for wave-2 shard sizing — run it
        # overlapped with wave 1 instead of as a serial step between waves
        # (every fixed serial second costs a wide cluster proportionally
        # more); as a future, its .result() re-raises any failure
        f_count = pool.submit(documents.count) if n_shards is None else None
        f_fprints = pool.submit(
            run_stage,
            "document_fingerprints",
            fp_fprints,
            lambda: build_fingerprints(documents),
        )
        f_tokens = pool.submit(
            run_stage, "tokens", fp_tokens, lambda: make_tokens(documents)
        )
        f_links = pool.submit(
            run_stage,
            "links_resolved",
            fp_links,
            lambda: build_links_resolved(documents),
        )
        for f in (f_fprints, f_tokens, f_links):
            f.result()
    tokens = io.read(spark, "tokens")
    links = io.read(spark, "links_resolved")

    # -- wave 2: term_statistics || postings (consumers of tokens) ||
    # pagerank (consumer of links) || spellcheck dictionary (documents)
    fp_stats = fingerprint("term_statistics", lineage, [fp_tokens])
    shards = n_shards if f_count is None else n_shards_for(f_count.result())
    fp_post = fingerprint(
        "postings",
        {**lineage, "n_shards": shards, "n_term_buckets": n_term_buckets},
        [fp_tokens],
    )
    fp_pr = fingerprint(
        "document_authority",
        {**lineage, "iterations": pagerank_iterations},
        [fp_docs, fp_links],
    )
    fp_dict = fingerprint("spellcheck_dictionary", lineage, [fp_docs])

    def make_dictionary() -> DataFrame:
        from ..spellcheck.service import build_dictionary

        return build_dictionary(documents)

    with ThreadPoolExecutor(4) as pool:
        futures = [
            pool.submit(
                run_stage,
                "term_statistics",
                fp_stats,
                lambda: build_term_statistics(tokens, documents),
            ),
            pool.submit(
                run_stage,
                "postings",
                fp_post,
                lambda: build_postings(
                    tokens, n_shards=shards, n_term_buckets=n_term_buckets
                ),
                ["term_bucket"],
            ),
            pool.submit(
                run_stage,
                "document_authority",
                fp_pr,
                lambda: build_document_authority(
                    documents, links, iterations=pagerank_iterations
                ),
            ),
            pool.submit(run_stage, "spellcheck_dictionary", fp_dict, make_dictionary),
        ]
        for f in futures:
            f.result()

    # layout meta so readers (load_engines) use the same term_bucket
    # modulus for partition pruning as the writer did; this is its only
    # writer, and the swap is atomic
    write_json_atomic(
        os.path.join(out_root, "build_meta.json"),
        {"n_shards": shards, "n_term_buckets": n_term_buckets},
    )
    return result


def load_engines(
    spark: SparkSession,
    out_root: str,
    *,
    interactive: bool = False,
    pin_shard_layout: bool = False,
):
    """Convenience: open the built tables and return both search engines.

    A long-lived query service passes ``pin_shard_layout=True``: the
    postings engine collects the posting rows, idf and the document fields
    into driver memory once at open (at most
    ``postings_search.MAX_SERVING_DOCUMENTS`` documents) and then serves
    every search from memory, with no Spark job. ``interactive=True``
    scopes the serving configs around the Spark search actions of an
    unpinned engine. Batch/one-shot callers keep the defaults: nothing is
    collected, each search runs partition-pruned parquet scans.
    """
    from ..query.postings_search import PostingsSearchEngine
    from ..query.search import SearchEngine

    documents = spark.read.parquet(os.path.join(out_root, "documents"))
    tokens = spark.read.parquet(os.path.join(out_root, "tokens"))
    stats = spark.read.parquet(os.path.join(out_root, "term_statistics"))
    postings = spark.read.parquet(os.path.join(out_root, "postings"))
    n_term_buckets = None
    meta_path = os.path.join(out_root, "build_meta.json")
    if os.path.exists(meta_path):
        import json

        with open(meta_path) as f:
            n_term_buckets = json.load(f).get("n_term_buckets")
    return (
        SearchEngine(documents, tokens, stats),
        PostingsSearchEngine(
            documents,
            postings,
            stats,
            n_term_buckets=n_term_buckets,
            interactive=interactive,
            pin_shard_layout=pin_shard_layout,
        ),
    )
