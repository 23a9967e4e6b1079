"""Incremental micro-batch pipeline == batch build over the same effective pages."""

import dataclasses
import os
from datetime import timedelta

import pytest

from search_engine_spark.corpus import FIXED_NOW, generate_pages, pages_dataframe
from search_engine_spark.pipeline.build import build_index
from search_engine_spark.operators import documents as documents_mod
from search_engine_spark.streaming.incremental import (
    apply_batch,
    run_micro_batch_pipeline,
)

TABLES = [
    "documents",
    "document_fingerprints",
    "tokens",
    "term_statistics",
    "postings",
    "links_resolved",
    "document_authority",
    "spellcheck_dictionary",
]
PR_ITERS = 5


def _snapshot(spark, root, table):
    df = spark.read.parquet(os.path.join(root, table))
    cols = sorted(df.columns)

    def norm(v):
        if isinstance(v, bytearray):
            return bytes(v)
        if isinstance(v, list):
            return tuple(v)
        return v

    return sorted(tuple(norm(x) for x in r) for r in df.select(*cols).collect())


@pytest.fixture(scope="module")
def chunks():
    records = generate_pages(n_pages=120, seed=31)
    chunk_a = records[:80]
    donor = records[119]
    updated = dataclasses.replace(
        records[5],
        warc_ts=FIXED_NOW + timedelta(hours=1),
        html=donor.html,
        text=donor.text,
        title=donor.title,
        description=donor.description,
        raw_links=donor.raw_links,
        published_at_meta=donor.published_at_meta,
        updated_at_meta=donor.updated_at_meta,
    )
    chunk_b = records[80:119] + [updated]
    return chunk_a, chunk_b


def test_incremental_equals_batch(spark, chunks, tmp_path_factory):
    chunk_a, chunk_b = chunks
    pages_dir = str(tmp_path_factory.mktemp("pages_stream"))
    out_inc = str(tmp_path_factory.mktemp("inc"))
    out_batch = str(tmp_path_factory.mktemp("batch"))

    # batch 1: chunk A only
    pages_dataframe(spark, chunk_a).write.mode("append").parquet(pages_dir)
    n1 = run_micro_batch_pipeline(
        spark, pages_dir, out_inc, FIXED_NOW, n_shards=2, pagerank_iterations=PR_ITERS
    )
    assert n1 == 1
    docs_after_a = spark.read.parquet(os.path.join(out_inc, "documents")).count()
    assert docs_after_a > 0

    # batch 2: chunk B (new pages + an UPDATE of a chunk-A url)
    pages_dataframe(spark, chunk_b).write.mode("append").parquet(pages_dir)
    n2 = run_micro_batch_pipeline(
        spark, pages_dir, out_inc, FIXED_NOW, n_shards=2, pagerank_iterations=PR_ITERS
    )
    assert n2 == 1

    # re-run with nothing new: no batches processed
    n3 = run_micro_batch_pipeline(
        spark, pages_dir, out_inc, FIXED_NOW, n_shards=2, pagerank_iterations=PR_ITERS
    )
    assert n3 == 0

    # foreachBatch is at-least-once: replaying batch 2 changes nothing
    apply_batch(
        spark,
        pages_dataframe(spark, chunk_b),
        out_inc,
        FIXED_NOW,
        n_shards=2,
        pagerank_iterations=PR_ITERS,
    )

    # batch build over ALL pages (upsert-by-url inside build_index)
    all_pages = pages_dataframe(spark, chunk_a + chunk_b)
    build_index(
        spark,
        all_pages,
        out_batch,
        FIXED_NOW,
        n_shards=2,
        n_term_buckets=16,
        pagerank_iterations=PR_ITERS,
    )

    for t in TABLES:
        assert _snapshot(spark, out_inc, t) == _snapshot(spark, out_batch, t), t


def test_update_actually_changed_the_document(spark, chunks, tmp_path_factory):
    chunk_a, chunk_b = chunks
    updated_url = chunk_b[-1].url
    assert updated_url == chunk_a[5].url  # same url, new content
    pages_dir = str(tmp_path_factory.mktemp("pages2"))
    out = str(tmp_path_factory.mktemp("inc2"))
    pages_dataframe(spark, chunk_a).write.mode("append").parquet(pages_dir)
    run_micro_batch_pipeline(
        spark, pages_dir, out, FIXED_NOW, n_shards=1, pagerank_iterations=2
    )
    before = (
        spark.read.parquet(os.path.join(out, "documents_raw"))
        .filter(f"url = '{updated_url}'")
        .first()
    )
    pages_dataframe(spark, chunk_b).write.mode("append").parquet(pages_dir)
    run_micro_batch_pipeline(
        spark, pages_dir, out, FIXED_NOW, n_shards=1, pagerank_iterations=2
    )
    after = (
        spark.read.parquet(os.path.join(out, "documents_raw"))
        .filter(f"url = '{updated_url}'")
        .first()
    )
    assert before["content"] != after["content"]
    assert after["content"] == chunk_b[-1].text


def test_batch_pages_are_extracted_once(spark, chunks, tmp_path, monkeypatch):
    """apply_batch parses each page of a batch once, however many tables
    read the batch's documents."""
    chunk_a, chunk_b = chunks
    out = str(tmp_path)
    apply_batch(
        spark, pages_dataframe(spark, chunk_a), out, FIXED_NOW, pagerank_iterations=2
    )

    rows_parsed = spark.sparkContext.accumulator(0)
    real = documents_mod.make_extract_map

    def counting_extract_map(now):
        extract = real(now)

        def counted(batches):
            for pdf in batches:
                rows_parsed.add(len(pdf))
                yield pdf

        return lambda batches: extract(counted(batches))

    monkeypatch.setattr(documents_mod, "make_extract_map", counting_extract_map)
    apply_batch(
        spark, pages_dataframe(spark, chunk_b), out, FIXED_NOW, pagerank_iterations=2
    )
    assert rows_parsed.value == len({p.url for p in chunk_b})
