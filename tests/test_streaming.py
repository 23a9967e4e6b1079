"""Incremental micro-batch pipeline == batch build over the same effective pages."""

import dataclasses
import json
import os
from datetime import timedelta

import pytest

from search_engine_spark.corpus import FIXED_NOW, generate_pages, pages_dataframe
from search_engine_spark.pipeline.build import build_index
from search_engine_spark.operators import documents as documents_mod
from search_engine_spark.operators import postings
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
# the 106 documents of all pages take 2 shards at 64 documents a shard
# (postings.n_shards_for)
TWO_SHARDS = 64


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


@pytest.fixture(scope="module")
def batch_root(spark, chunks, tmp_path_factory):
    """A batch build over ALL pages (upsert-by-url inside build_index)."""
    chunk_a, chunk_b = chunks
    out = str(tmp_path_factory.mktemp("batch"))
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(postings, "DEFAULT_DOCS_PER_SHARD", TWO_SHARDS)
        build_index(spark, pages_dataframe(spark, chunk_a + chunk_b), out, FIXED_NOW)
    return out


def test_incremental_equals_batch(
    spark, chunks, batch_root, tmp_path_factory, monkeypatch
):
    chunk_a, chunk_b = chunks
    monkeypatch.setattr(postings, "DEFAULT_DOCS_PER_SHARD", TWO_SHARDS)
    pages_dir = str(tmp_path_factory.mktemp("pages_stream"))
    out_inc = str(tmp_path_factory.mktemp("inc"))

    # batch 1: chunk A only
    pages_dataframe(spark, chunk_a).write.mode("append").parquet(pages_dir)
    n1 = run_micro_batch_pipeline(spark, pages_dir, out_inc, FIXED_NOW)
    assert n1 == 1
    docs_after_a = spark.read.parquet(os.path.join(out_inc, "documents")).count()
    assert docs_after_a > 0

    # batch 2: chunk B (new pages + an UPDATE of a chunk-A url)
    pages_dataframe(spark, chunk_b).write.mode("append").parquet(pages_dir)
    n2 = run_micro_batch_pipeline(spark, pages_dir, out_inc, FIXED_NOW)
    assert n2 == 1

    # re-run with nothing new: no batches processed
    n3 = run_micro_batch_pipeline(spark, pages_dir, out_inc, FIXED_NOW)
    assert n3 == 0

    # foreachBatch is at-least-once: replaying batch 2 changes nothing
    apply_batch(spark, pages_dataframe(spark, chunk_b), out_inc, FIXED_NOW)

    for t in TABLES:
        assert _snapshot(spark, out_inc, t) == _snapshot(spark, batch_root, t), t


def test_ingest_sizes_shards_as_a_build_does(
    spark, chunks, batch_root, tmp_path_factory, monkeypatch
):
    """Neither writer takes a layout setting: an ingest of the pages that
    need 2 shards writes the 2-shard tables a build of them writes."""
    chunk_a, chunk_b = chunks
    monkeypatch.setattr(postings, "DEFAULT_DOCS_PER_SHARD", TWO_SHARDS)
    pages_dir = str(tmp_path_factory.mktemp("pages_once"))
    out_inc = str(tmp_path_factory.mktemp("inc_once"))
    pages_dataframe(spark, chunk_a + chunk_b).write.mode("append").parquet(pages_dir)
    assert run_micro_batch_pipeline(spark, pages_dir, out_inc, FIXED_NOW) == 1

    metas = []
    for root in (out_inc, batch_root):
        with open(os.path.join(root, "build_meta.json")) as f:
            metas.append(json.load(f))
    assert metas[0] == metas[1] == {"n_shards": 2, "n_term_buckets": 16}
    for t in TABLES:
        assert _snapshot(spark, out_inc, t) == _snapshot(spark, batch_root, t), t


def test_update_actually_changed_the_document(spark, chunks, tmp_path_factory):
    chunk_a, chunk_b = chunks
    updated_url = chunk_b[-1].url
    assert updated_url == chunk_a[5].url  # same url, new content
    pages_dir = str(tmp_path_factory.mktemp("pages2"))
    out = str(tmp_path_factory.mktemp("inc2"))
    pages_dataframe(spark, chunk_a).write.mode("append").parquet(pages_dir)
    run_micro_batch_pipeline(spark, pages_dir, out, FIXED_NOW)
    before = (
        spark.read.parquet(os.path.join(out, "documents_raw"))
        .filter(f"url = '{updated_url}'")
        .first()
    )
    pages_dataframe(spark, chunk_b).write.mode("append").parquet(pages_dir)
    run_micro_batch_pipeline(spark, pages_dir, out, FIXED_NOW)
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
    apply_batch(spark, pages_dataframe(spark, chunk_a), out, FIXED_NOW)

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
    apply_batch(spark, pages_dataframe(spark, chunk_b), out, FIXED_NOW)
    assert rows_parsed.value == len({p.url for p in chunk_b})
