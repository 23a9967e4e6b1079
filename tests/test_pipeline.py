"""Build pipeline: resumability, lineage, determinism across parallelism."""

import json
import os
import shutil

import pytest

from search_engine_spark.corpus import FIXED_NOW, generate_pages, pages_dataframe
from search_engine_spark.operators import postings
from search_engine_spark.pipeline import build as build_module
from search_engine_spark.pipeline.build import build_index, load_engines
from search_engine_spark.pipeline.checkpoints import CheckpointLog

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
# the 89-document corpus below takes 2 shards at 64 documents a shard and 3
# at 32 (postings.n_shards_for)
TWO_SHARDS = 64
THREE_SHARDS = 32


@pytest.fixture(scope="module", autouse=True)
def two_shards():
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(postings, "DEFAULT_DOCS_PER_SHARD", TWO_SHARDS)
        yield


@pytest.fixture(scope="module")
def pages(spark):
    return pages_dataframe(spark, generate_pages(n_pages=100, seed=9)).cache()


@pytest.fixture(scope="module")
def clean_build(spark, pages, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("clean"))
    result = build_index(spark, pages, root, FIXED_NOW)
    return root, result


def _table_snapshot(spark, root, table):
    df = spark.read.parquet(os.path.join(root, table))
    cols = sorted(df.columns)
    rows = df.select(*cols).collect()

    def norm(v):
        if isinstance(v, bytearray):
            return bytes(v)
        if isinstance(v, list):
            return tuple(v)
        return v

    return sorted(tuple(norm(x) for x in r) for r in rows)


def test_full_build_writes_all_stages(clean_build):
    root, result = clean_build
    assert sorted(result.stages_run) == sorted(TABLES)
    assert result.stages_skipped == []
    for t in TABLES:
        assert os.path.exists(os.path.join(root, t, "_SUCCESS"))
    with open(os.path.join(root, "build_meta.json")) as f:
        assert json.load(f) == {"n_shards": 2, "n_term_buckets": 16}


def test_rerun_skips_everything(spark, pages, clean_build, tmp_path_factory):
    root, _ = clean_build
    r2 = build_index(spark, pages, root, FIXED_NOW)
    assert r2.stages_run == []
    assert sorted(r2.stages_skipped) == sorted(TABLES)


def test_param_change_invalidates_only_dependents(
    spark, pages, clean_build, tmp_path_factory, monkeypatch
):
    root, _ = clean_build
    copy = str(tmp_path_factory.mktemp("reshard"))
    shutil.rmtree(copy)
    shutil.copytree(root, copy)
    monkeypatch.setattr(postings, "DEFAULT_DOCS_PER_SHARD", THREE_SHARDS)
    r = build_index(spark, pages, copy, FIXED_NOW)
    assert r.stages_run == ["postings"]
    # stepping back to the first layout must rebuild postings: the marker
    # left by the first build names a table the 3-shard build replaced
    monkeypatch.undo()
    r = build_index(spark, pages, copy, FIXED_NOW)
    assert r.stages_run == ["postings"]
    assert _table_snapshot(spark, copy, "postings") == _table_snapshot(
        spark, root, "postings"
    )


def test_pagerank_impl_change_rebuilds_only_document_authority(
    spark, pages, clean_build, tmp_path_factory, monkeypatch
):
    """A root written by another PageRank implementation rebuilds that one
    table, and keeps every other stage."""
    root, _ = clean_build
    copy = str(tmp_path_factory.mktemp("pagerank_impl"))
    shutil.rmtree(copy)
    shutil.copytree(root, copy)
    monkeypatch.setattr(build_module, "PAGERANK_IMPL", "spark-loop")
    r = build_index(spark, pages, copy, FIXED_NOW)
    assert r.stages_run == ["document_authority"]
    monkeypatch.undo()
    r = build_index(spark, pages, copy, FIXED_NOW)
    assert r.stages_run == ["document_authority"]
    assert _table_snapshot(spark, copy, "document_authority") == _table_snapshot(
        spark, root, "document_authority"
    )


def test_postings_codec_change_rebuilds_only_postings(
    spark, pages, clean_build, tmp_path_factory, monkeypatch
):
    """A root whose postings were written in another blob format rebuilds
    that one table, and keeps every other stage."""
    root, _ = clean_build
    copy = str(tmp_path_factory.mktemp("postings_codec"))
    shutil.rmtree(copy)
    shutil.copytree(root, copy)
    monkeypatch.setattr(build_module, "POSTINGS_CODEC", "doc-ids")
    r = build_index(spark, pages, copy, FIXED_NOW)
    assert r.stages_run == ["postings"]
    monkeypatch.undo()
    r = build_index(spark, pages, copy, FIXED_NOW)
    assert r.stages_run == ["postings"]
    assert _table_snapshot(spark, copy, "postings") == _table_snapshot(
        spark, root, "postings"
    )


def test_postings_blob_column_keeps_no_statistics(clean_build):
    """No min/max statistics for the binary ``postings`` column, neither in
    the footer nor as a column index; the other columns keep theirs."""
    import glob

    import pyarrow.parquet as pq

    root, _ = clean_build
    files = glob.glob(os.path.join(root, "postings", "term_bucket=*", "*.parquet"))
    assert files
    for path in files:
        meta = pq.ParquetFile(path).metadata
        for g in range(meta.num_row_groups):
            group = meta.row_group(g)
            columns = {
                group.column(c).path_in_schema: group.column(c)
                for c in range(group.num_columns)
            }
            assert not columns["postings"].is_stats_set, path
            assert not columns["postings"].has_column_index, path
            assert columns["term"].is_stats_set, path


def test_crash_before_marker_reruns_the_stage(
    spark, pages, clean_build, tmp_path_factory, monkeypatch
):
    """A build killed after a table commits but before its marker is
    recorded must not let the next build trust the old marker."""
    root, _ = clean_build
    copy = str(tmp_path_factory.mktemp("marker_crash"))
    shutil.rmtree(copy)
    shutil.copytree(root, copy)

    def killed(*args, **kwargs):
        raise RuntimeError("killed before the marker")

    monkeypatch.setattr(CheckpointLog, "record", killed)
    monkeypatch.setattr(postings, "DEFAULT_DOCS_PER_SHARD", THREE_SHARDS)
    with pytest.raises(RuntimeError, match="killed before the marker"):
        build_index(spark, pages, copy, FIXED_NOW)
    monkeypatch.undo()
    r = build_index(spark, pages, copy, FIXED_NOW)
    assert r.stages_run == ["postings"]
    assert _table_snapshot(spark, copy, "postings") == _table_snapshot(
        spark, root, "postings"
    )


def test_kill_and_resume_matches_clean_build(
    spark, pages, clean_build, tmp_path_factory
):
    root, _ = clean_build
    crashed = str(tmp_path_factory.mktemp("crashed"))
    shutil.rmtree(crashed)
    shutil.copytree(root, crashed)
    for t in ["term_statistics", "postings", "document_authority"]:
        shutil.rmtree(os.path.join(crashed, t))
    r = build_index(spark, pages, crashed, FIXED_NOW)
    assert sorted(r.stages_run) == [
        "document_authority",
        "postings",
        "term_statistics",
    ]
    for t in TABLES:
        assert _table_snapshot(spark, root, t) == _table_snapshot(
            spark, crashed, t
        ), f"{t} differs after resume"


def test_lineage_manifest_has_per_partition_metrics(spark, clean_build):
    root, _ = clean_build
    log = CheckpointLog(root)
    rows = log.stage_rows("documents")
    summary = [r for r in rows if r["partition_id"] == -1]
    parts = [r for r in rows if r["partition_id"] >= 0]
    assert len(summary) == 1
    assert parts, "expected per-partition metric rows"
    assert sum(r["rows_out"] for r in parts) == summary[0]["rows_out"]
    assert summary[0]["wall_ms"] >= 0
    assert summary[0]["input_fingerprint"]


def test_parallelism_determinism(spark, pages, clean_build, tmp_path_factory):
    """Same input at different parallelism -> identical tables (in-sandbox
    stand-in for the N vs 4N executor determinism requirement)."""
    root, _ = clean_build
    b = str(tmp_path_factory.mktemp("par_b"))
    build_index(spark, pages.repartition(16), b, FIXED_NOW)
    for t in TABLES:
        assert _table_snapshot(spark, root, t) == _table_snapshot(spark, b, t), t


def test_load_engines_and_search(spark, clean_build):
    root, _ = clean_build
    row_eng, wand_eng = load_engines(spark, root)
    docs = spark.read.parquet(os.path.join(root, "documents"))
    title = docs.select("title").first()["title"]
    a = row_eng.search(title, 10)
    b = wand_eng.search(title, 10)
    assert a.count == b.count > 0
    assert [(r.url, round(r.score, 6)) for r in a.results] == [
        (r.url, round(r.score, 6)) for r in b.results
    ]
    # executor-side WAND telemetry flowed back through the accumulators
    stats = wand_eng.scan_stats()
    assert stats["blocks_total"] > 0
    assert 0 < stats["blocks_decoded"] <= stats["blocks_total"]
    # a pinned engine serves from driver memory: same answer, and its
    # driver-side WAND counts blocks too
    _, pinned = load_engines(spark, root, interactive=True, pin_shard_layout=True)
    c = pinned.search(title, 10)
    assert [(r.url, round(r.score, 6)) for r in c.results] == [
        (r.url, round(r.score, 6)) for r in b.results
    ]
    assert c.count == b.count
    stats = pinned.scan_stats()
    assert 0 < stats["blocks_decoded"] <= stats["blocks_total"]


def test_failed_meta_write_keeps_the_old_meta(
    spark, pages, clean_build, tmp_path_factory, monkeypatch
):
    """A crash while build_meta.json is written leaves the previous meta
    whole, so readers still open the index with its term_bucket modulus."""
    root, _ = clean_build
    copy = str(tmp_path_factory.mktemp("meta_crash"))
    shutil.rmtree(copy)
    shutil.copytree(root, copy)
    meta_path = os.path.join(copy, "build_meta.json")
    with open(meta_path) as f:
        old_meta = json.load(f)

    def torn_dump(obj, fp, **kwargs):
        fp.write(json.dumps(obj)[:5])
        raise OSError("disk full")

    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(OSError, match="disk full"):
        build_index(spark, pages, copy, FIXED_NOW)
    monkeypatch.undo()
    with open(meta_path) as f:
        assert json.load(f) == old_meta
    _, wand_eng = load_engines(spark, copy)
    assert wand_eng.n_term_buckets == old_meta["n_term_buckets"]


def test_failed_doc_count_surfaces_its_cause(spark, pages, tmp_path, monkeypatch):
    """The doc count that sizes the shards runs beside wave 1; its failure
    must reach the caller as the original error, not as a later KeyError."""

    def broken_count(self):
        raise RuntimeError("doc count failed")

    # the concrete DataFrame class (pyspark 4 splits classic/connect)
    monkeypatch.setattr(type(pages), "count", broken_count)
    with pytest.raises(RuntimeError, match="doc count failed"):
        build_index(spark, pages, str(tmp_path), FIXED_NOW)


SERVED_TABLES = ["documents", "tokens", "term_statistics", "postings"]


def _jobs_run_by(spark, fn):
    """``fn()``'s result and the ids of the Spark jobs it ran."""
    sc = spark.sparkContext
    group = "pipeline-job-probe"
    sc.setJobGroup(group, "count the Spark jobs of one call")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def _copy_root(root, tmp_path_factory, name):
    copy = str(tmp_path_factory.mktemp(name))
    shutil.rmtree(copy)
    shutil.copytree(root, copy)
    return copy


def _titles(root, n=12):
    import pyarrow.parquet as pq

    files = CheckpointLog(root).committed("documents").files
    titles = pq.read_table(files[0], columns=["title"]).column("title").to_pylist()
    return sorted(t for t in titles if t)[:n]


def _answers(engine, queries):
    return [
        (r.count, [(x.url, x.score) for x in r.results])
        for r in (engine.search(q, 10) for q in queries)
    ]


def test_parquet_io_read_takes_the_footer_schema(spark, clean_build):
    """ParquetIO.read gives every table the schema and rows Spark's
    inference gives it (the postings partition column included), and
    opening it runs no Spark job."""
    from search_engine_spark.sources.tableio import ParquetIO

    root, _ = clean_build
    io = ParquetIO(root)
    for t in TABLES:
        got, jobs = _jobs_run_by(spark, lambda: io.read(spark, t))
        assert jobs == [], t
        want = spark.read.parquet(os.path.join(root, t))
        assert got.schema == want.schema, t
        assert sorted(got.collect()) == sorted(want.collect()), t
    assert "term_bucket" in io.read(spark, "postings").columns


def test_pinned_open_runs_no_spark_job(spark, clean_build):
    root, _ = clean_build
    load_engines(spark, root, interactive=True, pin_shard_layout=True)  # warm
    _, jobs = _jobs_run_by(
        spark, lambda: load_engines(spark, root, interactive=True, pin_shard_layout=True)
    )
    assert jobs == []


def test_marker_fed_index_equals_dataframe_fed(spark, clean_build):
    """The arrays decoded from the committed files' Arrow tables (what
    load_engines opens) equal the ones an engine built on DataFrames
    decodes, bit for bit."""
    import numpy as np

    from search_engine_spark.query.postings_search import (
        PINNED_SCHEMAS,
        PostingsSearchEngine,
    )

    root, _ = clean_build
    log = CheckpointLog(root)
    frames = [
        spark.read.parquet(os.path.join(root, t))
        for t in ("documents", "postings", "term_statistics")
    ]
    marker_fed = PostingsSearchEngine(
        *frames,
        pin_shard_layout=True,
        pinned_tables=tuple(
            log.committed(t).arrow(PINNED_SCHEMAS[t])
            for t in ("documents", "postings", "term_statistics")
        ),
    )
    df_fed = PostingsSearchEngine(*frames, pin_shard_layout=True)
    _, opened = load_engines(spark, root, pin_shard_layout=True)
    b = df_fed._pinned
    assert len(b.docs) > 0 and len(b.by_term) > 0
    for a in (marker_fed._pinned, opened._pinned):
        assert a.docs == b.docs
        assert a.fields == b.fields
        assert a.by_term == b.by_term
        assert a.ords.dtype == b.ords.dtype == np.int32
        assert np.array_equal(a.ords.astype(np.int64), b.ords.astype(np.int64))
        assert np.array_equal(a.contrib.view(np.int64), b.contrib.view(np.int64))


def test_pinned_open_ignores_a_stray_postings_file(spark, clean_build, tmp_path_factory):
    """A data file the postings marker does not name is never served, even
    though a directory listing would read it."""
    import glob

    root, _ = clean_build
    copy = _copy_root(root, tmp_path_factory, "stray")
    files = sorted(
        glob.glob(os.path.join(copy, "postings", "term_bucket=*", "*.parquet")),
        key=os.path.getsize,
    )
    stray = os.path.join(os.path.dirname(files[0]), "part-99999-stray.snappy.parquet")
    shutil.copy(files[-1], stray)
    assert spark.read.parquet(os.path.join(copy, "postings")).count() > CheckpointLog(
        copy
    ).committed("postings").num_rows

    queries = _titles(root)
    _, clean = load_engines(spark, root, pin_shard_layout=True)
    _, strayed = load_engines(spark, copy, pin_shard_layout=True)
    want = _answers(clean, queries)
    assert any(count for count, _ in want)
    assert _answers(strayed, queries) == want


@pytest.mark.parametrize("table", SERVED_TABLES)
def test_open_refuses_a_table_without_marker(spark, clean_build, tmp_path_factory, table):
    """The state CheckpointLog.clear leaves while a table is rewritten: the
    open names the table instead of reading it half-written."""
    root, _ = clean_build
    copy = _copy_root(root, tmp_path_factory, f"no_marker_{table}")
    CheckpointLog(copy).clear(table)
    with pytest.raises(ValueError, match=f"'{table}'"):
        load_engines(spark, copy, pin_shard_layout=True)


def test_open_refuses_a_file_unlike_its_marker(spark, clean_build, tmp_path_factory):
    root, _ = clean_build
    copy = _copy_root(root, tmp_path_factory, "rows_mismatch")
    marker = os.path.join(copy, "_checkpoints", "term_statistics.json")
    with open(marker) as f:
        m = json.load(f)
    m["files"][0]["rows"] += 1
    with open(marker, "w") as f:
        json.dump(m, f)
    with pytest.raises(ValueError, match="commit marker says"):
        load_engines(spark, copy, pin_shard_layout=True)


def test_open_checks_the_budget_before_reading_a_file(spark, clean_build, monkeypatch):
    import pyarrow.parquet as pq

    from search_engine_spark.query import postings_search

    root, _ = clean_build
    n_docs = CheckpointLog(root).committed("documents").num_rows
    monkeypatch.setattr(postings_search, "MAX_SERVING_DOCUMENTS", n_docs - 1)

    def no_read(*args, **kwargs):
        raise AssertionError("a parquet file was read")

    monkeypatch.setattr(pq, "ParquetFile", no_read)
    monkeypatch.setattr(pq, "read_metadata", no_read)
    with pytest.raises(ValueError, match=f"MAX_SERVING_DOCUMENTS = {n_docs - 1}"):
        load_engines(spark, root, pin_shard_layout=True)


def test_empty_index_opens_empty(spark, pages, tmp_path):
    """An empty corpus commits a postings table with no file at all (Spark
    writes none for an empty partitioned table); it opens as empty."""
    root = str(tmp_path)
    build_index(spark, pages.limit(0), root, FIXED_NOW)
    assert CheckpointLog(root).committed("postings").files == ()
    (_, engine), jobs = _jobs_run_by(
        spark, lambda: load_engines(spark, root, pin_shard_layout=True)
    )
    assert jobs == []
    assert engine._pinned.docs == [] and engine._pinned.by_term == {}
    response = engine.search("spark table", 10)
    assert response.results == [] and response.count == 0
