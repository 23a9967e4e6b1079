"""Build pipeline: resumability, lineage, determinism across parallelism."""

import json
import os
import shutil

import pytest

from search_engine_spark.corpus import FIXED_NOW, generate_pages, pages_dataframe
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
PR_ITERS = 5  # keep test builds fast; 20-iter parity is covered in test_graph


@pytest.fixture(scope="module")
def pages(spark):
    return pages_dataframe(spark, generate_pages(n_pages=100, seed=9)).cache()


@pytest.fixture(scope="module")
def clean_build(spark, pages, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("clean"))
    result = build_index(
        spark, pages, root, FIXED_NOW, n_shards=2, pagerank_iterations=PR_ITERS
    )
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


def test_rerun_skips_everything(spark, pages, clean_build, tmp_path_factory):
    root, _ = clean_build
    r2 = build_index(
        spark, pages, root, FIXED_NOW, n_shards=2, pagerank_iterations=PR_ITERS
    )
    assert r2.stages_run == []
    assert sorted(r2.stages_skipped) == sorted(TABLES)


def test_param_change_invalidates_only_dependents(
    spark, pages, clean_build, tmp_path_factory
):
    root, _ = clean_build
    copy = str(tmp_path_factory.mktemp("reshard"))
    shutil.rmtree(copy)
    shutil.copytree(root, copy)
    r = build_index(
        spark, pages, copy, FIXED_NOW, n_shards=3, pagerank_iterations=PR_ITERS
    )
    assert r.stages_run == ["postings"]
    # stepping back to the first layout must rebuild postings: the marker
    # left by the first build names a table the 3-shard build replaced
    r = build_index(
        spark, pages, copy, FIXED_NOW, n_shards=2, pagerank_iterations=PR_ITERS
    )
    assert r.stages_run == ["postings"]
    assert _table_snapshot(spark, copy, "postings") == _table_snapshot(
        spark, root, "postings"
    )


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
    with pytest.raises(RuntimeError, match="killed before the marker"):
        build_index(
            spark, pages, copy, FIXED_NOW, n_shards=3, pagerank_iterations=PR_ITERS
        )
    monkeypatch.undo()
    r = build_index(
        spark, pages, copy, FIXED_NOW, n_shards=2, pagerank_iterations=PR_ITERS
    )
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
    r = build_index(
        spark, pages, crashed, FIXED_NOW, n_shards=2, pagerank_iterations=PR_ITERS
    )
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
    log = CheckpointLog(spark, root)
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
    build_index(
        spark,
        pages.repartition(16),
        b,
        FIXED_NOW,
        n_shards=2,
        pagerank_iterations=PR_ITERS,
    )
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
        build_index(
            spark, pages, copy, FIXED_NOW, n_shards=2, pagerank_iterations=PR_ITERS
        )
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
        build_index(
            spark, pages, str(tmp_path), FIXED_NOW, pagerank_iterations=PR_ITERS
        )
