"""Physical-plan regression tests: the optimizations are part of the
contract, not accidents — partition pruning, pushdown, broadcast dims,
distributed top-k, and the skew-free aggregation shape must stay in the
plan."""

import contextlib
import io
import os
import re
import tempfile

import pytest
from pyspark.sql import functions as F

from search_engine_spark.corpus import FIXED_NOW, generate_pages, pages_dataframe
from search_engine_spark.pipeline.build import build_index, load_engines


def _formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("planidx"))
    build_index(
        spark, pages_dataframe(spark, generate_pages(600, seed=42)), root, FIXED_NOW
    )
    return root


def test_postings_scan_prunes_and_pushes(spark, built):
    _, pe = load_engines(spark, built)
    stats = spark.read.parquet(os.path.join(built, "term_statistics"))
    terms = [
        r["term"]
        for r in stats.orderBy(F.desc("doc_frequency")).limit(2).collect()
    ]
    plan = _formatted_plan(pe.candidates_df(" ".join(terms), 10, 0))
    assert "PartitionFilters" in plan and "term_bucket" in plan, plan
    assert "PushedFilters" in plan and "In(term" in plan, plan
    # doc metadata joins broadcast, and the candidates (<= candidate_limit
    # rows, the Arrow-stage output) — not the documents table — are the
    # BuildLeft broadcast side; final cut is the distributed top-k
    assert "BroadcastHashJoin Inner BuildLeft" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    # column pruning: the scan must not read the full doc row
    assert "ReadSchema: struct<term:string,shard:int" in plan, plan


def test_term_stats_plan_is_two_phase_skew_free(spark, built):
    from search_engine_spark.operators.term_stats import build_term_statistics

    docs = spark.read.parquet(os.path.join(built, "documents"))
    tokens = spark.read.parquet(os.path.join(built, "tokens"))
    plan = _formatted_plan(build_term_statistics(tokens, docs))
    # first exchange keyed on the uniform (term, doc_id) pair — NOT term alone
    assert "hashpartitioning(term" in plan and "doc_id" in plan.split(
        "hashpartitioning(term", 1
    )[1].split(")", 1)[0], plan
    # no Expand (the distinct-aggregate plan shape that funnels head terms)
    assert "Expand" not in plan, plan
    # partial aggregation precedes both exchanges
    assert plan.count("partial_") >= 2, plan


def test_postings_plan_is_one_shuffle_and_batch_encode(spark, built):
    """One Python call per Arrow batch over (term, shard)-sorted runs, not
    one per group, and still exactly one shuffle."""
    from search_engine_spark.operators.postings import build_postings

    tokens = spark.read.parquet(os.path.join(built, "tokens"))
    plan = _formatted_plan(build_postings(tokens, n_shards=2))
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert "MapInArrow" in plan, plan
    assert len(re.findall(r"^\(\d+\) Exchange$", plan, re.M)) == 1, plan
    assert "hashpartitioning(term" in plan and "shard" in plan.split(
        "hashpartitioning(term", 1
    )[1].split(")", 1)[0], plan


def test_search_topk_is_distributed_topk(spark):
    from search_engine_spark.driver_queries import q_search_topk

    plan = _formatted_plan(q_search_topk(spark, "/root/testdata/sf0.001"))
    assert "TakeOrderedAndProject" in plan, plan
