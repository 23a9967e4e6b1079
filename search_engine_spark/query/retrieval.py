"""Candidate retrieval: the distributed part of /search.

Reference plan (``SEARCH_SQL``, ``search_service.py:13-40``): index scan on
tokens by term -> join documents -> left join term_statistics -> hash agg per
doc -> sort + LIMIT.

Spark plan (deliberately):

- ``term.isin(query_terms)`` — an IN-list over plan-time literals; against a
  term-bucketed postings/tokens layout this partition-prunes, and against
  parquet it pushes down to the scan (visible as PushedFilters).
- idf lookup: the per-query term-stats slice is at most ``len(query_terms)``
  rows — broadcast it; COALESCE(idf, 1.0) keeps terms missing from the stats
  table scoring at 1.0 (``search_service.py:21``).
- per-doc aggregation: each doc's matching token rows are collected, sorted
  by (term, field) and folded in that order (``aggregate``), the order the
  oracle sums in (CLAUDE.md invariant 4): an order-unspecified ``SUM`` could
  score two docs with the same frequencies differently in the last bit, and
  split a tie that the url decides.
- top-k: orderBy + limit compiles to TakeOrderedAndProject — per-partition
  heap top-k then a single reduce; no global sort materializes. Tie-break
  (token_score DESC, url ASC) is part of rank identity.
- document metadata join AFTER aggregation, on the winners only.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def field_weight_col() -> F.Column:
    """CASE field WHEN 1 THEN 3.2 WHEN 2 THEN 1.7 ELSE 1.0 (search_service.py:22-26)."""
    return (
        F.when(F.col("field") == 1, F.lit(3.2))
        .when(F.col("field") == 2, F.lit(1.7))
        .otherwise(F.lit(1.0))
    )


def score_candidates(
    tokens: DataFrame,
    documents: DataFrame,
    term_statistics: DataFrame,
    query_terms: Sequence[str],
    candidate_limit: int,
) -> DataFrame:
    """-> (title, description, url, token_score, matched_terms), top
    ``candidate_limit`` by (token_score DESC, url ASC)."""
    terms = list(query_terms)

    # tiny per-query dimension: stats for the query terms only -> broadcast
    query_stats = F.broadcast(
        term_statistics.filter(F.col("term").isin(terms)).select("term", "idf")
    )

    contribution = (
        F.col("frequency").cast("double")
        * F.coalesce(F.col("idf"), F.lit(1.0))
        * field_weight_col()
    )
    scored = (
        tokens.filter(F.col("term").isin(terms))
        .join(query_stats, "term", "left")
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("term", "field", contribution.alias("c")))
            ).alias("rows")
        )
        .select(
            "doc_id",
            F.aggregate("rows", F.lit(0.0), lambda acc, r: acc + r["c"]).alias(
                "token_score"
            ),
            F.size(F.array_distinct(F.transform("rows", lambda r: r["term"])))
            .cast("long")
            .alias("matched_terms"),
        )
    )

    # join doc metadata BEFORE the top-k because url is the tie-break key.
    # documents side is pruned to (doc_id,title,description,url) — column
    # pruning reaches the scan; the join key is doc_id on both sides.
    docs_slim = documents.select("doc_id", "title", "description", "url")
    return (
        scored.join(docs_slim, "doc_id", "inner")
        .select("title", "description", "url", "token_score", "matched_terms")
        .orderBy(F.desc("token_score"), F.asc("url"))
        .limit(candidate_limit)
    )
