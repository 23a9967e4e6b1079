"""Token-table candidate scoring: a doc's score is an ordered fold."""

from pyspark.sql import functions as F

from search_engine_spark.query.retrieval import score_candidates

FIELD_WEIGHTS = {1: 3.2, 2: 1.7, 4: 1.0}
# (term, field, frequency) rows of every doc; with idf 0.1/0.2/0.3 the sum
# depends on its order ((0.1 + 0.2) + 0.3 != (0.3 + 0.2) + 0.1)
DOC_ROWS = [("c", 4, 1), ("a", 4, 1), ("b", 1, 2), ("b", 4, 1), ("a", 2, 3), ("d", 4, 5)]
IDF = {"a": 0.1, "b": 0.2, "c": 0.3}  # "d" has no statistics: idf 1.0


def _fold(rows, terms):
    """Plain-Python sum over the doc's matching rows in (term, field) order."""
    score = 0.0
    for term, field, freq in sorted(rows):
        if term in terms:
            score += freq * IDF.get(term, 1.0) * FIELD_WEIGHTS[field]
    return score


def test_token_score_is_an_ordered_fold(spark):
    """However the token rows are partitioned and ordered, every doc's
    token_score is == the (term, field)-ordered fold the oracle computes."""
    n_docs = 80
    tokens = spark.createDataFrame(
        [(d, t, f, q) for d in range(n_docs) for t, f, q in DOC_ROWS],
        "doc_id long, term string, field short, frequency int",
    )
    docs = spark.createDataFrame(
        [(d, f"title {d}", "", f"https://example.com/{d:03d}") for d in range(n_docs)],
        "doc_id long, title string, description string, url string",
    )
    stats = spark.createDataFrame(list(IDF.items()), "term string, idf double")
    terms = ["a", "b", "c", "d"]
    want = {
        f"https://example.com/{d:03d}": (_fold(DOC_ROWS, set(terms)), 4) for d in range(n_docs)
    }
    arrangements = [
        tokens,
        tokens.repartition(7),
        tokens.orderBy(F.rand(1)),
        tokens.orderBy(F.desc("term"), F.desc("field")).coalesce(1),
        tokens.repartition(3, "term").sortWithinPartitions(F.rand(2)),
    ]
    for arranged in arrangements:
        got = {
            r["url"]: (r["token_score"], r["matched_terms"])
            for r in score_candidates(arranged, docs, stats, terms, n_docs).collect()
        }
        assert got == want
