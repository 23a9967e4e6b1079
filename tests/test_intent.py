"""The intent re-rank in Python (in-memory serving) equals the Column
expression (Spark serving) on the same candidate rows."""

import pytest

from search_engine_spark.query.analysis import search_context
from search_engine_spark.query.intent import intent_score, intent_score_col, rerank_rows

ROWS = [
    # (token_score, matched_terms, title, description, url)
    (3.5, 2, None, None, "https://example.com/a"),  # null title and description
    (1.25, 1, "Other", "nothing", "https://example.com/spark-table/x"),  # phrase in url
    (0.75, 2, "Docs", "misc", "https://sparktable.io/"),  # compact-url hit
    (7.0, 2, "Spark Table guide", "a spark table, explained", "https://x.org/spark"),
    (0.0, 1, "TABLE of Spark!", "Spark-table tips", "https://x.org/tables?spark=1"),
    (-2.0, 0, "", "", "https://x.org/"),  # negative token score clamps at 0
]


@pytest.mark.parametrize("q", ["Spark table", "spark", "the spark tables"])
def test_python_intent_score_equals_column(spark, q):
    ctx = search_context(q, 20, 0)
    df = spark.createDataFrame(
        ROWS,
        "token_score double, matched_terms int, title string, description string, url string",
    )
    got = [
        r["score"]
        for r in df.withColumn("score", intent_score_col(ctx)).select("score").collect()
    ]
    want = [intent_score(ctx, s, m, t, d, u) for s, m, t, d, u in ROWS]
    assert got == pytest.approx(want, rel=1e-9, abs=1e-9)


def test_rerank_rows_orders_by_score_then_url():
    ctx = search_context("spark table", 20, 0)
    rows = [(t, d, u, s, m) for s, m, t, d, u in ROWS]
    rows.append((None, None, "https://example.com/0", 3.5, 2))  # ties ROWS[0]
    ranked = rerank_rows(rows, ctx)
    assert [r[3] for r in ranked] == sorted((r[3] for r in ranked), reverse=True)
    urls = [r[2] for r in ranked]
    i = urls.index("https://example.com/0")
    assert urls[i + 1] == "https://example.com/a"
    assert ranked[i][3] == ranked[i + 1][3]
