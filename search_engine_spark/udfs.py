"""Arrow-batched pandas UDFs — the ONLY per-row Python in the engine.

Per BASELINE.json input_hint ("no per-row Python"), every function here is a
vectorized pandas UDF operating on Arrow record batches; nothing row-at-a-time
crosses the JVM<->Python boundary. Allowed slow-path surface (SURVEY.md §2.11):

1. page extraction  (html -> struct)            — reference worker.py:56-137
2. tokenization     (text -> map<term,int>)     — reference tokenizer.py:36-40
3. simhash64        (text -> long)              — reference duplicate_detection.py:63

"now" is threaded in as a closure constant (a job parameter), never the wall
clock, so executors at any parallelism produce identical outputs.
"""

from __future__ import annotations

from datetime import datetime

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .extract import parse_page
from .simhash_impl import simhash_batch
from .tokenizer import tokenize

PARSED_PAGE_SCHEMA = T.StructType(
    [
        T.StructField("title", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("content", T.StringType()),
        T.StructField("links", T.ArrayType(T.StringType())),
        T.StructField("feed_links", T.ArrayType(T.StringType())),
        T.StructField("published_at", T.TimestampType()),
        T.StructField("updated_at", T.TimestampType()),
    ]
)

TOKEN_MAP_TYPE = T.MapType(T.StringType(), T.IntegerType())


PARSED_COLUMNS = [
    "title",
    "description",
    "content",
    "links",
    "feed_links",
    "published_at",
    "updated_at",
]


def _parse_batch(url_s: pd.Series, html_s: pd.Series, now: datetime) -> pd.DataFrame:
    rows = []
    for u, h in zip(url_s, html_s):
        if h is None:
            rows.append(("", "", "", [], [], None, None))
            continue
        raw = bytes(h).decode("utf-8", errors="replace")
        p = parse_page(u, raw, now)
        rows.append(
            (
                p.title,
                p.description,
                p.content,
                p.links,
                p.feed_links,
                # Arrow wants tz-naive UTC here; session TZ is UTC
                p.published_at.replace(tzinfo=None) if p.published_at else None,
                p.updated_at.replace(tzinfo=None) if p.updated_at else None,
            )
        )
    return pd.DataFrame(rows, columns=PARSED_COLUMNS)


def make_extract_map(now: datetime):
    """Batch-iterator extraction for ``mapInPandas``.

    A struct-returning pandas UDF gets re-evaluated once per plan reference
    (filter pushdown duplicates it — observed 2 ArrowEvalPython nodes =
    2 full parses per row). ``mapInPandas`` is opaque to Catalyst, so the
    html is parsed exactly once per row regardless of downstream filters.
    Passthrough columns (url, warc_ts, lang) ride along in the same batch.
    """

    def extract_batches(batches):
        for pdf in batches:
            parsed = _parse_batch(pdf["url"], pdf["html"], now)
            out = pd.concat(
                [pdf[["url", "warc_ts", "lang"]].reset_index(drop=True), parsed],
                axis=1,
            )
            yield out

    return extract_batches


@pandas_udf(TOKEN_MAP_TYPE)
def tokenize_udf(text: pd.Series) -> pd.Series:
    """text -> {stemmed term: frequency} (reference tokenizer.py:36-40)."""
    return text.map(lambda t: dict(tokenize(t or "")))


@pandas_udf(T.LongType())
def simhash_udf(content: pd.Series) -> pd.Series:
    return pd.Series(simhash_batch(content.tolist()), index=content.index)


def word_count_col(content_col: str) -> F.Column:
    """Native equivalent of Python ``len(content.split())`` (worker.py:222):
    split on whitespace runs after trimming; empty -> 0."""
    trimmed = F.trim(F.col(content_col))
    return F.when(trimmed == "", F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )
