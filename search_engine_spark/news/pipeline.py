"""News-table build: feeds(feed_url, xml) -> persisted articles /
article_tokens / feed_metadata, plus the engine loader.

The batch analog of the reference's news fetch cycle minus the HTTP loop
(``news_fetcher.py``: parse -> upsert articles by url -> replace
source_type=2 tokens -> refresh feed metadata). Writes go through the
storage seam (``sources/tableio.py``) so the same code persists to
parquet directories here and Iceberg catalog tables in deployment:

- ``articles``: url-keyed UPSERT against the existing table
  (COALESCE(NULLIF(new,''), old) column merge);
- ``article_tokens``: full recompute + overwrite for the fetched
  articles' tokens (the reference DELETEs + reinserts per article —
  S5's replace semantics);
- ``feed_metadata``: declared + A9-promoted last_published per feed.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..pipeline.checkpoints import CheckpointLog
from ..sources.tableio import ParquetIO, TableIO
from .feeds import (
    ARTICLE_MERGE_SET,
    article_tokens,
    dedup_articles,
    feed_last_published,
    parse_feed_metadata,
    parse_feeds,
    upsert_articles,
)

ARTICLES = "articles"
ARTICLE_TOKENS = "article_tokens"
FEED_METADATA = "feed_metadata"


def build_news_tables(
    spark: SparkSession,
    feeds: DataFrame,
    out_root: str,
    io: TableIO | None = None,
) -> dict:
    """Parse + persist one batch of fetched feed XML. Returns table names
    -> row counts (the ingest metrics the reference logs per cycle)."""
    io = io or ParquetIO(out_root)
    incoming = parse_feeds(feeds)

    if not io.exists(spark, ARTICLES):
        # first write still goes through the url dedup: one batch can
        # carry the same story twice (two feeds syndicating it)
        io.replace(dedup_articles(incoming), ARTICLES)
    elif isinstance(io, ParquetIO):
        merged = upsert_articles(io.read(spark, ARTICLES), incoming)
        # upsert reads the table it overwrites: break lineage first
        io.replace(merged.localCheckpoint(eager=True), ARTICLES)
    else:
        # catalog backends (Iceberg) merge in place: same ON CONFLICT
        # column semantics via the shared ARTICLE_MERGE_SET expressions,
        # but only matching files rewrite (no table-wide replace that
        # would discard previously accumulated articles)
        io.merge_columns(
            dedup_articles(incoming), ARTICLES, key="url",
            update_set=ARTICLE_MERGE_SET,
        )

    articles = io.read(spark, ARTICLES)
    io.replace(article_tokens(articles), ARTICLE_TOKENS)
    io.replace(
        feed_last_published(parse_feed_metadata(feeds), incoming), FEED_METADATA
    )
    return {
        ARTICLES: articles.count(),
        ARTICLE_TOKENS: io.read(spark, ARTICLE_TOKENS).count(),
        FEED_METADATA: io.read(spark, FEED_METADATA).count(),
    }


def load_news_engine(spark: SparkSession, out_root: str, index_root: str | None = None):
    """Open the persisted news tables (+ the web index's term_statistics
    when available — the reference's news search uses the SHARED idf
    table) and return a ready NewsSearchEngine. The web table is opened
    through its commit marker, as ``load_engines`` opens it: a
    term_statistics directory whose marker is gone (a rewrite that has not
    committed) raises ``CheckpointLog.committed``'s ``ValueError``."""
    from ..query.news_search import NewsSearchEngine

    io = ParquetIO(out_root)
    articles = io.read(spark, ARTICLES)
    toks = io.read(spark, ARTICLE_TOKENS)
    if index_root is not None and os.path.exists(
        os.path.join(index_root, "term_statistics")
    ):
        stats = CheckpointLog(index_root).committed("term_statistics").dataframe(spark)
    else:
        # no web index: every term falls back to idf 1.0 (COALESCE path)
        stats = spark.createDataFrame([], "term string, idf double")
    return NewsSearchEngine(articles, toks, stats)


def run_news_stream(
    spark: SparkSession,
    feeds_src: str,
    out_root: str,
    checkpoint: str,
) -> None:
    """Streaming ingest of fetched feed XML: each micro-batch of
    (feed_url, xml) rows runs the same parse -> upsert -> token-replace ->
    metadata-refresh cycle as :func:`build_news_tables` (foreachBatch,
    AvailableNow). This is the batch-Spark analog of the reference's
    20-minute refetch scheduler (``news_fetcher.py:236-238``): the
    SCHEDULE stays external (whatever drops XML into ``feeds_src``), the
    per-cycle semantics live here, and the streaming checkpoint makes the
    cycle resumable exactly like the page pipeline's incremental runs."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("feed_url", T.StringType(), False),
            T.StructField("xml", T.StringType(), False),
        ]
    )
    stream = spark.readStream.schema(schema).parquet(feeds_src)

    def _foreach(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        build_news_tables(batch_df.sparkSession, batch_df, out_root)

    q = (
        stream.writeStream.foreachBatch(_foreach)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
