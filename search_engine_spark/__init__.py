"""search_engine_spark — a PySpark-native full-text indexing + retrieval engine.

A from-scratch rebuild of the capabilities of YoungerMax/search-engine
(reference: crawler + Postgres inverted index + tf-idf/BM25-ish search API)
re-expressed Spark-first:

- input: a ``pages(url, warc_ts, html, text, lang)`` table (parquet/Iceberg)
- extraction / tokenization: vectorized Arrow (pandas) UDFs, no per-row Python
- inverted index: term-bucketed postings DataFrames with ordinal-delta +
  varint-compressed posting lists (dense per-shard doc ordinals) and
  block-max metadata (WAND pruning)
- statistics: per-term DF/CTF + BM25 idf (Robertson/Lucene formula, matching
  the reference ``bm25_stats.py:21``)
- link graph + PageRank: iterative DataFrame job (d=0.85, 20 iterations,
  dangling-mass-drop semantics matching the reference ``pagerank.py:29-38``)
- query: partition-pruned posting scan -> block-max WAND -> distributed top-k
  -> intent re-rank (native Column expressions)
- training-data ops: exact/MinHash-LSH/SimHash dedup, ANN similarity search,
  language-ID / quality scoring / token counting over document corpora

All heavy per-row logic runs as Arrow-batched pandas UDFs; everything else is
native ``pyspark.sql`` so Catalyst/AQE handle pushdown, pruning, join
selection, and skew.
"""

__version__ = "0.1.0"
