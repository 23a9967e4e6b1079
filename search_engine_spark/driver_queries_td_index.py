"""Physical-index pairs: postings codecs, impact/tier layout, sharding, caches, vocab.

Split out of driver_queries_td.py (see that module for the shared pair
contract). Constants used only by this domain's pairs are defined here —
the per-module grep surface CLAUDE.md invariant 8 asks for.
"""

from __future__ import annotations
import math
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from .pair_helpers import (
    SQL_FIXED6_LONG,
    SQL_SUM_FIXED6,
    SQL_WS_TOKENS,
    doc_frequencies,
    fixed6_long,
    ntz_epoch_us,
    scalar_count,
    sum_fixed6,
)
from .stopwords import STOPWORDS
from .training_data import dedup as D
from .training_data import similarity as S
from .training_data import textstats as X
from .training_data.multimodal import synthesize_media
from .driver_queries_td_shared import (
    BM25_B,
    BM25_K1,
    LN2_STR,
    TOKEN_RUN,
    WORD_RUN,
    _read,
    _tf,
    _tf_cte,
)

# --------------------------------------------------------------------------
# Join-selectivity estimates (query-planner audit): for the top-25 terms by
# document frequency (deterministic df desc, term asc), compare the
# independence-assumption estimate df_a*df_b/N against the EXACT
# co-occurrence count — the statistic a distributed planner uses to order
# posting-list intersections, and the audit that shows where independence
# breaks. The co-occurrence self-join is restricted to the top-K terms
# first (semi join), so its input is <= K rows per doc and the pair
# fan-out is bounded by K^2/2 per doc at any corpus size.
# --------------------------------------------------------------------------
SELECTIVITY_TOP_K = 25


def q_selectivity_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    td = (
        docs.select(
            "doc_id",
            F.explode(
                F.expr(f"regexp_extract_all(lower(text), '{TOKEN_RUN}', 0)")
            ).alias("term"),
        )
        .distinct()
    )
    dfc = td.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    topt = dfc.orderBy(F.col("df").desc(), F.col("term").asc()).limit(
        SELECTIVITY_TOP_K
    )
    n = scalar_count(docs)
    a = topt.select(F.col("term").alias("term_a"), F.col("df").alias("df_a"))
    b = topt.select(F.col("term").alias("term_b"), F.col("df").alias("df_b"))
    pairs = a.join(b, F.col("term_a") < F.col("term_b"))
    tdt = td.join(F.broadcast(topt.select("term")), "term", "semi")
    x = tdt.select(F.col("doc_id"), F.col("term").alias("term_a"))
    y = tdt.select(F.col("doc_id"), F.col("term").alias("term_b"))
    co = (
        x.join(y, ["doc_id"])
        .filter(F.col("term_a") < F.col("term_b"))
        .groupBy("term_a", "term_b")
        .agg(F.count(F.lit(1)).alias("co_df"))
    )
    return (
        pairs.join(co, ["term_a", "term_b"], "left")
        .crossJoin(F.broadcast(n))
        .select(
            "term_a",
            "term_b",
            "df_a",
            "df_b",
            F.coalesce("co_df", F.lit(0)).alias("co_df"),
            F.round((F.col("df_a") * F.col("df_b")) / F.col("_n"), 6).alias(
                "est_co_df"
            ),
        )
    )


SQL_SELECTIVITY_ESTIMATES = f"""
WITH td AS (
  SELECT DISTINCT doc_id,
         unnest(regexp_extract_all(lower(text), '{TOKEN_RUN}')) AS term
  FROM documents
),
dfc AS (SELECT term, count(*) AS df FROM td GROUP BY term),
topt AS (
  SELECT term, df FROM dfc ORDER BY df DESC, term ASC
  LIMIT {SELECTIVITY_TOP_K}
),
n AS (SELECT CAST(count(*) AS DOUBLE) AS _n FROM documents),
pairs AS (
  SELECT a.term AS term_a, b.term AS term_b, a.df AS df_a, b.df AS df_b
  FROM topt a JOIN topt b ON a.term < b.term
),
tdt AS (SELECT doc_id, term FROM td WHERE term IN (SELECT term FROM topt)),
co AS (
  SELECT x.term AS term_a, y.term AS term_b, count(*) AS co_df
  FROM tdt x JOIN tdt y ON x.doc_id = y.doc_id AND x.term < y.term
  GROUP BY x.term, y.term
)
SELECT p.term_a, p.term_b, df_a, df_b,
       COALESCE(co.co_df, 0) AS co_df,
       round((df_a * df_b) / n._n, 6) AS est_co_df
FROM pairs p
LEFT JOIN co ON co.term_a = p.term_a AND co.term_b = p.term_b, n
"""


# --------------------------------------------------------------------------
# Prefix completion table (type-ahead by prefix, the companion of
# next_word's bigram successor): per 3-char prefix, the argmax completion
# by collection frequency (ties to the lexicographically first term), the
# prefix's term count, and its total occurrences. The argmax runs over the
# AGGREGATED per-term ctf relation (vocabulary-bounded, never the raw
# stream).
# --------------------------------------------------------------------------
PREFIX_LEN = 3


def q_prefix_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    occ = docs.select(
        F.explode(
            F.expr(f"regexp_extract_all(lower(text), '{TOKEN_RUN}', 0)")
        ).alias("term"),
    )
    ctf = (
        occ.filter(F.length("term") >= PREFIX_LEN)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("ctf"))
        .withColumn("prefix", F.expr(f"substring(term, 1, {PREFIX_LEN})"))
    )
    w = Window.partitionBy("prefix").orderBy(
        F.col("ctf").desc(), F.col("term").asc()
    )
    stats = ctf.groupBy("prefix").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("ctf").alias("total_ctf"),
    )
    best = (
        ctf.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("prefix", F.col("term").alias("completion"), "ctf")
    )
    return best.join(stats, "prefix").select(
        "prefix", "completion", "ctf", "n_terms", "total_ctf"
    )


SQL_PREFIX_COMPLETE = f"""
WITH occ AS (
  SELECT unnest(regexp_extract_all(lower(text), '{TOKEN_RUN}')) AS term
  FROM documents
),
ctf AS (
  SELECT term, CAST(count(*) AS BIGINT) AS ctf,
         substring(term, 1, {PREFIX_LEN}) AS prefix
  FROM occ WHERE length(term) >= {PREFIX_LEN}
  GROUP BY term
),
stats AS (
  SELECT prefix, CAST(count(*) AS BIGINT) AS n_terms,
         CAST(sum(ctf) AS BIGINT) AS total_ctf
  FROM ctf GROUP BY prefix
),
best AS (
  SELECT prefix, term AS completion, ctf,
         row_number() OVER (
           PARTITION BY prefix ORDER BY ctf DESC, term ASC
         ) AS rn
  FROM ctf
)
SELECT b.prefix, b.completion, b.ctf, s.n_terms, s.total_ctf
FROM best b JOIN stats s USING (prefix) WHERE b.rn = 1
"""


# --------------------------------------------------------------------------
# Posting-gap histogram (codec sizing): the log2 distribution of docID
# deltas across all posting lists — the statistic that decides delta+varint
# vs bit-packing (postings_bytes measures the chosen codec's output; this
# is its input distribution). Buckets are exact integers via
# length(bin(delta)) - 1 == floor(log2) with NO libm. The per-term lag
# window mirrors how the real codec sees each list; at cluster scale the
# deltas come out of the per-(term, shard) encode stage instead of a
# global window (operators/postings.py) — this pair audits the
# distribution, not the encode path.
# --------------------------------------------------------------------------
def q_gap_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    td = (
        docs.select(
            "doc_id",
            F.explode(
                F.expr(f"regexp_extract_all(lower(text), '{TOKEN_RUN}', 0)")
            ).alias("term"),
        )
        .distinct()
    )
    w = Window.partitionBy("term").orderBy("doc_id")
    deltas = td.withColumn(
        "delta", F.col("doc_id") - F.lag("doc_id").over(w)
    ).filter(F.col("delta").isNotNull())
    return (
        deltas.select(
            (F.length(F.bin("delta")) - 1).cast("long").alias("gap_log2")
        )
        .groupBy("gap_log2")
        .agg(F.count(F.lit(1)).alias("n_gaps"))
    )


SQL_GAP_HISTOGRAM = f"""
WITH td AS (
  SELECT DISTINCT term, doc_id FROM (
    SELECT doc_id,
           unnest(regexp_extract_all(lower(text), '{TOKEN_RUN}')) AS term
    FROM documents
  )
),
deltas AS (
  SELECT doc_id - lag(doc_id) OVER (PARTITION BY term ORDER BY doc_id)
         AS delta
  FROM td
)
SELECT CAST(length(bin(delta)) - 1 AS BIGINT) AS gap_log2,
       CAST(count(*) AS BIGINT) AS n_gaps
FROM deltas WHERE delta IS NOT NULL GROUP BY 1
"""


# --------------------------------------------------------------------------
# Standing alerts (percolator / reverse search): a set of STORED
# conjunctive term queries matched against the whole corpus — the news-
# alerting direction (docs stream past stored queries) the reference's
# forward search cannot express. The stored queries are a broadcast
# literal relation; a doc matches when its distinct-term intersection
# with the query reaches the query's size (exact conjunctive semantics).
# --------------------------------------------------------------------------
ALERT_QUERIES = (
    (1, ("spark", "data")),
    (2, ("spark", "query")),
    (3, ("data", "query")),
    (4, ("spark", "data", "query")),
)


def q_standing_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    td = (
        docs.select(
            "doc_id",
            F.explode(
                F.expr(f"regexp_extract_all(lower(text), '{TOKEN_RUN}', 0)")
            ).alias("term"),
        )
        .distinct()
    )
    qrows = [(qid, t) for qid, terms in ALERT_QUERIES for t in terms]
    qrel = spark.createDataFrame(qrows, "query_id long, term string")
    qsize = spark.createDataFrame(
        [(qid, len(terms)) for qid, terms in ALERT_QUERIES],
        "query_id long, q_terms long",
    )
    matched = (
        td.join(F.broadcast(qrel), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("_hit"))
    )
    full = matched.join(F.broadcast(qsize), "query_id").filter(
        F.col("_hit") == F.col("q_terms")
    )
    return (
        full.groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.min("doc_id").alias("first_doc"),
        )
        .join(F.broadcast(qsize), "query_id")
        .select("query_id", "q_terms", "n_matches", "first_doc")
    )


def _alerts_sql() -> str:
    qrel = ", ".join(
        f"({qid}, '{t}')" for qid, terms in ALERT_QUERIES for t in terms
    )
    qsize = ", ".join(
        f"({qid}, {len(terms)})" for qid, terms in ALERT_QUERIES
    )
    return f"""
WITH td AS (
  SELECT DISTINCT doc_id,
         unnest(regexp_extract_all(lower(text), '{TOKEN_RUN}')) AS term
  FROM documents
),
qrel(query_id, term) AS (VALUES {qrel}),
qsize(query_id, q_terms) AS (VALUES {qsize}),
matched AS (
  SELECT q.query_id, t.doc_id, count(*) AS hit
  FROM td t JOIN qrel q USING (term)
  GROUP BY q.query_id, t.doc_id
)
SELECT CAST(m.query_id AS BIGINT) AS query_id,
       CAST(s.q_terms AS BIGINT) AS q_terms,
       CAST(count(*) AS BIGINT) AS n_matches,
       min(m.doc_id) AS first_doc
FROM matched m JOIN qsize s USING (query_id)
WHERE m.hit = s.q_terms
GROUP BY m.query_id, s.q_terms
"""


SQL_STANDING_ALERTS = _alerts_sql()


# --------------------------------------------------------------------------
# Vocabulary pruning report (index sizing): for a grid of min-df gates, the
# vocabulary and postings volume retained — the sizing audit behind a
# min_df cutoff decision. Term stats come from the two-phase skew-free
# doc_frequencies helper (invariant 6); the 5-row grid is a broadcast
# local relation; totals are a 1-row in-plan aggregate (no driver .count).
# All counts BIGINT; the two fractions are single exact-int divides.
# --------------------------------------------------------------------------
PRUNING_GRID = (1, 2, 3, 5, 8)


def q_vocab_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    occ = docs.select(
        "doc_id",
        F.explode(
            F.expr(f"regexp_extract_all(lower(text), '{TOKEN_RUN}', 0)")
        ).alias("term"),
    )
    stats = doc_frequencies(occ, with_ctf=True)
    totals = stats.agg(
        F.count(F.lit(1)).alias("_vocab"), F.sum("ctf").alias("_postings")
    )
    grid = spark.createDataFrame(
        [(g,) for g in PRUNING_GRID], "min_df long"
    )
    pruned = (
        stats.join(
            F.broadcast(grid),
            F.col("doc_frequency") >= F.col("min_df"),
        )
        .groupBy("min_df")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("ctf").alias("n_postings"),
        )
    )
    return pruned.crossJoin(F.broadcast(totals)).select(
        "min_df",
        "n_terms",
        "n_postings",
        F.round(F.col("n_terms") / F.col("_vocab"), 6).alias("term_frac"),
        F.round(F.col("n_postings") / F.col("_postings"), 6).alias(
            "posting_frac"
        ),
    )


SQL_VOCAB_PRUNING = f"""
WITH occ AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '{TOKEN_RUN}')) AS term
  FROM documents
),
stats AS (
  SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_frequency,
         CAST(count(*) AS BIGINT) AS ctf
  FROM occ GROUP BY term
),
totals AS (
  SELECT CAST(count(*) AS BIGINT) AS _vocab,
         CAST(sum(ctf) AS BIGINT) AS _postings
  FROM stats
),
grid AS (SELECT unnest([{", ".join(str(g) for g in PRUNING_GRID)}])::BIGINT AS min_df),
pruned AS (
  SELECT min_df, CAST(count(*) AS BIGINT) AS n_terms,
         CAST(sum(ctf) AS BIGINT) AS n_postings
  FROM stats, grid WHERE doc_frequency >= min_df GROUP BY min_df
)
SELECT min_df, n_terms, n_postings,
       round(CAST(n_terms AS DOUBLE) / _vocab, 6) AS term_frac,
       round(CAST(n_postings AS DOUBLE) / _postings, 6) AS posting_frac
FROM pruned, totals
"""


# --------------------------------------------------------------------------
# OOV rate per source (tokenizer-coverage audit): the fraction of token
# occurrences outside the deterministic top-100 vocabulary (ctf desc, term
# asc) — the coverage statistic behind a fixed-vocab tokenizer decision.
# The vocabulary is a broadcast anti-join side; per-source sums are plain
# map-side-partial counts on a low-cardinality key (no countDistinct).
# --------------------------------------------------------------------------
OOV_VOCAB_K = 100


def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents").select("source", "text")
    occ = docs.select(
        "source",
        F.explode(
            F.expr(f"regexp_extract_all(lower(text), '{TOKEN_RUN}', 0)")
        ).alias("term"),
    )
    ctf = occ.groupBy("term").agg(F.count(F.lit(1)).alias("ctf"))
    vocab = ctf.orderBy(F.col("ctf").desc(), F.col("term").asc()).limit(
        OOV_VOCAB_K
    ).select("term")
    tot = occ.groupBy("source").agg(F.count(F.lit(1)).alias("n_tokens"))
    oov = (
        occ.join(F.broadcast(vocab), "term", "left_anti")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_oov"))
    )
    return (
        tot.join(oov, "source", "left")
        .select(
            "source",
            "n_tokens",
            F.coalesce("n_oov", F.lit(0)).alias("n_oov"),
            F.round(
                F.coalesce("n_oov", F.lit(0)) / F.col("n_tokens"), 6
            ).alias("oov_rate"),
        )
    )


SQL_OOV_RATE = f"""
WITH occ AS (
  SELECT source,
         unnest(regexp_extract_all(lower(text), '{TOKEN_RUN}')) AS term
  FROM documents
),
ctf AS (SELECT term, count(*) AS ctf FROM occ GROUP BY term),
vocab AS (
  SELECT term FROM ctf ORDER BY ctf DESC, term ASC LIMIT {OOV_VOCAB_K}
),
tot AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_tokens
  FROM occ GROUP BY source
),
oov AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_oov
  FROM occ WHERE term NOT IN (SELECT term FROM vocab)
  GROUP BY source
)
SELECT t.source, n_tokens,
       COALESCE(o.n_oov, 0) AS n_oov,
       round(COALESCE(o.n_oov, 0) / n_tokens, 6) AS oov_rate
FROM tot t LEFT JOIN oov o USING (source)
"""


# --------------------------------------------------------------------------
# Impact quantization (tiered / impact-ordered index): per-term MAX BM25
# impact and its 8-bit quantized bucket against the global max — the
# block-max statistic WAND prunes with, quantized the way an impact-
# ordered index stores it, plus the quantization error the lossy grid
# pays. idf is fixed6-quantized IMMEDIATELY (ln may differ by an ulp
# between JVM and C libm); everything after is pure IEEE ×/÷/+ on
# identical operands. Term stats use the manual two-phase shape (tf on
# the uniform (term, doc) key, df re-aggregated from it — invariant 6).
# --------------------------------------------------------------------------
IMPACT_BUCKETS = 255


def q_impact_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.expr(f"regexp_extract_all(lower(text), '{TOKEN_RUN}', 0)")
        ).alias("term"),
    )
    tf = toks.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    dfx = tf.groupBy("term").agg(F.count(F.lit(1)).alias("doc_frequency"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    avgdl_df = dl.agg(F.avg(F.col("dl").cast("double")).alias("_avgdl"))
    dfd = F.col("doc_frequency").cast("double")
    idf = (
        dfx.crossJoin(F.broadcast(scalar_count(docs)))
        .select(
            "term",
            "doc_frequency",
            fixed6_long(
                F.log((F.col("_n") - dfd + 0.5) / (dfd + 0.5) + 1.0)
            ).alias("idf6"),
        )
    )
    tfd = F.col("tf").cast("double")
    norm = F.lit(BM25_K1) * (
        1.0 - BM25_B + F.lit(BM25_B) * F.col("dl").cast("double") / F.col("_avgdl")
    )
    impact_s = F.col("idf6") * (tfd * (BM25_K1 + 1.0) / (tfd + norm))
    mx = (
        tf.join(F.broadcast(idf), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(avgdl_df))
        .withColumn("_imp", impact_s)
        .groupBy("term", "doc_frequency")
        .agg(F.max("_imp").alias("max_s"))
    )
    gm = mx.agg(F.max("max_s").alias("_gm"))
    bucket = F.floor(
        F.col("max_s") / F.col("_gm") * F.lit(float(IMPACT_BUCKETS))
    ).cast("long")
    return mx.crossJoin(F.broadcast(gm)).select(
        "term",
        "doc_frequency",
        F.round(F.col("max_s") / 1000000.0, 6).alias("max_impact"),
        bucket.alias("bucket"),
        F.round(
            (
                F.col("max_s")
                - bucket * F.col("_gm") / F.lit(float(IMPACT_BUCKETS))
            )
            / 1000000.0,
            6,
        ).alias("quant_err"),
    )


SQL_IMPACT_QUANTIZATION = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '{TOKEN_RUN}')) AS term
  FROM documents
),
tf AS (
  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
  FROM toks GROUP BY term, doc_id
),
dfx AS (
  SELECT term, CAST(count(*) AS BIGINT) AS doc_frequency
  FROM tf GROUP BY term
),
dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id),
avgdl AS (SELECT avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
n AS (SELECT CAST(count(*) AS DOUBLE) AS _n FROM documents),
idf AS (
  SELECT term, doc_frequency,
         {SQL_FIXED6_LONG.format(
             col="ln((n._n - CAST(doc_frequency AS DOUBLE) + 0.5)"
                 " / (CAST(doc_frequency AS DOUBLE) + 0.5) + 1.0)"
         )} AS idf6
  FROM dfx, n
),
mx AS (
  SELECT t.term, i.doc_frequency,
         max(i.idf6 * (CAST(t.tf AS DOUBLE) * ({BM25_K1} + 1.0)
             / (CAST(t.tf AS DOUBLE) + {BM25_K1} * (1.0 - {BM25_B}
                + {BM25_B} * CAST(d.dl AS DOUBLE) / a.avgdl)))) AS max_s
  FROM tf t JOIN idf i USING (term) JOIN dl d USING (doc_id), avgdl a
  GROUP BY t.term, i.doc_frequency
),
m AS (SELECT max(max_s) AS gm FROM mx)
SELECT term, doc_frequency,
       round(max_s / 1000000.0, 6) AS max_impact,
       CAST(floor(max_s / m.gm * {IMPACT_BUCKETS}.0) AS BIGINT) AS bucket,
       round((max_s - CAST(floor(max_s / m.gm * {IMPACT_BUCKETS}.0) AS BIGINT)
              * m.gm / {IMPACT_BUCKETS}.0) / 1000000.0, 6) AS quant_err
FROM mx, m
"""


# --------------------------------------------------------------------------
# Spellcheck candidate generation: trigram-Jaccard similarity join (J7/T5)
# --------------------------------------------------------------------------
SPELL_INPUTS = ["spakr", "qurey", "tabel", "windw", "streem"]
_SPELL_INPUT_SQL = ", ".join(f"('{w}')" for w in SPELL_INPUTS)


def q_spellcheck_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7/T5 via the library's pg_trgm-padded trigram join
    (spellcheck/service.trigram_candidates). The spellcheck service answers
    from in-memory trigram lists instead; tests/test_spellcheck.py holds it
    equal to this join. The oracle mirrors the padded-trigram +
    GREATEST(2, len-2) band semantics."""
    from .spellcheck.service import trigram_candidates

    docs = _read(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z]{2,32}', 0)")
        ).alias("word"),
    )
    dictionary = (
        doc_frequencies(words, key="word", with_ctf=True, ctf_alias="total_frequency")
        .withColumn("external_frequency", F.lit(0))
        .withColumn(
            "popularity_score",
            F.round(
                F.log1p(F.col("doc_frequency").cast("double")) * 4.0
                + F.log1p(F.col("total_frequency").cast("double")) * 2.0,
                6,
            ),
        )
    )
    return (
        trigram_candidates(dictionary, SPELL_INPUTS, limit=5)
        .select(
            "input_word",
            "word",
            F.round("similarity", 6).alias("sim"),
            F.col("popularity_score").alias("popularity"),
        )
    )


SQL_SPELLCHECK_CANDIDATES = f"""
WITH dict AS (
  SELECT word, round(ln(1 + count(DISTINCT doc_id)) * 4.0
                   + ln(1 + count(*)) * 2.0, 6) AS popularity
  FROM (
    SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]{{2,32}}')) AS word
    FROM documents
  ) GROUP BY word
  HAVING round(ln(1 + count(DISTINCT doc_id)) * 4.0 + ln(1 + count(*)) * 2.0, 6) >= 2.0
),
inputs AS (SELECT * FROM (VALUES {_SPELL_INPUT_SQL}) AS t(input_word)),
tg AS (
  SELECT d.word, d.popularity, i.input_word,
         list_distinct(list_transform(range(1, len('  ' || d.word || ' ') - 1),
                                      x -> substring('  ' || d.word || ' ', x, 3))) AS tg_w,
         list_distinct(list_transform(range(1, len('  ' || i.input_word || ' ') - 1),
                                      x -> substring('  ' || i.input_word || ' ', x, 3))) AS tg_i
  FROM dict d, inputs i
  WHERE len(d.word) BETWEEN greatest(2, len(i.input_word) - 2)
                        AND len(i.input_word) + 2
),
scored AS (
  SELECT input_word, word, popularity,
         len(list_intersect(tg_w, tg_i)) AS n_inter,
         round(len(list_intersect(tg_w, tg_i))
               / (len(tg_w) + len(tg_i) - len(list_intersect(tg_w, tg_i))), 6) AS sim
  FROM tg
)
SELECT input_word, word, sim, popularity
FROM scored
WHERE n_inter > 0
QUALIFY row_number() OVER (PARTITION BY input_word
                           ORDER BY sim DESC, popularity DESC, word ASC) <= 5
"""


# --------------------------------------------------------------------------
# A10/U4 — three-source frequency merge via full outer joins + full
# popularity formula (docs words + "news" words from events.props + a
# literal external wordlist)
# --------------------------------------------------------------------------
EXTERNAL_WORDS = [("spark", 1000), ("data", 500), ("quantum", 800), ("nebula", 300)]
_EXT_SQL = ", ".join(f"('{w}', {c})" for w, c in EXTERNAL_WORDS)


def q_word_source_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .spellcheck.service import merge_frequency_sources

    docs = _read(spark, sf_dir, "documents")
    events = _read(spark, sf_dir, "events")
    doc_words = doc_frequencies(
        docs.select(
            "doc_id",
            F.explode(
                F.regexp_extract_all(F.lower("text"), F.lit(WORD_RUN), F.lit(0))
            ).alias("word"),
        ),
        key="word",
        with_ctf=True,
        ctf_alias="total_frequency",
    )
    news_words = (
        events.select(
            F.explode(
                F.regexp_extract_all(F.lower("props"), F.lit(WORD_RUN), F.lit(0))
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("total_frequency"))
    )
    ext = spark.createDataFrame(EXTERNAL_WORDS, "word string, external_frequency long")
    out = merge_frequency_sources(doc_words, news_words, ext)
    return out.select(
        "word",
        "doc_frequency",
        "total_frequency",
        "external_frequency",
        F.round("popularity_score", 6).alias("popularity_score"),
    )


SQL_WORD_SOURCE_MERGE = f"""
WITH docw AS (
  SELECT word, count(DISTINCT doc_id) AS doc_frequency, count(*) AS total_frequency
  FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '{WORD_RUN}')) AS word
        FROM documents)
  GROUP BY word
),
newsw AS (
  SELECT word, count(*) AS news_tf
  FROM (SELECT unnest(regexp_extract_all(lower(props), '{WORD_RUN}')) AS word
        FROM events)
  GROUP BY word
),
extw AS (SELECT * FROM (VALUES {_EXT_SQL}) AS t(word, ext))
SELECT word,
       COALESCE(doc_frequency, 0) AS doc_frequency,
       COALESCE(d.total_frequency, 0) + COALESCE(n.news_tf, 0) AS total_frequency,
       COALESCE(e.ext, 0) AS external_frequency,
       round(ln(1 + COALESCE(doc_frequency, 0)) * 4.0
           + ln(1 + COALESCE(d.total_frequency, 0) + COALESCE(n.news_tf, 0)) * 2.0
           + ln(1 + COALESCE(e.ext, 0)) * 3.0, 6) AS popularity_score
FROM docw d
FULL OUTER JOIN newsw n USING (word)
FULL OUTER JOIN extw e USING (word)
"""


# --------------------------------------------------------------------------
# Postings-codec framing parity (north_rule: "per-term docID-delta +
# varint-compressed posting lists"). Both sides number the documents that
# have tokens by doc_id rank (``dense_rank() OVER (ORDER BY doc_id) - 1``,
# one shard: the ordinals ``operators/postings.py`` stores). The Spark side
# runs the REAL ``codec.encode_postings`` over each term's ordinal list
# (grouped-map Arrow stage) and reports per-term framing stats: blob byte
# length, block count, and checksums of both skip arrays. The oracle
# recomputes every number from first principles — an exact integer
# varint-length ladder over the ordinal-delta stream, 128-posting block
# restarts (the absolute first ordinal), and the three per-posting tf
# varints (title/desc = 0 here: the documents table is body-only).
# Agreement proves the compression framing itself, not just decoded query
# results, without shipping bytes across engines.
# --------------------------------------------------------------------------
def q_postings_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from .codec import encode_postings

    docs = _read(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RUN), F.lit(0))
        ).alias("term"),
    )
    tf = toks.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    ranked = tf.select(
        "term",
        (F.dense_rank().over(Window.orderBy("doc_id")) - 1).alias("ordinal"),
        "tf",
    )

    def encode_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("ordinal")
        ids = [int(d) for d in pdf["ordinal"]]
        tfs = [int(t) for t in pdf["tf"]]
        zeros = [0] * len(ids)
        blob, block_max, block_last, block_offset = encode_postings(
            ids, zeros, zeros, tfs
        )
        return pd.DataFrame(
            {
                "term": [str(pdf["term"].iloc[0])],
                "df": [len(ids)],
                "n_blocks": [len(block_offset)],
                "blob_bytes": [len(blob)],
                # body-only postings: block_max = 1.0 * max tf, an exact
                # whole double — the int sum is lossless
                "sum_block_max_tf": [int(sum(int(w) for w in block_max))],
                "sum_block_last": [sum(block_last)],
            }
        )

    out_schema = (
        "term string, df long, n_blocks long, blob_bytes long, "
        "sum_block_max_tf long, sum_block_last long"
    )
    return (
        ranked.groupBy("term")
        .applyInPandas(encode_group, out_schema)
        .orderBy("term")
    )


def _varint_len_sql(expr: str) -> str:
    """Exact varint byte length of a non-negative HUGEINT expression:
    max(1, ceil(bit_length/7)) as a pure integer threshold ladder (no
    float log2 — exact at every 2^(7k) boundary)."""
    cases = " ".join(
        f"WHEN {expr} < {1 << (7 * k)} THEN {k}" for k in range(1, 10)
    )
    return f"(CASE {cases} ELSE 10 END)"


def _postings_bytes_sql() -> str:
    first_len = _varint_len_sql("CAST(ordinal AS HUGEINT)")
    delta_len = _varint_len_sql("CAST(ordinal - prev AS HUGEINT)")
    tf_len = _varint_len_sql("CAST(tf AS HUGEINT)")
    header_len = _varint_len_sql("CAST(sum(n_in_block) AS HUGEINT)")
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKEN_RUN}')) AS term
  FROM documents
),
tf AS (SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY term, doc_id),
ranked AS (
  SELECT term, dense_rank() OVER (ORDER BY doc_id) - 1 AS ordinal, tf FROM tf
),
seq AS (
  SELECT term, ordinal, tf,
         row_number() OVER (PARTITION BY term ORDER BY ordinal) - 1 AS i,
         lag(ordinal) OVER (PARTITION BY term ORDER BY ordinal) AS prev
  FROM ranked
),
per AS (
  SELECT term, ordinal, tf, i // 128 AS blk,
         (CASE WHEN i % 128 = 0 THEN {first_len} ELSE {delta_len} END)
         + 2 + {tf_len} AS nbytes
  FROM seq
),
blk AS (
  SELECT term, blk,
         count(*) AS n_in_block,
         max(tf) AS block_max_tf,
         max(ordinal) AS block_last,
         sum(nbytes) AS block_bytes
  FROM per GROUP BY term, blk
)
SELECT term,
       CAST(sum(n_in_block) AS BIGINT) AS df,
       CAST(count(*) AS BIGINT) AS n_blocks,
       CAST({header_len} + sum(block_bytes) AS BIGINT) AS blob_bytes,
       CAST(sum(block_max_tf) AS BIGINT) AS sum_block_max_tf,
       CAST(sum(block_last) AS BIGINT) AS sum_block_last
FROM blk
GROUP BY term
ORDER BY term
"""


SQL_POSTINGS_BYTES = _postings_bytes_sql()


# --------------------------------------------------------------------------
# Term-bucket balance audit: the layout report an indexing pipeline runs
# before committing to a term_bucket modulus (operators/postings.py keys
# storage partitions on pmod(hash(term), n_buckets); invariant 7 makes the
# modulus load-bearing). Per bucket: dictionary terms, postings (sum of
# df), occurrences (sum of ctf); plus the two balance statistics —
# max-over-avg postings and the coefficient of variation — as constant
# columns. The pair uses the md5-prefix bucket (engine-portable, invariant
# 2; the production layout uses xxhash64, same uniformity class) and a
# modulus of 8 scaled to the synthetic 30-term vocabulary (a 64-bucket
# audit of 30 terms is all-empty-or-singleton — the degenerate-fixture
# trap). df comes from the two-phase doc_frequencies helper (invariant 6:
# never countDistinct on the Zipf-skewed term key). The variance numerator
# nb*spp - tp^2 stays in exact BIGINT; cv/max_over_avg are single double
# expressions of exact integers, rounded 6, with CASE-guarded divisions.
# --------------------------------------------------------------------------
SHARD_BUCKETS = 8


def q_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.expr(f"regexp_extract_all(lower(text), '{TOKEN_RUN}', 0)")
        ).alias("term"),
    )
    per_term = doc_frequencies(toks, with_ctf=True)
    bucket = F.pmod(
        F.conv(F.substring(F.md5("term"), 1, 8), 16, 10).cast("long"),
        F.lit(SHARD_BUCKETS),
    ).cast("int")
    per_bucket = (
        per_term.select(
            bucket.alias("bucket"), "doc_frequency", "ctf"
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.sum("doc_frequency").cast("long").alias("n_postings"),
            F.sum("ctf").cast("long").alias("n_occurrences"),
        )
    )
    tot = per_bucket.agg(
        F.count(F.lit(1)).cast("long").alias("nb"),
        F.sum("n_postings").cast("long").alias("tp"),
        F.max("n_postings").cast("long").alias("mx"),
        F.sum(F.col("n_postings") * F.col("n_postings")).cast("long").alias("spp"),
    )
    nb_d = F.col("nb").cast("double")
    tp_d = F.col("tp").cast("double")
    mx_d = F.col("mx").cast("double")
    vnum = F.greatest(
        F.col("nb") * F.col("spp") - F.col("tp") * F.col("tp"), F.lit(0)
    )
    fit = tot.select(
        F.when(F.col("tp") != 0, F.round(mx_d * nb_d / tp_d, 6)).alias(
            "max_over_avg"
        ),
        F.when(
            F.col("tp") != 0, F.round(F.sqrt(vnum.cast("double")) / tp_d, 6)
        ).alias("cv"),
    )
    return per_bucket.crossJoin(F.broadcast(fit)).orderBy("bucket")


SQL_SHARD_BALANCE = f"""
WITH t AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKEN_RUN}')) AS term
  FROM documents
),
pt AS (
  SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS dfreq,
         CAST(count(*) AS BIGINT) AS ctf
  FROM t GROUP BY term
),
pb AS (
  SELECT CAST(CAST('0x' || substr(md5(term), 1, 8) AS BIGINT)
              % {SHARD_BUCKETS} AS INTEGER) AS bucket,
         CAST(count(*) AS BIGINT) AS n_terms,
         CAST(sum(dfreq) AS BIGINT) AS n_postings,
         CAST(sum(ctf) AS BIGINT) AS n_occurrences
  FROM pt GROUP BY 1
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS nb,
         CAST(sum(n_postings) AS BIGINT) AS tp,
         CAST(max(n_postings) AS BIGINT) AS mx,
         CAST(sum(n_postings * n_postings) AS BIGINT) AS spp
  FROM pb
),
fit AS (
  SELECT CASE WHEN tp <> 0
              THEN round(CAST(mx AS DOUBLE) * CAST(nb AS DOUBLE)
                         / CAST(tp AS DOUBLE), 6) END AS max_over_avg,
         CASE WHEN tp <> 0
              THEN round(sqrt(CAST(greatest(nb * spp - tp * tp, 0) AS DOUBLE))
                         / CAST(tp AS DOUBLE), 6) END AS cv
  FROM tot
)
SELECT pb.bucket, pb.n_terms, pb.n_postings, pb.n_occurrences,
       fit.max_over_avg, fit.cv
FROM pb, fit
ORDER BY bucket
"""


# --------------------------------------------------------------------------
# Impact-tiered index report (static index pruning / champion lists:
# Ntoulas & Cho, SIGIR 2007; the "fancy lists" in the original Google
# paper): per term, postings rank by (tf desc, doc_id asc) and split
# into tiers — tier 0 the top-{TIER_M0} per term, tier 1 the next up to
# rank {TIER_M1}, tier 2 the tail. The report is the index-sizing audit
# behind a tiered deployment: how many postings and what share of total
# term mass each tier captures (tier 0+1 serving most queries from a
# fraction of the index). All counts are exact BIGINTs; the only floats
# are two single divides of exact integers rounded 6 (invariant 4 safe —
# no float accumulation anywhere). The n_terms count uses the two-phase
# distinct pattern (tier has 3 values — a countDistinct grouped by it
# would funnel the vocabulary through 3 reducers; invariant 6). Scale
# note: the per-term row_number window is vocab-partitioned; at web scale
# a head term's full posting list lands in one partition — production
# would compute the tier-m0/m1 tf cutoffs via per-term top-m aggregation
# (bounded heap) instead of a full sort, which this report's semantics
# permit; at the corpus sizes here the window is the clearer plan.
# --------------------------------------------------------------------------
TIER_M0 = 2
TIER_M1 = 8


def q_tiered_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    tf = (
        docs.select(
            "doc_id",
            F.explode(
                F.regexp_extract_all(
                    F.lower("text"), F.lit(TOKEN_RUN), F.lit(0)
                )
            ).alias("term"),
        )
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    w = Window.partitionBy("term").orderBy(F.desc("tf"), F.asc("doc_id"))
    tiered = tf.withColumn("_rn", F.row_number().over(w)).withColumn(
        "tier",
        F.when(F.col("_rn") <= TIER_M0, F.lit(0))
        .when(F.col("_rn") <= TIER_M1, F.lit(1))
        .otherwise(F.lit(2))
        .cast("long"),
    )
    per_tier = tiered.groupBy("tier").agg(
        F.count(F.lit(1)).cast("long").alias("n_postings"),
        F.sum("tf").cast("long").alias("ctf_tier"),
    )
    n_terms = (
        tiered.select("tier", "term")
        .distinct()
        .groupBy("tier")
        .agg(F.count(F.lit(1)).cast("long").alias("n_terms"))
    )
    tot = per_tier.agg(F.sum("ctf_tier").cast("long").alias("_t"))
    w_cum = (
        Window.orderBy("tier")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        per_tier.join(n_terms, "tier")
        .crossJoin(F.broadcast(tot))
        .withColumn("_cum", F.sum("ctf_tier").over(w_cum).cast("long"))
        .select(
            "tier",
            "n_terms",
            "n_postings",
            "ctf_tier",
            F.round(F.col("ctf_tier").cast("double") / F.col("_t"), 6).alias(
                "ctf_share"
            ),
            F.round(F.col("_cum").cast("double") / F.col("_t"), 6).alias(
                "cum_share"
            ),
        )
        .orderBy("tier")
    )


SQL_TIERED_INDEX = f"""
WITH tf AS (
  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id,
               unnest(regexp_extract_all(lower(text), '{TOKEN_RUN}')) AS term
        FROM documents)
  GROUP BY term, doc_id
),
tiered AS (
  SELECT term, tf,
         CAST(CASE WHEN rn <= {TIER_M0} THEN 0
                   WHEN rn <= {TIER_M1} THEN 1
                   ELSE 2 END AS BIGINT) AS tier
  FROM (SELECT term, tf,
               row_number() OVER (PARTITION BY term
                                  ORDER BY tf DESC, doc_id ASC) AS rn
        FROM tf)
),
per_tier AS (
  SELECT tier, CAST(count(*) AS BIGINT) AS n_postings,
         CAST(sum(tf) AS BIGINT) AS ctf_tier
  FROM tiered GROUP BY tier
),
n_terms AS (
  SELECT tier, CAST(count(*) AS BIGINT) AS n_terms
  FROM (SELECT DISTINCT tier, term FROM tiered) GROUP BY tier
),
tot AS (SELECT CAST(sum(ctf_tier) AS BIGINT) AS t FROM per_tier)
SELECT p.tier, n.n_terms, p.n_postings, p.ctf_tier,
       round(CAST(p.ctf_tier AS DOUBLE) / tot.t, 6) AS ctf_share,
       round(CAST(sum(p.ctf_tier) OVER (ORDER BY p.tier
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS DOUBLE) / tot.t, 6) AS cum_share
FROM per_tier p JOIN n_terms n USING (tier), tot
ORDER BY p.tier
"""


# --------------------------------------------------------------------------
# Crawl politeness drain-time audit: the reference crawls each domain at
# 0.5 requests/s (`app/crawler/worker.py:25-37,52` AsyncLimiter) with the
# page set sharded across nodes by id (`duplicate_detection.py:46-58`) —
# so a refresh cycle's wall-clock floor is set by the LARGEST domain, not
# the corpus size (politeness serializes within a domain; domains run in
# parallel up to fetch concurrency). Per domain: page count, drain time
# at the reference rate, corpus share, and whether it sits on the
# critical path (drain == fleet max). All exact integers; the one divide
# is a single rounded ratio of exact BIGINTs. This is the planning input
# behind crawl sharding and recrawl budgeting — at web scale the groupBy
# key is the domain (hash-partitioned, counts combine map-side) and the
# fleet max rides in-plan as a broadcast scalar, never a driver collect.
# --------------------------------------------------------------------------
CRAWL_SPACING_S = 2  # 1 / requests_per_second=0.5, worker.py:52


def q_crawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents").select("source")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_pages")
    )
    fleet = per.agg(
        F.sum("n_pages").cast("long").alias("_t"),
        F.max("n_pages").cast("long").alias("_mx"),
    )
    return (
        per.crossJoin(F.broadcast(fleet))
        .select(
            "source",
            "n_pages",
            ((F.col("n_pages") - 1) * CRAWL_SPACING_S).alias("drain_s"),
            F.round(
                F.col("n_pages").cast("double") / F.col("_t"), 6
            ).alias("page_share"),
            (F.col("n_pages") == F.col("_mx")).alias("critical_path"),
        )
        .orderBy("source")
    )


SQL_CRAWL_SCHEDULE = f"""
WITH per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_pages
  FROM documents GROUP BY source
),
fleet AS (
  SELECT CAST(sum(n_pages) AS BIGINT) AS t,
         CAST(max(n_pages) AS BIGINT) AS mx
  FROM per
)
SELECT source, n_pages,
       (n_pages - 1) * {CRAWL_SPACING_S} AS drain_s,
       round(CAST(n_pages AS DOUBLE) / fleet.t, 6) AS page_share,
       n_pages = fleet.mx AS critical_path
FROM per, fleet
"""


# --------------------------------------------------------------------------
# Posting-gap codec comparison: total coded size of the corpus's doc-id
# gap stream under byte-aligned varint (the shipped codec — `codec.py`,
# paired in postings_bytes), Elias gamma, and Elias delta — the
# codec-choice audit that turns gap_histogram's distribution into
# bytes-on-disk. Every formula is a pure-integer function of
# L = length(bin(gap)) = floor(log2 gap)+1 (the gap_histogram trick):
# varint bytes = ((L-1) div 7)+1, gamma bits = 2L-1, delta bits =
# (L-1) + 2*length(bin(L))-1. First posting encodes doc_id+1 (prev = -1)
# so every gap >= 1 and the totals cover whole lists. One distinct +
# one per-term window + one aggregate; reported per scheme.
# --------------------------------------------------------------------------
def q_codec_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    td = docs.select(
        "doc_id",
        F.explode(
            F.expr(f"regexp_extract_all(lower(text), '{TOKEN_RUN}', 0)")
        ).alias("term"),
    ).distinct()
    w = Window.partitionBy("term").orderBy("doc_id")
    gaps = td.select(
        (
            F.col("doc_id") - F.coalesce(F.lag("doc_id").over(w), F.lit(-1))
        ).alias("g")
    ).select(F.length(F.bin("g")).cast("long").alias("bl"))
    m = gaps.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.expr("8 * (((bl - 1) div 7) + 1)")).cast("long").alias("vb"),
        F.sum(F.expr("2 * bl - 1")).cast("long").alias("gb"),
        F.sum(
            F.expr("(bl - 1) + 2 * length(bin(bl)) - 1")
        ).cast("long").alias("db"),
    )
    parts = [
        m.select(
            F.lit(s).alias("scheme"),
            F.col("n").alias("n_postings"),
            F.col(c).alias("total_bits"),
            F.round(F.col(c) / F.col("n"), 6).alias("bits_per_posting"),
        )
        for s, c in (("varint", "vb"), ("gamma", "gb"), ("delta", "db"))
    ]
    res = parts[0]
    for p in parts[1:]:
        res = res.unionByName(p)
    return res


SQL_CODEC_COMPARE = f"""
WITH td AS (
  SELECT DISTINCT term, doc_id FROM (
    SELECT doc_id,
           unnest(regexp_extract_all(lower(text), '{TOKEN_RUN}')) AS term
    FROM documents
  )
),
gaps AS (
  SELECT CAST(length(bin(
           doc_id - coalesce(lag(doc_id) OVER (PARTITION BY term
                                               ORDER BY doc_id), -1)
         )) AS BIGINT) AS bl
  FROM td
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(8 * (((bl - 1) // 7) + 1)) AS BIGINT) AS vb,
         CAST(sum(2 * bl - 1) AS BIGINT) AS gb,
         CAST(sum((bl - 1) + 2 * length(bin(bl)) - 1) AS BIGINT) AS db
  FROM gaps
)
SELECT 'varint' AS scheme, n AS n_postings, vb AS total_bits,
       round(vb / n, 6) AS bits_per_posting FROM m
UNION ALL
SELECT 'gamma', n, gb, round(gb / n, 6) FROM m
UNION ALL
SELECT 'delta', n, db, round(db / n, 6) FROM m
"""


# --------------------------------------------------------------------------
# Term-dictionary front-coding audit (the Lucene/stdlib block prefix
# compression every fulltext index applies to its sorted term
# dictionary): for block sizes 8/16/64, the coded size when each block
# restart stores the full term (1 length byte) and every other term
# stores (lcp byte, suffix-length byte, suffix). LCP with the
# lexicographic predecessor is computed as the COUNT of equal prefixes
# (prefix-match is monotone, so the count IS the longest match) — a
# bounded per-term expression, no UDF. The vocabulary relation is
# aggregated FIRST, so the global-order window ranks |V| rows, not the
# token stream (the length_quantiles single-partition precedent:
# vocabulary-bounded by construction).
# --------------------------------------------------------------------------
FC_BLOCKS = (8, 16, 64)

_LCP_SPARK = (
    "CASE WHEN prev IS NULL THEN 0 ELSE size(filter("
    "sequence(1, least(length(prev), length(term))),"
    " i -> substring(prev, 1, i) = substring(term, 1, i))) END"
)


def q_dict_frontcoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    vocab = docs.select(
        F.explode(
            F.expr(f"regexp_extract_all(lower(text), '{TOKEN_RUN}', 0)")
        ).alias("term")
    ).distinct()
    w = Window.orderBy("term")
    coded = vocab.select(
        "term",
        F.lag("term").over(w).alias("prev"),
        (F.row_number().over(w) - 1).alias("rn"),
    ).select(
        "rn",
        F.length("term").cast("long").alias("len"),
        F.expr(_LCP_SPARK).cast("long").alias("lcp"),
    )
    parts = []
    for b in FC_BLOCKS:
        parts.append(
            coded.agg(
                F.lit(b).cast("long").alias("block_size"),
                F.count(F.lit(1)).cast("long").alias("n_terms"),
                F.sum(F.expr("1 + len")).cast("long").alias("raw_bytes"),
                F.sum(
                    F.expr(
                        f"CASE WHEN rn % {b} = 0 THEN 1 + len"
                        " ELSE 2 + len - lcp END"
                    )
                ).cast("long").alias("fc_bytes"),
            ).select(
                "block_size",
                "n_terms",
                "raw_bytes",
                "fc_bytes",
                F.round(F.col("fc_bytes") / F.col("raw_bytes"), 6).alias(
                    "size_ratio"
                ),
            )
        )
    res = parts[0]
    for p in parts[1:]:
        res = res.unionByName(p)
    return res


def _frontcoding_sql() -> str:
    branches = "\nUNION ALL\n".join(
        f"""SELECT CAST({b} AS BIGINT) AS block_size,
       CAST(count(*) AS BIGINT) AS n_terms,
       CAST(sum(1 + len) AS BIGINT) AS raw_bytes,
       CAST(sum(CASE WHEN rn % {b} = 0 THEN 1 + len
                     ELSE 2 + len - lcp END) AS BIGINT) AS fc_bytes,
       round(sum(CASE WHEN rn % {b} = 0 THEN 1 + len
                      ELSE 2 + len - lcp END)
             / sum(1 + len), 6) AS size_ratio
FROM coded"""
        for b in FC_BLOCKS
    )
    return f"""
WITH vocab AS (
  SELECT DISTINCT unnest(regexp_extract_all(lower(text), '{TOKEN_RUN}'))
         AS term
  FROM documents
),
ordered AS (
  SELECT term, lag(term) OVER (ORDER BY term) AS prev,
         row_number() OVER (ORDER BY term) - 1 AS rn
  FROM vocab
),
coded AS (
  SELECT rn, CAST(length(term) AS BIGINT) AS len,
         CAST(CASE WHEN prev IS NULL THEN 0 ELSE len(list_filter(
           range(1, least(length(prev), length(term)) + 1),
           i -> substr(prev, 1, i) = substr(term, 1, i))) END
         AS BIGINT) AS lcp
  FROM ordered
)
{branches}
"""


SQL_DICT_FRONTCODING = _frontcoding_sql()


# --------------------------------------------------------------------------
# Consistent-hashing rebalance audit (Karger et al. 1997): when the doc
# store grows 16 -> 17 shards, what fraction of keys move under naive
# mod-N placement vs a 16-vnode hash ring? The classic result — mod
# reshuffles ~N/(N+1) of all keys, the ring moves ~1/(N+1) — is the
# reason term_bucket-style mod layouts (invariant 7) need full rebuilds
# while a ring grows incrementally. Hashes are the repo's md5 hex-prefix
# ints (invariant 2: bit-identical in DuckDB). Ring ownership: smallest
# token >= key, wrapping to the global min — ONE row_number pick over
# (wrap-priority, token, shard) on a broadcast-token cross join, so the
# per-key fan-out is bounded by the constant token count at any corpus
# size.
# --------------------------------------------------------------------------
RING_SHARDS = 16
RING_VNODES = 16


def _hash32(col: Column) -> Column:
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def _ring_owner(keys: DataFrame, tokens: DataFrame) -> DataFrame:
    """keys(doc_id, kh) x tokens(tok, shard) -> (doc_id, shard)."""
    cand = keys.crossJoin(F.broadcast(tokens)).select(
        "doc_id",
        F.when(F.col("tok") >= F.col("kh"), F.lit(0))
        .otherwise(F.lit(1))
        .alias("pri"),
        "tok",
        "shard",
    )
    w = Window.partitionBy("doc_id").orderBy("pri", "tok", "shard")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "shard")
    )


def _ring_tokens(spark: SparkSession, n_shards: int) -> DataFrame:
    grid = spark.createDataFrame(
        [(s, v) for s in range(n_shards) for v in range(RING_VNODES)],
        "shard: long, vnode: long",
    )
    return grid.select(
        _hash32(
            F.concat(
                F.lit("shard:"),
                F.col("shard").cast("string"),
                F.lit(":"),
                F.col("vnode").cast("string"),
            )
        ).alias("tok"),
        "shard",
    )


def q_shard_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    keys = docs.select(
        "doc_id",
        _hash32(F.concat(F.lit("key:"), F.col("doc_id").cast("string"))).alias(
            "kh"
        ),
    ).localCheckpoint(eager=True)
    n, n2 = RING_SHARDS, RING_SHARDS + 1
    mod_moved = keys.select(
        (F.pmod(F.col("kh"), F.lit(n)) != F.pmod(F.col("kh"), F.lit(n2)))
        .cast("long")
        .alias("mv")
    )
    old = _ring_owner(keys, _ring_tokens(spark, n))
    new = _ring_owner(keys, _ring_tokens(spark, n2)).withColumnRenamed(
        "shard", "shard2"
    )
    ring_moved = old.join(new, "doc_id").select(
        (F.col("shard") != F.col("shard2")).cast("long").alias("mv")
    )
    parts = [
        df.agg(
            F.lit(s).alias("scheme"),
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum("mv").cast("long").alias("n_moved"),
        ).select(
            "scheme",
            "n_keys",
            "n_moved",
            F.round(F.col("n_moved") / F.col("n_keys"), 6).alias(
                "moved_fraction"
            ),
        )
        for s, df in (("mod", mod_moved), ("ring", ring_moved))
    ]
    return parts[0].unionByName(parts[1])


def _ring_sql() -> str:
    n, n2 = RING_SHARDS, RING_SHARDS + 1

    def owner(cte: str, n_shards: int) -> str:
        return f"""{cte} AS (
  SELECT doc_id, shard FROM (
    SELECT k.doc_id,
           CASE WHEN t.tok >= k.kh THEN 0 ELSE 1 END AS pri,
           t.tok, t.shard,
           row_number() OVER (
             PARTITION BY k.doc_id
             ORDER BY CASE WHEN t.tok >= k.kh THEN 0 ELSE 1 END,
                      t.tok, t.shard) AS rn
    FROM keys k, (
      SELECT CAST('0x' || substr(md5('shard:' || CAST(s AS VARCHAR) || ':'
                                     || CAST(v AS VARCHAR)), 1, 8)
                  AS BIGINT) AS tok,
             CAST(s AS BIGINT) AS shard
      FROM range(0, {n_shards}) AS rs(s), range(0, {RING_VNODES}) AS rv(v)
    ) t
  ) WHERE rn = 1
)"""

    return f"""
WITH keys AS (
  SELECT doc_id,
         CAST('0x' || substr(md5('key:' || CAST(doc_id AS VARCHAR)), 1, 8)
              AS BIGINT) AS kh
  FROM documents
),
{owner("own_old", n)},
{owner("own_new", n2)}
SELECT 'mod' AS scheme, CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(CASE WHEN kh % {n} <> kh % {n2} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_moved,
       round(sum(CASE WHEN kh % {n} <> kh % {n2} THEN 1 ELSE 0 END)
             / count(*), 6) AS moved_fraction
FROM keys
UNION ALL
SELECT 'ring', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN o.shard <> nw.shard THEN 1 ELSE 0 END) AS BIGINT),
       round(sum(CASE WHEN o.shard <> nw.shard THEN 1 ELSE 0 END)
             / count(*), 6)
FROM own_old o JOIN own_new nw USING (doc_id)
"""


SQL_SHARD_REBALANCE = _ring_sql()


# --------------------------------------------------------------------------
# Query-result cache hit-rate model: treating the corpus token stream as
# the Zipf query log (each occurrence = one query), the steady-state
# hit rate of a static top-c cache (the LFU fixed point) for capacities
# 1/2/4/8/16 — hits = occurrences of the top-c queries minus their c
# compulsory misses. The ranking is the aggregated-vocabulary window
# (ctf desc, term asc — next_word's discipline); the grand total rides
# in-plan. All BIGINT until the one final rate divide.
# --------------------------------------------------------------------------
CACHE_CAPS = (1, 2, 4, 8, 16)


def q_query_cache_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.expr(f"regexp_extract_all(lower(text), '{TOKEN_RUN}', 0)")
        ).alias("term")
    )
    ctf = toks.groupBy("term").agg(F.count(F.lit(1)).alias("ctf"))
    w = Window.orderBy(F.desc("ctf"), F.asc("term"))
    ranked = ctf.withColumn("rk", F.row_number().over(w))
    total = toks.agg(F.sum(F.lit(1)).cast("long").alias("_t"))
    parts = [
        ranked.filter(F.col("rk") <= c)
        .agg(
            F.lit(c).cast("long").alias("capacity"),
            F.count(F.lit(1)).cast("long").alias("n_cached_terms"),
            (F.sum("ctf") - F.count(F.lit(1))).cast("long").alias("n_hits"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "capacity",
            "n_cached_terms",
            "n_hits",
            F.round(F.col("n_hits") / F.col("_t"), 6).alias("hit_rate"),
        )
        for c in CACHE_CAPS
    ]
    res = parts[0]
    for p in parts[1:]:
        res = res.unionByName(p)
    return res


def _cache_sql() -> str:
    branches = "\nUNION ALL\n".join(
        f"""SELECT CAST({c} AS BIGINT) AS capacity,
       CAST(count(*) AS BIGINT) AS n_cached_terms,
       CAST(sum(ctf) - count(*) AS BIGINT) AS n_hits,
       round((sum(ctf) - count(*)) / (SELECT t FROM tot), 6) AS hit_rate
FROM ranked WHERE rk <= {c}"""
        for c in CACHE_CAPS
    )
    return f"""
WITH toks AS (
  SELECT unnest(regexp_extract_all(lower(text), '{TOKEN_RUN}')) AS term
  FROM documents
),
ctfs AS (SELECT term, CAST(count(*) AS BIGINT) AS ctf FROM toks GROUP BY term),
ranked AS (
  SELECT term, ctf,
         row_number() OVER (ORDER BY ctf DESC, term) AS rk
  FROM ctfs
),
tot AS (SELECT CAST(sum(ctf) AS BIGINT) AS t FROM ctfs)
{branches}
"""


SQL_QUERY_CACHE_MODEL = _cache_sql()


# --------------------------------------------------------------------------
# Block-max postings audit (Ding & Suel 2011, Block-Max WAND): per term,
# split the doc_id-ordered posting list into 32-posting blocks, record
# each block's max impact (tf*idf6 — integer, the same quantized impact
# family as impact_quantization), and report per-term pruning headroom:
# 1 - mean(block_max)/global_max — the fraction of the term's WAND upper
# bound a block-max refinement shaves on an average block (0 = flat
# impacts, block-max useless; -> 1 = spiky, deep skips). This is the
# audit table for the engine's executor-side block-max WAND
# (query/postings_search.py); production builds it sharded by
# (term_bucket) in operators/postings.py — here the row_number window per
# term IS the posting-layout shape. All BIGINT; displays via identical
# double expressions (invariant 4).
# --------------------------------------------------------------------------
BLOCK_K = 32
BLOCK_MIN_BLOCKS = 4
BLOCK_TOP = 40


def q_block_max_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    tf = _tf(spark, sf_dir, mutated=False)
    docs = _read(spark, sf_dir, "documents")
    dfd = F.col("df").cast("double")
    idf6 = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .crossJoin(F.broadcast(scalar_count(docs)))
        .select(
            "term",
            F.round(
                F.log((F.col("_n") - dfd + 0.5) / (dfd + 0.5) + 1.0)
                * F.lit(1000000.0),
                0,
            )
            .cast("long")
            .alias("idf6"),
        )
    )
    w = Window.partitionBy("term").orderBy("doc_id")
    imp = tf.join(idf6, "term").select(
        "term",
        "doc_id",
        (F.col("tf") * F.col("idf6")).cast("long").alias("impact6"),
        F.row_number().over(w).alias("rn"),
    )
    blocks = (
        imp.withColumn(
            "blk", ((F.col("rn") - 1) / F.lit(BLOCK_K)).cast("long")
        )
        .groupBy("term", "blk")
        .agg(
            F.max("impact6").cast("long").alias("bmax"),
            F.count(F.lit(1)).cast("long").alias("bn"),
        )
    )
    return (
        blocks.groupBy("term")
        .agg(
            F.sum("bn").cast("long").alias("df"),
            F.count(F.lit(1)).cast("long").alias("n_blocks"),
            F.max("bmax").cast("long").alias("global_max6"),
            F.sum("bmax").cast("long").alias("_bsum"),
        )
        .filter(F.col("n_blocks") >= BLOCK_MIN_BLOCKS)
        .select(
            "term",
            "df",
            "n_blocks",
            "global_max6",
            F.round(
                F.col("_bsum").cast("double")
                / F.col("n_blocks").cast("double")
                / F.lit(1000000.0),
                6,
            ).alias("mean_block_max"),
            F.round(
                F.lit(1.0)
                - F.col("_bsum").cast("double")
                / F.col("n_blocks").cast("double")
                / F.col("global_max6").cast("double"),
                6,
            ).alias("prune_headroom"),
        )
        .orderBy(F.desc("df"), "term")
        .limit(BLOCK_TOP)
    )


SQL_BLOCK_MAX_SCORES = f"""
WITH {_tf_cte("documents")},
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
idf6 AS (
  SELECT term,
         CAST(round(ln((n.n - count(*) + 0.5) / (count(*) + 0.5) + 1.0)
                    * 1000000.0) AS BIGINT) AS idf6
  FROM tf, n GROUP BY term, n.n
),
imp AS (
  SELECT tf.term, tf.doc_id,
         CAST(tf.tf * idf6.idf6 AS BIGINT) AS impact6,
         row_number() OVER (PARTITION BY tf.term ORDER BY tf.doc_id) AS rn
  FROM tf JOIN idf6 USING (term)
),
blocks AS (
  SELECT term, CAST((rn - 1) // {BLOCK_K} AS BIGINT) AS blk,
         CAST(max(impact6) AS BIGINT) AS bmax,
         CAST(count(*) AS BIGINT) AS bn
  FROM imp GROUP BY term, blk
)
SELECT term, CAST(sum(bn) AS BIGINT) AS df,
       CAST(count(*) AS BIGINT) AS n_blocks,
       CAST(max(bmax) AS BIGINT) AS global_max6,
       round(CAST(sum(bmax) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             / 1000000.0, 6) AS mean_block_max,
       round(1.0 - CAST(sum(bmax) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             / CAST(max(bmax) AS DOUBLE), 6) AS prune_headroom
FROM blocks GROUP BY term
HAVING count(*) >= {BLOCK_MIN_BLOCKS}
ORDER BY df DESC, term
LIMIT {BLOCK_TOP}
"""


# --------------------------------------------------------------------------
# Elias-Fano vs delta-varint posting-list size audit for the 20 highest-DF
# terms — the storage-layout decision table behind a compressed index
# (the engine's own postings ride delta+varint; EF is the monotone-list
# alternative with O(1) skip). Everything is EXACT integer bit
# arithmetic: floor(log2 x) = length(bin(x)) - 1 on both engines (no
# float log), EF total = n*l + n + (U >> l) with l = max(0,
# floor(log2(U/n))), varint bytes per delta = 1 + (bitlen(delta)-1) DIV 7
# over window-lag deltas (first delta = doc_id + 1, absolute-coded).
# Only the two bits-per-posting ratios are doubles, rounded 6.
# --------------------------------------------------------------------------
EF_TOP_TERMS = 20


def q_ef_vs_varint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RUN), F.lit(0))
        ).alias("term"),
    )
    postings = toks.groupBy("term", "doc_id").agg(F.lit(1).alias("_one"))
    dfreq = postings.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    wtop = Window.orderBy(F.desc("df"), F.asc("term"))
    top = (
        dfreq.withColumn("_rn", F.row_number().over(wtop))
        .filter(F.col("_rn") <= EF_TOP_TERMS)
        .select("term", "df")
    )
    n_df = scalar_count(docs.select("doc_id"), as_double=False)
    wt = Window.partitionBy("term").orderBy("doc_id")
    deltas = (
        postings.join(F.broadcast(top.select("term")), "term")
        .withColumn(
            "delta",
            F.coalesce(
                F.col("doc_id") - F.lag("doc_id").over(wt),
                F.col("doc_id") + 1,
            ).cast("long"),
        )
        .select(
            "term",
            (
                F.lit(1)
                + F.floor(
                    (F.length(F.bin(F.col("delta"))) - 1) / F.lit(7)
                )
            )
            .cast("long")
            .alias("vbytes"),
        )
    )
    vag = deltas.groupBy("term").agg(
        F.sum("vbytes").cast("long").alias("varint_bytes")
    )
    lcol = F.greatest(
        F.lit(0).cast("long"),
        (F.length(F.bin(F.expr("_n DIV df"))) - 1).cast("long"),
    )
    out = (
        top.join(vag, "term")
        .crossJoin(F.broadcast(n_df))
        .withColumn("l", lcol)
        .select(
            "term",
            "df",
            F.col("l"),
            F.col("_n").cast("long").alias("universe"),
            (F.col("varint_bytes") * 8).cast("long").alias("varint_bits"),
        )
    )
    ef_bits = (
        F.col("df") * F.col("l")
        + F.col("df")
        + F.expr(
            "universe DIV shiftleft(CAST(1 AS BIGINT), CAST(l AS INT))"
        )
    )
    return (
        out.select(
            "term",
            "df",
            "universe",
            "l",
            ef_bits.cast("long").alias("ef_bits"),
            "varint_bits",
        )
        .select(
            "term",
            "df",
            "universe",
            "l",
            "ef_bits",
            "varint_bits",
            F.round(
                F.col("ef_bits").cast("double") / F.col("df").cast("double"),
                6,
            ).alias("ef_bits_per_posting"),
            F.round(
                F.col("varint_bits").cast("double")
                / F.col("df").cast("double"),
                6,
            ).alias("varint_bits_per_posting"),
        )
        .orderBy(F.desc("df"), F.asc("term"))
    )


SQL_EF_VS_VARINT = f"""
WITH postings AS (
  SELECT DISTINCT term, doc_id FROM (
    SELECT doc_id,
           unnest(regexp_extract_all(lower(text), '{TOKEN_RUN}')) AS term
    FROM documents
  )
),
dfreq AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM postings GROUP BY term
),
top AS (
  SELECT term, df FROM (
    SELECT *, row_number() OVER (ORDER BY df DESC, term) AS rn FROM dfreq)
  WHERE rn <= {EF_TOP_TERMS}
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS u FROM documents),
deltas AS (
  SELECT p.term,
         CAST(1 + (length(bin(COALESCE(
                 p.doc_id - lag(p.doc_id)
                   OVER (PARTITION BY p.term ORDER BY p.doc_id),
                 p.doc_id + 1))) - 1) // 7 AS BIGINT) AS vbytes
  FROM postings p JOIN top USING (term)
),
vag AS (
  SELECT term, CAST(sum(vbytes) AS BIGINT) AS varint_bytes
  FROM deltas GROUP BY term
),
sized AS (
  SELECT t.term, t.df, nn.u AS universe,
         greatest(CAST(0 AS BIGINT),
                  CAST(length(bin(nn.u // t.df)) - 1 AS BIGINT)) AS l,
         CAST(v.varint_bytes * 8 AS BIGINT) AS varint_bits
  FROM top t JOIN vag v USING (term), nn
)
SELECT term, df, universe, l,
       CAST(df * l + df + universe // (CAST(1 AS BIGINT) << l) AS BIGINT)
         AS ef_bits,
       varint_bits,
       round(CAST(df * l + df + universe // (CAST(1 AS BIGINT) << l)
                  AS DOUBLE) / CAST(df AS DOUBLE), 6) AS ef_bits_per_posting,
       round(CAST(varint_bits AS DOUBLE) / CAST(df AS DOUBLE), 6)
         AS varint_bits_per_posting
FROM sized
ORDER BY df DESC, term
"""


# --------------------------------------------------------------------------
# Shannon-code audit of the event-type alphabet: integer code lengths
# l = ceil(log2(N/c)) computed EXACTLY as bitlen(ceil(N/c) - 1) (binary
# string length — no float log; the identity holds because powers of two
# are integers), the Kraft sum as an exact shifted-integer rational, the
# expected code length, and the entropy lower bound via per-type
# fixed6-rounded ln (lexical_diversity discipline) — the redundancy gap
# an encoding chooser reads next to encoding_audit's RLE table.
# --------------------------------------------------------------------------
def q_shannon_code(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _read(spark, sf_dir, "events")
    cnt = events.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    tot = cnt.agg(
        F.sum("c").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
    )
    j = cnt.crossJoin(F.broadcast(tot))
    cl = F.expr("(n + c - 1) DIV c")
    l = F.when(cl == 1, F.lit(0).cast("long")).otherwise(
        F.length(F.bin(cl - 1)).cast("long")
    )
    e6 = F.round(
        F.log(F.col("n").cast("double") / F.col("c").cast("double"))
        * F.lit(1000000.0),
        0,
    ).cast("long")
    typed = j.select(
        "c",
        "n",
        "n_types",
        l.alias("l"),
        (F.col("c") * l).cast("long").alias("cl_sum"),
        (F.col("c") * e6).cast("long").alias("ce6"),
    )
    lm = typed.agg(F.max("l").cast("long").alias("lmax"))
    k = typed.crossJoin(F.broadcast(lm)).select(
        "n",
        "n_types",
        "cl_sum",
        "ce6",
        "lmax",
        F.expr(
            "shiftleft(CAST(1 AS BIGINT), CAST(lmax - l AS INT))"
        ).alias("kterm"),
    )
    agg = k.groupBy("n", "n_types", "lmax").agg(
        F.sum("cl_sum").cast("long").alias("scl"),
        F.sum("ce6").cast("long").alias("sce6"),
        F.sum("kterm").cast("long").alias("skraft"),
    )
    nd = F.col("n").cast("double")
    exp_len = F.col("scl").cast("double") / nd
    ent = (
        F.col("sce6").cast("double")
        / F.lit(1000000.0)
        / nd
        / F.lit(math.log(2.0))
    )
    return agg.select(
        "n_types",
        F.col("n").alias("n_events"),
        "lmax",
        F.round(exp_len, 6).alias("expected_len_bits"),
        F.round(ent, 6).alias("entropy_bits"),
        F.round(exp_len - ent, 6).alias("redundancy_bits"),
        F.round(
            F.col("skraft").cast("double")
            / F.expr(
                "CAST(shiftleft(CAST(1 AS BIGINT), CAST(lmax AS INT))"
                " AS DOUBLE)"
            ),
            6,
        ).alias("kraft_sum"),
    )


SQL_SHANNON_CODE = f"""
WITH cnt AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY event_type
),
tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS n_types
  FROM cnt
),
typed AS (
  SELECT c, n, n_types,
         CAST(CASE WHEN (n + c - 1) // c = 1 THEN 0
                   ELSE length(bin((n + c - 1) // c - 1)) END
              AS BIGINT) AS l,
         CAST(round(ln(CAST(n AS DOUBLE) / CAST(c AS DOUBLE))
                    * 1000000.0) AS BIGINT) AS e6
  FROM cnt, tot
),
lm AS (SELECT CAST(max(l) AS BIGINT) AS lmax FROM typed),
agg AS (
  SELECT n, n_types, lmax,
         CAST(sum(c * l) AS BIGINT) AS scl,
         CAST(sum(c * e6) AS BIGINT) AS sce6,
         CAST(sum(CAST(1 AS BIGINT) << CAST(lmax - l AS INT)) AS BIGINT)
           AS skraft
  FROM typed, lm
  GROUP BY n, n_types, lmax
)
SELECT n_types, n AS n_events, lmax,
       round(CAST(scl AS DOUBLE) / CAST(n AS DOUBLE), 6)
         AS expected_len_bits,
       round(CAST(sce6 AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE)
             / CAST('{LN2_STR}' AS DOUBLE), 6) AS entropy_bits,
       round(CAST(scl AS DOUBLE) / CAST(n AS DOUBLE)
             - CAST(sce6 AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE)
               / CAST('{LN2_STR}' AS DOUBLE), 6) AS redundancy_bits,
       round(CAST(skraft AS DOUBLE)
             / CAST(CAST(1 AS BIGINT) << CAST(lmax AS INT) AS DOUBLE), 6)
         AS kraft_sum
FROM agg
"""


# --------------------------------------------------------------------------
# Golomb-Rice parameter sweep for posting-list deltas (Rice 1971; the
# Golomb-vs-varint decision ef_vs_varint leaves open): for the 10
# highest-DF terms and every k in 0..7, the exact coded size is
# sum(delta >> k) + n*(1+k) bits (unary quotient + stop bit + k
# remainder bits) — pure BIGINT shift arithmetic, no entropy estimate.
# The per-term argmin k (bits asc, k asc tiebreak) lands within one bit
# per posting of the Shannon bound for geometric gaps; varint bits ride
# along for the three-way comparison.
# --------------------------------------------------------------------------
RICE_TOP_TERMS = 10
RICE_KS = tuple(range(8))


def q_rice_param(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RUN), F.lit(0))
        ).alias("term"),
    )
    postings = toks.groupBy("term", "doc_id").agg(F.lit(1).alias("_one"))
    dfreq = postings.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    wtop = Window.orderBy(F.desc("df"), F.asc("term"))
    top = (
        dfreq.withColumn("_rn", F.row_number().over(wtop))
        .filter(F.col("_rn") <= RICE_TOP_TERMS)
        .select("term", "df")
    )
    wt = Window.partitionBy("term").orderBy("doc_id")
    deltas = (
        postings.join(F.broadcast(top.select("term")), "term")
        .withColumn(
            "delta",
            F.coalesce(
                F.col("doc_id") - F.lag("doc_id").over(wt),
                F.col("doc_id") + 1,
            ).cast("long"),
        )
        .select(
            "term",
            "delta",
            (
                F.lit(1)
                + F.floor(
                    (F.length(F.bin(F.col("delta"))) - 1) / F.lit(7)
                )
            )
            .cast("long")
            .alias("vbytes"),
        )
        .localCheckpoint(eager=True)
    )
    vag = deltas.groupBy("term").agg(
        (F.sum("vbytes") * 8).cast("long").alias("varint_bits")
    )
    grid = spark.createDataFrame([(k,) for k in RICE_KS], "k int")
    costs = (
        deltas.crossJoin(F.broadcast(grid))
        .select(
            "term",
            "k",
            F.expr("shiftright(delta, k)").cast("long").alias("q"),
        )
        .groupBy("term", "k")
        .agg(
            F.sum("q").cast("long").alias("sq"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .select(
            "term",
            "k",
            (F.col("sq") + F.col("n") * (1 + F.col("k")))
            .cast("long")
            .alias("bits"),
        )
    )
    wbest = Window.partitionBy("term").orderBy(
        F.asc("bits"), F.asc("k")
    )
    best = (
        costs.withColumn("_rn", F.row_number().over(wbest))
        .filter(F.col("_rn") == 1)
        .select("term", F.col("k").cast("long").alias("best_k"), "bits")
    )
    return (
        top.join(best, "term")
        .join(vag, "term")
        .select(
            "term",
            "df",
            "best_k",
            F.col("bits").alias("rice_bits"),
            "varint_bits",
            F.round(
                F.col("bits").cast("double") / F.col("df").cast("double"), 6
            ).alias("rice_bits_per_posting"),
            F.round(
                F.col("varint_bits").cast("double")
                / F.col("df").cast("double"),
                6,
            ).alias("varint_bits_per_posting"),
        )
        .orderBy(F.desc("df"), F.asc("term"))
    )


SQL_RICE_PARAM = f"""
WITH postings AS (
  SELECT DISTINCT term, doc_id FROM (
    SELECT doc_id,
           unnest(regexp_extract_all(lower(text), '{TOKEN_RUN}')) AS term
    FROM documents
  )
),
dfreq AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM postings GROUP BY term
),
top AS (
  SELECT term, df FROM (
    SELECT *, row_number() OVER (ORDER BY df DESC, term) AS rn FROM dfreq)
  WHERE rn <= {RICE_TOP_TERMS}
),
deltas AS (
  SELECT p.term,
         COALESCE(p.doc_id - lag(p.doc_id)
                    OVER (PARTITION BY p.term ORDER BY p.doc_id),
                  p.doc_id + 1) AS delta
  FROM postings p JOIN top USING (term)
),
vag AS (
  SELECT term,
         CAST(sum(1 + (length(bin(delta)) - 1) // 7) * 8 AS BIGINT)
           AS varint_bits
  FROM deltas GROUP BY term
),
costs AS (
  SELECT term, k,
         CAST(sum(delta >> k) + count(*) * (1 + k) AS BIGINT) AS bits
  FROM deltas, (SELECT unnest(range({len(RICE_KS)})) AS k) g
  GROUP BY term, k
),
best AS (
  SELECT term, CAST(k AS BIGINT) AS best_k, bits FROM (
    SELECT *, row_number()
        OVER (PARTITION BY term ORDER BY bits ASC, k ASC) AS rn
    FROM costs)
  WHERE rn = 1
)
SELECT t.term, t.df, b.best_k, b.bits AS rice_bits, v.varint_bits,
       round(CAST(b.bits AS DOUBLE) / CAST(t.df AS DOUBLE), 6)
         AS rice_bits_per_posting,
       round(CAST(v.varint_bits AS DOUBLE) / CAST(t.df AS DOUBLE), 6)
         AS varint_bits_per_posting
FROM top t JOIN best b USING (term) JOIN vag v USING (term)
ORDER BY df DESC, term
"""


# --------------------------------------------------------------------------
# Consistent-hash ring rebalance proof (Karger et al. 1997) — the
# alternative to shard_rebalance's mod-N story: 4 shards x 32 vnodes on
# the md5 ring (lexicographic hex order IS the ring order — invariant 2,
# no numeric conversion needed), sampled customer keys route to the
# first vnode clockwise (min position >= key hash, wrapping to the
# global min). Adding shard 4 re-routes ONLY keys that land on the new
# shard: the per-shard report shows n_before/n_after/gained with
# gained = 0 for every old shard — the property that makes ring hashing
# the scale answer. All counts exact; shares one divide each.
# --------------------------------------------------------------------------
HASHRING_VNODES = 32
HASHRING_SHARDS = 4


def _ring_assign(spark: SparkSession, keys: DataFrame, n_shards: int):
    vn = spark.createDataFrame(
        [(s, v) for s in range(n_shards) for v in range(HASHRING_VNODES)],
        "shard int, v int",
    )
    ring = vn.select(
        F.col("shard").cast("long").alias("shard"),
        F.md5(
            F.concat(
                F.lit("shard:"),
                F.col("shard").cast("string"),
                F.lit(":"),
                F.col("v").cast("string"),
            )
        ).alias("pos"),
    )
    gmin = ring.agg(F.min("pos").alias("_g"))
    cand = (
        keys.crossJoin(F.broadcast(ring))
        .groupBy("key", "kh")
        .agg(
            F.min(
                F.when(F.col("pos") >= F.col("kh"), F.col("pos"))
            ).alias("_c")
        )
    )
    owner_pos = cand.crossJoin(F.broadcast(gmin)).select(
        "key", F.coalesce("_c", "_g").alias("pos")
    )
    return owner_pos.join(F.broadcast(ring), "pos").select("key", "shard")


def q_hash_ring(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _read(spark, sf_dir, "customer").filter(
        F.col("c_custkey") % 20 == 0
    )
    keys = cust.select(
        F.col("c_custkey").cast("long").alias("key"),
        F.md5(
            F.concat(F.lit("key:"), F.col("c_custkey").cast("string"))
        ).alias("kh"),
    ).localCheckpoint(eager=True)
    n_keys = scalar_count(keys, as_double=False)
    before = _ring_assign(spark, keys, HASHRING_SHARDS).withColumnRenamed(
        "shard", "s_before"
    )
    after = _ring_assign(spark, keys, HASHRING_SHARDS + 1).withColumnRenamed(
        "shard", "s_after"
    )
    j = before.join(after, "key")
    return (
        j.groupBy(F.col("s_after").alias("shard"))
        .agg(
            F.sum((F.col("s_before") == F.col("s_after")).cast("long"))
            .cast("long")
            .alias("kept"),
            F.sum((F.col("s_before") != F.col("s_after")).cast("long"))
            .cast("long")
            .alias("gained"),
            F.count(F.lit(1)).cast("long").alias("n_after"),
        )
        .crossJoin(F.broadcast(n_keys))
        .select(
            "shard",
            "kept",
            "gained",
            "n_after",
            F.round(
                F.col("n_after").cast("double") / F.col("_n").cast("double"),
                6,
            ).alias("share_after"),
        )
        .orderBy("shard")
    )


def _ring_cte(tag: str, n_shards: int) -> str:
    return f"""
ring_{tag} AS (
  SELECT CAST(s AS BIGINT) AS shard,
         md5('shard:' || CAST(s AS VARCHAR) || ':' || CAST(v AS VARCHAR))
           AS pos
  FROM (SELECT unnest(range({n_shards})) AS s) ss,
       (SELECT unnest(range({HASHRING_VNODES})) AS v) vv
),
gmin_{tag} AS (SELECT min(pos) AS g FROM ring_{tag}),
own_{tag} AS (
  SELECT k.key,
         COALESCE(min(CASE WHEN r.pos >= k.kh THEN r.pos END),
                  (SELECT g FROM gmin_{tag})) AS pos
  FROM keys k CROSS JOIN ring_{tag} r
  GROUP BY k.key, k.kh
),
asg_{tag} AS (
  SELECT o.key, r.shard FROM own_{tag} o JOIN ring_{tag} r USING (pos)
)
"""


SQL_HASH_RING = f"""
WITH keys AS (
  SELECT CAST(c_custkey AS BIGINT) AS key,
         md5('key:' || CAST(c_custkey AS VARCHAR)) AS kh
  FROM customer WHERE c_custkey % 20 = 0
),
nk AS (SELECT CAST(count(*) AS BIGINT) AS n FROM keys),
{_ring_cte("a", HASHRING_SHARDS)},
{_ring_cte("b", HASHRING_SHARDS + 1)}
SELECT b.shard,
       CAST(sum(CASE WHEN a.shard = b.shard THEN 1 ELSE 0 END) AS BIGINT)
         AS kept,
       CAST(sum(CASE WHEN a.shard <> b.shard THEN 1 ELSE 0 END) AS BIGINT)
         AS gained,
       CAST(count(*) AS BIGINT) AS n_after,
       round(CAST(count(*) AS DOUBLE) / CAST(nk.n AS DOUBLE), 6)
         AS share_after
FROM asg_a a JOIN asg_b b USING (key), nk
GROUP BY b.shard, nk.n
ORDER BY b.shard
"""


# --------------------------------------------------------------------------
# LRU stack-distance curve over per-user event-type streams (Mattson et
# al. 1970): for every reuse of a type, the number of DISTINCT other
# types touched since its previous access; the cumulative histogram IS
# the LRU hit-rate-vs-capacity curve (inclusion property — one pass
# prices every cache size). Distances come from a bounded interval
# self-join (fan-out = sum of same-type gaps ≈ |alphabet| x events, not
# events²) with the two-phase distinct discipline; first accesses are
# compulsory misses. All counts exact; hit rates single divides.
# --------------------------------------------------------------------------
def q_stack_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _read(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "user_id",
        "event_type",
        F.row_number().over(wu).cast("long").alias("rn"),
    ).localCheckpoint(eager=True)
    wt = Window.partitionBy("user_id", "event_type").orderBy("rn")
    reuse = seq.select(
        "user_id",
        F.col("rn").alias("r2"),
        F.lag("rn").over(wt).alias("r1"),
    ).filter(F.col("r1").isNotNull())
    mid = seq.select(
        F.col("user_id").alias("u2"),
        F.col("rn").alias("rm"),
        F.col("event_type").alias("tm"),
    )
    between = (
        reuse.join(
            mid,
            (F.col("u2") == F.col("user_id"))
            & (F.col("rm") > F.col("r1"))
            & (F.col("rm") < F.col("r2")),
            "left",
        )
        .groupBy("user_id", "r2", "tm")
        .agg(F.lit(1).alias("_o"))
        .groupBy("user_id", "r2")
        .agg(
            F.sum(F.col("tm").isNotNull().cast("long"))
            .cast("long")
            .alias("d")
        )
    )
    n_acc = scalar_count(seq, as_double=False)
    hist = between.groupBy("d").agg(
        F.count(F.lit(1)).cast("long").alias("n_reuses")
    )
    wcum = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        hist.withColumn(
            "cum", F.sum("n_reuses").over(wcum).cast("long")
        )
        .crossJoin(F.broadcast(n_acc))
        .select(
            F.col("d").alias("distance"),
            "n_reuses",
            (F.col("d") + 1).cast("long").alias("capacity"),
            F.round(
                F.col("cum").cast("double") / F.col("_n").cast("double"),
                6,
            ).alias("hit_rate"),
        )
        .orderBy("distance")
    )


SQL_STACK_DISTANCE = """
WITH seq AS (
  SELECT user_id, event_type,
         CAST(row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS BIGINT) AS rn
  FROM events
),
reuse AS (
  SELECT user_id, rn AS r2,
         lag(rn) OVER (PARTITION BY user_id, event_type ORDER BY rn) AS r1
  FROM seq
  QUALIFY r1 IS NOT NULL
),
between_types AS (
  SELECT r.user_id, r.r2, m.event_type AS tm
  FROM reuse r
  LEFT JOIN seq m ON m.user_id = r.user_id
                 AND m.rn > r.r1 AND m.rn < r.r2
  GROUP BY r.user_id, r.r2, m.event_type
),
dists AS (
  SELECT user_id, r2,
         CAST(sum(CASE WHEN tm IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS d
  FROM between_types GROUP BY user_id, r2
),
na AS (SELECT CAST(count(*) AS BIGINT) AS n FROM seq),
hist AS (
  SELECT d, CAST(count(*) AS BIGINT) AS n_reuses FROM dists GROUP BY d
)
SELECT d AS distance, n_reuses,
       CAST(d + 1 AS BIGINT) AS capacity,
       round(CAST(CAST(sum(n_reuses) OVER (ORDER BY d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS DOUBLE) / CAST(na.n AS DOUBLE), 6)
         AS hit_rate
FROM hist, na
ORDER BY distance
"""


QUERIES = {
    "block_max_scores": q_block_max_scores,
    "codec_compare": q_codec_compare,
    "crawl_schedule": q_crawl_schedule,
    "dict_frontcoding": q_dict_frontcoding,
    "ef_vs_varint": q_ef_vs_varint,
    "gap_histogram": q_gap_histogram,
    "hash_ring": q_hash_ring,
    "impact_quantization": q_impact_quantization,
    "oov_rate": q_oov_rate,
    "postings_bytes": q_postings_bytes,
    "prefix_complete": q_prefix_complete,
    "query_cache_model": q_query_cache_model,
    "rice_param": q_rice_param,
    "selectivity_estimates": q_selectivity_estimates,
    "shannon_code": q_shannon_code,
    "shard_balance": q_shard_balance,
    "shard_rebalance": q_shard_rebalance,
    "spellcheck_candidates": q_spellcheck_candidates,
    "stack_distance": q_stack_distance,
    "standing_alerts": q_standing_alerts,
    "tiered_index": q_tiered_index,
    "vocab_pruning": q_vocab_pruning,
    "word_source_merge": q_word_source_merge,
}

ORACLES = {
    "block_max_scores": SQL_BLOCK_MAX_SCORES,
    "codec_compare": SQL_CODEC_COMPARE,
    "crawl_schedule": SQL_CRAWL_SCHEDULE,
    "dict_frontcoding": SQL_DICT_FRONTCODING,
    "ef_vs_varint": SQL_EF_VS_VARINT,
    "gap_histogram": SQL_GAP_HISTOGRAM,
    "hash_ring": SQL_HASH_RING,
    "impact_quantization": SQL_IMPACT_QUANTIZATION,
    "oov_rate": SQL_OOV_RATE,
    "postings_bytes": SQL_POSTINGS_BYTES,
    "prefix_complete": SQL_PREFIX_COMPLETE,
    "query_cache_model": SQL_QUERY_CACHE_MODEL,
    "rice_param": SQL_RICE_PARAM,
    "selectivity_estimates": SQL_SELECTIVITY_ESTIMATES,
    "shannon_code": SQL_SHANNON_CODE,
    "shard_balance": SQL_SHARD_BALANCE,
    "shard_rebalance": SQL_SHARD_REBALANCE,
    "spellcheck_candidates": SQL_SPELLCHECK_CANDIDATES,
    "stack_distance": SQL_STACK_DISTANCE,
    "standing_alerts": SQL_STANDING_ALERTS,
    "tiered_index": SQL_TIERED_INDEX,
    "vocab_pruning": SQL_VOCAB_PRUNING,
    "word_source_merge": SQL_WORD_SOURCE_MERGE,
}
