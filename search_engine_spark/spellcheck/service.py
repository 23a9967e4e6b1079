"""Spellcheck service: dictionary build + in-memory candidate generation.

The reference generates candidates with a pg_trgm LATERAL join per suspect
word (``app/api/main.py:36-56``): length band +-2, trigram-similar,
popularity >= 2.0, top-120 by (similarity DESC, popularity DESC). pg_trgm
semantics: the word padded with two leading and one trailing space,
distinct trigrams, similarity |intersection| / |union|.

The dictionary is built as a DataFrame (``build_dictionary``).
``SpellcheckService`` collects it once, at open, and serves every suggest
from a trigram -> words inverted list held in driver memory: the shared
trigram count of each candidate comes from walking the suspect word's
trigram lists, so a suggest runs no Spark job. ``trigram_candidates`` is
the same computation as a Spark join (broadcast suspects, window top-k:
the J7/T5 shape from SURVEY.md §2.3/§2.5), kept for the operator pair.
The final choose/apply stage is driver-side on <= 120 rows/word, exactly
like the reference.
"""

from __future__ import annotations

import dataclasses

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..stopwords import STOPWORDS
from .engine import (
    TRUSTED_POPULARITY,
    WORD_RE,
    DictEntry,
    apply_case,
    choose_correction,
    normalize_word,
)

MIN_CANDIDATE_POPULARITY = 2.0  # main.py:68
MAX_CANDIDATES_PER_WORD = 120  # main.py:69
# SpellcheckService holds the whole dictionary in driver memory: entries +
# trigram lists measured 0.26-0.53 KB per word (tracemalloc), so this budget
# stays under ~0.5 GB
MAX_DICTIONARY_WORDS = 1_000_000

# pg_trgm-style padded trigram set: '  ' + word + ' '
_TRIGRAMS = (
    "array_distinct(transform(sequence(1, length({p}) - 2),"
    " i -> substring({p}, i, 3)))"
)


def _trigram_col(col: str) -> F.Column:
    padded = f"concat('  ', {col}, ' ')"
    return F.expr(_TRIGRAMS.format(p=padded))


def _trigrams(word: str) -> set[str]:
    """``_trigram_col`` in Python: distinct trigrams of '  ' + word + ' '."""
    p = f"  {word} "
    return {p[i : i + 3] for i in range(len(p) - 2)}


def build_dictionary(documents: DataFrame, text_cols: tuple[str, ...] = ("title", "description", "content")) -> DataFrame:
    """(word, doc_frequency, total_frequency, external_frequency,
    popularity_score) — regex word mining over the doc corpus
    (``spellcheck_dictionary.py:124-147``; external frequencies = 0 absent
    the wordlist fixture) + popularity (``engine.py:103-108``)."""
    present = [c for c in text_cols if c in documents.columns]
    blob = F.lower(F.concat_ws(" ", *present))
    words = documents.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(blob, F.lit("[a-z]{2,32}"), F.lit(0))
        ).alias("word"),
    )
    # two-phase exact distinct: first shuffle on the uniform (word, doc_id)
    # key, then count collapsed pairs — head words never bottleneck one
    # reducer (see operators/term_stats.py)
    per_doc = words.groupBy("word", "doc_id").agg(
        F.count(F.lit(1)).alias("tf_doc")
    )
    agg = per_doc.groupBy("word").agg(
        F.count(F.lit(1)).alias("doc_frequency"),
        F.sum("tf_doc").alias("total_frequency"),
    )
    pop = (
        F.log1p(F.col("doc_frequency").cast("double")) * 4.0
        + F.log1p(F.col("total_frequency").cast("double")) * 2.0
    )
    return agg.select(
        "word",
        "doc_frequency",
        "total_frequency",
        F.lit(0).alias("external_frequency"),
        pop.alias("popularity_score"),
    )


def trigram_candidates(
    dictionary: DataFrame,
    suspect_words: list[str],
    min_popularity: float = MIN_CANDIDATE_POPULARITY,
    limit: int = MAX_CANDIDATES_PER_WORD,
) -> DataFrame:
    """(input_word, word, similarity, doc_frequency, total_frequency,
    external_frequency, popularity_score) — per-suspect top-``limit``.

    Broadcast similarity join (J7) + per-input window top-k (T5): length
    band GREATEST(2, len-2)..len+2, pg_trgm similarity > 0, popularity
    floor, ORDER BY similarity DESC, popularity DESC (word ASC appended
    for a deterministic total order — Postgres leaves this tie unordered).
    """
    spark = dictionary.sparkSession
    # DISTINCT inputs (main.py:38-39): a word repeated in the query must not
    # duplicate candidate rows — row_number would count each candidate k
    # times and the top-`limit` cut would keep only ~limit/k distinct words
    distinct_words = sorted({normalize_word(w) for w in suspect_words})
    inputs = spark.createDataFrame(
        [(w,) for w in distinct_words], "input_word string"
    ).withColumn("_tg_i", _trigram_col("input_word"))
    dic = dictionary.withColumn("_tg_w", _trigram_col("word"))
    joined = (
        dic.join(F.broadcast(inputs))
        .filter(
            (F.col("popularity_score") >= min_popularity)
            & (
                F.length("word").between(
                    F.greatest(F.lit(2), F.length("input_word") - 2),
                    F.length("input_word") + 2,
                )
            )
        )
        .withColumn("_n_inter", F.size(F.array_intersect("_tg_w", "_tg_i")))
        .filter(F.col("_n_inter") > 0)
        .withColumn(
            "similarity",
            F.col("_n_inter")
            / (F.size("_tg_w") + F.size("_tg_i") - F.col("_n_inter")),
        )
    )
    w = Window.partitionBy("input_word").orderBy(
        F.desc("similarity"), F.desc("popularity_score"), F.asc("word")
    )
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= limit)
        .select(
            "input_word",
            "word",
            "similarity",
            "doc_frequency",
            "total_frequency",
            "external_frequency",
            "popularity_score",
        )
    )


def merge_frequency_sources(
    doc_words: DataFrame,
    news_words: DataFrame | None = None,
    external_words: DataFrame | None = None,
) -> DataFrame:
    """A10/U4: key-set union of the three frequency sources
    (``spellcheck_dictionary.py:151-194``), then the full popularity
    formula log1p(df)*4 + log1p(tf)*2 + log1p(ext)*3 (``engine.py:103-108``).

    doc_words: (word, doc_frequency, total_frequency); news_words:
    (word, total_frequency) — added into total_frequency like the
    reference's news corpus; external_words: (word, external_frequency).

    Shape: the reference spells this as two sequential ``FULL OUTER JOIN``s;
    here it is a 4-column union + one groupBy-sum instead. Semantically
    identical on per-word-unique inputs (each source contributes one row per
    word, so SUM over the union equals COALESCE over the joins), and
    strictly cheaper: a keyed full-outer join cannot broadcast, so even a
    4-row external list forced a full shuffle join of the merged relation —
    twice. The union shape is ONE shuffle with map-side partial aggregation
    (r02: 0.76 s -> 4.77 s regression traced to the double full-outer).
    """
    zero = F.lit(0).cast("long")
    parts = [
        doc_words.select(
            "word",
            F.col("doc_frequency").cast("long").alias("_df"),
            F.col("total_frequency").cast("long").alias("_tf"),
            zero.alias("_ext"),
        )
    ]
    if news_words is not None:
        parts.append(
            news_words.select(
                "word",
                zero.alias("_df"),
                F.col("total_frequency").cast("long").alias("_tf"),
                zero.alias("_ext"),
            )
        )
    if external_words is not None:
        parts.append(
            external_words.select(
                "word",
                zero.alias("_df"),
                zero.alias("_tf"),
                F.col("external_frequency").cast("long").alias("_ext"),
            )
        )
    unioned = parts[0]
    for p in parts[1:]:
        unioned = unioned.unionByName(p)
    # coalesce: a source row carrying a NULL count must merge as 0, like
    # the COALESCE in the reference's joined spelling (sum of an all-NULL
    # group is NULL, and log1p(NULL) would null the popularity score)
    merged = unioned.groupBy("word").agg(
        F.coalesce(F.sum("_df"), F.lit(0)).alias("doc_frequency"),
        F.coalesce(F.sum("_tf"), F.lit(0)).alias("total_frequency"),
        F.coalesce(F.sum("_ext"), F.lit(0)).alias("external_frequency"),
    )
    pop = (
        F.log1p(F.col("doc_frequency").cast("double")) * 4.0
        + F.log1p(F.col("total_frequency").cast("double")) * 2.0
        + F.log1p(F.col("external_frequency").cast("double")) * 3.0
    )
    return merged.withColumn("popularity_score", pop)


def load_external_wordlist(spark: SparkSession, path: str) -> DataFrame:
    """S8 analog: static word-frequency file -> (word, external_frequency).

    The reference fetches two HTTP wordlists at build time
    (``spellcheck_dictionary.py:32-110``) — a reproducibility hazard; here
    the list is a vendored fixture read with spark.read (no network).
    Format: ``word<TAB>count`` per line; malformed lines dropped.
    """
    lines = spark.read.text(path)
    parts = F.split(F.col("value"), "\t")
    return (
        lines.select(
            F.lower(F.trim(F.get(parts, 0))).alias("word"),
            F.get(parts, 1).cast("long").alias("external_frequency"),
        )
        .filter(
            F.col("word").rlike("^[a-z]{2,32}$")
            & F.col("external_frequency").isNotNull()
        )
        .groupBy("word")
        .agg(F.sum("external_frequency").alias("external_frequency"))
    )


class SpellcheckService:
    """suggest(q) -> corrected query string or None (main.py:97-197).

    Opening collects the whole dictionary (at most ``MAX_DICTIONARY_WORDS``
    rows) into ``word -> DictEntry`` and indexes the words at or above the
    popularity floor by trigram. Known-word lookup and candidate generation
    then read only these structures, which never change after open.
    """

    def __init__(self, spark: SparkSession, dictionary: DataFrame):
        fields = [f.name for f in dataclasses.fields(DictEntry)]
        table = dictionary.select(*fields).limit(MAX_DICTIONARY_WORDS + 1).toArrow()
        if table.num_rows > MAX_DICTIONARY_WORDS:
            raise ValueError(
                "spellcheck dictionary has more than MAX_DICTIONARY_WORDS = "
                f"{MAX_DICTIONARY_WORDS} words; it must fit in driver memory"
            )
        self._entries: dict[str, DictEntry] = {
            row[0]: DictEntry(*row)
            for row in zip(*(table.column(f).to_pylist() for f in fields))
        }
        # trigram -> words holding it, and each word's trigram count, over
        # the words eligible as candidates
        self._words_by_trigram: dict[str, list[str]] = {}
        self._n_trigrams: dict[str, int] = {}
        for w, e in self._entries.items():
            if e.popularity_score < MIN_CANDIDATE_POPULARITY:
                continue
            grams = _trigrams(w)
            self._n_trigrams[w] = len(grams)
            for g in grams:
                self._words_by_trigram.setdefault(g, []).append(w)

    def candidates(self, word: str) -> list[tuple[DictEntry, float]]:
        """(entry, similarity) top-``MAX_CANDIDATES_PER_WORD`` for ``word``,
        ranked by (similarity DESC, popularity DESC, word ASC): the rows
        ``trigram_candidates`` keeps for it."""
        w = normalize_word(word)
        grams = _trigrams(w)
        shared: dict[str, int] = {}
        for g in grams:
            for cand in self._words_by_trigram.get(g, ()):
                shared[cand] = shared.get(cand, 0) + 1
        lo, hi = max(2, len(w) - 2), len(w) + 2
        ranked = sorted(
            (
                -(n / (len(grams) + self._n_trigrams[cand] - n)),
                -self._entries[cand].popularity_score,
                cand,
            )
            for cand, n in shared.items()
            if lo <= len(cand) <= hi
        )
        return [
            (self._entries[cand], -neg_sim)
            for neg_sim, _, cand in ranked[:MAX_CANDIDATES_PER_WORD]
        ]

    def suggest(self, q: str) -> str | None:
        words = [normalize_word(w) for w in WORD_RE.findall(q)]
        words = [w for w in words if w and w not in STOPWORDS]
        suspect = [
            w
            for w in words
            if not (
                w in self._entries
                and self._entries[w].popularity_score >= TRUSTED_POPULARITY
            )
        ]
        if not suspect:
            return None

        corrected: dict[str, str] = {}
        for w in suspect:
            best = choose_correction(
                w, self._entries.get(w), (e for e, _ in self.candidates(w))
            )
            if best:
                corrected[w] = best
        if not corrected:
            return None

        def _replace(m) -> str:
            token = m.group(0)
            repl = corrected.get(token.lower())
            return apply_case(token, repl) if repl else token

        suggestion = WORD_RE.sub(_replace, q)
        return None if suggestion == q else suggestion
