"""Seeded workload inputs.

Everything a run feeds the library comes from here and depends only on the
``--seed`` argument (plus, for queries, on the index the seed's corpus
produced): the pages corpora with re-crawls, the ingest micro-batch, the
Zipf query mix, the one-edit misspellings and the deep-list token table.
The same seed always gives the same inputs.
"""

from __future__ import annotations

import bisect
import dataclasses
import random
from datetime import timedelta

from search_engine_spark.corpus import FIXED_NOW, generate_pages

RECRAWL_SHARE = 0.03
ZIPF_S = 1.1
ZIPF_STRATA = 8
# the serve warm-up draws from this fixed seed whatever --seed is
WARMUP_SEED = 0


def _rng(seed: int, stream: str) -> random.Random:
    # one independent stream per input kind, so resizing one input never
    # reshuffles another
    return random.Random(f"{seed}:{stream}")


def _recrawl(rec, donor, hours: int):
    """The page at ``rec.url`` fetched again later, now carrying the donor's
    content (an update that is also an exact duplicate of the donor)."""
    return dataclasses.replace(
        rec,
        warc_ts=FIXED_NOW + timedelta(hours=hours),
        html=donor.html,
        text=donor.text,
        title=donor.title,
        description=donor.description,
        raw_links=donor.raw_links,
        published_at_meta=donor.published_at_meta,
        updated_at_meta=donor.updated_at_meta,
        is_valid_expected=donor.is_valid_expected,
    )


def pages_corpus(seed: int, n_pages: int) -> list:
    """``generate_pages`` plus ~3 % re-crawls of earlier urls, so upsert-by-url
    and exact dedup both have work to do."""
    rng = _rng(seed, "pages")
    records = generate_pages(n_pages=n_pages, seed=rng.randrange(1 << 30))
    n_re = max(1, int(n_pages * RECRAWL_SHARE))
    for i in range(n_re):
        rec = records[rng.randrange(n_pages)]
        donor = records[rng.randrange(n_pages)]
        records.append(_recrawl(rec, donor, hours=1 + i))
    return records


def ingest_split(seed: int, records: list, batch_pages: int) -> tuple[list, list]:
    """(base, batch): the batch holds ``batch_pages`` pages, three quarters
    new urls taken off the end of ``records`` and one quarter re-crawls of
    base urls."""
    rng = _rng(seed, "ingest")
    n_new = batch_pages - batch_pages // 4
    base, new = records[:-n_new], records[-n_new:]
    recrawls = [
        _recrawl(base[rng.randrange(len(base))], new[rng.randrange(n_new)], hours=100 + i)
        for i in range(batch_pages - n_new)
    ]
    return base, new + recrawls


def latest_by_url(records: list) -> list:
    """Python twin of ``operators.documents.latest_by_url``: per url the
    greatest warc_ts wins, ties broken by the greater html."""
    best: dict = {}
    for r in records:
        cur = best.get(r.url)
        if cur is None or (r.warc_ts, r.html) > (cur.warc_ts, cur.html):
            best[r.url] = r
    return list(best.values())


class _StratifiedZipf:
    """Zipf draws by inverse CDF, with the uniform variate stratified: each
    block of ZIPF_STRATA draws takes every stratum once, in a seeded order.
    Every block then covers head, body and tail alike, so two seeds send
    equally costly mixes while each draw stays Zipf-distributed."""

    def __init__(self, rng: random.Random, items: list) -> None:
        self.rng, self.items, self.n = rng, items, 0
        weights = [1.0 / (rank + 1) ** ZIPF_S for rank in range(len(items))]
        total, acc, self.cdf = sum(weights), 0.0, []
        for w in weights:
            acc += w / total
            self.cdf.append(acc)

    def __call__(self):
        if self.n % ZIPF_STRATA == 0:
            self.order = self.rng.sample(range(ZIPF_STRATA), ZIPF_STRATA)
        u = (self.order[self.n % ZIPF_STRATA] + self.rng.random()) / ZIPF_STRATA
        self.n += 1
        return self.items[min(bisect.bisect_left(self.cdf, u), len(self.items) - 1)]


def _misspell(rng: random.Random, word: str) -> str:
    """One edit: substitute, delete, insert or transpose one letter."""
    letters = "abcdefghijklmnopqrstuvwxyz"
    i = rng.randrange(1, len(word) - 1)
    kind = rng.randrange(4)
    if kind == 0:
        c = rng.choice([ch for ch in letters if ch != word[i]])
        return word[:i] + c + word[i + 1 :]
    if kind == 1:
        return word[:i] + word[i + 1 :]
    if kind == 2:
        return word[:i] + rng.choice(letters) + word[i:]
    if word[i] == word[i + 1]:
        return word[:i] + "q" + word[i + 1 :]
    return word[:i] + word[i + 1] + word[i] + word[i + 2 :]


def serve_ops(seed: int, terms_by_df: list[str], dict_words: list[str], n_ops: int) -> list[tuple]:
    """The serve mix: ``("search", q, limit, offset)`` and ``("suggest", q)``.

    The shape repeats on a fixed cycle so that every seed sends the same
    mix: every fifth op is a suggest; searches cycle through 1, 2, 2 and 3
    terms, and every fourth one pages past the first results. The seed
    picks the words, by stratified Zipf draws: search terms by
    document-frequency rank from the index's term_statistics, suggests as a
    one-edit misspelling of a popular dictionary word, every other one next
    to a correctly spelled second word.
    """
    rng = _rng(seed, "serve")
    term = _StratifiedZipf(rng, terms_by_df)
    word = _StratifiedZipf(rng, [w for w in dict_words if len(w) >= 5])
    ops: list[tuple] = []
    n_search = n_suggest = 0
    for i in range(n_ops):
        if i % 5 == 4:
            q = _misspell(rng, word())
            if n_suggest % 2:
                q = f"{q} {word()}"
            ops.append(("suggest", q))
            n_suggest += 1
            continue
        n_terms = (1, 2, 2, 3)[n_search % 4]
        q = " ".join(term() for _ in range(n_terms))
        offset = rng.choice((10, 20, 40)) if n_search % 4 == 1 else 0
        ops.append(("search", q, (10, 20)[n_search % 2], offset))
        n_search += 1
    return ops


# ---- deep-list corpus --------------------------------------------------------
# Built at the tokens level (the synthetic corpus bench.py uses for WAND
# depth): 50 common terms over ~14 % of documents each and 2,000 rare terms
# clustered by doc-id region, so the common posting lists span dozens of
# blocks and a rare+common query lets block-max WAND skip whole block runs.
DEEP_DOCS = 48_000
DEEP_TOKENS_PER_DOC = 24
DEEP_REGIONS = 10
DEEP_RARE_PER_REGION = 200
DEEP_COMMON = 50
DEEP_URL_PREFIX = "https://w.example/"


def deep_url(doc_id: int) -> str:
    return f"{DEEP_URL_PREFIX}{doc_id}"


def deep_tables(spark, seed: int):
    """(documents, tokens) DataFrames of the deep-list corpus."""
    from pyspark.sql import functions as F

    salt = F.lit(_rng(seed, "deep").randrange(1 << 30))
    region_size = DEEP_DOCS // DEEP_REGIONS
    base = spark.range(DEEP_DOCS).select(F.col("id").alias("doc_id"))
    docs = base.select(
        "doc_id",
        F.concat(F.lit("Doc "), "doc_id").alias("title"),
        F.lit("synthetic deep-list corpus").alias("description"),
        F.concat(F.lit(DEEP_URL_PREFIX), "doc_id").alias("url"),
    )
    tok = base.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(DEEP_TOKENS_PER_DOC - 1))).alias("j"),
    )
    h = F.xxhash64("doc_id", "j", salt)
    h2 = F.xxhash64("doc_id", "j", salt, F.lit(7))
    h3 = F.xxhash64("doc_id", "j", salt, F.lit(13))
    is_common = F.pmod(h, F.lit(10)) < 3
    region = F.floor(F.col("doc_id") / F.lit(region_size)).cast("int")
    common_term = F.concat(F.lit("c"), F.pmod(h2, F.lit(DEEP_COMMON)))
    rare_term = F.concat(
        F.lit("r"), region, F.lit("x"), F.pmod(h2, F.lit(DEEP_RARE_PER_REGION))
    )
    tokens = tok.select(
        "doc_id",
        F.when(is_common, common_term).otherwise(rare_term).alias("term"),
        F.when(is_common, F.lit(4))
        .when(F.pmod(h3, F.lit(3)) == 0, F.lit(1))
        .otherwise(F.lit(4))
        .cast("short")
        .alias("field"),
        F.when(
            is_common,
            F.when(F.pmod(h3, F.lit(5)) == 0, F.lit(2)).otherwise(F.lit(1)),
        )
        .otherwise(F.pmod(h3, F.lit(3)) + 1)
        .cast("int")
        .alias("frequency"),
    )
    return docs, tokens


def deep_queries(seed: int, n: int) -> list[str]:
    """The deep-list mix on a fixed cycle: rare+common, rare + two common,
    rare+common, common-only (half, a quarter, a quarter); the seed picks
    the terms."""
    rng = _rng(seed, "deep-queries")

    def rare() -> str:
        return f"r{rng.randrange(DEEP_REGIONS)}x{rng.randrange(DEEP_RARE_PER_REGION)}"

    def common() -> str:
        return f"c{rng.randrange(DEEP_COMMON)}"

    shapes = (
        lambda: f"{rare()} {common()}",
        lambda: f"{rare()} {common()} {common()}",
        lambda: f"{rare()} {common()}",
        common,
    )
    return [shapes[i % len(shapes)]() for i in range(n)]
