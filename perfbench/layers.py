"""Per-layer probes, run only with ``--trace 1``.

Each probe times one layer by calling that module's public functions
directly, on the run's own generated inputs, so the per-layer numbers come
from the benchmark's spans rather than from anything inside the library.
Every traced run reports every layer metric; see NOTES.md for which
end-to-end metric each one should move.
"""

from __future__ import annotations

import math
import os
import statistics
import time

from pyspark.sql import functions as F

from search_engine_spark.api import SearchAPI
from search_engine_spark.corpus import FIXED_NOW, pages_dataframe
from search_engine_spark.operators.documents import build_documents, latest_by_url
from search_engine_spark.operators.fingerprints import build_fingerprints, exact_dedup
from search_engine_spark.operators.link_graph import build_links_resolved
from search_engine_spark.operators.pagerank import build_document_authority
from search_engine_spark.operators.postings import build_postings, n_shards_for
from search_engine_spark.operators.term_stats import build_term_statistics, idf_col
from search_engine_spark.operators.tokens import build_tokens
from search_engine_spark.oracle import intent_score
from search_engine_spark.pipeline.build import load_engines
from search_engine_spark.oracle import search_context as oracle_context
from search_engine_spark.pair_helpers import doc_frequencies
from search_engine_spark.query.analysis import search_context
from search_engine_spark.query.intent import rerank
from search_engine_spark.query.postings_search import PostingsSearchEngine
from search_engine_spark.query.wand import (
    TermPostings,
    score_shard_exhaustive,
    score_shard_wand,
)
from search_engine_spark.sources.tableio import ParquetIO
from search_engine_spark.spellcheck.engine import DictEntry, choose_correction
from search_engine_spark.spellcheck.service import build_dictionary, trigram_candidates
from search_engine_spark.streaming.incremental import apply_batch

from . import checks, gen

INGEST_BATCH_PAGES = 100
N_PROBES = 3
DEEP_QUERIES = 4
KERNEL_QUERIES = 2
ANALYSIS_REPS = 200


def _timed(tracer, name: str, fn):
    with tracer.span(name):
        t0 = time.perf_counter()
        out = fn()
        return out, time.perf_counter() - t0


def operator_stages(run, pages, root: str) -> dict:
    """Every build_index stage timed in isolation, each materialized
    through ParquetIO and read back before the next one starts."""
    io = ParquetIO(root)
    spark = run.spark
    busy: dict[str, float] = {}

    def stage(metric: str, table: str, make, partition_by=None):
        def work():
            io.replace(make(), table, partition_by=partition_by)
            return io.read(spark, table)

        out, busy[metric] = _timed(run.tracer, metric, work)
        return out

    docs = stage(
        "operators.documents.busy_s",
        "documents",
        lambda: exact_dedup(build_documents(latest_by_url(pages), FIXED_NOW)),
    )
    tokens = stage("operators.tokens.busy_s", "tokens", lambda: build_tokens(docs))
    stage("operators.fingerprints.busy_s", "document_fingerprints", lambda: build_fingerprints(docs))
    links = stage("operators.link_graph.busy_s", "links_resolved", lambda: build_links_resolved(docs))
    n_docs = docs.count()
    stage("operators.term_stats.busy_s", "term_statistics", lambda: build_term_statistics(tokens, docs))
    postings = stage(
        "operators.postings.busy_s",
        "postings",
        lambda: build_postings(tokens, n_shards=n_shards_for(n_docs), n_term_buckets=16),
        partition_by=["term_bucket"],
    )
    stage("operators.pagerank.busy_s", "document_authority", lambda: build_document_authority(docs, links))
    stage("spellcheck.dictionary.busy_s", "spellcheck_dictionary", lambda: build_dictionary(docs))

    comp = postings.agg(
        F.sum(F.octet_length("postings")).alias("bytes"), F.sum("df").alias("n")
    ).first()
    return {
        **busy,
        "operators.documents.rows_out": n_docs,
        "operators.tokens.rows_out": tokens.count(),
        "operators.postings.bytes_per_posting": comp["bytes"] / comp["n"],
        "_stage_sum_s": sum(busy.values()),
    }


def _table_rows(spark, root: str) -> int:
    total = 0
    for name in sorted(os.listdir(root)):
        path = os.path.join(root, name)
        if os.path.isdir(path) and not name.startswith(("_", ".")) and not name.endswith("._tmp"):
            total += spark.read.parquet(path).count()
    return total


def incremental(run, base: list, batch: list) -> dict:
    """Fold one micro-batch of new urls and re-crawls into an index
    committed from ``base``. ``delta_s`` is documents + tokens over the
    batch alone; ``refresh_s`` is the rest of the batch's wall time, the
    derived tables rebuilt from the merged state.

    The base is committed as ``apply_batch`` commits a first batch, minus
    the derived tables, which the measured batch rebuilds in full anyway:
    the raw documents of ``base`` and their tokens. A full first
    ``apply_batch`` would cost ~30 s of the run's time limit."""
    spark = run.spark
    root = run.fresh_dir("ingest")
    with run.tracer.span("streaming.incremental.base"):
        raw = os.path.join(root, "documents_raw")
        build_documents(latest_by_url(pages_dataframe(spark, base)), FIXED_NOW).write.parquet(raw)
        build_tokens(spark.read.parquet(raw)).write.parquet(os.path.join(root, "tokens_raw"))
    batch_df = pages_dataframe(spark, batch).cache()
    batch_df.count()
    delta_io = ParquetIO(os.path.join(run.work, "delta"))

    def delta():
        docs = build_documents(latest_by_url(batch_df), FIXED_NOW)
        delta_io.replace(docs, "documents")
        delta_io.replace(build_tokens(delta_io.read(spark, "documents")), "tokens")

    _, delta_s = _timed(run.tracer, "streaming.incremental.delta", delta)
    _, batch_s = _timed(
        run.tracer,
        "streaming.incremental.apply_batch",
        lambda: apply_batch(spark, batch_df, root, FIXED_NOW),
    )
    batch_df.unpersist()

    want = checks.oracle_for(base, batch)
    got_docs = spark.read.parquet(os.path.join(root, "documents")).count()
    got_tokens = spark.read.parquet(os.path.join(root, "tokens")).count()
    run.check("ingest documents == oracle", got_docs == len(want.docs))
    run.check("ingest tokens == oracle", got_tokens == checks.oracle_token_rows(want))
    return {
        "streaming.incremental.delta_s": delta_s,
        "streaming.incremental.refresh_s": batch_s - delta_s,
        "streaming.incremental.rows_written_per_page_changed": _table_rows(spark, root)
        / len(batch),
    }


def _posting_entries(engine: PostingsSearchEngine, terms: list[str]) -> dict[int, list]:
    """The query terms' posting rows, grouped by shard, as the WAND scorer
    receives them (idf 1.0 for a term missing from term_statistics)."""
    idf = {
        r["term"]: float(r["idf"])
        for r in engine.term_statistics.filter(F.col("term").isin(terms)).collect()
    }
    by_shard: dict[int, list] = {}
    rows = engine.postings.filter(F.col("term").isin(terms)).collect()
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(
            TermPostings(
                term=r["term"],
                idf=idf.get(r["term"], 1.0),
                blob=bytes(r["postings"]),
                block_max=list(r["block_max"]),
                block_last=list(r["block_last"]),
                block_offset=list(r["block_offset"]),
            )
        )
    return by_shard


def _wand_exact(got: list, exhaustive: dict, k: int) -> bool:
    """Every doc WAND returns carries its exhaustive score, and every doc
    scoring above the exhaustive kth score is returned."""
    scores = sorted((s for s, _m in exhaustive.values()), reverse=True)
    kth = scores[k - 1] if len(scores) >= k else -math.inf
    returned = {d: s for d, s, _m in got}
    return all(
        d in exhaustive and math.isclose(s, exhaustive[d][0], rel_tol=checks.TOL, abs_tol=checks.TOL)
        for d, s in returned.items()
    ) and all(d in returned for d, (s, _m) in exhaustive.items() if s > kth + checks.TOL)


def wand_kernel(run, engine: PostingsSearchEngine, queries: list[str], label: str) -> float:
    """Median ms of ``score_shard_wand`` over each query's posting rows,
    checked against ``score_shard_exhaustive`` on the same rows."""
    times = []
    for q in queries:
        ctx = search_context(q, 20, 0)
        by_shard = _posting_entries(engine, list(ctx.query_terms))
        t = 0.0
        for entries in by_shard.values():
            with run.tracer.span("query.wand.score_shard_wand"):
                t0 = time.perf_counter()
                got = score_shard_wand(entries, ctx.candidate_limit)
                t += time.perf_counter() - t0
            run.check(
                f"{label} wand top-k == exhaustive for {q!r}",
                _wand_exact(got, score_shard_exhaustive(entries), ctx.candidate_limit),
            )
        times.append(t * 1000)
    return statistics.median(times)


def query_layers(run, api: SearchAPI, dictionary, ops: list[tuple]) -> dict:
    """Query-path layers over a fixed probe set of the run's own ops."""
    engine = api.engine
    spark = run.spark
    searches = [o for o in ops if o[0] == "search"][:N_PROBES]
    suggests = [o for o in ops if o[0] == "suggest"][:N_PROBES]

    t0 = time.perf_counter()
    for _ in range(ANALYSIS_REPS):
        for _, q, limit, offset in searches:
            search_context(q, limit, offset)
    analysis_ms = (time.perf_counter() - t0) * 1000 / (ANALYSIS_REPS * len(searches))

    cand_ms, rerank_ms = [], []
    for _, q, limit, offset in searches:
        api.web_search(q, limit, offset)  # idf cache warm, as in steady serving
        ctx = search_context(q, limit, offset)
        with engine.interactive_conf():
            _, c = _timed(
                run.tracer,
                "query.postings_search.candidates",
                lambda: engine.candidates_df(q, limit, offset).collect(),
            )
            _, r = _timed(
                run.tracer,
                "query.intent.rerank",
                lambda: rerank(engine.candidates_df(q, limit, offset), ctx).collect(),
            )
        cand_ms.append(c * 1000)
        rerank_ms.append((r - c) * 1000)

    spell_cand_ms, choose_ms = [], []
    for _, q in suggests:
        word = q.split()[0].lower()
        rows, c = _timed(
            run.tracer,
            "spellcheck.trigram_candidates",
            lambda: trigram_candidates(dictionary, [word]).collect(),
        )
        entries = [
            DictEntry(
                word=r["word"],
                doc_frequency=r["doc_frequency"],
                total_frequency=r["total_frequency"],
                external_frequency=r["external_frequency"],
                popularity_score=r["popularity_score"],
            )
            for r in rows
        ]
        _, ch = _timed(
            run.tracer, "spellcheck.choose_correction", lambda: choose_correction(word, None, entries)
        )
        spell_cand_ms.append(c * 1000)
        choose_ms.append(ch * 1000)

    out = {
        "query.analysis.busy_ms": analysis_ms,
        "query.postings_search.candidates_ms": statistics.median(cand_ms),
        "query.intent.rerank_ms": statistics.median(rerank_ms),
        "query.wand.kernel_ms": wand_kernel(
            run, engine, [o[1] for o in searches][:KERNEL_QUERIES], "serve"
        ),
        "spellcheck.candidates_ms": statistics.median(spell_cand_ms),
        "spellcheck.choose_ms": statistics.median(choose_ms),
    }
    # Spark jobs and tasks per API call, counted through a job group around
    # a second, warm call of each probe
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    for kind, probes, call in (
        ("web_search", searches, lambda o: api.web_search(o[1], o[2], o[3])),
        ("spellcheck_suggest", suggests, lambda o: api.spellcheck_suggest(o[1])),
    ):
        jobs = tasks = 0
        lat_ms = []
        for i, o in enumerate(probes):
            call(o)
            group = f"perfbench-{kind}-{i}"
            sc.setJobGroup(group, group)
            try:
                _, t = _timed(run.tracer, f"api.{kind}", lambda: call(o))
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            lat_ms.append(t * 1000)
            for jid in tracker.getJobIdsForGroup(group):
                jobs += 1
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    stage = tracker.getStageInfo(sid)
                    tasks += stage.numTasks if stage else 0
        out[f"api.{kind}.p50_ms"] = statistics.median(lat_ms)
        out[f"api.{kind}.jobs_per_op"] = jobs / len(probes)
        out[f"api.{kind}.tasks_per_op"] = tasks / len(probes)
    return out


def deep_layers(run) -> dict:
    """WAND at depth: the deep-list corpus, where posting lists span dozens
    of blocks and block-max pruning actually skips. The API answers are
    checked against an exhaustive scorer plus the oracle's re-rank."""
    spark = run.spark
    docs, tokens = gen.deep_tables(spark, run.seed)
    docs = docs.cache()
    with run.tracer.span("operators.postings.deep_build"):
        postings = build_postings(tokens, n_shards=1).cache()
        postings.count()
        stats = (
            doc_frequencies(tokens)
            .withColumn("idf", idf_col(gen.DEEP_DOCS, F.col("doc_frequency")))
            .cache()
        )
        stats.count()
    engine = PostingsSearchEngine(docs, postings, stats, interactive=True, pin_shard_layout=True)
    api = SearchAPI(engine)
    queries = gen.deep_queries(run.seed, DEEP_QUERIES)
    api.web_search(queries[-1])  # warm-up
    before = engine.scan_stats()
    for q in queries:
        with run.tracer.span("api.web_search.deep"):
            resp = api.web_search(q, 20, 0)
        run.check(f"deep search == exhaustive for {q!r}", _deep_matches(engine, q, resp))
    after = engine.scan_stats()
    decoded = after["blocks_decoded"] - before["blocks_decoded"]
    total = after["blocks_total"] - before["blocks_total"]
    out = {
        "query.wand.deep_kernel_ms": wand_kernel(run, engine, queries[:KERNEL_QUERIES], "deep"),
        "query.wand.deep_blocks_decoded_fraction": decoded / total,
    }
    for df in (engine.postings, postings, stats, docs):
        df.unpersist()
    return out


def _deep_matches(engine: PostingsSearchEngine, q: str, resp: dict) -> bool:
    ctx = oracle_context(q, 20, 0)
    acc: dict = {}
    for entries in _posting_entries(engine, ctx["query_terms"]).values():
        acc.update(score_shard_exhaustive(entries))
    cands = sorted(acc.items(), key=lambda kv: (-kv[1][0], gen.deep_url(kv[0])))
    ranked = sorted(
        (
            (
                -intent_score(
                    token_score=s,
                    matched_terms=m,
                    total_terms=ctx["total_terms"],
                    query_phrase=ctx["query_phrase"],
                    query_compact=ctx["query_compact"],
                    query_words=ctx["query_words"],
                    title=f"Doc {d}",
                    description="synthetic deep-list corpus",
                    url=gen.deep_url(d),
                ),
                gen.deep_url(d),
            )
            for d, (s, m) in cands[: ctx["candidate_limit"]]
        )
    )
    return resp["count"] == len(ranked) and checks.same_page(
        [(r["url"], r["score"]) for r in resp["results"]], [(u, -s) for s, u in ranked], 0, 20
    )


def collect(run, root: str, records: list, pages, build_s: float, opened, ops) -> None:
    """Every per-layer metric, into ``run.metrics``. ``root`` holds the
    run's index, built from ``records`` by a ``build_index`` whose wall is
    ``build_s``."""
    api, dictionary = opened
    m = run.metrics
    opens = []
    for _ in range(3):
        (_, engine), t = _timed(
            run.tracer,
            "pipeline.load_engines",
            lambda: load_engines(run.spark, root, interactive=True, pin_shard_layout=True),
        )
        engine.postings.unpersist()
        opens.append(t)
    m["pipeline.load_engines.open_s"] = statistics.median(opens)

    m.update(query_layers(run, api, dictionary, ops))
    m["query.wand.blocks_decoded_fraction"] = api.engine.scan_stats()["decoded_fraction"]

    stages = operator_stages(run, pages, run.fresh_dir("stages"))
    m["pipeline.build.stage_sum_over_wall"] = stages.pop("_stage_sum_s") / build_s
    m.update(stages)
    m.update(incremental(run, *gen.ingest_split(run.seed, records, INGEST_BATCH_PAGES)))
    m.update(deep_layers(run))
