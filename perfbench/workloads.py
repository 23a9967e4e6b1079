"""The workloads. Each takes a :class:`run.Run`, measures for
``run.seconds`` seconds and fills ``run.metrics`` (end-to-end metrics, or
per-layer metrics when tracing)."""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import statistics
import threading
import time

from search_engine_spark.api import SearchAPI
from search_engine_spark.corpus import FIXED_NOW, pages_dataframe
from search_engine_spark.pipeline.build import build_index, load_engines
from search_engine_spark.spellcheck.service import SpellcheckService

from . import checks, gen, layers

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD_PAGES = 4000
SERVE_PAGES = 1000
# the serve corpus is the same whatever --seed is (the seed picks the
# requests), so its index is built once per checkout and library version
SERVE_CORPUS_SEED = 0
INDEX_CACHE = os.path.join(ROOT, ".bench_build")
SETUP_REPEATS = 3
# a service open takes under a second, so serve times more of them, after
# one untimed open that compiles the plans
OPEN_REPEATS = 5
SERVE_CLIENTS = 2
WARMUP_OPS = 16
# the first ops of the seed's mix (4 searches, 1 suggest) checked on each
# built index
CHECK_OPS = 5
# enough generated ops that no run can exhaust them
SERVE_OP_POOL = 1000


def _index_bytes(root: str) -> int:
    total = 0
    for name in os.listdir(root):
        if name.startswith("_") or not os.path.isdir(os.path.join(root, name)):
            continue  # checkpoint log and layout meta are not index tables
        for dirpath, _dirs, files in os.walk(os.path.join(root, name)):
            total += sum(
                os.path.getsize(os.path.join(dirpath, f))
                for f in files
                if not f.startswith((".", "_"))
            )
    return total


def _pages(run, n_pages: int):
    """Generate the seeded corpus and materialize it as a cached pages
    DataFrame (the input a batch build starts from)."""
    records = gen.pages_corpus(run.seed, n_pages)
    pages = pages_dataframe(run.spark, records).repartition(run.cpus).cache()
    pages.count()
    return records, pages


def _setup(run, make, release, repeats: int):
    """Run ``make`` ``repeats`` times (once when tracing, which does not
    report setup_s), record the median as setup_s, and keep the last result
    (``release`` frees each earlier one)."""
    walls, out = [], None
    for _ in range(1 if run.tracer.enabled else repeats):
        if out is not None:
            release(out)
        t0 = time.perf_counter()
        out = make()
        walls.append(time.perf_counter() - t0)
    run.setup_s = statistics.median(walls)
    return out


def _open(run, root: str):
    """load_engines (pinned, interactive) + spellcheck over the dictionary:
    what a query service does before it answers its first request."""
    _, engine = load_engines(run.spark, root, interactive=True, pin_shard_layout=True)
    dictionary = run.spark.read.parquet(os.path.join(root, "spellcheck_dictionary"))
    return SearchAPI(engine, SpellcheckService(run.spark, dictionary)), dictionary


def _close(opened) -> None:
    opened[0].engine.postings.unpersist()


def _warm_up(run) -> None:
    """JVM code paths and one Python worker per core, before any timing."""
    import pandas as pd
    from pyspark.sql import types as T

    def noop(batches):
        for b in batches:
            yield pd.DataFrame({"x": b["id"]})

    run.spark.range(200_000).selectExpr("sum(id)").collect()
    schema = T.StructType([T.StructField("x", T.LongType())])
    run.spark.range(run.cpus * 4).repartition(run.cpus).mapInPandas(noop, schema).count()


def build(run) -> None:
    """Full build_index DAG over a fresh output root per build. The first
    build is the first in its JVM, as for a batch job submitted on a
    schedule: session and Python workers are up, query plans are not yet
    compiled."""
    _warm_up(run)
    records, pages = _setup(
        run, lambda: _pages(run, BUILD_PAGES), lambda rp: rp[1].unpersist(), SETUP_REPEATS
    )
    walls, roots = [], []
    t_start = time.perf_counter()
    # whole builds only: start another while it should end within the window
    while not walls or (time.perf_counter() - t_start) * (1 + 1 / len(walls)) <= run.seconds:
        root = run.fresh_dir("build")
        wall = run.op(
            "build", lambda: build_index(run.spark, pages, root, FIXED_NOW), span="pipeline.build_index"
        )
        walls.append(wall)
        roots.append(root)

    oracle = checks.oracle_for(records)
    root = roots[-1]
    n_docs = run.spark.read.parquet(os.path.join(root, "documents")).count()
    n_tokens = run.spark.read.parquet(os.path.join(root, "tokens")).count()
    run.check("build documents == oracle", n_docs == len(oracle.docs))
    run.check("build tokens == oracle", n_tokens == checks.oracle_token_rows(oracle))
    opened = _open(run, root)
    ops = _ops(run, root, opened[1])[1]
    _check_index(run, root, oracle, opened, ops)

    p50 = run.p50(walls)
    run.e2e(latency_p50_ms=p50 * 1000, throughput_per_s=n_docs / p50,
            index_bytes_per_doc=_index_bytes(root) / n_docs)
    if run.tracer.enabled:
        layers.collect(run, root, records, pages, p50, opened, ops)
    _close(opened)
    pages.unpersist()


def _check_index(run, root: str, oracle, opened, ops: list[tuple]) -> None:
    """Checks of a built index beyond its row counts, outside any timed
    window: term_statistics equals the oracle's per-term statistics, the
    spellcheck dictionary equals a word count over the documents table, and
    the first CHECK_OPS requests of the seed's mix answer as on serve."""
    spark = run.spark
    stats = {
        r["term"]: r
        for r in spark.read.parquet(os.path.join(root, "term_statistics")).collect()
    }
    run.check(
        "term_statistics == oracle",
        stats.keys() == oracle.doc_frequency.keys()
        and all(
            r["doc_frequency"] == oracle.doc_frequency[t]
            and r["ctf"] == oracle.ctf[t]
            and math.isclose(r["idf"], oracle.idf[t], rel_tol=1e-9)
            for t, r in stats.items()
        ),
    )
    docs = spark.read.parquet(os.path.join(root, "documents"))
    want = checks.dictionary_counts(docs.select("title", "description", "content").collect())
    got = {
        r["word"]: (r["doc_frequency"], r["total_frequency"])
        for r in opened[1].select("word", "doc_frequency", "total_frequency").collect()
    }
    run.check("spellcheck_dictionary == word count", got == want)
    answers = []
    for o in ops[:CHECK_OPS]:
        try:
            answers.append((o, 0.0, _call(opened[0], o)))
        except Exception as exc:  # noqa: BLE001 - a failed answer fails the check
            run.check(f"{o!r} answered: {exc!r}", False)
    _check_answers(run, oracle, opened, answers)


def _ops(run, root: str, dictionary) -> tuple[list[tuple], list[tuple]]:
    """(warm-up ops, measured ops) over this index's terms and words. The
    warm-up draws the same ranks for every seed, so each run's JVM enters
    the measured window equally warm."""
    stats = run.spark.read.parquet(os.path.join(root, "term_statistics"))
    terms = [r["term"] for r in stats.orderBy(stats.doc_frequency.desc(), "term").collect()]
    words = [r["word"] for r in dictionary.orderBy(dictionary.popularity_score.desc(), "word").collect()]
    return (
        gen.serve_ops(gen.WARMUP_SEED, terms, words, WARMUP_OPS),
        gen.serve_ops(run.seed, terms, words, SERVE_OP_POOL),
    )


def _source_key() -> str:
    """Digest of everything the serve index depends on: the library's
    files, the corpus generator and the corpus parameters."""
    h = hashlib.sha256(f"{SERVE_CORPUS_SEED}:{SERVE_PAGES}".encode())
    paths = [gen.__file__]
    for dirpath, dirs, files in os.walk(os.path.join(ROOT, "search_engine_spark")):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        paths += [os.path.join(dirpath, f) for f in files]
    for path in sorted(paths):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _serve_index_root() -> str:
    return os.path.join(INDEX_CACHE, f"serve-index-{_source_key()}")


def build_serve_index(run) -> None:
    """``build_index`` over the serve corpus, into INDEX_CACHE: ~35 s of
    fixed Spark work that serve does not measure. A serve run that finds no
    index there has a separate process run this first, so that every serve
    run starts its JVM equally cold."""
    root = _serve_index_root()
    tmp = f"{root}.tmp-{os.getpid()}"
    pages = pages_dataframe(run.spark, gen.pages_corpus(SERVE_CORPUS_SEED, SERVE_PAGES))
    build_index(run.spark, pages.repartition(run.cpus), tmp, FIXED_NOW)
    try:
        os.rename(tmp, root)
    except OSError:  # another run stored the same index first
        shutil.rmtree(tmp, ignore_errors=True)


def serve(run) -> None:
    """Closed loop: SERVE_CLIENTS threads, each sending its next request
    when the previous one returns, against a pinned index that
    ``build_index`` made from the serve corpus. The JVM starts cold, as a
    query service after a restart: warm-up, one untimed open, then the
    timed opens and warm-up requests before the clock starts."""
    records = gen.pages_corpus(SERVE_CORPUS_SEED, SERVE_PAGES)
    root = _serve_index_root()
    _warm_up(run)
    with run.tracer.span("setup.open"):
        _close(_open(run, root))
        opened = _setup(run, lambda: _open(run, root), _close, OPEN_REPEATS)
    api, dictionary = opened
    warmup, ops = _ops(run, root, dictionary)
    with run.tracer.span("warmup"):
        _closed_loop(api, warmup, math.inf, lambda kind, fn, span: fn())
    results, wall = _closed_loop(api, ops, time.perf_counter() + run.seconds, run.op)

    oracle = checks.oracle_for(records)
    _check_answers(run, oracle, opened, results)

    lats = [lat for _, lat, _ in results]
    n_docs = len(oracle.docs)
    run.e2e(
        latency_p50_ms=run.p50(lats) * 1000,
        throughput_per_s=sum(1 for x in lats if x is not None) / wall,
        index_bytes_per_doc=_index_bytes(root) / n_docs,
    )
    if run.tracer.enabled:
        # the build whose wall stage_sum_over_wall divides by, after the
        # window so that the traced window starts as cold as an untraced one
        pages = pages_dataframe(run.spark, records).repartition(run.cpus).cache()
        with run.tracer.span("pipeline.build_index"):
            t0 = time.perf_counter()
            build_index(run.spark, pages, run.fresh_dir("build"), FIXED_NOW)
            build_s = time.perf_counter() - t0
        layers.collect(run, root, records, pages, build_s, opened, ops)
        pages.unpersist()
    _close(opened)


def _check_answers(run, oracle, opened, results: list) -> None:
    """Searches rank-identical to the oracle; suggestions equal to the
    pure-Python reference over the index's dictionary, and the same each
    time a query repeats."""
    reference = checks.SuggestReference(opened[1].collect())
    seen: dict[str, object] = {}
    for o, lat, answer in results:
        if lat is None:
            continue
        if o[0] == "search":
            run.check(f"search {o[1:]!r} == oracle", checks.search_matches(oracle, *o[1:], answer))
        else:
            run.check(f"suggest {o[1]!r} == reference", answer["suggestion"] == reference.suggest(o[1]))
            run.check(f"suggest {o[1]!r} repeatable", seen.setdefault(o[1], answer) == answer)


_NAMES = {"search": "web_search", "suggest": "spellcheck_suggest"}


def _closed_loop(api: SearchAPI, ops: list[tuple], deadline: float, op) -> tuple[list, float]:
    """SERVE_CLIENTS threads each take the next op, send it and wait for the
    answer, until the ops run out or the deadline passes. Returns
    [(op, latency_s or None, answer)] and the wall time."""
    results: list = []
    lock = threading.Lock()
    pending = iter(ops)

    def client() -> None:
        while time.perf_counter() < deadline:
            with lock:
                o = next(pending, None)
            if o is None:
                return
            answer = {}
            lat = op(o[0], lambda: answer.setdefault("a", _call(api, o)), f"api.{_NAMES[o[0]]}")
            with lock:
                results.append((o, lat, answer.get("a")))

    t0 = time.perf_counter()
    threads = [threading.Thread(target=client) for _ in range(SERVE_CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return results, time.perf_counter() - t0


def _call(api: SearchAPI, o: tuple):
    if o[0] == "search":
        return api.web_search(o[1], o[2], o[3])
    return api.spellcheck_suggest(o[1])


WORKLOADS = {"build": build, "serve": serve}
# inputs a separate process makes before a run that needs them:
# workload -> (whether they are there, the step that makes them)
PREPARE = {"serve": (lambda: os.path.isdir(_serve_index_root()), build_serve_index)}
