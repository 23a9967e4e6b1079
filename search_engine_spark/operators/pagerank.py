"""PageRank over the collected link graph (reference ``pagerank.py`` semantics).

Exact reference constants and quirks (``pagerank.py:6-38``):

- damping d = 0.85, EXACTLY 20 iterations by default (no convergence test)
- init pr = 1/n over all done documents (isolated nodes included)
- update: new[t] = (1-d)/n + d * sum_src pr[src]/outdeg(src)
- DANGLING MASS IS DROPPED: nodes without out-edges contribute nothing, so
  ranks do not sum to 1 — a "correct" PageRank would redistribute; parity
  requires reproducing the drop.

Shape: like the reference, which keeps its adjacency in RAM, the stage
collects the node ids and the edge list to the driver once (two Spark
jobs) and runs every iteration there as NumPy over dense int32 ordinals;
no Spark job runs per iteration. Ids map to ordinals by ``searchsorted``
over the sorted node ids, with a membership check, so edges into or out
of unknown ids drop as the reference's membership test drops them. The
contributing edges are sorted by (dst, src) ordinal once, and each
iteration's ``bincount`` sums every target's contributions in that fixed
order (invariant 4). The ranks return as one single-partition DataFrame.
``MAX_PAGERANK_EDGES`` bounds the collect; a larger graph raises rather
than exhausting the driver.

An optional L1 tolerance turns it into the "convergent iterative job" the
north_star names, while the default stays fixed-20 for rank identity.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DAMPING = 0.85
ITERATIONS = 20
CHECKPOINT_EVERY = 5
# edges the stage collects to the driver. At its peak it holds ~52 B per
# edge: 43 B of NumPy arrays (tracemalloc; ordinals, sort permutation,
# per-edge weights) and 9 B of Arrow buffers, measured on a 2M-edge graph
# over 500k documents. The 4,000-page build corpus (10,840 edges) peaks at
# ~111 B per edge, where per-document arrays and fixed costs dominate.
# So this budget keeps the stage under ~0.85 GB.
MAX_PAGERANK_EDGES = 16_000_000


def _ordinals(ids: np.ndarray, col: pa.ChunkedArray) -> tuple[np.ndarray, np.ndarray]:
    """-> (ordinal of each value in the sorted ``ids``, is-member mask).
    Nulls and ids not in ``ids`` are non-members; their ordinal is junk."""
    vals = pc.fill_null(col, 0).to_numpy()
    pos = np.searchsorted(ids, vals).astype(np.int32)
    np.minimum(pos, len(ids) - 1, out=pos)
    known = (ids[pos] == vals) & pc.is_valid(col).to_numpy()
    return pos, known


def build_document_authority(
    documents: DataFrame,
    links_resolved: DataFrame,
    iterations: int = ITERATIONS,
    damping: float = DAMPING,
    tol: float | None = None,
) -> DataFrame:
    """-> (doc_id, pagerank, inlink_count), one partition.

    ``tol``: optional L1 early-stop against the ranks of the previous
    CHECKPOINT_EVERY-th iteration; None = fixed ``iterations`` (reference).
    """
    spark = documents.sparkSession
    schema = "doc_id long, pagerank double, inlink_count int"
    ids = np.sort(documents.select("doc_id").toArrow().column("doc_id").to_numpy())
    n = len(ids)
    if n == 0:
        return spark.createDataFrame([], schema)
    edges = (
        links_resolved.select("source_doc_id", "target_doc_id")
        .limit(MAX_PAGERANK_EDGES + 1)
        .toArrow()
    )
    if edges.num_rows > MAX_PAGERANK_EDGES:
        raise ValueError(
            "PageRank collects at most MAX_PAGERANK_EDGES = "
            f"{MAX_PAGERANK_EDGES} edges to the driver; this link graph has more"
        )
    # an edge with a null source joins no out-degree, so it counts nowhere
    if edges["source_doc_id"].null_count:
        edges = edges.filter(pc.is_valid(edges["source_doc_id"]))
    src, src_known = _ordinals(ids, edges["source_doc_id"])
    dst, dst_known = _ordinals(ids, edges["target_doc_id"])
    del edges

    # out-degree counts every edge of a known source, wherever it points
    out_degree = np.bincount(src[src_known], minlength=n).astype(np.float64)
    inlink_count = np.bincount(dst[dst_known], minlength=n).astype(np.int32)
    both = src_known & dst_known
    src, dst = src[both], dst[both]
    order = np.lexsort((src, dst))
    src, dst = src[order], dst[order]
    src_degree = out_degree[src]
    del order, both, src_known, dst_known

    teleport = (1.0 - damping) / n
    ranks = np.full(n, 1.0 / n)
    prev_ranks = None
    for i in range(iterations):
        contrib = np.bincount(dst, weights=damping * ranks[src] / src_degree, minlength=n)
        ranks = teleport + contrib
        if tol is not None and ((i + 1) % CHECKPOINT_EVERY == 0 or i == iterations - 1):
            if prev_ranks is not None and np.abs(ranks - prev_ranks).sum() < tol:
                break
            prev_ranks = ranks

    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "pagerank": pa.array(ranks, pa.float64()),
            "inlink_count": pa.array(inlink_count, pa.int32()),
        }
    )
    return spark.createDataFrame(table, schema).coalesce(1)


def personalized_pagerank(
    documents: DataFrame,
    links_resolved: DataFrame,
    seeds: DataFrame,
    iterations: int = ITERATIONS,
    damping: float = DAMPING,
) -> DataFrame:
    """(doc_id, ppr) — personalized PageRank (Haveliwala 2002): the
    teleport distribution is uniform over ``seeds`` instead of all nodes,
    so rank mass concentrates around the seed set — the topic-sensitive /
    related-pages ranking companion to the reference's global PageRank
    (same iteration shape, same dangling-mass drop, ``pagerank.py:6-38``).

    init pr = 1/|S| on seeds (0 elsewhere); update
    new[t] = (1-d)/|S|·[t∈S] + d·Σ_src pr[src]/outdeg(src). Fixed
    ``iterations`` rounds, no convergence test (reference quirk kept).

    Scale: the edge relation shuffles once into the cache, per iteration
    only the n-row rank vector moves; the seed flag is a column on the
    cached node list.
    """
    seed_ids = seeds.select("doc_id").distinct()
    ns = seed_ids.count()
    if ns == 0:
        return documents.sparkSession.createDataFrame([], "doc_id long, ppr double")
    nodes = (
        documents.select("doc_id")
        .join(seed_ids.withColumn("_seed", F.lit(1)), "doc_id", "left")
        .cache()
    )
    nodes.count()

    edges = links_resolved.select(
        F.col("source_doc_id").alias("src"), F.col("target_doc_id").alias("dst")
    )
    out_degree = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_degree"))
    edges_deg = edges.join(out_degree, "src").cache()
    edges_deg.count()

    base = 1.0 / ns
    teleport = (1.0 - damping) / ns
    seed_base = F.when(F.col("_seed") == 1, F.lit(base)).otherwise(F.lit(0.0))
    seed_teleport = (
        F.when(F.col("_seed") == 1, F.lit(teleport)).otherwise(F.lit(0.0))
    )
    ranks = nodes.select("doc_id", seed_base.alias("ppr"))

    for i in range(iterations):
        contribs = (
            edges_deg.join(ranks, edges_deg.src == ranks.doc_id, "inner")
            .select(
                "dst",
                (F.lit(damping) * F.col("ppr") / F.col("out_degree")).alias(
                    "contrib"
                ),
            )
            .groupBy("dst")
            .agg(F.sum("contrib").alias("contrib"))
        )
        ranks = (
            nodes.join(contribs, nodes.doc_id == contribs.dst, "left")
            .select(
                "doc_id",
                (seed_teleport + F.coalesce(F.col("contrib"), F.lit(0.0))).alias(
                    "ppr"
                ),
            )
        )
        if (i + 1) % CHECKPOINT_EVERY == 0 or i == iterations - 1:
            ranks = ranks.localCheckpoint(eager=True)

    edges_deg.unpersist()
    nodes.unpersist()
    return ranks


def hits_scores(
    documents: DataFrame,
    links_resolved: DataFrame,
    iterations: int = ITERATIONS,
    src: str = "source_doc_id",
    dst: str = "target_doc_id",
) -> DataFrame:
    """(doc_id, hub, auth, hub_score, auth_score) — Kleinberg's HITS
    (JACM 1999) over the directed link graph: the hub/authority companion
    to PageRank (reference ``pagerank.py:6-38``'s graph, second classic
    eigenvector statistic). Jacobi power iteration on the bipartite
    adjacency: auth_{k+1}(v) = Σ_{(u,v)∈E} hub_k(u) and
    hub_{k+1}(u) = Σ_{(u,v)∈E} auth_k(v), both from iteration k.

    EXACT INTEGER formulation (invariant 4 by omission): scores start at
    1 and stay unnormalized BIGINTs through every iteration — integer
    sums are order-free, so the trajectory is bit-identical across
    partitionings and engines; the per-iteration float normalization of
    textbook HITS (whose global float sum is order-unspecified) is
    deferred to ONE exact division by the final max at the end, rounded
    6. Growth is bounded by the graph's largest singular value — ~3.2×/
    iteration on the synthetic link graph, ~2.7e10 after 20 iterations,
    9 decimal orders under BIGINT; under the driver's ANSI session an
    overflow would raise, never wrap silently.

    Scale: per iteration two shuffles keyed on the edge endpoints (hash
    partition, map-side partial sums collapse hub fan-in), the node-list
    refresh is a left join keeping isolated nodes at 0; lineage cut every
    CHECKPOINT_EVERY iterations; the final max is an in-plan 1-row
    aggregate cross-joined back (broadcast), never a global window over
    the corpus-sized node list.
    """
    nodes = documents.select("doc_id").cache()
    edges = links_resolved.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).cache()
    edges.count()

    scores = nodes.select(
        "doc_id",
        F.lit(1).cast("long").alias("hub"),
        F.lit(1).cast("long").alias("auth"),
    )
    for i in range(iterations):
        auth_new = (
            edges.join(scores, edges.src == scores.doc_id, "inner")
            .groupBy("dst")
            .agg(F.sum("hub").alias("auth_new"))
        )
        hub_new = (
            edges.join(scores, edges.dst == scores.doc_id, "inner")
            .groupBy("src")
            .agg(F.sum("auth").alias("hub_new"))
        )
        scores = (
            nodes.join(auth_new, nodes.doc_id == auth_new.dst, "left")
            .join(hub_new, nodes.doc_id == hub_new.src, "left")
            .select(
                "doc_id",
                F.coalesce("hub_new", F.lit(0)).cast("long").alias("hub"),
                F.coalesce("auth_new", F.lit(0)).cast("long").alias("auth"),
            )
        )
        # cadence 2, tighter than PageRank's 5: each HITS iteration nests
        # FOUR joins (two contribution joins + the two-sided node-list
        # refresh), so plan depth doubles per iteration vs PageRank's two
        # — at cadence 5 Catalyst/AQE compile time dominates (measured
        # 26.5 s -> 13.2 s at 20 iterations under a 200-partition session)
        if (i + 1) % 2 == 0 or i == iterations - 1:
            scores = scores.localCheckpoint(eager=True)

    mx = scores.agg(F.max("hub").alias("_mh"), F.max("auth").alias("_ma"))
    out = scores.crossJoin(F.broadcast(mx)).select(
        "doc_id",
        "hub",
        "auth",
        F.when(
            F.col("_mh") > 0,
            F.round(F.col("hub").cast("double") / F.col("_mh"), 6),
        ).alias("hub_score"),
        F.when(
            F.col("_ma") > 0,
            F.round(F.col("auth").cast("double") / F.col("_ma"), 6),
        ).alias("auth_score"),
    )
    edges.unpersist()
    nodes.unpersist()
    return out


def bfs_distance(
    seeds: DataFrame,
    links_resolved: DataFrame,
    iterations: int = 10,
    src: str = "source_doc_id",
    dst: str = "target_doc_id",
) -> DataFrame:
    """(doc_id, dist) — multi-source BFS link distance: minimum hop count
    from any seed document along directed edges, the classic crawl-depth /
    click-distance ranking and crawl-prioritization signal (the graph
    companion to the reference's PageRank over the same edge relation).

    Runs EXACTLY ``iterations`` min-relaxation rounds (Bellman-Ford style,
    unit weights): dist_{k+1}(v) = min(dist_k(v), 1 + min over in-edges
    dist_k(u)). Nodes unreached within ``iterations`` hops are ABSENT from
    the result — a fixed horizon, not a convergence test, so the output is
    identical across engines and partitionings regardless of graph
    diameter. All-integer (invariant 4 by omission).

    Scale: per round one shuffle keyed on the edge target with map-side
    partial mins (frontier fan-in collapses in the mapper); the distance
    relation is at most |V| rows; lineage cut every CHECKPOINT_EVERY
    rounds. For diameter-unbounded reachability use the star-contraction
    connected-components operator instead; this one answers "how deep".
    """
    dist = seeds.select("doc_id", F.lit(0).cast("long").alias("dist"))
    edges = links_resolved.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).cache()
    edges.count()
    for i in range(iterations):
        relaxed = (
            edges.join(dist, edges.src == dist.doc_id, "inner")
            .select(F.col("dst").alias("doc_id"), (F.col("dist") + 1).alias("dist"))
            .unionByName(dist)
            .groupBy("doc_id")
            .agg(F.min("dist").alias("dist"))
        )
        dist = relaxed
        if (i + 1) % CHECKPOINT_EVERY == 0 or i == iterations - 1:
            dist = dist.localCheckpoint(eager=True)
    edges.unpersist()
    return dist


def k_core(
    edges: DataFrame,
    k: int = 2,
    rounds: int = 8,
    src: str = "source_doc_id",
    dst: str = "target_doc_id",
) -> DataFrame:
    """(doc_id, core_degree) — the k-core of the UNDIRECTED link graph
    (Seidman 1983): nodes surviving iterated removal of degree-<k nodes.
    The dense-nucleus signal — link farms and boilerplate nav cliques
    survive high-k peeling, pendant chains do not (the k-core companion
    to the triangle/clustering spam signal, Becchetti et al. KDD'08).

    Runs EXACTLY ``rounds`` synchronous peeling rounds (each round drops
    every node whose degree among CURRENT survivors is < k, all at once).
    A fixed horizon, not a convergence test: the survivor set after round
    r is a deterministic function of the graph, so the output is identical
    across engines and partitionings whether or not the peeling has
    converged (it converges when no round drops a node; synchronous
    peeling removes at least one node per non-converged round, so
    ``rounds`` bounds the peel depth, which is tiny on web graphs).
    Pure-integer degrees (invariant 4 by omission).

    Scale: per round the symmetric edge relation is semi-joined against
    the survivor set on each endpoint (ids-only broadcast-able survivor
    side at high k; hash join otherwise) and re-counted with map-side
    partials — never a driver-side peel loop over collected degrees.
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    sym = und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).cache()
    sym.count()
    alive = sym.select(F.col("a").alias("v")).distinct()
    deg = None
    for r in range(rounds):
        deg = (
            sym.join(alive.withColumnRenamed("v", "a"), "a")
            .join(alive.withColumnRenamed("v", "b"), "b")
            .groupBy("a")
            .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
            .filter(F.col("core_degree") >= k)
        )
        # lineage cut EVERY round: each round nests TWO joins, and the
        # resulting doubly-branching plan makes Catalyst/AQE compile time
        # explode with depth (measured 79 s -> 10 s at 8 rounds under a
        # 200-partition session); the materialized relation is the
        # survivor set — at most |V| ids-only rows per round
        deg = deg.localCheckpoint(eager=True)
        alive = deg.select(F.col("a").alias("v"))
    sym.unpersist()
    return deg.select(F.col("a").alias("doc_id"), "core_degree")


def label_propagation(
    edges: DataFrame,
    rounds: int = 5,
    src: str = "source_doc_id",
    dst: str = "target_doc_id",
) -> DataFrame:
    """(doc_id, label) — community detection by SYNCHRONOUS label
    propagation over the undirected graph (Raghavan et al. 2007, made
    deterministic): labels start as node ids; each round every node
    simultaneously adopts the most frequent label among its neighbors,
    ties broken by (count desc, label asc) — no RNG, no visit order, so
    the trajectory is a pure function of the graph and EXACTLY ``rounds``
    rounds produce identical output across engines and partitionings
    (synchronous LPA can oscillate on bipartite structures; the fixed
    horizon makes that a non-issue for parity). Nodes are the edge
    endpoints — every node has >= 1 neighbor by construction. Pure
    integers (invariant 4 by omission).

    Scale: per round one shuffle to the uniform (node, label) pair for
    counting (map-side partials), then the per-node argmax folds via
    max(struct(count, -label)) — an aggregate, not a window, so a hub's
    neighbor-label multiset collapses map-side and never funnels one
    reducer whole; lineage cut every round (the k_core compile-depth
    lesson).
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    sym = und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).cache()
    sym.count()
    nodes = sym.select(F.col("a").alias("v")).distinct()
    labels = nodes.select("v", F.col("v").alias("label"))
    for r in range(rounds):
        neigh = (
            sym.join(labels.withColumnRenamed("v", "b"), "b")
            .groupBy(F.col("a").alias("v"), "label")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )
        best = (
            neigh.groupBy("v")
            .agg(F.max(F.struct(F.col("n"), (-F.col("label")).alias("_nl"))).alias("_m"))
            .select("v", (-F.col("_m._nl")).cast("long").alias("label"))
        )
        labels = (
            nodes.join(best, "v", "left")
            .select(
                "v",
                F.coalesce("label", F.col("v")).cast("long").alias("label"),
            )
            .localCheckpoint(eager=True)
        )
    sym.unpersist()
    return labels.select(F.col("v").alias("doc_id"), "label")


def cocitation_coupling(
    edges: DataFrame,
    src: str = "source_doc_id",
    dst: str = "target_doc_id",
    max_in_degree: int = 64,
) -> DataFrame:
    """(doc_a, doc_b, cocitation, coupling) — the two classic link-graph
    similarity statistics over the directed graph (reference
    ``pagerank.py:6-38``'s edge relation): co-citation (Small 1973 —
    how many documents cite BOTH a and b) and bibliographic coupling
    (Kessler 1963 — how many targets a and b BOTH cite). The related-
    pages / related-queries signal next to PageRank's importance signal.

    Pure-integer counts (invariant 4 by omission); each pair emitted once
    with doc_a < doc_b.

    Skew (invariant 6): both statistics are ids-only self-joins whose
    fan-out is quadratic in one degree. Co-citation fans out per CITING
    page by out-degree² — bounded by the page link budget, safe. Coupling
    fans out per CITED target by in-degree² — in-degree is the Zipf-skewed
    web quantity (a million-in-link hub would emit 10^12 pairs), so
    targets with in-degree > ``max_in_degree`` are stop-listed before the
    join (the standard hub-removal mitigation, same family as the hot-
    shingle prefix filter): a shared link to a mega-hub carries no
    similarity information. The cap is part of the operator's semantics
    and is applied identically in the DuckDB oracle.
    """
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    e1 = e.select("src", F.col("dst").alias("a"))
    e2 = e.select("src", F.col("dst").alias("b"))
    cocit = (
        e1.join(e2, "src")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("cocitation"))
    )
    indeg = e.groupBy("dst").agg(F.count(F.lit(1)).alias("ind"))
    kept = e.join(
        indeg.filter(F.col("ind") <= max_in_degree).select("dst"), "dst"
    )
    c1 = kept.select("dst", F.col("src").alias("a"))
    c2 = kept.select("dst", F.col("src").alias("b"))
    coup = (
        c1.join(c2, "dst")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("coupling"))
    )
    return (
        cocit.join(coup, ["a", "b"], "full_outer")
        .select(
            F.col("a").alias("doc_a"),
            F.col("b").alias("doc_b"),
            F.coalesce("cocitation", F.lit(0)).cast("long").alias("cocitation"),
            F.coalesce("coupling", F.lit(0)).cast("long").alias("coupling"),
        )
    )


def triangle_counts(
    edges: DataFrame,
    src: str = "source_doc_id",
    dst: str = "target_doc_id",
) -> DataFrame:
    """(doc_id, degree, triangles, clustering) — exact per-node triangle
    counts and local clustering coefficient over the UNDIRECTED link
    graph (direction dropped, parallel/self edges removed). The third
    classic graph statistic next to PageRank and degree counts — spam
    farms and boilerplate nav blocks show up as abnormally dense local
    clustering (Becchetti et al., KDD'08 use semi-streaming triangle
    counts for exactly this web-spam signal).

    Algorithm: degree-ordered orientation ("compact-forward"; the
    MapReduce formulation is Suri & Vassilvitskii, WWW'11): every
    undirected edge is oriented from the lexicographically smaller
    (degree, id) endpoint to the larger, which makes every oriented
    out-neighborhood O(sqrt(m)) — the wedge self-join that enumerates
    candidate (v, w) pairs per source u is then bounded by
    sum_u outdeg(u)^2 = O(m^1.5) TOTAL, the optimal bound, regardless
    of how skewed the raw degree distribution is (a hub of degree d
    contributes d wedges, not d^2, because high-rank endpoints never
    fan out). Each triangle is produced exactly once (its corners are
    rank-ordered), then exploded to its 3 corners for per-node counts.

    Every count is BIGINT; the clustering coefficient
    ``2T / (deg*(deg-1))`` is the single rounded divide (invariant 4),
    0.0 for degree-1 nodes.
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    o = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
            F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dd"),
        )
    )
    x = o.select(
        F.col("src").alias("u"), F.col("dst").alias("v"), F.col("dd").alias("dv")
    )
    y = o.select(
        F.col("src").alias("u"), F.col("dst").alias("w"), F.col("dd").alias("dw")
    )
    wedges = x.join(y, "u").filter(
        (F.col("dv") < F.col("dw"))
        | ((F.col("dv") == F.col("dw")) & (F.col("v") < F.col("w")))
    )
    closer = o.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    tri = wedges.join(closer, ["v", "w"]).select("u", "v", "w")
    corners = (
        tri.select(F.col("u").alias("v"))
        .unionAll(tri.select("v"))
        .unionAll(tri.select("w"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("triangles"))
    )
    return deg.join(corners, "v", "left").select(
        F.col("v").alias("doc_id"),
        F.col("d").alias("degree"),
        F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
        F.when(
            F.col("d") >= 2,
            F.round(
                (F.lit(2) * F.coalesce("triangles", F.lit(0))).cast("double")
                / (F.col("d") * (F.col("d") - F.lit(1))),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("clustering"),
    )
