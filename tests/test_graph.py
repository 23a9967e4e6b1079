"""Link graph + PageRank vs NumPy oracle (reference constants + dangling drop)."""

import pytest

from search_engine_spark.corpus import FIXED_NOW, generate_pages, pages_dataframe
from search_engine_spark.operators.documents import build_documents
from search_engine_spark.operators.link_graph import build_links_resolved
from search_engine_spark.operators.pagerank import build_document_authority
from search_engine_spark.oracle import OracleIndex

TOL = 1e-12


def test_links_resolved_match_oracle(docs, oracle):
    url_by_id = {r["doc_id"]: r["url"] for r in docs.select("doc_id", "url").collect()}
    got = {
        (url_by_id[r["source_doc_id"]], url_by_id[r["target_doc_id"]])
        for r in build_links_resolved(docs).collect()
    }
    assert got == oracle.resolved_edges()


def test_pagerank_matches_oracle(docs, oracle):
    url_by_id = {r["doc_id"]: r["url"] for r in docs.select("doc_id", "url").collect()}
    edges = build_links_resolved(docs)
    auth = build_document_authority(docs, edges).collect()
    want = oracle.pagerank()
    assert len(auth) == len(want)
    for r in auth:
        url = url_by_id[r["doc_id"]]
        pr, inl = want[url]
        assert abs(r["pagerank"] - pr) < 1e-9, url
        assert r["inlink_count"] == inl, url
    # dangling mass dropped: total < 1 (reference quirk)
    assert sum(r["pagerank"] for r in auth) < 1.0


def test_pagerank_convergent_mode(docs):
    edges = build_links_resolved(docs)
    fixed = {
        r["doc_id"]: r["pagerank"]
        for r in build_document_authority(docs, edges, iterations=30).collect()
    }
    tolstop = {
        r["doc_id"]: r["pagerank"]
        for r in build_document_authority(
            docs, edges, iterations=30, tol=1e-12
        ).collect()
    }
    # tol-mode must land on the same fixed point (early stop, same answer)
    for k, v in fixed.items():
        assert abs(tolstop[k] - v) < 1e-6


def _pagerank_replica(nodes, edges, iterations=20, damping=0.85):
    """Reference PageRank in plain Python: uniform 1/n start, dangling mass
    dropped, out-degree over every edge of a source, contributions only
    along edges whose two ends are nodes. -> {node: (pagerank, inlinks)}."""
    from collections import Counter

    n = len(nodes)
    known = set(nodes)
    out_degree = Counter(s for s, _ in edges if s is not None)
    inlinks = Counter(d for s, d in edges if s is not None and d in known)
    ranks = {v: 1.0 / n for v in nodes}
    for _ in range(iterations):
        new = {v: 0.0 for v in nodes}
        for s, d in edges:
            if s in known and d in known:
                new[d] += damping * ranks[s] / out_degree[s]
        ranks = {v: (1.0 - damping) / n + new[v] for v in nodes}
    return {v: (ranks[v], inlinks[v]) for v in nodes}


# -7 is linked from 3 and links to 1; 5 is dangling (in-links only); 6 is
# isolated; 99 and 4 are sources missing from the documents (above the
# largest id and between two ids), 98 and -100 missing targets (above and
# below); 2 -> 3 appears twice; the null ends join nothing
_NODES = [-7, 1, 2, 3, 5, 6]
_EDGES = [
    (1, 2), (2, 3), (2, 3), (3, 1), (3, 5), (3, -7), (-7, 1),
    (99, 1), (4, 2), (1, 98), (2, -100), (None, 2), (3, None),
]


@pytest.mark.parametrize(
    "nodes,edge_list",
    [(_NODES, _EDGES), (_NODES, []), ([], _EDGES)],
    ids=["edge-cases", "no-edges", "no-documents"],
)
def test_pagerank_matches_python_replica(spark, nodes, edge_list):
    docs = spark.createDataFrame([(v,) for v in nodes], "doc_id long")
    edges = spark.createDataFrame(edge_list, "source_doc_id long, target_doc_id long")
    got = {
        r["doc_id"]: (r["pagerank"], r["inlink_count"])
        for r in build_document_authority(docs, edges).collect()
    }
    want = _pagerank_replica(nodes, edge_list)
    assert got.keys() == want.keys()
    for v, (pr, inl) in want.items():
        assert abs(got[v][0] - pr) < TOL, v
        assert got[v][1] == inl, v


def test_pagerank_is_independent_of_edge_order(spark, docs):
    from pyspark.sql import functions as F

    edges = build_links_resolved(docs).localCheckpoint()

    def ranks(e):
        return sorted(build_document_authority(docs, e).collect())

    want = ranks(edges)
    assert ranks(edges.repartition(7)) == want
    assert ranks(edges.orderBy(F.rand(3))) == want


def test_pagerank_jobs_do_not_grow_with_iterations(spark, docs):
    edges = build_links_resolved(docs).localCheckpoint()
    sc = spark.sparkContext
    jobs = {}
    for iterations in (5, 40):
        group = f"pagerank-jobs-{iterations}"
        sc.setJobGroup(group, "PageRank's Spark jobs must not grow with iterations")
        try:
            build_document_authority(docs, edges, iterations=iterations).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[iterations] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs[5] == jobs[40] <= 3, jobs


def test_pagerank_rejects_edges_over_budget(spark, monkeypatch):
    from search_engine_spark.operators import pagerank

    docs = spark.createDataFrame([(v,) for v in _NODES], "doc_id long")
    edges = spark.createDataFrame(_EDGES, "source_doc_id long, target_doc_id long")
    monkeypatch.setattr(pagerank, "MAX_PAGERANK_EDGES", len(_EDGES))
    assert build_document_authority(docs, edges).count() == len(_NODES)
    monkeypatch.setattr(pagerank, "MAX_PAGERANK_EDGES", 3)
    with pytest.raises(ValueError, match="MAX_PAGERANK_EDGES = 3"):
        build_document_authority(docs, edges)


def test_triangle_counts_hand_built(spark):
    from search_engine_spark.operators.pagerank import triangle_counts

    # triangle {1,2,3} + pendant 3-4 + triangle-free square 5-6-7-8;
    # input carries a duplicate, a reversed duplicate, and a self edge
    edges = spark.createDataFrame(
        [
            (1, 2), (2, 3), (1, 3),
            (3, 4), (4, 3),          # reversed duplicate
            (1, 2),                  # duplicate
            (5, 6), (6, 7), (7, 8), (8, 5),
            (6, 6),                  # self edge: dropped
        ],
        "source_doc_id long, target_doc_id long",
    )
    got = {
        r["doc_id"]: (r["degree"], r["triangles"], r["clustering"])
        for r in triangle_counts(edges).collect()
    }
    assert got == {
        1: (2, 1, 1.0),
        2: (2, 1, 1.0),
        3: (3, 1, 0.333333),
        4: (1, 0, 0.0),
        5: (2, 0, 0.0),
        6: (2, 0, 0.0),
        7: (2, 0, 0.0),
        8: (2, 0, 0.0),
    }


def test_triangle_counts_k4_and_partitioning(spark):
    from search_engine_spark.operators.pagerank import triangle_counts

    # K4: 4 triangles, every node in 3 of them, clustering 1.0 everywhere
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges = spark.createDataFrame(k4, "source_doc_id long, target_doc_id long")
    rows = triangle_counts(edges).collect()
    assert all((r["degree"], r["triangles"], r["clustering"]) == (3, 3, 1.0) for r in rows)
    assert len(rows) == 4
    b = sorted(tuple(r) for r in triangle_counts(edges.repartition(5)).collect())
    assert b == sorted(tuple(r) for r in rows)


def _hits_python(nodes, edges, iterations=20):
    hub = {v: 1 for v in nodes}
    auth = {v: 1 for v in nodes}
    for _ in range(iterations):
        a2 = {v: 0 for v in nodes}
        h2 = {v: 0 for v in nodes}
        for s, t in edges:
            a2[t] += hub[s]
            h2[s] += auth[t]
        hub, auth = h2, a2
    mh, ma = max(hub.values()), max(auth.values())
    return {
        v: (
            hub[v],
            auth[v],
            round(hub[v] / mh, 6) if mh > 0 else None,
            round(auth[v] / ma, 6) if ma > 0 else None,
        )
        for v in nodes
    }


def test_hits_hand_built_vs_python_oracle(spark):
    from search_engine_spark.operators.pagerank import hits_scores

    # hub 1 points at {2,3,4}; 2 points at 3; 5 isolated; 4 points back at 1
    nodes = [1, 2, 3, 4, 5]
    edge_list = [(1, 2), (1, 3), (1, 4), (2, 3), (4, 1)]
    docs = spark.createDataFrame([(v,) for v in nodes], "doc_id long")
    edges = spark.createDataFrame(
        edge_list, "source_doc_id long, target_doc_id long"
    )
    got = {
        r["doc_id"]: (r["hub"], r["auth"], r["hub_score"], r["auth_score"])
        for r in hits_scores(docs, edges, iterations=6).collect()
    }
    assert got == _hits_python(nodes, edge_list, iterations=6)
    # isolated node: exact zeros, scores 0.0 (not NULL — max is positive)
    assert got[5] == (0, 0, 0.0, 0.0)


def test_hits_partitioning_invariance_and_integer_exactness(spark):
    from search_engine_spark.operators.pagerank import hits_scores

    nodes = list(range(40))
    edge_list = [(i, (7 * i + 13) % 40) for i in range(40) if i % 13 != 0]
    edge_list += [(i, (5 * i + 2) % 40) for i in range(40) if i % 13 != 0]
    edge_list = sorted({(s, t) for s, t in edge_list if s != t})
    docs = spark.createDataFrame([(v,) for v in nodes], "doc_id long")
    edges = spark.createDataFrame(
        edge_list, "source_doc_id long, target_doc_id long"
    )
    want = _hits_python(nodes, edge_list, iterations=20)
    a = {
        r["doc_id"]: (r["hub"], r["auth"], r["hub_score"], r["auth_score"])
        for r in hits_scores(docs, edges).collect()
    }
    b = {
        r["doc_id"]: (r["hub"], r["auth"], r["hub_score"], r["auth_score"])
        for r in hits_scores(docs.repartition(7), edges.repartition(11)).collect()
    }
    # integer trajectories are EXACT: equality, not tolerance
    assert a == want
    assert b == want


def test_cocitation_coupling_hand_built(spark):
    from search_engine_spark.operators.pagerank import cocitation_coupling

    # 1 and 2 both cite {10, 11}; 10 and 11 are both cited by {1, 2};
    # 3 cites 10 only; hub 99 is cited by everyone (stop-listed at cap 2)
    edges = spark.createDataFrame(
        [
            (1, 10), (1, 11), (1, 99),
            (2, 10), (2, 11), (2, 99),
            (3, 10), (3, 99),
            (1, 10),            # duplicate: counted once
            (10, 10),           # self edge: dropped
        ],
        "source_doc_id long, target_doc_id long",
    )
    got = {
        (r["doc_a"], r["doc_b"]): (r["cocitation"], r["coupling"])
        for r in cocitation_coupling(edges, max_in_degree=2).collect()
    }
    assert got == {
        # co-citation: target pairs sharing a citing source (uncapped)
        (10, 11): (2, 0),
        (10, 99): (3, 0),
        (11, 99): (2, 0),
        # coupling: source pairs sharing a cited target; 10 and 99 both
        # have in-degree 3 > cap 2 and are stop-listed, so only 11
        # (in-degree 2) couples its citers — (1,2) via 11 alone; 3 shares
        # no kept target with anyone and emits no coupling row
        (1, 2): (0, 1),
    }


def test_cocitation_coupling_partitioning_invariance(spark):
    from search_engine_spark.operators.pagerank import cocitation_coupling

    edge_list = sorted(
        {
            (i, (7 * i + 13) % 40)
            for i in range(40)
            if i % 13 != 0 and i != (7 * i + 13) % 40
        }
        | {
            (i, (5 * i + 2) % 40)
            for i in range(40)
            if i % 13 != 0 and i != (5 * i + 2) % 40
        }
    )
    edges = spark.createDataFrame(
        edge_list, "source_doc_id long, target_doc_id long"
    )
    a = sorted(tuple(r) for r in cocitation_coupling(edges).collect())
    b = sorted(
        tuple(r) for r in cocitation_coupling(edges.repartition(9)).collect()
    )
    assert a == b and len(a) > 0


def test_bfs_distance_hand_built(spark):
    from search_engine_spark.operators.pagerank import bfs_distance

    # chain 0->1->2->3->4 plus shortcut 0->3; seed {0}; 9 isolated
    docs = spark.createDataFrame([(v,) for v in range(10)], "doc_id long")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (0, 3)],
        "source_doc_id long, target_doc_id long",
    )
    seeds = docs.filter("doc_id = 0")
    got = {
        r["doc_id"]: r["dist"]
        for r in bfs_distance(seeds, edges, iterations=6).collect()
    }
    # shortcut wins for 3 (dist 1, not 3) and 4 (dist 2); 5..9 unreached
    assert got == {0: 0, 1: 1, 2: 2, 3: 1, 4: 2}
    # horizon cut: with 1 iteration only the 1-hop frontier appears
    got1 = {
        r["doc_id"]: r["dist"]
        for r in bfs_distance(seeds, edges, iterations=1).collect()
    }
    assert got1 == {0: 0, 1: 1, 3: 1}


def test_bfs_distance_multi_seed_partitioning_invariance(spark):
    from search_engine_spark.operators.pagerank import bfs_distance

    docs = spark.createDataFrame([(v,) for v in range(40)], "doc_id long")
    edge_list = sorted(
        {
            (i, (7 * i + 13) % 40)
            for i in range(40)
            if i % 13 != 0 and i != (7 * i + 13) % 40
        }
    )
    edges = spark.createDataFrame(
        edge_list, "source_doc_id long, target_doc_id long"
    )
    seeds = docs.filter("doc_id % 20 = 0")
    a = sorted(tuple(r) for r in bfs_distance(seeds, edges).collect())
    b = sorted(
        tuple(r)
        for r in bfs_distance(
            seeds.repartition(3), edges.repartition(7)
        ).collect()
    )
    assert a == b
    d = dict(a)
    assert d[0] == 0 and d[20] == 0 and all(v >= 0 for v in d.values())


def test_k_core_hand_built_and_partitioning(spark):
    from search_engine_spark.operators.pagerank import k_core

    # K4 {1..4} (a 3-core) + pendant chain 4-5-6 + triangle {7,8,9}
    # (a 2-core that dies at k=3)
    edge_list = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edge_list += [(4, 5), (5, 6), (7, 8), (8, 9), (7, 9)]
    edges = spark.createDataFrame(
        edge_list, "source_doc_id long, target_doc_id long"
    )
    got = {
        r["doc_id"]: r["core_degree"]
        for r in k_core(edges, k=3, rounds=6).collect()
    }
    # after peeling 5, 6, and the triangle, K4 members have degree 3
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}
    # k=2 keeps the triangle and kills only the chain tail
    got2 = {
        r["doc_id"]: r["core_degree"]
        for r in k_core(edges, k=2, rounds=6).collect()
    }
    assert set(got2) == {1, 2, 3, 4, 7, 8, 9}
    b = {
        r["doc_id"]: r["core_degree"]
        for r in k_core(edges.repartition(7), k=3, rounds=6).collect()
    }
    assert b == got


def test_k_core_fixed_horizon_not_converged(spark):
    from search_engine_spark.operators.pagerank import k_core

    # a chain 0-1-2-...-9 peels one end-node pair per round at k=2:
    # after exactly 3 rounds the survivors are 3..6 (deterministic
    # horizon cut, not the converged empty set)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)],
        "source_doc_id long, target_doc_id long",
    )
    got = sorted(
        r["doc_id"] for r in k_core(edges, k=2, rounds=3).collect()
    )
    assert got == [3, 4, 5, 6]


def test_graph_mixing_star_vs_clique_fixture(spark, tmp_path, monkeypatch):
    """Assortativity sign sanity on known topologies, via the pair's own
    moment formula: a star is maximally disassortative (r = -1), a clique
    has zero degree variance (NULL)."""
    import math

    def newman_r(edge_list):
        from collections import Counter

        und = {(min(a, b), max(a, b)) for a, b in edge_list if a != b}
        sym = [(a, b) for a, b in und] + [(b, a) for a, b in und]
        deg = Counter(a for a, _ in sym)
        xs = [(deg[a], deg[b]) for a, b in sym]
        m = len(xs)
        sx = sum(x for x, _ in xs); sy = sum(y for _, y in xs)
        sxx = sum(x * x for x, _ in xs); syy = sum(y * y for _, y in xs)
        sxy = sum(x * y for x, y in xs)
        vx, vy = m * sxx - sx * sx, m * syy - sy * sy
        if vx <= 0 or vy <= 0:
            return None
        return round((m * sxy - sx * sy) / math.sqrt(vx * vy), 6)

    star = [(0, i) for i in range(1, 6)]
    assert newman_r(star) == -1.0
    clique = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    assert newman_r(clique) is None
    # a path 0-1-2 mixes degree-1 ends with the degree-2 middle: r = -1
    assert newman_r([(0, 1), (1, 2)]) == -1.0


def test_graph_mixing_pair_matches_python(spark):
    from search_engine_spark.driver_queries_td import q_graph_mixing

    row = q_graph_mixing(spark, "/root/testdata/sf0.001").collect()[0]
    # python replica of the synthetic recipe
    N = 500
    E = set()
    for i in range(N):
        if i % 13 == 0:
            continue
        for m, c in ((7, 13), (5, 2), (49, 104)):
            t = (m * i + c) % N
            if t != i:
                E.add((i, t))
    recip = sum(1 for s, t in E if (t, s) in E)
    assert row["n_edges"] == len(E)
    assert row["reciprocity"] == round(recip / len(E), 6)
    assert row["assortativity"] is not None
    assert -1.0 <= row["assortativity"] <= 1.0


def test_personalized_pagerank_properties(spark):
    import math

    from search_engine_spark.operators.pagerank import (
        build_document_authority,
        personalized_pagerank,
    )

    docs = spark.createDataFrame([(v,) for v in range(12)], "doc_id long")
    edge_list = [(i, (i + 1) % 12) for i in range(12)] + [(0, 6), (6, 0)]
    edges = spark.createDataFrame(
        edge_list, "source_doc_id long, target_doc_id long"
    )
    seeds = docs.filter("doc_id = 0")
    ppr = {
        r["doc_id"]: r["ppr"]
        for r in personalized_pagerank(docs, edges, seeds).collect()
    }
    # python replica (Jacobi, dangling drop — no dangling here)
    out = {}
    for s, t in edge_list:
        out.setdefault(s, []).append(t)
    rank = {v: (1.0 if v == 0 else 0.0) for v in range(12)}
    for _ in range(20):
        new = {v: (0.15 if v == 0 else 0.0) for v in range(12)}
        for s, ts in out.items():
            for t in ts:
                new[t] += 0.85 * rank[s] / len(ts)
        rank = new
    for v in range(12):
        assert math.isclose(ppr[v], rank[v], rel_tol=0, abs_tol=1e-9), v
    # mass concentrates at the seed: rank(0) strictly dominates
    assert ppr[0] == max(ppr.values())
    # and differs from the global ranking on the same graph
    glob = {
        r["doc_id"]: r["pagerank"]
        for r in build_document_authority(docs, edges).collect()
    }
    assert max(glob, key=glob.get) != 0 or glob[0] != ppr[0]


def test_personalized_pagerank_empty_seed_set(spark):
    from search_engine_spark.operators.pagerank import personalized_pagerank

    docs = spark.createDataFrame([(v,) for v in range(3)], "doc_id long")
    edges = spark.createDataFrame(
        [(0, 1)], "source_doc_id long, target_doc_id long"
    )
    assert personalized_pagerank(docs, edges, docs.filter("doc_id < 0")).count() == 0


def _lpa_python(edge_list, rounds):
    from collections import Counter

    und = {(min(a, b), max(a, b)) for a, b in edge_list if a != b}
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    label = {v: v for v in adj}
    for _ in range(rounds):
        new = {}
        for v in adj:
            cnt = Counter(label[u] for u in adj[v])
            best = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))
            new[v] = best[0]
        label = new
    return label


def test_label_propagation_two_cliques_vs_python(spark):
    from search_engine_spark.operators.pagerank import label_propagation

    # two 4-cliques joined by one bridge edge
    c1 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    c2 = [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
    edge_list = c1 + c2 + [(3, 10)]
    edges = spark.createDataFrame(
        edge_list, "source_doc_id long, target_doc_id long"
    )
    for rounds in (1, 3, 5):
        got = {
            r["doc_id"]: r["label"]
            for r in label_propagation(edges, rounds=rounds).collect()
        }
        assert got == _lpa_python(edge_list, rounds), rounds
    final = {
        r["doc_id"]: r["label"]
        for r in label_propagation(edges, rounds=5).collect()
    }
    # the two cliques end in different communities
    assert len({final[v] for v in range(4)}) == 1
    assert len({final[v] for v in range(10, 14)}) == 1
    assert final[0] != final[10]


def test_label_propagation_partitioning_invariance(spark):
    from search_engine_spark.operators.pagerank import label_propagation

    edge_list = sorted(
        {
            (i, (7 * i + 13) % 50)
            for i in range(50)
            if i % 13 != 0 and i != (7 * i + 13) % 50
        }
        | {
            (i, (5 * i + 2) % 50)
            for i in range(50)
            if i % 13 != 0 and i != (5 * i + 2) % 50
        }
    )
    edges = spark.createDataFrame(
        edge_list, "source_doc_id long, target_doc_id long"
    )
    a = sorted(tuple(r) for r in label_propagation(edges).collect())
    b = sorted(
        tuple(r) for r in label_propagation(edges.repartition(9)).collect()
    )
    assert a == b == sorted(_lpa_python(edge_list, 5).items())


def test_degree_correlation_star_fixture(spark):
    from search_engine_spark.driver_queries_td import q_degree_correlation

    # direct check of the exact class-sum identity on a star via the same
    # shape the pair uses — python replica over the pair's synthetic graph
    import collections

    row = {
        r["degree"]: (r["n_nodes"], r["knn"])
        for r in q_degree_correlation(spark, "/root/testdata/sf0.001").collect()
    }
    N = 500
    und = set()
    for i in range(N):
        if i % 13 == 0:
            continue
        for m, c in ((7, 13), (5, 2), (49, 104)):
            t = (m * i + c) % N
            if t != i:
                und.add((min(i, t), max(i, t)))
    adj = collections.defaultdict(set)
    for a, b in und:
        adj[a].add(b)
        adj[b].add(a)
    cls = collections.defaultdict(lambda: [0, 0])
    for v, ns in adj.items():
        k = len(ns)
        cls[k][0] += 1
        cls[k][1] += sum(len(adj[u]) for u in ns)
    want = {
        k: (n, round(s / (k * n), 6)) for k, (n, s) in cls.items()
    }
    assert row == want
