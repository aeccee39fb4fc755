"""KG graph analytics: co-mention edge construction and fixed-iteration
PageRank (operators/graph.py) — hand-computed goldens, a pure-Python
differential PageRank, determinism under repartitioning, and the
persist-registry release contract."""

from __future__ import annotations

from pyspark.sql import functions as F


def _py_pagerank(edges, iters=5, damping=0.85):
    """Independent reference: synchronous weighted damped PageRank over
    the symmetrized edge set, uniform init — mirrors graph.pagerank's
    math with plain dicts. ``edges`` items are (src, dst) or
    (src, dst, w)."""
    sym = {}
    for e in edges:
        s, d = e[0], e[1]
        w = float(e[2]) if len(e) > 2 else 1.0
        sym[(s, d)] = sym.get((s, d), 0.0) + w
        sym[(d, s)] = sym.get((d, s), 0.0) + w
    nodes = sorted({s for s, _ in sym})
    strength = {v: sum(w for (s, _), w in sym.items() if s == v) for v in nodes}
    n = len(nodes)
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        nxt = {v: 0.0 for v in nodes}
        for (s, d), w in sym.items():
            nxt[d] += rank[s] * w / strength[s]
        rank = {v: (1.0 - damping) / n + damping * nxt[v] for v in nodes}
    return {v: round(r, 6) for v, r in rank.items()}


def test_comention_edges_counts(spark):
    from nametag3_spark.operators.graph import comention_edges

    docs = spark.createDataFrame(
        [
            (1, "spark joins the query"),
            (2, "query spark spark"),  # repeated surface counts once per doc
            (3, "query alone here"),
            (4, "spark   query"),  # multi-space split
        ],
        "doc_id long, text string",
    )
    got = {
        (r.src, r.dst): r.weight
        for r in comention_edges(docs, ["spark", "query", "ghost"]).collect()
    }
    # src < dst lexicographically; 'ghost' never occurs -> no node
    assert got == {("query", "spark"): 3}


def test_pagerank_matches_python_reference(spark):
    from nametag3_spark.operators.graph import pagerank, unpersist_intermediates

    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.node: r.pagerank for r in pagerank(df, iters=5).collect()}
    unpersist_intermediates()
    assert got == _py_pagerank(edges, iters=5)
    # probability mass is conserved (symmetrized graph has no dangling nodes)
    assert abs(sum(got.values()) - 1.0) < 1e-4


def test_weighted_pagerank_matches_python_reference(spark):
    from nametag3_spark.operators.graph import pagerank, unpersist_intermediates

    # complete triangle: unweighted would be uniform; the weights break it
    edges = [("a", "b", 10), ("b", "c", 1), ("a", "c", 1)]
    df = spark.createDataFrame(edges, "src string, dst string, weight long")
    got = {
        r.node: r.pagerank
        for r in pagerank(df, iters=5, weight="weight").collect()
    }
    unpersist_intermediates()
    assert got == _py_pagerank(edges, iters=5)
    assert got["a"] == got["b"]  # symmetric under the weight pattern
    assert got["c"] < got["a"]  # weakly-tied node ranks strictly lower


def test_pagerank_star_graph_ranks_hub_highest(spark):
    from nametag3_spark.operators.graph import pagerank, unpersist_intermediates

    df = spark.createDataFrame(
        [("hub", leaf) for leaf in ("x", "y", "z", "w")], "src string, dst string"
    )
    got = {r.node: r.pagerank for r in pagerank(df, iters=5).collect()}
    unpersist_intermediates()
    assert got["hub"] > max(got[leaf] for leaf in ("x", "y", "z", "w"))
    leaf_ranks = {got[leaf] for leaf in ("x", "y", "z", "w")}
    assert len(leaf_ranks) == 1  # symmetric leaves tie exactly


def test_pagerank_empty_edges(spark):
    from nametag3_spark.operators.graph import pagerank

    empty = spark.createDataFrame([], "src string, dst string")
    assert pagerank(empty, iters=3).count() == 0


def test_pagerank_deterministic_under_repartition(spark):
    from nametag3_spark.operators.graph import pagerank, unpersist_intermediates

    edges = [(f"n{i}", f"n{(i * 7 + 3) % 20}") for i in range(40)]
    edges = [(s, d) for s, d in edges if s != d]
    df = spark.createDataFrame(edges, "src string, dst string")
    a = sorted(map(tuple, pagerank(df, iters=5).collect()))
    unpersist_intermediates()
    b = sorted(map(tuple, pagerank(df.repartition(13), iters=5).collect()))
    unpersist_intermediates()
    assert a == b


def test_pagerank_releases_persisted_intermediates(spark):
    from nametag3_spark.operators import graph

    graph.unpersist_intermediates()  # the registry is shared with dedup
    df = spark.createDataFrame([("a", "b"), ("b", "c")], "src string, dst string")
    out = graph.pagerank(df, iters=2)
    assert len(graph._PERSISTED) == 2  # sym + deg held until released
    out.localCheckpoint(eager=True)
    assert graph.unpersist_intermediates() == 2
    assert graph._PERSISTED == []


def _py_triangles(edges):
    """Independent reference: brute-force per-node triangle counts and
    clustering over an undirected edge set."""
    adj = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    tri = {}
    for v, nb in adj.items():
        t = 0
        for u in nb:
            t += len(adj[u] & nb)
        tri[v] = t // 2  # each triangle at v counted once per (u,w) ordered pair
    out = {}
    for v, nb in adj.items():
        d = len(nb)
        c = round(2.0 * tri[v] / (d * (d - 1)), 6) if d >= 2 else 0.0
        out[v] = (tri[v], d, c)
    return out


def test_triangle_counts_clique_plus_pendant(spark):
    from nametag3_spark.operators.graph import (
        triangle_counts,
        unpersist_intermediates,
    )

    # 4-clique a-b-c-d (4 triangles total, 3 per clique node) + pendant e-a
    clique = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")]
    df = spark.createDataFrame(clique + [("a", "e")], "src string, dst string")
    got = {r.node: (r.triangles, r.degree, r.clustering) for r in triangle_counts(df).collect()}
    unpersist_intermediates()
    assert got == {
        "a": (3, 4, round(6.0 / 12, 6)),
        "b": (3, 3, 1.0),
        "c": (3, 3, 1.0),
        "d": (3, 3, 1.0),
        "e": (0, 1, 0.0),
    }


def test_triangle_counts_matches_python_reference(spark):
    from nametag3_spark.operators.graph import (
        triangle_counts,
        unpersist_intermediates,
    )

    edges = sorted({
        (min(f"n{i}", f"n{(i * 7 + 3) % 20}"), max(f"n{i}", f"n{(i * 7 + 3) % 20}"))
        for i in range(40)
        if f"n{i}" != f"n{(i * 7 + 3) % 20}"
    } | {("n1", "n2"), ("n2", "n3"), ("n1", "n3")})
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.node: (r.triangles, r.degree, r.clustering) for r in triangle_counts(df).collect()}
    unpersist_intermediates()
    assert got == _py_triangles(edges)


def test_triangle_counts_triangle_free(spark):
    from nametag3_spark.operators.graph import (
        triangle_counts,
        unpersist_intermediates,
    )

    # star graph: hub has huge degree, zero triangles anywhere
    df = spark.createDataFrame(
        [("hub", f"leaf{i}") for i in range(6)], "src string, dst string"
    )
    rows = triangle_counts(df).collect()
    unpersist_intermediates()
    assert all(r.triangles == 0 and r.clustering == 0.0 for r in rows)
    assert {r.node: r.degree for r in rows}["hub"] == 6


def test_label_propagation_two_communities(spark):
    from nametag3_spark.operators.graph import (
        label_propagation,
        unpersist_intermediates,
    )

    # two 3-cliques bridged by one weak edge: each clique converges to
    # its lexicographically-smallest member's label
    left = [("a", "b", 5), ("a", "c", 5), ("b", "c", 5)]
    right = [("x", "y", 5), ("x", "z", 5), ("y", "z", 5)]
    df = spark.createDataFrame(
        left + right + [("c", "x", 1)], "src string, dst string, weight long"
    )
    got = {r.node: r.community for r in label_propagation(df, iters=3).collect()}
    unpersist_intermediates()
    assert got["a"] == got["b"] == got["c"] == "a"
    assert got["x"] == got["y"] == got["z"] == "x"


def test_label_propagation_deterministic_under_repartition(spark):
    from nametag3_spark.operators.graph import (
        label_propagation,
        unpersist_intermediates,
    )

    edges = [
        (f"n{i}", f"n{(i * 5 + 2) % 17}", (i % 3) + 1)
        for i in range(30)
        if f"n{i}" != f"n{(i * 5 + 2) % 17}"
    ]
    df = spark.createDataFrame(edges, "src string, dst string, weight long")
    a = sorted(map(tuple, label_propagation(df, iters=3).collect()))
    unpersist_intermediates()
    b = sorted(map(tuple, label_propagation(df.repartition(11), iters=3).collect()))
    unpersist_intermediates()
    assert a == b


def test_label_propagation_unweighted_defaults(spark):
    from nametag3_spark.operators.graph import (
        label_propagation,
        unpersist_intermediates,
    )

    # weight=None -> every edge votes 1. A lone pair under SYNCHRONOUS
    # propagation swaps labels each round (the classic bipartite
    # oscillation): odd iters -> swapped, even iters -> self labels.
    # The operator is the deterministic closed form, so assert exactly that.
    df = spark.createDataFrame([("q", "p")], "src string, dst string")
    one = {r.node: r.community for r in label_propagation(df, iters=1, weight=None).collect()}
    unpersist_intermediates()
    two = {r.node: r.community for r in label_propagation(df, iters=2, weight=None).collect()}
    unpersist_intermediates()
    assert one == {"p": "q", "q": "p"}
    assert two == {"p": "p", "q": "q"}


def test_adamic_adar_path_golden(spark):
    """Path a-b-c plus a-d: the only common-neighbor pairs are (a,c)
    via b and (b,d) via a, both scored 1/ln(2)."""
    import math

    from nametag3_spark.operators.graph import (
        adamic_adar,
        unpersist_intermediates,
    )

    df = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "d")], "src string, dst string"
    )
    rows = {(r.src, r.dst): r for r in adamic_adar(df).collect()}
    unpersist_intermediates()
    want = round(1.0 / math.log(2.0), 6)
    assert set(rows) == {("a", "c"), ("b", "d")}
    for r in rows.values():
        assert r.common_neighbors == 1 and r.aa_score == want


def test_adamic_adar_excludes_known_edges(spark):
    """A triangle has common neighbors for every pair, but every pair
    is already an edge — nothing to predict."""
    from nametag3_spark.operators.graph import (
        adamic_adar,
        unpersist_intermediates,
    )

    df = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c")], "src string, dst string"
    )
    assert adamic_adar(df).count() == 0
    unpersist_intermediates()


def test_adamic_adar_hub_cap_drops_hub_middles(spark):
    """max_degree excludes hub middles from wedge enumeration: a star
    through hub h witnesses (x, y) pairs only when deg(h) <= cap."""
    from nametag3_spark.operators.graph import (
        adamic_adar,
        unpersist_intermediates,
    )

    star = [("h", f"x{i}") for i in range(5)]
    df = spark.createDataFrame(star, "src string, dst string")
    uncapped = adamic_adar(df).count()
    unpersist_intermediates()
    capped = adamic_adar(df, max_degree=4).count()
    unpersist_intermediates()
    assert uncapped == 10  # C(5,2) leaf pairs via the hub
    assert capped == 0  # deg(h)=5 > 4: hub skipped, no other middle
