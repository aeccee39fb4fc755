"""KG graph analytics: co-mention edge construction and fixed-iteration
PageRank over the entity graph.

The reference stops at emitting entities (nametag3.py:282-309 writes
spans; the server renders them) — downstream KG construction ranks the
canonicalized entities by graph centrality to pick canonical labels,
prune noise nodes, and order gazetteer candidates. This module adds that
step Spark-first:

* ``comention_edges`` — the standard co-occurrence graph: two entity
  surfaces are linked iff they appear in the same document; edge weight
  is the number of co-occurring documents. Mentions come from a caller
  supplied lexicon (broadcast, gazetteer-style — the same shape as
  ``linking.gazetteer_link``); swap in pipeline mentions upstream by
  passing any (doc, surface) DataFrame to ``pagerank`` directly.
* ``pagerank`` — damped PageRank, a FIXED number of synchronous
  iterations (deterministic, cluster-size-invariant; no convergence
  test, so both engines compute the identical closed-form).

Scale shape (100 TB): mention extraction is one scan + explode; the
within-doc pairing self-joins on doc_id, so its cost is bounded by
per-document mention count (cap long docs upstream), never corpus².
PageRank shuffles (node) per iteration — the adjacency and degree
tables are persisted once and reused across iterations, ranks stay a
linear lineage. Every node in a symmetrized edge list has degree >= 1,
so no dangling-mass correction is needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# persisted adjacency/degree handles go to dedup's registry: callers
# release them after the consuming action (dedup.checkpoint_and_release)
from nametag3_spark.operators.dedup import (  # noqa: F401 (re-exported)
    _PERSISTED,
    _persist,
    unpersist_intermediates,
)
from nametag3_spark.session import local_frame


def _comention_counts(
    docs: DataFrame, lexicon: list[str] | None, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame]:
    """The shared half of ``comention_edges`` and ``pmi_edges``: the
    distinct ``(_doc, surf)`` mention table and its within-doc pair
    counts ``(src, dst, weight)`` with src < dst."""
    mentions = docs.select(
        F.col(id_col).alias("_doc"),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("surf"),
    )
    if lexicon is not None:
        mentions = mentions.where(F.col("surf").isin(list(lexicon)))
    else:
        mentions = mentions.where(F.col("surf") != "")
    mentions = mentions.distinct()
    a = mentions.alias("a")
    b = mentions.alias("b")
    edges = (
        a.join(b, on=[F.col("a._doc") == F.col("b._doc"),
                      F.col("a.surf") < F.col("b.surf")])
        .groupBy(F.col("a.surf").alias("src"), F.col("b.surf").alias("dst"))
        .agg(F.count(F.lit(1)).cast("long").alias("weight"))
    )
    return mentions, edges


def comention_edges(
    docs: DataFrame,
    lexicon: list[str] | None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Undirected co-mention edges (src < dst lexicographically) with
    ``weight`` = number of documents where both surfaces occur.

    The lexicon is a plan literal (an ``isin`` over an exploded token
    column) — for a large gazetteer pass a DataFrame and broadcast-join
    instead (``linking.gazetteer_link`` is that path). ``lexicon=None``
    treats EVERY whitespace token as a mention — the vocabulary-free
    mode for corpora whose mention extraction already ran upstream
    (per-doc pair fan-out is then distinct-token-count², so cap
    pathological docs before calling).
    """
    return _comention_counts(docs, lexicon, id_col, text_col)[1]


def pagerank(
    edges: DataFrame,
    iters: int = 5,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    round_to: int = 6,
) -> DataFrame:
    """(node, pagerank) after exactly ``iters`` synchronous iterations
    over the SYMMETRIZED edge set, uniform 1/N init, damping ``d``:

        r'(v) = (1-d)/N + d * sum_{u->v} r(u) * w(u,v) / strength(u)

    where strength(u) = sum of u's outgoing weights (plain degree when
    ``weight`` is None). Weighted mode matters for co-mention graphs:
    document-level co-occurrence saturates to a near-complete graph on
    any frequent lexicon, where unweighted PageRank degenerates to
    uniform — the co-occurrence counts are the signal.

    ``round_to`` rounds the final rank so independent engines (different
    float summation orders) agree bit-for-bit on the emitted value.
    """
    w = (F.col(weight) if weight else F.lit(1)).cast("double").alias("w")
    sym = _persist(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"), w)
        .union(edges.select(F.col(dst).alias("src"), F.col(src).alias("dst"), w))
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
    )
    deg = _persist(sym.groupBy("src").agg(F.sum("w").alias("strength")))
    n = deg.count()  # bounded driver scalar: one aggregate, no row pull
    if n == 0:
        return local_frame(edges.sparkSession, [], "node string, pagerank double")
    ranks = deg.select(F.col("src").alias("node"), F.lit(1.0 / n).alias("rank"))
    contrib_base = sym.join(deg, on="src")  # (src, dst, w, strength), cached parents
    for _ in range(iters):
        ranks = (
            contrib_base.join(ranks, on=[F.col("src") == F.col("node")])
            .select(
                F.col("dst").alias("_to"),
                (F.col("rank") * F.col("w") / F.col("strength")).alias("c"),
            )
            .groupBy(F.col("_to").alias("node"))
            .agg((F.lit((1.0 - damping) / n) + damping * F.sum("c")).alias("rank"))
        )
    return ranks.select("node", F.round("rank", round_to).alias("pagerank"))


def triangle_counts(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node triangle count and local clustering coefficient over an
    undirected edge list (deduped, ``src < dst`` rows).

    Algorithm: degree-ordered node-iterator (the MapReduce-classic from
    Suri & Vassilvitskii 2011). Every edge is ORIENTED from its
    lower-(degree, id) endpoint to the higher one; wedges are then built
    only at the low end, so the wedge join's fan-out is bounded by the
    SMALLER degree of each edge — total work O(m^1.5) instead of
    Σ deg(v)², which is what makes a hub node (deg 10^7 in a co-mention
    graph) survivable: the hub never expands its own neighbor list.

    Output: (node, triangles, degree, clustering) where clustering =
    2·T(v) / (deg(v)·(deg(v)−1)) rounded to 6 decimals (0.0 for
    degree < 2). Scale shape: three equi-joins on node keys + one
    groupBy — no cartesian, no broadcast of anything corpus-sized; the
    degree dim joined into the orientation is node-bounded.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    # orient: keep (lo → hi) by (deg, id); ties by id keep the DAG acyclic
    da = deg.select(F.col("a").alias("_na"), F.col("deg").alias("_da"))
    db = deg.select(F.col("a").alias("_nb"), F.col("deg").alias("_db"))
    oriented = (
        e.join(da, e.a == da._na).join(db, e.b == db._nb)
        .select(
            F.when(
                (F.col("_da") < F.col("_db"))
                | ((F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("lo"), F.col("b").alias("hi")),
            )
            .otherwise(F.struct(F.col("b").alias("lo"), F.col("a").alias("hi")))
            .alias("o")
        )
        .select("o.lo", "o.hi")
    )
    oriented = _persist(oriented)
    # wedge at the low endpoint: (lo→u), (lo→v), u < v; closed iff (u→v)
    # is itself an oriented edge (orientation is a total order, so any
    # closing edge appears exactly as u→v with u the lower-ordered end)
    w1 = oriented.select(F.col("lo").alias("pivot"), F.col("hi").alias("u"))
    w2 = oriented.select(F.col("lo").alias("pivot"), F.col("hi").alias("v"))
    wedges = w1.join(w2, "pivot").where(F.col("u") < F.col("v"))
    closed = wedges.join(
        oriented.select(F.col("lo").alias("u"), F.col("hi").alias("v")),
        ["u", "v"],
    ).unionByName(
        wedges.join(
            oriented.select(F.col("hi").alias("u"), F.col("lo").alias("v")),
            ["u", "v"],
        )
    )
    per_node = (
        closed.select(
            F.explode(F.array("pivot", "u", "v")).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("triangles"))
    )
    return (
        deg.select(F.col("a").alias("node"), "deg")
        .join(per_node, "node", "left")
        .select(
            "node",
            F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
            F.col("deg").alias("degree"),
            F.round(
                F.when(
                    F.col("deg") >= 2,
                    2.0
                    * F.coalesce("triangles", F.lit(0))
                    / (F.col("deg") * (F.col("deg") - 1)),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("clustering"),
        )
    )


def label_propagation(
    edges: DataFrame,
    iters: int = 3,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = "weight",
) -> DataFrame:
    """Community detection by synchronous weighted label propagation
    (Raghavan et al. 2007), EXACTLY ``iters`` rounds, deterministic:

        label0(v) = v
        label'(v) = argmax_l Σ w(u,v) over neighbors u with label(u)=l,
                    ties → lexicographically smallest label

    Fixed iteration count + integer edge weights keep the closed form
    engine-reproducible (integer sums are order-independent; no
    convergence test, no randomized tie-breaks — the async/randomized
    variant of the paper is deliberately NOT used).

    Scale shape: the symmetrized adjacency is persisted ONCE and reused
    every round; each round is one join (labels are (node, label) rows,
    shuffled on node) + one groupBy + one per-node argmax — the same
    per-iteration cost profile as ``pagerank`` above. Hot communities
    skew the (dst, label) aggregation; AQE skew-split handles it since
    the agg is a plain hash aggregate with map-side partials.
    """
    w = (F.col(weight) if weight else F.lit(1)).cast("long").alias("w")
    sym = _persist(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"), w)
        .union(edges.select(F.col(dst).alias("src"), F.col(src).alias("dst"), w))
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
    )
    labels = sym.select(F.col("src").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    from pyspark.sql import Window

    for _ in range(iters):
        votes = (
            sym.join(labels, on=[sym.src == labels.node])
            .groupBy(F.col("dst").alias("_n"), "label")
            .agg(F.sum("w").alias("s"))
        )
        rk = Window.partitionBy("_n").orderBy(F.col("s").desc(), F.col("label"))
        labels = (
            votes.withColumn("_rk", F.row_number().over(rk))
            .where(F.col("_rk") == 1)
            .select(F.col("_n").alias("node"), "label")
        )
    return labels.select("node", F.col("label").alias("community"))


def khop_neighbors(
    edges: DataFrame,
    sources: list[str],
    k: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Minimal-hop-distance BFS from ``sources`` over the UNDIRECTED
    edge set, bounded at ``k`` hops: (source, node, hops) with hops =
    the shortest path length, 0 for the source itself.

    The entity-neighborhood primitive a KG serves constantly ("what is
    within 2 hops of X") and the expansion step of subgraph sampling
    for GNN-style training.

    Scale shape: the per-iteration frontier is (source, node) pairs —
    ids only. Each round is ONE equi-join frontier⋈adjacency (shuffled
    on node; the |sources|-bounded frontier side broadcasts while it
    fits, AQE's call) + an anti-join-free min-agg dedup: new nodes are
    found by joining the WHOLE reached set and keeping min(hops), so a
    node reached twice never re-expands (each round re-aggregates
    (source, node) — at k ≤ a few hops, the reached set stays ≪ corpus
    for real KG degree distributions). ``k`` is a fixed small constant
    (the closed form both engines unroll), never a convergence loop.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = _persist(
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    )
    spark = edges.sparkSession
    reached = local_frame(
        spark, [(s, s, 0) for s in sources], "source string, node string, hops int"
    )
    frontier = reached
    for hop in range(1, k + 1):
        expanded = (
            frontier.join(sym, on=[frontier.node == sym.a])
            .select("source", F.col("b").alias("node"), F.lit(hop).alias("hops"))
        )
        merged = (
            reached.unionByName(expanded)
            .groupBy("source", "node")
            .agg(F.min("hops").alias("hops"))
        )
        # nodes first reached THIS hop are the next frontier
        frontier = merged.where(F.col("hops") == hop)
        reached = merged
    return reached


def adamic_adar(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_degree: int | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Adamic-Adar link prediction over an undirected graph: for every
    NON-adjacent node pair (a, b) with at least one common neighbor,

        aa_score(a, b) = sum over common neighbors z of 1 / ln(deg(z))

    plus the raw ``common_neighbors`` count — the classic KG-completion
    candidate scorer (Adamic & Adar 2003; the reference stops at
    emitting entities, nametag3.py:282-309 — proposing MISSING links
    between canonicalized entities is the next KG-builder step).

    Input contract: ``edges`` holds deduped undirected rows with
    ``src < dst`` (``comention_edges``' output shape); normalize with
    least/greatest + dropDuplicates upstream otherwise, or reversed
    duplicates double-count wedges and escape the known-edge filter.

    Scale shape (100 TB): wedges are enumerated by self-joining the
    symmetrized adjacency on the MIDDLE node z, so the fan-out per node
    is deg(z)^2 — ``max_degree`` caps it by skipping hub middles
    entirely (the same hub-cut as ``triangle_counts``; principled here,
    not just pragmatic: a hub's per-wedge evidence 1/ln(deg) is already
    near zero, so dropping it biases scores down by a vanishing term
    while removing the quadratic blowup). Degree-1 middles cannot
    witness a common neighbor and are filtered before the join. The
    join ships id pairs only; the known-edge filter is one left-anti
    join against the (much smaller) edge list. ``round_to`` rounds the
    final float sum so engines with different summation orders agree.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    mid = sym.join(deg, on="src").where(F.col("deg") >= 2)
    if max_degree is not None:
        mid = mid.where(F.col("deg") <= max_degree)
    mid = _persist(mid.select(
        F.col("src").alias("z"), F.col("dst").alias("leaf"), "deg"
    ))
    x, y = mid.alias("x"), mid.alias("y")
    wedges = x.join(
        y, on=[F.col("x.z") == F.col("y.z"), F.col("x.leaf") < F.col("y.leaf")]
    ).select(
        F.col("x.leaf").alias("a"),
        F.col("y.leaf").alias("b"),
        (F.lit(1.0) / F.log(F.col("x.deg").cast("double"))).alias("c"),
    )
    scored = wedges.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("long").alias("common_neighbors"),
        F.round(F.sum("c"), round_to).alias("aa_score"),
    )
    return scored.join(
        e, on=[scored.a == e.src, scored.b == e.dst], how="left_anti"
    ).select(
        F.col("a").alias("src"), F.col("b").alias("dst"),
        "common_neighbors", "aa_score",
    )


def pmi_edges(
    docs: DataFrame,
    lexicon: list[str] | None,
    min_weight: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Pointwise-mutual-information weights for the co-mention graph:
    raw co-occurrence counts over-weight globally frequent surfaces
    (stopword-like entities dominate every neighborhood), so KG edge
    building re-weights by association strength,

        pmi(x, y) = ln( count(x,y) * N / (count(x) * count(y)) )

    with document-level counts (Church & Hanks 1990). Positive pmi =
    the pair co-occurs more than independence predicts — the edges
    worth materializing; negative = co-occurrence is incidental.

    One mention extraction feeds both the pair counts (the
    ``comention_edges`` shape: distinct per doc, src < dst, groupBy —
    no self-join on the corpus) and the per-surface document counts
    (one more keyed aggregate over the same id-only mention table);
    the per-surface count table is |vocabulary| rows and broadcasts
    onto the edge table. N is one bounded driver scalar. ``pmi_micro``
    is BIGINT fixed point (ppm) from integer-only inputs — exact
    cross-engine comparison, no float drift.

    Returns ``(src, dst, weight, src_docs, dst_docs, pmi_micro)``
    for pairs with ``weight >= min_weight``.
    """
    mentions, edges = _comention_counts(docs, lexicon, id_col, text_col)
    surf_docs = mentions.groupBy("surf").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    edges = edges.where(F.col("weight") >= int(min_weight))
    n_total = docs.count()
    sd = surf_docs  # ≤ |vocab| rows: AQE broadcasts both lookups
    edges = (
        edges.join(sd.withColumnRenamed("surf", "src")
                     .withColumnRenamed("n_docs", "src_docs"), "src")
        .join(sd.withColumnRenamed("surf", "dst")
                .withColumnRenamed("n_docs", "dst_docs"), "dst")
    )
    pmi = F.log(
        (F.col("weight") * F.lit(float(n_total)))
        / (F.col("src_docs") * F.col("dst_docs"))
    )
    return edges.select(
        "src",
        "dst",
        "weight",
        "src_docs",
        "dst_docs",
        F.round(pmi * F.lit(1_000_000.0), 0).cast("long").alias("pmi_micro"),
    )
