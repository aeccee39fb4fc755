"""Canonicalization: iterative connected components over the mention graph.

Mentions that share a gazetteer entity, or surfaces that co-refer (exact
same normalized surface + type), form edges; each connected component's
minimum id becomes the canonical entity id (north rule: "canonicalized
with an iterative connected-components merge over the mention graph").

Algorithm: min-label propagation WITH pointer jumping — each round first
takes the min label over neighbors (one shuffle), then replaces every
label by its label's label (path halving, one more join). Pointer
jumping makes convergence O(log diameter) instead of O(diameter), so a
long alias chain converges in ~log₂ rounds; if the loop still hasn't
converged after ``max_iterations`` it RAISES rather than silently
splitting components. ``localCheckpoint`` truncates lineage each round
so plans don't grow, which is what keeps the driver loop viable at
10^12 edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nametag3_spark.session import local_frame


DRIVER_CC_THRESHOLD = 1_000_000
# broadcast the surface→canonical map only when the deduped edge set was
# small enough to know the map is broadcast-safe; above this, a plain
# shuffle join (AQE-planned) — at 10^12 turns the distinct-surface map
# can exceed any broadcast budget
BROADCAST_EDGE_LIMIT = 250_000


def _union_find(edge_rows: list[tuple[str, str]]) -> dict[str, str]:
    """Driver-side union-find (path compression + union by min)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {node: find(node) for node in list(parent)}


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 25,
    driver_threshold: int = DRIVER_CC_THRESHOLD,
) -> DataFrame:
    return _connected_components_sized(
        edges, src, dst, max_iterations, driver_threshold
    )[0]


def _connected_components_sized(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 25,
    driver_threshold: int = DRIVER_CC_THRESHOLD,
) -> tuple[DataFrame, int | None]:
    """(src, dst) string edges → (node, component) with component = min id.

    Adaptive strategy (the 100 TB design): the edge set here is DISTINCT
    (surface, entity) pairs — already deduped far below mention
    cardinality (the skew/scale lever is that dedup, not the CC itself).
    When the deduped graph fits comfortably on the driver (≤ ~1M edges),
    a driver-side union-find finishes in milliseconds instead of paying
    one Spark shuffle per propagation round. Above the threshold, the
    distributed loop runs: min-label propagation + pointer jumping per
    round (lineage truncated per iteration), converging in
    O(log component diameter); non-convergence raises.
    """
    spark = edges.sparkSession
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).where(
        F.col(src).isNotNull() & F.col(dst).isNotNull()
    ).distinct()
    # single action: pull at most threshold+1 deduped edges; if they all
    # fit, finish on the driver (union-find), else go distributed
    head = sym.limit(driver_threshold + 1).collect()
    if not head:
        return local_frame(spark, [], "node string, component string"), 0
    if len(head) <= driver_threshold:
        mapping = _union_find([(r["a"], r["b"]) for r in head])
        return (
            local_frame(spark, mapping.items(), "node string, component string"),
            len(head),
        )
    sym = sym.localCheckpoint(eager=True)

    # distributed path: iterative min-label propagation
    sym2 = sym.unionByName(
        sym.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct().localCheckpoint(eager=True)
    labels = (
        sym2.select(F.col("a").alias("node")).distinct()
        .withColumn("component", F.col("node"))
    )
    converged = False
    for _ in range(max_iterations):
        neighbor_min = (
            sym2.join(labels.withColumnRenamed("node", "b"), "b")
            .groupBy("a")
            .agg(F.min("component").alias("n_comp"))
            .withColumnRenamed("a", "node")
        )
        propagated = labels.join(neighbor_min, "node", "left").select(
            "node",
            F.least(
                F.col("component"), F.coalesce(F.col("n_comp"), F.col("component"))
            ).alias("component"),
            (
                F.coalesce(F.col("n_comp"), F.col("component"))
                < F.col("component")
            ).alias("_changed"),
        )
        # pointer jumping (path halving): component ← label(component).
        # Components are node ids, so the lookup is a self-join; this is
        # what turns O(diameter) propagation into O(log diameter).
        comp_lookup = propagated.select(
            F.col("node").alias("_cnode"), F.col("component").alias("_ccomp")
        )
        new_labels = (
            propagated.join(
                comp_lookup, propagated["component"] == comp_lookup["_cnode"], "left"
            )
            .select(
                "node",
                F.coalesce(F.col("_ccomp"), F.col("component")).alias("component"),
                (
                    F.col("_changed")
                    | (F.coalesce(F.col("_ccomp"), F.col("component")) < F.col("component"))
                ).alias("_changed"),
            )
            .localCheckpoint(eager=False)  # materialized by the count below
        )
        changed = new_labels.where(F.col("_changed")).limit(1).count()
        labels = new_labels.drop("_changed")
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "pointer-jumping rounds (component diameter > "
            f"2^{max_iterations}); raise max_iterations — silently "
            "splitting components would corrupt canonical entity ids"
        )
    return labels, None


def canonicalize_incremental(
    linked: DataFrame,
    catalog: DataFrame | None,
    driver_threshold: int = DRIVER_CC_THRESHOLD,
) -> tuple[DataFrame, DataFrame]:
    """Catalog-stable canonicalization for incremental/streaming runs.

    ``catalog`` holds (surf_node, entity_canonical) rows from prior
    epochs. Surfaces already cataloged KEEP their cataloged id — batch-
    local evidence never re-canonicalizes them (stability wins; periodic
    full-batch recanonicalization is the reconciliation path, the
    standard incremental-ER contract). Only novel surfaces run the CC
    merge. Returns ``(canonicalized, new_catalog)`` where new_catalog
    holds exactly the novel surface→canonical rows to append.

    Why this exists: per-batch canonicalization is deterministic GIVEN a
    batch, but two micro-batches can link the same surface differently
    (e.g. the entity is mentioned alongside its alias only in the first
    batch), so the same surface could get different canonical ids across
    epochs. The catalog pins the first-seen id, which is what keeps
    subject ids stable over a 10^12-turn append-only transcript stream.

    Scale shape: the catalog join is a plain equi-join on the surface
    key — AQE broadcasts it while small and shuffles when the distinct-
    surface set outgrows any broadcast budget (same reasoning as the
    canonical-map guard in canonicalize_mentions).
    """
    surf = F.concat(F.lit("m:"), F.col("mention_norm"), F.lit("|"), F.col("label"))
    tagged = linked.withColumn("_surf_node", surf)
    if catalog is None or not catalog.columns:
        canonical = canonicalize_mentions(linked, driver_threshold)
        new_catalog = canonical.select(
            surf.alias("surf_node"), "entity_canonical"
        ).distinct()
        return canonical, new_catalog

    cat = catalog.select(
        F.col("surf_node").alias("_surf_node"),
        F.col("entity_canonical").alias("_cat_canon"),
    ).dropDuplicates(["_surf_node"])
    joined = tagged.join(cat, "_surf_node", "left")
    known = (
        joined.where(F.col("_cat_canon").isNotNull())
        .withColumn("entity_canonical", F.col("_cat_canon"))
        .drop("_surf_node", "_cat_canon")
    )
    novel = joined.where(F.col("_cat_canon").isNull()).drop(
        "_surf_node", "_cat_canon"
    )
    novel_canonical = canonicalize_mentions(novel, driver_threshold)
    new_catalog = novel_canonical.select(
        surf.alias("surf_node"), "entity_canonical"
    ).distinct()
    return known.unionByName(novel_canonical), new_catalog


def canonicalize_mentions(
    linked: DataFrame, driver_threshold: int = DRIVER_CC_THRESHOLD
) -> DataFrame:
    """linked mentions → + ``entity_canonical``.

    Edges:
      * surface-node ↔ entity-node when linking found an entity_id
      * (surfaces sharing an entity therefore merge transitively)
    Unlinked surfaces canonicalize to their own surface key.

    A linked surface canonicalizes to its component's minimum entity
    node, which is the component id: nodes are ``e:<entity>`` and
    ``m:<surface>|<label>``, ``"e:" < "m:"``, and every edge has an
    ``e:`` end, so every component's minimum node is an entity node.

    The surface→canonical map is BROADCAST only when the deduped edge
    count proves it small (≤ BROADCAST_EDGE_LIMIT); otherwise it joins by
    shuffle and AQE picks the strategy — at 10^12 turns the distinct-
    surface map can exceed any broadcast budget.
    """
    surf = F.concat(F.lit("m:"), F.col("mention_norm"), F.lit("|"), F.col("label"))
    edges = (
        linked.where(F.col("entity_id").isNotNull())
        .select(
            surf.alias("src"),
            F.concat(F.lit("e:"), F.col("entity_id")).alias("dst"),
        )
        .distinct()
    )
    components, n_edges = _connected_components_sized(
        edges, driver_threshold=driver_threshold
    )
    # the component id IS the canonical id. This rests on the prefix
    # order "e:" < "m:" (docstring): a component's minimum node is its
    # minimum entity node
    canon = components.select(
        F.col("node").alias("_surf_node"),
        F.col("component").alias("entity_canonical"),
    )
    if n_edges is not None and n_edges <= BROADCAST_EDGE_LIMIT:
        canon = F.broadcast(canon)
    return (
        linked.withColumn("_surf_node", surf)
        .join(canon, "_surf_node", "left")
        .withColumn(
            "entity_canonical",
            F.coalesce(F.col("entity_canonical"), F.col("_surf_node")),
        )
        .drop("_surf_node")
    )
