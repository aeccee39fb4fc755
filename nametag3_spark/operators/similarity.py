"""Similarity search over an embedding column (array<float>).

* ``cosine_topk_bruteforce`` — exact top-k neighbors for a set of query
  vectors: broadcast the (small) query side, cross-score with JVM-side
  ``F.zip_with``/``F.aggregate`` dot products, per-query top-k via window.
  The baseline and the verifier for the approximate path.
* ``lsh_bucket_topk`` — scale path: random-hyperplane (sign) LSH buckets
  computed with deterministic per-dimension hash weights, candidates only
  within matching buckets, exact re-scoring on candidates. At 100 TB the
  bucket join replaces the cartesian product; recall is tunable via
  n_planes/n_tables.
* ``ivf_topk`` — the other standard scale path: an IVF (inverted-file)
  coarse quantizer. Centroids are trained driver-side on a bounded
  deterministic sample, shipped as a literal expression; every corpus
  vector lands in its nearest-centroid cell (one scan, no shuffle of
  vectors), queries probe their ``nprobe`` nearest cells. Unlike sign-LSH
  buckets, IVF cells ADAPT to the data's cluster structure, so clustered
  embedding spaces get much better recall per candidate scored.

Both ANN paths share one tail (``_bucket_topk``: candidate join and
dedup, exact ``_cosine`` re-score, per-query ``_topk``); the near-dup
pair builders block through dedup's one blocked-pair join
(``bucket_pairs`` / ``drop_hot_buckets`` + ``with_pair_payload``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nametag3_spark.operators.dedup import (
    _persist,
    bucket_pairs,
    check_hash_family,
    drop_hot_buckets,
    with_pair_payload,
)
from nametag3_spark.operators.skew import spread_if_narrow


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def _cosine(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k of ``(query_id, neighbor_id, cosine)`` rows, ties
    broken by neighbor_id for determinism."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _bucket_topk(
    qb: DataFrame,
    cb: DataFrame,
    keys: list[str],
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The ANN tail: ``(query_id, keys…)`` query buckets (broadcast) ×
    ``(neighbor_id, keys…)`` corpus buckets → distinct candidates → query
    vectors broadcast, corpus vectors re-joined by id → exact cosine →
    top-k. The bucket join and the candidate dedup carry ids only; the
    big side never ships vectors through the bucket join."""
    cands = (
        F.broadcast(qb)
        .join(cb, keys)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    qv = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
        )
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cvec")
    )
    scored = cands.join(qv, "query_id").join(cv, "neighbor_id").select(
        "query_id",
        "neighbor_id",
        _cosine(F.col("_qvec"), F.col("_cvec")).alias("cosine"),
    )
    return _topk(scored, k)


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector.

    Queries are broadcast (they are the small side by construction);
    the corpus is scanned once — no shuffle of the big side.
    Output: (query_id, neighbor_id, cosine, rank), ties broken by
    neighbor_id for determinism.
    """
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
        )
    )
    # the per-pair dot/norm lambdas are interpreted per element: spread a
    # narrow corpus scan so the broadcast-crossJoin scoring parallelizes
    # instead of pinning |Q|×|C| HOF evaluations to one scan task
    c = spread_if_narrow(corpus, id_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cvec")
    )
    scored = q.crossJoin(c).where(F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        _cosine(F.col("_qvec"), F.col("_cvec")).alias("cosine"),
    )
    return _topk(scored, k)


# affine coefficients of the PORTABLE plane-weight hash: weight(i, p, t)
# = (((i*PLANE_A + (p+1)*PLANE_B + (t+1)*PLANE_C) % 2001) - 1000) / 1000
# — plain 64-bit integer arithmetic (max term ~7e10, no overflow) that
# DuckDB evaluates identically, making the whole sign-LSH bucket
# assignment cross-engine reproducible. xxhash64 stays the default.
PLANE_A = 1_103_515_245
PLANE_B = 12_345
PLANE_C = 2_654_435_761


def _plane_weight(i, p: int, table: int, plane_hash: str):
    """Per (table, plane, dim) pseudo-random weight in [-1, 1]."""
    check_hash_family("plane_hash", plane_hash)
    if plane_hash == "portable":
        c_pt = (p + 1) * PLANE_B + (table + 1) * PLANE_C
        h = F.pmod(
            i.cast("long") * F.lit(PLANE_A) + F.lit(c_pt), F.lit(2001)
        )
    else:
        h = F.pmod(F.xxhash64(i, F.lit(p), F.lit(table)), F.lit(2001))
    return (h.cast("double") - 1000.0) / 1000.0


def _hyperplane_sign_bits(
    vec_col: str, n_planes: int, table: int, plane_hash: str = "xxhash64"
):
    """Deterministic sign-LSH bucket id: for each plane p, weight of
    dimension i = a cheap integer hash mapped to [-1, 1]; bit = sign of
    the weighted sum. No stored random matrix — weights recompute
    identically everywhere (works on any executor, any cluster size).
    ``plane_hash="portable"`` swaps xxhash64 for the affine arithmetic
    DuckDB reproduces bit-for-bit (the projections are float32-corpus ×
    double-weight products folded in order from 0.0, so the sign test is
    cross-engine exact, not merely close)."""
    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        proj = F.aggregate(
            F.zip_with(
                F.col(vec_col),
                F.sequence(F.lit(0), F.size(F.col(vec_col)) - 1),
                # binding of p is safe: F.zip_with invokes the lambda
                # eagerly (expression construction) within this iteration
                lambda v, i: v * _plane_weight(i, p, table, plane_hash),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.shiftleft(F.when(proj > 0, 1).otherwise(0).cast("long"), p)
    return bucket


def _bucketize_ids(
    df: DataFrame, id_col: str, vec_col: str, n_planes: int, n_tables: int,
    plane_hash: str = "xxhash64",
) -> DataFrame:
    """(id, tbl, bucket) rows — IDS ONLY. The ×n_tables explode must not
    carry the vector payload: candidates shuffle 24-byte rows; vectors
    re-join by id after pair-dedup."""
    tables = F.array(
        *[
            F.struct(
                F.lit(t).alias("tbl"),
                _hyperplane_sign_bits(vec_col, n_planes, t, plane_hash)
                .alias("bucket"),
            )
            for t in range(n_tables)
        ]
    )
    return df.select(F.col(id_col), F.explode(tables).alias("b")).select(
        id_col, F.col("b.tbl"), F.col("b.bucket")
    )


def embedding_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 4,
    n_tables: int = 8,
    bucket_cap: int = 10000,
    plane_hash: str = "xxhash64",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine ≥
    threshold): sign-LSH self-bucketing for candidates, exact cosine
    verification — the dedup-by-embedding path of a training-data
    pipeline. Same scale shape as MinHash dedup: the ×n_tables
    (table, bucket) explode carries IDS ONLY and goes through
    ``dedup.bucket_pairs`` (buckets above ``bucket_cap`` skipped); vectors
    re-join by id through ``with_pair_payload``. The id-only bucket table
    feeds three branches (hot scan + both join sides) and the hyperplane
    projections are the CPU-heavy part, so it is computed on full
    parallelism and persisted — once, not per branch."""
    src = spread_if_narrow(vectors, id_col)
    buckets = _persist(
        _bucketize_ids(src, id_col, vec_col, n_planes, n_tables, plane_hash)
    )
    cands = bucket_pairs(buckets, id_col, ["tbl", "bucket"], bucket_cap)
    va, vb = F.col(f"{vec_col}_a"), F.col(f"{vec_col}_b")
    return (
        with_pair_payload(cands, vectors, id_col, vec_col)
        .select("id_a", "id_b", _cosine(va, vb).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 4,
    n_tables: int = 8,
    plane_hash: str = "xxhash64",
) -> DataFrame:
    """Approximate top-k: sign-LSH buckets (n_tables independent tables),
    exact cosine re-scoring inside matching buckets only.

    Defaults (4 planes × 8 tables) give ~0.7 top-3 recall on unclustered
    random embeddings while scoring ~1/4 of the corpus per query; fewer
    planes / more tables raises recall at candidate-count cost (3×12 →
    ~1.0 recall on the test corpus). Real embedding spaces with cluster
    structure get substantially better recall at the same settings.

    Scale shape: the corpus-side ×n_tables bucket explode carries IDS
    ONLY; candidates, re-scoring and top-k are ``_bucket_topk``."""
    qb = _bucketize_ids(
        queries, id_col, vec_col, n_planes, n_tables, plane_hash
    ).select(F.col(id_col).alias("query_id"), "tbl", "bucket")
    cb = _bucketize_ids(
        corpus, id_col, vec_col, n_planes, n_tables, plane_hash
    ).select(F.col(id_col).alias("neighbor_id"), "tbl", "bucket")
    return _bucket_topk(
        qb, cb, ["tbl", "bucket"], corpus, queries, k, id_col, vec_col
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: driver-trained coarse quantizer + cell join
# ---------------------------------------------------------------------------


# multiplier/modulus of the PORTABLE sample hash (Knuth multiplicative):
# plain integer arithmetic both Spark SQL and DuckDB evaluate identically,
# so the hash-ordered training sample — and therefore the trained
# centroids — can be reproduced outside Spark for oracle verification
PORTABLE_SAMPLE_A = 2_654_435_761
PORTABLE_SAMPLE_M = 4_294_967_296


def _spherical_kmeans(X, n_centroids: int, n_iters: int) -> list[list[float]]:
    """Lloyd iterations on unit-normalized rows; shared by the Spark
    trainer and the DuckDB oracle trainer so both produce bit-identical
    centroids from the same sample matrix. Init picks evenly spaced rows
    of the (hash-ordered) sample — deterministic, spread out."""
    import numpy as np

    X = np.asarray(X, dtype=np.float64)
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    X = X / norms
    n_centroids = min(n_centroids, len(X))
    C = X[np.linspace(0, len(X) - 1, n_centroids).astype(int)].copy()
    for _ in range(n_iters):
        assign = (X @ C.T).argmax(axis=1)
        for j in range(n_centroids):
            members = X[assign == j]
            if len(members):
                c = members.mean(axis=0)
                nrm = np.linalg.norm(c)
                if nrm > 0:
                    C[j] = c / nrm
    return [[float(v) for v in row] for row in C]


def train_ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_cap: int = 4096,
    n_iters: int = 8,
    sample_hash: str = "xxhash64",
) -> list[list[float]]:
    """Spherical k-means (Lloyd) on a bounded DETERMINISTIC sample.

    The sample is the ``sample_cap`` lowest-``hash(id)`` rows — a uniform
    pseudo-random draw that is identical on any cluster size and needs no
    stored RNG state (id tiebreak pins the order under hash collisions).
    ``sample_cap`` bounds the driver pull, so training cost is
    O(sample_cap × n_centroids × dim) regardless of corpus size — at
    100 TB centroid training never touches more than the sample; the full
    corpus is only scanned once, for assignment. Centroids are
    unit-normalized so nearest-by-dot == nearest-by-cosine.

    ``sample_hash="portable"`` orders by the Knuth multiplicative hash
    ``(id*2654435761) % 2^32`` instead of xxhash64 — plain arithmetic
    DuckDB reproduces, so ``train_ivf_centroids_duckdb`` can rebuild the
    identical sample (and centroids) for cross-engine verification.
    xxhash64 stays the default fast path."""
    check_hash_family("sample_hash", sample_hash)
    if sample_hash == "portable":
        order = F.pmod(
            F.col(id_col) * F.lit(PORTABLE_SAMPLE_A), F.lit(PORTABLE_SAMPLE_M)
        )
    else:
        order = F.xxhash64(F.col(id_col))
    rows = (
        corpus.select(F.col(vec_col))
        .orderBy(order, F.col(id_col))
        .limit(sample_cap)
        .collect()
    )
    return _spherical_kmeans([list(r[0]) for r in rows], n_centroids, n_iters)


def train_ivf_centroids_duckdb(
    parquet_path: str,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_cap: int = 4096,
    n_iters: int = 8,
) -> list[list[float]]:
    """Oracle-side twin of ``train_ivf_centroids(sample_hash="portable")``:
    rebuilds the identical hash-ordered sample with DuckDB and runs the
    SAME numpy Lloyd core, yielding bit-identical centroids — these are
    shipped into the oracle SQL as literals so DuckDB can recompute the
    whole IVF recall audit independently of Spark."""
    import duckdb

    rows = duckdb.connect().execute(
        f"""
        SELECT {vec_col} FROM '{parquet_path}'
        ORDER BY ({id_col} * {PORTABLE_SAMPLE_A}) % {PORTABLE_SAMPLE_M},
                 {id_col}
        LIMIT {sample_cap}
        """
    ).fetchall()
    return _spherical_kmeans([list(r[0]) for r in rows], n_centroids, n_iters)


def _centroid_literal(centroids: list[list[float]]):
    return F.array(
        *[F.array(*[F.lit(float(v)) for v in c]) for c in centroids]
    )


def _ivf_cells(vec_col: str, cents, nprobe: int):
    """array<int> of the ``nprobe`` nearest centroid cell ids (0-based).

    ONE nested higher-order expression (scores → struct sort → slice),
    not n_centroids parallel aggregate subtrees — a flat expression fan
    blows up codegen size and compile time dominates. The 2-arg
    transform lambda is deliberate:
    it receives (element, index), and the index IS the cell id."""
    scores = F.transform(cents, lambda c: _dot(F.col(vec_col), c))
    ranked = F.array_sort(
        F.transform(
            scores,
            lambda s, i: F.struct(
                (-s).alias("neg"), i.cast("int").alias("cell")
            ),
        )
    )
    return F.transform(F.slice(ranked, 1, nprobe), lambda st: st["cell"])


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    nprobe: int = 4,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Approximate top-k via an IVF coarse quantizer.

    Pass pre-trained ``centroids`` to skip training (production reuses
    one trained quantizer across queries/jobs). Scale shape mirrors
    ``lsh_bucket_topk`` (same ``_bucket_topk`` tail): the corpus-side
    cell table carries IDS ONLY — and unlike the LSH path's ×n_tables
    explode, top-1 assignment adds just ONE int per corpus vector; query
    cells are ×nprobe. Recall/cost dial: candidates scored per query ≈
    corpus × nprobe / n_centroids."""
    if centroids is None:
        centroids = train_ivf_centroids(corpus, n_centroids, id_col, vec_col)
    cents = _centroid_literal(centroids)
    cb = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.element_at(_ivf_cells(vec_col, cents, 1), 1).alias("cell"),
    )
    qb = queries.select(
        F.col(id_col).alias("query_id"),
        F.explode(_ivf_cells(vec_col, cents, nprobe)).alias("cell"),
    )
    return _bucket_topk(qb, cb, ["cell"], corpus, queries, k, id_col, vec_col)


def semantic_dedup_pairs(
    corpus: DataFrame,
    threshold: float,
    n_centroids: int = 16,
    centroids: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    hot_cell_cap: int | None = 100_000,
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs (Abbas et al. 2023): cluster
    the embedding space with the IVF coarse quantizer, then compare ONLY
    within-cluster pairs by exact cosine. The reference (nametag3) has no
    embedding dedup; this extends the training-data-pipeline surface.

    Scale shape: cell assignment adds ONE int per corpus vector (no
    explode); the within-cell self-join carries IDS ONLY and vectors
    re-join by id (``dedup.with_pair_payload``) for the cosine verify, so
    the quadratic term is per-cell, controlled by n_centroids (SemDeDup's
    own knob — clusters shrink as sqrt-ish of their count when you scale
    n_centroids with the corpus). ``hot_cell_cap`` skips degenerate cells
    through ``dedup.drop_hot_buckets``, as the LSH paths cap hot buckets
    (at 100 TB you raise n_centroids instead of paying n² on a cell).
    Unlike ``bucket_pairs`` the cell join needs no pair dedup: each id
    sits in exactly one cell, so a pair meets once — a dedup would only
    add a shuffle. Returns (id_a, id_b, cosine) with id_a < id_b.
    """
    if centroids is None:
        centroids = train_ivf_centroids(corpus, n_centroids, id_col, vec_col)
    cents = _centroid_literal(centroids)
    cells = corpus.select(
        F.col(id_col).alias("_id"),
        F.element_at(_ivf_cells(vec_col, cents, 1), 1).alias("cell"),
    )
    if hot_cell_cap is not None:
        cells = drop_hot_buckets(cells, ["cell"], hot_cell_cap)
    a = cells.select(F.col("_id").alias("id_a"), "cell")
    b = cells.select(F.col("_id").alias("id_b"), "cell")
    cand = a.join(b, "cell").where(F.col("id_a") < F.col("id_b")).select(
        "id_a", "id_b"
    )
    vecs = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_col)
    )
    va, vb = F.col(f"{vec_col}_a"), F.col(f"{vec_col}_b")
    return (
        with_pair_payload(cand, vecs, id_col, vec_col)
        .select("id_a", "id_b", _cosine(va, vb).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float,
    n_centroids: int = 16,
    centroids: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The consumable SemDeDup artifact: per-vector keep/drop decision
    (id, keep_id, is_dup), where keep_id is the smallest id in the
    vector's semantic-duplicate connected component. Composes
    ``semantic_dedup_pairs`` with the shared near-dup keep-list operator
    (pair set ≪ corpus; the corpus-side join carries (id, component)
    only — see dedup.dedup_keep_list for the CC scale story)."""
    from nametag3_spark.operators.dedup import dedup_keep_list

    pairs = semantic_dedup_pairs(
        corpus, threshold, n_centroids, centroids, id_col, vec_col
    )
    return dedup_keep_list(corpus, pairs.select("id_a", "id_b"), id_col=id_col)
