"""Training-time sampling operators (SURVEY.md §2.10 R1-R4, A5).

The reference's WeightedRandomSamplerFromDatasets draws dataset indices
from a multinomial over per-corpus weights, with four weighting schemes
(nametag3_dataset_collection.py:30-99,196-221). Spark mapping: compute the
per-corpus fraction dict on the driver (tiny groupBy), then ``sampleBy``
with a fixed seed — the shuffle-free stratified sample. Upsampling of
small corpora (the reference's replacement loop) = union of
``sample(withReplacement=True)`` draws.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nametag3_spark.session import local_frame


def corpus_weights(
    df: DataFrame,
    corpus_col: str = "corpus",
    scheme: str = "proportional",
    temperature: float = 2.0,
) -> dict[str, float]:
    """Per-corpus sampling weights, normalized to sum 1.

    Schemes (nametag3_dataset_collection.py:196-221):
      proportional — w ∝ corpus size
      uniform      — equal
      temperature_logits — softmax(size / T)
      temperature_probs  — (size ** (1/T)) normalized
    """
    counts = {
        r[corpus_col]: r["n"]
        for r in df.groupBy(corpus_col).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    if scheme == "proportional":
        raw = dict(counts)
    elif scheme == "uniform":
        raw = {k: 1.0 for k in counts}
    elif scheme == "temperature_logits":
        m = max(counts.values())
        raw = {k: math.exp((v - m) / temperature) for k, v in counts.items()}
    elif scheme == "temperature_probs":
        raw = {k: v ** (1.0 / temperature) for k, v in counts.items()}
    else:
        raise ValueError(f"unknown scheme: {scheme}")
    total = sum(raw.values())
    return {k: v / total for k, v in raw.items()}


def stratified_sample(
    df: DataFrame,
    target_rows: int,
    corpus_col: str = "corpus",
    scheme: str = "proportional",
    temperature: float = 2.0,
    seed: int = 42,
) -> DataFrame:
    """Draw ~target_rows with per-corpus weights; small corpora are
    upsampled WITH replacement when their quota exceeds their size (the
    reference's upsampling loop, nametag3_dataset_collection.py:60-84)."""
    counts = {
        r[corpus_col]: r["n"]
        for r in df.groupBy(corpus_col).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    weights = corpus_weights(df, corpus_col, scheme, temperature)
    parts = []
    for corpus, w in sorted(weights.items()):
        quota = target_rows * w
        frac = quota / counts[corpus]
        sub = df.where(F.col(corpus_col) == corpus)
        if frac <= 1.0:
            parts.append(sub.sample(withReplacement=False, fraction=frac, seed=seed))
        else:
            parts.append(sub.sample(withReplacement=True, fraction=frac, seed=seed))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # global shuffle with a seeded order (R1's final permutation)
    return out.orderBy(F.rand(seed))


def subword_masking(
    df: DataFrame, col: str, prob: float, mask_value, seed: int = 42
) -> DataFrame:
    """R3: replace a column's value with ``mask_value`` w.p. ``prob``."""
    return df.withColumn(
        col,
        F.when(F.rand(seed) < prob, F.lit(mask_value)).otherwise(F.col(col)),
    )


# affine constants of the portable corruption hash (same family as
# similarity.PLANE_*: plain 64-bit integer arithmetic both Spark and a
# SQL oracle evaluate identically; no engine-specific hash function).
# Inputs are first reduced mod NEG_M (~1e6) so every product stays ≤
# ~1.3e15 and the 4-term sum ≤ ~6e15 — far inside i64 under Spark's
# ANSI overflow checking, and small enough that DuckDB never promotes
# to HUGEINT (which would change the hash of the emitted column types).
NEG_M = 1_000_003
NEG_A = 1_103_515_245
NEG_B = 1_234_567_891
NEG_C = 987_654_323
NEG_D = 1_327_217_885


def negative_triples(
    positives: DataFrame,
    k: int = 2,
    subj_col: str = "subj_id",
    pred_col: str = "pred_id",
    obj_col: str = "obj_id",
    seed: int = 0,
) -> DataFrame:
    """Filtered negative sampling for KG-embedding training (the TransE
    recipe, Bordes et al. 2013): for every positive (s, p, o) emit up to
    ``k`` corrupted triples (s, p, o') where o' is a pseudo-random draw
    from the OBSERVED object vocabulary, minus any corruption that
    collides with a true triple (the "filtered" setting — unfiltered
    negatives poison ranking metrics with false negatives).

    Inputs are INTEGER ids (the embedding-table row ids a trainer needs
    anyway); the draw is a portable affine hash
        h(s,p,o,j) = ((s%M)·A + (p%M)·B + (o%M)·C + (j+seed+1)·D) mod P
        o'        = vocab[ h mod |vocab| ]
    — plain 64-bit arithmetic, so an independent SQL engine reproduces
    the exact sample (no engine RNG, no seed-order dependence).

    Scale shape: the object vocabulary with dense indices is
    |vocab|-bounded (entity count ≪ triple count) and broadcast to the
    corruption join; the filter against true triples is one left-anti
    shuffle on (s, p, o') — the minimum a filtered sampler pays. The
    ×k expansion is a JVM-side explode of a k-element literal array,
    never a Python loop.
    """
    P = 2_147_483_647  # 2^31 − 1 (Mersenne): mod keeps products in i64
    pos = positives.select(
        F.col(subj_col).cast("long").alias("s"),
        F.col(pred_col).cast("long").alias("p"),
        F.col(obj_col).cast("long").alias("o"),
    ).dropDuplicates(["s", "p", "o"])
    from pyspark.sql import Window

    vocab = (
        pos.select(F.col("o").alias("obj"))
        .distinct()
        .withColumn(
            "idx",
            F.row_number().over(Window.orderBy("obj")) - 1,
        )
    )
    n_vocab = vocab.count()  # bounded scalar: |entities|, not |triples|
    if n_vocab < 2:
        return local_frame(
            pos.sparkSession,
            [],
            f"{subj_col} long, {pred_col} long, {obj_col} long, neg_rank int",
        )
    j = F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("j")
    drawn = pos.select("s", "p", "o", j).withColumn(
        "_h",
        (
            (F.col("s") % NEG_M) * NEG_A
            + (F.col("p") % NEG_M) * NEG_B
            + (F.col("o") % NEG_M) * NEG_C
            + (F.col("j").cast("long") + seed + 1) * NEG_D
        )
        % P,
    ).withColumn("_idx", F.pmod("_h", F.lit(n_vocab)))
    corrupted = (
        drawn.join(F.broadcast(vocab), drawn._idx == vocab.idx)
        .where(F.col("obj") != F.col("o"))  # self-corruption is useless
        .select("s", "p", F.col("obj").alias("o_neg"), "j")
    )
    filtered = corrupted.join(
        pos.select("s", "p", F.col("o").alias("o_neg")),
        ["s", "p", "o_neg"],
        "left_anti",
    )
    return filtered.select(
        F.col("s").alias(subj_col),
        F.col("p").alias(pred_col),
        F.col("o_neg").alias(obj_col),
        F.col("j").cast("int").alias("neg_rank"),
    )
