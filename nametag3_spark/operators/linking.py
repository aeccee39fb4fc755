"""Entity linking: mention → gazetteer candidates → canonical-ready edges.

Two tiers, per the north rule:

1. **Broadcast exact join** — the gazetteer is small (≪ executor memory
   even at millions of aliases), so ``F.broadcast`` keeps the big mentions
   side shuffle-free. Match on normalized surface (lower + NFC happens
   upstream).
2. **MinHash-LSH blocking** for fuzzy candidates — char-3-gram shingles
   exploded into ``xxhash64`` rows and fed to dedup's MinHash/LSH
   primitive (``dedup.minhash_sigs`` + ``dedup.lsh_bands``, the same code
   near-dup detection runs, here with 12 hashes in 4 bands); mentions and
   aliases that share a band bucket become candidate pairs, verified by
   Jaccard on their shingle-HASH sets (no re-shingling).
   All built-in codegen'd SQL functions, NOT a Python loop or interpreted
   lambdas, so it scales: the candidate join is an equi-join on
   (band_idx, band_hash) that AQE can split on skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nametag3_spark.operators.dedup import jaccard, lsh_bands, minhash_sigs

N_HASHES = 12
N_BANDS = 4  # rows per band = N_HASHES / N_BANDS
SHINGLE_K = 3
# distinct unmatched surfaces above which the best-candidate map must NOT
# be broadcast (same role as canonicalize.BROADCAST_EDGE_LIMIT): at 10^12
# turns the unmatched-surface set (typos, novel entities) is the part of
# the data most likely to be unbounded
BROADCAST_SURFACE_LIMIT = 2_000_000


def link_exact(mentions: DataFrame, gazetteer: DataFrame) -> DataFrame:
    """Broadcast equi-join on normalized surface; adds entity_id (nullable)."""
    gaz = F.broadcast(
        gazetteer.select(
            F.col("alias_norm"),
            F.col("entity_id"),
            F.col("entity_type"),
        )
    )
    return mentions.join(
        gaz,
        (mentions["mention_norm"] == gaz["alias_norm"])
        & (mentions["label"] == gaz["entity_type"]),
        "left",
    ).drop("alias_norm", "entity_type")


def _char_shingle_hash_rows(
    df: DataFrame, id_cols: list[str], text_col: str
) -> DataFrame:
    """``(id_cols…, _h)`` rows: one row per char-3-gram of the ``^…$``-padded
    string, hashed with ``xxhash64`` — the explode/codegen input of
    ``dedup.minhash_sigs``. A padded string shorter than one gram yields
    itself as its only shingle."""
    padded = F.concat(F.lit("^"), F.col(text_col), F.lit("$"))
    return (
        df.select(*id_cols, padded.alias("_p"))
        .select(
            *id_cols,
            "_p",
            F.explode(
                F.sequence(
                    F.lit(1), F.greatest(F.length("_p") - SHINGLE_K + 1, F.lit(1))
                )
            ).alias("_i"),
        )
        .select(
            *id_cols,
            F.xxhash64(F.col("_p").substr(F.col("_i"), F.lit(SHINGLE_K)))
            .alias("_h"),
        )
    )


def lsh_candidates(
    mentions: DataFrame,
    gazetteer: DataFrame,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Fuzzy mention→alias candidates via banded MinHash + Jaccard verify.

    Returns (mention_norm, entity_id, jaccard). Distinct mention surfaces
    are deduped FIRST (``groupBy mention_norm``) so head entities with
    millions of identical mentions cost one signature, not millions —
    the main skew lever at 100 TB.

    Unlike dedup's documents, a surface's shingle-hash set is a few dozen
    longs, so each side's ``_hs`` rides its own band rows through the
    band join: one signature aggregate per side and no id re-join (a
    re-join by id measured ~15% slower for the whole linking stage on
    22k mentions, local[4] on a 4-core host: the extra gazetteer
    aggregate, broadcast and sort-merge join cost more than the payload
    saves). The candidate dedup keys on ids only and stays inside the
    mention side's ``mention_norm`` partitioning — no extra shuffle.
    """
    g_ids = ["entity_id", "alias_norm"]
    surfaces = mentions.select("mention_norm").distinct()
    m_sigs = minhash_sigs(
        _char_shingle_hash_rows(surfaces, ["mention_norm"], "mention_norm"),
        ["mention_norm"],
        N_HASHES,
    ).withColumnRenamed("_hs", "_hs_m")
    g_sigs = minhash_sigs(
        _char_shingle_hash_rows(gazetteer.select(*g_ids), g_ids, "alias_norm"),
        g_ids,
        N_HASHES,
    ).withColumnRenamed("_hs", "_hs_g")

    m_bands = lsh_bands(m_sigs, ["mention_norm", "_hs_m"], N_HASHES, N_BANDS)
    g_bands = lsh_bands(g_sigs, [*g_ids, "_hs_g"], N_HASHES, N_BANDS)
    return (
        m_bands.join(  # gazetteer side stays broadcastable
            F.broadcast(g_bands), ["band_idx", "band_hash"]
        )
        .dropDuplicates(["mention_norm", *g_ids])
        .withColumn("jaccard", jaccard("_hs_m", "_hs_g"))
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("mention_norm", "entity_id", "jaccard")
    )


def link_mentions(
    mentions: DataFrame,
    gazetteer: DataFrame,
    fuzzy: bool = True,
    broadcast_surface_limit: int = BROADCAST_SURFACE_LIMIT,
) -> DataFrame:
    """Exact broadcast link, then LSH fallback for unmatched surfaces.

    Output: mentions + ``entity_id`` (nullable) + ``link_method``
    (exact | lsh | null).

    A cheap ``approx_count_distinct`` over the unmatched side sizes the
    fuzzy tier. At 0 (HLL++ reads 0 only when no surface was added) the
    LSH tier is not planned and the rows are the ``fuzzy=False`` rows.
    Otherwise the best-candidate map (one row per distinct unmatched
    surface) is broadcast only under ``broadcast_surface_limit``; over
    it, it joins by shuffle and AQE picks the physical strategy from
    runtime stats. Mirrors canonicalize.py's edge-bounded map guard.
    """
    exact = link_exact(mentions, gazetteer)
    unmatched = exact.where(F.col("entity_id").isNull()).drop("entity_id")
    # single-row partial aggregation — no shuffle of the data, one scan
    # of the mentions input (a parquet snapshot read in PipelineRun)
    n_unmatched = 0
    if fuzzy:
        n_unmatched = unmatched.agg(F.approx_count_distinct("mention_norm")).first()[0]
    if n_unmatched == 0:
        return exact.withColumn(
            "link_method",
            F.when(F.col("entity_id").isNotNull(), F.lit("exact")),
        )
    matched = exact.where(F.col("entity_id").isNotNull()).withColumn(
        "link_method", F.lit("exact")
    )
    lsh = lsh_candidates(unmatched, gazetteer)
    # best candidate per surface (highest jaccard, stable tiebreak on id)
    best = (
        lsh.withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy("mention_norm").orderBy(
                    F.col("jaccard").desc(), F.col("entity_id")
                )
            ),
        )
        .where(F.col("_rk") == 1)
        .select("mention_norm", "entity_id")
    )
    if n_unmatched <= broadcast_surface_limit:
        best = F.broadcast(best)
    fuzzy_linked = unmatched.join(best, "mention_norm", "left").withColumn(
        "link_method",
        F.when(F.col("entity_id").isNotNull(), F.lit("lsh")),
    )
    return matched.unionByName(fuzzy_linked)
