"""Explicit skew and co-location levers (north rule: "salted
repartitioning and AQE-tuned shuffles", SURVEY.md §4 custom item 1).

AQE's skew-join splitting (on in session.py) handles most runtime skew;
these utilities cover the two cases it can't:

* ``salted_join`` — joining a big fact against a small-but-hot dimension
  where ONE key dominates (head entities: millions of "Support" mentions
  against one gazetteer row). The dim side is replicated across
  ``n_salts`` salt values, the fact side gets a deterministic salt from a
  hash of the row, so the hot key's rows spread over ``n_salts`` reducers.
* ``write_bucketed`` / co-located self-join — pre-bucketing mentions by
  (conv_id, turn_idx) lets the co-mention self-join (and any later join
  on the same keys) run with NO exchange: the 100 TB pattern where one
  shuffle is paid once at write time and amortized over every downstream
  join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def spread_if_narrow(df: DataFrame, *keys: str, factor: int = 1) -> DataFrame:
    """Repartition by HIGH-CARDINALITY ``keys`` into ``factor`` × slots
    partitions iff the input has fewer partitions than the cluster has
    slots.

    A single-file, single-row-group parquet table scans as ONE task no
    matter what ``maxPartitionBytes`` says, so every expression chain and
    partial aggregation pipelined on that scan runs on one core (measured
    2-3× on the bench aggregates). The guard keeps this a no-op at
    warehouse scale, where scans are already wide — the repartition only
    fires for narrow inputs, where the shuffle it adds is by construction
    small (guide §2.4/§2.5: spread with a deterministic high-cardinality
    key, never ``rand()``)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target * factor, *keys)
    return df


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join fact⋈dim on ``key`` with the dim side exploded across
    ``n_salts`` salts — hot keys spread over n_salts reducers instead of
    one. Deterministic (salt = hash of the fact row's hashable columns).

    Only inner/left-flavored joins are valid: the dim side is replicated
    n_salts×, so a right/full join would emit each unmatched dim row once
    per salt. Map-typed fact columns are excluded from the salt hash
    (xxhash64 rejects maps)."""
    canon_how = how.lower().replace("_", "")
    if canon_how not in {"inner", "left", "leftouter", "leftsemi", "leftanti"}:
        raise ValueError(
            f"salted_join supports inner/left-flavored joins only, got {how!r}: "
            "the replicated dim side would duplicate unmatched right/full rows"
        )
    from pyspark.sql.types import ArrayType, MapType, StructType

    def _map_free(dt) -> bool:
        # xxhash64 rejects MapType anywhere in the tree, including maps
        # nested inside arrays/structs — filter those too, not just
        # top-level maps (an AnalysisException at execution otherwise)
        if isinstance(dt, MapType):
            return False
        if isinstance(dt, ArrayType):
            return _map_free(dt.elementType)
        if isinstance(dt, StructType):
            return all(_map_free(f.dataType) for f in dt.fields)
        return True

    hashable = [f.name for f in fact.schema.fields if _map_free(f.dataType)]
    if set(hashable) <= {key}:
        # nothing besides the join key survives the filter: hashing the
        # key alone would send every hot-key row to ONE salt (the exact
        # skew this function exists to break) — and an all-map schema
        # would make xxhash64() zero-arg. Spread by row position instead;
        # join-correct, though salt assignment then depends on input
        # partitioning rather than row content.
        salt_col = F.pmod(F.monotonically_increasing_id(), F.lit(n_salts))
    else:
        salt_col = F.pmod(F.xxhash64(*hashable), F.lit(n_salts))
    salted_dim = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    salted_fact = fact.withColumn("_salt", salt_col.cast("int"))
    return salted_fact.join(salted_dim, [key, "_salt"], how).drop("_salt")


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
) -> None:
    """Persist a table bucketed+sorted on join keys: downstream joins on
    those keys skip the exchange (paid once here)."""
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .format("parquet")
        .saveAsTable(table)
    )


def co_mention_join_bucketed(
    spark: SparkSession, table: str
) -> DataFrame:
    """The co-mention self-join over a bucketed mentions table — shuffle-
    free when ``table`` was written with write_bucketed on
    (conv_id, turn_idx)."""
    m = spark.table(table)
    left = m.select(
        "conv_id", "turn_idx", F.col("start_tok").alias("l_start"),
        F.col("surface").alias("l_surface"),
    )
    right = m.select(
        "conv_id", "turn_idx", F.col("start_tok").alias("r_start"),
        F.col("surface").alias("r_surface"),
    )
    return (
        left.join(right, ["conv_id", "turn_idx"])
        .where(F.col("l_start") < F.col("r_start"))
    )
