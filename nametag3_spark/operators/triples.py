"""Mentions and (subj, pred, obj) triple emission.

The reference's closest artifact to a triple is the vertical entity sink —
one entity per line ``token_ids \\t TYPE \\t surface``
(nametag3_server.py:278-320, conll2eval_nested.py:39-100). We generalize it:
each decoded mention plus its turn's role/tool context becomes SPO rows
with ``(conv_id, turn_idx)`` provenance anchors.

Everything here is built-in DataFrame ops (explode / slice / join) so
Catalyst handles pushdown and AQE handles skew; the only Python upstream
is the inference pass, which already decoded the spans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def extract_mentions(labeled: DataFrame) -> DataFrame:
    """labeled turns (``annotate_turns`` output: tokens + decoded spans) →
    one row per mention.

    The spans come from the shared decode automaton (W5), run in the same
    Python pass that scored the turn; uniqueness and outermost-first
    ordering are its guarantees (U3/W6), so no extra dropDuplicates here.
    """
    mention = F.explode("spans").alias("mention")
    return (
        labeled.select(
            "conv_id",
            "turn_idx",
            "role",
            "tool",
            "ts",
            "tokens",
            mention,
        )
        .select(
            "conv_id",
            "turn_idx",
            "role",
            "tool",
            "ts",
            F.col("mention.label").alias("label"),
            F.col("mention.start_tok").alias("start_tok"),
            F.col("mention.end_tok").alias("end_tok"),
            F.array_join(
                F.slice(
                    F.col("tokens"),
                    F.col("mention.start_tok") + 1,
                    F.col("mention.end_tok") - F.col("mention.start_tok") + 1,
                ),
                " ",
            ).alias("surface"),
        )
        .withColumn("mention_norm", F.lower(F.col("surface")))
    )


def _subject_col() -> "F.Column":
    # pre-linking subject key; replaced by canonical entity id post-linking
    return F.coalesce(
        F.col("entity_canonical"), F.concat(F.lit("m:"), F.col("mention_norm"))
    )


def emit_triples(mentions: DataFrame) -> DataFrame:
    """mentions (optionally with ``entity_canonical``) → SPO rows.

    Emitted predicates:
      * ``type``            — (entity, type, LABEL)
      * ``mentioned_by_<role>`` / ``observed_via_<tool>`` — turn anchor
      * ``co_mentioned_with`` — ordered co-occurrence inside one turn
    """
    if "entity_canonical" not in mentions.columns:
        mentions = mentions.withColumn("entity_canonical", F.lit(None).cast("string"))
    subj = _subject_col()
    anchor = F.concat_ws("#", F.col("conv_id"), F.col("turn_idx").cast("string"))

    # type + anchor triples come from ONE scan via a 2-struct explode
    # instead of two union branches: at 10^12 mentions that is one fewer
    # full pass over the table, and on the bench it shaves a
    # width-independent second of plan/stage overhead off every job
    # (round-3 F-decomposition: the triples stage carried ~2.9s of fixed
    # cost, the largest single F term)
    anchor_pred = F.when(
        F.col("tool").isNotNull(), F.concat(F.lit("observed_via_"), F.col("tool"))
    ).otherwise(F.concat(F.lit("mentioned_by_"), F.col("role")))
    type_and_anchor = mentions.select(
        F.explode(
            F.array(
                F.struct(
                    subj.alias("subj"),
                    F.lit("type").alias("pred"),
                    F.col("label").alias("obj"),
                ),
                F.struct(
                    subj.alias("subj"),
                    anchor_pred.alias("pred"),
                    anchor.alias("obj"),
                ),
            )
        ).alias("t"),
        "conv_id",
        "turn_idx",
    ).select("t.subj", "t.pred", "t.obj", "conv_id", "turn_idx")

    # Co-mentions: ONE groupBy shuffle + JVM-side pair expansion instead
    # of a self-join (SortMergeJoin pays two exchanges + sorts — measured
    # ~3s at sf-bench scale REGARDLESS of core count, a pure Amdahl term).
    # Mentions-per-turn is small and bounded, so the per-turn array is
    # tiny and the combination explode is cheap. The 2-arg transform
    # lambda receives (element, index) — used here deliberately to slice
    # the strictly-later elements.
    per_turn = mentions.groupBy("conv_id", "turn_idx").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("start_tok").alias("s"), subj.alias("m")))
        ).alias("ms")
    )
    pair = F.explode(
        F.flatten(
            F.transform(
                "ms",
                lambda x, i: F.filter(
                    F.transform(
                        F.slice(F.col("ms"), i + 2, F.size(F.col("ms"))),
                        lambda y: F.struct(
                            x["m"].alias("subj"),
                            y["m"].alias("obj"),
                            (x["s"] < y["s"]).alias("keep"),
                        ),
                    ),
                    lambda p: p["keep"],
                ),
            )
        )
    ).alias("p")
    co_triples = per_turn.select("conv_id", "turn_idx", pair).select(
        F.col("p.subj").alias("subj"),
        F.lit("co_mentioned_with").alias("pred"),
        F.col("p.obj").alias("obj"),
        "conv_id",
        "turn_idx",
    )
    return type_and_anchor.unionByName(co_triples)


def merge_latest(
    existing: DataFrame,
    updates: DataFrame,
    keys: list[str],
    order_cols: list[str],
) -> DataFrame:
    """MERGE/upsert for graph materialization: per key, the row with the
    greatest ``order_cols`` wins; on an exact order tie the UPDATES side
    wins (the Iceberg ``MERGE INTO … WHEN MATCHED THEN UPDATE`` analog,
    run as a plain dataflow so it works on any table format).

    This is the log-compaction primitive a KG materializer needs: the
    triple store holds current state per (subj, pred); each pipeline
    epoch emits an update log; compaction keeps the latest assertion.

    Scale shape: one union (no shuffle) + one shuffle on ``keys`` for
    the per-key window — the minimum any merge pays. At warehouse scale
    the win is bucketing both tables by ``keys`` so the window reuses
    the table layout and the exchange disappears; with Iceberg jars
    present the same call maps to a real MERGE INTO. No broadcast
    anywhere: both sides are corpus-sized.
    """
    from pyspark.sql import Window

    a = existing.withColumn("_src_pri", F.lit(0))
    b = updates.withColumn("_src_pri", F.lit(1))
    w = Window.partitionBy(*keys).orderBy(
        *[F.col(c).desc() for c in order_cols], F.col("_src_pri").desc()
    )
    return (
        a.unionByName(b)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "_src_pri")
    )


def property_table(
    triples: DataFrame,
    predicates: list[str],
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> DataFrame:
    """SPO triples → the classic RDF *property table* layout (one row
    per subject, one column per predicate) — the standard relational
    re-materialization that turns star-shaped SPARQL patterns into
    single-table scans instead of k-way self-joins (Wilkinson 2006;
    S2RDF and friends use the same trick on Spark).

    Multi-valued predicates collapse deterministically: the emitted cell
    is MAX(obj) plus an ``n_<pred>`` multiplicity count, so consumers
    can tell single-valued facts from collapsed sets without a second
    query. Subjects lacking a predicate get NULL / 0.

    Scale shape: ONE shuffle on subject, conditional aggregation with
    map-side partials (a pivot with an explicit, bounded predicate list
    — never ``pivot()`` with inferred values, which triggers an extra
    distinct job over the corpus). The predicate list is a plan literal,
    so Catalyst prunes any predicate's branch a downstream projection
    drops; at warehouse scale the same call over a subject-bucketed
    triple store skips the exchange entirely.
    """
    aggs = []
    for p in predicates:
        safe = p.replace(".", "_")
        hit = F.when(F.col(pred_col) == p, F.col(obj_col))
        aggs.append(F.max(hit).alias(safe))
        aggs.append(
            F.sum(F.when(F.col(pred_col) == p, 1).otherwise(0))
            .cast("long")
            .alias(f"n_{safe}")
        )
    return (
        triples.where(F.col(pred_col).isin(list(predicates)))
        .groupBy(F.col(subj_col).alias("subj"))
        .agg(*aggs)
    )
