"""Deterministic synthetic multi-turn transcripts + gazetteer + gold tables.

Schema is exactly the BASELINE.json ``input_hint``:
``(conv_id:string, turn_idx:int32, role:string, text:string, tool:string,
ts:timestamp)``.

Generation is DISTRIBUTED (``mapInPandas`` over ``spark.range(n_convs)``)
and deterministic independent of partitioning: every conversation derives
its own ``numpy`` PCG64 stream from ``(seed, conv_id)``, so the same
``(n_convs, avg_turns, seed)`` always produces byte-identical tables at any
parallelism — which is what makes the N-vs-4N-cores scaling benchmark
apples-to-apples.

The generator plants gazetteer aliases at known token offsets, so it can
emit the GOLD mention/triple tables alongside. Exercised reference
behaviors (FIXTURES.md §1): ALL-CAPS alias variants (truecasing,
nametag3_dataset.py:347-353), decomposed unicode (NFC,
nametag3_dataset.py:363), very long turns (window splitting,
nametag3_dataset.py:397-405), nested entities (CNEC-style stacked labels),
Zipf-ish hot conversations and head entities (skew handling).
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nametag3_spark.session import local_frame

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)
GOLD_MENTION_SCHEMA = (
    "conv_id string, turn_idx int, start_tok int, end_tok int, "
    "label string, surface string, entity_id string"
)

ROLES = ["user", "assistant", "tool", "system"]
TOOLS = ["search", "calendar", "crm", "wiki", "mailer"]

# (entity_id, canonical_type, aliases); an alias is (tokens, nested) where
# nested is None or (offset, length, type, nested_entity_id) for a nested
# inner entity (CNEC-style stacking).
GAZETTEER: list[tuple[str, str, list[tuple[list[str], tuple | None]]]] = [
    ("E001", "PER", [(["John"], None), (["John", "Smith"], None)]),
    ("E002", "PER", [(["Mary"], None), (["Mary", "Jones"], None)]),
    ("E003", "PER", [(["Jan", "Novák"], None), (["Novák"], None)]),
    ("E004", "PER", [(["Alice", "Brown"], None), (["Alice"], None)]),
    ("E005", "PER", [(["Bob"], None)]),
    ("E006", "PER", [(["Eva", "Malá"], None)]),
    ("E007", "ORG", [(["Acme", "Corp"], None), (["Acme"], None)]),
    ("E008", "ORG", [(["Globex"], None)]),
    # nested: "Bank of New York" (ORG) contains "New York" (LOC) at off=2 len=2
    ("E009", "ORG", [(["Bank", "of", "New", "York"], (2, 2, "LOC", "E016"))]),
    # nested: "University of Prague" (ORG) contains "Prague" (LOC) at off=2 len=1
    ("E010", "ORG", [(["University", "of", "Prague"], (2, 1, "LOC", "E015"))]),
    ("E011", "ORG", [(["Initech"], None)]),
    ("E012", "LOC", [(["Paris"], None)]),
    ("E013", "LOC", [(["Berlin"], None)]),
    ("E014", "LOC", [(["New", "Zealand"], None)]),
    ("E015", "LOC", [(["Prague"], None), (["Praha"], None)]),
    ("E016", "LOC", [(["New", "York"], None)]),
    ("E017", "MISC", [(["Olympics"], None)]),
    ("E018", "MISC", [(["Brexit"], None)]),
    # head entities (skew): referenced far more often than the rest
    ("E019", "PER", [(["Admin"], None)]),
    ("E020", "ORG", [(["Support"], None)]),
]

# head-entity indices into the flat alias list get extra sampling mass
_FLAT_ALIASES: list[tuple[str, str, list[str], tuple | None]] = [
    (eid, etype, toks, nested)
    for eid, etype, aliases in GAZETTEER
    for toks, nested in aliases
]
_HEAD_ALIAS_IDX = [
    i for i, (eid, _, _, _) in enumerate(_FLAT_ALIASES) if eid in ("E019", "E020")
]

# templates: (pre_tokens, mid_tokens, post_tokens, n_slots in {1,2})
TEMPLATES: list[tuple[list[str], list[str], list[str], int]] = [
    ([], ["loves"], ["."], 2),
    (["I", "met"], [], ["yesterday", "."], 1),
    (["Did"], ["call"], ["?"], 2),
    (["The", "report", "mentions"], [], ["twice", "."], 1),
    (["Contact"], ["about", "the", "invoice", "from"], ["."], 2),
    (["We", "visited"], [], ["last", "summer", "."], 1),
    ([], ["works", "for"], ["now", "."], 2),
    (["Please", "forward", "this", "to"], [], ["today", "."], 1),
    (["According", "to"], [], ["the", "deal", "is", "closed", "."], 1),
    ([], ["met"], ["at", "the", "café", "."], 2),  # decomposed é → NFC test
]

_NO_MENTION_TEXTS = [
    "Thanks, that is all for now .",
    "Let me check the schedule .",
    "The weather is nice today .",
    "ok",
]

_LONG_FILLER = "filler"
_TS_BASE = datetime(2026, 1, 1, tzinfo=timezone.utc)


def _conv_rng(seed: int, conv: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64(np.random.SeedSequence([seed, conv])))


def _n_turns(rng: np.random.Generator, conv: int, n_convs: int, avg_turns: int) -> int:
    # ~1% hot conversations with ~20× the average turn count (skew tests)
    if conv < max(1, n_convs // 100):
        return avg_turns * 20
    return 1 + int(rng.integers(0, 2 * avg_turns))


def _pick_alias(rng: np.random.Generator) -> int:
    # 20% of mention slots go to head entities → skewed entity distribution
    if rng.random() < 0.2 and _HEAD_ALIAS_IDX:
        return _HEAD_ALIAS_IDX[int(rng.integers(0, len(_HEAD_ALIAS_IDX)))]
    return int(rng.integers(0, len(_FLAT_ALIASES)))


def _render_alias(tokens: list[str], caps: bool) -> list[str]:
    # caps variant exercises truecasing; the pipeline truecases
    # ALL-CAPS words back to Title case (nametag3_dataset.py:352)
    return [t.upper() for t in tokens] if caps else list(tokens)


def _truecased_surface(tokens: list[str], caps: bool) -> str:
    # what the pipeline sees post-truecase: UPPER → lower().title()
    return " ".join(t.upper().lower().title() if caps else t for t in tokens)


def generate_conversation(
    seed: int, conv: int, n_convs: int, avg_turns: int
) -> tuple[list[dict], list[dict]]:
    """One conversation's turns + gold mentions. Pure & deterministic."""
    rng = _conv_rng(seed, conv)
    conv_id = f"conv_{conv:06d}"
    n = _n_turns(rng, conv, n_convs, avg_turns)
    turns: list[dict] = []
    gold: list[dict] = []
    for t in range(n):
        role = ROLES[int(rng.integers(0, len(ROLES)))]
        tool = TOOLS[int(rng.integers(0, len(TOOLS)))] if role == "tool" else None
        ts = _TS_BASE + timedelta(seconds=conv * 3600 + t * 7)
        kind = rng.random()
        if kind < 0.15:  # no-mention turn
            text = _NO_MENTION_TEXTS[int(rng.integers(0, len(_NO_MENTION_TEXTS)))]
        elif kind < 0.17:  # very long turn (window-split test)
            eid, etype, atoks, nested = _FLAT_ALIASES[_pick_alias(rng)]
            filler = [_LONG_FILLER] * 300
            tokens = ["Regarding"] + list(atoks) + filler + ["."]
            text = " ".join(tokens)
            gold.extend(
                _gold_rows(conv_id, t, 1, atoks, etype, eid, nested, caps=False)
            )
        else:
            tpl = TEMPLATES[int(rng.integers(0, len(TEMPLATES)))]
            pre, mid, post, n_slots = tpl
            caps1 = rng.random() < 0.1
            i1 = _pick_alias(rng)
            eid1, et1, a1, n1 = _FLAT_ALIASES[i1]
            tokens = list(pre) + _render_alias(a1, caps1)
            gold.extend(_gold_rows(conv_id, t, len(pre), a1, et1, eid1, n1, caps1))
            if n_slots == 2:
                caps2 = rng.random() < 0.1
                i2 = _pick_alias(rng)
                eid2, et2, a2, n2 = _FLAT_ALIASES[i2]
                off2 = len(pre) + len(a1) + len(mid)
                tokens += list(mid) + _render_alias(a2, caps2)
                gold.extend(_gold_rows(conv_id, t, off2, a2, et2, eid2, n2, caps2))
            tokens += list(post)
            text = " ".join(tokens)
        turns.append(
            {
                "conv_id": conv_id,
                "turn_idx": t,
                "role": role,
                # raw text kept as generated (incl. decomposed é);
                # the pipeline is responsible for NFC normalization
                "text": text,
                "tool": tool,
                "ts": ts,
            }
        )
    return turns, gold


def _gold_rows(
    conv_id: str,
    turn_idx: int,
    offset: int,
    alias_tokens: list[str],
    etype: str,
    eid: str,
    nested: tuple | None,
    caps: bool,
) -> list[dict]:
    rows = [
        {
            "conv_id": conv_id,
            "turn_idx": turn_idx,
            "start_tok": offset,
            "end_tok": offset + len(alias_tokens) - 1,
            "label": etype,
            "surface": _truecased_surface(alias_tokens, caps),
            "entity_id": eid,
        }
    ]
    if nested is not None:
        noff, nlen, ntype, neid = nested
        rows.append(
            {
                "conv_id": conv_id,
                "turn_idx": turn_idx,
                "start_tok": offset + noff,
                "end_tok": offset + noff + nlen - 1,
                "label": ntype,
                "surface": _truecased_surface(
                    alias_tokens[noff : noff + nlen], caps
                ),
                "entity_id": neid,
            }
        )
    return rows


def _gen_partition(
    seed: int, n_convs: int, avg_turns: int, want_gold: bool
):
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_turns: list[dict] = []
            out_gold: list[dict] = []
            for conv in pdf["id"].tolist():
                turns, gold = generate_conversation(
                    seed, int(conv), n_convs, avg_turns
                )
                (out_gold if want_gold else out_turns).extend(
                    gold if want_gold else turns
                )
            if want_gold:
                yield pd.DataFrame(
                    out_gold,
                    columns=[
                        "conv_id",
                        "turn_idx",
                        "start_tok",
                        "end_tok",
                        "label",
                        "surface",
                        "entity_id",
                    ],
                )
            else:
                yield pd.DataFrame(
                    out_turns,
                    columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"],
                )

    return gen


def synth_transcripts(
    spark: SparkSession,
    n_convs: int = 50,
    avg_turns: int = 20,
    seed: int = 42,
    partitions: int | None = None,
) -> DataFrame:
    """Distributed deterministic transcripts table (input_hint schema)."""
    partitions = partitions or max(spark.sparkContext.defaultParallelism, 4)
    # round-robin repartition scatters the hot (low-id) conversations —
    # a plain ordered range would put every hot conv in partition 0 and
    # that fat task would dominate all narrow stages downstream
    base = spark.range(0, n_convs, 1, min(partitions, n_convs)).repartition(
        min(partitions, n_convs)
    )
    return base.mapInPandas(
        _gen_partition(seed, n_convs, avg_turns, want_gold=False),
        schema=TRANSCRIPT_SCHEMA,
    )


def synth_gold_mentions(
    spark: SparkSession,
    n_convs: int = 50,
    avg_turns: int = 20,
    seed: int = 42,
    partitions: int | None = None,
) -> DataFrame:
    """Gold mention spans the generator planted (differential oracle)."""
    partitions = partitions or max(spark.sparkContext.defaultParallelism, 4)
    base = spark.range(0, n_convs, 1, min(partitions, n_convs))
    return base.mapInPandas(
        _gen_partition(seed, n_convs, avg_turns, want_gold=True),
        schema=GOLD_MENTION_SCHEMA,
    )


def gazetteer_df(spark: SparkSession) -> DataFrame:
    """Small entity-linking reference table (broadcast side of J-link)."""
    rows = []
    for eid, etype, aliases in GAZETTEER:
        for toks, _nested in aliases:
            rows.append((eid, " ".join(toks), etype, len(toks)))
    return local_frame(
        spark,
        rows,
        "entity_id string, alias string, entity_type string, alias_ntok int",
    ).withColumn("alias_norm", F.lower(F.col("alias")))
