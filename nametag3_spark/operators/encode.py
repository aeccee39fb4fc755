"""Window packing + subword encoding (SURVEY.md T1-T6): the packers and
their relational inverse.

The reference greedily packs consecutive sentences into ≤512-subword
windows with [CLS]/[SEP] framing, breaking at document boundaries and
splitting over-long sentences into continuation windows
(nametag3_dataset.py:273-306,355-417); prediction then walks window/
sentence indices to realign labels (nametag3_model.py:963-1042). Our
design carries ``(conv_id, turn_idx, token_idx)`` keys through every
window explicitly, so realignment is a relational explode + keyed
``collect_list`` (``unpack_windows``) instead of an order-sensitive index
walk — the reference's fiddliest code becomes a schema invariant.
Scoring itself stays per turn (``infer.annotate_turns``); the windows map
back onto those turns by key.

Per-conversation packing is order-dependent sequential folding →
``applyInPandas`` over ``groupBy(conv_id)`` with an in-group sort. Across
conversations it's embarrassingly parallel; hot conversations produce
many windows but the fold itself is linear.

Subword tokenization is pluggable: ``ChunkSubwordTokenizer`` is the
deterministic dependency-free stand-in (≤4-char chunks); the HF tokenizer
drops into the same interface when transformers is available.
"""

from __future__ import annotations

import zlib
from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CLS_ID = 0
SEP_ID = 2
UNK_ID = 3
PAD_ID = 1
BATCH_PAD = -1  # reference pad value (nametag3_dataset.py:31)

MAX_SUBWORDS_PER_WORD = 510  # guard, nametag3_dataset.py:357,394


class ChunkSubwordTokenizer:
    """Deterministic BPE-ish stand-in: a word becomes ceil(len/4) chunks;
    ids are stable hashes of the chunk text. Same interface the HF
    tokenizer adapter implements (encode pre-split words)."""

    vocab_offset = 10  # ids below are specials

    def encode_words(self, words: list[str]) -> list[list[int]]:
        out = []
        for w in words:
            if not w:
                out.append([UNK_ID])
                continue
            chunks = [w[i : i + 4] for i in range(0, len(w), 4)]
            # crc32, not builtin hash(): ids must be identical across
            # driver/executors/sessions regardless of PYTHONHASHSEED, or
            # persisted windows and mock-label parity are irreproducible.
            out.append(
                [
                    self.vocab_offset + (zlib.crc32(c.encode("utf-8")) & 0x7FFFFF)
                    for c in chunks
                ]
            )
        return out


WINDOW_SCHEMA = (
    "conv_id string, window_idx int, input_ids array<int>, "
    "word_ids array<int>, word_keys array<struct<turn_idx int, token_idx int>>, "
    "words array<string>"
)


def pack_words(
    word_subwords: list[list[int]],
    word_keys: list[tuple[int, int]],
    max_len: int = 512,
) -> list[dict]:
    """Greedy fold of one conversation's words into ≤max_len windows.

    Mirrors the reference semantics: running window starts with [CLS];
    a word whose subwords would push past ``max_len - 1`` (room for
    [SEP]) closes the window and starts a continuation; words never
    split across windows (a single word longer than the budget raises,
    as the reference does at 510 subwords/word)."""
    windows: list[dict] = []
    cur_ids: list[int] = [CLS_ID]
    cur_word_ids: list[int] = []
    cur_keys: list[tuple[int, int]] = []

    def flush() -> None:
        nonlocal cur_ids, cur_word_ids, cur_keys
        if cur_word_ids:
            cur_ids.append(SEP_ID)
            windows.append(
                {
                    "input_ids": cur_ids,
                    "word_ids": cur_word_ids,
                    "word_keys": cur_keys,
                }
            )
        cur_ids, cur_word_ids, cur_keys = [CLS_ID], [], []

    # effective per-word budget: the frame's own capacity (max_len minus
    # [CLS]/[SEP]) can be tighter than the global cap — without the min,
    # a word with max_len-2 < len(subs) <= cap would pass the guard,
    # flush() on the fresh window would no-op, and the emitted window
    # would silently exceed max_len
    word_budget = min(MAX_SUBWORDS_PER_WORD, max_len - 2)
    for subs, key in zip(word_subwords, word_keys):
        if len(subs) > word_budget:
            raise ValueError(
                f"word at {key} explodes to {len(subs)} subwords "
                f"(limit {word_budget})"
            )
        if len(cur_ids) + len(subs) + 1 >= max_len:
            flush()
        cur_word_ids.append(len(cur_ids))
        cur_ids.extend(subs)
        cur_keys.append(key)
    flush()
    return windows


def _pack_group(max_len: int):
    tokenizer = ChunkSubwordTokenizer()

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("turn_idx")
        conv_id = pdf["conv_id"].iloc[0]
        windows: list[dict] = []
        cur_ids: list[int] = [CLS_ID]
        cur_word_ids: list[int] = []
        cur_keys: list[dict] = []
        cur_words: list[str] = []

        def flush() -> None:
            nonlocal cur_ids, cur_word_ids, cur_keys, cur_words
            if cur_word_ids:
                cur_ids.append(SEP_ID)
                windows.append(
                    {
                        "input_ids": cur_ids,
                        "word_ids": cur_word_ids,
                        "word_keys": cur_keys,
                        "words": cur_words,
                    }
                )
            cur_ids, cur_word_ids, cur_keys, cur_words = [CLS_ID], [], [], []

        for turn_idx, tokens in zip(pdf["turn_idx"], pdf["tokens"]):
            toks = list(tokens) if tokens is not None else []
            subs_list = tokenizer.encode_words(toks)
            turn_len = sum(len(s) for s in subs_list)
            # Pack WHOLE TURNS greedily (the reference packs whole
            # sentences, nametag3_dataset.py:273-306): if this turn would
            # overflow the running window but fits a fresh one, close the
            # window at the turn boundary. Only a turn that alone exceeds
            # the frame splits into continuation windows (ref :355-417).
            if (
                cur_word_ids
                and len(cur_ids) + turn_len + 1 >= max_len
                and 1 + turn_len + 1 < max_len
            ):
                flush()
            for token_idx, (subs, tok) in enumerate(zip(subs_list, toks)):
                # same effective-budget guard as pack_words: the frame
                # capacity (max_len - 2) binds before the global cap
                if len(subs) > min(MAX_SUBWORDS_PER_WORD, max_len - 2):
                    raise ValueError(
                        f"word at ({turn_idx},{token_idx}) explodes to "
                        f"{len(subs)} subwords "
                        f"(limit {min(MAX_SUBWORDS_PER_WORD, max_len - 2)})"
                    )
                if len(cur_ids) + len(subs) + 1 >= max_len:
                    flush()  # oversized-turn continuation window
                cur_word_ids.append(len(cur_ids))
                cur_ids.extend(subs)
                cur_keys.append(
                    {"turn_idx": int(turn_idx), "token_idx": token_idx}
                )
                cur_words.append(tok)
        flush()

        return pd.DataFrame(
            {
                "conv_id": [conv_id] * len(windows),
                "window_idx": list(range(len(windows))),
                "input_ids": [w["input_ids"] for w in windows],
                "word_ids": [w["word_ids"] for w in windows],
                "word_keys": [w["word_keys"] for w in windows],
                "words": [w["words"] for w in windows],
            }
        )

    return fn


def pack_conversations(labeled: DataFrame, max_len: int = 512) -> DataFrame:
    """tokens per turn → packed windows per conversation (T3).

    One shuffle on conv_id; the in-group fold is the order-dependent part
    and cannot be a window function (byte-budgeted greedy packing)."""
    return (
        labeled.select("conv_id", "turn_idx", "tokens")
        .groupBy("conv_id")
        .applyInPandas(_pack_group(max_len), schema=WINDOW_SCHEMA)
    )


def unpack_windows(windows: DataFrame) -> DataFrame:
    """Packed windows → (conv_id, turn_idx, tokens): the inverse of the
    packers (J1 realignment), JVM-only. Every word carries its
    ``(turn_idx, token_idx)`` key, so the words of a turn split across
    continuation windows regroup by key and order by ``token_idx`` —
    whatever the window or partition order. Turns without words have no
    window and no row."""
    word = F.explode(F.arrays_zip("word_keys", "words")).alias("w")
    return (
        windows.select("conv_id", word)
        .groupBy("conv_id", F.col("w.word_keys.turn_idx").alias("turn_idx"))
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("w.word_keys.token_idx").alias("token_idx"),
                        F.col("w.words").alias("word"),
                    )
                )
            ).alias("keyed")
        )
        .select("conv_id", "turn_idx", F.col("keyed.word").alias("tokens"))
    )


def _context_pack_group(max_len: int, context_budget: int):
    tokenizer = ChunkSubwordTokenizer()

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("turn_idx")
        conv_id = pdf["conv_id"].iloc[0]
        rows = {
            "conv_id": [], "window_idx": [], "input_ids": [],
            "word_ids": [], "word_keys": [], "words": [],
        }
        # running deque of (subword_ids,) for preceding turns
        context: list[list[int]] = []
        context_len = 0
        for widx, (turn_idx, tokens) in enumerate(
            zip(pdf["turn_idx"], pdf["tokens"])
        ):
            toks = list(tokens) if tokens is not None else []
            word_subs = tokenizer.encode_words(toks)
            turn_len = sum(len(s) for s in word_subs)
            # Evict context BEFORE framing so the WHOLE current turn fits
            # (budget leaves room for [CLS]/[SEP] under the strict `>=`
            # check below). The reference (nametag3_dataset.py max_context)
            # extends the context with the current sentence first, then
            # trims from the LEFT — the current sentence always survives;
            # only preceding context is sacrificed.
            eff_budget = min(context_budget, max_len - 3 - turn_len)
            while context and context_len > max(eff_budget, 0):
                context_len -= len(context[0])
                context.pop(0)
            # frame: [CLS] + context subwords + turn subwords + [SEP]
            input_ids = [CLS_ID]
            for subs in context:
                input_ids.extend(subs)
            word_ids, keys = [], []
            for token_idx, subs in enumerate(word_subs):
                if len(input_ids) + len(subs) + 1 >= max_len:
                    # only reachable when the turn ALONE exceeds the frame
                    # (context already fully evicted) — pathological >510-
                    # subword turn; truncate its tail like the reference's
                    # per-word guard.
                    break
                word_ids.append(len(input_ids))
                input_ids.extend(subs)
                keys.append({"turn_idx": int(turn_idx), "token_idx": token_idx})
            input_ids.append(SEP_ID)
            rows["conv_id"].append(conv_id)
            rows["window_idx"].append(widx)
            rows["input_ids"].append(input_ids)
            rows["word_ids"].append(word_ids)
            rows["word_keys"].append(keys)
            rows["words"].append(toks[: len(keys)])
            # slide the context: append this turn, evict from the front
            # until within budget (reference keeps the last ≤509 subwords,
            # nametag3_dataset.py:484-515)
            flat = [s for subs in word_subs for s in subs]
            context.append(flat)
            context_len += len(flat)
            while context and context_len > context_budget:
                context_len -= len(context[0])
                context.pop(0)

        return pd.DataFrame(rows)

    return fn


def pack_with_left_context(
    labeled: DataFrame, max_len: int = 512, context_budget: int = 509
) -> DataFrame:
    """T4 (``--context_type max_context/document``): each turn becomes one
    window carrying a byte-budgeted sliding context of preceding turns'
    subwords; ``word_ids`` point only at the CURRENT turn's words (context
    words are attended to but not labeled), shifted past the context —
    the reference's word_ids re-basing (nametag3_dataset.py:484-515).
    Context resets at conversation boundaries (document mode: one conv =
    one document)."""
    return (
        labeled.select("conv_id", "turn_idx", "tokens")
        .groupBy("conv_id")
        .applyInPandas(_context_pack_group(max_len, context_budget), schema=WINDOW_SCHEMA)
    )


def pad_batch(seqs: Iterable[list[int]], pad_value: int = BATCH_PAD) -> np.ndarray:
    """Dynamic per-batch padding (T6/X2): pad to the batch max, not a
    global max — the reference's pad_collate (nametag3_dataset.py:67-78)."""
    seqs = [np.asarray(s, dtype=np.int64) for s in seqs]
    if not seqs:
        return np.empty((0, 0), dtype=np.int64)
    width = max(len(s) for s in seqs)
    out = np.full((len(seqs), width), pad_value, dtype=np.int64)
    for i, s in enumerate(seqs):
        out[i, : len(s)] = s
    return out
