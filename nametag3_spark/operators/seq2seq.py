"""Seq2seq nested-label decoding head (SURVEY.md W7, T5).

The reference's nested decoder is an autoregressive LSTM loop with hard
attention: at each step it emits one SUBLABEL id for the word under the
pointer; emitting ``<eow>`` advances the pointer; a token is force-closed
after ``max_labels_per_token`` (5) sublabels; total steps are bounded by
5× the word count (nametag3_model.py:175-243, caps at :202,224). A word's
stacked label is its sublabels joined with ``|``
(linearization T5, nametag3_dataset.py:517-526).

This module implements that loop BATCHED in NumPy, model-agnostic: the
caller provides ``step_fn(prev_ids, word_ptrs, states) → (logits,
states)``. Tests drive it with a deterministic mock; the torch LSTM cell
plugs into the same signature. Runs inside the inference ``mapInPandas``
— vectorized across the batch, sequential only over decode steps, exactly
the reference's execution shape.
"""

from __future__ import annotations

from typing import Callable

import numpy as np

from nametag3_spark.functions.labels import BOS, CONTROL_LABELS, EOW

MAX_LABELS_PER_TOKEN = 5  # reference --max_labels_per_token default


def decode_autoregressive(
    step_fn: Callable,
    word_counts: list[int],
    max_labels_per_token: int = MAX_LABELS_PER_TOKEN,
) -> list[list[list[int]]]:
    """Batched greedy autoregressive decode.

    Args:
        step_fn: (prev_ids [B] int64, word_ptrs [B] int64, states) →
            (logits [B, vocab] float, states). Inactive rows may return
            arbitrary logits (masked out here).
        word_counts: words per sequence (B entries).

    Returns:
        per sequence: per word: list of sublabel ids (EOW excluded).
    """
    batch = len(word_counts)
    counts = np.asarray(word_counts, dtype=np.int64)
    out: list[list[list[int]]] = [[[] for _ in range(c)] for c in counts]

    prev = np.full(batch, BOS, dtype=np.int64)
    ptrs = np.zeros(batch, dtype=np.int64)
    emitted = np.zeros(batch, dtype=np.int64)  # sublabels on current word
    states = None

    max_steps = int(counts.max() if batch else 0) * (max_labels_per_token + 1)
    for _ in range(max_steps):
        active = ptrs < counts
        if not active.any():
            break
        logits, states = step_fn(prev, np.minimum(ptrs, counts - 1), states)
        nxt = np.argmax(logits, axis=1).astype(np.int64)
        # force EOW once a word has max_labels_per_token sublabels
        # (reference nametag3_model.py:224)
        nxt = np.where(emitted >= max_labels_per_token, EOW, nxt)
        for b in np.nonzero(active)[0]:
            if nxt[b] == EOW:
                ptrs[b] += 1
                emitted[b] = 0
            else:
                out[b][ptrs[b]].append(int(nxt[b]))
                emitted[b] += 1
        prev = np.where(active, nxt, prev)
    return out


def sublabels_to_stacks(
    word_sublabels: list[list[int]], id2sublabel: list[str]
) -> list[str]:
    """Per word: sublabel ids → '|'-joined stacked label string, control
    labels dropped (P9, nametag3_model.py:908-910); empty → 'O'."""
    control = set(range(len(CONTROL_LABELS)))
    stacks = []
    for subs in word_sublabels:
        labs = [id2sublabel[i] for i in subs if i not in control]
        stacks.append("|".join(labs) if labs else "O")
    return stacks


SEQ2SEQ_MENTION_SCHEMA = (
    "conv_id string, turn_idx int, label string, start_tok int, "
    "end_tok int, surface string"
)


def seq2seq_roundtrip_mentions(labeled, sublabels: list[str]):
    """Distributed drive of the full seq2seq path (T5 linearization →
    W7 autoregressive loop → P9 control filter → W5 span decode), teacher-
    forced: per turn, the gold stacked labels linearize into the sublabel
    script (nametag3_dataset.py:517-526) and a scripted ``step_fn`` plays
    the model; the decoded mentions must equal the per-turn path's exactly
    (asserted by pytest and by row-count parity with ``pipeline_mentions``
    in the driver ledger). Swapping the scripted step_fn for an LSTM cell
    is the only change the production head needs.

    ``labeled``: output of ``annotate_turns`` (tokens + stacked labels).
    ``sublabels``: full sublabel vocabulary (driver-collected, tiny).
    """
    from typing import Iterator

    import pandas as pd
    from pyspark.sql import DataFrame  # noqa: F401

    from nametag3_spark.functions.labels import LabelVocab
    from nametag3_spark.operators.decode import decode_spans

    vocab = LabelVocab(sublabels).freeze()
    n_vocab = len(vocab.id2label)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            scripts: list[list[int]] = []
            word_counts: list[int] = []
            for labels in pdf["labels"]:
                script: list[int] = []
                for stack in labels:
                    if stack != "O":
                        for sub in stack.split("|"):
                            script.append(vocab.get(sub))
                    script.append(EOW)
                scripts.append(script)
                word_counts.append(len(labels))

            pos = [0] * len(scripts)

            def step(prev, ptrs, states):
                logits = np.full((len(scripts), n_vocab), -1e9, dtype=np.float32)
                for b in range(len(scripts)):
                    want = scripts[b][pos[b]] if pos[b] < len(scripts[b]) else EOW
                    logits[b, want] = 0.0
                    pos[b] += 1
                return logits, states

            decoded = decode_autoregressive(step, word_counts)
            rows = {k: [] for k in
                    ("conv_id", "turn_idx", "label", "start_tok", "end_tok", "surface")}
            for conv_id, turn_idx, tokens, word_subs in zip(
                pdf["conv_id"], pdf["turn_idx"], pdf["tokens"], decoded
            ):
                stacks = sublabels_to_stacks(word_subs, vocab.id2label)
                toks = list(tokens)
                for typ, s, e in decode_spans(stacks):
                    rows["conv_id"].append(conv_id)
                    rows["turn_idx"].append(int(turn_idx))
                    rows["label"].append(typ)
                    rows["start_tok"].append(s)
                    rows["end_tok"].append(e)
                    rows["surface"].append(" ".join(toks[s : e + 1]))
            yield pd.DataFrame(rows)

    return labeled.select("conv_id", "turn_idx", "tokens", "labels").mapInPandas(
        fn, schema=SEQ2SEQ_MENTION_SCHEMA
    )
