"""Real-tensor inference without torch: a NumPy flat-softmax NER model
behind the ``Scorer`` protocol.

The reference's production scorer is an XLM-R encoder with a flat-BIO
softmax head (nametag3_model.py:786-799); torch/transformers are absent
in this container, so that exact encoder stays behind
``HFTransformerScorer``'s import gate. What CAN be closed here — and is —
is everything AROUND the matmuls, with actual tensors flowing:

* **S5 model/checkpoint source**: weights serialize to a single ``.npz``
  checkpoint; the scorer key ``"np:<checkpoint.npz>"`` loads it lazily
  in each worker (exactly how a torch ``state_dict`` would ship), and
  ``infer._get_scorer`` keeps ONE instance per reused Python worker (J5,
  the reference's shared-checkpoint pattern, nametag3_server.py:437-444).
* **T6 dynamic padding**: ``label_batch`` pads its sentences to the batch
  max with BATCH_PAD=-1, masked inside ``forward``.
* **J1 realignment**: per-word labels come from the logits at each
  word's FIRST subword — the ``HFTransformerScorer`` contract — driven
  by a real ``(batch, seq, n_labels)`` logits tensor; the scorer key
  runs through ``infer.annotate_turns``' per-turn Arrow pass like every
  other scorer, so the labels land on their turn's tokens in order.

Swapping ``NpFlatNER.forward`` for an XLM-R forward is the ONLY change
production needs; every Spark-side contract is exercised by this model.
"""

from __future__ import annotations

import numpy as np

from nametag3_spark.operators.encode import (
    BATCH_PAD,
    CLS_ID,
    SEP_ID,
    ChunkSubwordTokenizer,
    pad_batch,
)

HASH_DIM = 4096  # hashing-trick embedding rows: row = subword_id % HASH_DIM
EMB_DIM = 32
HIDDEN_DIM = 64

DEFAULT_LABELS = ["O", "B-PER", "I-PER", "B-ORG", "I-ORG", "B-LOC", "I-LOC"]


class NpFlatNER:
    """Embedding (hashing trick) → ReLU MLP → per-subword label logits."""

    def __init__(
        self,
        emb: np.ndarray,
        w1: np.ndarray,
        b1: np.ndarray,
        w2: np.ndarray,
        b2: np.ndarray,
        labels: list[str],
    ) -> None:
        self.emb, self.w1, self.b1, self.w2, self.b2 = emb, w1, b1, w2, b2
        self.labels = list(labels)

    @classmethod
    def init_random(
        cls, labels: list[str] | None = None, seed: int = 42
    ) -> "NpFlatNER":
        labels = labels or DEFAULT_LABELS
        rng = np.random.Generator(np.random.PCG64(seed))
        return cls(
            emb=rng.standard_normal((HASH_DIM, EMB_DIM)).astype(np.float32) * 0.1,
            w1=rng.standard_normal((EMB_DIM, HIDDEN_DIM)).astype(np.float32) * 0.1,
            b1=np.zeros(HIDDEN_DIM, dtype=np.float32),
            w2=rng.standard_normal((HIDDEN_DIM, len(labels))).astype(np.float32) * 0.1,
            b2=np.zeros(len(labels), dtype=np.float32),
            labels=labels,
        )

    def save(self, path: str) -> None:
        """One-file checkpoint (the .npz analogue of the reference's
        checkpoint.weights.h5, nametag3_model.py load path)."""
        np.savez(
            path,
            emb=self.emb, w1=self.w1, b1=self.b1, w2=self.w2, b2=self.b2,
            labels=np.array(self.labels, dtype=object),
        )

    @classmethod
    def load(cls, path: str) -> "NpFlatNER":
        with np.load(path, allow_pickle=True) as z:
            return cls(
                emb=z["emb"], w1=z["w1"], b1=z["b1"], w2=z["w2"], b2=z["b2"],
                labels=[str(x) for x in z["labels"]],
            )

    def forward(self, padded_ids: np.ndarray) -> np.ndarray:
        """(batch, seq) int64 with BATCH_PAD → (batch, seq, n_labels)
        float32 logits. Pad positions get all-zero logits (masked)."""
        mask = padded_ids != BATCH_PAD
        ids = np.where(mask, padded_ids, 0) % HASH_DIM
        h = self.emb[ids]  # (B, L, E)
        h = np.maximum(h @ self.w1 + self.b1, 0.0)  # (B, L, H)
        logits = h @ self.w2 + self.b2  # (B, L, C)
        return np.where(mask[..., None], logits, 0.0).astype(np.float32)

    def label_batch(self, tokens: list[list[str]]) -> list[list[str]]:
        """The ``Scorer`` contract, as ``HFTransformerScorer`` meets it:
        each sentence framed as [CLS] + subwords + [SEP], one padded
        forward pass per batch, argmax at each word's FIRST subword."""
        tokenizer = ChunkSubwordTokenizer()
        seqs: list[list[int]] = []
        firsts: list[list[int]] = []
        for words in tokens:
            ids, first = [CLS_ID], []
            for subs in tokenizer.encode_words(words):
                first.append(len(ids))
                ids.extend(subs)
            ids.append(SEP_ID)
            seqs.append(ids)
            firsts.append(first)
        logits = self.forward(pad_batch(seqs))
        return [
            [self.labels[int(p)] for p in logits[i, first].argmax(axis=1)]
            for i, first in enumerate(firsts)
        ]
