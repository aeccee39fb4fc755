"""Tokenize + score stage: transcripts → per-token nested label stacks.

This is the reference's predict path (nametag3.py:263-269 →
nametag3_model.py:963-1042) re-expressed as ONE inference core:

* a scorer is anything with ``label_batch(tokens) -> stacked labels``
  (the ``Scorer`` protocol); ``_get_scorer`` is the only registry and
  model cache, keyed ``"oracle"``, ``"hf:<checkpoint_dir>"`` or
  ``"np:<checkpoint.npz>"``;
* one per-turn ``mapInArrow`` pass, ``annotate_turns`` (tokenize → one
  ``label_batch`` call per Arrow batch → decode), emits labeled turns
  with tokens, labels and spans; ``triples.extract_mentions`` explodes
  them into mention rows JVM-side (``extract_mentions_flat`` is that
  composition);
* ``score_windows`` is the model-scorer route over packed subword
  windows, behind the same protocol.

The scorers:

* ``OracleGazetteerScorer`` — deterministic longest-match tagger over the
  synth gazetteer, emitting CNEC-style stacked nested labels. Used for
  tests/benchmarks (no trained checkpoint ships in this sandbox); it makes
  the *dataflow* verifiable: given identical per-token labels, everything
  downstream (decode → spans → triples → linking → canonical SPO) must
  match the reference bit-for-bit.
* ``HFTransformerScorer`` — the production path faithful to the reference
  model (XLM-R encoder + flat-BIO softmax / seq2seq nested head,
  nametag3_model.py:786-799,940-954). Gated behind an import-try because
  torch/transformers are not in this container; the Spark-side plumbing
  (worker-singleton model per reused Python worker — the reference's
  checkpoint-sharing pattern, nametag3_server.py:437-444 — dynamic padding,
  tagset masks) is laid out and unit-tested with a fake encoder.
* ``np_model.NpFlatNER`` — a checkpointed NumPy flat-softmax model, the
  torch-free real-tensor scorer.

Scorers receive TRUECASED, NFC-normalized tokens — the same preprocessing
the reference applies before its tokenizer (nametag3_dataset.py:355-366).
"""

from __future__ import annotations

from typing import Callable, Iterator, Protocol

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame

from nametag3_spark.data.synth import GAZETTEER
from nametag3_spark.functions.text import prep_tokens
from nametag3_spark.operators.decode import decode_spans
from nametag3_spark.operators.triples import extract_mentions

LABELED_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp, tokens array<string>, labels array<string>, "
    "spans array<struct<label string, start_tok int, end_tok int>>"
)
TURN_COLUMNS = ("conv_id", "turn_idx", "role", "text", "tool", "ts")
SPAN_FIELDS = ["label", "start_tok", "end_tok"]


class Scorer(Protocol):
    def label_batch(self, tokens: list[list[str]]) -> list[list[str]]:
        """Per sentence: truecased tokens → '|'-stacked label strings."""
        ...


class OracleGazetteerScorer:
    """Deterministic greedy longest-match tagger with nested spans.

    Matches both the original alias surface and its truecased-ALL-CAPS
    variant (e.g. ``BANK OF NEW YORK`` truecases to ``Bank Of New York``,
    not ``Bank of New York`` — the scorer must recognize both).
    """

    def __init__(self) -> None:
        # first_token → [(alias_tokens, outer_type, nested)] longest-first
        self._by_first: dict[str, list[tuple[tuple[str, ...], str, tuple | None]]] = {}
        for _eid, etype, aliases in GAZETTEER:
            for toks, nested in aliases:
                variants = {tuple(toks), tuple(t.lower().title() for t in toks)}
                for var in variants:
                    self._by_first.setdefault(var[0], []).append(
                        (var, etype, nested)
                    )
        for key in self._by_first:
            self._by_first[key].sort(key=lambda e: -len(e[0]))

    def _label_sentence(self, tokens: list[str]) -> list[str]:
        stacks: list[list[str]] = [[] for _ in tokens]
        i = 0
        n = len(tokens)
        while i < n:
            matched = False
            for alias, etype, nested in self._by_first.get(tokens[i], ()):  # longest first
                k = len(alias)
                if i + k <= n and tuple(tokens[i : i + k]) == alias:
                    for p in range(k):
                        stacks[i + p].append(("B-" if p == 0 else "I-") + etype)
                    if nested is not None:
                        noff, nlen, ntype, _neid = nested
                        for p in range(nlen):
                            stacks[i + noff + p].append(
                                ("B-" if p == 0 else "I-") + ntype
                            )
                    i += k
                    matched = True
                    break
            if not matched:
                i += 1
        return ["|".join(s) if s else "O" for s in stacks]

    def label_batch(self, tokens: list[list[str]]) -> list[list[str]]:
        return [self._label_sentence(sent) for sent in tokens]


class HFTransformerScorer:
    """XLM-R flat-softmax scorer (production path): HF tokenizer offsets →
    padded batch → forward → argmax at each word's FIRST subword.

    Reference contract: forward + head (nametag3_model.py:786-799), the
    first-subword/word_ids gather (nametag3_model.py:940-954), and the
    one-tag-per-token batch protocol (nametag3_model.py:963-1042).

    Requires torch + transformers. They are absent in this container, so
    CI drives this exact body with faked modules
    (tests/test_hf_adapter.py) — the fakes implement the same tokenizer/
    model surface (``word_ids``, ``logits.detach().cpu().numpy()``), so a
    real checkpoint needs no code change here.
    """

    def __init__(self, checkpoint_dir: str) -> None:
        try:
            import torch
            import transformers
        except ImportError as exc:
            raise NotImplementedError(
                "HFTransformerScorer needs torch+transformers (not in this "
                "container). Use OracleGazetteerScorer for the verifiable "
                "dataflow; the packing/inference plumbing is in encode.py."
            ) from exc
        self.torch = torch
        self.checkpoint_dir = checkpoint_dir
        self.tokenizer = transformers.AutoTokenizer.from_pretrained(checkpoint_dir)
        self.model = transformers.AutoModelForTokenClassification.from_pretrained(
            checkpoint_dir
        )
        self.model.eval()
        self.id2label = dict(self.model.config.id2label)

    def encode_words(self, sentences: list[list[str]]):
        """Pre-split words → (encoding, first_subword_positions): the
        HF-offsets adapter. ``first[i][w]`` is the padded-sequence index
        of word w's first subword in row i (word_ids carries the map;
        continuation subwords and specials/pads are skipped)."""
        enc = self.tokenizer(
            sentences,
            is_split_into_words=True,
            padding=True,
            truncation=True,
            return_tensors="pt",
        )
        first: list[list[int]] = []
        for i in range(len(sentences)):
            seen: set[int] = set()
            firsts: list[int] = []
            for pos, wid in enumerate(enc.word_ids(i)):
                if wid is not None and wid not in seen:
                    seen.add(wid)
                    firsts.append(pos)
            first.append(firsts)
        return enc, first

    def label_batch(self, tokens: list[list[str]]) -> list[list[str]]:
        nonempty = [t for t in tokens if t]
        if not nonempty:
            return [[] for _ in tokens]
        enc, first = self.encode_words(nonempty)
        with self.torch.no_grad():
            logits = self.model(**enc).logits
        logits = logits.detach().cpu().numpy()
        rows = iter(range(len(nonempty)))
        out: list[list[str]] = []
        for t in tokens:
            if not t:
                out.append([])
                continue
            i = next(rows)
            picks = logits[i][first[i]].argmax(axis=-1)
            labs = [self.id2label[int(p)] for p in picks]
            # truncation can only drop TAIL words (the packer keeps
            # windows under the model budget, so this is defensive)
            labs += ["O"] * (len(t) - len(labs))
            out.append(labs)
        return out


# The scorer registry and cache: one instance per key per reused Python
# worker (reference: models with the same path share one loaded instance,
# nametag3_server.py:437-444)
_SCORER_CACHE: dict[str, Scorer] = {}


def scorer_loader(name: str) -> Callable[[], Scorer]:
    """Scorer key → zero-argument loader. Resolving a key loads nothing,
    so every DataFrame builder calls this on the driver and a bad key
    raises ``ValueError`` there, not later inside a Python worker."""
    kind, _, arg = name.partition(":")
    if name == "oracle":
        return OracleGazetteerScorer
    if kind == "hf" and arg:
        # "hf:<checkpoint_dir>" — the production transformer path
        return lambda: HFTransformerScorer(arg)
    if kind == "np" and arg:
        # "np:<checkpoint.npz>" — the torch-free NumPy model (np_model.py)
        from nametag3_spark.operators.np_model import NpFlatNER

        return lambda: NpFlatNER.load(arg)
    raise ValueError(
        f"unknown scorer {name!r}: expected 'oracle', 'hf:<checkpoint_dir>' "
        "or 'np:<checkpoint.npz>'"
    )


def _get_scorer(name: str) -> Scorer:
    if name not in _SCORER_CACHE:
        _SCORER_CACHE[name] = scorer_loader(name)()
    return _SCORER_CACHE[name]


def _labeled_batches(scorer_name: str):
    """The per-turn inference kernel behind ``annotate_turns``, one Arrow
    pass: tokenizes each batch's ``text`` column (S4 tokenization + P3
    NFC/truncate + P4 truecase), scores every turn with ONE
    ``label_batch`` call (a model scorer pays its per-call cost once per
    batch, not per turn) and decodes each turn's stacks in the same pass
    (a second Python stage would cost a second Arrow round-trip). The
    carried columns pass through untouched, tokens and labels become
    list arrays, and the decoded spans a list-of-struct array."""

    def fn(batches):
        scorer = _get_scorer(scorer_name)
        for batch in batches:
            if batch.num_rows == 0:
                continue
            tokens = [
                prep_tokens(t) if isinstance(t, str) and t else []
                for t in batch.column("text").to_pylist()
            ]
            stacks = scorer.label_batch(tokens)
            offsets = [0]
            labels: list[str] = []
            starts: list[int] = []
            ends: list[int] = []
            for turn_stacks in stacks:
                for typ, s, e in decode_spans(turn_stacks):
                    labels.append(typ)
                    starts.append(s)
                    ends.append(e)
                offsets.append(len(labels))
            spans = pa.ListArray.from_arrays(
                pa.array(offsets, type=pa.int32()),
                pa.StructArray.from_arrays(
                    [
                        pa.array(labels, type=pa.string()),
                        pa.array(starts, type=pa.int32()),
                        pa.array(ends, type=pa.int32()),
                    ],
                    names=SPAN_FIELDS,
                ),
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(c) for c in TURN_COLUMNS]
                + [
                    pa.array(tokens, type=pa.list_(pa.string())),
                    pa.array(stacks, type=pa.list_(pa.string())),
                    spans,
                ],
                names=[*TURN_COLUMNS, "tokens", "labels", "spans"],
            )

    return fn


def annotate_turns(transcripts: DataFrame, scorer: str = "oracle") -> DataFrame:
    """transcripts → + tokens:array<string> + labels:array<string> (stacked)
    + spans (decoded in the same Python pass)."""
    scorer_loader(scorer)
    return transcripts.mapInArrow(_labeled_batches(scorer), schema=LABELED_SCHEMA)


def extract_mentions_flat(
    transcripts: DataFrame, scorer: str = "oracle"
) -> DataFrame:
    """transcripts → one row per mention: ``annotate_turns`` followed by
    ``triples.extract_mentions``, the same mention rows the pipeline's
    ``mentions`` stage holds."""
    return extract_mentions(annotate_turns(transcripts, scorer=scorer))


# --------------------------------------------------------------------------
# Windowed inference path (T1/T3/T4/T6 + J1): score PACKED windows, realign
# per-word labels back to turns via the carried (turn_idx, token_idx) keys.
# This is the production shape for a transformer scorer — the model sees
# ≤max_len subword windows, not turns — and must produce exactly the same
# mentions as the per-turn path (reference packing nametag3_dataset.py:
# 273-306 + realignment nametag3_model.py:963-1042, re-expressed as a
# relational key join instead of an index walk).
# --------------------------------------------------------------------------

WINDOW_TOKEN_SCHEMA = (
    "conv_id string, turn_idx int, token_idx int, word string, label string"
)


def score_windows(windows: DataFrame, scorer: str = "oracle") -> DataFrame:
    """Packed windows → per-token labels keyed by (conv_id, turn_idx,
    token_idx).

    Windows pack WHOLE turns (continuations only for oversized turns), so
    labeling runs per turn-segment inside each window — the per-window
    batch is what a transformer forward pass would consume (input_ids are
    in the window; the oracle scorer consumes the carried word strings).

    Continuation merging: a turn longer than the window budget splits
    into continuation windows; scoring those segments INDEPENDENTLY would
    let a context-sensitive scorer tag a boundary-spanning entity
    inconsistently across the split. So the trailing segment of each
    window is held PENDING and merged with the next window's leading
    segment when it continues the same (conv_id, turn_idx) — ``label_
    batch`` then sees the whole turn, and window-path output equals the
    per-turn path even past the window budget (pytest-locked with an
    oversized turn). Memory stays O(one turn): only the open tail is
    buffered, never a partition.

    ``scorer`` is any registry key; ``"np:<checkpoint.npz>"`` runs the
    NumPy model (one padded forward per turn segment, labels gathered at
    each word's first subword).

    Precondition: windows of one conversation are CONTIGUOUS and ordered
    within their partition — true by construction for
    ``pack_conversations`` output (``groupBy(conv_id).applyInPandas``
    emits each group's windows consecutively, in window_idx order, and
    ``mapInPandas`` streams partition rows in order). Under an arbitrary
    re-shuffle the merge degrades gracefully to independent segment
    scoring (the pre-round-4 behavior).
    """
    scorer_loader(scorer)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sc = _get_scorer(scorer)
        # open tail of the previous window: may continue in the next one
        pend_conv: str | None = None
        pend_turn: int = -1
        pend_words: list[str] = []
        pend_toks: list[int] = []

        def make_frame(out):
            return pd.DataFrame(
                {
                    "conv_id": out[0],
                    "turn_idx": out[1],
                    "token_idx": out[2],
                    "word": out[3],
                    "label": out[4],
                }
            )

        def flush(out) -> None:
            nonlocal pend_conv, pend_words, pend_toks
            if pend_conv is None:
                return
            labels = sc.label_batch([pend_words])[0]
            for w, tok, lab in zip(pend_words, pend_toks, labels):
                out[0].append(pend_conv)
                out[1].append(pend_turn)
                out[2].append(tok)
                out[3].append(w)
                out[4].append(lab)
            pend_conv, pend_words, pend_toks = None, [], []

        for pdf in batches:
            if len(pdf) == 0:
                continue
            out: tuple[list, list, list, list, list] = ([], [], [], [], [])
            for conv_id, word_keys, words in zip(
                pdf["conv_id"], pdf["word_keys"], pdf["words"]
            ):
                # consecutive same-turn runs = turn segments
                seg_start = 0
                nkeys = len(word_keys)
                for i in range(1, nkeys + 1):
                    if (
                        i < nkeys
                        and word_keys[i]["turn_idx"]
                        == word_keys[seg_start]["turn_idx"]
                    ):
                        continue
                    turn_idx = int(word_keys[seg_start]["turn_idx"])
                    seg_words = list(words[seg_start:i])
                    seg_toks = [
                        int(word_keys[p]["token_idx"])
                        for p in range(seg_start, i)
                    ]
                    if pend_conv == conv_id and pend_turn == turn_idx:
                        pend_words.extend(seg_words)
                        pend_toks.extend(seg_toks)
                    else:
                        flush(out)
                        pend_conv, pend_turn = conv_id, turn_idx
                        pend_words, pend_toks = seg_words, seg_toks
                    # a turn followed by another segment in the SAME
                    # window is closed — only the window's tail can
                    # continue into the next window
                    if i < nkeys:
                        flush(out)
                    seg_start = i
            if out[0]:
                yield make_frame(out)
        out = ([], [], [], [], [])
        flush(out)
        if out[0]:
            yield make_frame(out)

    return windows.mapInPandas(fn, schema=WINDOW_TOKEN_SCHEMA)


WINDOW_MENTION_SCHEMA = (
    "conv_id string, turn_idx int, label string, start_tok int, "
    "end_tok int, surface string"
)


def mentions_from_window_tokens(token_labels: DataFrame) -> DataFrame:
    """Realign (J1): per-token window labels → per-turn decoded mentions.

    The shuffle key is (conv_id, turn_idx); in-group order comes from the
    carried token_idx — stable regardless of window/partition order. It
    emits the mention rows the per-turn ``annotate_turns`` path emits
    (tested): the window path's equivalence proof.
    """

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("token_idx")
        tokens = pdf["word"].tolist()
        labels = pdf["label"].tolist()
        conv_id = pdf["conv_id"].iloc[0]
        turn_idx = int(pdf["turn_idx"].iloc[0])
        rows = []
        for typ, s, e in decode_spans(labels):
            rows.append(
                {
                    "conv_id": conv_id,
                    "turn_idx": turn_idx,
                    "label": typ,
                    "start_tok": s,
                    "end_tok": e,
                    "surface": " ".join(tokens[s : e + 1]),
                }
            )
        return pd.DataFrame(
            rows,
            columns=[
                "conv_id", "turn_idx", "label", "start_tok", "end_tok", "surface",
            ],
        )

    return token_labels.groupBy("conv_id", "turn_idx").applyInPandas(
        fn, schema=WINDOW_MENTION_SCHEMA
    )
