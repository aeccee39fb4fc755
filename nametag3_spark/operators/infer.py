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
  composition). Every scorer, model or oracle, runs through this one
  pass; the subword windows of ``encode.py`` are built downstream of it
  and map back to turns by their carried keys (``encode.unpack_windows``).

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

from typing import Callable, Protocol

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
                "dataflow; the 'np:<checkpoint.npz>' scorer runs real tensors."
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
            # annotate_turns and serving hand over WHOLE turns/sentences,
            # so a turn past the model's max length loses its tail words
            # to truncation; they are labeled O
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
